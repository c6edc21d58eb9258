package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The same seed gives the same inputs, and each
  * generator returns the truth the output checks compare against. */
object Gen {

  // ---- telemetry CSV (the reference's machine_data_cleaned.csv profile) --

  val CsvHeader = "MachineID,Type,Location,Timestamp,EngineTemperature," +
    "FuelConsumption,VibrationLevel,Humidity,Pressure,PowerOutput," +
    "OperatingHours,Status,Status_encoded,Timestamp_epoch,hour,dayofweek,month"
  private val Types = Array("Loader", "Truck", "Excavator", "Generator")
  private val Sites = Array("Site A", "Site B", "Site D")
  private val Statuses = Array("Active", "Fault", "Idle", "Maintenance")
  /** 2025-09-01 00:00 UTC, a Monday. */
  val StartEpoch = 1756684800L

  /** What an accessor should return for one machine: its latest row
    * (after the ingest's imputation), the latest in-bounds humidity, and
    * whether any of its rows is a Fault. */
  final case class MachineTruth(id: String, lastEpoch: Long, count: Long,
      latest: Map[String, Double], latestHumidityInBounds: Option[Double],
      hasFault: Boolean)

  final case class TelemetryTruth(rows: Long, hours: Int,
      machines: IndexedSeq[MachineTruth])

  private def f2(v: Double) = "%.2f".format(v).toDouble

  /** Hourly rows for `machines` machines over `hours` hours. About 1 row
    * in 500 leaves one imputed column empty and about 1 in 100 has
    * humidity above 100. */
  def telemetryCsv(path: String, seed: Long, machines: Int,
      hours: Int): TelemetryTruth = {
    val rnd = new Random(seed)
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path), 1 << 20)
    w.write(CsvHeader + "\n")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("M/d/yyyy H:mm")
    val truths = (1 to machines).map { m =>
      val id = f"M$m%04d"
      val typ = Types(rnd.nextInt(Types.length))
      val site = Sites(rnd.nextInt(Sites.length))
      var latest = Map.empty[String, Double]
      var humIn: Option[Double] = None
      var fault = false
      (0 until hours).foreach { h =>
        val epoch = StartEpoch + 3600L * h
        val t = java.time.LocalDateTime.ofEpochSecond(epoch, 0,
          java.time.ZoneOffset.UTC)
        val vals = Array(
          f2(80.3 + 8.0 * rnd.nextGaussian()),
          f2(14.2 + 3.6 * rnd.nextGaussian()),
          f2(math.abs(3.86 + 1.2 * rnd.nextGaussian())),
          f2(if (rnd.nextInt(100) == 0) 100.5 + 2.0 * rnd.nextDouble()
             else math.min(99.9, math.abs(53.0 + 14.0 * rnd.nextGaussian()))),
          f2(1000.3 + 55.0 * rnd.nextGaussian()),
          f2(math.abs(124.0 + 46.0 * rnd.nextGaussian())))
        val st = rnd.nextInt(Statuses.length)
        // one imputed column left empty in ~1 row in 500
        val blank = if (rnd.nextInt(500) == 0) rnd.nextInt(vals.length) else -1
        val imputed = Array(75.0, 10.0, 3.0, 65.0, 950.0, 200.0)
        val eff = vals.indices.map(i => if (i == blank) imputed(i) else vals(i))
        val cells = vals.indices.map(i => if (i == blank) "" else vals(i).toString)
        w.write(s"$id,$typ,$site,${t.format(fmt)},${cells.mkString(",")}," +
          s"${h + 1},${Statuses(st)},$st,$epoch,${t.getHour}," +
          s"${t.getDayOfWeek.getValue - 1},${t.getMonthValue}\n")
        latest = Map("enginetemperature" -> eff(0), "fuelconsumption" -> eff(1),
          "vibrationlevel" -> eff(2), "humidity" -> eff(3))
        if (eff(3) > 0.0 && eff(3) <= 100.0) humIn = Some(eff(3))
        fault ||= st == 1
      }
      MachineTruth(id, StartEpoch + 3600L * (hours - 1), hours, latest,
        humIn, fault)
    }
    w.close()
    TelemetryTruth(machines.toLong * hours, hours, truths)
  }

  // ---- document corpus with planted duplicates -------------------------

  /** Generated docs `(doc_id, text, n_chars)` and their truth: `distinct`
    * docs survive exact dedup; the `exactDupIds` and `nearDupIds` copies
    * are what exact and near-dup removal should drop (each copy has a
    * higher id than the doc it copies, so the min-id keeper is the
    * original); `baseIds` are copies of nothing. */
  final case class Corpus(rows: IndexedSeq[(Long, String, Long)], distinct: Long,
      exactDupIds: Set[Long], nearDupIds: Set[Long], baseIds: IndexedSeq[Long],
      vocab: IndexedSeq[String]) {
    def raw: Long = rows.size.toLong
    def frame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.toDF("doc_id", "text", "n_chars")
    }
  }

  /** `n` docs of 60–100 words from a 4k-word vocabulary, ids from `idBase`.
    * `exactRate` of them are exact copies (case changed) of another doc
    * and `nearRate` are copies with one word replaced. */
  def corpus(seed: Long, n: Int, exactRate: Double, nearRate: Double,
      idBase: Long = 0L): Corpus = {
    val rnd = new Random(seed)
    val vocab = IndexedSeq.tabulate(4000)(i =>
      Iterator.continually(rnd.nextPrintableChar()).filter(_.isLetter)
        .take(3 + rnd.nextInt(6)).mkString.toLowerCase + i)
    def words() = Array.fill(60 + rnd.nextInt(41))(vocab(rnd.nextInt(vocab.length)))
    val nExact = (n * exactRate).toInt
    val nNear = (n * nearRate).toInt
    val nBase = n - nExact - nNear
    val base = Array.fill(nBase)(words())
    val near = Array.fill(nNear) {
      val ws = base(rnd.nextInt(nBase)).clone()
      ws(rnd.nextInt(ws.length)) = "edit" + rnd.nextInt(1000000)
      ws
    }
    val exact = Array.fill(nExact)(base(rnd.nextInt(nBase)).map(_.toUpperCase))
    val texts = (base ++ near ++ exact).map(_.mkString(" "))
    val rows = texts.toIndexedSeq.zipWithIndex.map { case (t, i) =>
      (idBase + i, t, t.length.toLong) }
    def ids(from: Int, count: Int) = (idBase + from until idBase + from + count)
    Corpus(rows, (nBase + nNear).toLong, ids(nBase + nNear, nExact).toSet,
      ids(nBase, nNear).toSet, ids(0, nBase), vocab)
  }

  // ---- clustered embeddings ---------------------------------------------

  /** Groups of 11 vectors of `dim` floats: each group sits tight around
    * its own point, and groups sit around `clusters` Gaussian centres. A
    * vector's 10 exact nearest neighbours are its group mates, so
    * recall@10 measures the index, not ties. `label` is the centre, used
    * as the IVF list. Rows are `(vec_id, embedding, label)`. */
  def embeddings(seed: Long, groups: Int, dim: Int,
      clusters: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val rnd = new Random(seed)
    val centres = Array.fill(clusters, dim)(rnd.nextGaussian().toFloat)
    (0 until groups).flatMap { g =>
      val c = rnd.nextInt(clusters)
      val at = Array.tabulate(dim)(d => centres(c)(d) + 0.5f * rnd.nextGaussian().toFloat)
      (0 until 11).map { i =>
        (g * 11L + i, Array.tabulate(dim)(d => at(d) + 0.05f * rnd.nextGaussian().toFloat), c)
      }
    }
  }

  /** Exact cosine top-`k` neighbours (self excluded, ties by id) of each
    * query id: the truth for recall@k, computed without the engine. */
  def exactTopK(rows: IndexedSeq[(Long, Array[Float], Int)], queries: Seq[Long],
      k: Int): Map[Long, Set[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val norms = rows.map(r => norm(r._2))
    val byId = rows.indices.map(i => rows(i)._1 -> i).toMap
    queries.map { q =>
      val qi = byId(q)
      val qv = rows(qi)._2
      q -> rows.indices.filter(_ != qi).map { i =>
        var dot = 0.0
        var d = 0
        while (d < qv.length) { dot += qv(d).toDouble * rows(i)._2(d); d += 1 }
        (-(dot / (norms(qi) * norms(i))), rows(i)._1)
      }.sorted.take(k).map(_._2).toSet
    }.toMap
  }
}
