package perfbench

import scala.util.Random

import graft.ml.{IsolationForest, Scaler}
import graft.telemetry.{Ingest, TelemetryQueries, TelemetrySchema, Warehouse}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's own system: the `@daily` DAG ingests the day's CSV into the
  * warehouse, fits and scores the anomaly model, then operators send a
  * closed loop of requests (one client, the next request after the last
  * reply). Each request is one of the query accessors with seeded
  * arguments plus a 1-row query-log append; every fifth request also
  * appends a prediction. Ingest and scoring are per-row work; the
  * accessors and 1-row appends are bound by the per-action floor. */
final class TelemetryDaily(spark: SparkSession, rec: Recorder, seed: Long,
    scale: String) extends Workload {
  private val (machines, hours) = if (scale == "smoke") (8, 120) else (100, 1440)
  private val feats = TelemetrySchema.featureOrder
  private val tr = rec.tracer
  private var csv, warmCsv = ""
  private var truth, warmTruth: Gen.TelemetryTruth = _
  private var wh: Warehouse = _
  private var dir = ""
  private val rnd = new Random(seed ^ 0x5eed)
  private var requestNo = 0
  // appends into the current warehouse, for its row-count check
  private var logged, predicted = 0

  def sizes: Seq[(String, Long)] =
    Seq("machines" -> machines.toLong, "hours" -> hours.toLong,
      "rows" -> machines.toLong * hours, "requests_per_pass" -> Kinds.toLong)

  def generate(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    csv = s"$dir/telemetry.csv"
    warmCsv = s"$dir/telemetry_warm.csv"
    truth = Gen.telemetryCsv(csv, seed, machines, hours)
    warmTruth = Gen.telemetryCsv(warmCsv, seed + 1, 4, 48)
  }

  /** A small day on the first standing warehouse: ingest, fit, score and
    * one request of each accessor family, one of them with a prediction. */
  def warmup(dir: String): Unit =
    day(warmCsv, warmTruth, 0, kinds = Seq(0, 2, 3, 8, 12))

  def standing(d: String): Unit = {
    dir = d
    wh = new Warehouse(spark, s"$dir/warehouse")
    wh.init()
    logged = 0
    predicted = 0
  }

  /** One day: every accessor kind once, in a seeded order. */
  def pass(n: Int): Unit = day(csv, truth, n, rnd.shuffle((0 until Kinds).toList))

  private def day(path: String, t: Gen.TelemetryTruth, n: Int,
      kinds: Seq[Int]): Unit = {
    rec.bulkOp("telemetry.ingest", s"day$n", t.rows) {
      wh.insertTelemetry(Ingest.ingestCsv(spark, path))
    }(_ => wh.table("telemetry").count() == t.rows)
    val telemetry = wh.table("telemetry")
    var model: IsolationForest.Model = null
    rec.bulkOp("ml.fit", s"day$n", t.rows) {
      val stats = Scaler.fit(
        telemetry.select(feats.map(c => col(c).cast("double")): _*), feats)
      model = IsolationForest.fit(telemetry, feats, nTrees = 100, seed = seed)
      Scaler.transformVector(smokeVector, feats.map(stats))
    }(scaled => scaled.forall(v => !v.isNaN && !v.isInfinite))
    rec.bulkOp("ml.score", s"day$n", t.rows) {
      IsolationForest.scoreAll(spark, telemetry, feats, model)
        .agg(count(lit(1)), min("anomaly_score"), max("anomaly_score")).head()
    }(r => r.getLong(0) == t.rows && r.getDouble(1) > 0.0 && r.getDouble(2) <= 1.0)
    val q = new TelemetryQueries(telemetry)
    kinds.foreach(request(q, t, _))
  }

  /** The reference's scaler smoke input (dags/db_pipeline_dag.py). */
  private val smokeVector: Seq[Double] = feats.map {
    case "fuelconsumption" => 10.5
    case "vibrationlevel" => 4.0
    case "humidity" => 68.0
    case "pressure" => 1000.0
    case "poweroutput" => 185.0
    case "operatinghours" => 120.0
    case "timestamp_epoch" => 1.7566848e9
    case "hour" => 12.0
    case "dayofweek" => 2.0
    case "month" => 9.0
  }

  /** Accessor kinds a request draws from (see `request`). */
  private val Kinds = 16
  private val topMetrics = Seq("enginetemperature", "humidity",
    "vibrationlevel", "fuelconsumption")

  /** Expected (machineid, value) of a latest-per-machine top-k accessor. */
  private def topTruth(t: Gen.TelemetryTruth, metric: String, k: Int,
      ascending: Boolean): Seq[(String, Double)] = {
    val vals = t.machines.flatMap { m =>
      if (ascending && metric == "humidity") m.latestHumidityInBounds.map(m.id -> _)
      else Some(m.id -> m.latest(metric))
    }
    val ord = if (ascending) Ordering.by[(String, Double), (Double, String)](x => (x._2, x._1))
      else Ordering.by[(String, Double), (Double, String)](x => (-x._2, x._1))
    vals.sorted(ord).take(k)
  }

  /** One operator request: a seeded accessor call, checked against the
    * generator's truth, then the 1-row query-log append. */
  private def request(q: TelemetryQueries, t: Gen.TelemetryTruth, kind: Int): Unit = {
    val id = s"req$requestNo"
    requestNo += 1
    val m = t.machines(rnd.nextInt(t.machines.size))
    val k = 1 + rnd.nextInt(10)
    val lo = Gen.StartEpoch + 3600L * rnd.nextInt(t.hours)
    val hi = lo + 3600L * rnd.nextInt(72)
    val withPrediction = requestNo % 5 == 0
    def accessor(group: String)(rows: => Array[Row]): Array[Row] =
      tr.span(s"telemetry.accessor.$group") {
        val r = rows
        tr.annotate("result_rows", r.length.toDouble)
        r
      }
    rec.serve("telemetry.request", id) {
      val rows: (Array[Row], Array[Row] => Boolean) = kind match {
        case 0 => (accessor("point")(q.latestData(m.id, k).collect()),
          r => r.length == k && r(0).getAs[Long]("timestamp_epoch") == m.lastEpoch)
        case 1 => (accessor("point")(q.machineStats(m.id).collect()),
          r => r(0).getAs[Long]("record_count") == m.count &&
            r(0).getAs[Long]("last_epoch") == m.lastEpoch)
        case 2 => (accessor("range")(q.dataInRange(m.id, lo, hi).collect()),
          r => r.length == ((math.min(hi, m.lastEpoch) - lo) / 3600L + 1) &&
            r.map(_.getAs[Long]("timestamp_epoch")).sameElements(
              r.map(_.getAs[Long]("timestamp_epoch")).sorted))
        case 3 => (accessor("fleet")(q.machines().collect()),
          r => r.map(_.getString(0)).toSeq == t.machines.map(_.id))
        case 4 => (accessor("fleet")(q.summary().collect()),
          r => r(0).getLong(0) == t.rows && r(0).getLong(1) == t.machines.size)
        case 5 => (accessor("fleet")(q.machineComparison().collect()),
          r => r.length == t.machines.size &&
            r.forall(_.getAs[Long]("record_count") == t.hours))
        case 6 => (accessor("fleet")(q.machinesByStatus(Some("fault")).collect()),
          r => r.map(_.getString(0)).toSet == t.machines.filter(_.hasFault).map(_.id).toSet &&
            r.forall(_.getAs[String]("status") == "Fault"))
        case 7 => (accessor("fleet")(q.machinesByStatus(None).collect()),
          r => r.length == t.machines.size)
        case _ =>
          val metric = topMetrics((kind - 8) % 4)
          val asc = kind >= 12
          val df = (metric, asc) match {
            case ("enginetemperature", false) => q.highestTemperature(k)
            case ("humidity", false) => q.highestHumidity(k)
            case ("vibrationlevel", false) => q.highestVibration(k)
            case (_, false) => q.highestFuel(k)
            case ("enginetemperature", true) => q.lowestTemperature(k)
            case ("humidity", true) => q.lowestHumidity(k)
            case ("vibrationlevel", true) => q.lowestVibration(k)
            case (_, true) => q.lowestFuel(k)
          }
          val res = accessor("latest_topk")(df.collect())
          (res, r => r.map(x => (x.getString(0), x.getDouble(1))).toSeq ==
            topTruth(t, metric, k, asc))
      }
      tr.span("telemetry.warehouse.append") {
        wh.insertQueryLog(spark.createDataFrame(Seq(
            ("operator", s"request $id for ${m.id}", "lookup", 1.0, m.id, lo)))
          .toDF("role", "query", "intent", "confidence", "machine_id",
            "target_time_epoch"))
        if (withPrediction)
          wh.insertPredictions(spark.createDataFrame(Seq(
              (m.id, "avg_temperature", m.latest("enginetemperature"),
                m.latest("fuelconsumption"), m.latest("vibrationlevel"))))
            .toDF("machine_id", "intent", "numerical_answer",
              "fuelconsumption", "vibrationlevel"),
            Seq("fuelconsumption", "vibrationlevel"))
      }
      logged += 1
      if (withPrediction) predicted += 1
      rows
    } { case (r, ok) => ok(r) }
  }

  def finish(): Unit = {
    rec.check("warehouse_counts") {
      val counts = wh.verifySetup().toMap
      counts("telemetry") == truth.rows &&
        counts("user_query_log") == logged &&
        counts("predictions") == predicted
    }
  }

  def space(): (Long, Long) = {
    Seq("telemetry", "user_query_log", "predictions").foreach(tb =>
      wh.table(tb).write.mode("overwrite").parquet(s"$dir/live/$tb"))
    (Main.dirBytes(s"$dir/warehouse"), Main.dirBytes(s"$dir/live"))
  }
}
