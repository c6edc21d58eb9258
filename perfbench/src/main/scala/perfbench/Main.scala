package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Counts operations, keeps their timings and records output checks. An
  * operation is one thing a user waits for: a request, a read probe, an
  * ingest cycle, a curation run. It fails when it throws or its output
  * check does not hold; a failed operation contributes no timing. */
final class Recorder(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Serving-call latencies (ms) by operation name. */
  val serveMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Bulk operations: name → (rows, seconds). */
  val bulk = mutable.LinkedHashMap.empty[String, (Long, Double)]
  /** Wall time (s) of each bulk operation, by name. */
  val bulkS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]

  private var warm = false
  def warming: Boolean = warm

  /** Run set-up's warm-up pass: operations run and are checked, but are
    * not counted, timed or traced; a failure fails the `warmup` check. */
  def warmup(body: => Unit): Unit = {
    warm = true
    tracer.paused = true
    try body finally { warm = false; tracer.paused = false }
  }

  private def run[T](name: String, opId: String)(body: => T)(
      check: T => Boolean): Option[Double] = {
    if (!warm) attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(tracer.span(name, opId)(body))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val verdict: Option[String] = out match {
      case Right(v) =>
        try { if (check(v)) None else Some("output check failed") }
        catch { case scala.util.control.NonFatal(e) =>
          Some(s"output check failed: ${e.getMessage}") }
      case Left(e) =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    verdict match {
      case None => if (warm) None else Some(dt)
      case Some(why) =>
        if (warm) checks("warmup") = false else failed += 1
        if (failures.size < 20) failures += s"$name: $why"
        None
    }
  }

  /** A floor-bound serving call; its latency is a sample. */
  def serve[T](name: String, opId: String)(body: => T)(check: T => Boolean): Unit =
    run(name, opId)(body)(check).foreach(dt =>
      serveMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt * 1e3)

  /** A per-row batch operation over `rows` input rows. */
  def bulkOp[T](name: String, opId: String, rows: Long)(body: => T)(
      check: T => Boolean): Unit =
    run(name, opId)(body)(check).foreach { dt =>
      val (r, s) = bulk.getOrElse(name, (0L, 0.0))
      bulk(name) = (r + rows, s + dt)
      bulkS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    }

  /** An output check outside any timed operation (set-up or the end of
    * the run); a failed one fails the run's correctness verdict. */
  def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
    checks(name) = checks.getOrElse(name, true) && ok
  }
}

/** One benchmark workload: inputs made from the seed, a warm-up pass on
  * small inputs, standing state built in `standing`, then `pass` repeated
  * until the time is up. */
trait Workload {
  /** Input sizes, recorded in the result. */
  def sizes: Seq[(String, Long)]
  /** Make the seeded inputs under `dir`; not part of set-up time. */
  def generate(dir: String): Unit
  /** Run every operation of a pass once on small inputs under `dir`, so
    * the measured passes find classes loaded and code compiled. */
  def warmup(dir: String): Unit
  /** Build the standing state the passes run against under `dir`. */
  def standing(dir: String): Unit
  /** One pass of the workload's operations. */
  def pass(n: Int): Unit
  /** How many times set-up builds the standing state. */
  def setupReps: Int = 3
  /** Output checks that need the whole run (outside timing). */
  def finish(): Unit
  /** (bytes on disk, bytes of the same live rows written once as plain
    * parquet) for the workload's standing data. */
  def space(): (Long, Long)
  /** Per-span ratios only the benchmark can compute (traced run). */
  def ratios(): Seq[(String, Double)] = Nil
}

object Main {

  private def procLine(p: String): String =
    try {
      val src = scala.io.Source.fromFile(p)
      try src.getLines().take(2).mkString("; ").trim
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => "" }

  /** (busy, steal) jiffies off /proc/stat's aggregate cpu line, read the
    * way graft.Bench reads them. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val l = procLine("/proc/stat").split("\\s+")
      (l(1).toLong + l(2).toLong + l(3).toLong,
        if (l.length > 8) l(8).toLong else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** The session graft.Bench builds, sized to this host, with Spark's
    * scratch space inside the benchmark's work directory. */
  def session(work: String, app: String): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val scale = opts.getOrElse("scale", "full")
    val work = new java.io.File(opts("work")).getAbsolutePath

    val loadStart = procLine("/proc/loadavg")
    val (busy0, steal0) = cpuJiffies()

    val t0 = System.nanoTime()
    val spark = session(work, s"perfbench-$name")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    tracer.attach(spark.sparkContext)
    val rec = new Recorder(tracer)
    val wl: Workload = name match {
      case "telemetry_daily" => new TelemetryDaily(spark, rec, seed, scale)
      case "lakehouse_serve" => new LakehouseServe(spark, rec, seed, scale)
      case other => sys.error(s"unknown workload $other")
    }
    def timed(f: => Unit): Double = {
      val ts = System.nanoTime(); f; (System.nanoTime() - ts) / 1e9
    }
    val generateS = timed(wl.generate(s"$work/input"))

    // set-up: the standing state is built `setupReps` times into fresh
    // directories, the warm-up pass runs once on the first of them, and
    // the measured passes use the last
    val first = timed(wl.standing(s"$work/standing1"))
    val warmupS = timed(rec.warmup(wl.warmup(s"$work/warmup")))
    val standingTimes = first +: (2 to wl.setupReps).map(r =>
      timed(wl.standing(s"$work/standing$r")))

    val floorMs =
      if (!trace) 0.0
      else median((1 to 15).map { _ =>
        val ts = System.nanoTime()
        spark.range(1).count()
        (System.nanoTime() - ts) / 1e6
      })

    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      wl.pass(passes)
      passes += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    // what the process still holds once the workload has run; the second
    // collection follows Spark's cleaner dropping what the first freed
    System.gc()
    Thread.sleep(500)
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val tf = System.nanoTime()
    wl.finish()
    val (diskBytes, liveBytes) = wl.space()
    val finishS = (System.nanoTime() - tf) / 1e9
    val ratios = if (trace) wl.ratios() else Nil
    tracer.drain()
    if (trace) tracer.writeJsonLines(opts("spans"))

    val gcS = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).sum / 1e3
    val peakHeapMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val rssMb = peakRssMb()
    val loadEnd = procLine("/proc/loadavg")
    val (busy1, steal1) = cpuJiffies()
    val stealPct =
      if (busy1 > busy0) 100.0 * (steal1 - steal0) / (busy1 - busy0 + steal1 - steal0)
      else 0.0

    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
    val raw = obj(Seq(
      "workload" -> js(name), "seed" -> seed.toString, "scale" -> js(scale),
      "trace" -> trace.toString,
      "sizes" -> obj(wl.sizes.map { case (k, v) => k -> v.toString }),
      "host" -> obj(Seq("nproc" -> spark.sparkContext.defaultParallelism.toString,
        "loadavg_start" -> js(loadStart), "loadavg_end" -> js(loadEnd),
        "cpu_steal_pct" -> num(stealPct))),
      "session_start_s" -> num(sessionS),
      "generate_s" -> num(generateS),
      "finish_s" -> num(finishS),
      "warmup_s" -> num(warmupS),
      "standing_s" -> standingTimes.map(num).mkString("[", ",", "]"),
      "passes" -> passes.toString,
      "measured_s" -> num(measuredS),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "failures" -> rec.failures.map(js).mkString("[", ",", "]"),
      "checks" -> obj(rec.checks.toSeq.map { case (k, v) => k -> v.toString }),
      "serve_ms" -> obj(rec.serveMs.toSeq.map { case (k, v) =>
        k -> v.map(num).mkString("[", ",", "]") }),
      "bulk" -> obj(rec.bulk.toSeq.map { case (k, (r, s)) =>
        k -> s"[$r,${num(s)}]" }),
      "bulk_s" -> obj(rec.bulkS.toSeq.map { case (k, v) =>
        k -> v.map(num).mkString("[", ",", "]") }),
      "disk_bytes" -> diskBytes.toString,
      "live_bytes" -> liveBytes.toString,
      "peak_rss_mb" -> num(rssMb),
      "heap_retained_mb" -> num(retainedMb),
      "engine_floor_ms" -> num(floorMs),
      "jvm_gc_s" -> num(gcS),
      "jvm_peak_heap_mb" -> num(peakHeapMb),
      "ratios" -> obj(ratios.map { case (k, v) => k -> num(v) })))
    println("PERFBENCH_RAW " + raw)
    spark.stop()
  }
}

/** Loads the classes every run needs (a session, a shuffle, a parquet
  * round trip) so the build can dump them into a class-data-sharing
  * archive that later runs map instead of loading.
  *
  * Usage: perfbench.ClassWarmup <work dir> */
object ClassWarmup {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0), "perfbench-classes")
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    spark.range(1000).write.mode("overwrite").parquet(s"${args(0)}/p")
    spark.read.parquet(s"${args(0)}/p").count()
    spark.stop()
  }
}
