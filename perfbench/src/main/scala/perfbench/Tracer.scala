package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded call from the benchmark into a public function of the
  * engine. `counters` collects Spark's own work attributed to the span
  * (jobs, task time, bytes) plus values the benchmark annotates (result
  * rows, table file counts). */
final class Span(val id: Long, val name: String, val parent: Long,
    val opId: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var failed: Boolean = false
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit =
    counters.merge(k, v, (a, b) => a + b)
}

/** Spans around the benchmark's calls into each layer. With tracing off
  * `span` only runs its body, so the untraced run pays nothing for it.
  *
  * With tracing on, the bench thread tags every Spark job and SQL
  * execution it starts with the innermost open span's id (a job tag is a
  * Spark local property of the calling thread), and a listener adds the
  * job's task metrics and the execution's planning time and scan file
  * counts to exactly that span. Spans stay in memory and are written as
  * JSON lines when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val TagPrefix = "perfbench-span-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var sc: SparkContext = _
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val DrainTag = "perfbench-drain"
  @volatile private var drainJob: Int = -1
  @volatile private var drained = false

  private def spanOfTags(tags: Iterable[String]): Option[Span] =
    tags.collectFirst {
      case t if t.startsWith(TagPrefix) => byId.get(t.stripPrefix(TagPrefix).toLong)
    }.flatMap(Option(_))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      if (tags.contains(DrainTag)) drainJob = e.jobId
      spanOfTags(tags).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("task_s", m.executorRunTime / 1e3)
        s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("records_read", m.inputMetrics.recordsRead.toDouble)
        s.add("written_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        spanOfTags(st.jobTags).foreach { s =>
          execSpan.put(st.executionId, s)
          if (st.rootExecutionId.forall(_ == st.executionId)) s.add("actions", 1)
        }
      case en: SparkListenerSQLExecutionEnd =>
        Option(execSpan.remove(en.executionId)).foreach { s =>
          queryExecution(en).foreach { qe =>
            s.add("planning_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
            s.add("files_read", scanFiles(qe.executedPlan))
          }
        }
      case _ =>
    }
  }

  // the event's QueryExecution is package-private to Spark's sql module
  private def queryExecution(e: SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.QueryExecution] =
    try Option(e.getClass.getMethod("qe").invoke(e)
      .asInstanceOf[org.apache.spark.sql.execution.QueryExecution])
    catch { case scala.util.control.NonFatal(_) => None }

  /** Table payload files (`data_v*` directories) the plan's scans read,
    * from their `numFiles` metric, through adaptive stages and
    * subqueries; pruning artifacts and delete segments are not counted. */
  private def scanFiles(p: SparkPlan): Double = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val own = p match {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("/data_v")) =>
        f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
      case _ => 0.0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    own + inner.map(scanFiles).sum
  }

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
  }

  /** Time `body` as a span named `name`; `opId` ties the spans of one
    * request or cycle together (inherited from the parent when empty). */
  @volatile var paused = false
  @volatile private var lastClosed: Span = _

  def span[T](name: String, opId: String = "")(body: => T): T =
    if (!enabled || paused) body
    else {
      val parent = stack.headOption
      val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
        if (opId.nonEmpty) opId else parent.map(_.opId).getOrElse(""),
        System.nanoTime())
      nextId += 1
      spans += s
      byId.put(s.id, s)
      parent.foreach(p => sc.removeJobTag(TagPrefix + p.id))
      sc.addJobTag(TagPrefix + s.id)
      stack = s :: stack
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.endNs = System.nanoTime()
        lastClosed = s
        stack = stack.tail
        sc.removeJobTag(TagPrefix + s.id)
        parent.foreach(p => sc.addJobTag(TagPrefix + p.id))
      }
    }

  /** Add a benchmark-side count to the innermost open span. */
  def annotate(k: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.add(k, v))

  /** Add a count to the span that closed last, for values only known
    * after the call returns. */
  def annotateLast(k: String, v: Double): Unit =
    if (enabled && !paused && lastClosed != null) lastClosed.add(k, v)

  /** Block until the listener has seen every event posted so far: a
    * sentinel job's end arrives after the events queued before it. */
  def drain(): Unit = if (enabled) {
    drained = false
    sc.addJobTag(DrainTag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(DrainTag)
    val deadline = System.nanoTime() + 30000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Every span as one JSON object per line. */
  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val cs = scala.jdk.CollectionConverters.MapHasAsScala(s.counters).asScala
        .toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.doubleValue}""" }
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":"${s.opId}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""failed":${s.failed},"counters":{${cs.mkString(",")}}}""")
    } finally w.close()
  }
}
