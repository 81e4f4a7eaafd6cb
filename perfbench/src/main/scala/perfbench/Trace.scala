package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed benchmark call into a layer. `op` is the refresh, request
  * or query-pass id the call belongs to; `parent` the enclosing span. */
final case class Span(name: String, op: String, parent: String,
    startMs: Long, endMs: Long)

/** A Spark job as the listener saw it, attributed to the benchmark span
  * whose local property its submitting thread carried, and to the
  * source file of its call site (`count at Pipelines.scala:371`). */
final case class JobRec(id: Int, span: String, op: String, file: String,
    broadcast: Boolean, stages: Int, startMs: Long, var endMs: Long = -1L)

/** Spans plus Spark's public listeners, kept in memory for one run.
  *
  * Attribution does not touch the library: [[span]] sets a thread-local
  * Spark property (`perfbench.span`) around a call. Spark copies local
  * properties into every job the thread submits, broadcast builds
  * included, and into threads it starts, such as a stream's execution
  * thread. The JDK HTTP server's dispatcher thread does not inherit
  * them (see [[Docstore]]). */
object Trace {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `f` as span `name` of operation `op`; Spark jobs submitted
    * meanwhile from this thread carry the span's name. */
  def span[T](spark: SparkSession, name: String, op: String)(f: => T): T = {
    val sc = spark.sparkContext
    val parent = Option(sc.getLocalProperty(SpanProp)).getOrElse("")
    val parentOp = sc.getLocalProperty(OpProp)
    sc.setLocalProperty(SpanProp, name)
    sc.setLocalProperty(OpProp, op)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spans.add(Span(name, op, parent, t0, System.currentTimeMillis()))
      sc.setLocalProperty(SpanProp, if (parent.isEmpty) null else parent)
      sc.setLocalProperty(OpProp, parentOp)
    }
  }

  /** Set the span property on this thread without timing anything — for
    * threads that a library call starts and keeps (server, stream). */
  def label(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setLocalProperty(SpanProp, name)

  /** Record a span timed elsewhere (an HTTP request, timed by its client). */
  def record(s: Span): Unit = spans.add(s)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  private val CallSite = """ at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r.unanchored

  /** Aggregating listener. Task metrics sum per span; jobs keep their
    * interval for the driver-gap computation. */
  final class Listener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // SQL execution id -> call site of the action that started it: jobs
    // a query submits from Spark's own threads (broadcast builds,
    // adaptive query stages) carry the execution id but not the caller's
    // stack, so their own stage call site reads `CompletableFuture`
    private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, s.description + " " + s.details.take(2000))
      case _ => ()
    }
    private def fileOf(site: String): Option[String] = site match {
      case CallSite(f, _) => Some(f)
      case _ => None
    }
    private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    final class Acc {
      var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var deserMs = 0L
      var gcMs = 0L; var shufW = 0L; var shufR = 0L; var spill = 0L
      var stages = 0L
    }
    val bySpan = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
    private def acc(span: String) = bySpan.computeIfAbsent(span, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp))).getOrElse("")
      val op = p.flatMap(x => Option(x.getProperty(OpProp))).getOrElse("")
      val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags"))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(x.getProperty("spark.sql.execution.id"))))
        .flatMap(id => Option(execSite.get(id.toLong)))
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val file = exec.flatMap(fileOf)
        .orElse(result.flatMap(r => fileOf(r.name)).filterNot(_ == "CompletableFuture"))
        .getOrElse("unattributed")
      e.stageIds.foreach(s => jobOfStage.put(s, span))
      jobs.put(e.jobId, JobRec(e.jobId, span, op, file,
        tags.contains("broadcast exchange"), e.stageIds.size, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc(Option(jobOfStage.get(e.stageInfo.stageId)).getOrElse(""))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(Option(jobOfStage.get(e.stageId)).getOrElse(""))
        a.synchronized {
          a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.deserMs += m.executorDeserializeTime; a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Driver planning phases of every Dataset action
    * (`QueryExecution.tracker`: analysis, optimization, planning). */
  final class Planning extends QueryExecutionListener {
    val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      qe.tracker.phases.foreach { case (ph, s) =>
        phaseMs.merge(ph, s.durationMs, (a: java.lang.Long, b: java.lang.Long) => a + b)
      }
    override def onFailure(fn: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  /** Per-trigger progress of streaming queries. */
  final class Progress extends StreamingQueryListener {
    val triggers = new ConcurrentLinkedQueue[(Map[String, Long], Double)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        triggers.add((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.processedRowsPerSecond))
    }
  }

  final class Session(spark: SparkSession) {
    val jobs = new Listener
    val planning = new Planning
    val progress = new Progress
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(planning)
      spark.streams.addListener(progress)
    }
    def detach(): Unit = {
      drain(spark)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(planning)
      spark.streams.removeListener(progress)
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
