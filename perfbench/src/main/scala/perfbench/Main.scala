package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run: one workload in one JVM.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *             <setups> <resultJson> [workload options key=value…]
  *        Main classlist <workDir>
  *
  * Writes one JSON object to `resultJson`: set-up times, the operations
  * it timed (with whatever the output checks need), and with trace on
  * the per-layer figures and spans. The Python entry point (`run.py`) turns
  * that into the benchmark's result line after checking outputs. */
object Main {
  final case class Args(workload: String, in: String, work: String,
      seconds: Double, trace: Boolean, setups: Int, out: String,
      opts: Map[String, String]) {
    def opt(k: String): String = opts(k)
  }

  def main(argv: Array[String]): Unit =
    if (argv.head == "classlist") classList(argv(1)) else run(argv)

  /** A short job mix for the class-data archive the build dumps: session
    * start, a shuffle, join and window, a parquet write and read. */
  def classList(work: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = session(work)
    try {
      spark.range(0, 10000).withColumn("k", col("id") % 7)
        .write.mode("overwrite").parquet(s"$work/t")
      val t = spark.read.parquet(s"$work/t")
      t.join(t.groupBy("k").agg(sum("id").as("s")), "k")
        .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
        .write.mode("overwrite").parquet(s"$work/u")
    } finally spark.stop()
  }

  def run(argv: Array[String]): Unit = {
    val Array(w, in, work, secs, tr, setups, out) = argv.take(7)
    val opts = argv.drop(7).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val a = Args(w, in, work, secs.toDouble, tr == "1", setups.toInt, out, opts)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val res = new Result
    res("session_s") = sessionS
    try {
      a.workload match {
        case "corpus-refresh" => Corpus.run(spark, a, res)
        case "docstore-serve" => Docstore.run(spark, a, res)
        case "warehouse-scan" => Warehouse.run(spark, a, res)
        case other => sys.error(s"unknown workload $other")
      }
      res("peak_rss_mb") = vmHwmMb()
      Files.writeString(Paths.get(a.out), Json.write(res.toMap))
    } finally spark.stop()
  }

  /** Four local cores and four shuffle partitions; every scratch
    * directory Spark would otherwise put under /tmp stays in `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def now(): Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Run `setup` `a.setups` times and keep the last state; the median
    * time goes into `setup_s` on top of the session start. */
  def repeatedSetup[T](a: Args, res: Result)(setup: Int => T): T = {
    val times = mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    for (i <- 0 until a.setups) {
      val t0 = now()
      last = Some(setup(i))
      times += now() - t0
    }
    res("setup_runs_s") = times.toSeq
    res("setup_s") = res.double("session_s") + median(times.toSeq)
    last.get
  }

  /** Per-layer figures common to every workload, from the Spark
    * listeners over the measured window. Counts, times and bytes are per
    * timed operation; `busy_ratio` covers the whole window. */
  def sparkLayers(t: Trace.Session, ops: Int, wallMs: Long,
      files: Seq[String]): Map[String, Double] = {
    val jobs = t.jobs.jobs.values().asScala.toSeq
    val accs = t.jobs.bySpan.values().asScala.toSeq
    def sum(f: t.jobs.Acc => Long) = accs.map(f).sum.toDouble
    val n = math.max(ops, 1).toDouble
    val ended = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
    val busyMs = Trace.unionMs(ended)
    val phase = (k: String) =>
      Option(t.planning.phaseMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3 / n
    val byFile = jobs.groupBy(j => fileBucket(j.file, files))
      .map { case (f, js) => f -> js.size }
    val fileMetrics = (files :+ "perfbench" :+ "other" :+ "unattributed").map(f =>
      s"spark.sched.jobs_by_file.$f" -> byFile.getOrElse(f, 0) / n)
    Map(
      "spark.driver.analysis_s" -> phase("analysis"),
      "spark.driver.optimization_s" -> phase("optimization"),
      "spark.driver.planning_s" -> phase("planning"),
      "spark.driver.gap_s" -> (wallMs - busyMs) / 1e3 / n,
      "spark.sched.jobs" -> jobs.size / n,
      "spark.sched.jobs_outside_spans" -> jobs.count(_.span.isEmpty) / n,
      "spark.sched.stages" -> sum(_.stages) / n,
      "spark.sched.tasks" -> sum(_.tasks) / n,
      "spark.sched.broadcast_builds" -> jobs.count(_.broadcast) / n,
      "spark.exec.task_run_s" -> sum(_.runMs) / 1e3 / n,
      "spark.exec.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.exec.deser_s" -> sum(_.deserMs) / 1e3 / n,
      "spark.exec.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "spark.exec.busy_ratio" -> sum(_.runMs) / math.max(wallMs * 4.0, 1.0),
      "spark.shuffle.write_bytes" -> sum(_.shufW) / n,
      "spark.shuffle.read_bytes" -> sum(_.shufR) / n,
      "spark.shuffle.spill_bytes" -> sum(_.spill) / n,
    ) ++ fileMetrics
  }

  /** The trace file's records: jobs by (span, call-site file), jobs per
    * operation id (refresh, ingest, pass), and every span. */
  def traceRecords(t: Trace.Session, res: Result): Unit = {
    val jobs = t.jobs.jobs.values().asScala.toSeq
    res("jobs_by_span_file") = jobs.groupBy(j => (j.span, j.file)).toSeq.sortBy(_._1)
      .map { case ((s, f), js) => Map("span" -> s, "file" -> f, "jobs" -> js.size,
        "broadcast_builds" -> js.count(_.broadcast)) }
    res("jobs_per_op") = jobs.groupBy(_.op).map { case (op, js) => op -> js.size }
    res("spans") = Trace.allSpans.map(s => Map("name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
  }

  /** Streaming progress medians (per trigger that read input). */
  def streamingLayers(t: Trace.Session): Map[String, Double] = {
    val tr = t.progress.triggers.asScala.toSeq
    def med(k: String) = if (tr.isEmpty) 0.0 else median(tr.map(_._1.getOrElse(k, 0L) / 1e3))
    Map(
      "streaming.trigger_s" -> med("triggerExecution"),
      "streaming.add_batch_s" -> med("addBatch"),
      "streaming.query_planning_s" -> med("queryPlanning"),
      "streaming.wal_commit_s" -> med("walCommit"),
      "streaming.rows_per_s" -> (if (tr.isEmpty) 0.0 else median(tr.map(_._2))))
  }

  /** Library files jobs are attributed to; the benchmark's own files
    * share one bucket and every other file goes to `other`. */
  val LayerFiles = Seq("Pipelines", "Dedup", "IndexGen", "Caches", "Graphs", "Sampling",
    "TextOps", "DocStore", "Similarity", "Streaming", "Temporal", "SparkEntry")
  private val BenchFiles = Set("Main", "Trace", "Corpus", "Docstore", "Warehouse")

  def fileBucket(file: String, files: Seq[String]): String =
    if (files.contains(file) || file == "unattributed") file
    else if (BenchFiles.contains(file)) "perfbench"
    else "other"
}

/** Mutable result map with typed getters. */
final class Result {
  private val m = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m(k) = v
  def double(k: String): Double = m(k).asInstanceOf[Double]
  def toMap: Map[String, Any] = m.toMap
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case x => quote(x.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
