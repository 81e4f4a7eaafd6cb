package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Pipelines

/** corpus-refresh: sequential daily refreshes through
  * `Pipelines.pretrainCorpusIncremental`, one caller, each refresh's
  * packed output written to parquet. Set-up seeds the hash and
  * signature indexes with batch 0; the timed loop feeds batches 1, 2, …
  * until the time is up, so both indexes grow across refreshes. */
object Corpus {
  // single lexicon and a zero quality floor (the generator's contract):
  // every generated doc reaches the dedup gates
  private val Markers = Map("en" -> Seq("the"))
  private val Stopwords = Seq("the", "a")

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val batches = new File(a.in).list().filter(_.startsWith("batch")).sorted
    val heldout = spark.read.parquet(s"${a.in}/heldout.parquet").cache()
    heldout.count()
    val outDir = s"${a.work}/out"

    def refresh(root: String, b: Int, op: String): (Double, Double, Long) = {
      // schema inference on the batch file runs a job: the caller's read
      val batch = Trace.span(spark, "corpus.read_batch", op) {
        spark.read.parquet(s"${a.in}/${batches(b)}")
      }
      val t0 = Main.now()
      val packed = Trace.span(spark, "pipelines.call", op) {
        Pipelines.pretrainCorpusIncremental(batch, col("doc_id"), col("text"),
          Markers, keepLang = "en", stopwords = Stopwords, minQuality = 0.0,
          blocklist = Nil, hashIndex = s"$root/hash", sigIndex = s"$root/sig",
          heldout = heldout, heldoutText = col("text"), ngram = 5,
          sampleRate = 0.6, salt = "perfbench", packBudget = 256, packBuckets = 4)
      }
      val t1 = Main.now()
      Trace.span(spark, "pipelines.tail", op) {
        packed.write.mode("overwrite").parquet(f"$outDir/refresh$b%03d")
      }
      val t2 = Main.now()
      graft.core.Caches.drain()
      (t1 - t0, t2 - t1, parquetRows(new File(s"${a.in}/${batches(b)}")))
    }

    // set-up: seed both indexes from batch 0, in a fresh root each time
    val root = Main.repeatedSetup(a, res) { i =>
      val r = s"${a.work}/index$i"
      refresh(r, 0, "seed")
      r
    }
    val rows0 = indexRows(root)

    val trace = if (a.trace) Some(new Trace.Session(spark)) else None
    trace.foreach(_.attach())
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val loopStartMs = System.currentTimeMillis()
    var b = 1
    var prevRows = rows0
    // at least two timed refreshes, so the median is not a single
    // sample; after that, another only while it would end inside the
    // window at the previous refresh's pace
    var lastMs = 0L
    while (b < batches.length && (b <= 2 ||
        System.currentTimeMillis() + lastMs - loopStartMs < a.seconds * 1e3)) {
      val opStartMs = System.currentTimeMillis()
      val (call, tail, nIn) = refresh(root, b, s"refresh$b")
      lastMs = System.currentTimeMillis() - opStartMs
      val rows = if (a.trace) indexRows(root) else prevRows
      ops += Map("batch" -> b, "call_s" -> call, "tail_s" -> tail,
        "wall_s" -> (call + tail), "in_docs" -> nIn,
        "kept" -> parquetRows(new File(f"$outDir/refresh$b%03d")),
        "hash_rows_added" -> (rows._1 - prevRows._1),
        "sig_rows_added" -> (rows._2 - prevRows._2))
      prevRows = rows
      b += 1
    }
    val wallMs = System.currentTimeMillis() - loopStartMs
    res("ops") = ops.toSeq
    res("loop_s") = wallMs / 1e3
    res("out_dir") = outDir

    trace.foreach { t =>
      t.detach()
      val n = ops.size
      val spans = Trace.allSpans.filter(_.op.startsWith("refresh"))
      def spanMed(name: String) = Main.median(spans.filter(_.name == name)
        .map(s => (s.endMs - s.startMs) / 1e3))
      val files = dirStats(root)
      val inDocs = ops.map(_("in_docs").asInstanceOf[Long]).sum.toDouble
      val kept = ops.map(_("kept").asInstanceOf[Long]).sum.toDouble
      val hashAdded = ops.map(_("hash_rows_added").asInstanceOf[Long]).sum.toDouble
      val sigAdded = ops.map(_("sig_rows_added").asInstanceOf[Long]).sum.toDouble
      res("layers") = Main.sparkLayers(t, n, wallMs, Main.LayerFiles) ++ Map(
        "pipelines.call_s" -> spanMed("pipelines.call"),
        "pipelines.tail_s" -> spanMed("pipelines.tail"),
        "pipelines.kept_ratio" -> kept / inDocs,
        "dedup.exact_drop_ratio" -> (1.0 - hashAdded / inDocs),
        "dedup.near_drop_ratio" -> (1.0 - sigAdded / math.max(hashAdded, 1.0)),
        "indexgen.bytes" -> files._1.toDouble,
        "indexgen.files" -> files._2.toDouble,
        "indexgen.generations" -> files._3.toDouble)
      Main.traceRecords(t, res)
    }
  }

  /** Rows in the hash and signature indexes, from parquet footers (no
    * Spark job, so the traced job counts stay the library's own). */
  def indexRows(root: String): (Long, Long) =
    (parquetRows(new File(s"$root/hash")), parquetRows(new File(s"$root/sig")))

  def parquetRows(dir: File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    walk(dir).filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getPath.contains("/gen-"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** (bytes, files, committed generation dirs) under the index root. */
  def dirStats(root: String): (Long, Int, Int) = {
    val all = walk(new File(root))
    val fs = all.filter(_.isFile)
    (fs.map(_.length).sum, fs.size, all.count(d => d.isDirectory && d.getName.startsWith("gen-")))
  }

  def walk(f: File): Seq[File] =
    f +: Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
}
