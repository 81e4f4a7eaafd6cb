package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.DocStore

/** docstore-serve: a persisted `DocStore` answers single-query
  * `POST /v1/retrieve` requests that arrive at a fixed rate (open loop),
  * while a writer feeds seeded doc batches through `DocStore.buildStream`
  * back to back and calls `DocStore.extendIndex` after each. After every
  * ingest a freshness probe asks for a just-ingested doc's text.
  *
  * The server keeps the one `PersistedStore` handle it was started with
  * for the whole run, as a long-lived service does. */
object Docstore {
  private val K = 3
  /** gen.py gives store docs ids below this and ingested docs ids above. */
  private val FirstIngestId = 1000000L
  private val mapper = new ObjectMapper()

  final class Req(val kind: String, val op: String, val query: String,
      val expect: Long, val dueNs: Long) {
    @volatile var sentNs = 0L
    @volatile var recvNs = 0L
    @volatile var status = 0
    @volatile var docIds: Seq[Long] = Nil
    @volatile var scores: Seq[Double] = Nil
    @volatile var error = ""
    /** Contiguous ranks 1..k, scores in rank order, and for a probe the
      * just-ingested doc at rank 1. */
    def ok: Boolean = status == 200 && error.isEmpty && docIds.size == K &&
      scores.zip(scores.drop(1)).forall { case (a, b) => a >= b } &&
      (kind != "probe" || docIds.headOption.contains(expect))
  }

  final class Live(val dir: String, val server: com.sun.net.httpserver.HttpServer,
      val stream: StreamingQuery) {
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1/retrieve"
    def stop(): Unit = { stream.stop(); server.stop(0) }
  }

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val rate = a.opt("rate").toDouble
    val queries = mapper.readValue(new File(s"${a.in}/queries.json"),
      classOf[java.util.List[String]]).asScala.toIndexedSeq
    val ingests = new File(a.in).list().filter(_.startsWith("ingest")).sorted
    val probes = mapper.readTree(new File(s"${a.in}/probes.json"))
    val client = HttpClient.newBuilder().build()

    def send(r: Req, url: String): Req = {
      r.sentNs = System.nanoTime()
      try {
        val body = mapper.writeValueAsString(Map("query" -> r.query, "k" -> K).asJava)
        val resp = client.send(HttpRequest.newBuilder(URI.create(url))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        r.recvNs = System.nanoTime()
        r.status = resp.statusCode()
        if (r.status == 200) {
          val rows = mapper.readTree(resp.body()).elements().asScala.toSeq
          r.docIds = rows.map(_.get("doc_id").asLong())
          r.scores = rows.map(_.get("score").asDouble())
        } else r.error = resp.body().take(300)
      } catch { case e: Throwable =>
        r.recvNs = System.nanoTime(); r.error = e.toString.take(300)
      }
      r
    }

    /** Drop `file` into the stream's input, wait until the stream has
      * written it (`processAllAvailable`), then make it searchable with
      * `extendIndex`: (stream s, extend s, chunks newly indexed). */
    def ingest(l: Live, file: String, op: String): (Double, Double, Long) = {
      val src = new File(s"${a.in}/$file").toPath
      val tmp = new File(s"${l.dir}/inbox/.$file").toPath
      val ts = System.nanoTime()
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, new File(s"${l.dir}/inbox/$file").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      l.stream.processAllAvailable()
      val tStream = System.nanoTime()
      val added = Trace.span(spark, "docstore.extend", op) {
        DocStore.extendIndex(spark, s"${l.dir}/store")
      }
      ((tStream - ts) / 1e9, (System.nanoTime() - tStream) / 1e9, added)
    }

    var live: Option[Live] = None
    val store = Main.repeatedSetup(a, res) { i =>
      live.foreach(_.stop())
      val dir = s"${a.work}/store$i"
      val docs = spark.read.parquet(s"${a.in}/store.parquet")
      DocStore.build(docs, col("doc_id"), col("data"),
          dedupIndex = Some(s"$dir/exact"), nearDedupIndex = Some(s"$dir/near"))
        .save(s"$dir/store")
      new File(s"$dir/inbox").mkdirs()
      Trace.label(spark, "streaming")
      val stream = DocStore.buildStream(
          spark.readStream.schema(StructType(Seq(StructField("doc_id", LongType),
            StructField("data", BinaryType)))).parquet(s"$dir/inbox"),
          col("doc_id"), col("data"), s"$dir/store", s"$dir/checkpoint",
          dedupIndex = Some(s"$dir/exact"))
        .start()
      Trace.label(spark, "docstore.serve")
      val server = DocStore.serve(DocStore.open(spark, s"$dir/store"))
      Trace.label(spark, null)
      val l = new Live(dir, server, stream)
      live = Some(l)
      // warm-up: the first requests after start pay code generation
      send(new Req("warmup", "warmup", queries(0), -1, System.nanoTime()), l.url)
      l
    }

    val trace = if (a.trace) Some(new Trace.Session(spark)) else None
    trace.foreach(_.attach())
    val reqs = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    val ingestOps = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val pool = Executors.newFixedThreadPool(4)
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val endNs = t0 + (a.seconds * 1e9).toLong
    val lateness = mutable.ArrayBuffer[Double]()

    // writer: ingests run back to back from the window's start. One
    // starts only while, at the previous ingest's pace, it would be
    // searchable at least one request interval before the window ends,
    // so timed requests follow every extendIndex. Its freshness probe
    // goes through the reader's pool, not the writer's thread.
    val writer = new Thread(() => {
      var i = 0
      var lastNs = 0L
      val gapNs = (1e9 / rate).toLong
      while (i < ingests.length &&
          (i == 0 || System.nanoTime() + lastNs + gapNs < endNs)) {
        val op = s"ingest$i"
        val ts = System.nanoTime()
        val (streamS, extendS, added) = ingest(store, ingests(i), op)
        lastNs = System.nanoTime() - ts
        val p = probes.get(i)
        val probe = new Req("probe", op, p.get("text").asText(),
          p.get("doc_id").asLong(), System.nanoTime())
        pool.submit(new Runnable { def run(): Unit = reqs.add(send(probe, store.url)) })
        ingestOps.add(Map("op" -> op, "ingest_s" -> lastNs / 1e9, "stream_s" -> streamS,
          "extend_s" -> extendS, "indexed" -> added, "end_s" -> (ts + lastNs - t0) / 1e9,
          "docs" -> Corpus.parquetRows(new File(s"${a.in}/${ingests(i)}"))))
        i += 1
      }
    }, "perfbench-writer")
    Trace.label(spark, "docstore.ingest")
    writer.start()
    Trace.label(spark, null)

    // reader: open loop at `rate` per second, at most 4 in flight
    var n = 0
    while (t0 + (n / rate * 1e9).toLong < endNs) {
      val due = t0 + (n / rate * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val r = new Req("request", s"req$n", queries(n % queries.size), -1, due)
      lateness += (System.nanoTime() - due) / 1e9
      pool.submit(new Runnable { def run(): Unit = reqs.add(send(r, store.url)) })
      n += 1
    }
    writer.join()
    pool.shutdown()
    pool.awaitTermination(170, TimeUnit.SECONDS)
    val wallMs = (System.nanoTime() - t0) / 1000000
    trace.foreach(_.detach())
    store.stop()

    // classify failures against a freshly opened handle. With the
    // stale-listing defect the server answers with the top k of the
    // live index minus chunks ingested after it opened its handle, so a
    // stale answer is a prefix of the fresh handle's ranking of the
    // older docs, and ingested docs fill the rest of the fresh top k.
    // Scores are per (query, chunk), so later ingests only push docs
    // down: asking for k + (ingested docs) rows keeps the older docs
    // the server saw. Any other failure is a wrong answer.
    val all = reqs.asScala.toSeq.sortBy(_.dueNs)
    val recheck = all.zipWithIndex.filter { case (r, _) => !r.ok && r.status == 200 }
    val ingested = ingestOps.asScala.map(_("docs").asInstanceOf[Long]).sum.toInt
    val freshHits = if (recheck.isEmpty) Map.empty[Long, Seq[Long]] else {
      import spark.implicits._
      DocStore.open(spark, s"${store.dir}/store")
        .retrieve(recheck.map { case (r, i) => (i.toLong, r.query) }.toDF("q_id", "q_text"),
          col("q_id"), col("q_text"), K + ingested)
        .select("qid", "rank", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rows) =>
          q -> rows.map(r => (r.getInt(1), r.getLong(2))).toSeq.sorted.map(_._2) }
    }
    val outcome = all.zipWithIndex.map { case (r, i) =>
      if (r.ok) "ok"
      else if (r.status != 200) "error"
      else {
        val ids = freshHits.getOrElse(i.toLong, Nil)
        val served = r.docIds.size
        val stale = ids.size == K + ingested && served < K &&
          ids.filter(_ < FirstIngestId).take(served) == r.docIds &&
          ids.take(K).count(_ >= FirstIngestId) >= K - served &&
          (r.kind != "probe" || ids.head == r.expect)
        if (stale) "stale_handle" else "wrong"
      }
    }
    res("ops") = all.zip(outcome).map { case (r, o) => Map(
      "kind" -> r.kind, "op" -> r.op, "due_s" -> (r.dueNs - t0) / 1e9,
      "sent_s" -> (r.sentNs - t0) / 1e9, "recv_s" -> (r.recvNs - t0) / 1e9,
      "latency_s" -> (r.recvNs - r.dueNs) / 1e9, "status" -> r.status,
      "rows" -> r.docIds.size, "outcome" -> o, "error" -> r.error) }
    res("ingests") = ingestOps.asScala.toSeq
    res("lateness_p50_s") = Main.median(lateness.toSeq)
    res("wall_s") = wallMs / 1e3

    trace.foreach { t =>
      def ms(ns: Long) = t0Ms + (ns - t0) / 1000000
      all.foreach(r => Trace.record(Span(s"docstore.${r.kind}", r.op, "", ms(r.sentNs), ms(r.recvNs))))
      // the server runs one request at a time, FIFO: service starts when
      // the request arrives or the previous one finishes, whichever is later
      val served = all.filter(r => r.recvNs > 0).sortBy(_.recvNs)
      var prevEnd = Long.MinValue
      val (svc, queue) = served.map { r =>
        val start = math.max(r.sentNs, prevEnd); prevEnd = r.recvNs
        ((r.recvNs - start) / 1e9, (start - r.sentNs) / 1e9)
      }.unzip
      val jobs = t.jobs.jobs.values().asScala.toSeq
      // the JDK server's dispatcher thread does not inherit local
      // properties, so its jobs carry no span; every other thread here
      // sets one, which leaves the unlabelled jobs as the server's
      val serving = Set("docstore.serve", "")
      val serveJobs = jobs.count(j => serving(j.span))
      val serveTasks = serving.toSeq.flatMap(s => t.jobs.bySpan.asScala.get(s)).map(_.tasks).sum
      val ing = ingestOps.asScala.toSeq
      val docsIn = ing.map(_("docs").asInstanceOf[Long]).sum.toDouble
      val indexed = ing.map(_("indexed").asInstanceOf[Long]).sum.toDouble
      res("layers") = Main.sparkLayers(t, served.size, wallMs, Main.LayerFiles) ++
        Main.streamingLayers(t) ++ Map(
          "docstore.service_s" -> Main.median(svc),
          "docstore.queue_wait_s" -> Main.median(queue),
          "docstore.jobs_per_req" -> serveJobs.toDouble / served.size,
          "docstore.tasks_per_req" -> serveTasks.toDouble / served.size,
          "docstore.extend_s" -> (if (ing.isEmpty) 0.0
            else Main.median(ing.map(_("extend_s").asInstanceOf[Double]))),
          "docstore.kept_ratio" -> (if (docsIn == 0) 0.0 else indexed / docsIn),
          "indexgen.bytes" -> Corpus.dirStats(s"${store.dir}/store")._1.toDouble)
      Main.traceRecords(t, res)
    }
  }
}
