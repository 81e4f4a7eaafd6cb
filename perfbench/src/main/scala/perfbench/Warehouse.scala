package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** warehouse-scan: TPC-H-shaped and temporal queries through
  * `SparkEntry.queries` over the generated tables, one caller, each pass
  * in a seeded order. Every query's result is written to parquet (the
  * timed action), and the last pass's results are what the DuckDB
  * oracle check reads. */
object Warehouse {
  val Names = Seq("q1_agg", "q3_shipping_priority", "q5_local_supplier",
    "q10_returned_items", "q18_large_volume", "q_asof_backward", "q_session",
    "q_window_join", "q_interval_join")

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val seed = a.opt("seed").toLong
    val outDir = s"${a.work}/out"
    Files.writeString(Paths.get(s"${a.work}/oracle.json"),
      Json.write(Names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    val queries = SparkEntry.queries

    // set-up: plan and run the flagship scan once over fresh readers
    Main.repeatedSetup(a, res) { _ =>
      queries("q1_agg")(spark, a.in).count()
    }

    val trace = if (a.trace) Some(new Trace.Session(spark)) else None
    trace.foreach(_.attach())
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = Main.now()
    val t0Ms = System.currentTimeMillis()
    // at least three passes, so the median is a warm one (the first pass
    // compiles eight of the nine queries); after that, another only
    // while it would end inside the window at the previous pass's pace
    var last = 0.0
    while (passes.size < 3 || Main.now() + last - t0 < a.seconds) {
      val p = passes.size
      val ps = Main.now()
      val walls = rng.shuffle(Names).map { n =>
        val s = Main.now()
        Trace.span(spark, s"scan.$n", s"pass$p") {
          queries(n)(spark, a.in).write.mode("overwrite").parquet(s"$outDir/$n")
        }
        graft.core.Caches.drain()
        n -> (Main.now() - s)
      }.toMap
      passes += walls
      last = Main.now() - ps
    }
    val wallMs = System.currentTimeMillis() - t0Ms
    res("passes") = passes.toSeq
    res("out_dir") = outDir

    trace.foreach { t =>
      t.detach()
      res("layers") = Main.sparkLayers(t, passes.size, wallMs, Main.LayerFiles) ++
        Names.map(n => s"scan.${n}_s" -> Main.median(passes.map(_(n)).toSeq))
      Main.traceRecords(t, res)
    }
  }
}
