package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput measurement: pump N synthetic purchase lines
  * through parse → sessionize → classify fan-out and report lines/sec.
  * The reference's producer feeds ~100–200 lines/s (BASELINE.md); this
  * measures how far above that the Structured Streaming pipeline sits on
  * one node.
  *
  * Two modes:
  *  - unmetered (rate = 0, the legacy mode): all lines enqueued at once,
  *    reports drain throughput — the "how fast CAN it go" ceiling.
  *  - metered (rate > 0): lines are fed at a pinned rate in 100 ms
  *    quanta with each invoice's lines CONTIGUOUS, so sessions complete
  *    throughout the replay and every emission's end-to-end latency is
  *    measurable: emit wall time − last-line ingest wall time − the
  *    session-expiry contract (2 s). The sink identifies invoices from
  *    the unified router's (topic, value) rows (threshold −1 ⇒ every
  *    valid invoice reaches the kmeans topic exactly once), so the
  *    reported sessions/s and latency percentiles are measured AT THE
  *    SINK, after state expiry and classification — the number of
  *    record for streaming performance (THROUGHPUT.md).
  *
  * A 4th arg `tws` swaps the sessionizer onto transformWithState
  * ([[SessionizerTws.ProcTimeSessionProcessor]]) for the fMGWS-vs-TWS
  * number-of-record pair (THROUGHPUT.md): same feed protocol, same
  * sinks, only the state API differs.
  *
  * Usage: runMain graft.streaming.ThroughputMain [nLines] [nInvoices] [ratePerSec] [tws]
  */
object ThroughputMain {
  def main(args: Array[String]): Unit = {
    val nLines = if (args.nonEmpty) args(0).toInt else 200000
    val nInvoices = if (args.length > 1) args(1).toInt else 20000
    val ratePerSec = if (args.length > 2) args(2).toInt else 0
    val useTws = args.length > 3 && args(3) == "tws"

    implicit val spark: SparkSession = graft.Sessions.local(rocksDb = true)
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // threshold -1 ⇒ every valid invoice scores above it and reaches the
    // kmeans sink, so "all invoices emitted" is observable at the sinks
    val models = InvoicePipeline.Models(
      Seq(Seq(5.0, 1.0, 10.0, 12.0, 20.0)), -1.0,
      Seq(Seq(5.0, 1.0, 10.0, 12.0, 20.0)), 1e12)
    val sessionTimeoutMs = 2000L

    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("tp-ckpt").toString

    if (ratePerSec <= 0) {
      // ---- unmetered drain ceiling (legacy mode) --------------------------
      val emitted = new java.util.concurrent.atomic.AtomicLong()
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (b, _) => emitted.addAndGet(b.count())
      val q = InvoicePipeline.runUnified(input.toDS(), models, sink, ckpt,
        sessionTimeout = "2 seconds",
        trigger = Trigger.ProcessingTime("1 second"),
        tws = useTws)

      val lines = (0 until nLines).map { i =>
        val inv = i % nInvoices
        s"$inv,SC$i,ITEM,${i % 10 + 1},7/19/2011 ${i % 24}:15,${(i % 500) / 10.0 + 0.5},cust${inv % 997},Spain"
      }
      val t0 = System.nanoTime()
      lines.grouped(20000).foreach(batch => input.addData(batch))
      val deadline = System.currentTimeMillis() + 300000
      while (emitted.get() < nInvoices && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      println(f"THROUGHPUT api=${if (useTws) "tws" else "fmgws"} " +
        f"lines=$nLines invoices_emitted=${emitted.get()} " +
        f"secs=$secs%.1f lines_per_sec=${nLines / secs}%.0f")
    } else {
      // ---- metered replay with per-session end-to-end latency -------------
      require(nLines % nInvoices == 0,
        s"metered mode needs nLines divisible by nInvoices: $nLines / $nInvoices")
      val linesPerInvoice = nLines / nInvoices
      val lastLineWall = new Array[Long](nInvoices)
      val emissions =
        new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
        // one kmeans row per valid invoice: value IS the invoice number
        val invs = b.filter(org.apache.spark.sql.functions.col("topic") ===
            "anomalias_kmeans")
          .select("value").collect().map(_.getString(0).toInt)
        val now = System.currentTimeMillis()
        invs.foreach(i => emissions.add((i, now)))
      }
      val q = InvoicePipeline.runUnified(input.toDS(), models, sink, ckpt,
        sessionTimeout = "2 seconds",
        trigger = Trigger.ProcessingTime("1 second"),
        tws = useTws)

      // contiguous invoices: invoice i owns lines [i*lpi, (i+1)*lpi)
      def line(i: Int): String = {
        val inv = i / linesPerInvoice
        s"$inv,SC$i,ITEM,${i % 10 + 1},7/19/2011 ${i % 24}:15,${(i % 500) / 10.0 + 0.5},cust${inv % 997},Spain"
      }
      val quantum = math.max(1, ratePerSec / 10) // 100 ms ticks
      val t0 = System.nanoTime()
      val start = System.currentTimeMillis()
      var fed = 0
      var tick = 0
      while (fed < nLines) {
        val n = math.min(quantum, nLines - fed)
        input.addData((fed until fed + n).map(line))
        val now = System.currentTimeMillis()
        // invoices whose LAST line sits in this quantum just completed
        var inv = fed / linesPerInvoice
        val lastInv = (fed + n - 1) / linesPerInvoice
        while (inv <= lastInv) {
          if ((inv + 1) * linesPerInvoice <= fed + n) lastLineWall(inv) = now
          inv += 1
        }
        fed += n
        tick += 1
        val ahead = start + tick * 100L - System.currentTimeMillis()
        if (ahead > 0) Thread.sleep(ahead)
      }
      val feedSecs = (System.nanoTime() - t0) / 1e9
      val deadline = System.currentTimeMillis() + 300000
      while (emissions.size() < nInvoices && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()

      val lats = {
        import scala.jdk.CollectionConverters._
        emissions.asScala.toSeq.collect {
          case (inv, emitWall) if lastLineWall(inv) > 0 =>
            emitWall - lastLineWall(inv) - sessionTimeoutMs
        }.sorted
      }
      def pct(p: Double): Long =
        if (lats.isEmpty) -1L
        else lats(math.min(lats.size - 1, (p * lats.size).toInt))
      println(f"THROUGHPUT api=${if (useTws) "tws" else "fmgws"} " +
        f"lines=$nLines rate=$ratePerSec " +
        f"invoices_emitted=${emissions.size()} feed_secs=$feedSecs%.1f " +
        f"secs=$secs%.1f lines_per_sec=${nLines / secs}%.0f " +
        f"sessions_per_sec=${emissions.size() / secs}%.0f " +
        f"lat_over_expiry_p50_ms=${pct(0.5)} lat_over_expiry_p95_ms=${pct(0.95)} " +
        f"lat_over_expiry_max_ms=${pct(1.0)}")
    }
    spark.stop()
  }
}
