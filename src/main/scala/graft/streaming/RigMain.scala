package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** The streaming load rig: synthetic purchase lines replayed from a
  * MemoryStream through the whole processing-time pipeline
  * ([[InvoicePipeline.runUnified]]: parse → sessionize → classify → score →
  * (topic, value) router, 1 s trigger, RocksDB state) on either state
  * machine, `fmgws` or `tws` ([[SessionizerTws.ProcTimeSessionProcessor]]).
  * Four feeds:
  *  - `drain [nLines] [nInvoices]`: every line enqueued at once, invoices
  *    interleaved (line i belongs to invoice i % nInvoices), 2 s expiry.
  *    Reports the drain rate, the "how fast can it go" ceiling.
  *  - `paced [nLines] [nInvoices] [ratePerSec]`: lines fed at a pinned rate
  *    in 100 ms quanta, each invoice's lines contiguous, 2 s expiry, so
  *    sessions complete throughout the replay. Reports each invoice's
  *    latency beyond the expiry: emit wall time − last-line wall time −
  *    2000 ms, measured at the sink.
  *  - `wide [nInvoices] [linesPerInvoice]`: ten waves, each opening new
  *    invoices, 10 min expiry, so the store ends holding every invoice
  *    live. Per-batch cost should track the batch, not the key count.
  *  - `long [nInvoices] [linesPerInvoice]`: ten waves, each appending a
  *    tenth of every invoice's lines to the same open sessions: the store
  *    grows in session length, where GroupState's blob rewrite and
  *    ListState's append separate.
  *
  * The kmeans threshold is −1, so every valid invoice reaches the kmeans
  * topic exactly once and the sink sees each emitted invoice. A run prints
  * one `BATCH` line per executed micro-batch and one summary line,
  * `THROUGHPUT …` (drain, paced) or `STATESCALE …` (wide, long), with the
  * keys THROUGHPUT.md quotes.
  *
  * Usage: runMain graft.streaming.RigMain <drain|paced|wide|long> <fmgws|tws> [sizes…]
  */
object RigMain {

  /** One executed micro-batch: its durations from the query progress, the
    * invoices the sink saw in it and, in paced mode, the largest
    * over-expiry latency among them (−1 otherwise). */
  final case class Batch(id: Long, inputRows: Long, triggerMs: Long, addBatchMs: Long,
                         stateRows: Long, rocksdbMb: Double, emitted: Int, latMaxMs: Long) {
    def line: String =
      f"BATCH $id%3d input=$inputRows%7d triggerMs=$triggerMs%6d addBatchMs=$addBatchMs%6d " +
        f"stateRows=$stateRows%8d rocksdbMB=$rocksdbMb%8.1f emitted=$emitted%6d latMaxMs=$latMaxMs%6d"
  }

  /** A finished run: the summary line, the invoices emitted at the sink,
    * the live state rows after the last data batch, and every batch. */
  final case class Report(summary: String, emitted: Int, liveStateRows: Long, batches: Seq[Batch])

  private val Center = Seq(5.0, 1.0, 10.0, 12.0, 20.0)
  private val Models = InvoicePipeline.Models(Seq(Center), -1.0, Seq(Center), 1e12)

  /** Line `j` of invoice `inv`. Invoice numbers are numeric: the sink
    * parses the kmeans rows' values as Int. */
  private def line(inv: Int, j: Int): String =
    s"$inv,SC$j,ITEM,${j % 10 + 1},7/19/2011 ${inv % 24}:15," +
      s"${(inv % 500) / 10.0 + 0.5},cust${inv % 997},Spain"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("drain")
    implicit val spark: SparkSession = graft.Sessions.local(rocksDb = true)
    try {
      val r = run(mode, tws = args.lift(1).contains("tws"), args.drop(2).map(_.toInt).toSeq)
      r.batches.foreach(b => println(b.line))
      println(r.summary)
    } finally spark.stop()
  }

  /** Run one `mode` feed (sizes as in the usage line; defaults where
    * absent) and report. The query and the listener are gone on return. */
  def run(mode: String, tws: Boolean, sizes: Seq[Int] = Nil)
         (implicit spark: SparkSession): Report = {
    require(Set("drain", "paced", "wide", "long")(mode), s"unknown rig mode: $mode")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def size(i: Int, default: Int): Int = sizes.lift(i).getOrElse(default)
    val expiring = mode == "drain" || mode == "paced"
    val expiryMs = if (expiring) 2000L else 600000L
    val api = if (tws) "tws" else "fmgws"

    // (batch id, invoice, emit wall ms) per kmeans row
    val emissions = new ConcurrentLinkedQueue[(Long, Int, Long)]()
    val sink: (DataFrame, Long) => Unit = (b, id) => {
      val invs = b.filter(col("topic") === "anomalias_kmeans")
        .select("value").collect().map(_.getString(0).toInt)
      val now = System.currentTimeMillis()
      invs.foreach(i => emissions.add((id, i, now)))
    }
    // every progress event; the query's own are picked by run id. A
    // listener, not recentProgress: that is a ring buffer and a long run
    // would lose its early batches.
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("rig-ckpt").toString
    spark.streams.addListener(listener)
    try {
      val q = InvoicePipeline.runUnified(input.toDS(), Models, sink, ckpt,
        sessionTimeout = if (expiring) "2 seconds" else "10 minutes",
        trigger = Trigger.ProcessingTime("1 second"), tws = tws)
      def own = progress.asScala.filter(_.runId == q.runId)
      // NB: processAllAvailable() hangs here: with processing-time expiry
      // every trigger runs a batch, so the no-new-data latch never sticks
      def await(what: => String, limitMs: Long)(done: => Boolean): Unit = {
        val deadline = System.currentTimeMillis() + limitMs
        while (!done && q.exception.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        q.exception.foreach(e => throw e)
        require(done, s"rig $mode/$api: $what")
      }
      // wall time of each invoice's last fed line (paced only)
      var lastLineWall = Array.empty[Long]
      // stop between triggers, wait for the listener to see the query's
      // last progress, then read every batch that ran
      lazy val batches: Seq[Batch] = {
        while (q.isActive && q.status.isTriggerActive) Thread.sleep(5)
        q.stop()
        val last = Option(q.lastProgress).map(_.timestamp)
        await("last progress never reached the listener", 10000L)(
          last.forall(t => own.exists(_.timestamp == t)))
        val emittedIn = emissions.asScala.toSeq.groupBy(_._1)
        own.filter(_.durationMs.containsKey("addBatch")).toSeq.sortBy(_.batchId).map { p =>
          val so = p.stateOperators.headOption
          val es = emittedIn.getOrElse(p.batchId, Nil)
          Batch(p.batchId, p.numInputRows, p.durationMs.get("triggerExecution"),
            p.durationMs.get("addBatch"), so.fold(-1L)(_.numRowsTotal),
            so.fold(-1.0)(rocksdbMb), es.size,
            if (lastLineWall.isEmpty || es.isEmpty) -1L
            else es.map { case (_, inv, at) => at - lastLineWall(inv) - expiryMs }.max)
        }
      }
      def data = batches.filter(_.inputRows > 0)
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      try {
        val summary = mode match {
          case "drain" =>
            val (nLines, nInvoices) = (size(0, 200000), size(1, 20000))
            (0 until nLines).map(i => line(i % nInvoices, i)).grouped(20000).foreach(input.addData(_))
            await(s"${emissions.size} of $nInvoices invoices emitted", 300000L)(
              emissions.size >= nInvoices)
            val s = secs
            f"THROUGHPUT api=$api lines=$nLines invoices_emitted=${emissions.size} " +
              f"secs=$s%.1f lines_per_sec=${nLines / s}%.0f"
          case "paced" =>
            val (nLines, nInvoices, rate) = (size(0, 150000), size(1, 15000), size(2, 5000))
            require(nLines % nInvoices == 0,
              s"paced mode needs nLines divisible by nInvoices: $nLines / $nInvoices")
            val perInvoice = nLines / nInvoices
            lastLineWall = new Array[Long](nInvoices)
            val quantum = math.max(1, rate / 10)
            val start = System.currentTimeMillis()
            var fed = 0
            var tick = 0
            while (fed < nLines) {
              val n = math.min(quantum, nLines - fed)
              input.addData((fed until fed + n).map(i => line(i / perInvoice, i)))
              val now = System.currentTimeMillis()
              // invoices whose last line is in this quantum just completed
              (fed / perInvoice until (fed + n) / perInvoice).foreach(lastLineWall(_) = now)
              fed += n
              tick += 1
              val ahead = start + tick * 100L - System.currentTimeMillis()
              if (ahead > 0) Thread.sleep(ahead)
            }
            val feedSecs = secs
            await(s"${emissions.size} of $nInvoices invoices emitted", 300000L)(
              emissions.size >= nInvoices)
            val s = secs
            val lats = emissions.asScala.toSeq.map { case (_, inv, at) =>
              at - lastLineWall(inv) - expiryMs }.sorted
            def pct(p: Double): Long =
              if (lats.isEmpty) -1L else lats(math.min(lats.size - 1, (p * lats.size).toInt))
            f"THROUGHPUT api=$api lines=$nLines rate=$rate " +
              f"invoices_emitted=${emissions.size} feed_secs=$feedSecs%.1f " +
              f"secs=$s%.1f lines_per_sec=${nLines / s}%.0f " +
              f"sessions_per_sec=${emissions.size / s}%.0f " +
              f"lat_over_expiry_p50_ms=${pct(0.5)} lat_over_expiry_p95_ms=${pct(0.95)} " +
              f"lat_over_expiry_max_ms=${pct(1.0)}"
          case _ =>
            val (nInvoices, perInvoice) =
              if (mode == "wide") (size(0, 500000), size(1, 2)) else (size(0, 20000), size(1, 200))
            val waves: Iterator[Seq[String]] =
              if (mode == "wide")
                (0 until nInvoices).grouped(math.max(nInvoices / 10, 1))
                  .map(_.flatMap(inv => (0 until perInvoice).map(line(inv, _))))
              else {
                require(perInvoice % 10 == 0, s"linesPerInvoice must divide by 10: $perInvoice")
                val perWave = perInvoice / 10
                Iterator.range(0, 10).map(w => (0 until nInvoices).flatMap(inv =>
                  (0 until perWave).map(j => line(inv, w * perWave + j))))
              }
            // wait each wave out, so each data batch is one wave
            var fed = 0L
            waves.foreach { wave =>
              input.addData(wave)
              fed += wave.size
              await(s"ingest incomplete: ${own.map(_.numInputRows).sum} of $fed lines", 600000L)(
                own.map(_.numInputRows).sum >= fed)
            }
            val s = secs
            val last = data.lastOption
            f"STATESCALE api=$api mode=$mode invoices=$nInvoices lines=$fed " +
              f"ingest_secs=$s%.1f lines_per_sec=${fed / s}%.0f " +
              f"live_state_rows=${last.fold(-1L)(_.stateRows)} " +
              f"rocksdb_mb=${last.fold(-1.0)(_.rocksdbMb)}%.1f " +
              f"avg_addbatch_ms=${data.map(_.addBatchMs).sum / math.max(1, data.size)} " +
              f"last_addbatch_ms=${last.fold(-1L)(_.addBatchMs)}"
        }
        Report(summary, emissions.size, data.lastOption.fold(-1L)(_.stateRows), batches)
      } finally q.stop()
    } finally spark.streams.removeListener(listener)
  }

  /** The RocksDB store's footprint: memoryUsedBytes covers only the block
    * cache's slice, so read the store's own metrics. */
  private def rocksdbMb(so: org.apache.spark.sql.streaming.StateOperatorProgress): Double = {
    val m = so.customMetrics
    (m.getOrDefault("rocksdbTotalMemoryUsage", 0L).longValue +
      m.getOrDefault("rocksdbSstFileSize", 0L).longValue) / 1048576.0
  }
}
