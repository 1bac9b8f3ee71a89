package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Streaming-state scale probe: hold a large number of sessions LIVE in the
  * RocksDB state store simultaneously (long session timeout, every invoice
  * open at once) and report what the 100 TB posture claim rests on —
  * state-store row count, state memory, and per-batch latency as the store
  * grows. The claim being measured: per-trigger work is proportional to the
  * BATCH, not to the number of live sessions (state is point-updated, never
  * rescanned).
  *
  * A 3rd arg `tws` swaps the sessionizer onto transformWithState
  * ([[SessionizerTws.ProcTimeSessionProcessor]]): same waves, same
  * store, only the state API differs. With a LONG-session fixture
  * (linesPerInvoice in the hundreds, invoices re-fed across waves) the
  * asymptotics the TWS ListState claims actually separate: GroupState
  * rewrites each touched session's whole accumulated blob per batch
  * (write volume grows with session length), ListState appends only the
  * batch's new lines (write volume stays flat).
  *
  * A 4th arg `long` switches the feed shape: instead of each wave opening
  * NEW invoices (store grows in key count, sessions stay short), every
  * wave appends linesPerInvoice/10 MORE lines to the SAME nInvoices open
  * sessions (store constant in keys, sessions grow 10× across the run) —
  * the fixture where the per-wave write-volume asymmetry is visible in
  * the per-batch curve.
  *
  * Usage: runMain graft.streaming.StateScaleMain [nInvoices] [linesPerInvoice] [tws|fmgws] [long]
  */
object StateScaleMain {
  def main(args: Array[String]): Unit = {
    val nInvoices = if (args.nonEmpty) args(0).toInt else 500000
    val linesPer = if (args.length > 1) args(1).toInt else 2
    val useTws = args.length > 2 && args(2) == "tws"
    val longSessions = args.length > 3 && args(3) == "long"

    implicit val spark: SparkSession = graft.Sessions.local(rocksDb = true)
    // read at query start: keep every batch's progress for the curve
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "500")
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emitted = new java.util.concurrent.atomic.AtomicLong()
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => emitted.addAndGet(b.count())
    val models = InvoicePipeline.Models(
      Seq(Seq(5.0, 1.0, 10.0, 12.0, 20.0)), -1.0,
      Seq(Seq(5.0, 1.0, 10.0, 12.0, 20.0)), 1e12)

    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("ss-ckpt").toString
    // 10-minute inactivity timeout: nothing expires during the run, so the
    // store ends the ingest holding every invoice as live state
    val q = InvoicePipeline.runUnified(input.toDS(), models, sink, ckpt,
      sessionTimeout = "10 minutes",
      trigger = Trigger.ProcessingTime("1 second"),
      tws = useTws)

    // NB: processAllAvailable() hangs under ProcessingTimeTimeout (every
    // trigger forces a batch, the no-new-data latch never sticks) — poll
    // a listener-accumulated row count instead. A listener, not a
    // recentProgress sum: recentProgress is a ring buffer
    // (numRecentProgressUpdates entries) and long runs would undercount
    // once early batches are evicted.
    val processedRows = new java.util.concurrent.atomic.AtomicLong()
    val dataBatches = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        processedRows.addAndGet(e.progress.numInputRows)
        if (e.progress.numInputRows > 0) dataBatches.add(e.progress)
      }
      override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def awaitProcessed(target: Long): Unit = {
      val deadline = System.currentTimeMillis() + 600000
      while (processedRows.get() < target && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      require(processedRows.get() >= target,
        s"ingest incomplete: ${processedRows.get()} of $target lines")
    }

    // feed in WAVES, waiting each wave out. Wide mode (default): each wave
    // opens NEW invoices — per-batch latency must stay flat as the
    // live-session COUNT climbs (batch-proportional, not
    // store-proportional). Long mode: each wave appends more lines to the
    // SAME invoices — per-batch latency must stay flat as session LENGTH
    // climbs, which only holds for a state layout that appends (ListState)
    // rather than rewrites the accumulated blob (GroupState).
    val t0 = System.nanoTime()
    var fed = 0L
    if (longSessions) {
      val waves = 10
      require(linesPer % waves == 0, s"linesPerInvoice must divide by $waves")
      val perWave = linesPer / waves
      (0 until waves).foreach { w =>
        input.addData((0 until nInvoices).flatMap { inv =>
          (0 until perWave).map { j =>
            val line = w * perWave + j
            s"INV$inv,SC$line,ITEM,${line + 1},7/19/2011 ${inv % 24}:15,${(inv % 500) / 10.0 + 0.5},cust${inv % 997},Spain"
          }
        })
        fed += nInvoices.toLong * perWave
        awaitProcessed(fed)
      }
    } else {
      val wave = math.max(nInvoices / 10, 1)
      (0 until nInvoices).grouped(wave).foreach { invs =>
        input.addData(invs.flatMap { inv =>
          (0 until linesPer).map { line =>
            s"INV$inv,SC$line,ITEM,${line + 1},7/19/2011 ${inv % 24}:15,${(inv % 500) / 10.0 + 0.5},cust${inv % 997},Spain"
          }
        })
        fed += invs.size.toLong * linesPer
        awaitProcessed(fed)
      }
    }
    val ingestSecs = (System.nanoTime() - t0) / 1e9

    // progress of the batches that actually carried data, oldest→newest:
    // if per-batch latency is flat while numRowsTotal climbs to nInvoices,
    // trigger cost tracks the batch, not the store
    import scala.jdk.CollectionConverters._
    val progress = dataBatches.asScala.toSeq.sortBy(_.batchId)
    def rocksdbMb(so: org.apache.spark.sql.streaming.StateOperatorProgress): Double = {
      // memoryUsedBytes only covers the block-cache slice for RocksDB; the
      // store's real footprint is the custom metrics
      val m = so.customMetrics
      (m.getOrDefault("rocksdbTotalMemoryUsage", 0L).longValue +
        m.getOrDefault("rocksdbSstFileSize", 0L).longValue) / 1048576.0
    }
    progress.foreach { p =>
      val so = p.stateOperators.headOption
      println(f"BATCH ${p.batchId}%3d input=${p.numInputRows}%7d " +
        f"addBatchMs=${p.durationMs.getOrDefault("addBatch", -1L)}%6d " +
        f"stateRows=${so.map(_.numRowsTotal).getOrElse(-1L)}%8d " +
        f"rocksdbMB=${so.map(rocksdbMb).getOrElse(-1.0)}%8.1f")
    }
    val last = progress.last
    val lastSo = last.stateOperators.head
    val avgMs = progress.map(_.durationMs.getOrDefault("addBatch", 0L).longValue).sum / progress.length
    println(f"STATESCALE api=${if (useTws) "tws" else "fmgws"} " +
      f"mode=${if (longSessions) "long" else "wide"} " +
      f"invoices=$nInvoices lines=$fed ingest_secs=$ingestSecs%.1f " +
      f"lines_per_sec=${fed / ingestSecs}%.0f live_state_rows=${lastSo.numRowsTotal} " +
      f"rocksdb_mb=${rocksdbMb(lastSo)}%.1f avg_addbatch_ms=$avgMs " +
      f"last_addbatch_ms=${last.durationMs.getOrDefault("addBatch", -1L)}")

    q.stop()
    spark.stop()
  }
}
