package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{InvoicePipeline, PurchaseCsv, Sessionizer}

/** Drives `InvoicePipeline.runUnified` (flatMapGroupsWithState sessionizer,
  * 1 s trigger, 2 s expiry) over a generated [[Gen.Feed]] and records when
  * each (topic, value) row reaches the sink. */
object StreamBench {

  val ExpiryMs = 2000L
  val TickMs = 100L
  val Blocks = 8
  /** How long a run waits for the last chunk to be read, and then for the
    * last invoice to be emitted. */
  private val WaitMs = 60000L

  /** The pinned models: kmeans threshold −1 (every valid non-cancellation
    * invoice is a kmeans row, so every invoice yields a latency sample);
    * a finite bisecting threshold. */
  val Models: InvoicePipeline.Models = InvoicePipeline.Models(
    Seq(Gen.Center), -1.0, Seq(Gen.Center), Gen.BisectThreshold)

  final case class Emission(topic: String, value: String, atMs: Long)

  /** What one stream run observed. `readyMs(inv)` is when the invoice's
    * last line was due (paced) or when the burst began (burst). */
  final case class Outcome(
      emissions: Seq[Emission], readyMs: Map[String, Long], startMs: Long,
      genLateMsMax: Double, sinkMsSum: Double, feedLog: Seq[(Long, Long)],
      queryId: String, complete: Boolean, expiryMs: Long = ExpiryMs,
      consumedMs: Long = 0) {

    def invoiceOf(e: Emission): String =
      if (e.topic == Gen.Erroneous) e.value.takeWhile(_ != ',') else e.value

    /** Per invoice: first emission − ready time − expiry, in ms. */
    def latenciesMs: Seq[Double] =
      emissions.groupBy(invoiceOf).toSeq.flatMap { case (inv, es) =>
        readyMs.get(inv).map(r => (es.map(_.atMs).min - r - expiryMs).toDouble)
      }

    def lastEmitMs: Long = if (emissions.isEmpty) startMs else emissions.map(_.atMs).max

    /** Burst: the `q`-quantile over lines of the time from the burst start
      * to the end of the micro-batch that read the line, in ms. Chunk k
      * was read by the batch whose sink offered chunk k + 1 (`feedLog`
      * holds when each chunk went in and the lines through it). */
    def readLatencyMs(q: Double): Double = {
      val doneAt = feedLog.drop(1).map(_._1) :+ consumedMs
      val line = math.ceil(q * feedLog.last._2).toLong
      (doneAt(feedLog.indexWhere(_._2 >= line)) - startMs).toDouble
    }

    def multiset: Map[(String, String), Int] =
      emissions.groupBy(e => (e.topic, e.value)).map { case (k, v) => k -> v.size }
  }

  sealed trait Mode
  /** Open loop: `rate` lines/s in 100 ms ticks on a fixed schedule. */
  final case class Paced(rate: Int) extends Mode
  /** All lines offered in `chunks` equal pieces, the next one as soon as
    * the sink has seen the previous micro-batch, so batch boundaries
    * repeat. */
  final case class Burst(chunks: Int) extends Mode

  /** An injected sink stall for tests: the first micro-batch reaching the
    * sink `afterMs` past the start sleeps `ms`. */
  final case class Stall(afterMs: Long, ms: Long)

  /** Runs `feed` through the pipeline. `triggerMs` and `expiryMs` are the
    * benchmark's 1 s / 2 s except in set-up warm-ups, which use short ones
    * so that warming does not wait on the trigger grid. */
  def run(spark: SparkSession, feed: Gen.Feed, mode: Mode, ckpt: String,
          stall: Option[Stall] = None,
          triggerMs: Long = 1000, expiryMs: Long = ExpiryMs): Outcome = {
    implicit val s: SparkSession = spark
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val emissions = new ConcurrentLinkedQueue[Emission]()
    val sinkNs = new java.util.concurrent.atomic.AtomicLong()
    val chunks = mode match {
      case Burst(n) => feed.lines.grouped((feed.lines.length + n - 1) / n).toVector
      case _        => Vector.empty
    }
    // a chunk goes in as Blocks memory-stream blocks, so its micro-batch
    // reads Blocks input partitions, like a multi-partition source
    def offer(chunk: Array[String]): Unit =
      chunk.grouped(math.max(1, (chunk.length + Blocks - 1) / Blocks)).foreach(b => input.addData(b.toSeq))
    val nextChunk = new java.util.concurrent.atomic.AtomicInteger(1)
    val chunkAt = new Array[Long](math.max(1, chunks.size))
    @volatile var startMs = 0L
    @volatile var stalled = false
    @volatile var consumedMs = 0L
    val sink: (DataFrame, Long) => Unit = (batch, _) => {
      val t0 = System.nanoTime()
      stall.foreach { st =>
        if (!stalled && startMs > 0 && System.currentTimeMillis() >= startMs + st.afterMs) {
          stalled = true
          Thread.sleep(st.ms)
        }
      }
      val rows = batch.collect()
      val now = System.currentTimeMillis()
      rows.foreach(r => emissions.add(Emission(r.getString(0), r.getString(1), now)))
      val k = nextChunk.get()
      if (k < chunks.size) {
        chunkAt(k) = System.currentTimeMillis()
        offer(chunks(k))
        nextChunk.incrementAndGet()
      } else if (consumedMs == 0 && chunks.nonEmpty) {
        // this micro-batch processed the last chunk
        consumedMs = System.currentTimeMillis()
      }
      sinkNs.addAndGet(System.nanoTime() - t0)
    }
    val q = InvoicePipeline.runUnified(input.toDS(), Models, sink, ckpt,
      sessionTimeout = s"$expiryMs milliseconds",
      trigger = Trigger.ProcessingTime(s"$triggerMs milliseconds"))
    val expectedInvoices = feed.invoices.size
    val feedLog = Vector.newBuilder[(Long, Long)]
    var lateMax = 0.0
    val ready: Map[String, Long] = try {
      mode match {
        case Paced(rate) =>
          val perTick = math.max(1, rate / 10)
          // start 50 ms past a whole second: the trigger grid is whole
          // seconds, so every run sees the same tick-to-trigger phase
          val now = System.currentTimeMillis()
          val start = (now / 1000 + 1) * 1000 + 50
          Thread.sleep(start - now)
          startMs = start
          var fed = 0
          var tick = 0
          while (fed < feed.lines.length) {
            val due = start + tick * TickMs
            val ahead = due - System.currentTimeMillis()
            if (ahead > 0) Thread.sleep(ahead)
            lateMax = math.max(lateMax, (System.currentTimeMillis() - due).toDouble)
            val n = math.min(perTick, feed.lines.length - fed)
            input.addData(feed.lines.slice(fed, fed + n).toSeq)
            fed += n
            feedLog += ((due, fed.toLong))
            tick += 1
          }
          feed.lastLine.map { case (inv, idx) => inv -> (start + (idx / perTick) * TickMs) }
        case Burst(_) =>
          // wait until the query is idle so its start-up is not timed
          val deadline = System.currentTimeMillis() + 30000
          while (q.status.message != "Waiting for data to arrive" &&
                 System.currentTimeMillis() < deadline) Thread.sleep(10)
          // offer 50 ms past a whole second; the trigger grid is whole
          // multiples of the interval, so the first micro-batch always
          // starts at the next grid point, which is where timing starts
          val now = System.currentTimeMillis()
          val offerAt = (now / triggerMs + 1) * triggerMs + 50
          Thread.sleep(offerAt - now)
          val t = offerAt - 50 + triggerMs
          startMs = t
          chunkAt(0) = t
          offer(chunks(0))
          val deadline2 = System.currentTimeMillis() + WaitMs
          while (nextChunk.get() < chunks.size && System.currentTimeMillis() < deadline2)
            Thread.sleep(5)
          val c = chunks.head.length
          chunkAt.indices.foreach(k => feedLog += ((chunkAt(k), math.min(feed.lines.length, (k + 1L) * c))))
          // the whole input is offered at the start; chunks only fix where
          // micro-batches begin and end
          feed.lastLine.map { case (inv, _) => inv -> t }
      }
    } catch { case e: Throwable => q.stop(); throw e }
    val deadline = System.currentTimeMillis() + WaitMs
    def invoicesSeen = emissions.asScala.map(e => (e.topic, e.value)).map {
      case (Gen.Erroneous, v) => v.takeWhile(_ != ',')
      case (_, v)             => v
    }.toSet.size
    while (invoicesSeen < expectedInvoices && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val complete = invoicesSeen >= expectedInvoices
    q.stop()
    Outcome(emissions.asScala.toVector, ready, startMs, lateMax, sinkNs.get() / 1e6,
      feedLog.result(), q.id.toString, complete, expiryMs, consumedMs)
  }

  /** The batch fold's rows and, when stepped, the time of each step
    * materialized from its cached parent: parse+route, sessionize,
    * classify+score+route, and the events the parser routed. */
  final case class Fold(rows: Map[(String, String), Int], parseMs: Double = 0,
                        sessionizeMs: Double = 0, routeMs: Double = 0, routedEvents: Long = 0)

  /** The batch fold of the same lines — the correctness reference:
    * `lines.flatMap(PurchaseCsv.route)` → `Sessionizer.sessionizeBatch` →
    * `routeBatchUnified`. Unstepped it runs as one job, without the
    * caching and counting that the step timings need. */
  def fold(spark: SparkSession, lines: Array[String], stepped: Boolean): Fold = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def multiset(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq
      .map(r => (r.getString(0), r.getString(1))).groupBy(identity).map { case (k, v) => k -> v.size }
    if (!stepped) Fold(multiset(InvoicePipeline.routeBatchUnified(Models)(
      Sessionizer.sessionizeBatch(spark.createDataset(lines.toSeq).flatMap(PurchaseCsv.route _)))
      .collect()))
    else {
      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
      }
      val src = spark.createDataset(lines.toSeq).cache()
      src.count()
      val (events, parseMs) = timed {
        val e = src.flatMap(PurchaseCsv.route _).cache(); (e, e.count())
      }
      val (sessions, sessMs) = timed {
        val x = Sessionizer.sessionizeBatch(events._1).cache(); x.count(); x
      }
      val (rows, routeMs) = timed {
        InvoicePipeline.routeBatchUnified(Models)(sessions).collect()
      }
      sessions.unpersist(); events._1.unpersist(); src.unpersist()
      Fold(multiset(rows), parseMs, sessMs, routeMs, events._2)
    }
  }

  /** Size of the multiset symmetric difference. */
  def mismatches(a: Map[(String, String), Int], b: Map[(String, String), Int]): Int =
    (a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0))).sum
}
