package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Gates, Purchase, SessionizerTws, TimedLineEvent}

/** Round-14 verdict #6: promote the timer point-delete discipline from
  * prose (THROUGHPUT.md's 1.7× overload-drain win) to a fenced
  * regression check. Two fences:
  *
  *  1. METRIC PROFILE — the TWS operator's own custom metrics
  *     (`numRegisteredTimers` / `numDeletedTimers` / `numExpiredTimers`)
  *     over a controlled four-batch feed are pinned EXACTLY to the
  *     point-delete arithmetic, including the zero-op re-touch: a batch
  *     that touches every key with an UNCHANGED deadline must perform
  *     ZERO timer store ops (the optimization's whole point — an
  *     unconditional delete+re-arm doubles timer write volume and fails
  *     the pin).
  *  2. SOURCE FENCE — the hot path must not contain a timer SCAN:
  *     `listTimers()` is a timer-column-family iteration per touched key
  *     and is invisible to the timer write metrics, so the regression
  *     that halved drain throughput (round-14 measurement) is caught by
  *     name at the source level, comments excluded.
  */
class TwsTimerFenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val BaseMs = 1700000000000L

  private def ev(inv: String, tSec: Long): TimedLineEvent =
    TimedLineEvent(inv, new java.sql.Timestamp(BaseMs + tSec * 1000L),
      Some(Purchase(inv, 1, "1/2/2024 7:15", 1.0, "c", "ES")), None)

  test("timer store-op profile is EXACTLY the point-delete discipline " +
    "(first-arm, zero-op re-touch, point re-arm, expiry)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[TimedLineEvent]
    // 10 s gap, 600 s watermark delay: the watermark stays far below
    // the working timestamps until the sentinel, so deadlines are
    // purely maxEventMs + gap and the zero-op re-touch is exact
    val out = SessionizerTws.sessionizeEventTime(
      input.toDS(), gapMs = 10000L, watermarkDelay = "600 seconds")
    val name = "tws_timer_fence"
    val q = Gates.start(spark, tws = true) {
      out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    }
    try {
      // batch 1: 10 fresh keys → 10 first-arms, 0 deletes
      input.addData((1 to 10).map(i => ev(s"K$i", 0L)))
      q.processAllAvailable()
      // batch 2: SAME keys, SAME event time → same deadline → the
      // re-touch must be store-op-free (0 registered, 0 deleted)
      input.addData((1 to 10).map(i => ev(s"K$i", 0L)))
      q.processAllAvailable()
      // batch 3: same 10 keys 5 s later (10 point deletes + 10
      // re-arms) plus 5 fresh keys (5 first-arms)
      input.addData((1 to 10).map(i => ev(s"K$i", 5L)) ++
        (11 to 15).map(i => ev(s"K$i", 5L)))
      q.processAllAvailable()
      // batch 4: far-future sentinel → watermark passes all 15 live
      // deadlines → 15 expirations (the sentinel's own timer stays)
      input.addData(Seq(ev("SENTINEL", 1000000L)))
      q.processAllAvailable()
      // the expiry batch is watermark-triggered and may run just after
      // processAllAvailable returns — wait on the emission count
      val deadline = System.currentTimeMillis() + 60000L
      while (spark.table(name).count() < 15 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(spark.table(name).count() === 15)

      def msum(key: String): Long = q.recentProgress.flatMap(_.stateOperators
        .map(o => Option(o.customMetrics.get(key)).map(_.longValue)
          .getOrElse(0L))).sum
      val registered = msum("numRegisteredTimers")
      val deleted = msum("numDeletedTimers")
      val expired = msum("numExpiredTimers")
      // first-arms 10 + 5 + 1 (sentinel) + re-arms 10 = 26; deletes =
      // 10 point deletes + 15 ENGINE auto-deletes of fired timers
      // (measured: expiry removes the timer row and counts it) = 25.
      // An unconditional delete+re-arm regression inflates both by the
      // 10 zero-op re-touches (36/35); a leak-the-old-timer regression
      // reads 26/15 and double-fires K1..K10
      assert(registered === 26L,
        s"numRegisteredTimers = $registered, point-delete profile expects 26")
      assert(deleted === 25L,
        s"numDeletedTimers = $deleted, point-delete profile expects 25 " +
          "(10 point deletes + 15 expiry auto-deletes)")
      assert(expired === 15L,
        s"numExpiredTimers = $expired, expected the 15 live sessions")
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("BOOTSTRAP path store-op profile: initial-state bulk load arms one " +
    "timer per snapshot key, touches point-delete, the rest expire (q234)") {
    // round-15 verdict #1: q234's bench cost must rest on a pinned store-op
    // count for the initial-state path, not on wall-clock inference. The
    // init snapshot rides as bare Array[Byte] (near-zero per-key
    // deserializer cost — the round-14 measurement), so timers are the
    // only per-key store ops the bulk load performs: exactly ONE
    // registerTimer per snapshot key, zero deletes, zero list scans.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val initSnap = (1 to 10).map { i =>
      (s"K$i", SessionizerTws.packInit(graft.streaming.EventSessionState(
        List(Purchase(s"K$i", 1, "1/2/2024 7:15", 1.0, "c", "ES")),
        None, BaseMs)))
    }
    val init = spark.createDataset(initSnap).groupByKey(_._1).mapValues(_._2)
    val input = MemoryStream[TimedLineEvent]
    val out = SessionizerTws.sessionizeEventTimeWithInit(
      input.toDS(), init, gapMs = 10000L, watermarkDelay = "600 seconds")
    val name = "tws_bootstrap_fence"
    val q = Gates.start(spark, tws = true) {
      out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    }
    try {
      // batch 0: ONE fresh key alongside the 10-key bulk load → 10 init
      // arms + 1 first-arm, ZERO deletes (a delete here would mean the
      // bulk load double-arms or scans)
      input.addData(Seq(ev("W0", 0L)))
      q.processAllAvailable()
      // batch 1: touch HALF the bootstrapped keys 5 s later (5 point
      // deletes + 5 re-arms — migrated state behaves exactly like
      // organically-built state) + 3 fresh keys
      input.addData((1 to 5).map(i => ev(s"K$i", 5L)) ++
        (1 to 3).map(i => ev(s"F$i", 5L)))
      q.processAllAvailable()
      // sentinel: watermark passes all 14 live deadlines
      input.addData(Seq(ev("SENTINEL", 1000000L)))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 60000L
      while (spark.table(name).count() < 14 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(spark.table(name).count() === 14)

      def msum(key: String): Long = q.recentProgress.flatMap(_.stateOperators
        .map(o => Option(o.customMetrics.get(key)).map(_.longValue)
          .getOrElse(0L))).sum
      val registered = msum("numRegisteredTimers")
      val deleted = msum("numDeletedTimers")
      val expired = msum("numExpiredTimers")
      // arms: 10 bootstrap + 1 (W0) + 5 re-arms + 3 (F*) + 1 (sentinel)
      // = 20; deletes: 5 point deletes + 14 expiry auto-deletes = 19.
      // A bulk load that re-arms per line (not per key) or double-arms
      // inflates `registered`; one that forgets to arm reads 20-10=10
      // and the 5 untouched K keys never emit (count < 14 above)
      assert(registered === 20L,
        s"numRegisteredTimers = $registered, bootstrap profile expects 20")
      assert(deleted === 19L,
        s"numDeletedTimers = $deleted, bootstrap profile expects 19 " +
          "(5 point deletes + 14 expiry auto-deletes)")
      assert(expired === 14L,
        s"numExpiredTimers = $expired, expected the 14 live sessions")
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("no timer scan on the hot path: listTimers() must not appear in " +
    "the sessionizer source (comments excluded)") {
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/SessionizerTws.scala"))
    val offenders = src.linesIterator.zipWithIndex.filter { case (l, _) =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
        t.contains("listTimers")
    }.toList
    assert(offenders.isEmpty,
      "listTimers() reintroduced on the TWS hot path (the 1.7× overload " +
        s"drain regression class): $offenders")
  }
}
