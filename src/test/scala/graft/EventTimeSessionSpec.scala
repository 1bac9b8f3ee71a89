package graft

import java.sql.Timestamp

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import graft.streaming.Sessionizer._

/** The event-time sessionizer vs its processing-time twin: same state
  * machine, different expiry clock — and the late-line behaviors that
  * difference produces, pinned side by side. */
class EventTimeSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val base = 1600000000000L // a fixed event-time origin

  private def purchase(inv: String, cust: String = "c1", country: String = "ES",
                       date: String = "7/19/2011 12:19", price: Double = 2.0,
                       qty: Int = 3) =
    Purchase(inv, qty, date, price, cust, country)
  private def tgood(inv: String, tMs: Long, price: Double = 2.0) =
    TimedLineEvent(inv, new Timestamp(tMs), Some(purchase(inv, price = price)), None)
  private def terr(inv: String, tMs: Long, reason: String = "parse error: boom") =
    TimedLineEvent(inv, new Timestamp(tMs), None, Some(reason))

  private def etState(st: Option[EventSessionState], watermarkMs: Long,
                      timedOut: Boolean = false) =
    TestGroupState.create[EventSessionState](
      st.map(org.apache.spark.api.java.Optional.of[EventSessionState])
        .getOrElse(org.apache.spark.api.java.Optional.empty[EventSessionState]()),
      GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(Long.box(watermarkMs)),
      hasTimedOut = timedOut)

  test("lines accumulate and the timeout tracks max event time + gap") {
    val st = etState(None, watermarkMs = 0L)
    val out = updateSessionEventTime(40000L)(
      "I1", Iterator(tgood("I1", base), tgood("I1", base + 10000L)), st)
    assert(out.isEmpty)
    assert(st.get.lines.size === 2 && st.get.maxEventMs === base + 10000L)
    assert(st.getTimeoutTimestampMs.get === base + 10000L + 40000L)
  }

  test("quirk Q3 carries over: an error event wins the batch on the event-time clock too") {
    val st = etState(None, watermarkMs = 0L)
    updateSessionEventTime(40000L)("I1",
      Iterator(tgood("I1", base), terr("I1", base + 1000L), tgood("I1", base + 2000L)), st)
    assert(st.get.errorReason === Some("parse error: boom"))
    assert(st.get.lines.isEmpty && st.get.maxEventMs === base + 2000L)
  }

  test("watermark-fired timeout classifies exactly like the processing-time twin") {
    val lines = List(purchase("I1"), purchase("I1", price = 6.0))
    val et = etState(Some(EventSessionState(lines, None, base)),
      watermarkMs = base + 100000L, timedOut = true)
    val etOut = updateSessionEventTime(40000L)("I1", Iterator.empty, et).toSeq
    val pt = TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.of(SessionState(lines, None)),
      GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 60000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val ptOut = updateSession(40000L, 0L)("I1", Iterator.empty, pt).toSeq
    assert(etOut === ptOut && etOut.head.status === "valid")
    assert(et.isRemoved && pt.isRemoved)
  }

  test("a stalled feed: processing-time splits the invoice, event-time does not") {
    // two lines of one invoice, 10 s apart in EVENT time, but the second
    // arrives 60 s of wall-clock later (a stalled upstream)
    //
    // processing-time twin: 60 s of silence > 40 s timeout — the session
    // has already expired and emitted when the second line arrives, which
    // re-opens a duplicate 1-line session
    val ptExpired = TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.of(
        SessionState(List(purchase("I1")), None)),
      GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 61000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val early = updateSession(40000L, 0L)("I1", Iterator.empty, ptExpired).toSeq
    assert(early.size === 1 && early.head.lineCount === 1,
      "processing-time twin emits a split 1-line session")

    // event-time variant at the same moment: the watermark follows EVENT
    // time, which has only advanced ~10 s — under the 40 s gap, so the
    // session is still live and the late-arriving line joins it
    val et = etState(Some(EventSessionState(List(purchase("I1")), None, base)),
      watermarkMs = base + 10000L)
    val out = updateSessionEventTime(40000L)(
      "I1", Iterator(tgood("I1", base + 10000L, price = 6.0)), et)
    assert(out.isEmpty && et.get.lines.size === 2,
      "event-time variant keeps one session across the stall")
    assert(et.getTimeoutTimestampMs.get === base + 50000L)
  }

  test("end-to-end: replay-invariant sessions; beyond-watermark line re-opens (ST11)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val s: org.apache.spark.sql.SparkSession = spark

    val in = MemoryStream[TimedLineEvent]
    val q = Sessionizer.sessionizeEventTime(in.toDF().as[TimedLineEvent],
        gapMs = 40000L, watermarkDelay = "30 seconds")
      .writeStream.format("memory").queryName("et_sessions")
      .outputMode("append").start()
    try {
      // I1's two lines arrive OUT of event order across batches; both are
      // within the 30 s watermark delay, so they land in one session
      in.addData(tgood("I1", base + 5000L)); q.processAllAvailable()
      in.addData(tgood("I1", base, price = 6.0)); q.processAllAvailable()
      // sentinel on another key drives the watermark past I1's expiry
      in.addData(tgood("WM", base + 120000L)); q.processAllAvailable()
      in.addData(tgood("WM", base + 130000L)); q.processAllAvailable()
      val first = spark.table("et_sessions").as[InvoiceResult].collect()
        .filter(_.invoiceNo == "I1")
      assert(first.length === 1 && first.head.lineCount === 2,
        s"out-of-order lines must fold into ONE session: ${first.toSeq}")
      assert(first.head.status === "valid")

      // a line for I1 far beyond the watermark: its session is gone, so it
      // deterministically re-opens a duplicate — the ST11 analogue
      in.addData(tgood("I1", base + 125000L)); q.processAllAvailable()
      in.addData(tgood("WM", base + 300000L)); q.processAllAvailable()
      in.addData(tgood("WM", base + 310000L)); q.processAllAvailable()
      val after = spark.table("et_sessions").as[InvoiceResult].collect()
        .filter(_.invoiceNo == "I1")
      assert(after.length === 2 && after.map(_.lineCount).sorted.toSeq === Seq(1, 2),
        s"beyond-watermark line must re-open a duplicate session: ${after.toSeq}")
    } finally q.stop()
  }
}
