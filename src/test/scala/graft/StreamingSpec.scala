package graft

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

class PurchaseCsvSpec extends AnyFunSuite {
  import PurchaseCsv._

  private val goodLine =
    "560537,23103,JINGLE BELL HEART DECORATION,24,7/19/2011 12:19,1.65,17779,United Kingdom"

  test("parses a valid line") {
    val Good(p) = parse(goodLine): @unchecked
    assert(p === Purchase("560537", 24, "7/19/2011 12:19", 1.65, "17779", "United Kingdom"))
  }

  test("quoted embedded commas parse as one field") {
    val Good(p) = parse(
      """560538,21507,"ELEPHANT, BIRTHDAY CARD, ",12,7/19/2011 12:19,0.42,16128,United Kingdom"""): @unchecked
    assert(p.quantity === 12 && p.country === "United Kingdom")
  }

  test("short line is malformed and silently dropped (quirk Q4)") {
    val Bad(key, reason, routed) = parse("560999,21507,WIDGET,12"): @unchecked
    assert(reason === "malformed purchase line" && !routed)
    assert(route("560999,21507,WIDGET,12").isEmpty)
  }

  test("numeric conversion failure routes as parse error (quirk Q4)") {
    val line = "560998,21507,WIDGET,twelve,7/19/2011 12:19,0.42,16128,United Kingdom"
    val Bad(key, reason, routed) = parse(line): @unchecked
    assert(key === "560998" && reason.startsWith("parse error:") && routed)
    val Some(ev) = route(line): @unchecked
    assert(ev.errorReason.exists(_.startsWith("parse error:")))
  }

  test("empty line dropped") {
    assert(route("").isEmpty && route("   ").isEmpty && route(null).isEmpty)
  }

  test("extractHour handles 1- and 2-digit hours and garbage") {
    assert(extractHour("7/19/2011 12:19") === 12.0)
    assert(extractHour("7/1/2011 2:19") === 2.0)
    assert(extractHour("garbage") === -1.0)
    assert(extractHour(null) === -1.0)
  }

  test("legacy batch hour quirk Q1 reproduces the tens-digit drop") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq("7/19/2011 12:19", "7/1/2011 12:19")
      .toDF("d")
      .select(graft.batch.InvoiceOps.legacyHour(col("d")).as("h"))
      .collect().map(_.getDouble(0)).toSeq
    // 10-char prefix "7/19/2011 " → "12:19" → 12.0 ; short date → "2:19" → 2.0
    assert(got === Seq(12.0, 2.0))
  }
}

class SessionizerSpec extends AnyFunSuite {
  import Sessionizer._

  private def good(inv: String, cust: String = "c1", country: String = "ES",
                   date: String = "7/19/2011 12:19", price: Double = 2.0, qty: Int = 3) =
    LineEvent(inv, Some(Purchase(inv, qty, date, price, cust, country)), None)
  private def err(inv: String, reason: String = "parse error: boom") =
    LineEvent(inv, None, Some(reason))

  private def freshState = TestGroupState.create[SessionState](
    org.apache.spark.api.java.Optional.empty[SessionState](), GroupStateTimeout.ProcessingTimeTimeout,
    batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
    hasTimedOut = false)

  test("good lines accumulate, no emission before timeout") {
    val st = freshState
    val out = updateSession(40000L, 0L)("I1", Iterator(good("I1"), good("I1")), st)
    assert(out.isEmpty)
    assert(st.get.lines.size === 2 && st.get.errorReason.isEmpty)
  }

  test("error event wins the batch and drops its good lines (quirk Q3)") {
    val st = freshState
    updateSession(40000L, 0L)("I1", Iterator(good("I1"), err("I1"), good("I1")), st)
    assert(st.get.errorReason === Some("parse error: boom"))
    assert(st.get.lines.isEmpty)
  }

  test("timeout emits classified result and removes state") {
    val pre = TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.of(SessionState(List(good("I1").purchase.get), None)),
      GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 60000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = updateSession(40000L, 0L)("I1", Iterator.empty, pre).toSeq
    assert(out.size === 1)
    assert(out.head.status === "valid" && out.head.numberItems === 3.0)
    assert(pre.isRemoved)
  }

  test("classification priority: error reason > no lines > missing customer > bad date > missing country") {
    assert(classify("I", SessionState(Nil, Some("parse error: x"))).reason === "parse error: x")
    assert(classify("I", SessionState(Nil, None)).reason === "no purchase lines")
    assert(classify("I", SessionState(List(
      good("I", cust = "").purchase.get, good("I", date = "bad").purchase.get), None))
      .reason === "missing customer ID")
    assert(classify("I", SessionState(List(
      good("I", date = "bad").purchase.get, good("I", country = "").purchase.get), None))
      .reason === "invalid invoice date")
    assert(classify("I", SessionState(List(good("I", country = "").purchase.get), None))
      .reason === "missing country")
  }

  test("valid invoice fold: avg/min/max price, first-line hour+customer, summed quantity") {
    val lines = List(
      Purchase("I", 2, "7/19/2011 9:10", 1.0, "c9", "ES"),
      Purchase("I", 3, "7/19/2011 23:59", 3.0, "c2", "ES"))
    val r = classify("I", SessionState(lines, None))
    assert(r.status === "valid")
    assert(r.avgUnitPrice === 2.0 && r.minUnitPrice === 1.0 && r.maxUnitPrice === 3.0)
    assert(r.time === 9.0)          // FIRST line's hour (A2 stream semantics)
    assert(r.customerId === "c9")   // first line's customer
    assert(r.numberItems === 5.0 && r.lineCount === 2)
  }
}

class UnifiedRouterSpec extends AnyFunSuite {
  test("unified router emits the same (topic, value) set as the 4-sink router") {
    implicit val spark = SparkTestSession.spark
    import spark.implicits._
    val models = InvoicePipeline.Models(
      Seq(Seq(0.0, 0.0, 0.0, 0.0, 0.0)), 10.0,
      Seq(Seq(0.0, 0.0, 0.0, 0.0, 0.0)), 1e12)
    val batch = Seq(
      InvoiceResult("I1", "valid", null, 5.0, 1.0, 9.0, 12.0, 20.0, 3, "c1"),   // km anomaly
      InvoiceResult("I2", "valid", null, 0.1, 0.1, 0.1, 0.0, 1.0, 1, "c2"),     // quiet: no sink
      InvoiceResult("C9", "valid", null, 5.0, 1.0, 9.0, 12.0, 20.0, 2, "c3"),   // cancellation
      InvoiceResult("E1", "error", "parse error: x", Double.NaN, Double.NaN,
        Double.NaN, Double.NaN, Double.NaN, 0, null)).toDS()

    val unified = InvoicePipeline.routeBatchUnified(models)(batch)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    val classic = scala.collection.mutable.Set[(String, String)]()
    val sinks = new InvoiceSinks {
      private def grab(t: String, b: org.apache.spark.sql.DataFrame): Unit =
        b.collect().foreach(r => classic += (t -> r.getString(0)))
      def erroneous(b: org.apache.spark.sql.DataFrame, id: Long): Unit = grab("facturas_erroneas", b)
      def cancellations(b: org.apache.spark.sql.DataFrame, id: Long): Unit = grab("cancelaciones", b)
      def anomaliesKMeans(b: org.apache.spark.sql.DataFrame, id: Long): Unit = grab("anomalias_kmeans", b)
      def anomaliesBisecting(b: org.apache.spark.sql.DataFrame, id: Long): Unit = grab("anomalias_bisect_kmeans", b)
    }
    InvoicePipeline.routeBatch(models, sinks)(batch, 0L)

    assert(unified === classic.toSet)
    assert(unified === Set(
      ("anomalias_kmeans", "I1"),
      ("cancelaciones", "C9"),
      ("facturas_erroneas", "E1,parse error: x")))
  }
}

class StreamingIntegrationSpec extends AnyFunSuite {
  test("memory-stream end-to-end: sessions expire and classify through the pipeline") {
    implicit val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    // the router's (topic, value) rows: values per topic, in arrival order
    val collected = scala.collection.mutable.Map[String, List[String]]()
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
      val rows = b.collect().map(r => (r.getString(0), r.getString(1)))
      collected.synchronized {
        rows.foreach { case (t, v) => collected(t) = collected.getOrElse(t, Nil) :+ v }
      }
    }
    def got(topic: String): List[String] = collected.synchronized(collected.getOrElse(topic, Nil))
    val models = InvoicePipeline.Models(
      kmeansCenters = Seq(Seq(0.0, 0.0, 0.0, 0.0, 0.0)), kmeansThreshold = 1.0,
      bisectingCenters = Seq(Seq(0.0, 0.0, 0.0, 0.0, 0.0)), bisectingThreshold = 1e12)

    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = InvoicePipeline.runUnified(
      input.toDS(), models, sink, ckpt,
      sessionTimeout = "1 second",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))

    // NB: processAllAvailable() cannot be used here — ProcessingTimeTimeout
    // forces a micro-batch every trigger, so the no-new-data latch never
    // sticks and the call blocks forever. Sessions expire on the wall clock
    // by themselves; poll the sinks with a deadline instead.
    def await(cond: => Boolean, timeoutMs: Long = 60000L): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline && !cond) Thread.sleep(200)
      cond
    }
    try {
      // one trigger's worth of data: a valid invoice (far from center →
      // kmeans anomaly), an erroneous invoice, and a cancellation
      input.addData(
        "I100,S1,THING,4,7/19/2011 12:19,9.99,cust7,Spain",
        "I100,S2,THING,1,7/19/2011 12:20,19.99,cust7,Spain",
        "E200,S1,THING,nope,7/19/2011 12:19,1.0,cust8,Spain",
        "C300,S1,THING,-4,7/19/2011 12:19,5.0,cust9,Spain")
      val ok = await(
        Seq("facturas_erroneas", "cancelaciones", "anomalias_kmeans").forall(got(_).nonEmpty))
      val (err, cancel, km, bk) = collected.synchronized {
        (got("facturas_erroneas"), got("cancelaciones"), got("anomalias_kmeans"),
         got("anomalias_bisect_kmeans"))
      }
      assert(ok, s"sessions never emitted: collected=$collected")
      assert(err.exists(_.startsWith("E200,parse error:")), s"err=$err")
      assert(cancel === List("C300"), s"cancel=$cancel")
      assert(km.contains("I100"), s"km=$km")
      assert(bk.isEmpty, s"bk=$bk") // threshold 1e12 → nothing anomalous

      // ST11: a line arriving AFTER expiry re-opens a fresh session for the
      // same invoice — the reference removes expired state, so a duplicate
      // partial invoice is emitted (InvoicePipeline.scala:208, 243-245)
      input.addData("I100,S9,LATE LINE,2,7/19/2011 12:30,5.0,cust7,Spain")
      val dup = await(got("anomalias_kmeans").count(_ == "I100") >= 2)
      assert(dup, s"late line did not re-open session: km=${got("anomalias_kmeans")}")
    } finally q.stop()
  }
}
