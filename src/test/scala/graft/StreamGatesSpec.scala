package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Extensions, PipelineReplay}
import graft.streaming.Gates

/** First-execution coverage for the round-12 gates that landed with none
  * (round-12 verdict #3: q223/q224/q226/q227 had "no driver row, no
  * spec"), plus the hang-guard law that protects the whole artifact
  * chain (verdict #2): a non-terminating streaming query must fail ITS
  * row loudly, never hold correctness/bench/sbt-test hostage. */
class StreamGatesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def assertSame(got: org.apache.spark.sql.DataFrame,
                         want: org.apache.spark.sql.DataFrame): Unit = {
    val g = got.cache(); val w = want.cache()
    try {
      assert(g.count() > 0)
      // exceptAll both ways = true MULTISET equality (round-13 ADVICE):
      // set-based except + count can miss a doubled row paired with a
      // dropped row, and ST11 re-opened sessions CAN legitimately emit
      // duplicate identical rows — so duplicates must be compared exactly
      assert(g.exceptAll(w).count() === 0, "gate rows missing from batch twin")
      assert(w.exceptAll(g).count() === 0, "batch twin rows missing from gate")
    } finally { g.unpersist(); w.unpersist() }
  }

  test("awaitBounded trips on a deliberately non-terminating query " +
    "and leaves it stopped (round-12 verdict #2 guard law)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // default trigger + a memory source nobody completes = a query that
    // never terminates on its own — the exact failure class that voided
    // round 12 (q225's infinite no-data micro-batch loop)
    val in = MemoryStream[Long]
    val q = in.toDS().writeStream.format("memory")
      .queryName("hang_guard_probe").outputMode("append").start()
    val e = intercept[IllegalArgumentException] {
      Gates.awaitBounded(q, "hang_guard_probe", timeoutMs = 2000L)
    }
    assert(e.getMessage.contains("did not terminate"))
    assert(!q.isActive, "awaitBounded must stop the query it timed out on")
    spark.catalog.dropTempView("hang_guard_probe")
  }

  test("q223: per-micro-batch stream-static joins compose to exactly " +
    "the batch join (no dropped/doubled rows at batch boundaries)") {
    val gate = Extensions.streamStaticEnrichGate(spark, sf)
    val ev = Tables.events(spark, sf)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = ev.join(dim, ev("user_id") + lit(1L) === dim("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_event_id"))
    assertSame(gate, batch)
  }

  test("q224: bootstrap-then-stream ≡ stream-everything, and " +
    "initial-state-only invoices DO emit (the sharp edge)") {
    val boot = PipelineReplay.pipelineBootstrapGate(spark, sf).cache()
    val full = PipelineReplay.pipelineStreamingGate(spark, sf)
    try {
      assertSame(boot, full)
      // the sharp edge: invoices wholly inside the bootstrap window
      // (slices 1-2) have NO streamed events — they emit only because the
      // engine invokes the update fn once for initial-state-only keys
      val dir = PipelineReplay.ensurePipelineReplay(spark, sf)
      def invoices(names: Seq[String]) = spark.read
        .parquet(names.map(n => s"$dir/$n"): _*)
        .select(split(col("value"), ",").getItem(0).as("invoice_no"))
        .distinct()
      val bootOnly = invoices(Seq(1, 2).flatMap(PipelineReplay.sliceFiles))
        .except(invoices(Seq(3, 4, 5, 6).flatMap(PipelineReplay.sliceFiles)))
        .cache()
      try {
        assert(bootOnly.count() > 0,
          "fixture must contain bootstrap-only invoices or the law is vacuous")
        assert(bootOnly.join(boot, Seq("invoice_no"), "left_anti").count() === 0,
          "every bootstrap-only invoice must still emit a session")
      } finally bootOnly.unpersist()
    } finally boot.unpersist()
  }

  test("q226: duplicates arriving batches later are dropped — gate " +
    "equals the single-copy aggregate") {
    // the fixture feeds every slice TWICE, the copy landing two
    // micro-batches after the original (Extensions.streamingDedupNative's
    // mtime layout), so equality with the single-copy aggregate proves
    // CROSS-BATCH dedup state, not just within-batch distinct
    val gate = Extensions.streamingDedupNative(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_event_id"))
    assertSame(gate, batch)
  }

  test("q227: streaming upserts then merge ≡ one global argmax") {
    val gate = Extensions.streamingUpsertSink(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"))
    assertSame(gate, batch)
  }

  test("q228: the transformWithState sessionizer reproduces the " +
    "flatMapGroupsWithState pipeline bit-exactly (three state APIs, one truth)") {
    val tws = PipelineReplay.pipelineTwsGate(spark, sf)
    val fmgws = PipelineReplay.pipelineStreamingGate(spark, sf)
    assertSame(tws, fmgws)
  }

  test("q229: open sessions read back from the state store equal the " +
    "closed-form fold of the ingested prefix (batch-scoped Q3 drops included)") {
    val gate = PipelineReplay.stateIntrospectGate(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    val sliced = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("slice", ntile(4).over(w))
    val pois = sliced.filter(col("l_linenumber") === 7)
      .select(col("l_orderkey"), col("slice").as("pslice"))
    val pre = sliced.join(pois, Seq("l_orderkey"), "left")
      .filter(col("slice") <= 3)
    val keep = col("l_linenumber") =!= 7 &&
      (col("pslice").isNull || col("pslice") > 3 || col("slice") =!= col("pslice"))
    val want = pre.groupBy(col("l_orderkey"))
      .agg(
        (max(when(col("l_linenumber") === 7, 1).otherwise(0)) === 1).as("has_error"),
        sum(when(keep, 1L).otherwise(0L)).as("line_count"),
        max(col("slice")).cast("long").as("max_slice"))
      .select(col("l_orderkey").cast("string").as("invoice_no"),
        col("has_error"), col("line_count"), col("max_slice"))
    assertSame(gate, want)
    // non-vacuity: the error latch is live in the open state
    assert(gate.filter(col("has_error")).count() > 0,
      "fixture must hold at least one poisoned open session")
  }

  test("q231: the state change feed replays per-batch evolution — " +
    "touched invoices only, cumulative Q3-folded counts") {
    val gate = PipelineReplay.stateChangeFeedGate(spark, sf).cache()
    try {
      // every change row is an update (nothing expires in the 3-slice
      // prefix), batches 0..2 all present
      assert(gate.filter(col("change_type") =!= "update").count() === 0)
      assert(gate.select(col("batch_id")).distinct().collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
      // the feed's last update per invoice equals the live state q229 reads
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("invoice_no")).orderBy(col("batch_id").desc)
      val lastPerInvoice = gate.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("invoice_no"), col("line_count"))
      val live = PipelineReplay.stateIntrospectGate(spark, sf)
        .select(col("invoice_no"), col("line_count"))
      assert(lastPerInvoice.except(live).count() === 0)
      assert(live.except(lastPerInvoice).count() === 0)
    } finally gate.unpersist()
  }

  test("q232: TWS named-variable state reads equal the fMGWS state reads " +
    "(two APIs, two providers, two reader paths, one truth)") {
    val tws = PipelineReplay.twsStateIntrospectGate(spark, sf)
    val fmgws = PipelineReplay.stateIntrospectGate(spark, sf)
    assertSame(tws, fmgws)
    // the left join is load-bearing: some open session has ZERO retained
    // lines (all dropped in its poison batch) yet still appears
    assert(tws.filter(col("line_count") === 0).count() > 0,
      "fixture must hold an open session with no retained lines")
  }

  test("q234: TWS bootstrap-then-stream ≡ fMGWS bootstrap-then-stream " +
    "(initial-state timers armed on both APIs)") {
    val tws = PipelineReplay.pipelineTwsBootstrapGate(spark, sf)
    val fmgws = PipelineReplay.pipelineBootstrapGate(spark, sf)
    assertSame(tws, fmgws)
  }

  test("q235: a live fMGWS checkpoint migrates into a TWS job and the " +
    "finished stream ≡ stream-everything (zero source events re-read — " +
    "the gate's own require fences the no-replay property)") {
    val migrated = PipelineReplay.stateMigrationGate(spark, sf)
    val full = PipelineReplay.pipelineStreamingGate(spark, sf)
    assertSame(migrated, full)
  }

  test("q240: the migration re-shuffles state into a job at a DIFFERENT " +
    "partition count (8 → 16) and the result is unchanged — the resize " +
    "Spark's frozen-partition checkpoints cannot do") {
    val resized = PipelineReplay.stateRepartitionGate(spark, sf)
    val full = PipelineReplay.pipelineStreamingGate(spark, sf)
    assertSame(resized, full)
  }

  test("q241: the migration is REVERSIBLE — a TWS checkpoint lifts into " +
    "an fMGWS job (per-variable reads reassembled) and the finished " +
    "stream still ≡ stream-everything") {
    val rolledBack = PipelineReplay.stateMigrationReverseGate(spark, sf)
    val full = PipelineReplay.pipelineStreamingGate(spark, sf)
    assertSame(rolledBack, full)
  }

  test("processing-time TWS sessionizer in the unified pipeline ≡ fMGWS " +
    "(live feed, same lines, same sinks — the throughput-rig law)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.InvoicePipeline
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val models = InvoicePipeline.Models(
      Seq(Seq(5.0, 1.0, 10.0, 12.0, 20.0)), -1.0,
      Seq(Seq(5.0, 1.0, 10.0, 12.0, 20.0)), 1e12)
    // 30 invoices × 4 lines, plus one poisoned and one cancellation —
    // exercises all three router branches under live expiry
    val lines = (0 until 30).flatMap { inv =>
      (0 until 4).map(j =>
        s"I$inv,SC$j,ITEM,${j + 1},7/19/2011 12:19,${j + 1}.5,c$inv,ES")
    } ++ Seq("P1,SC0,ITEM,x,7/19/2011 12:19,1.5,cP,ES",
      "C77,SC0,ITEM,2,7/19/2011 12:19,3.5,cC,ES")
    def run(tws: Boolean): Seq[(String, String)] = {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val input = MemoryStream[String]
      val ck = java.nio.file.Files.createTempDirectory("tws-parity").toString
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) =>
        b.select("topic", "value").collect()
          .foreach(r => rows.add((r.getString(0), r.getString(1))))
      def start() = InvoicePipeline.runUnified(input.toDS(), models, sink, ck,
        sessionTimeout = "2 seconds",
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds"),
        tws = tws)
      val q = if (tws) Gates.start(spark, tws = true)(start()) else start()
      try {
        input.addData(lines)
        // 32 expected emissions (30 valid→kmeans, 1 error, 1 cancel)
        val deadline = System.currentTimeMillis() + 60000
        while (rows.size() < 32 && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.sorted
    }
    val fmgws = run(tws = false)
    val twsRows = run(tws = true)
    assert(fmgws.size === 32, s"fMGWS emitted ${fmgws.size} rows")
    assert(twsRows === fmgws)
  }

  test("q237/q238 cross-reader laws: one timer per open session (timers " +
    "≡ TWS state keys), and state-as-of the last batch ≡ the live read") {
    // timers: every open session has exactly one armed timer — the
    // delete-then-re-arm discipline, checked against the OTHER reader
    val timers = PipelineReplay.twsTimersGate(spark, sf)
      .select(col("invoice_no"))
    val state = PipelineReplay.twsStateIntrospectGate(spark, sf)
      .select(col("invoice_no"))
    assertSame(timers, state)
    // time travel: as-of the final ingested batch ≡ the default (live) read
    val asOfLast = PipelineReplay.stateTimeTravelGate(spark, sf)
      .filter(col("as_of_batch") === 2L).drop("as_of_batch")
    val live = PipelineReplay.stateIntrospectGate(spark, sf)
    assertSame(asOfLast, live)
  }

  test("q239: the interval join's buffered state reads back as exactly " +
    "the fed rows on both sides (nothing evicted, nothing dropped on match)") {
    val state = Extensions.joinStateIntrospectGate(spark, sf)
    val ev = Tables.events(spark, sf)
    def want(side: String, t: String) = ev
      .filter(col("event_type") === t)
      .select(lit(side).as("side"), col("event_id"), col("user_id"),
        col("ts").as("buffered_ts"))
    assertSame(state, want("left", "purchase").unionByName(want("right", "click")))
  }

  test("packInit/unpackInit round-trips every session-snapshot shape " +
    "(nulls, empty lines, error latch, unicode)") {
    import graft.streaming.{EventSessionState, Purchase, SessionizerTws}
    val cases = Seq(
      EventSessionState(Nil, None, Long.MinValue),
      EventSessionState(Nil, Some("parse error: For input string: \"x\""), 42L),
      EventSessionState(List(
        Purchase("536365", 6, "12/1/2010 8:26", 2.55, "17850", "España"),
        Purchase("536365", -1, null, -0.0, null, ""),
        Purchase(null, Int.MaxValue, "ü†ƒ-8 ✓", Double.NaN, "c", "ES")),
        Some("latch"), 1600000000000L))
    cases.foreach { st =>
      val back = SessionizerTws.unpackInit(SessionizerTws.packInit(st))
      assert(back.errorReason === st.errorReason)
      assert(back.maxEventMs === st.maxEventMs)
      assert(back.lines.size === st.lines.size)
      back.lines.zip(st.lines).foreach { case (b, a) =>
        assert(b.invoiceNo === a.invoiceNo)
        assert(b.quantity === a.quantity)
        assert(b.invoiceDate === a.invoiceDate)
        assert(b.unitPrice === a.unitPrice ||
          (b.unitPrice.isNaN && a.unitPrice.isNaN))
        assert(b.customerID === a.customerID)
        assert(b.country === a.country)
      }
    }
  }

  test("q230: first-occurrence emissions on MapState count to exactly " +
    "the batch distinct (cross-batch duplicates suppressed, no double emits)") {
    val gate = Extensions.distinctTwsGate(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_users"))
    assertSame(gate, batch)
  }

  test("q236: the MapState checkpoint reads back one row per map ENTRY, " +
    "and its per-type counts equal the live q230 emissions (reader ≡ job)") {
    val entries = Extensions.twsMapIntrospectGate(spark, sf)
    // every entry true (the processor never stores false)
    assert(entries.filter(!col("seen")).count() === 0)
    val fromReader = entries.groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
    val fromJob = Extensions.distinctTwsGate(spark, sf)
    assertSame(fromReader, fromJob)
  }

  test("q227: a replayed batch id skips idempotently instead of " +
    "tripping the version fence (the sharp edge)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-upsert-replay").toString + "/log"
    val batch = Seq(
      (1L, new java.sql.Timestamp(1000L), 10L, "signup"),
      (2L, new java.sql.Timestamp(2000L), 11L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(Extensions.upsertBatch(batch, 0L, root, "writer_a"),
      "first delivery of batch 0 must commit")
    // the retry scenario: the engine replays batch 0 after a failure
    // between the commit and the checkpoint offset write — same id, same
    // owner, the slot carries OUR marker, the sink must SKIP (not throw,
    // not double-apply)
    assert(!Extensions.upsertBatch(batch, 0L, root, "writer_a"),
      "replayed batch 0 must skip idempotently")
    val state = graft.operators.Versioned.readAt(spark, root, "user_id", 0)
    assert(state.count() === 2L, "replay must not double-apply rows")
    // the divergence scenario the set-and-skip fence used to swallow
    // (round-13 ADVICE): a FOREIGN writer finding the slot occupied must
    // raise the fence, never silently treat someone else's data as its
    // own replay
    intercept[java.util.ConcurrentModificationException] {
      Extensions.upsertBatch(batch, 0L, root, "writer_b")
    }
  }
}
