package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Gates, Transitions}

/** q210's operator laws: keyed-state transition extraction must equal the
  * batch lag window, including across micro-batch boundaries and at
  * timestamp ties. */
class TransitionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Transitions.Ev

  private def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)

  test("cross-batch carry: the boundary pair is emitted exactly once") {
    import spark.implicits._
    // user 1's events straddle the two files; user 2 lives in file 1 only
    val f1 = Seq(Ev(1L, ts(10), 100L, "signup"), Ev(1L, ts(20), 101L, "view"),
      Ev(2L, ts(15), 102L, "signup"))
    val f2 = Seq(Ev(1L, ts(30), 103L, "click"), Ev(2L, ts(40), 104L, "view"))
    val dir = java.nio.file.Files.createTempDirectory("trans").toString
    val base = System.currentTimeMillis() - 60000L
    Seq(f1, f2).zipWithIndex.foreach { case (evs, i) =>
      graft.queries.Extensions.writeSingleParquet(
        evs.toDS().toDF(), dir, s"f$i.parquet", mtime = Some(base + i * 1000L))
    }
    val src = spark.readStream.schema(f1.toDS().schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = Gates.run(spark, "trans_spec_gate", Gates.Memory("append")) {
      Transitions.transitionPairs(src.as[Ev], idleHorizon = None)
    }.rows.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    // (view -> click) and (signup -> view for user 2) ONLY exist if state
    // carried the last file-1 event into the file-2 batch
    assert(got === Seq((1L, "signup", "view"), (1L, "view", "click"),
      (2L, "signup", "view")))
  }

  test("retry determinism: identical pairs when every stateful task's " +
    "first attempt is killed (round-11 verdict #6)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // At 100 TB task retries are continuous; the whole gate discipline
    // presumes a state-store-backed operator emits the SAME output on a
    // retried attempt (store rolls back to the batch's opening version).
    // Inject a failure into attempt 0 of EVERY task of the stateful result
    // stage — the map fuses into the flatMapGroupsWithState stage, so the
    // killed-and-retried task is the one that loaded, updated, and must
    // roll back the state store. Requires master local[n,2] (maxFailures=2,
    // SparkTestSession).
    val in = MemoryStream[Ev]
    // idleHorizon = None: with a processing-time timer armed, the engine
    // runs no-data micro-batches CONTINUOUSLY under the default trigger
    // (shouldRunAnotherBatch is always-true) — each one re-triggering the
    // injected failure + retry + checkpoint churn; eviction is proven by
    // the TestGroupState case below, this test isolates store ROLLBACK
    val pairs = Transitions.transitionPairs(in.toDS(), idleHorizon = None)
      .map { p =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0)
          throw new RuntimeException("injected first-attempt failure")
        p
      }
    val name = "trans_retry_gate"
    val q = pairs.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Ev(1L, ts(10), 100L, "signup"), Ev(1L, ts(20), 101L, "view"),
        Ev(2L, ts(15), 102L, "signup"))
      q.processAllAvailable()
      in.addData(Ev(1L, ts(30), 103L, "click"), Ev(2L, ts(40), 104L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got === Seq((1L, "signup", "view"), (1L, "view", "click"),
      (2L, "signup", "view")),
      "retried stateful tasks must reproduce the exact transition multiset")
    spark.catalog.dropTempView(name)
  }

  test("idle users are evicted: timeout removes state and emits nothing; " +
    "active updates re-arm the horizon") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def state(ev: Option[Ev], timedOut: Boolean) = TestGroupState.create[Ev](
      ev.map(org.apache.spark.api.java.Optional.of[Ev])
        .getOrElse(org.apache.spark.api.java.Optional.empty[Ev]()),
      GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = timedOut)
    // timed out: carried event dies, no output — the store tracks LIVE
    // users (the ADVICE-flagged unbounded-state fix)
    val idle = state(Some(Ev(9L, ts(1), 1L, "signup")), timedOut = true)
    val out = Transitions.updateTransitions(Some("1 hour"))(9L, Iterator.empty, idle)
    assert(out.isEmpty && idle.isRemoved)
    // active: pairs emitted, last event carried, timeout re-armed
    val live = state(Some(Ev(9L, ts(1), 1L, "signup")), timedOut = false)
    val pairs = Transitions.updateTransitions(Some("1 hour"))(
      9L, Iterator(Ev(9L, ts(5), 2L, "view")), live).toSeq
    assert(pairs === Seq(Transitions.Pair(9L, "signup", "view")))
    assert(live.get.event_id === 2L)
    assert(live.getTimeoutTimestampMs.isPresent,
      "an active update must re-arm the idle-eviction clock")
  }

  test("batch twin equals the lag window, ties ordered by event_id") {
    import spark.implicits._
    // equal timestamps: order must fall back to event_id, as in q200
    val evs = Seq(Ev(7L, ts(5), 3L, "c"), Ev(7L, ts(5), 1L, "a"),
      Ev(7L, ts(5), 2L, "b"), Ev(7L, ts(9), 4L, "d")).toDS()
    val fromState = Transitions.transitionPairsBatch(evs.toDF())
      .collect().map(p => (p.prev_type, p.next_type)).sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val fromWindow = evs.toDF()
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(fromState === Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(fromState === fromWindow)
  }

  test("q225: transformWithState (RocksDB) emits the same pairs as flatMapGroupsWithState") {
    // file replay + AvailableNow, like the carry test above: under the
    // default trigger TWS keeps committing no-data micro-batches and
    // processAllAvailable-based coordination is unreliable; AvailableNow
    // terminates deterministically (the q225 gate runs the same way)
    import spark.implicits._
    val f1 = Seq(Ev(1L, ts(10), 100L, "signup"), Ev(1L, ts(20), 101L, "view"),
      Ev(2L, ts(15), 102L, "signup"))
    val f2 = Seq(Ev(1L, ts(30), 103L, "click"), Ev(2L, ts(40), 104L, "view"))
    val dir = java.nio.file.Files.createTempDirectory("tws").toString
    val base = System.currentTimeMillis() - 60000L
    Seq(f1, f2).zipWithIndex.foreach { case (evs, i) =>
      graft.queries.Extensions.writeSingleParquet(
        evs.toDS().toDF(), dir, s"f$i.parquet", mtime = Some(base + i * 1000L))
    }
    val src = spark.readStream.schema(f1.toDS().schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = Gates.run(spark, "tws_spec_gate", Gates.Memory("append"), tws = true) {
      graft.streaming.TransitionsTws.transitionPairs(src.as[Ev])
    }.rows.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    // the exact multiset the GroupState version produces on this feed
    // (cross-batch carry included)
    assert(got === Seq((1L, "signup", "view"), (1L, "view", "click"),
      (2L, "signup", "view")))
  }

  test("q225 TTL: a carry older than the state TTL is evicted across a restart; " +
    "a generous TTL keeps it") {
    import spark.implicits._
    // two AvailableNow executions sharing a checkpoint (the q222
    // restart pattern) put REAL wall-clock between the carry's write
    // and its read; TTL state is an expiration timestamp, so it
    // expires across restarts exactly like within one run
    def run(ttlMs: Long, sleepMs: Long, tag: String): Seq[(Long, String, String)] = {
      val work = java.nio.file.Files.createTempDirectory("twsttl").toString
      val srcDir = s"$work/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      val base = System.currentTimeMillis() - 60000L
      def stage(n: String, evs: Seq[Ev], m: Long): Unit =
        graft.queries.Extensions.writeSingleParquet(
          evs.toDS().toDF(), srcDir, n, mtime = Some(m))
      def exec(qn: String): Unit = {
        val src = spark.readStream
          .schema(Seq.empty[Ev].toDS().schema).parquet(srcDir)
        // A real TTL forces TimeMode.ProcessingTime, where
        // shouldRunAnotherBatch is unconditionally true — under
        // Trigger.AvailableNow the query NEVER terminates, and
        // processAllAvailable never returns either (isCurrentBatch-
        // Constructed stays true, so noNewData is never signalled;
        // round-12/13 finding). Trigger.Once runs EXACTLY one batch and
        // terminates regardless — the only deterministic harness for a
        // processing-time-mode operator.
        // FILE sink, not memory: the memory sink refuses to resume from
        // an existing checkpoint ("does not support recovering"), and the
        // restart IS the point of this harness
        val q = Gates.start(spark, tws = true) {
          graft.streaming.TransitionsTws.transitionPairs(src.as[Ev],
              ttl = org.apache.spark.sql.streaming.TTLConfig(
                java.time.Duration.ofMillis(ttlMs)))
            .writeStream.format("parquet").outputMode("append")
            .option("path", s"$work/out")
            .option("checkpointLocation", s"$work/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger.Once())
            .start()
        }
        Gates.awaitBounded(q, qn)
      }
      stage("f0.parquet", Seq(Ev(1L, ts(10), 100L, "signup")), base)
      exec(s"tws_ttl_${tag}_r1")
      Thread.sleep(sleepMs)
      stage("f1.parquet", Seq(Ev(1L, ts(20), 101L, "view")), base + 1000L)
      exec(s"tws_ttl_${tag}_r2")
      spark.read
        .schema(org.apache.spark.sql.Encoders.product[Transitions.Pair].schema)
        .parquet(s"$work/out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    }
    // control first: generous TTL keeps the carry — proves the harness
    // would SEE a pair if eviction failed
    assert(run(ttlMs = 600000L, sleepMs = 10L, tag = "keep") ===
      Seq((1L, "signup", "view")))
    // tight TTL + longer wait: the carried signup must be gone
    assert(run(ttlMs = 300L, sleepMs = 1500L, tag = "drop") === Seq.empty,
      "TTL-expired carry must not pair")
  }
}
