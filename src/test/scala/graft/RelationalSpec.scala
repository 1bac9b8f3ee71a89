package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4,2]: maxFailures=2, so the retry-determinism specs
      // (TransitionsSpec) can inject a first-attempt task failure and
      // assert the state-store-backed operators reproduce identical
      // output on the retried attempt
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class RelationalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every registered query returns rows on sf0.001 (except known-empty)") {
    // near-dup scans legitimately empty on random fixture data
    // (planted-pair tests in ExtensionsSpec prove them); q14's windowed
    // anti-join now yields survivors at every SF (round-11 verdict #7)
    val mayBeEmpty = Set("q25_near_dup_minhash", "q30_embedding_near_dups")
    val empty = RegistrySweep.swept.collect {
      case RegistrySweep.Swept(n, Right((_, 0L)), _) if !mayBeEmpty(n) => n }
    val errors = RegistrySweep.errors
    assert(errors.isEmpty && empty.isEmpty,
      s"${errors.size} queries failed:\n${errors.mkString("\n")}\n" +
        s"queries that returned no rows: ${empty.mkString(", ")}")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("featurize: line counts sum to lineitem row count") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf).count()
    val sumLines = graft.queries.Relational.featurized(spark, sf)
      .agg(sum(col("line_count"))).head.getLong(0)
    assert(sumLines === li)
  }

  test("topk threshold is a positive scalar") {
    val t = graft.queries.Relational.topkThreshold(spark, sf).head.getDouble(0)
    assert(t > 0.0)
  }

  test("sessionize: per-session event counts sum to total events") {
    import org.apache.spark.sql.functions._
    val total = Tables.events(spark, sf).count()
    val agg = graft.queries.Relational.sessionizeGap(spark, sf)
      .agg(sum(col("n_events"))).head.getLong(0)
    assert(agg === total)
  }

  test("union preserves multiplicity (row count = events count)") {
    assert(graft.queries.Relational.unionBranches(spark, sf).count() ===
      Tables.events(spark, sf).count())
  }

  test("q102 funnel: monotone non-increasing stages; conversions in (0, 1]") {
    val rows = graft.queries.Relational.funnel(spark, sf)
      .orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.map(_._1).toSeq ===
      Seq("1_signup", "2_view", "3_click", "4_purchase"))
    val users = rows.map(_._2)
    assert(users.head > 0)
    users.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0) >= w(1), s"funnel grew: ${users.toSeq}") }
    assert(rows.head._3.isEmpty, "first stage has no prior to convert from")
    rows.tail.foreach { case (s, _, c) =>
      assert(c.exists(v => v > 0.0 && v <= 1.0), s"$s conversion $c") }
  }

  test("q100/q101/q102 plans: key equi-joins only, top-k via TakeOrdered") {
    val q100 = graft.queries.MaintenanceQueries.statusAsOf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!q100.contains("CartesianProduct") &&
      !q100.contains("BroadcastNestedLoopJoin"),
      s"q100 non-equi join:\n$q100")

    val q101 = graft.queries.Curation.corpusDrift(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q101.contains("TakeOrderedAndProject"),
      s"q101 top-30 must be TakeOrdered, not a global sort:\n$q101")
    assert(!q101.contains("CartesianProduct"))
    // the only nested loop is the broadcast 1-row totals
    val bnlj = q101.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    val cross = q101.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("Cross"))
    assert(bnlj === cross, s"q101 non-scalar nested loop:\n$q101")

    val q102 = graft.queries.Relational.funnel(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!q102.contains("CartesianProduct") &&
      !q102.contains("BroadcastNestedLoopJoin"),
      s"q102 non-equi join:\n$q102")
  }

  test("q221: the correlated scalar subquery decorrelates to one aggregate + equi-join") {
    val plan = graft.queries.Relational.correlatedMaxOrder(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery did not decorrelate:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"),
      s"expected a decorrelated join:\n$plan")
  }
}
