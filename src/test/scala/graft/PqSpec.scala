package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pq

/** Product quantization (q168/q169/q170): pinned-codebook hygiene, code
  * well-formedness, the ADC = sum-of-subspace-distances law against an
  * independent JVM recomputation, the two-stage rerank recall floor, and
  * the plan shapes (zero-shuffle encode; codes-only ADC scan). */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf01 = "/root/testdata/sf0.01"
  private lazy val books = graft.ml.PinnedPqCodebooks.values

  test("pinned codebooks reproduce from their committed training run") {
    val emb = graft.ml.canonicalLayout(Tables.embeddings(spark, sf01), "vec_id")
    assert(Pq.trainBooks(emb) === books,
      "PinnedPqCodebooks is stale — regenerate with `runMain graft.ml.PinMain pq`")
  }

  test("codes are well-formed: 8 ids per vector, each in [1, 64]") {
    val codes = Pq.encode(Tables.embeddings(spark, sf01), books)
    assert(codes.columns.toSeq === ("vec_id" +: (1 to 8).map(s => s"c$s")))
    val bad = codes.filter(
      (1 to 8).map(s => col(s"c$s") < 1 || col(s"c$s") > Pq.centroids)
        .reduce(_ || _)).count()
    assert(bad === 0L)
    assert(codes.count() === Tables.embeddings(spark, sf01).count())
  }

  test("ADC equals the sum of coded sub-centroid distances (JVM recomputation)") {
    val emb = Tables.embeddings(spark, sf01)
    val adc = Pq.adcTopK(emb, emb.filter(col("vec_id") < 3), books, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codes = Pq.encode(emb, books)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(s => r.getInt(s)).toArray).toMap
    adc.foreach { case ((q, n), got) =>
      // identical association order: per-subspace fold then s = 0..7 chain
      var total = 0.0
      (0 until Pq.subspaces).foreach { s =>
        val ctr = books(s)(codes(n)(s) - 1)
        var d = 0.0
        (0 until Pq.subDim).foreach { i =>
          val x = vecs(q)(s * Pq.subDim + i) - ctr(i)
          d = d + x * x
        }
        total = total + d
      }
      assert(total === got, s"ADC($q, $n) diverges from the coded distance")
    }
  }

  test("two-stage rerank holds the pinned recall floor (q170)") {
    val hits = graft.queries.Extensions.pqRerankRecallAt5(spark, sf01)
      .agg(sum("hits_at_5")).collect()(0).getLong(0)
    // pin-time measurement: 0.98 at sf0.01 (0.80 cross-SF at sf0.1);
    // floor at 0.9 so a codebook or shortlist regression trips the spec
    assert(hits >= 45L, s"recall@5 floor: $hits/50 hits, expected >= 45")
  }

  test("rerank can only improve on raw ADC ranking (same shortlist truth)") {
    val emb = Tables.embeddings(spark, sf01)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Pq.bruteL2TopK(emb, queries, 5).select("query_id", "neighbor_id")
    def recallOf(df: org.apache.spark.sql.DataFrame): Long =
      brute.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
    val adcOnly = recallOf(Pq.adcTopK(emb, queries, books, 5))
    val reranked = recallOf(
      Pq.adcRerankTopK(emb, queries, books, 5, Pq.rerankShortlist))
    assert(reranked >= adcOnly,
      s"rerank ($reranked) must not lose to raw ADC ($adcOnly)")
  }

  test("IVF-PQ: index holds codes only; probe prunes partitions; recall floor (q171)") {
    val spark0 = spark
    import spark0.implicits._
    val emb = Tables.embeddings(spark, sf01)
    val queries = emb.filter(col("vec_id") < 10)
    val served = graft.queries.Extensions.ivfPqTopKQ(spark, sf01)
    // the index the gate row just (re)used: codes + cell, no raw vectors
    val dir = graft.queries.Extensions.ivfPqIndex(spark, sf01)
    val idx = spark.read.parquet(dir)
    assert(idx.columns.sorted.toSeq === Seq("cell", "codes", "vec_id"),
      s"index must store codes only, got ${idx.columns.mkString(",")}")
    // partition pruning: the probe's scan carries a cell PartitionFilter
    val plan = graft.operators.Pq.ivfPqTopK(dir, emb, queries,
      graft.ml.PinnedIvfCenters.values, books, k = 5, nProbe = 4,
      shortlist = graft.operators.Pq.rerankShortlist)(spark)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe must prune cell partitions:\n$plan")
    // recall floor of the composed path vs brute L2 truth
    val brute = graft.operators.Pq.bruteL2TopK(emb, queries, 5)
      .select("query_id", "neighbor_id")
    val hits = brute.join(served.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    info(s"IVF-PQ recall@5 at sf0.01: $hits/50")
    assert(hits >= 25L, s"composed-path recall floor: $hits/50, expected >= 25")
  }

  test("plan: encode is zero-shuffle; the ADC scan touches codes, not vectors") {
    val emb = Tables.embeddings(spark, sf01)
    val encPlan = Pq.encode(emb, books).queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), s"encode must be row-local:\n$encPlan")
    val adcPlan = Pq.adcTopK(emb, emb.filter(col("vec_id") < 10), books, k = 5)
      .queryExecution.executedPlan.toString
    // one broadcast (query luts) + the top-k window exchange; no sort-merge
    assert(adcPlan.contains("BroadcastNestedLoopJoin") ||
           adcPlan.contains("BroadcastHashJoin"),
      s"query luts must broadcast:\n$adcPlan")
    assert(!adcPlan.contains("SortMergeJoin"), s"no fact-side shuffle join:\n$adcPlan")
  }
}
