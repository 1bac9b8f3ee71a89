package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Fixtures, QueryDef, Tables}
import graft.functions.Exact

/** Exact distributed statistics — the profiling pass a training-data
  * pipeline runs to understand a corpus' numeric columns before filtering
  * on them. Everything here keeps the engine's cross-engine float
  * discipline: sums are floor-quantized decimals (order-independent, so
  * results are identical at ANY parallelism — see
  * [[graft.functions.Exact]]), divisions and square roots are single IEEE
  * operations on identical operands (sqrt IS correctly rounded by
  * IEEE 754, unlike log/exp, so it is gate-safe).
  */
object Stats {

  // --- q79: equal-width value histogram -------------------------------------

  /** Fixed-width histogram of lineitem extended price: bin id is one IEEE
    * division + floor (identical both engines), per-bin count / min / max
    * (element picks, no summation) and quantized mean. ONE map-side-combined
    * aggregate shuffle on the bin id; bins are domain/width bounded, never
    * row-count bounded — the same histogram costs one pass at 100 TB. */
  val histBinWidth = 5000.0

  def priceHistogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(floor(col("l_extendedprice") / lit(histBinWidth)).cast("long").as("bin"),
        col("l_extendedprice"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"),
        Exact.davg(col("l_extendedprice"), 2).as("mean_price"))

  val priceHistogramSql: String = s"""
    SELECT CAST(floor(l_extendedprice / $histBinWidth) AS BIGINT) AS bin,
           count(*) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi,
           ${Exact.davgSql("l_extendedprice", 2)} AS mean_price
    FROM lineitem
    GROUP BY 1"""

  // --- q80: second-moment statistics (covariance / correlation) -------------

  /** Per-returnflag covariance and Pearson correlation of quantity vs
    * extended price, from five floor-quantized decimal sums (x, y, x², y²,
    * xy) + a count — the classic one-pass parallel second-moment form.
    * Spark's own covar_pop/corr are summation-order dependent (doubles);
    * this is the reproducible-at-any-parallelism variant, and the final
    * combination is plain IEEE arithmetic + one sqrt per side on identical
    * operands in both engines.
    *
    * Quantization domain: |x·y| ≤ 55 · 1.1e5 ≈ 6e6, ×1e2 ≈ 6e8 per row —
    * comfortably inside 2^53; decimal(27,0) absorbs any SF's row count. */
  def momentStats(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        Exact.dsum(x, 2).as("sx"),
        Exact.dsum(y, 2).as("sy"),
        Exact.dsum(x * x, 2).as("sxx"),
        Exact.dsum(y * y, 2).as("syy"),
        Exact.dsum(x * y, 2).as("sxy"))
      .select(col("l_returnflag"),
        col("n").cast("long").as("n"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")).as("cov_pop"),
        // try_divide: a zero-variance side NULLs corr, matching DuckDB's
        // NULL-on-zero double division (Spark's ANSI `/` would throw);
        // nonzero divisors are the identical IEEE division either way
        try_divide(col("n") * col("sxy") - col("sx") * col("sy"),
          sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))).as("corr"))
  }

  val momentStatsSql: String = {
    val sx  = Exact.dsumSql("l_quantity", 2)
    val sy  = Exact.dsumSql("l_extendedprice", 2)
    val sxx = Exact.dsumSql("l_quantity * l_quantity", 2)
    val syy = Exact.dsumSql("l_extendedprice * l_extendedprice", 2)
    val sxy = Exact.dsumSql("l_quantity * l_extendedprice", 2)
    s"""
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           (sxy - sx * sy / n) / n AS cov_pop,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
    FROM (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             $sx AS sx, $sy AS sy, $sxx AS sxx, $syy AS syy, $sxy AS sxy
      FROM lineitem
      GROUP BY 1)"""
  }

  // --- q81: per-group discrete p99 (order statistic) -------------------------

  /** Bin count for the distributed-selection pass. Candidate set after the
    * refine filter is ~n/4096 rows per group — the only rows that ever see a
    * per-group sort. */
  val p99Bins = 4096

  /** Exact per-event-type p99 of non-null `value`: the element at rank
    * ceil(0.99 · n) in (value, event_id) order — a picked element, not an
    * interpolation, so it is engine-exact (the q56 median pattern, one
    * tail percentile instead).
    *
    * Plan: two-pass distributed selection, NOT a per-group global sort (a
    * window partitioned on a 5-value key full-sorts the table at
    * parallelism 5 — the round-5 scale-killer this replaces).
    *   1. per-group (min, max, n, rank) — one map-side-combined aggregate;
    *      broadcast (one row per group).
    *   2. bin each row into [[p99Bins]] equal-width bins — row-local
    *      arithmetic against the broadcast stats. Binning is monotone in
    *      `value` (IEEE subtract/multiply/divide by positive constants are
    *      correctly rounded ⇒ order-preserving, equal values share a bin),
    *      so cumulative-bin rank + within-bin rank ≡ global rank and the
    *      selected ELEMENT is independent of where bin edges fall.
    *   3. per-(group, bin) counts — the only full-table shuffle, on the
    *      HIGH-cardinality composite key. Cumulative counts over that
    *      aggregate locate the bin holding the rank; the window there
    *      partitions per group over ≤ [[p99Bins]] aggregated rows, the
    *      bounded-table window pattern (cf. q77), not a data-sized one.
    *   4. sort only the rows of the target bin (~n/4096 per group) and pick
    *      the element at rank − below.
    * Degenerate case min==max collapses to one bin and step 4 sorts the
    * whole (constant-valued) group; a recursion on the target bin would
    * bound that too, but a constant group's p99 is its only value, so the
    * answer is still exact. Three columnar scans of the input total —
    * selection algorithms buy bounded memory with an extra pass. */
  def p99PerType(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
      .filter(col("value").isNotNull)
    val stats = base.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"), count(lit(1)).as("n"))
      .withColumn("rank", ceil(col("n") * 0.99).cast("long"))

    val binOf = when(col("mx") > col("mn"),
      least(floor((col("value") - col("mn")) * lit(p99Bins.toDouble) / (col("mx") - col("mn")))
        .cast("long"), lit(p99Bins - 1L)))
      .otherwise(lit(0L))
    // n/rank ride along through the bin aggregate (constant per group) so
    // stats joins ONCE — its two identical scan→agg→broadcast subtrees are
    // canonically equal and collapse via ReuseExchange at execution
    val binned = base.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("value"), col("event_id"), binOf.as("bin"),
        col("n"), col("rank"))

    val overBins = Window.partitionBy("event_type").orderBy("bin")
    val target = binned.groupBy("event_type", "n", "rank", "bin")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(overBins))
      .filter(col("cum") - col("cnt") < col("rank") && col("rank") <= col("cum"))
      .select(col("event_type").as("t_type"), col("bin").as("t_bin"),
        (col("cum") - col("cnt")).as("below"), col("n"), col("rank"))

    val inBin = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    binned.select(col("event_type"), col("value"), col("event_id"), col("bin"))
      .join(broadcast(target),
        col("event_type") === col("t_type") && col("bin") === col("t_bin"))
      .withColumn("rn", row_number().over(inBin))
      .filter(col("rn") === col("rank") - col("below"))
      .select(col("event_type"), col("n"), col("value").as("p99"))
  }

  val p99PerTypeSql: String = """
    SELECT event_type, n, value AS p99
    FROM (SELECT event_type, value,
            row_number() OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events
          WHERE value IS NOT NULL)
    WHERE rn = CAST(ceil(n * 0.99) AS BIGINT)"""

  // --- q92: multi-quantile approximation from ONE histogram pass ------------

  /** Quantiles served per group by the single-pass approximate path. */
  val approxPs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Approximate per-group (p50, p90, p99) from ONE binned pass: the q81
    * machinery stopped after the bin-count stage — the answer is the target
    * bin's LOWER EDGE, and the guarantee `|approx − exact| ≤ (mx−mn)/bins`
    * holds because the exact order statistic provably lies inside that bin
    * (StatsSpec asserts the bound against [[p99PerType]] on real data).
    *
    * This is the at-scale tradeoff made explicit next to its exact twin:
    * one fewer full scan than q81 and ALL requested quantiles for free from
    * the same bounded histogram — per-group cost is O(bins), row cost is
    * one aggregate shuffle on the high-cardinality (group, bin) key. Every
    * edge is deterministic IEEE arithmetic on identical operands, so the
    * approximation itself is oracle-checkable cross-engine — unlike
    * sketch-based approx_percentile, whose merge order varies by run. */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val stats = base.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"), count(lit(1)).as("n"))

    val binOf = when(col("mx") > col("mn"),
      least(floor((col("value") - col("mn")) * lit(p99Bins.toDouble) / (col("mx") - col("mn")))
        .cast("long"), lit(p99Bins - 1L)))
      .otherwise(lit(0L))
    val counts = base.join(broadcast(stats), "event_type")
      .select(col("event_type"), binOf.as("bin"), col("mn"), col("mx"), col("n"))
      .groupBy("event_type", "mn", "mx", "n", "bin")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("event_type").orderBy("bin")))

    counts
      .select(col("*"), explode(lit(approxPs.toArray)).as("p"))
      .withColumn("rank", ceil(col("n") * col("p")).cast("long"))
      .filter(col("cum") - col("cnt") < col("rank") && col("rank") <= col("cum"))
      .select(col("event_type"), col("p"),
        (col("bin").cast("double") * (col("mx") - col("mn")) / lit(p99Bins.toDouble)
          + col("mn")).as("approx"),
        ((col("mx") - col("mn")) / lit(p99Bins.toDouble)).as("err_bound"))
  }

  val approxQuantilesSql: String = s"""
    WITH stats AS (
      SELECT event_type, min(value) AS mn, max(value) AS mx, count(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    counts AS (
      SELECT e.event_type, s.mn, s.mx, s.n,
             CASE WHEN s.mx > s.mn THEN
               least(CAST(floor((e.value - s.mn) * ${p99Bins.toDouble} / (s.mx - s.mn))
                     AS BIGINT), ${p99Bins - 1})
             ELSE 0 END AS bin,
             count(*) AS cnt
      FROM events e JOIN stats s USING (event_type)
      WHERE e.value IS NOT NULL
      GROUP BY 1, 2, 3, 4, 5),
    cums AS (
      SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      FROM counts)
    SELECT event_type, p, bin * (mx - mn) / ${p99Bins.toDouble} + mn AS approx,
           (mx - mn) / ${p99Bins.toDouble} AS err_bound
    FROM cums, (VALUES ${approxPs.map(p => s"(CAST($p AS DOUBLE))").mkString(", ")}) ps(p)
    WHERE cum - cnt < CAST(ceil(n * p) AS BIGINT)
      AND CAST(ceil(n * p) AS BIGINT) <= cum"""

  // --- q103: exact global percentile rank without a global sort -------------

  /** Every document's EXACT percentile rank by token count — the
    * normalization behind "keep the middle 80 % by length" curation
    * thresholds, computed with the q81 bin-offset discipline instead of
    * the textbook `percent_rank() OVER (ORDER BY score)` whose single
    * ORDER BY partition is the canonical distributed-ranking scale-killer.
    *
    * Pass structure (everything integer until the final division):
    *   1. score = token count; global (mn, mx, n) broadcast;
    *   2. bin = (score−mn)·4096 div (mx−mn+1) — ALL-INTEGER equal-width
    *      binning, no float edges;
    *   3. per-(bin, score) counts; bin totals cumsum over ≤ 4096
    *      aggregated rows (the bounded-table window, cf. q92);
    *   4. within-bin cumsum over (bin, score) rows — partitioned by bin,
    *      high cardinality — gives strictly-smaller counts, so
    *      rank_below = below_bin + smaller_in_bin, and
    *      pct_rank = rank_below / (n−1): one IEEE division of identical
    *      operands, which is exactly DuckDB's percent_rank (ties share
    *      the minimal rank).
    * Join back to docs is on (bin, score) — aggregated cardinality, far
    * smaller than rows when scores repeat (lengths do). */
  def lengthPctRank(s: SparkSession, d: String): DataFrame = {
    val B = 4096L
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("score"))
    val stats = scored.agg(min("score").as("mn"), max("score").as("mx"),
      count(lit(1)).as("n"))
    val binned = scored.crossJoin(broadcast(stats))
      .withColumn("bin", expr(s"((score - mn) * $B) div (mx - mn + 1)"))

    val scoreCounts = binned.groupBy("bin", "score").agg(count(lit(1)).as("c"))
    val overBins = Window.orderBy("bin")
    val belowBin = scoreCounts.groupBy("bin").agg(sum("c").as("bc"))
      .withColumn("below_bin", sum("bc").over(overBins) - col("bc"))
      .select(col("bin"), col("below_bin"))
    val inBin = Window.partitionBy("bin").orderBy("score")
    val ranks = scoreCounts
      .withColumn("smaller_in_bin", sum("c").over(inBin) - col("c"))
      .join(broadcast(belowBin), "bin")
      .select(col("bin"), col("score"),
        (col("below_bin") + col("smaller_in_bin")).as("rank_below"))

    binned.join(ranks, Seq("bin", "score"))
      .select(col("doc_id"), col("score"),
        // n = 1 would divide 0/0 = NaN where SQL percent_rank defines the
        // single-row case as 0 — guard the degenerate input explicitly.
        when(col("n") > 1L,
          col("rank_below").cast("double") / (col("n") - 1L).cast("double"))
          .otherwise(lit(0.0)).as("pct_rank"))
  }

  val lengthPctRankSql: String = s"""
    SELECT doc_id, score,
           percent_rank() OVER (ORDER BY score) AS pct_rank
    FROM (SELECT doc_id, len(${graft.queries.Extensions.toksSql}) AS score
          FROM documents)"""

  // --- q93: oracle-exact HyperLogLog sketch state ---------------------------

  /** Per-event-type HLL sketch of distinct users, all state oracle-exact:
    * (active buckets, exact-integer harmonic denominator, raw estimate) —
    * see [[graft.operators.Hll]]. Contrast q33, whose HLL++ registers hide
    * behind an engine-private hash and can only be rows-only checked. */
  def hllSketch(s: SparkSession, d: String): DataFrame =
    graft.operators.Hll.sketch(
      graft.operators.Hll.registers(
        Tables.events(s, d), Seq("event_type"), col("user_id")),
      Seq("event_type"))

  val hllSketchSql: String = {
    import graft.operators.Hll
    s"""
    WITH br AS (
      SELECT event_type, ${Hll.bucketSql("hv")} AS bucket,
             ${Hll.rankSql("hv")} AS r
      FROM (SELECT event_type, ${Hll.hashSql("user_id")} AS hv
            FROM events WHERE user_id IS NOT NULL)),
    regs AS (SELECT event_type, bucket, max(r) AS r FROM br GROUP BY 1, 2),
    agg AS (SELECT event_type, count(*) AS active,
              -- DuckDB sum(BIGINT) widens to HUGEINT; the value is < 2^63
              -- by construction, so narrow it back for dtype parity
              CAST(sum(CAST(1 AS BIGINT) << (${Hll.maxRank} - r)) AS BIGINT)
                AS s_present
            FROM regs GROUP BY 1)
    SELECT event_type, active,
           s_present + (${Hll.m} - active) * (CAST(1 AS BIGINT) << ${Hll.maxRank})
             AS s_scaled,
           0.7213 / (1.0 + 1.079 / ${Hll.m.toDouble}) * ${Hll.m.toDouble}
             * ${Hll.m.toDouble} * 2251799813685248.0
             / CAST(s_present + (${Hll.m} - active)
                    * (CAST(1 AS BIGINT) << ${Hll.maxRank}) AS DOUBLE) AS raw_est
    FROM agg"""
  }

  // --- q159: the HLL sketch via the NATIVE aggregate -------------------------

  /** q159: q93's per-event-type distinct-user sketch built by the engine's
    * [[graft.expressions.HllRegisters]] TypedImperativeAggregate (SQL:
    * `graft_hll(id)`) instead of the (bucket, rank) groupBy composition —
    * the q146-vs-q127 discipline applied to the sketch family. The
    * composition shuffles one (group, bucket) row per input event to the
    * register aggregation; the native aggregate folds registers map-side
    * and ships one 4 KB buffer per group per task — at 100 TB the exchange
    * carries sketches, not the fact table. The (active, s_scaled, raw_est)
    * finalization runs as plan-level array lambdas over the register
    * array with the SAME exact integer arithmetic, so this row's oracle is
    * q93's verbatim — the two engine paths and DuckDB all hash-match. */
  def hllNativeSketch(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    import graft.operators.Hll
    Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(graft.expressions.HllRegisters.hll(col("user_id")).as("regs"))
      .select(col("event_type"),
        expr("CAST(size(filter(regs, r -> r > 0)) AS BIGINT)").as("active"),
        // absent buckets carry rank 0, so 2^(51-0) is exactly their
        // (m - active)·2^51 share in q93's s_scaled — one lambda fold
        expr(s"""aggregate(regs, CAST(0 AS BIGINT),
                 (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT),
                                             CAST(${Hll.maxRank} - r AS INT)))""")
          .as("s_scaled"))
      .withColumn("raw_est",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(Hll.m.toDouble)) *
          lit(Hll.m.toDouble) * lit(Hll.m.toDouble) *
          lit(math.pow(2.0, Hll.maxRank)) /
          col("s_scaled").cast("double"))
  }

  // --- q114/q115: oracle-exact Bloom filter + semi-join reduction -----------

  /** q114: Bloom filter STATE per market segment over the customer keys —
    * the membership sketch completing the oracle-exact trio (q93 HLL
    * distinct counts, q94 CMS frequencies). Every (word, bits32) row is
    * deterministic integer arithmetic ([[graft.operators.Bloom]]), so the
    * oracle rebuilds the filter bit-for-bit — the cross-engine guarantee
    * Spark's built-in `might_contain` runtime filter can never give. */
  def bloomState(s: SparkSession, d: String): DataFrame =
    graft.operators.Bloom.state(
      Tables.customer(s, d), col("c_custkey"), Seq("c_mktsegment"))

  val bloomStateSql: String = {
    import graft.operators.Bloom
    s"""
    WITH hashes AS (
      SELECT c_mktsegment,
             ${graft.operators.Hll.polySql("c_custkey", 2147483647L,
               Seq(1299709L, 15485863L, 32452843L, 49979687L))} AS h1,
             ((${graft.operators.Hll.polySql("c_custkey", 2147483629L,
               Seq(67867967L, 86028121L, 104395301L, 122949823L))})
               % ${Bloom.bits - 1} + 1) AS h2m
      FROM customer WHERE c_custkey IS NOT NULL),
    pos AS (
      SELECT c_mktsegment, (h1 + i * h2m) % ${Bloom.bits} AS pos
      FROM hashes CROSS JOIN range(${Bloom.k}) t(i))
    SELECT c_mktsegment, pos // 32 AS word,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS BIGINT)
             AS bits32
    FROM pos GROUP BY 1, 2"""
  }

  // --- q166: the Bloom filter via the NATIVE aggregate -----------------------

  /** q166: q114's per-segment Bloom words built by the engine's
    * [[graft.expressions.BloomWords]] TypedImperativeAggregate (SQL:
    * `graft_bloom(key)`) instead of the explode-k-positions groupBy
    * composition — the q159/q93 and q162/q94 discipline applied to the
    * third sketch family, completing the native trio. The composition
    * shuffles k (group, pos) rows per input key; the native aggregate ORs
    * words map-side and ships one 16 KB buffer per group per task — at
    * 100 TB the exchange carries filters, not the key stream. Exploding
    * the non-zero word slots reproduces q114's sparse (word, bits32)
    * table exactly, so this row's oracle is q114's VERBATIM — the two
    * engine paths and DuckDB all hash-match. */
  def bloomNativeState(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    Tables.customer(s, d)
      .filter(col("c_custkey").isNotNull)
      .groupBy("c_mktsegment")
      .agg(graft.expressions.BloomWords.bloom(col("c_custkey")).as("ws"))
      .select(col("c_mktsegment"), posexplode(col("ws")).as(Seq("word", "bits32")))
      .filter(col("bits32") =!= 0L)
      .select(col("c_mktsegment"), col("word").cast("long").as("word"),
        col("bits32"))
  }

  /** q115: explicit bloom semi-join reduction — the filter built from the
    * selective dim side (one segment of customers) prunes the orders scan
    * row-locally BEFORE the join shuffle, and the exact join removes the
    * false positives, so the sketch is INVISIBLE in the result: the oracle
    * is the plain join (the q106 salting law, applied to runtime
    * filtering). At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling the ~1/5 that can possibly match. */
  def bloomSemiJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val bf = graft.operators.Bloom.build(cust, col("c_custkey"))
    Tables.orders(s, d)
      .filter(graft.operators.Bloom.mightContain(col("o_custkey"), bf))
      .join(cust.select("c_custkey"), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice"), 2).as("revenue"))
  }

  val bloomSemiJoinSql: String = s"""
    SELECT o_orderpriority, count(*) AS n,
           ${Exact.dsumSql("o_totalprice", 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY 1"""

  // --- q117: CMS inner-product join-cardinality estimate --------------------

  /** q117: |orders ⋈ customer| estimated from the two key sketches alone —
    * the classic CMS inner-product estimator (min over depth rows of the
    * bucket-wise count dot product), the statistic a planner consults
    * before committing to a join strategy at 100 TB. Integers end to end,
    * so the ESTIMATE is oracle-exact, and the true cardinality rides
    * along as a second gate quantity pinning the one-sided guarantee
    * est ≥ true (CmsSpec asserts the bound too). Sketch cost: one
    * bounded-state pass per side — the estimate never touches the join.
    * Range note: the BIGINT dot product is exact up to ~10^12-row sides
    * (cell counts ~n/width, products summed over width cells); past that,
    * widen `dot` to DECIMAL — under ANSI mode an overflow fails loudly,
    * never silently wraps. */
  def joinSizeEstimate(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Cms
    val a = Cms.sketch(Tables.orders(s, d), col("o_custkey"))
    val b = Cms.sketch(Tables.customer(s, d), col("c_custkey"))
      .withColumnRenamed("cnt", "cnt_b")
    val est = a.join(b, Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("cnt") * col("cnt_b")).as("dot"))
      .agg(min("dot").as("est_join_size"))
    val truth = Tables.orders(s, d).join(Tables.customer(s, d),
      col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("true_join_size"))
    est.crossJoin(truth)
  }

  val joinSizeEstimateSql: String = {
    import graft.operators.Cms
    def cellRows(table: String, key: String) =
      (0 until Cms.depth).map(i =>
        s"SELECT $i AS rw, ${Cms.bucketSql(key, i)} AS bucket FROM $table WHERE $key IS NOT NULL")
        .mkString(" UNION ALL ")
    s"""
    WITH a AS (SELECT rw, bucket, count(*) AS ca
               FROM (${cellRows("orders", "o_custkey")}) GROUP BY 1, 2),
    b AS (SELECT rw, bucket, count(*) AS cb
          FROM (${cellRows("customer", "c_custkey")}) GROUP BY 1, 2),
    d AS (SELECT a.rw, CAST(sum(ca * cb) AS BIGINT) AS dot
          FROM a JOIN b USING (rw, bucket) GROUP BY 1)
    SELECT (SELECT min(dot) FROM d) AS est_join_size,
           (SELECT count(*) FROM orders JOIN customer
            ON o_custkey = c_custkey) AS true_join_size"""
  }

  // --- q118: incremental HLL maintenance over persisted state ---------------

  /** q118: the q93 sketch served from PERSISTED, incrementally maintained
    * register state — the sketch-family twin of the index roll-forward
    * doctrine (q52 signatures, q99 IVF cells, q113 segments): day-1
    * registers land as a parquet snapshot, day-2's delta registers
    * max-MERGE into it (the same one-key-join shape as the q90 MERGE,
    * except max-merge makes it a pure aggregate), and the finalized sketch
    * must be byte-identical to computing q93 from scratch — the oracle IS
    * q93's, verbatim. Register state is ≤ m rows per group forever, so
    * the daily maintenance cost never grows with history — the property
    * that makes a distinct-count dashboard over 100 TB of events
    * incrementally cheap. */
  def hllIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Hll
    val ev = Tables.events(s, d)
    // a crash mid-maintenance leaves no marker: the state is rebuilt
    val dir = Fixtures.once(s, "graft-hll-cache", d, "events", "p12") { dir =>
      Hll.registers(ev.filter(col("event_id") % 2 === 0),
          Seq("event_type"), col("user_id"))
        .write.parquet(s"$dir/base")
      val delta = Hll.registers(ev.filter(col("event_id") % 2 === 1),
        Seq("event_type"), col("user_id"))
      s.read.parquet(s"$dir/base").union(delta)
        .groupBy("event_type", "bucket").agg(max("r").as("r"))
        .write.parquet(s"$dir/merged")
    }
    Hll.sketch(s.read.parquet(s"$dir/merged"), Seq("event_type"))
  }

  // --- q122: incremental CMS maintenance over persisted state ---------------

  /** q122: the CMS twin of q118 — frequency-sketch state rolled forward
    * at delta cost, exercising the OTHER merge law (cell-wise SUM, where
    * HLL merges by max): day-1 cells persist, day-2's delta cells
    * sum-merge in, and the result must be cell-for-cell identical to
    * sketching the full stream — the oracle recomputes it directly. With
    * q118 this closes the pair: both sketch merge disciplines are gated
    * through a persisted roll-forward, not just spec-proven in memory. */
  def cmsIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Cms
    val ev = Tables.events(s, d)
    val dir = Fixtures.once(s, "graft-cms-cache", d, "events", "d4w2048") { dir =>
      Cms.sketch(ev.filter(col("event_id") % 2 === 0), col("user_id"))
        .write.parquet(s"$dir/base")
      s.read.parquet(s"$dir/base")
        .union(Cms.sketch(ev.filter(col("event_id") % 2 === 1), col("user_id")))
        .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
        .write.parquet(s"$dir/merged")
    }
    s.read.parquet(s"$dir/merged")
  }

  // --- q124: incremental Bloom maintenance over persisted state -------------

  /** q124: the Bloom member of the roll-forward trio — the q114 filter
    * served from persisted, incrementally maintained word state,
    * exercising the THIRD sketch merge law (word-wise bit OR, where HLL
    * merges by max and CMS by sum): day-1's per-segment words persist as
    * a snapshot, day-2's delta words `bit_or`-merge in under the
    * marker-written-last crash rule, and the merged filter must be
    * bit-for-bit the one built from the full table — the oracle IS
    * q114's, verbatim. Set-union-by-OR is what makes Bloom state
    * append-maintainable at all: membership bits only ever turn on, so a
    * day's delta merges in one ≤ m-row-per-group aggregate and the daily
    * cost never grows with corpus history. */
  def bloomIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Bloom
    val cust = Tables.customer(s, d)
    val dir = Fixtures.once(s, "graft-bloom-cache", d, "customer", "seg") { dir =>
      Bloom.state(cust.filter(col("c_custkey") % 2 === 0),
          col("c_custkey"), Seq("c_mktsegment"))
        .write.parquet(s"$dir/base")
      val delta = Bloom.state(cust.filter(col("c_custkey") % 2 === 1),
        col("c_custkey"), Seq("c_mktsegment"))
      s.read.parquet(s"$dir/base").union(delta)
        .groupBy("c_mktsegment", "word").agg(bit_or(col("bits32")).as("bits32"))
        .write.parquet(s"$dir/merged")
    }
    s.read.parquet(s"$dir/merged")
  }

  val cmsIncrementalSql: String = {
    import graft.operators.Cms
    val cellRows = (0 until Cms.depth).map(i =>
      s"""SELECT $i AS rw, ${Cms.bucketSql("user_id", i)} AS bucket
          FROM events WHERE user_id IS NOT NULL""").mkString(" UNION ALL ")
    s"""SELECT rw AS "row", bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM ($cellRows) GROUP BY 1, 2"""
  }

  // --- q127: native grouped top-k aggregate ---------------------------------

  /** q127: top-3 customers per nation by account balance via the engine's
    * native [[graft.expressions.TopKRows]] aggregate (SQL:
    * `graft_topk(key, payload, k)`). The window form this replaces —
    * `row_number() OVER (PARTITION BY nation ORDER BY bal DESC, key)` —
    * shuffles and sorts EVERY customer row; the aggregate runs in
    * ObjectHashAggregate with a partial/final split, so each map task
    * forwards at most k pairs per nation and the exchange carries k-row
    * buffers, not the table (TopKSpec pins the partial/final plan shape
    * and the single exchange). Ties break on custkey ascending — the same
    * total order the oracle's window states, so the kept set is unique
    * and merge-order-independent. Balances surface as exact cents
    * (`round(bal*100)`: 2-decimal values in a double are within ulps of
    * an integer multiple, so both engines round identically). */
  def topCustomersPerNation(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(graft.expressions.TopKRows.topK(col("c_acctbal"), col("c_custkey"), 3).as("top"))
      .select(col("c_nationkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("c_nationkey"),
        (col("pos") + 1).cast("long").as("rank"),
        col("e.payload").as("c_custkey"),
        round(col("e.key") * 100).cast("long").as("acctbal_cents"))

  /** The oracle states the SEMANTICS in the declarative window form the
    * aggregate optimizes away. */
  val topCustomersPerNationSql: String = """
    SELECT c_nationkey, rank, c_custkey, acctbal_cents FROM (
      SELECT c_nationkey, c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rank
      FROM customer) t
    WHERE rank <= 3"""

  // --- q141: exponential time-decay aggregation ----------------------------

  /** Time-decayed per-type event aggregates with EXACT decay arithmetic —
    * the recency weighting a feature store applies to behavioral counters,
    * under the gate's float discipline: half-life = 1 day, weight =
    * 2^-age_days computed as `1.0 / (1 << age)`. A power-of-two divisor
    * makes the division exact in IEEE 754 and identical in both engines —
    * libm pow/exp are NOT correctly rounded and would flip final ulps —
    * and base-2 decay is what "half-life" means anyway. Age is anchored to
    * the corpus max timestamp (deterministic; at 100 TB the anchor is the
    * feed's high-watermark, a scalar), integer-divided in epoch micros,
    * and capped at 50 doublings (weight < 1e-15 of scale beyond that; the
    * cap also keeps the shift in BIGINT range). Decayed sums go through
    * the floor-quantized Exact aggregate, so the whole row is
    * bit-reproducible at any parallelism.
    *
    * Scale shape: one broadcast 1-row scalar join for the anchor + one
    * map-side-combined aggregate on the (tiny) event_type key. */
  def decayedPopularity(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val mx = ev.agg(max(col("ts_us")).as("mx_us"))
    ev.crossJoin(broadcast(mx))
      // `div`, NOT `/`: Spark's `/` is double division, and a quotient that
      // double-rounds just above an integer would truncate differently from
      // DuckDB's integer `//` at day boundaries
      .withColumn("age_days", expr("(mx_us - ts_us) div 86400000000"))
      .withColumn("w", expr(
        "1.0 / CAST(shiftleft(CAST(1 AS BIGINT), CAST(least(age_days, 50) AS INT)) AS DOUBLE)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Exact.dsum(col("w"), 8).as("decayed_count"),
        Exact.dsum(col("value") * col("w"), 6).as("decayed_value"))
  }

  val decayedPopularitySql: String = s"""
    SELECT event_type, count(*) AS n_events,
           ${Exact.dsumSql("w", 8)} AS decayed_count,
           ${Exact.dsumSql("value * w", 6)} AS decayed_value
    FROM (
      SELECT event_type, value,
             1.0 / CAST((CAST(1 AS BIGINT) << CAST(LEAST(age_days, 50) AS INT))
                        AS DOUBLE) AS w
      FROM (
        SELECT event_type, value,
               (mx_us - epoch_us(ts)) // 86400000000 AS age_days
        FROM events
        CROSS JOIN (SELECT max(epoch_us(ts)) AS mx_us FROM events)))
    GROUP BY event_type"""

  // --- q145: robust (median/MAD) scaling statistics -------------------------

  /** Outlier-robust scaling statistics per event type: the exact median and
    * the median absolute deviation, both as ORDER STATISTICS (the q56
    * discipline — a picked element with a total order is the same row in
    * every engine; interpolated percentiles are not). Pass 1 picks the
    * rank-⌈n/2⌉ (value, event_id) per type; pass 2 broadcasts the 5-row
    * median table back, forms |value − median| (the same IEEE subtraction
    * in both engines), and picks its rank-⌈n/2⌉ element. (median, MAD) is
    * what a feature pipeline feeds a robust z-score ((x−med)/(1.4826·MAD))
    * when heavy tails would poison mean/stddev scaling.
    *
    * Scale shape: two sort-windows over the event_type partition — the
    * exact form; q92's histogram sketch is the documented one-pass
    * approximate alternative when a full sort per key is too dear. */
  def robustScaling(s: SparkSession, d: String): DataFrame =
    robustScalingOn(Tables.events(s, d))

  def robustScalingOn(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("event_id"), col("value"))
    val byType = Window.partitionBy(col("event_type"))
    val med = ev
      .withColumn("rn", row_number().over(byType.orderBy(col("value"), col("event_id"))))
      .withColumn("cnt", count(lit(1)).over(byType))
      .filter(col("rn") === ((col("cnt") + 1) / 2).cast("long"))
      .select(col("event_type"), col("value").as("median_value"))
    ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("median_value")))
      .withColumn("rn", row_number().over(byType.orderBy(col("adev"), col("event_id"))))
      .withColumn("cnt", count(lit(1)).over(byType))
      .filter(col("rn") === ((col("cnt") + 1) / 2).cast("long"))
      .select(col("event_type"), col("cnt").as("n"),
        col("median_value"), col("adev").as("mad"))
  }

  val robustScalingSql: String = """
    WITH ev AS (SELECT event_type, event_id, value FROM events),
    med AS (
      SELECT event_type, value AS median_value
      FROM (SELECT event_type, value,
              row_number() OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS cnt
            FROM ev)
      WHERE rn = (cnt + 1) // 2)
    SELECT event_type, cnt AS n, median_value, adev AS mad
    FROM (SELECT ev.event_type, med.median_value,
            abs(ev.value - med.median_value) AS adev, ev.event_id,
            row_number() OVER (PARTITION BY ev.event_type
                               ORDER BY abs(ev.value - med.median_value),
                                        ev.event_id) AS rn,
            count(*) OVER (PARTITION BY ev.event_type) AS cnt
          FROM ev JOIN med USING (event_type))
    WHERE rn = (cnt + 1) // 2"""

  // --- q149: equi-depth (quantile-bucketed) histogram -----------------------

  /** Equi-depth histogram of lineitem extended price: `ntile(8)` under a
    * TOTAL order (price, orderkey, linenumber) — ntile's
    * extra-row-to-the-first-(n mod k)-buckets distribution is SQL-standard
    * and identical cross-engine once the order is total, so the bucket
    * boundaries are exact, not interpolated. The complement of q79's
    * equal-WIDTH histogram: equal-width shows the value distribution's
    * shape, equal-depth gives the split points a range partitioner or a
    * BETWEEN-predicate selectivity estimator actually wants (every bucket
    * holds the same row count by construction).
    *
    * Scale shape: one global sort-window — the exact form (the same cost
    * class as any global ntile); q92's one-pass histogram sketch is the
    * documented approximate alternative. */
  def equiDepthHistogram(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", ntile(8).over(w))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"),
        Exact.dsum(col("l_extendedprice"), 2).as("bucket_sum"))
  }

  val equiDepthHistogramSql: String = s"""
    SELECT bucket, count(*) AS n_rows,
           min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
           ${Exact.dsumSql("l_extendedprice", 2)} AS bucket_sum
    FROM (SELECT l_extendedprice,
            ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
                           l_linenumber) AS bucket
          FROM lineitem)
    GROUP BY bucket"""

  // --- q151: windowed rate capping ------------------------------------------

  /** Per-(user, hour) rate capping — the bot/scraper throttle a
    * behavioral-data pipeline applies before events become training
    * signal: within each user-hour, keep the first [[rateCapK]] events in
    * (time, event_id) order and REPORT what was dropped, per user-hour.
    * q67 caps per SOURCE (static key); this caps per time window — the
    * rolling-abuse shape. All integer arithmetic: the hour bucket is an
    * epoch-micros integer division, the keep set is a rank under a total
    * order. One window shuffle on the (user, bucket) composite — high
    * cardinality, unskewed — then the per-key aggregate reuses the same
    * partitioning (no second exchange). K = 1 — at-most-one-event-per-
    * user-hour downsampling — keeps the over-cap report non-vacuous at
    * every gate SF (49 / 426 / 4,262 capped user-hours at
    * sf0.001/0.01/0.1). */
  val rateCapK = 1

  def rateCap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("bucket_hour", expr("ts_us div 3600000000"))
    val w = Window.partitionBy(col("user_id"), col("bucket_hour"))
      .orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .groupBy("user_id", "bucket_hour")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("rn") <= rateCapK, lit(1))).as("n_kept"),
        count(when(col("rn") > rateCapK, lit(1))).as("n_dropped"))
      .filter(col("n_dropped") > 0)
  }

  val rateCapSql: String = s"""
    SELECT user_id, bucket_hour, count(*) AS n_events,
           count(CASE WHEN rn <= $rateCapK THEN 1 END) AS n_kept,
           count(CASE WHEN rn > $rateCapK THEN 1 END) AS n_dropped
    FROM (SELECT user_id, bucket_hour,
            row_number() OVER (PARTITION BY user_id, bucket_hour
                               ORDER BY ts_us, event_id) AS rn
          FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  epoch_us(ts) // 3600000000 AS bucket_hour
                FROM events))
    GROUP BY user_id, bucket_hour
    HAVING count(CASE WHEN rn > $rateCapK THEN 1 END) > 0"""

  // --- q152: chi-square drift between cohorts -------------------------------

  /** Distribution-drift statistic between two event cohorts (split by
    * event_id parity — the deterministic stand-in for day-over-day
    * feeds): per event_type, the chi-square contribution
    * (observed − expected)² / expected of each cohort against the pooled
    * distribution, summed into one drift score per type plus the global
    * statistic. Chi-square is the drift test that needs NO logarithm —
    * unlike PSI/KL — so every term is subtract/multiply/divide on exact
    * integer counts and the sum goes through the quantized-exact
    * aggregate: the whole monitor is bit-reproducible, the q101
    * text-drift row's numeric sibling. Shape: one map-side-combined count
    * aggregate on (type, cohort), a driver-free pivot via conditional
    * sums, row-local arithmetic on a #types-sized table. */
  def chisqDrift(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(when(col("event_id") % 2 === 0, lit(1))).cast("double").as("a"),
        count(when(col("event_id") % 2 === 1, lit(1))).cast("double").as("b"))
    val tot = counts.agg(
      sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("ea", (col("a") + col("b")) * col("ta") / (col("ta") + col("tb")))
      .withColumn("eb", (col("a") + col("b")) * col("tb") / (col("ta") + col("tb")))
      .select(col("event_type"),
        col("a").cast("long").as("n_cohort_a"),
        col("b").cast("long").as("n_cohort_b"),
        ((col("a") - col("ea")) * (col("a") - col("ea")) / col("ea") +
          (col("b") - col("eb")) * (col("b") - col("eb")) / col("eb"))
          .as("chisq"))
  }

  val chisqDriftSql: String = """
    WITH counts AS (
      SELECT event_type,
             CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS DOUBLE) AS a,
             CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS DOUBLE) AS b
      FROM events GROUP BY 1),
    tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM counts)
    SELECT event_type,
           CAST(a AS BIGINT) AS n_cohort_a,
           CAST(b AS BIGINT) AS n_cohort_b,
           (a - ea) * (a - ea) / ea + (b - eb) * (b - eb) / eb AS chisq
    FROM (SELECT event_type, a, b,
            (a + b) * ta / (ta + tb) AS ea,
            (a + b) * tb / (ta + tb) AS eb
          FROM counts CROSS JOIN tot)"""

  // --- q155: two-sample Kolmogorov–Smirnov drift ----------------------------

  /** Exact two-sample KS statistic per event type between the parity
    * cohorts — the CONTINUOUS-distribution drift test beside q152's
    * categorical chi-square, and like it transcendental-free: the KS
    * statistic is max |F̂_a(x) − F̂_b(x)| over observed values, each term
    * one subtraction of two IEEE divisions of exact integer counts, the
    * max an element pick. Computed the order-statistic way: one sort-
    * window per type over the merged sample computes both running
    * cohort counts; ties are closed by evaluating the CDF difference at
    * the LAST row of each distinct value (both step functions have
    * jumped — the supremum over x of right-continuous ECDFs is attained
    * there, so duplicate values cannot inflate the statistic
    * mid-jump).
    *
    * Output: per type, both cohort sizes and the KS distance (plus the
    * value where it is attained, ties to the smaller value). Scale
    * shape: one window shuffle on event_type over (value, cohort) pairs
    * — the exact form; the sketch alternative at 100 TB is a quantile
    * histogram per cohort. */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        (col("event_id") % 2 === 0).as("in_a"))
      .filter(col("value").isNotNull)
    val byType = Window.partitionBy(col("event_type"))
    val ordered = byType.orderBy(col("value"), col("event_id"))
    val run = ev
      .withColumn("ca", sum(when(col("in_a"), 1L).otherwise(0L)).over(ordered))
      .withColumn("cb", sum(when(!col("in_a"), 1L).otherwise(0L)).over(ordered))
      .withColumn("na", sum(when(col("in_a"), 1L).otherwise(0L)).over(byType))
      .withColumn("nb", sum(when(!col("in_a"), 1L).otherwise(0L)).over(byType))
      // last row of each distinct value: both ECDFs have fully jumped
      .withColumn("rn_in_val",
        row_number().over(Window.partitionBy(col("event_type"), col("value"))
          .orderBy(col("event_id").desc)))
      .filter(col("rn_in_val") === 1)
      .withColumn("dd", abs(
        col("ca").cast("double") / col("na").cast("double") -
          col("cb").cast("double") / col("nb").cast("double")))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("dd").desc, col("value"), col("event_id"))
    run.withColumn("pick", row_number().over(pick))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("na").as("n_cohort_a"),
        col("nb").as("n_cohort_b"), col("dd").as("ks_stat"),
        col("value").as("at_value"))
  }

  val ksDriftSql: String = """
    WITH ev AS (
      SELECT event_type, value, event_id, (event_id % 2 = 0) AS in_a
      FROM events WHERE value IS NOT NULL),
    run AS (
      SELECT event_type, value, event_id,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY value, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY value, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cb,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS BIGINT) AS na,
             CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS BIGINT) AS nb,
             row_number() OVER (PARTITION BY event_type, value
                                ORDER BY event_id DESC) AS rn_in_val
      FROM ev),
    dd AS (
      SELECT event_type, value, event_id, na, nb,
             abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) AS dd
      FROM run WHERE rn_in_val = 1)
    SELECT event_type, na AS n_cohort_a, nb AS n_cohort_b,
           dd AS ks_stat, value AS at_value
    FROM (SELECT event_type, value, na, nb, dd,
            row_number() OVER (PARTITION BY event_type
                               ORDER BY dd DESC, value, event_id) AS pick
          FROM dd)
    WHERE pick = 1"""

  // --- q157: Benford leading-digit audit ------------------------------------

  /** Benford's-law audit of order totals — the forensic screen for
    * fabricated or synthetic numeric feeds (organic multiplicative data
    * follows P(d) = log10(1+1/d); uniform generators don't — the fixture
    * measures exactly that deviation, which is the point: the audit's
    * job is to REPORT the divergence, and here it is a gated number).
    * Kept exact two ways: the leading digit is a CASE chain over
    * magnitude bands (floor division by a power of ten — no libm log10
    * to find the magnitude), and the nine Benford expectations are
    * PINNED double literals shared by both engines (they are universal
    * constants, not runtime transcendentals). Per digit: observed count,
    * expected count (n · P(d), one multiply), and the chi-square
    * contribution (obs−exp)²/exp. One map-side-combined aggregate on a
    * 9-value key. Domain: o_totalprice ∈ (0, 1e7) — bands cover it;
    * a wider feed extends the CASE, still O(#magnitudes). */
  private val benfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.30102999566398120, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  private def leadDigit(v: Column): Column = {
    // magnitude by range test, digit by integer floor-divide — no log10
    val bands = Seq(1e6, 1e5, 1e4, 1e3, 1e2, 1e1, 1e0)
    bands.foldLeft(lit(null).cast("long")) { (acc, b) =>
      when(acc.isNotNull, acc).otherwise(
        when(v >= b, floor(v / lit(b)).cast("long")))
    }
  }

  def benfordAudit(s: SparkSession, d: String): DataFrame = {
    // spread the one-file scan: the 7-band leading-digit cascade + the
    // partial aggregate are the whole cost and otherwise run single-task
    val counts = graft.Tuning.spreadNarrowScan(Tables.orders(s, d),
        s"$d/orders.parquet", col("o_orderkey"))
      .filter(col("o_totalprice") >= 1.0)
      .select(leadDigit(col("o_totalprice")).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum(col("n_obs")).as("n"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", benfordP.foldLeft(lit(null).cast("double")) {
        case (acc, (dg, p)) =>
          when(acc.isNotNull, acc).otherwise(
            when(col("digit") === dg, lit(p)))
      })
      .withColumn("n_exp", col("n").cast("double") * col("p"))
      .select(col("digit"), col("n_obs"),
        col("n_exp"),
        ((col("n_obs").cast("double") - col("n_exp")) *
          (col("n_obs").cast("double") - col("n_exp")) / col("n_exp"))
          .as("chisq_term"))
  }

  val benfordAuditSql: String = {
    val pVals = benfordP.map { case (dg, p) => s"($dg, CAST('$p' AS DOUBLE))" }
      .mkString(", ")
    s"""
    WITH counts AS (
      SELECT CASE WHEN o_totalprice >= 1e6 THEN CAST(floor(o_totalprice / 1e6) AS BIGINT)
                  WHEN o_totalprice >= 1e5 THEN CAST(floor(o_totalprice / 1e5) AS BIGINT)
                  WHEN o_totalprice >= 1e4 THEN CAST(floor(o_totalprice / 1e4) AS BIGINT)
                  WHEN o_totalprice >= 1e3 THEN CAST(floor(o_totalprice / 1e3) AS BIGINT)
                  WHEN o_totalprice >= 1e2 THEN CAST(floor(o_totalprice / 1e2) AS BIGINT)
                  WHEN o_totalprice >= 1e1 THEN CAST(floor(o_totalprice / 1e1) AS BIGINT)
                  WHEN o_totalprice >= 1e0 THEN CAST(floor(o_totalprice / 1e0) AS BIGINT)
             END AS digit,
             count(*) AS n_obs
      FROM orders WHERE o_totalprice >= 1.0
      GROUP BY 1),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts),
    p AS (SELECT * FROM (VALUES $pVals) t(digit, p))
    SELECT counts.digit, n_obs,
           CAST(n AS DOUBLE) * p AS n_exp,
           (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
             * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
             / (CAST(n AS DOUBLE) * p) AS chisq_term
    FROM counts CROSS JOIN tot JOIN p ON counts.digit = p.digit"""
  }

  // --- q203: per-group least-squares trend ----------------------------------

  /** q203: per-priority DAILY-REVENUE TREND — closed-form least squares
    * (slope + intercept of daily revenue vs day index) per order
    * priority, the "is this segment growing" primitive every BI layer
    * ships as regr_slope/regr_intercept. Built EXACTLY: native
    * regr_slope is a double sum (order-dependent, gate-breaking), so the
    * five regression sums (n, Σx, Σx², Σy, Σxy) are exact integers —
    * cents quantized with the [[graft.functions.Exact]] floor trick,
    * day indices exact ints, products widened to DECIMAL(38,0) (DuckDB:
    * HUGEINT) — and slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²). The division
    * CANNOT be one big-int→double cast: the numerators reach ~1e20,
    * past 2^53, where Spark's BigDecimal→double and DuckDB's
    * hugeint→double round DIFFERENTLY (measured: last-ulp intercept
    * drift at sf0.01). Instead a quotient/remainder split — shift the
    * numerator positive by B·den (B = 1e15), truncating integer
    * division (unambiguous for positive operands in every engine),
    * remainder by back-multiplication — keeps every value that crosses
    * into double under 2^53: q ≤ ~1e15, r < den, and den = nΣx²−(Σx)²
    * is CALENDAR-bounded (days don't grow with data volume), so the
    * exactness argument holds at 100 TB, not just at gate SF. Shape:
    * the join's daily aggregate map-side combines to groups×days rows,
    * the regression pass is one aggregate over that tiny frame — two
    * shuffles total, the second days-sized. Identical at any
    * parallelism, which is the 100 TB property. */
  import org.apache.spark.sql.types.DecimalType
  private val decCal = DecimalType(14, 0) // calendar-bounded: days/Σx/Σx² ≤ 11 digits

  /** The per-(group, day) exact frame the regression sums reduce. */
  private def trendDaily(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0))
        .cast(DecimalType(27, 0)).as("cents"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01")))
        .cast("long").as("x"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("x"))
      .agg(sum(col("cents")).cast(DecimalType(27, 0)).as("y"))
  }

  /** The five regression sums per group — a SEMIGROUP over disjoint day
    * sets (every column adds), which is what makes the q209 append path
    * a merge instead of a rescan. */
  private def trendSums(daily: DataFrame): DataFrame =
    daily.groupBy("o_orderpriority").agg(
      count(lit(1)).as("days"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).cast(DecimalType(38, 0)).as("sy"),
      sum(col("x").cast(decCal) * col("y")).cast(DecimalType(38, 0)).as("sxy"))

  /** Closed-form coefficients from the sums, via the q/r split. */
  private def trendFinish(sums: DataFrame): DataFrame = {
    val withNum = sums
      .withColumn("den", (col("days").cast(decCal) * col("sxx").cast(decCal) -
        col("sx").cast(decCal) * col("sx").cast(decCal)).cast(DecimalType(20, 0)))
      .withColumn("nums", col("days").cast(decCal) * col("sxy") -
        col("sx").cast(decCal) * col("sy"))
      .withColumn("numi", col("sy") * col("sxx").cast(decCal) -
        col("sx").cast(decCal) * col("sxy"))
      // shift positive so truncating div == floor div in every engine
      .withColumn("nsp", col("nums") +
        lit("1000000000000000").cast(DecimalType(16, 0)) * col("den"))
      .withColumn("nip", col("numi") +
        lit("1000000000000000").cast(DecimalType(16, 0)) * col("den"))
      .withColumn("qs", expr("nsp div den"))
      .withColumn("rs", col("nsp") - col("qs").cast(DecimalType(20, 0)) * col("den"))
      .withColumn("qi", expr("nip div den"))
      .withColumn("ri", col("nip") - col("qi").cast(DecimalType(20, 0)) * col("den"))
    def rebuilt(q: String, r: String) =
      (col(q).cast("double") - lit(1.0e15) +
        col(r).cast("double") / col("den").cast("double")) / lit(100.0)
    withNum.select(col("o_orderpriority"), col("days"),
      rebuilt("qs", "rs").as("slope"),
      rebuilt("qi", "ri").as("intercept"))
  }

  def revenueTrend(s: SparkSession, d: String): DataFrame =
    trendFinish(trendSums(trendDaily(s, d)))

  /** q209: the trend's APPEND path — regression sums for days before
    * [[trendSplitDay]] persisted once, the newer days' sums computed
    * alone, the two MERGED per group (disjoint day sets ⇒ all five sums
    * add — the same semigroup argument as q148/q164), and the merged
    * coefficients must hash-match the FULL-rebuild oracle. At 100 TB the
    * daily trend refresh costs the day's delta plus a groups-sized
    * merge; the corpus is never re-scanned. */
  val trendSplitDay = 1200L
  // version tag folded into the cache key (the q148 lesson): bump when
  // the sums schema or the daily frame's semantics change
  private[queries] val trendCacheVersion = "t1"

  def trendIncremental(s: SparkSession, d: String): DataFrame = {
    val dir = Fixtures.once(s, "graft-trend-state", d, "lineitem",
        s"xlt$trendSplitDay$trendCacheVersion") { dir =>
      trendSums(trendDaily(s, d).filter(col("x") < trendSplitDay)).write.parquet(dir)
    }
    val oldState = s.read.parquet(dir)
    val delta = trendSums(trendDaily(s, d).filter(col("x") >= trendSplitDay))
    val merged = oldState.unionByName(delta).groupBy("o_orderpriority").agg(
      sum(col("days")).as("days"),
      sum(col("sx")).as("sx"),
      sum(col("sxx")).as("sxx"),
      sum(col("sy")).cast(DecimalType(38, 0)).as("sy"),
      sum(col("sxy")).cast(DecimalType(38, 0)).as("sxy"))
    trendFinish(merged)
  }

  val revenueTrendSql: String = """
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0)
                      AS HUGEINT)) AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    s AS (
      SELECT o_orderpriority, count(*) AS days,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(y) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM daily GROUP BY 1),
    n AS (
      SELECT o_orderpriority, days,
             days * sxx - sx * sx AS den,
             days * sxy - sx * sy + CAST(1000000000000000 AS HUGEINT)
               * (days * sxx - sx * sx) AS nsp,
             sy * sxx - sx * sxy + CAST(1000000000000000 AS HUGEINT)
               * (days * sxx - sx * sx) AS nip
      FROM s),
    qr AS (
      SELECT o_orderpriority, days, den,
             nsp // den AS qs, nsp - (nsp // den) * den AS rs,
             nip // den AS qi, nip - (nip // den) * den AS ri
      FROM n)
    SELECT o_orderpriority, days,
           (CAST(qs AS DOUBLE) - 1e15
              + CAST(rs AS DOUBLE) / CAST(den AS DOUBLE)) / 100.0 AS slope,
           (CAST(qi AS DOUBLE) - 1e15
              + CAST(ri AS DOUBLE) / CAST(den AS DOUBLE)) / 100.0 AS intercept
    FROM qr"""

  // --- q204: calendar spine + forward fill ----------------------------------

  /** q204: CALENDAR GAP-FILL + FORWARD-FILL — the time-series resample
    * primitive: per priority, one row for EVERY day in [min, max] of
    * that group's activity, with absent days zero-filled and a
    * forward-filled "last active day's revenue" column. Shape for
    * scale: the spine is built by exploding per-group (min, max) ranges
    * — groups×days rows, NEVER fact-sized; the left join back to the
    * daily aggregate is keyed on (group, day); the ffill window sorts
    * days per group, not the corpus. All values exact integer cents, so
    * the gate is pure-integer. The first spine day is the group's min
    * ACTIVE day, so the forward fill never sees a leading null. */
  def calendarFill(s: SparkSession, d: String): DataFrame = {
    // ONE definition of "daily revenue": reuse trendDaily so a change to
    // the quantization or the epoch can't silently split q203/q209 from
    // q204/q207/q211 (the oracles share the same daily CTE text).
    //
    // daily has TWO consumers (the spine bounds and the fill join) but
    // needs neither a persist nor an eager localCheckpoint: both branches
    // end in the same shuffle, and Spark's ReuseExchange collapses them —
    // the aggregate's map side runs ONCE per action. Measured (round-14
    // SpineProbe A/B, sf0.1 same window): the lazy shared-exchange plan
    // reads 0.69–0.74 s where persist + eager checkpoint + release read
    // 1.08–1.17 s — the release machinery cost MORE than the reuse it
    // guarded, and lazy leaves nothing pinned in the block manager at all
    // (the round-12 leak class can't recur without a persist to leak).
    val daily = trendDaily(s, d)
      .select(col("o_orderpriority"), col("x"), col("y").cast("long").as("cents"))
    val spine = daily.groupBy("o_orderpriority")
      .agg(min("x").as("lo"), max("x").as("hi"))
      .select(col("o_orderpriority"), explode(sequence(col("lo"), col("hi"))).as("x"))
    spine.join(daily, Seq("o_orderpriority", "x"), "left")
      .select(col("o_orderpriority"), col("x"),
        coalesce(col("cents"), lit(0L)).as("cents"),
        last(col("cents"), ignoreNulls = true)
          .over(Window.partitionBy(col("o_orderpriority")).orderBy(col("x"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("ffill_cents"))
  }

  val calendarFillSql: String = """
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0)
                           AS HUGEINT)) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    bounds AS (SELECT o_orderpriority, min(x) AS lo, max(x) AS hi
               FROM daily GROUP BY 1),
    spine AS (SELECT o_orderpriority, unnest(generate_series(lo, hi)) AS x
              FROM bounds)
    SELECT s.o_orderpriority, s.x,
           coalesce(d.cents, 0) AS cents,
           last_value(d.cents IGNORE NULLS)
             OVER (PARTITION BY s.o_orderpriority ORDER BY s.x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS ffill_cents
    FROM spine s LEFT JOIN daily d
      ON s.o_orderpriority = d.o_orderpriority AND s.x = d.x"""

  // --- q205: Pareto concentration -------------------------------------------

  /** q205: REVENUE CONCENTRATION (the Pareto/80-20 report) — per region,
    * how many customers does it take to cover 80% of order revenue, and
    * what share do they actually hold. The keep-predicate is EXACT
    * integer arithmetic (5·running_before < 4·total in cents — no float
    * in the cut), ties broken by custkey, so the customer set is
    * deterministic; the only IEEE op is the final share division.
    * Shape: dims broadcast onto orders, one customer-keyed aggregate,
    * then the ranking window sorts CUSTOMERS within region — dimension-
    * sized, never fact-sized — and the report is regions-sized. */
  def paretoConcentration(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
    val reg = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
    val perCust = Tables.orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("o_custkey"), col("cents"))
    val w = Window.partitionBy(col("r_name"))
      .orderBy(col("cents").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perCust
      .withColumn("running", sum(col("cents")).over(w))
      .withColumn("total",
        sum(col("cents")).over(Window.partitionBy(col("r_name"))))
    ranked
      .filter((col("running") - col("cents")) * lit(5L) < col("total") * lit(4L))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("pareto_customers"),
        (max(col("running")).cast("double") / max(col("total")).cast("double"))
          .as("pareto_share"))
  }

  val paretoConcentrationSql: String = """
    WITH pc AS (
      SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                             AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    rc AS (
      SELECT r_name, o_custkey, cents
      FROM pc JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey),
    ranked AS (
      SELECT r_name, cents,
             sum(cents) OVER (PARTITION BY r_name
               ORDER BY cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
             sum(cents) OVER (PARTITION BY r_name) AS total
      FROM rc)
    SELECT r_name, count(*) AS pareto_customers,
           CAST(max(running) AS DOUBLE) / CAST(max(total) AS DOUBLE)
             AS pareto_share
    FROM ranked
    WHERE (running - cents) * 5 < total * 4
    GROUP BY 1"""

  // --- q206: longest activity streak ----------------------------------------

  /** q206: LONGEST CONSECUTIVE-DAY STREAK distribution — for each user
    * the longest run of consecutive active days, reported as a
    * (streak_length → n_users) distribution. The classic gaps-and-
    * islands problem, shaped for one shuffle: a user-keyed
    * collect_set(day) aggregate (map-side combined), then the longest
    * run is a higher-order `aggregate` fold over the sorted day array —
    * no second shuffle, no window, no row_number. The oracle IS the
    * textbook gaps-and-islands SQL (day − row_number island key), so
    * the hash equality proves the fold ≡ the window formulation. All
    * integers. At 100 TB the per-user day-set is calendar-bounded
    * (≤ days in the corpus window), not activity-bounded. */
  def activityStreaks(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d).select(col("user_id"),
      datediff(col("ts").cast("date"), to_date(lit("2024-01-01")))
        .cast("long").as("day"))
    val perUser = days.groupBy("user_id")
      .agg(sort_array(collect_set(col("day"))).as("ds"))
    // fold state: (prev day, current run, best run)
    val init = struct(lit(-2L).as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val folded = perUser.select(col("user_id"),
      aggregate(col("ds"), init, (acc, x) => {
        val run = when(x === acc("prev") + lit(1L), acc("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      }).getField("best").as("longest_streak"))
    folded.groupBy("longest_streak").agg(count(lit(1)).as("n_users"))
  }

  val activityStreaksSql: String = """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day
      FROM events),
    islands AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days),
    runs AS (SELECT user_id, island, count(*) AS run
             FROM islands GROUP BY 1, 2),
    longest AS (SELECT user_id, max(run) AS longest_streak
                FROM runs GROUP BY 1)
    SELECT longest_streak, count(*) AS n_users
    FROM longest GROUP BY 1"""

  // --- q207: trailing moving aggregate over the gap-filled spine ------------

  /** q207: 7-DAY TRAILING MOVING AVERAGE of daily revenue per priority,
    * computed over the q204 calendar spine so the frame is a true
    * 7-day window even across inactive days (a rows-frame over raw
    * daily rows silently skips gaps — the bug this composition
    * avoids). The moving sum is exact integer cents over a
    * rows-bounded frame; the mean is one IEEE division by the window
    * row count (≤ 7, exact). The window sorts days per group —
    * spine-sized, never fact-sized. */
  def movingRevenue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("x"))
      .rowsBetween(-6, Window.currentRow)
    calendarFill(s, d)
      .select(col("o_orderpriority"), col("x"), col("cents"),
        sum(col("cents")).over(w).as("ma_sum"),
        count(lit(1)).over(w).as("ma_n"))
      .withColumn("ma7",
        col("ma_sum").cast("double") / col("ma_n").cast("double") / lit(100.0))
      .drop("ma_sum", "ma_n")
  }

  val movingRevenueSql: String = """
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0)
                           AS HUGEINT)) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    bounds AS (SELECT o_orderpriority, min(x) AS lo, max(x) AS hi
               FROM daily GROUP BY 1),
    spine AS (SELECT o_orderpriority, unnest(generate_series(lo, hi)) AS x
              FROM bounds),
    filled AS (
      SELECT s.o_orderpriority, s.x, coalesce(d.cents, 0) AS cents
      FROM spine s LEFT JOIN daily d
        ON s.o_orderpriority = d.o_orderpriority AND s.x = d.x)
    SELECT o_orderpriority, x, cents,
           CAST(sum(cents) OVER w AS DOUBLE)
             / CAST(count(*) OVER w AS DOUBLE) / 100.0 AS ma7
    FROM filled
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY x
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""

  // --- q211: trailing-window anomaly days -----------------------------------

  /** q211: TRAILING-WINDOW ANOMALY DAYS — days whose revenue sits more
    * than 2σ from the trailing-28-day mean, per priority, over the q204
    * calendar spine (so quiet days pull the baseline down, as a real
    * monitor would see). The reference's anomaly theme (M5/P6 distance >
    * threshold) re-expressed as pure windowed arithmetic: the 2σ cut is
    * the INTEGER predicate (n·y − Σy)² > 4·(n·Σy² − (Σy)²) — multiply
    * through by n² so mean and variance never materialize as floats; the
    * flag is exact, engine-independent, and needs no Exact-quantization
    * of a division. Only FULL 28-day windows flag (the warmup prefix is
    * baseline-only). The reported deviation is one IEEE division of
    * exact ints. Window sorts days per group — spine-sized. */
  def anomalyDays(s: SparkSession, d: String): DataFrame = {
    val n = 28
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("x"))
      .rowsBetween(-(n - 1), Window.currentRow)
    val dec = DecimalType(38, 0)
    calendarFill(s, d)
      .select(col("o_orderpriority"), col("x"), col("cents"),
        sum(col("cents").cast(DecimalType(20, 0))).over(w).as("sy"),
        sum((col("cents").cast(DecimalType(19, 0)) *
          col("cents").cast(DecimalType(19, 0))).cast(dec)).over(w).as("syy"),
        count(lit(1)).over(w).as("wn"))
      .filter(col("wn") === n)
      .withColumn("dev", col("cents").cast(DecimalType(20, 0)) * lit(n) - col("sy"))
      .filter((col("dev") * col("dev")).cast(dec) >
        (col("syy") * lit(n) - col("sy") * col("sy")).cast(dec) * lit(4))
      .select(col("o_orderpriority"), col("x"), col("cents"),
        (col("dev").cast("double") / lit(n.toDouble) / lit(100.0))
          .as("deviation"))
  }

  val anomalyDaysSql: String = """
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0)
                           AS HUGEINT)) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    bounds AS (SELECT o_orderpriority, min(x) AS lo, max(x) AS hi
               FROM daily GROUP BY 1),
    spine AS (SELECT o_orderpriority, unnest(generate_series(lo, hi)) AS x
              FROM bounds),
    filled AS (
      SELECT s.o_orderpriority, s.x, coalesce(d.cents, 0) AS cents
      FROM spine s LEFT JOIN daily d
        ON s.o_orderpriority = d.o_orderpriority AND s.x = d.x),
    win AS (
      SELECT o_orderpriority, x, cents,
             sum(CAST(cents AS HUGEINT)) OVER w AS sy,
             sum(CAST(cents AS HUGEINT) * cents) OVER w AS syy,
             count(*) OVER w AS wn
      FROM filled
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY x
                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT o_orderpriority, x, cents,
           CAST(CAST(cents AS HUGEINT) * 28 - sy AS DOUBLE) / 28.0 / 100.0
             AS deviation
    FROM win
    WHERE wn = 28
      AND (CAST(cents AS HUGEINT) * 28 - sy) * (CAST(cents AS HUGEINT) * 28 - sy)
            > 4 * (syy * 28 - sy * sy)"""

  val defs: Map[String, QueryDef] = Map(
    "q211_anomaly_days"      -> QueryDef(anomalyDays _, anomalyDaysSql),
    "q203_revenue_trend"     -> QueryDef(revenueTrend _, revenueTrendSql),
    "q209_trend_incremental" -> QueryDef(trendIncremental _, revenueTrendSql),
    "q206_activity_streaks"  -> QueryDef(activityStreaks _, activityStreaksSql),
    "q207_moving_revenue"    -> QueryDef(movingRevenue _, movingRevenueSql),
    "q204_calendar_fill"     -> QueryDef(calendarFill _, calendarFillSql),
    "q205_pareto"            -> QueryDef(paretoConcentration _, paretoConcentrationSql),
    "q152_chisq_drift"       -> QueryDef(chisqDrift _, chisqDriftSql),
    "q157_benford_audit"     -> QueryDef(benfordAudit _, benfordAuditSql),
    "q155_ks_drift"          -> QueryDef(ksDrift _, ksDriftSql),
    "q141_decayed_popularity" -> QueryDef(decayedPopularity _, decayedPopularitySql),
    "q145_robust_scaling"    -> QueryDef(robustScaling _, robustScalingSql),
    "q149_equidepth_histogram" -> QueryDef(equiDepthHistogram _, equiDepthHistogramSql),
    "q151_rate_cap"          -> QueryDef(rateCap _, rateCapSql),
    "q79_price_histogram" -> QueryDef(priceHistogram _, priceHistogramSql),
    "q127_topk_per_group" -> QueryDef(topCustomersPerNation _, topCustomersPerNationSql),
    "q80_moment_stats"    -> QueryDef(momentStats _, momentStatsSql),
    "q81_p99_per_type"    -> QueryDef(p99PerType _, p99PerTypeSql),
    "q92_approx_quantiles" -> QueryDef(approxQuantiles _, approxQuantilesSql),
    "q93_hll_sketch"      -> QueryDef(hllSketch _, hllSketchSql),
    "q159_hll_native_agg" -> QueryDef(hllNativeSketch _, hllSketchSql),
    "q103_length_pct_rank" -> QueryDef(lengthPctRank _, lengthPctRankSql),
    "q114_bloom_state"    -> QueryDef(bloomState _, bloomStateSql),
    "q166_bloom_native_agg" -> QueryDef(bloomNativeState _, bloomStateSql),
    "q115_bloom_semijoin" -> QueryDef(bloomSemiJoin _, bloomSemiJoinSql),
    "q117_join_size_est"  -> QueryDef(joinSizeEstimate _, joinSizeEstimateSql),
    "q118_hll_incremental" -> QueryDef(hllIncremental _, hllSketchSql),
    "q122_cms_incremental" -> QueryDef(cmsIncremental _, cmsIncrementalSql),
    "q124_bloom_incremental" -> QueryDef(bloomIncremental _, bloomStateSql))
}
