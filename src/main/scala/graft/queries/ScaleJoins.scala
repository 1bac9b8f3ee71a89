package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Fixtures, QueryDef, Tables}
import graft.functions.Exact.{dsum, dsumSql}
import graft.operators.{EditJoin, Ranges, Skew}

/** Join-shape operators whose whole point is the 100 TB plan: exact fuzzy
  * matching without all-pairs (q105), hot-key joins without stragglers
  * (q106), and range joins without a nested loop (q107). Each gate row
  * pins the RESULT against a plain declarative oracle — the optimized
  * physical shape must be invisible in the output. */
object ScaleJoins {

  // --- q105: entity resolution via edit-distance join ----------------------

  /** 16-char document "title" key (documents are ≥ 47 chars, so the
    * substring is always full-width — every key the same length keeps the
    * q105 fixture deterministic; the OPERATOR handles mixed lengths). */
  private def titled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), substring(col("text"), 1, 16).as("title"))

  /** The "dirty registry": every third document's title takes a one-char
    * corruption at a doc-dependent position — the deterministic stand-in
    * for an upstream feed with typos. */
  private def dirtied(docs: DataFrame): DataFrame = {
    val p = (col("doc_id") % 16).cast("int")
    titled(docs).select(col("doc_id").as("dirty_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("title").substr(lit(1), p), lit("~"),
          col("title").substr(p + lit(2), lit(16))))
        .otherwise(col("title")).as("dirty_title"))
  }

  /** q105: match clean titles to the dirty registry at levenshtein ≤ 1 —
    * exact entity resolution. The EditJoin operator blocks on PassJoin
    * segments over DISTINCT strings (never all-pairs, never id×id), then
    * the verified string pairs fan back out to ids with two equi-joins. */
  def fuzzyResolve(s: SparkSession, d: String): DataFrame = {
    val clean = titled(Tables.documents(s, d))
    val dirty = dirtied(Tables.documents(s, d))
    val pairs = EditJoin.editDistanceJoin(clean, "title", dirty, "dirty_title", tau = 1)
    clean.join(pairs, col("title") === col("s_key"))
      .join(dirty, col("r_key") === col("dirty_title"))
      .select(col("doc_id"), col("dirty_id"), col("title"),
        col("dirty_title"), col("dist"))
  }

  /** The oracle states the SEMANTICS (all pairs within distance 1), not
    * the blocking: DuckDB brute-forces levenshtein over the cross product
    * of distinct titles, which is exactly what EditJoin must reproduce. */
  val fuzzyResolveSql: String = """
    WITH clean AS (SELECT doc_id, substr(text, 1, 16) AS title FROM documents),
    dirty AS (
      SELECT doc_id AS dirty_id,
             CASE WHEN doc_id % 3 = 0 THEN
               substr(substr(text, 1, 16), 1, CAST(doc_id % 16 AS INT)) || '~' ||
               substr(substr(text, 1, 16), CAST(doc_id % 16 AS INT) + 2, 16)
             ELSE substr(text, 1, 16) END AS dirty_title
      FROM documents)
    SELECT c.doc_id, y.dirty_id, c.title, y.dirty_title, p.dist
    FROM (SELECT s_key, r_key, levenshtein(s_key, r_key) AS dist
          FROM (SELECT DISTINCT title AS s_key FROM clean)
          CROSS JOIN (SELECT DISTINCT dirty_title AS r_key FROM dirty)
          WHERE levenshtein(s_key, r_key) <= 1) p
    JOIN clean c ON c.title = p.s_key
    JOIN dirty y ON y.dirty_title = p.r_key"""

  // --- q106: salted skew join ----------------------------------------------

  /** q106: lineitem ⋈ supplier revenue-by-nation through the SALTED join —
    * the hot-key defense (salt the fact side, replicate the dim ×salts) —
    * proving salting is invisible in the result: the oracle is the PLAIN
    * join. Aggregates are exact decimal sums so the group totals are
    * order-independent across the salt-split partials. */
  def saltedRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d).withColumnRenamed("s_suppkey", "l_suppkey")
    Skew.saltedJoin(li, sup, "l_suppkey", salts = 8)
      .groupBy(col("s_nationkey").as("s_nationkey"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val saltedRevenueSql: String = s"""
    SELECT s_nationkey,
           ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey"""

  // --- q107: binned interval join ------------------------------------------

  private val windowMicros = 600L * 1000000L // 10-minute error windows

  /** q107: for every error event, how many views landed in the 10 minutes
    * after it — a point-in-interval join with NO shared entity key, the
    * shape Spark would otherwise plan as a BroadcastNestedLoopJoin.
    * Ranges.binnedPointJoin turns it into a bin equi-join (each window
    * spans ≤ 2 bins at width = window length); the left join back to the
    * full window set restores zero-view windows. */
  def errorWindowViews(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val windows = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"),
        unix_micros(col("ts")).as("w_start"),
        (unix_micros(col("ts")) + windowMicros).as("w_end"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), unix_micros(col("ts")).as("v_ts"))
    val matched = Ranges.binnedPointJoin(windows, views,
        "w_start", "w_end", "v_ts", width = windowMicros)
      .groupBy("win_id").agg(count(lit(1)).as("n_views"))
    windows.select(col("win_id"))
      .join(matched, Seq("win_id"), "left_outer")
      .select(col("win_id"), coalesce(col("n_views"), lit(0L)).as("n_views"))
  }

  val errorWindowViewsSql: String = """
    SELECT e.event_id AS win_id, count(v.event_id) AS n_views
    FROM events e
    LEFT JOIN events v
      ON v.event_type = 'view'
     AND v.ts >= e.ts AND v.ts < e.ts + INTERVAL 600 SECOND
    WHERE e.event_type = 'error'
    GROUP BY e.event_id"""

  // --- q111: typo-tolerant dedup clusters ----------------------------------

  /** q111: fuzzy dedup — documents cluster when their title keys chain
    * within edit distance 1 (transitively: a→a'→a'' collapses even though
    * the endpoints differ by 2). The EditJoin self-join supplies the
    * candidate-bounded pair set; [[graft.operators.Dedup
    * .connectedComponents]] (pointer-doubling min-label, O(log diameter)
    * rounds) folds chains; singleton docs keep their own id as cluster.
    * The dedup family's q49 shape with edit-distance pairing swapped in
    * for MinHash — typo-variant titles, OCR noise, trailing-char drift. */
  def fuzzyClusters(s: SparkSession, d: String): DataFrame = {
    val docs = titled(Tables.documents(s, d))
    val pairs = graft.operators.EditJoin
      .editDistanceJoin(docs, "title", docs, "title", tau = 1)
    val edges = pairs
      .join(docs.select(col("doc_id").as("id_a"), col("title").as("s_key")), "s_key")
      .join(docs.select(col("doc_id").as("id_b"), col("title").as("r_key")), "r_key")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val comp = graft.operators.Dedup.connectedComponents(edges)
      .select(col("id").as("doc_id"), col("cluster_id"))
    docs.select("doc_id").join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Transitive closure by recursive CTE over the brute-force pair set —
    * the same oracle discipline as q49, with levenshtein pairing. */
  val fuzzyClustersSql: String = """
    WITH RECURSIVE
    clean AS (SELECT doc_id, substr(text, 1, 16) AS title FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM clean a JOIN clean b
            ON a.doc_id < b.doc_id AND levenshtein(a.title, b.title) <= 1),
    e AS (SELECT id_a AS s, id_b AS d FROM p
          UNION SELECT id_b, id_a FROM p),
    reach AS (SELECT s AS id, d AS r FROM e
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
    comp AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
    SELECT c.doc_id, COALESCE(comp.cluster_id, c.doc_id) AS cluster_id
    FROM clean c LEFT JOIN comp ON c.doc_id = comp.id"""

  // --- q113: incremental entity resolution (segment-index roll-forward) ----

  /** q113: q105's fuzzy resolution served from a PERSISTED, incrementally
    * grown segment index — the dirty registry lands in two batches (even
    * dirty_ids day 1, odd day 2), day 2 is APPENDED without rewriting
    * day 1, and the probe must equal the one-shot join over the full
    * registry: the oracle is byte-identical to q105's. Completes the
    * index roll-forward trilogy (q52 MinHash signatures, q99 IVF cells,
    * segment index here) — every blocking structure the engine serves is
    * append-maintainable, because a daily registry drop that costs a full
    * rebuild is not a 100 TB design. */
  def fuzzyResolveIndexed(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val clean = titled(Tables.documents(s, d))
    val dirty = dirtied(Tables.documents(s, d))
    // two-step build under one marker, written last: a crash between
    // write and append leaves no marker, so the index is rebuilt
    val dir = Fixtures.once(s, "graft-seg-cache", d, "documents", "tau1") { dir =>
      EditJoin.writeSegmentIndex(
        dirty.filter(col("dirty_id") % 2 === 0), "dirty_title", dir, tau = 1)
      EditJoin.appendToSegmentIndex(
        dirty.filter(col("dirty_id") % 2 === 1), "dirty_title", dir, tau = 1)
    }
    val pairs = EditJoin.probeSegmentIndex(clean, "title", dir, tau = 1)
    clean.join(pairs, col("title") === col("s_key"))
      .join(dirty, col("r_key") === col("dirty_title"))
      .select(col("doc_id"), col("dirty_id"), col("title"),
        col("dirty_title"), col("dist"))
  }

  // --- q110: join-skew diagnosis -------------------------------------------

  /** q110: the DIAGNOSIS half of the skew toolkit (q106 is the
    * mitigation): for the events-by-user self-join, the 20 heaviest keys
    * by output contribution deg² plus the exact total pair count — the
    * numbers that decide between a plain shuffle join, AQE skew splits,
    * or [[graft.operators.Skew.saltedJoin]] (and how many salts). One
    * map-side-combinable aggregate, a broadcast 1-row total, and a
    * TakeOrdered(20) — the diagnosis never costs more than a scan, so it
    * can run ahead of every big join. All-integer output, exact in both
    * engines. */
  def hotJoinKeys(s: SparkSession, d: String): DataFrame = {
    val deg = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("deg"))
      .withColumn("pairs", col("deg") * col("deg"))
    val total = deg.agg(sum(col("pairs")).as("total_pairs"))
    deg.crossJoin(broadcast(total))
      .orderBy(col("pairs").desc, col("user_id"))
      .limit(20)
      .select(col("user_id"), col("deg"), col("pairs"), col("total_pairs"))
  }

  val hotJoinKeysSql: String = """
    WITH deg AS (SELECT user_id, count(*) AS deg FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(deg * deg) AS BIGINT) AS total_pairs FROM deg)
    SELECT user_id, deg, deg * deg AS pairs, total_pairs
    FROM deg CROSS JOIN t
    ORDER BY pairs DESC, user_id LIMIT 20"""

  // --- q125/q126: auto-strategy join planning ------------------------------

  /** q125: the SALTED leg of the auto-planner ([[graft.operators
    * .AutoJoin]]) — a deterministically manufactured hot key (three
    * quarters of lineitem collapses onto supplier 1) joined against a
    * supplier dim held over the broadcast budget, so the planner must
    * diagnose the skew (q110 evidence) and choose the salted path on its
    * own. The decision is require()d in-query — a planner drift to plain
    * or broadcast fails the gate loudly — and the OUTPUT is gated against
    * the plain declarative join (the q106 invisibility law: strategy
    * choice may never change a result). */
  def autoSkewedRevenue(s: SparkSession, d: String): DataFrame = {
    // key domain fixed at 10 (not SF-scaled) so the skew ratio — hot share
    // x key count, about 7.75 here — is identical at every gate SF; the
    // explicit thresholds hold the fixture on the salted path at sf0.001
    // (supplier = 10 rows) through sf0.1 (1000 rows)
    val li = Tables.lineitem(s, d).select(
      when(col("l_orderkey") % 4 < 3, lit(1L))
        .otherwise((col("l_suppkey") - 1) % 10 + 1).as("jk"),
      col("l_extendedprice"), col("l_discount"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").as("jk"), col("s_nationkey"))
    val (joined, dec) = graft.operators.AutoJoin.autoJoin(
      li, sup, "jk", broadcastMaxRows = 5, skewFactor = 4.0)
    require(dec.strategy == "salted",
      s"hot-key fixture must plan salted, got $dec")
    joined.groupBy(col("s_nationkey"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val autoSkewedRevenueSql: String = s"""
    SELECT s_nationkey,
           ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
           count(*) AS n_lines
    FROM (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 1
                      ELSE (l_suppkey - 1) % 10 + 1 END AS jk,
                 l_extendedprice, l_discount
          FROM lineitem) l
    JOIN supplier ON jk = s_suppkey
    GROUP BY s_nationkey"""

  /** q126: the BROADCAST leg — customer fits the default budget, so the
    * planner must skip the shuffle entirely (a hot fact key is harmless
    * under broadcast: nothing partitions by it). Same double gate:
    * decision require()d in-query, output against the plain join. */
  def autoBroadcastSegments(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("jk"), col("o_totalprice"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("jk"), col("c_mktsegment"))
    val (joined, dec) = graft.operators.AutoJoin.autoJoin(o, c, "jk")
    require(dec.strategy == "broadcast",
      s"small-dim fixture must plan broadcast, got $dec")
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("revenue"))
  }

  val autoBroadcastSegmentsSql: String = s"""
    SELECT c_mktsegment, count(*) AS n_orders,
           ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment"""

  // --- q140: negative candidate generation ---------------------------------

  /** Per-customer negative candidates for recommender-style training: the
    * top-[[negCandPool]] globally popular parts the customer has NOT
    * bought, ranked by popularity, top [[negCandK]] per customer. The
    * standard scale trick is baked into the SHAPE, not bolted on: the
    * candidate pool is a global top-N (one map-side-combined aggregate +
    * TakeOrdered, driver state = N rows), the pool cross-joins customers
    * as a BROADCAST (never a customer × parts product), and the
    * anti-join's right side is only the customer's purchases WITHIN the
    * pool (left_anti on the composite key — semi-join-sized shuffle).
    * Everything is integer arithmetic: counts, ranks, keys — no float
    * discipline needed at all.
    *
    * Output is bounded at customers × k rows; at 100 TB the same plan
    * holds because the pool is constant-size and purchases are filtered
    * to it before they shuffle. */
  val negCandPool = 20
  val negCandK = 3

  def negativeCandidates(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val orders = Tables.orders(s, d)
    val pool = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_bought"))
      .orderBy(col("n_bought").desc, col("l_partkey"))
      .limit(negCandPool)
      .withColumn("pop_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_bought").desc, col("l_partkey"))))
    val purchased = li
      .join(broadcast(pool.select(col("l_partkey"))), Seq("l_partkey"), "left_semi")
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey")), Seq("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("pop_rank"))
    Tables.customer(s, d).select(col("c_custkey"))
      .crossJoin(broadcast(pool))
      .join(purchased,
        col("c_custkey") === col("o_custkey") &&
          pool("l_partkey") === purchased("l_partkey"), "left_anti")
      .withColumn("cand_rank", row_number().over(w))
      .filter(col("cand_rank") <= negCandK)
      .select(col("c_custkey"), col("l_partkey").as("cand_partkey"),
        col("pop_rank"), col("cand_rank"))
  }

  val negativeCandidatesSql: String = s"""
    WITH pool AS (
      SELECT l_partkey, n_bought,
             CAST(row_number() OVER (ORDER BY n_bought DESC, l_partkey)
                  AS BIGINT) AS pop_rank
      FROM (SELECT l_partkey, count(*) AS n_bought FROM lineitem GROUP BY 1)
      ORDER BY n_bought DESC, l_partkey LIMIT $negCandPool),
    purchased AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_partkey IN (SELECT l_partkey FROM pool)),
    cand AS (
      SELECT c.c_custkey, p.l_partkey AS cand_partkey, p.pop_rank
      FROM customer c CROSS JOIN pool p
      WHERE NOT EXISTS (SELECT 1 FROM purchased u
                        WHERE u.o_custkey = c.c_custkey
                          AND u.l_partkey = p.l_partkey))
    SELECT c_custkey, cand_partkey, pop_rank, cand_rank FROM (
      SELECT c_custkey, cand_partkey, pop_rank,
             CAST(row_number() OVER (PARTITION BY c_custkey ORDER BY pop_rank)
                  AS BIGINT) AS cand_rank
      FROM cand)
    WHERE cand_rank <= $negCandK"""

  // --- q197: co-bucketed fact-fact join --------------------------------------

  private val bucketBuildLock = new Object

  /** q197: the q180/q181 "same oracle, new engine path" discipline
    * applied to BUCKETED LAYOUT — revenue by order status served from a
    * lineitem⋈orders join whose both sides are written
    * `bucketBy(8, orderkey).sortBy(orderkey)` managed tables: the join
    * zips co-located buckets with NO Exchange on either side
    * (BucketingSpec pins the exchange-free SortMergeJoin on this exact
    * query), which at 100 TB is the difference between moving both
    * fact tables per join and moving nothing. The oracle is the plain
    * declarative join — a layout that loses or duplicates rows breaks
    * the hash. Tables rebuild per session (in-memory catalog owns the
    * bucketing metadata); the build is the offline-maintenance cost the
    * serving query amortizes. */
  def bucketedRevenue(s: SparkSession, d: String): DataFrame = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val liT = s"graft_li_bkt_$tag"
    val oT = s"graft_o_bkt_$tag"
    bucketBuildLock.synchronized {
      if (!s.catalog.tableExists(liT))
        graft.operators.Bucketing.writeBucketed(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          liT, "l_orderkey", 8)
      if (!s.catalog.tableExists(oT))
        graft.operators.Bucketing.writeBucketed(
          Tables.orders(s, d)
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
          oT, "l_orderkey", 8)
    }
    graft.operators.Bucketing.bucketedJoin(s, liT, oT, "l_orderkey")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
          .as("revenue"))
  }

  val bucketedRevenueSql: String = s"""
    SELECT o_orderstatus, count(*) AS n,
           ${dsumSql("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1"""

  // --- q191: Jaro-Winkler linkage --------------------------------------------

  /** q191 keep bar: 0.88 sits in a real gap of the fixture's score
    * distribution (next scores 0.905 above / 0.879 below at sf0.1) —
    * selective without being knife-edge. Bit-exact scores mean the
    * threshold agrees cross-engine regardless. */
  val jwThreshold = 0.88

  /** q191: transposition-tolerant name linkage — candidate part-name
    * pairs blocked on the 3-char prefix, scored by the native
    * [[graft.expressions.JaroWinkler]] codegen expression, kept at
    * ≥ 0.88. The third matcher of the linkage family (edit-bounded q105,
    * token-set PPJoin q97), for the name/title regime where adjacent
    * swaps and shared prefixes should dominate. The block is the
    * semantically right one for a prefix-weighted measure AND the scale
    * bound: names shuffle once on the prefix key, pairs are per-block
    * quadratic only (the q25/q105 blocking law), and the emitted
    * similarity DOUBLES hash-exact against DuckDB's
    * `jaro_winkler_similarity` — the expression mirrors its evaluation
    * order bit-for-bit (JaroWinklerSpec). */
  def jwLinkage(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select(col("p_name")).distinct()
      .withColumn("blk", substring(col("p_name"), 1, 3))
    val jw = graft.expressions.JaroWinkler.jaroWinkler(
      col("name_a"), col("name_b"))
    names.select(col("blk"), col("p_name").as("name_a"))
      .join(names.select(col("blk"), col("p_name").as("name_b")), "blk")
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), jw.as("jw"))
      .filter(col("jw") >= jwThreshold)
  }

  val jwLinkageSql: String = s"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    pairs AS (SELECT a.p_name AS name_a, b.p_name AS name_b
              FROM names a JOIN names b
                ON substr(a.p_name, 1, 3) = substr(b.p_name, 1, 3)
               AND a.p_name < b.p_name)
    SELECT name_a, name_b,
           jaro_winkler_similarity(name_a, name_b) AS jw
    FROM pairs
    WHERE jaro_winkler_similarity(name_a, name_b) >= $jwThreshold"""

  /** q215: END-TO-END ENTITY RESOLUTION — the linkage family composed
    * into the pipeline it exists for: prefix blocking → Jaro-Winkler
    * match edges (q191, the codegen expression pinned bit-for-bit to
    * DuckDB) → connected components (the q49 pointer-doubling operator)
    * → canonical entity = the lexicographically smallest name reachable.
    * What the ONE oracle gates is the COMPOSITION: DuckDB recomputes the
    * same blocked match graph and walks its transitive closure with a
    * recursive CTE, so a drift in blocking, matcher, or component
    * labeling all break the same hash (the q150 composition discipline
    * applied to record linkage). Matched names only — singletons never
    * enter the component operator and resolve to themselves trivially. */
  def entityResolution(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.connectedComponents(
        jwLinkage(s, d).select(col("name_a").as("id_a"), col("name_b").as("id_b")))
      .select(col("id").as("name"), col("cluster_id").as("entity"))

  val entityResolutionSql: String = s"""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    pairs AS (SELECT a.p_name AS name_a, b.p_name AS name_b
              FROM names a JOIN names b
                ON substr(a.p_name, 1, 3) = substr(b.p_name, 1, 3)
               AND a.p_name < b.p_name),
    e AS (SELECT name_a, name_b FROM pairs
          WHERE jaro_winkler_similarity(name_a, name_b) >= $jwThreshold),
    sym AS (SELECT name_a AS src, name_b AS dst FROM e
            UNION SELECT name_b, name_a FROM e),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
    SELECT src AS name, least(src, min(dst)) AS entity
    FROM reach GROUP BY src"""

  val defs: Map[String, QueryDef] = Map(
    "q215_entity_resolution" -> QueryDef(entityResolution _, entityResolutionSql),
    "q191_jw_linkage"       -> QueryDef(jwLinkage _, jwLinkageSql),
    "q197_bucketed_revenue" -> QueryDef(bucketedRevenue _, bucketedRevenueSql),
    "q140_negative_candidates" -> QueryDef(negativeCandidates _, negativeCandidatesSql),
    "q105_fuzzy_resolve"    -> QueryDef(fuzzyResolve _, fuzzyResolveSql),
    "q125_auto_join_skewed" -> QueryDef(autoSkewedRevenue _, autoSkewedRevenueSql),
    "q126_auto_join_broadcast" -> QueryDef(autoBroadcastSegments _, autoBroadcastSegmentsSql),
    "q106_salted_revenue"   -> QueryDef(saltedRevenue _, saltedRevenueSql),
    "q107_error_window_views" -> QueryDef(errorWindowViews _, errorWindowViewsSql),
    "q110_hot_join_keys"    -> QueryDef(hotJoinKeys _, hotJoinKeysSql),
    "q111_fuzzy_clusters"   -> QueryDef(fuzzyClusters _, fuzzyClustersSql),
    "q113_fuzzy_indexed"    -> QueryDef(fuzzyResolveIndexed _, fuzzyResolveSql))
}
