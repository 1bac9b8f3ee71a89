package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline, designed around
  * 100 TB-scale plans:
  *
  *  - exact dedup is a single hash aggregate on a 64-bit content hash (no
  *    sort, no full-text shuffle — only (hash, id) pairs move);
  *  - near-dup via MinHash+LSH: shingle → minhash → band → bucket join. The
  *    self-join happens on (band index, band hash), keeping candidate pairs
  *    ~linear instead of the quadratic all-pairs cross join;
  *  - SimHash gives a 64-bit per-doc signature whose Hamming distance
  *    approximates cosine similarity of the token sets — cheap to store and
  *    to range-join at scale.
  */
object Dedup {

  /** Release the storage blocks behind a `localCheckpoint(true)`-ed frame.
    * `Dataset.unpersist` is a no-op for these — checkpointing persists the
    * physical RDD directly, bypassing the CacheManager — so the RDD inside
    * the plan's `LogicalRDD` leaf is unpersisted explicitly. */
  private def freeCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    }

  /** Exact dedup keeping the smallest id per identical value — window
    * variant (sort within groups; oracle-friendly, keeps whole rows). */
  def exactKeepFirst(df: DataFrame, valueCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(valueCol)).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Exact dedup at scale: group by xxhash64(value) and keep min(id). Only
    * the (hash, id) pair shuffles; collision probability at 64 bits is
    * ~n²/2⁶⁵ (≈1e-6 for 10 billion docs) — acceptable for corpus dedup and
    * the standard trade at 100 TB. */
  def exactByHash(df: DataFrame, valueCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(valueCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** LSH banding: split the signature into `bands` equal bands and emit one
    * (bandIdx, bandHash) bucket key per band. Docs sharing any bucket are
    * candidate pairs. */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // Docs with fewer than shingleN tokens have an EMPTY shingle set and
    // would all share one degenerate signature — putting every short doc in
    // the same bucket and making the candidate self-join quadratic. Filter
    // them out before bucketing (they cannot be shingle-near-dups anyway).
    val withShingles = df.select(col(idCol),
      array_distinct(wordNgrams(tokens(col(textCol)), shingleN)).as("__shingles"))
      .filter(size(col("__shingles")) > 0)
    // bindOnce both stages: the signature (32 minhashes over the shingle
    // set) and the band hashes are each evaluated once per row even though
    // Catalyst collapses these projections into one.
    val bandArray = bindOnce(
      graft.expressions.MinHashSignature.minhash(col("__shingles"), numHashes)) { sig =>
      transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(b, concat_ws("_", slice(sig, b * rows + 1, lit(rows)))))
    }
    withShingles.select(col(idCol), posexplode(bandArray).as(Seq("band_idx", "band_hash")))
  }

  /** Candidate near-duplicate pairs from shared LSH buckets (id_a < id_b,
    * distinct). The join key (band_idx, band_hash) bounds the blow-up to
    * bucket sizes — the scale-path alternative to a cross join. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    // Materialize the bucket table once: the self-join would otherwise
    // recompute the full shingle→minhash→band pipeline on BOTH sides. The
    // bucket table is tiny ((id, band, hash) per band) relative to the corpus
    // — at 100 TB this is the stage you'd write to storage between passes.
    val b = lshBuckets(df, idCol, textCol, numHashes, bands, shingleN).persist()
    try {
      val l = b.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
      val r = b.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
      // localCheckpoint materializes the (small) pair set so the bucket
      // cache can be released before returning — otherwise every call leaks
      // a pinned cached table for the session's lifetime.
      // Trade-off: localCheckpoint blocks are non-replicated and sever
      // lineage, so the returned DataFrame must be consumed before executor
      // churn. On a real cluster run the pair set for a multi-pass dedup
      // should instead be written to storage (reliable checkpoint) — it is
      // the natural stage boundary between candidate generation and verify.
      l.join(r, Seq("band_idx", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct()
        .localCheckpoint(true)
    } finally b.unpersist()
  }

  /** LSH candidates verified by exact n-gram Jaccard ≥ `minJaccard`. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double, numHashes: Int = 32, bands: Int = 8,
                     shingleN: Int = 3): DataFrame = {
    val pairs = lshCandidatePairs(df, idCol, textCol, numHashes, bands, shingleN)
    val docs = df.select(col(idCol), col(textCol))
    val a = docs.select(col(idCol).as("id_a"), col(textCol).as("text_a"))
    val bDocs = docs.select(col(idCol).as("id_b"), col(textCol).as("text_b"))
    pairs.join(a, "id_a").join(bDocs, "id_b")
      .withColumn("jaccard", ngramJaccard(tokens(col("text_a")), tokens(col("text_b")), shingleN))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Near-dup CLUSTERS with exact-content pre-collapse — the dup-heavy
    * scale path for `connectedComponents(nearDuplicates(…))`.
    *
    * A crawl-grade corpus carries 10×+ byte-identical replicas; running LSH
    * over every copy makes candidate pairs QUADRATIC in the duplication
    * factor (identical texts share every bucket). Collapse first: group
    * byte-identical texts (one representative = min id per group), run the
    * shingle→minhash→band→Jaccard→components pipeline over DISTINCT texts
    * only, then expand members back. The expansion is exact, not an
    * approximation:
    *  - banding decisions and Jaccard are pure functions of the text, so a
    *    member pair is an edge iff its representative pair is;
    *  - intra-group pairs are always edges (identical shingle sets, Jaccard
    *    1) — EXCEPT groups with an empty shingle set, which never entered
    *    bucketing in the pairwise plan and so never cluster (reproduced
    *    here by the same `has_shingles` predicate lshBuckets filters on);
    *  - each group's representative is its minimum member, so min-reachable
    *    over representatives IS min-reachable over expanded members — the
    *    canonical cluster id is unchanged.
    * The collapse itself is one hash aggregate keyed on the text (exact
    * equality — no collision caveat; a 100 TB deployment that prefers to
    * shuffle 8-byte keys instead of text can key on xxhash64 and accept
    * `exactByHash`'s documented ~n²/2⁶⁵ collision odds).
    *
    * Returns (id, cluster_id) for every clustered doc, byte-identical to
    * the uncollapsed pipeline's output. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double, numHashes: Int = 32, bands: Int = 8,
                      shingleN: Int = 3): DataFrame = {
    val groups = df.select(col(idCol), col(textCol))
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("rep"), collect_list(col(idCol)).as("ids"))
    val reps = groups.select(col("rep").as(idCol), col(textCol))
    val repPairs = nearDuplicates(reps, idCol, textCol, minJaccard,
      numHashes, bands, shingleN)
    val repClusters = connectedComponents(repPairs)
    groups
      .withColumn("has_shingles",
        size(array_distinct(wordNgrams(tokens(col(textCol)), shingleN))) > 0)
      .join(repClusters.select(col("id").as("rep"), col("cluster_id")),
        Seq("rep"), "left")
      // a multi-member group whose rep has no cross-group edge is still a
      // cluster of its own (its intra pairs are Jaccard-1 edges), rooted at
      // the rep; shingle-less groups never pair and never cluster
      .withColumn("cid", coalesce(col("cluster_id"),
        when(size(col("ids")) > 1 && col("has_shingles"), col("rep"))))
      .filter(col("cid").isNotNull)
      .select(explode(col("ids")).as("id"), col("cid").as("cluster_id"))
  }

  /** Connected components over a near-dup pair set — the step that turns
    * pairwise matches into dedup CLUSTERS (keep the canonical minimum id
    * per component, drop the rest).
    *
    * Parallel min-label propagation with pointer doubling (the scalable
    * union-find): every node starts labeled with itself; each round a node
    * adopts the minimum of its own label, its neighbors' labels, and its
    * label's label (path compression). The label-chase bounds convergence
    * at O(log diameter) rounds — a chain-shaped component settles in ~8
    * rounds at length 200 where plain neighbor-min would need 200. Each
    * round is one edge join + one aggregate + one small labels self-join —
    * all shuffles on the node id, no driver-side graph. Near-dup
    * components are shallow (dups of dups), so 2-3 rounds settle real
    * corpora; `maxIter` bounds pathology. localCheckpoint per round severs
    * the growing lineage (same trade-off as lshCandidatePairs, documented
    * there).
    *
    * Returns (id, cluster_id = min id reachable) for every node that
    * appears in `pairs`; singleton documents never enter and never move.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, idA, idB, maxIter)._1

  /** As `connectedComponents`, also reporting how many propagation rounds
    * ran until fixpoint — pinned in tests so an edge-set change that
    * silently deepens components (more rounds = more shuffles at scale)
    * is visible, not just eventually slow. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20): (DataFrame, Int) = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nmin"))
      // pointer doubling: chase my label's OWN label (every label is a node
      // id, so the self-join always lands). Neighbor-min alone walks one
      // hop per round — O(diameter) rounds, which a chain-shaped component
      // turns into a hard failure at maxIter; the label-chase compresses
      // chains exponentially, bounding rounds at O(log diameter) for one
      // extra small join per round (labels ⋈ labels, never the edge set)
      val labelMin = labels
        .join(labels.select(col("id").as("label"), col("label").as("lmin")), "label")
        .select(col("id"), col("lmin"))
      // least() skips nulls, so a node with no lower-labeled neighbor keeps
      // its label; convergence falls out of the SAME join (no second
      // label-vs-label join per round)
      //
      // The changed-row count rides the checkpoint materialization as an
      // observe() metric, so each round is ONE job — the previous
      // filter(...).isEmpty probe was a second (tiny but scheduled) job
      // per round, pure floor at gate SF and dead weight at any scale.
      // coalesce: sum over an empty frame is NULL, which must read as
      // converged (empty pair set ⇒ nothing to propagate).
      val obs = org.apache.spark.sql.Observation()
      val joined = labels.join(neighborMin, Seq("id"), "left")
        .join(labelMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), col("nmin"), col("lmin")).as("new_label"))
        .observe(obs, coalesce(
          sum(when(col("new_label") < col("label"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .localCheckpoint(true)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      // round i+1 is materialized (eager checkpoint above): free round i's
      // checkpoint blocks now, instead of pinning maxIter+1 label sets for
      // the session's lifetime
      freeCheckpointBlocks(labels)
      labels = joined.select(col("id"), col("new_label").as("label"))
      i += 1
    }
    // the returned labels are checkpoint-severed from the edge set — its
    // blocks can go too (only the final round's labels stay pinned, for the
    // caller to consume)
    freeCheckpointBlocks(edges)
    // a silently truncated propagation would hand back WRONG cluster ids
    // (one component split into several) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(component diameter exceeds maxIter); raise maxIter")
    (labels.select(col("id"), col("label").as("cluster_id")), i)
  }

  /** Exact dedup for a STREAM of documents: keep the first arrival of each
    * distinct content, drop later copies that arrive within the watermark.
    * State is keyed by the 64-bit content hash — 8 bytes per distinct doc
    * in the state store instead of the document itself (the same
    * hash-not-payload trade as `exactByHash`; collision math documented
    * there), and the watermark bounds state growth: a duplicate arriving
    * later than the delay is admitted again, which is the correct
    * streaming relaxation — bounded state forces a horizon, and the
    * downstream batch dedup (or `nearDuplicatesAgainst` the signature
    * index) catches cross-horizon copies. */
  def exactDedupStream(docs: DataFrame, textCol: String, eventTimeCol: String,
                       watermarkDelay: String): DataFrame =
    docs.withColumn("content_hash", xxhash64(col(textCol)))
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("content_hash") // helper key — output shape matches the input

  /** Persist the LSH bucket table as a parquet "signature index" — the
    * artifact that makes corpus dedup INCREMENTAL: today's batch is checked
    * against yesterday's signatures without ever re-reading, re-shingling,
    * or re-hashing the historical corpus. Layout: partitioned by band_idx
    * (bounded fan-out; at cluster scale the natural refinement is
    * bucketBy(band_hash) into a table so the probe join is shuffle-free on
    * the index side — same layout idea as the IVF index). */
  def writeSignatureIndex(docs: DataFrame, indexDir: String, idCol: String = "doc_id",
                          textCol: String = "text", numHashes: Int = 32,
                          bands: Int = 8, shingleN: Int = 3): Unit =
    lshBuckets(docs, idCol, textCol, numHashes, bands, shingleN)
      .write.mode("overwrite").partitionBy("band_idx").parquet(indexDir)

  /** Roll the index forward after a batch is accepted: append the batch's
    * buckets. Parameters must match the ones the index was built with. */
  def appendToSignatureIndex(docs: DataFrame, indexDir: String, idCol: String = "doc_id",
                             textCol: String = "text", numHashes: Int = 32,
                             bands: Int = 8, shingleN: Int = 3): Unit =
    lshBuckets(docs, idCol, textCol, numHashes, bands, shingleN)
      .write.mode("append").partitionBy("band_idx").parquet(indexDir)

  /** Near-duplicates of `newDocs` AGAINST the persisted signature index:
    * only the new batch is shingled and minhashed; the historical side is
    * a columnar scan of (id, band_idx, band_hash). Candidates from shared
    * buckets are verified by exact jaccard, which needs the TEXT of just
    * the candidate old docs — `oldDocs` is joined for those few rows only,
    * never re-signatured. Returns (id_old, id_new, jaccard).
    *
    * New-vs-new pairs inside the batch are the existing `nearDuplicates`;
    * an ingest pipeline runs both, then `appendToSignatureIndex`. */
  def nearDuplicatesAgainst(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                            oldDocs: DataFrame, newDocs: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text",
                            minJaccard: Double = 0.2, numHashes: Int = 32,
                            bands: Int = 8, shingleN: Int = 3): DataFrame = {
    val index = spark.read.parquet(indexDir)
      .select(col(idCol).as("id_old"), col("band_idx"), col("band_hash"))
    val probes = lshBuckets(newDocs, idCol, textCol, numHashes, bands, shingleN)
      .select(col(idCol).as("id_new"), col("band_idx"), col("band_hash"))
    val candidates = probes.join(index, Seq("band_idx", "band_hash"))
      .filter(col("id_old") =!= col("id_new"))
      .select(col("id_old"), col("id_new"))
      .distinct()
    val oldTexts = oldDocs.select(col(idCol).as("id_old"), col(textCol).as("text_old"))
    val newTexts = newDocs.select(col(idCol).as("id_new"), col(textCol).as("text_new"))
    candidates.join(oldTexts, "id_old").join(newTexts, "id_new")
      .withColumn("jaccard",
        ngramJaccard(tokens(col("text_old")), tokens(col("text_new")), shingleN))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_old"), col("id_new"), col("jaccard"))
  }

  /** Exact-substring duplicated-SPAN statistics (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022): the document-level near-dup families above miss the
    * boilerplate case — long char-identical runs (licenses, templates,
    * quoted passages) embedded in otherwise-distinct documents. Per
    * document this reports every maximal duplicated span: the union of
    * all `gram`-char windows whose fingerprint occurs in ≥ 2 DISTINCT
    * documents, merged into islands (overlapping-or-touching windows
    * coalesce), plus the duplicated-char fraction a removal pass would
    * reclaim.
    *
    * Duplication is DEFINED over the 31-bit polynomial fingerprint
    * ([[graft.expressions.PolyFingerprint]], the q28/q59 fold) — the
    * key both engines compute identically, and the standard scalable
    * stand-in for Lee et al.'s suffix array (fingerprint tables scale as
    * one shuffle; suffix arrays don't distribute).
    *
    * Scale shape: gram fingerprinting is row-local codegen (O(len)
    * windows per doc, no text materialized past the project); ONE
    * data-sized shuffle on fp for the distinct-doc count + the dup
    * semi-join back; the island merge windows on doc_id (running max +
    * island id — gaps-and-islands, no self-join); short docs rejoin via
    * a left join so they report zeros instead of vanishing. */
  /** The gram-postings table (id, p, fp) — q177's working state, and the
    * thing an incremental deployment PERSISTS: postings are per-document
    * deterministic, so a new batch's postings simply append (q178). */
  def gramPostings(docs: DataFrame, gram: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs
      .filter(length(col(textCol)) >= gram)
      .select(col(idCol),
        explode(expr(s"sequence(1, length($textCol) - $gram + 1)")).as("p"),
        col(textCol))
      .select(col(idCol), col("p"),
        graft.expressions.PolyFingerprint.fingerprint(
          expr(s"substring($textCol, p, $gram)"), 64).as("fp"))

  def duplicatedSpanStats(docs: DataFrame, gram: Int = 50,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    duplicatedSpanStatsFromPostings(
      gramPostings(docs, gram, idCol, textCol), docs, gram, idCol, textCol)

  /** The stats pass over an existing (possibly storage-backed) postings
    * table — shared by the one-shot (q177) and incremental (q178) paths,
    * which is WHY append ≡ rebuild: postings rows are identical either
    * way, and everything downstream is a function of the postings. */
  def duplicatedSpanStatsFromPostings(grams: DataFrame, docs: DataFrame,
                                      gram: Int = 50,
                                      idCol: String = "doc_id",
                                      textCol: String = "text"): DataFrame = {
    val dup = grams.groupBy("fp")
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2).select("fp")
    val w = Window.partitionBy(idCol).orderBy("p")
    val islands = grams.join(dup, "fp")
      .withColumn("e", col("p") + lit(gram - 1))
      .withColumn("maxEndBefore",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newIsland",
        when(col("maxEndBefore").isNull ||
          col("p") > col("maxEndBefore") + 1, 1L).otherwise(0L))
      .withColumn("island", sum("newIsland").over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min("p").as("s"), max("e").as("t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("t") - col("s") + 1).as("dup_chars"))
    docs.select(col(idCol), length(col(textCol)).cast("long").as("len"))
      .join(islands, Seq(idCol), "left_outer")
      .select(col(idCol), col("len"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_frac",
        col("dup_chars").cast("double") / col("len").cast("double"))
  }
}
