package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline (and is exact); the
  * IVF variant is the 100 TB path: a KMeans coarse quantizer partitions the
  * corpus into cells, each query probes only its `nProbe` nearest cells, so
  * the scored candidate set shrinks by ~cells/nProbe. At scale the corpus
  * would additionally be storage-partitioned by cell id, making a probe a
  * partition-pruned scan instead of a filter.
  *
  * All arithmetic is fold-based column expressions (left-to-right sums),
  * bit-reproducible against the DuckDB oracle.
  */
object Similarity {

  /** Left-fold dot product of two array<double> columns. Uses the native
    * codegen DotProduct expression — bit-identical to the higher-order
    * `aggregate(zip_with(...))` fold (same summation order) but compiled
    * instead of interpreted. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; NULL for zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(null)).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed dot product and per-side norms — the same
    * doubles as `cosine` (identical multiply/divide order), but each
    * vector's norm is folded ONCE instead of once per pair. On an n×k
    * scoring pass this removes 2/3 of the fold work. */
  def cosineWithNorms(dotAB: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0.0, lit(null)).otherwise(dotAB / d)
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Deterministic "offline-trained" coarse quantizer: `cells` centers with
    * every component in {-1, +1}, derived from a murmur-style bit mixer so
    * they're pseudo-random but reproducible ANYWHERE — both engines (and
    * both sides of the correctness gate) can inline them as plan literals.
    *
    * Constant-norm centers make nearest-center assignment equivalent to
    * argmax of the dot product (|v|² and |c|² cancel), i.e. a balanced
    * random-projection partition — unlike varying-norm random centers, whose
    * |c|² term dominates and collapses most vectors into one cell. At 100 TB
    * the quantizer would be trained offline (see buildIvfIndex); the fixed
    * variant is the deterministic stand-in with identical plan shape. */
  def fixedCenters(cells: Int, dim: Int): Seq[Seq[Double]] =
    (1 to cells).map { c =>
      (0 until dim).map { i =>
        var x = c.toLong * 1000003L + i.toLong
        x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
        x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
        x ^= x >>> 33
        ((x & 1L) * 2L - 1L).toDouble
      }
    }

  /** The trained IVF quantizer's fit parameters (q31/q99/q104/q112,
    * [[graft.ml.PinnedIvfCenters]]). The seed was chosen by a sweep of
    * seeds {42,7,13,99,2026} × iters {20,50} at sf0.01: k-means|| local
    * optima differ by up to 8 recall points and seed 99 lands the best
    * cell structure (0.70 vs 0.62 for seed 42); iterations beyond 20
    * change nothing (every seed's 20- and 50-iter recalls are equal —
    * converged). Data-adapted Voronoi cells beat [[fixedCenters]] at the
    * same nProbe because cell boundaries follow the corpus density. */
  val quantizerCells = 16
  val quantizerSeed = 99L
  val quantizerMaxIter = 20

  /** q30's dup-blocking quantizer ([[graft.ml.PinnedDupCenters]]): more,
    * smaller cells for pair blocking, same pinned fit. Seed 99 re-swept
    * for 32 cells stays within a point of the best (blocking recall is
    * less init-sensitive than probe recall because multi-probe overlaps
    * cells). */
  val dupCells = 32

  /** Seed-pinned k-means quantizer fit over the embedding column; run it
    * on `graft.ml.canonicalLayout(emb, "vec_id")` to reproduce the pins. */
  def trainCenters(emb: DataFrame, cells: Int = quantizerCells): Seq[Seq[Double]] = {
    import org.apache.spark.ml.functions.array_to_vector
    val train = emb.select(array_to_vector(asDouble(col("embedding"))).as("features"))
    val m = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(quantizerSeed).setMaxIter(quantizerMaxIter).fit(train)
    m.clusterCenters.toSeq.map(_.toArray.toSeq)
  }

  /** Fold-order squared distance of an array<double> column to a constant
    * center — shared by every quantizer path so Spark and the DuckDB oracle
    * always sum in the same order. Evaluated through the native codegen
    * [[graft.expressions.SqDist]] (bit-identical left fold); the previous
    * `aggregate(zip_with(...))` chain ran interpreted once per vector per
    * center, which made cell assignment the CPU floor of every IVF/PQ pass. */
  private[graft] def distToFold(vec: Column, ctr: Seq[Double]): Column =
    graft.expressions.VectorExpressions.sqDist(vec, typedLit(ctr))

  /** The `nProbe` nearest cell ids (1-based) for a vector, ties to the lower
    * cell id — matches a rank-by-(distance, cell) over the centers table. */
  private[graft] def probeCellsExpr(vec: Column, centers: Seq[Seq[Double]],
                                        nProbe: Int): Column = {
    val dists = array(centers.map(c => distToFold(vec, c)): _*)
    slice(transform(
      array_sort(arrays_zip(dists, sequence(lit(1), lit(centers.length)))),
      s => s.getField("1").cast("int")), 1, nProbe)
  }

  /** Embedding near-duplicate pairs over a FIXED quantizer: every vector is
    * assigned its `probes` nearest cells (multi-probe raises recall without
    * touching the candidate blow-up much), pairs sharing any cell are
    * deduplicated, then exact cosine ≥ `minCosine` filters. Fully
    * deterministic — no trained state — so the complete pipeline (blocking
    * included) is reproducible by the DuckDB oracle.
    *
    * Dup-heavy hardening: byte-identical vectors are collapsed to ONE
    * representative before blocking and scoring, then pairs are re-expanded
    * to member ids afterwards. A crawl-grade corpus carries 10×+ exact
    * replicas, and without the collapse every cell pays O(d²) comparisons
    * for pairs whose cosine is already known. The result set is unchanged:
    *  - identical vectors probe identical cells, so every intra-group pair
    *    was a candidate in the pairwise plan; its cosine is dot(v,v)/nrm²,
    *    folded once per group (bit-identical to the member-pair fold);
    *  - a cross-group member pair shares a cell iff its representatives do
    *    (cell assignment is a pure function of the vector), and its cosine
    *    equals the representatives' (the arrays are byte-identical).
    * Cost is one corpus-wide hash aggregate (keyed on the vector) plus work
    * linear in distinct vectors and in emitted pairs — output-linear where
    * the pairwise plan was quadratic in the duplication factor. */
  def embeddingNearDupsFixed(corpus: DataFrame, centers: Seq[Seq[Double]],
                             minCosine: Double, probes: Int = 3,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    // one row per distinct vector; sorted member ids make the rep (ids[0])
    // deterministic under collect_list's arbitrary order
    val groups = c.groupBy(col("v"), col("nrm"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    val reps = groups.select(col("v"), col("nrm"), col("ids"),
      element_at(col("ids"), 1).as("rep"))
    val assigned = reps
      .withColumn("cell", explode(probeCellsExpr(col("v"), centers, probes)))
      .select(col("cell"), col("rep"))
    val l = assigned.select(col("cell"), col("rep").as("rep_a"))
    val r = assigned.select(col("cell"), col("rep").as("rep_b"))
    // distinct BEFORE the vector join + cosine: a pair sharing several cells
    // is scored once, and only (cell, rep) pairs shuffle in the self-join
    val repPairs = l.join(r, Seq("cell"))
      .filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a"), col("rep_b"))
      .distinct()
    // cross-group pairs: score the representative pair, expand members after
    // the threshold filter so only emitted pairs blow up
    val cross = repPairs
      .join(reps.select(col("rep").as("rep_a"), col("v").as("v_a"),
        col("nrm").as("nrm_a"), col("ids").as("ids_a")), "rep_a")
      .join(reps.select(col("rep").as("rep_b"), col("v").as("v_b"),
        col("nrm").as("nrm_b"), col("ids").as("ids_b")), "rep_b")
      .withColumn("cos",
        cosineWithNorms(dot(col("v_a"), col("v_b")), col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= minCosine)
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("cos"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("cos"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos"))
    // intra-group pairs: cosine of a vector with its byte-identical twin
    // (NULL for zero vectors, dropped by the threshold — as pairwise did)
    val intra = groups
      .filter(size(col("ids")) > 1)
      .withColumn("cos", cosineWithNorms(dot(col("v"), col("v")), col("nrm"), col("nrm")))
      .filter(col("cos") >= minCosine)
      .select(explode(col("ids")).as("ia"), col("ids"), col("cos"))
      .select(col("ia"), explode(col("ids")).as("ib"), col("cos"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("cos"))
    cross.unionByName(intra)
  }

  /** Scalar int8 quantization of an embedding column — the 4× storage
    * compression every large embedding corpus ships with. Per vector:
    * scale = max |v_i| (symmetric), code_i = floor(v_i * 127.0 / scale)
    * ∈ [-128, 127]. floor (not round) keeps the arithmetic bit-identical
    * across engines — round's half-up vs half-even tie rules differ.
    * Returns (id, scale, codes array, reconstruction squared error), the
    * error term computed in the same fold order as the DuckDB twin. */
  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    corpus
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("codes",
        when(col("scale") === 0.0,
          transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"), x => floor(x * 127.0 / col("scale")).cast("long"))))
      .withColumn("sq_err",
        aggregate(zip_with(col("v"), col("codes"),
            (x, q) => {
              val recon = q.cast("double") * col("scale") / 127.0
              (x - recon) * (x - recon)
            }),
          lit(0.0), (acc, e) => acc + e))
      .select(col(idCol), col("scale"), col("codes"), col("sq_err"))

  /** (id[, meta…], v, nrm, cell) layout rows for an index write:
    * nearest-cell assignment against fixed centers, per-vector norm
    * precomputed so serving probes fold only the query·candidate dot.
    * `metaCols` co-locates filterable attributes (label, lang, source…)
    * WITH the vectors, so a filtered probe pushes its predicate into the
    * same pruned scan instead of a post-hoc join. */
  private def indexRows(corpus: DataFrame, centers: Seq[Seq[Double]],
                        idCol: String, vecCol: String,
                        metaCols: Seq[String] = Nil): DataFrame =
    corpus
      .select(col(idCol) +: metaCols.map(col) :+ asDouble(col(vecCol)).as("v"): _*)
      .withColumn("nrm", norm(col("v")))
      .withColumn("dists", array(centers.map(c => distToFold(col("v"), c)): _*))
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))).cast("int"))
      .drop("dists")

  /** Materialize the IVF index for a FIXED quantizer (no training job):
    * assign every vector its nearest cell, write partitioned by cell. */
  def writeIvfIndex(corpus: DataFrame, indexDir: String, centers: Seq[Seq[Double]],
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    metaCols: Seq[String] = Nil): Unit =
    indexRows(corpus, centers, idCol, vecCol, metaCols)
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)

  /** Roll the index forward after an embedding batch is accepted — the
    * vector twin of [[Dedup.appendToSignatureIndex]]: ONLY the new batch
    * is assigned (same centers the index was built with — the quantizer is
    * index metadata and must not drift) and its cell files are APPENDED;
    * existing files are never rewritten, so a daily corpus drop costs one
    * batch-sized job instead of a rebuild. Probes ([[ivfTopKIndexed]]) are
    * unchanged — the cell-partitioned layout absorbs the new files, and
    * because assignment is per-vector deterministic, append ≡ full
    * rebuild for every query (the q99 gate row and SimilarityIndexSpec
    * pin that law).
    *
    * `metaCols` must name the SAME meta columns the index was built with
    * ([[writeIvfIndex]]): appending meta-less rows to a labeled index
    * would leave the appended vectors with null meta, and a later
    * [[ivfTopKIndexedFiltered]] probe would silently drop them. The
    * schema of the appended batch is validated against the existing
    * index files so a mismatch fails loudly instead. */
  def appendToIvfIndex(newVectors: DataFrame, indexDir: String, centers: Seq[Seq[Double]],
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       metaCols: Seq[String] = Nil): Unit = {
    val rows = indexRows(newVectors, centers, idCol, vecCol, metaCols)
    val existing = newVectors.sparkSession.read.parquet(indexDir)
    // names AND types: a same-named meta column of a different type would
    // pass a name-only check and leave the index with conflicting parquet
    // schemas — the silent corruption this guard exists to prevent
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val want = shape(existing.drop("cell").schema)
    val have = shape(rows.drop("cell").schema)
    require(want == have,
      s"appendToIvfIndex schema mismatch: index has " +
        s"${want.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")}, " +
        s"batch produces " +
        s"${have.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")} — " +
        "pass the metaCols (same names and types) the index was built with")
    rows.write.mode("append").partitionBy("cell").parquet(indexDir)
  }

  /** Per-table sign-LSH bucket codes for a vector: table t's code packs
    * `bits` sign bits, bit b = [v · hyperplane(t·bits+b) > 0]. Shared by
    * the Spark operator and mirrored in the oracle so blocking is
    * bit-identical across engines. */
  private[operators] def signBuckets(v: Column, hyperplanes: Seq[Seq[Double]],
                                     tables: Int): Column = {
    val bits = hyperplanes.length / tables
    array((0 until tables).map { t =>
      (0 until bits).map { b =>
        when(dot(v, typedLit(hyperplanes(t * bits + b))) > 0.0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Sign-LSH (random-hyperplane) ANN top-k — the LSH-bucketed alternative
    * to the IVF cell path. `tables` independent hash tables of
    * `hyperplanes.length / tables` sign bits each: a corpus vector is a
    * candidate for a query iff they share ANY table's bucket, so recall
    * grows with tables while each table's bucket population shrinks
    * exponentially with bits (~n/2^bits for centered data). Candidates are
    * deduplicated BEFORE the vectors are re-attached — only
    * (query, neighbor) id pairs flow through the multi-table union — then
    * ranked by exact cosine. With the deterministic ±1 hyperplanes from
    * `fixedCenters`, the whole pipeline (bucketing included) is
    * reproducible by the DuckDB oracle.
    *
    * At 100 TB: corpus codes are precomputed once per table (24 fused dot
    * products per vector here), the bucket join replaces an n·q cosine
    * scan, and like the IVF index the (tbl, bucket) layout is the natural
    * storage partitioning for a serving-path probe. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, hyperplanes: Seq[Seq[Double]],
              tables: Int, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(hyperplanes.nonEmpty && hyperplanes.length % tables == 0,
      "hyperplanes must split evenly into tables")
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol), asDouble(col(vecCol)).as("v"))
    def bucketed(df: DataFrame, outId: String) = df.select(
      col(idCol).as(outId),
      posexplode(signBuckets(col("v"), hyperplanes, tables)).as(Seq("tbl", "bucket")))
    val cand = bucketed(q, "query_id")
      .join(bucketed(c, "neighbor_id"), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qv = q.select(col(idCol).as("query_id"), col("v").as("qv"),
      norm(col("v")).as("nrm_q"))
    val cv = c.select(col(idCol).as("neighbor_id"), col("v").as("v_n"),
      norm(col("v")).as("nrm_n"))
    val scored = cand
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("sim",
        cosineWithNorms(dot(col("qv"), col("v_n")), col("nrm_q"), col("nrm_n")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rn"))
  }

  /** Exact top-k neighbours for each query vector by brute-force cosine.
    * `queries` is expected to be small — it is broadcast, so the corpus is
    * scanned once with no shuffle of the embeddings themselves; only the
    * (query, candidate, sim) triples reach the per-query top-k window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_nrm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("c_vec"))
      .withColumn("c_nrm", norm(col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rn"))
  }

  /** IVF (inverted-file) approximate top-k: KMeans cells + nProbe probing.
    * Returns the same shape as bruteForceTopK; recall < 1 by design. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              cells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding")
             (implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector

    // 1. coarse quantizer: KMeans over the corpus embeddings
    val train = corpus.select(array_to_vector(col(vecCol)).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(seed).setMaxIter(10).fit(train)
    val centers: Seq[Seq[Double]] = model.clusterCenters.toSeq.map(_.toArray.toSeq)

    // distance of an array<double> column to each center, as fold expressions
    def distArray(vec: Column): Column = array(centers.map(c => distToFold(vec, c)): _*)

    // 2. assign every corpus vector to its nearest cell (argmin, first-wins)
    val c = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("c_vec"))
      .withColumn("dists", distArray(col("c_vec")))
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))).cast("int"))
      .drop("dists")

    // 3. each query probes its nProbe nearest cells
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("cellDists", distArray(col("q_vec")))
      .withColumn("probe_cells",
        slice(transform(
          array_sort(arrays_zip(col("cellDists"), sequence(lit(1), lit(cells)))),
          s => s.getField("1").cast("int")), 1, nProbe))
      .drop("cellDists")
      .withColumn("cell", explode(col("probe_cells")))
      .drop("probe_cells")

    // 4. score only within probed cells, then per-query top-k
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rn"))
  }

  /** Materialize an IVF index as a cell-partitioned parquet layout: train
    * the coarse quantizer, assign every vector, write partitioned by cell.
    * Returns the centers (the "index metadata" — at scale this is the only
    * driver-side state, cells × dim doubles). Probing a query then reads
    * ONLY its nProbe cell directories — partition pruning turns the ANN
    * probe into a fraction-of-corpus scan, which is the actual 100 TB
    * serving path (ScaleSpec-style pruning applied to vectors). */
  def buildIvfIndex(corpus: DataFrame, indexDir: String,
                    cells: Int = 16, seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding")
                   (implicit spark: SparkSession): Seq[Seq[Double]] = {
    import org.apache.spark.ml.functions.array_to_vector
    val train = corpus.select(array_to_vector(col(vecCol)).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(seed).setMaxIter(10).fit(train)
    val centers: Seq[Seq[Double]] = model.clusterCenters.toSeq.map(_.toArray.toSeq)
    corpus
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("dists", array(centers.map(c => distToFold(col("v"), c)): _*))
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))).cast("int"))
      .drop("dists")
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)
    centers
  }

  /** Top-k against a materialized IVF index: per query, figure the nProbe
    * nearest cells from the (tiny, driver-held) centers and push a `cell IN
    * (...)` filter into the partitioned read — only those directories are
    * scanned. */
  def ivfTopKIndexed(indexDir: String, centers: Seq[Seq[Double]],
                     queries: DataFrame, k: Int, nProbe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding")
                    (implicit spark: SparkSession): DataFrame =
    ivfTopKIndexedFiltered(indexDir, centers, queries, k, lit(true), nProbe,
      idCol, vecCol)

  /** Filtered ANN against a materialized IVF index: top-k among ONLY the
    * neighbors satisfying `neighborFilter` (a predicate over the index's
    * metadata columns — see `writeIvfIndex(metaCols = …)`).
    *
    * The filter is applied INSIDE candidate generation — before ranking —
    * not to the top-k output. Post-filtering an unfiltered top-k is the
    * classic filtered-search recall trap: a query whose true same-filter
    * neighbors rank 6th..10th overall would return fewer than k rows (or
    * none). Here the predicate lands on the pruned cell scan itself
    * (PushedFilters alongside the cell PartitionFilters, asserted in
    * SimilarityIndexSpec), so selective filters make the probe CHEAPER,
    * which is the 100 TB behavior a metadata-filtered vector search
    * needs. */
  def ivfTopKIndexedFiltered(indexDir: String, centers: Seq[Seq[Double]],
                             queries: DataFrame, k: Int, neighborFilter: Column,
                             nProbe: Int = 4,
                             idCol: String = "vec_id", vecCol: String = "embedding")
                            (implicit spark: SparkSession): DataFrame = {
    val cells = centers.length
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_nrm", norm(col("q_vec")))
      .withColumn("cellDists", array(centers.map(c => distToFold(col("q_vec"), c)): _*))
      .withColumn("probe_cells",
        slice(transform(
          array_sort(arrays_zip(col("cellDists"), sequence(lit(1), lit(cells)))),
          s => s.getField("1").cast("int")), 1, nProbe))
      .drop("cellDists")

    // collect the union of probed cells (tiny) to push a partition filter
    val probed = q.select(explode(col("probe_cells")).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val indexed = spark.read.parquet(indexDir)
    // indexes written before norms were materialized lack the column —
    // recompute on read in that case (same doubles either way)
    val withNrm =
      if (indexed.columns.contains("nrm")) indexed
      else indexed.withColumn("nrm", norm(col("v")))
    val corpus = withNrm
      .filter(col("cell").isin(probed: _*))
      .filter(neighborFilter)
      .select(col("cell"), col(idCol).as("neighbor_id"),
        col("v").as("c_vec"), col("nrm").as("c_nrm"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    corpus.join(broadcast(q.withColumn("cell", explode(col("probe_cells")))
        .drop("probe_cells")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rn"))
  }

  /** Contrastive pair mining for embedding-model training: for each anchor,
    * the most-cosine-similar SAME-label vector (the positive) and the
    * most-similar DIFFERENT-label vector (the hard negative), plus the
    * margin between them. Anchors with a singleton label emit a NULL
    * positive (they exist and a training pipeline must see them — dropping
    * would silently shrink the anchor set).
    *
    * Exact by construction: anchors broadcast, the corpus is scanned once
    * with no embedding shuffle; only (anchor, candidate, sim) triples reach
    * the two per-(anchor, side) top-1 windows, and the final per-anchor
    * pivot is a 2-row aggregate. At 100 TB the scored candidate set is the
    * thing to shrink, not the window: route candidates through the IVF
    * probe ([[ivfTopKIndexedFiltered]] with a label predicate per side)
    * and this same ranking runs over cells/nProbe of the corpus. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      asDouble(col(vecCol)).as("a_vec"), col(labelCol).as("a_label"))
      .withColumn("a_nrm", norm(col("a_vec")))
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("c_vec"), col(labelCol).as("c_label"))
      .withColumn("c_nrm", norm(col("c_vec")))
    val scored = c.join(broadcast(a), col("anchor_id") =!= col("cand_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("a_vec"), col("c_vec")), col("a_nrm"), col("c_nrm")))
      .withColumn("same", col("a_label") === col("c_label"))
    bestContrastivePair(scored)
  }

  /** Per-(anchor, side) top-1 + 2-row pivot shared by the exact and the
    * IVF-probed hard-negative routes — scored rows in, one
    * (anchor, pos, neg, margin) row out. */
  private def bestContrastivePair(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("anchor_id"), col("same"))
      .orderBy(col("sim").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("anchor_id"))
      .agg(
        max(when(col("same"), col("cand_id"))).as("pos_id"),
        max(when(col("same"), col("sim"))).as("pos_sim"),
        max(when(!col("same"), col("cand_id"))).as("neg_id"),
        max(when(!col("same"), col("sim"))).as("neg_sim"))
      .withColumn("margin", col("pos_sim") - col("neg_sim"))
  }

  /** The 100 TB route for [[hardNegatives]]: candidates come from the
    * anchor's `nProbe` nearest IVF cells of a materialized label-carrying
    * index ([[writeIvfIndex]] with `metaCols`) instead of the full corpus —
    * the probe is a partition-pruned scan exactly like [[ivfTopKIndexed]],
    * so per-anchor cost is cells/nProbe of the exact scan. Same
    * deterministic arithmetic (fold dots, rank ties to lower id), so with
    * pinned centers the full approximate pipeline is oracle-reproducible;
    * its agreement with the exact route is a gate quantity (q138 vs q135).
    *
    * An anchor's probed cells may lack any same-label (or any cross-label)
    * vector — the corresponding side is NULL, the honest answer of a
    * probe-bounded candidate set. */
  def hardNegativesIvf(indexDir: String, centers: Seq[Seq[Double]],
                       anchors: DataFrame, nProbe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label")
                      (implicit spark: SparkSession): DataFrame = {
    val a = anchors
      .select(col(idCol).as("anchor_id"), col(labelCol).as("a_label"),
        asDouble(col(vecCol)).as("a_vec"))
      .withColumn("a_nrm", norm(col("a_vec")))
      .withColumn("cell", explode(probeCellsExpr(col("a_vec"), centers, nProbe)))
    val probed = a.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val idx = spark.read.parquet(indexDir).filter(col("cell").isin(probed: _*))
    val scored = idx
      .select(col("cell"), col(idCol).as("cand_id"), col(labelCol).as("c_label"),
        col("v").as("c_vec"), col("nrm").as("c_nrm"))
      .join(broadcast(a), Seq("cell"))
      .filter(col("anchor_id") =!= col("cand_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("a_vec"), col("c_vec")), col("a_nrm"), col("c_nrm")))
      .withColumn("same", col("a_label") === col("c_label"))
    bestContrastivePair(scored)
  }

  /** Embedding near-duplicate pairs: cosine ≥ `minCosine` among pairs that
    * share an IVF cell (the LSH-bucket analog for dense vectors). */
  def embeddingNearDups(corpus: DataFrame, minCosine: Double,
                        cells: Int = 16, seed: Long = 42L,
                        idCol: String = "vec_id", vecCol: String = "embedding")
                       (implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val train = corpus.select(array_to_vector(col(vecCol)).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(seed).setMaxIter(10).fit(train)
    val centers: Seq[Seq[Double]] = model.clusterCenters.toSeq.map(_.toArray.toSeq)
    val assigned = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("dists", array(centers.map(c => distToFold(col("v"), c)): _*))
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))).cast("int"))
      .drop("dists")
    val l = assigned.select(col("cell"), col(idCol).as("id_a"), col("v").as("v_a"))
    val r = assigned.select(col("cell"), col(idCol).as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
