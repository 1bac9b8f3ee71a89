package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the compressed-codes ANN path.
  *
  * The 100 TB problem PQ solves is MEMORY, not candidate pruning (IVF's
  * job — [[Similarity]]): a 64-dim float corpus is 256 bytes/vector, so a
  * 10^11-vector corpus cannot hold its raw vectors hot. PQ splits each
  * vector into [[subspaces]] contiguous sub-vectors, quantizes each
  * against its own [[centroids]]-entry codebook (trained offline, pinned —
  * [[graft.ml.PinnedPqCodebooks]]), and stores only the centroid ids:
  * 8 one-byte codes here, a 32× compression. Distances are then computed
  * ASYMMETRICALLY (ADC): the query stays full-precision, each subspace
  * contributes a table lookup dist(q_s, centroid[code_s]) — 8 lookups + 7
  * adds per candidate instead of 64 multiply-subtracts, over a table that
  * fits in cache.
  *
  * Everything is the engine's established exact arithmetic: sub-vector
  * distances are [[Similarity.distToFold]] fold-order sums, assignment
  * ties break to the lowest centroid id (`array_position` of the min),
  * and the ADC total is a FIXED left-associated chain over subspaces — so
  * the DuckDB oracle reproduces codes, distances, and rankings
  * bit-for-bit (q168/q169/q170).
  *
  * Scale shape: encoding is row-local, zero-shuffle, whole-stage codegen
  * (the codes write is one narrow pass over the corpus); the ADC scan
  * broadcasts the query batch's lookup tables (queries × 8 × 16 doubles —
  * metadata-sized) against the CODES table, never the raw vectors; the
  * only exchange is the per-query top-k, which WindowGroupLimit partially
  * solves below the shuffle.
  */
object Pq {
  /** 64-dim embeddings → 8 sub-vectors of 8 dims, 64 centroids each:
    * 6-bit codes (a byte each on disk), stored as ints for engine
    * portability. 64 was chosen by a sweep at pin time: with the
    * two-stage rerank at shortlist 100, recall@5 = 0.98 (sf0.01) / 0.80
    * (sf0.1, books trained at sf0.01) vs 0.88/0.56 for 16-centroid books;
    * 128+ centroids overfit the 500-vector training corpus (sf0.01 recall
    * rises, cross-SF recall falls). */
  val subspaces = 8
  val subDim = 8
  val centroids = 64

  /** The committed two-stage configuration (same sweep): ADC
    * shortlist size the exact re-rank touches per query. */
  val rerankShortlist = 100

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** One seed-pinned k-means fit per subspace, with the IVF quantizer's
    * seed and iterations (sub-vector fits converge the same way the
    * full-vector fit does); run it on `graft.ml.canonicalLayout(emb,
    * "vec_id")` to reproduce the pins. */
  def trainBooks(emb: DataFrame): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.functions.array_to_vector
    (0 until subspaces).map { s =>
      val sub = emb.select(array_to_vector(
        transform(slice(col("embedding"), s * subDim + 1, subDim),
          x => x.cast("double"))).as("features"))
      val m = new org.apache.spark.ml.clustering.KMeans()
        .setK(centroids).setSeed(Similarity.quantizerSeed)
        .setMaxIter(Similarity.quantizerMaxIter).fit(sub)
      m.clusterCenters.toSeq.map(_.toArray.toSeq)
    }
  }

  /** Encode to ONE codes array column: (id, codes array<int>) — the
    * native [[graft.expressions.PqEncodeCodes]] kernel (512 fused
    * sub-distance loops in whole-stage codegen; the per-centroid
    * `aggregate(zip_with(...))` composition is interpreted and made plan
    * analysis itself the bottleneck). Row-local, zero shuffle. */
  def encodeArr(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol),
      graft.expressions.PqExpressions.encode(asDouble(col(vecCol)), books).as("codes"))

  /** Encode a corpus: (id, c1..c8). Row-local, zero shuffle — at 100 TB
    * this pass writes the 32×-smaller codes table that all serving reads. */
  def encode(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    encodeArr(corpus, books, idCol, vecCol).select(
      col(idCol) +:
        (0 until subspaces).map(s =>
          element_at(col("codes"), s + 1).as(s"c${s + 1}")): _*)

  /** ADC top-k: scan the CODES table once against a broadcast query
    * batch, rank by (adc asc, neighbor id). The raw corpus vectors are
    * never touched — that is the point. The ADC value is the native
    * [[graft.expressions.PqAdcDist]] kernel: per pair it recomputes the
    * coded sub-centroid distances inside codegen — bit-identical to a
    * per-query lookup table (the entries would hold the very same
    * folds), which becomes worth materializing only at ~10⁶ candidates
    * per query. */
  def adcTopK(corpus: DataFrame, queries: DataFrame,
              books: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    val codes = encodeArr(corpus, books)
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    codes.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        graft.expressions.PqExpressions.adcDist(col("qv"), col("codes"), books))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "adc", "rn")
  }

  /** Exact brute-force L2 top-k — PQ's yardstick (ADC approximates
    * squared Euclidean distance, so recall is measured against the L2
    * truth, not the cosine truth the IVF family uses). Same fold-order
    * arithmetic as the re-rank stage. */
  def bruteL2TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("dd"), col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("dd", aggregate(zip_with(col("qv"), col("v"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "dd", "rn")
  }

  /** Materialize the IVF-PQ index (Jégou et al. §VI, "IVFADC" — the
    * architecture FAISS made standard): every vector is assigned its
    * nearest coarse cell ([[Similarity]]'s pinned IVF quantizer) and
    * stored as PQ CODES ONLY, partitioned by cell. The index holds no raw
    * vectors — 8 ints + an id per row — so the serving working set is
    * ~32× smaller than the corpus, AND probes scan only cells/nProbe of
    * it: the two orthogonal reductions composed. Append = assign + encode
    * the new batch into its cell files, same as [[Similarity.appendToIvfIndex]]. */
  def writeIvfPqIndex(corpus: DataFrame, indexDir: String,
                      centers: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
                      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val v = asDouble(col(vecCol))
    val dists = array(centers.map(c => Similarity.distToFold(v, c)): _*)
    corpus.select(
        col(idCol),
        graft.expressions.PqExpressions.encode(v, books).as("codes"),
        array_position(dists, array_min(dists)).cast("int").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)
  }

  /** Roll the IVF-PQ index forward after an embedding batch is accepted —
    * [[Similarity.appendToIvfIndex]]'s law applied to the codes index:
    * ONLY the new batch is assigned and encoded (against the SAME pinned
    * quantizers the index was built with — both are index metadata and
    * must not drift), and its cell files are appended; existing files are
    * never rewritten. Cell and code assignment are per-vector
    * deterministic, so append ≡ full rebuild for every probe (the q172
    * gate row reuses q171's oracle verbatim). */
  def appendToIvfPqIndex(newVectors: DataFrame, indexDir: String,
                         centers: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
                         idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val v = asDouble(col(vecCol))
    val dists = array(centers.map(c => Similarity.distToFold(v, c)): _*)
    newVectors.select(
        col(idCol),
        graft.expressions.PqExpressions.encode(v, books).as("codes"),
        array_position(dists, array_min(dists)).cast("int").as("cell"))
      .write.mode("append").partitionBy("cell").parquet(indexDir)
  }

  /** Serve top-k from an IVF-PQ index: probe the nProbe nearest cells
    * (cell ids push down as PartitionFilters on the codes read), rank the
    * probed candidates by the codegen ADC kernel, keep a per-query
    * `shortlist`, then re-rank ONLY those rows exactly against the raw
    * corpus (the source-of-truth table — the index never stores vectors).
    * Every stage is the established exact arithmetic, so the full
    * approximate pipeline is oracle-reproducible (q171). */
  def ivfPqTopK(indexDir: String, corpus: DataFrame, queries: DataFrame,
                centers: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
                k: Int, nProbe: Int, shortlist: Int)
               (implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val q = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("probe_cells",
        Similarity.probeCellsExpr(col("qv"), centers, nProbe))
    // union of probed cells: bounded driver metadata (≤ queries × nProbe
    // ints), the same discipline as ivfTopKIndexedFiltered
    val probed = q.select(explode(col("probe_cells")).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val cand = spark.read.parquet(indexDir)
      .filter(col("cell").isin(probed: _*))
      .withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qv"),
          explode(col("probe_cells")).as("cell"))),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        graft.expressions.PqExpressions.adcDist(col("qv"), col("codes"), books))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    val sl = cand.withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= shortlist)
      .select("query_id", "neighbor_id")
    val vecs = corpus.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("v"))
    val qv = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val wEx = Window.partitionBy("query_id").orderBy(col("dd"), col("neighbor_id"))
    sl.join(vecs, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("dd", aggregate(zip_with(col("qv"), col("v"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "dd", "rn")
  }

  /** The two-stage serving path (Jégou et al. §V): the compressed-domain
    * ADC scan picks a `shortlist`-sized candidate set per query, and only
    * those rows' RAW vectors are fetched for an exact L2 re-rank. The
    * expensive full corpus pass reads 8-byte codes; full-precision
    * arithmetic touches shortlist×queries rows — the standard shape that
    * recovers exact-search quality from lossy codes (measured at pin
    * time by `graft.ml.PinMain pq`, gated by q170). Exact distances use the same
    * fold-order sum as the ADC sub-distances, so DuckDB reproduces both
    * stages bit-for-bit. */
  def adcRerankTopK(corpus: DataFrame, queries: DataFrame,
                    books: Seq[Seq[Seq[Double]]], k: Int,
                    shortlist: Int): DataFrame = {
    val cand = adcTopK(corpus, queries, books, shortlist)
      .select("query_id", "neighbor_id")
    val vecs = corpus.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("v"))
    val qv = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("dd"), col("neighbor_id"))
    cand.join(vecs, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("dd", aggregate(zip_with(col("qv"), col("v"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "dd", "rn")
  }
}
