package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Pq, Similarity}

/** Regenerates the pinned fits that the oracle-gated queries score against.
  * Each fit runs on a session-independent [[canonicalLayout]] (or is
  * deterministic), so a refit reproduces the pin bit for bit; the refit
  * specs (GateHygieneSpec, PqSpec, BpeSpec, ExtensionsSpec) fail by name
  * when one drifts. Double.toString round-trips exactly, so the printed
  * decimal text parses back to the identical bits in Spark and DuckDB.
  *
  *  - `centers`: q51's KMeans and q54's bisecting centers, pasted into
  *    `MlQueries.pinnedCenters` / `pinnedBisectingCenters`;
  *  - `lr`: q130's coefficients, pasted into `QualityLr.pinned*`;
  *  - `pca`, `ivf`, `dup`, `pq`, `bpe`: the whole source of
  *    `PinnedPcaComponents`, `PinnedIvfCenters`, `PinnedDupCenters`,
  *    `PinnedPqCodebooks` and `PinnedBpeMerges`, followed by the recall
  *    (or merge) lines measured at pin time;
  *  - `jpeg`: the `JpegDecodePins.pins` body, decoded by the live JDK codec.
  *
  * Usage: runMain graft.ml.PinMain <centers|lr|pca|ivf|dup|pq|bpe|jpeg> [sfDir]
  * (every pin is fit on the BPE training corpus, sf0.01, by default)
  */
object PinMain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse(Bpe.trainDir)
    val spark = graft.Sessions.local(Some(sfDir))
    def emb = canonicalLayout(graft.Tables.embeddings(spark, sfDir), "vec_id").cache()
    try args.headOption.getOrElse("") match {
      case "centers" =>
        val feats = canonicalLayout(
          graft.queries.Relational.validFeatures(spark, sfDir), "invoice_no").cache()
        def show(name: String, centers: Seq[Seq[Double]]): Unit =
          println(centers.map("  " + vec(_)).mkString(s"$name = Seq(\n", ",\n", ")"))
        show("pinnedCenters", Anomaly.trainKMeans(feats, k = 4, seed = 42L, maxIter = 10)
          .clusterCenters.toSeq.map(_.toArray.toSeq))
        show("pinnedBisectingCenters", Anomaly.trainBisecting(feats, k = 3, seed = 42L, maxIter = 5)
          .clusterCenters.toSeq.map(_.toArray.toSeq))
      case "lr" =>
        val (w, b) = QualityLr.train(canonicalLayout(
          QualityLr.features(graft.Tables.documents(spark, sfDir)), "doc_id").cache())
        println("pinnedWeights = " + vec(w))
        println("pinnedIntercept = " + b)
      case "pca" =>
        print(pcaSource(EmbedPca.fit(emb)))
      case mode @ ("ivf" | "dup") =>
        val centers =
          if (mode == "dup") Similarity.trainCenters(emb, Similarity.dupCells)
          else Similarity.trainCenters(emb)
        print(if (mode == "dup") dupSource(centers) else ivfSource(centers))
        val fixed = Similarity.fixedCenters(cells = 16, dim = 64)
        println(f"RECALL@5 nProbe=4 sf=$sfDir fixed=${ivfRecall(spark, sfDir, fixed)}%.3f " +
          f"trained=${ivfRecall(spark, sfDir, centers)}%.3f")
      case "pq" =>
        val books = Pq.trainBooks(emb)
        print(pqSource(books))
        println(f"ADC RECALL@5 sf=$sfDir r=${pqRecall(spark, sfDir, books)}%.3f")
      case "bpe" =>
        val (merges, seg) = Bpe.learn(spark, graft.Tables.documents(spark, sfDir), "text",
          Bpe.numMerges)
        print(bpeSource(merges.map(m => (m.a, m.b))))
        merges.foreach(m => println(s"MERGE rank=${m.rank} a=${m.a} b=${m.b} cnt=${m.pairCount}"))
        seg.unpersist()
      case "jpeg" =>
        val rows = graft.queries.Extensions.jpegDecode(spark, "")
          .orderBy("doc_id", "dim").collect()
        println("    " + rows.grouped(2).map(_.map { r =>
          s"(${r.getLong(0)}L, \"${r.getString(1)}\", ${r.getInt(2)}, " +
            s"${r.getInt(3)}, ${r.getInt(4)}, ${r.getInt(5)}, ${r.getLong(6)}L)"
        }.mkString(", ")).mkString(",\n    "))
      case other =>
        sys.error(s"unknown pin '$other': expected centers|lr|pca|ivf|dup|pq|bpe|jpeg")
    } finally spark.stop()
  }

  def ivfSource(centers: Seq[Seq[Double]]): String = source("PinnedIvfCenters", "ivf",
    Seq("The IVF coarse quantizer's committed centers (seed-pinned k-means fit",
      "at sf0.01, canonical layout). GateHygieneSpec refits and asserts exact",
      "equality."),
    "Seq[Seq[Double]]", centers.map(vec))

  def dupSource(centers: Seq[Seq[Double]]): String = source("PinnedDupCenters", "dup",
    Seq("The q30 dup-blocking quantizer's committed centers (32 cells,",
      "seed-pinned k-means fit at sf0.01, canonical layout). GateHygieneSpec",
      "refits and asserts exact equality."),
    "Seq[Seq[Double]]", centers.map(vec))

  def pcaSource(components: Seq[Seq[Double]]): String = source("PinnedPcaComponents", "pca",
    Seq("q132's committed PCA components (fit at sf0.01, canonical layout).",
      "GateHygieneSpec refits and asserts exact equality."),
    "Seq[Seq[Double]]", components.map(vec))

  def pqSource(books: Seq[Seq[Seq[Double]]]): String = source("PinnedPqCodebooks", "pq",
    Seq("The PQ codebooks' committed centroids (seed-pinned per-subspace",
      "k-means fits at sf0.01, canonical layout); values(s)(j) = subspace s's",
      "centroid j (8 doubles). PqSpec refits and asserts exact equality."),
    "Seq[Seq[Seq[Double]]]",
    books.map(_.map(c => s"      ${vec(c)},\n").mkString("Seq(\n", "", "    )")))

  def bpeSource(merges: Seq[(String, String)]): String = source("PinnedBpeMerges", "bpe",
    Seq("The q167 encoder's committed BPE merge table (deterministic",
      "24-merge fit on sf0.01 documents): (a, b) in rank order, the rank-r",
      "merge rewrites adjacent (a, b) to a+b. BpeSpec retrains and asserts",
      "exact equality."),
    "Seq[(String, String)]", merges.map { case (a, b) => s"""("$a", "$b")""" })

  private def vec(v: Seq[Double]): String = v.map(_.toString).mkString("Seq(", ", ", ")")

  /** The one writer: a generated `graft.ml` object whose `values` is a
    * `Seq` of the given element literals. */
  private def source(obj: String, mode: String, doc: Seq[String], tpe: String,
                     elems: Seq[String]): String =
    s"""package graft.ml
       |
       |/** ${doc.mkString("\n  * ")}
       |  * GENERATED by `runMain graft.ml.PinMain $mode`; do not hand-edit. */
       |private[graft] object $obj {
       |  val values: $tpe = Seq(
       |${elems.map(e => s"    $e,\n").mkString}  )
       |}
       |""".stripMargin

  /** Mean recall@5 of an IVF probe over `centers` at nProbe = 4 (the q112
    * configuration) for the first 10 vectors, against brute-force cosine. */
  private def ivfRecall(s: SparkSession, d: String, centers: Seq[Seq[Double]]): Double = {
    val emb = graft.Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    def asDouble(c: Column) = transform(c, x => x.cast("double"))
    // in-memory probe (no index write needed for the measurement): assign
    // cells with the same fold arithmetic the indexed path uses
    val assigned = emb
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("c_vec"))
      .withColumn("dists", array(centers.map(c => Similarity.distToFold(col("c_vec"), c)): _*))
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))).cast("int"))
      .drop("dists")
    val q = queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_vec"))
      .withColumn("cell", explode(Similarity.probeCellsExpr(col("q_vec"), centers, 4)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val ivf = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Similarity.cosine(col("q_vec"), col("c_vec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("query_id", "neighbor_id")
    recall(brute, ivf)
  }

  /** Recall@5 of PQ's ADC scan for the first 10 vectors, against
    * brute-force L2. */
  private def pqRecall(s: SparkSession, d: String, books: Seq[Seq[Seq[Double]]]): Double = {
    val emb = graft.Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    recall(Pq.bruteL2TopK(emb, queries, k = 5).select("query_id", "neighbor_id"),
      Pq.adcTopK(emb, queries, books, k = 5).select("query_id", "neighbor_id"))
  }

  private def recall(exact: DataFrame, approx: DataFrame): Double =
    exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
      exact.count()
}
