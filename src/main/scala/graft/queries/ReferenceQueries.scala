package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.ml.{Anomaly, PinnedKmeansModel, ReferenceArtifacts}

/** Reference-artifact scoring parity: score the fixture invoice features
  * against the reference's COMMITTED trained models (centers parquet +
  * threshold scalars) and emit the same anomaly verdicts the original
  * pipeline would (realtime/InvoicePipeline.scala:340-354).
  *
  * The KMeans model is pinned ([[PinnedKmeansModel]], asserted equal to
  * the artifacts in ReferenceParitySpec) and both engines score against
  * the same literals. The bisecting tree is not recorded in the repo: its
  * oracle reads the artifact files via read_parquet / read_csv, and
  * hardcodes only the tree's 5-node topology. Both engines compute the
  * identical squared-distance polynomial in the identical fold order, so
  * scores hash-match bit-for-bit.
  */
object ReferenceQueries {

  private val root = ReferenceArtifacts.DefaultRoot

  /** KMeans parity: predict = global nearest center, score = sqdist to it,
    * verdict = score > committed threshold (KMeansClusterInvoices.scala:72-76). */
  def referenceScoringKmeans(s: SparkSession, d: String): DataFrame =
    Relational.validFeatures(s, d)
      .withColumn("score", Anomaly.minSqdist(PinnedKmeansModel.centers))
      .withColumn("is_anomaly", col("score") > lit(PinnedKmeansModel.threshold))
      .select("invoice_no", "score", "is_anomaly")

  /** The five squared-diff terms in featureCols order — must mirror
    * Anomaly.sqdistTo exactly (same term order, same left-to-right adds). */
  private def sqSql(centerExpr: String): String =
    Anomaly.featureCols.zipWithIndex
      .map { case (f, i) => s"(f.$f - $centerExpr[${i + 1}]) * (f.$f - $centerExpr[${i + 1}])" }
      .mkString(" + ")

  val referenceScoringKmeansSql: String = s"""
    WITH ctr AS (${PinnedKmeansModel.centersSql}),
    f AS (${Relational.validFeaturesSql.replace("\n", " ")}),
    d AS (SELECT f.invoice_no, ${sqSql("c")} AS sq FROM f CROSS JOIN ctr),
    s AS (SELECT invoice_no, min(sq) AS score FROM d GROUP BY invoice_no),
    t AS (${PinnedKmeansModel.thresholdSql})
    SELECT invoice_no, score, score > th AS is_anomaly FROM s CROSS JOIN t"""

  /** Bisecting parity: predict = TREE DESCENT through the committed cluster
    * hierarchy (not global nearest-leaf), score = sqdist to the reached
    * leaf, verdict vs the committed bisecting threshold. */
  def referenceScoringBisecting(s: SparkSession, d: String): DataFrame = {
    val tree = ReferenceArtifacts.bisectingTree(s, root)
    val thresh = ReferenceArtifacts.bisectingThreshold(root)
    Relational.validFeatures(s, d)
      .withColumn("score", ReferenceArtifacts.bisectingDescentSqdist(tree))
      .withColumn("is_anomaly", col("score") > lit(thresh))
      .select("invoice_no", "score", "is_anomaly")
  }

  /** Descent over the committed topology root(-1) → [-2, 2]; -2 → [0, 1]
    * (leaves 0,1,2) — ReferenceParitySpec asserts the artifact still has
    * exactly this shape. Ties take the earlier child, like minBy. */
  val referenceScoringBisectingSql: String = {
    def nodeSq(idx: Int): String =
      s"max(CASE WHEN index = $idx THEN sq END)"
    s"""
    WITH nodes AS (SELECT index, center."values" AS c
                   FROM read_parquet('$root/clustering_bisect/data/*.parquet')),
    f AS (${Relational.validFeaturesSql.replace("\n", " ")}),
    d AS (SELECT f.invoice_no, n.index, ${sqSql("n.c")} AS sq
          FROM f CROSS JOIN nodes n),
    p AS (SELECT invoice_no,
            ${nodeSq(-2)} AS sq_m2, ${nodeSq(2)} AS sq_p2,
            ${nodeSq(0)} AS sq_0, ${nodeSq(1)} AS sq_1
          FROM d GROUP BY invoice_no),
    s AS (SELECT invoice_no,
            CASE WHEN sq_m2 <= sq_p2
                 THEN (CASE WHEN sq_0 <= sq_1 THEN sq_0 ELSE sq_1 END)
                 ELSE sq_p2 END AS score
          FROM p),
    t AS (SELECT th FROM read_csv('$root/threshold_bisect', header=false,
                                  columns={'th': 'DOUBLE'}))
    SELECT invoice_no, score, score > th AS is_anomaly FROM s CROSS JOIN t"""
  }

  val defs: Map[String, QueryDef] = Map(
    "q44_reference_scoring_kmeans" ->
      QueryDef(referenceScoringKmeans _, referenceScoringKmeansSql),
    "q45_reference_scoring_bisecting" ->
      QueryDef(referenceScoringBisecting _, referenceScoringBisectingSql))
}
