package graft.ml

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA dimensionality reduction for the embedding column — the missing
  * member of the embedding-pipeline family (dedup, ANN, quantization all
  * exist; projection to a low-rank space for cheaper downstream ANN /
  * clustering did not). Same discipline as the q51/q130 model rows:
  *
  *  - q133 (live): seed-free deterministic MLlib PCA fit on the canonical
  *    layout (covariance eigendecomposition — no RNG; determinism pinned
  *    by the GateHygieneSpec refit link) — rows-only, DuckDB cannot run
  *    the eigensolver;
  *  - q132 (pinned): projection against the COMMITTED component matrix,
  *    fully DuckDB-oracle-exact.
  *
  * Exactness: MLlib's own `PCAModel.transform` projects with a BLAS gemv
  * whose summation order is implementation-defined, so BOTH rows project
  * via [[graft.operators.Similarity.dot]] — the codegen left-fold dot
  * product whose DuckDB twin (`list_reduce` over `list_transform`) folds
  * in the identical ascending order, bit-exact. The fit supplies only the
  * component CONSTANTS; the projection is the engine's own exact operator.
  * (MLlib PCA does not mean-center at transform time — projection is the
  * raw v·C — and the oracle mirrors that.)
  *
  * Scale shape: projection is a row-local map over the corpus scan (zero
  * shuffles, k dot products per row); the fit aggregates a d×d covariance
  * (64×64 doubles) via treeAggregate — driver state is O(d²), independent
  * of corpus size, the same 100 TB-safe shape as the LR fit.
  */
object EmbedPca {

  val k = 8

  /** Double-cast embedding column (float→double is exact). */
  private def vecD: Column =
    transform(col("embedding"), x => x.cast("double"))

  /** Covariance-eigendecomposition fit; returns the k components as rows
    * of length d (component j = result(j)). */
  def fit(emb: DataFrame, kDims: Int = k): Seq[Seq[Double]] = {
    val m = new PCA().setInputCol("fvec").setOutputCol("pca").setK(kDims)
      .fit(emb.select(array_to_vector(vecD).as("fvec")))
    val pc = m.pc // d x k, column-major; column j is component j
    (0 until kDims).map(j => (0 until pc.numRows).map(i => pc(i, j)).toSeq)
  }

  /** Committed q132 constants (fit at sf0.01, canonical layout) —
    * regenerate with `runMain graft.ml.PinMain pca`; GateHygieneSpec
    * refits and asserts exact equality. */
  val pinnedComponents: Seq[Seq[Double]] = PinnedPcaComponents.values

  /** Project onto the given components with the exact left-fold dot
    * product — one output column per component. */
  def project(emb: DataFrame, components: Seq[Seq[Double]]): DataFrame = {
    val cols = components.zipWithIndex.map { case (c, j) =>
      graft.operators.Similarity.dot(vecD,
        array(c.map(lit(_).cast("double")): _*)).as(s"p${j + 1}")
    }
    emb.select(col("vec_id") +: cols: _*)
  }

  def projectPinned(emb: DataFrame): DataFrame = project(emb, pinnedComponents)
}
