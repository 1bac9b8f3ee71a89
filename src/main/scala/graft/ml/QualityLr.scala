package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Model-based document quality filtering — the "distill an expensive judge
  * into a cheap linear classifier, score the corpus in-plan" pattern every
  * large-scale training-data pipeline runs (the q65 rule cascade plays the
  * judge here; in production it would be an LLM or human label set).
  *
  * Two registry rows:
  *  - q131 (live): seed-pinned LogisticRegression fit on the canonical
  *    layout + in-plan scoring — rows-only, like the q17/q19 fits DuckDB
  *    cannot reproduce;
  *  - q130 (pinned): scoring against the committed coefficients below —
  *    the fit held fixed, everything downstream (feature extraction, the
  *    left-assoc linear form, the decision threshold) DuckDB-oracle-exact,
  *    the q51 pattern. GateHygieneSpec re-derives the constants from a
  *    fresh fit so they cannot drift silently.
  *
  * All four features are cross-engine-exact double arithmetic (counts and
  * ratios — no log/exp transcendentals whose libm rounding could differ),
  * and the score is the raw LINEAR margin z, not the sigmoid: sign(z) is
  * the same decision and z is pure multiply-add, bit-identical in DuckDB
  * when written in the same association order.
  *
  * Scale shape: scoring is a row-local projection over the corpus scan —
  * no shuffle, no UDF, whole-stage codegen; the fit runs on extracted
  * features (5 doubles per doc, not text), so at 100 TB the training table
  * is ~40 GB and the fit's treeAggregate is the only non-local stage.
  */
object QualityLr {

  /** Mirrors q65's routing thresholds ([[graft.queries.Curation]]) — the
    * teacher signal the classifier distills. */
  private def keepLabel(nToks: Column, stopRatio: Column, punctRatio: Column,
                        digitRatio: Column): Column = {
    val quality = stopRatio - punctRatio - digitRatio
    when(nToks < graft.queries.Curation.minTokens, 0.0)
      .when(nToks > graft.queries.Curation.maxTokens, 0.0)
      .when(quality < graft.queries.Curation.minQuality, 0.0)
      .otherwise(1.0)
  }

  private def nullif0(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)

  val featureCols: Seq[String] = Seq("n_toks", "stop_ratio", "punct_ratio", "digit_ratio")

  /** Per-document feature row: doc_id, the four features, the teacher
    * label. Tokenizer evaluated per feature column exactly as in q65 —
    * row-local, codegen'd, no UDFs.
    *
    * Cross-engine caveat (pinned here once for the whole q130/q131/q132
    * family): `TextFunctions.tokens` splits on Java `\s+` while its DuckDB
    * twin uses RE2 `\s+`; Java's class includes vertical tab (U+000B), RE2's
    * does not (see `TextFunctions.subtokenPattern`). Oracle parity of the
    * n_toks/stop_ratio features — and therefore of the pinned LR
    * coefficients — holds for corpora without VT characters (true of the
    * synthetic testdata); real text containing VT would diverge by design. */
  def features(docs: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("double").as("n_toks"),
      coalesce(
        TextFunctions.wordHits(toks, TextFunctions.stopwords("en")).cast("double") /
          nullif0(size(toks).cast("double")), lit(0.0)).as("stop_ratio"),
      coalesce(TextFunctions.charClassRatio(col("text"), "[.,!?;:]"), lit(0.0))
        .as("punct_ratio"),
      coalesce(TextFunctions.charClassRatio(col("text"), "[0-9]"), lit(0.0))
        .as("digit_ratio"))
      .withColumn("label", keepLabel(col("n_toks"), col("stop_ratio"),
        col("punct_ratio"), col("digit_ratio")))
  }

  /** Seed-pinned logistic fit on the canonical layout. L-BFGS over
    * treeAggregate is deterministic given identical partition contents and
    * order — which [[canonicalLayout]] on doc_id pins. */
  def train(feats: DataFrame, maxIter: Int = 50, regParam: Double = 0.0)
      : (Seq[Double], Double) = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("fvec")
      .transform(feats)
    val m = new LogisticRegression()
      .setFeaturesCol("fvec").setLabelCol("label")
      .setMaxIter(maxIter).setRegParam(regParam).setStandardization(true)
      .fit(assembled)
    (m.coefficients.toArray.toSeq, m.intercept)
  }

  /** Committed q130 constants (fit at sf0.01, canonical layout) —
    * regenerate with `runMain graft.ml.PinMain lr` after any change to the
    * feature pipeline or teacher thresholds; GateHygieneSpec fails first
    * if they drift. The punct/digit coefficients are exactly 0.0 because
    * the synthetic corpus contains no punctuation or digits (both features
    * are constant 0 under standardization) — the features stay in the
    * model because real corpora exercise them. */
  val pinnedWeights: Seq[Double] =
    Seq(-0.015424723847155444, 37.336168866647206, 0.0, 0.0)
  val pinnedIntercept: Double = 0.28388061695661304

  /** Left-assoc linear margin — the exact association order the SQL twin
    * spells: ((((b + w1*f1) + w2*f2) + w3*f3) + w4*f4). */
  def margin(weights: Seq[Double], intercept: Double): Column =
    featureCols.zip(weights).foldLeft(lit(intercept)) {
      case (acc, (f, w)) => acc + lit(w) * col(f)
    }

  /** q130: score the corpus against the pinned coefficients. */
  def scorePinned(docs: DataFrame): DataFrame =
    features(docs)
      .withColumn("z", margin(pinnedWeights, pinnedIntercept))
      .select(col("doc_id"), col("z"),
        when(col("z") > 0.0, 1L).otherwise(0L).as("pred"))

  /** q131: live fit (memoized per sfDir by the caller) + in-plan scoring. */
  def fitAndScore(docs: DataFrame, fit: (Seq[Double], Double)): DataFrame =
    features(docs)
      .withColumn("z", margin(fit._1, fit._2))
      .select(col("doc_id"), col("z"),
        when(col("z") > 0.0, 1L).otherwise(0L).as("pred"))
}
