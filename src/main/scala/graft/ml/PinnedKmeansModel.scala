package graft.ml

/** The reference's committed KMeans model (k = 5), pinned so scoring runs
  * from the repo alone. Centers are in cluster-id order, recovered at full
  * precision from the plan literals of a scoring run against the loaded
  * artifacts (plans/r16/q44_reference_scoring_kmeans_after.txt, line 77);
  * the threshold is the committed `threshold` file's value (BASELINE.md).
  * ReferenceParitySpec asserts pinned == loaded wherever the reference
  * checkout exists. */
private[graft] object PinnedKmeansModel {
  val centers: Seq[Seq[Double]] = Seq(
    Seq(7.148099140175714, 4.638189830508472, 14.557053107344633,
      9.849604519774012, 161.91525423728814),
    Seq(1.04, 1.04, 1.04, 10.0, 74215.0),
    Seq(2.0217353199618784, 0.5335616438356162, 7.683287671232872,
      10.273972602739725, 3707.917808219178),
    Seq(2.2037437858531623, 0.48769230769230776, 10.484615384615386,
      10.538461538461538, 9482.615384615385),
    Seq(2.4310368059335405, 0.5406316639741519, 11.923941841680122,
      9.470113085621971, 964.1017770597739))

  val threshold: Double = 25089.874540632012

  /** DuckDB: parsing the shortest round-trip string is exact, where a
    * decimal literal would round through DECIMAL first. */
  private def dbl(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** One row per center, `c DOUBLE[]` in feature order. */
  val centersSql: String =
    centers.map(c => c.map(dbl).mkString("([", ", ", "])"))
      .mkString("SELECT c FROM (VALUES ", ", ", ") AS v(c)")

  /** One row, `th DOUBLE`. */
  val thresholdSql: String = s"SELECT ${dbl(threshold)} AS th"
}
