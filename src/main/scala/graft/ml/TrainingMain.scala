package graft.ml

/** Offline training entry point — the reference's
  * KMeansClusterInvoices.main / BisectingKMeansClusterInvoices.main +
  * start_training.sh analog (SURVEY.md §3.1), Spark-4 style:
  * featurize → sweep k → elbow → final fit → save model + threshold.
  *
  * Usage: runMain graft.ml.TrainingMain <sfDir> <outDir> [kmeans|bisecting]
  *        [kMin] [kMax] [topK]
  */
object TrainingMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val algo = if (args.length > 2) args(2) else "kmeans"
    // default sweep range matches the reference's full k=1..20
    // (KMeansClusterInvoices.scala:57-65)
    val kMin = if (args.length > 3) args(3).toInt else 1
    val kMax = if (args.length > 4) args(4).toInt else 20
    val topK = if (args.length > 5) args(5).toInt else 2000
    val bisecting = algo == "bisecting"

    val spark = graft.Sessions.local(Some(sfDir))

    // featurize + validity filter (A1 + P3), cached across the sweep (M6)
    val feats = graft.queries.Relational.validFeatures(spark, sfDir).cache()

    // M1/M2 sweep + M3 elbow on the collected costs
    val results = Anomaly.sweep(feats, kMin to kMax, seed = 42L, maxIter = 10, bisecting)
    val costs = results.map(_._2)
    val sel = Anomaly.elbowSelection(costs)
    val (k, cost, _) = results(sel)
    results.foreach { case (kk, c, _) => println(f"SWEEP k=$kk cost=$c%.4f") }
    println(s"SELECTED k=$k (elbow over ${costs.size} fits)")

    // final fit persisted as a real ml model (K3); the threshold below is
    // derived from THIS model's centers so the two saved artifacts can
    // never drift apart, whatever the fit parameters
    val centers: Seq[Seq[Double]] =
      if (bisecting) {
        val m = Anomaly.trainBisecting(feats, k, seed = 42L, maxIter = 10)
        m.write.overwrite().save(s"$outDir/model")
        m.clusterCenters.toSeq.map(_.toArray.toSeq)
      } else {
        val m = Anomaly.trainKMeans(feats, k, seed = 42L, maxIter = 10)
        m.write.overwrite().save(s"$outDir/model")
        m.clusterCenters.toSeq.map(_.toArray.toSeq)
      }

    // M5/T1 threshold from the topK-th training distance (K4)
    val scored = feats.withColumn("score", Anomaly.minSqdist(centers))
    val thresh = Anomaly.threshold(scored, "score", topK)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Anomaly.saveThreshold(s"$outDir/threshold", thresh)
    println(f"THRESHOLD $thresh%.6f (top-$topK) cost=$cost%.4f saved to $outDir")

    feats.unpersist()
    spark.stop()
  }
}
