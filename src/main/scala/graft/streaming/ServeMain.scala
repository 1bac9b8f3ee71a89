package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, when}
import org.apache.spark.sql.streaming.Trigger

/** Serving demo — the reference's start_pipeline.sh + simulator analog
  * (SURVEY.md §7 step 4): load a model, run the streaming pipeline over a
  * file source, replay purchase lines into it and write each micro-batch's
  * (topic, value) rows once, partitioned by topic: one `topic=<name>`
  * directory per reference Kafka topic.
  *
  * With `modelDir` it scores against the artifacts of graft.ml.TrainingMain
  * (`model/` and `threshold`); without, against the reference's pinned
  * KMeans model ([[graft.ml.PinnedKmeansModel]]). It stops the query
  * between two triggers once every topic holds the rows that a batch replay
  * of the same lines routes to it (or after 120 s, saying so).
  *
  * Usage: runMain graft.streaming.ServeMain <workDir> [modelDir]
  */
object ServeMain {
  private val Topics = Seq("facturas_erroneas", "cancelaciones",
    "anomalias_kmeans", "anomalias_bisect_kmeans")

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-serve")
    val modelDir = args.lift(1)

    implicit val spark: SparkSession = graft.Sessions.local(rocksDb = true)

    // S4 + S3: load the centers and threshold once on the driver; they
    // ship to executors as plan literals (the broadcast-variable analog)
    val (centers, threshold) = modelDir match {
      case Some(dir) =>
        val model = org.apache.spark.ml.clustering.KMeansModel.load(s"$dir/model")
        (model.clusterCenters.toSeq.map(_.toArray.toSeq),
          graft.ml.Anomaly.loadThreshold(s"$dir/threshold"))
      case None =>
        (graft.ml.PinnedKmeansModel.centers, graft.ml.PinnedKmeansModel.threshold)
    }
    println(s"SERVE loaded k=${centers.size} centers, threshold=$threshold")

    val models = InvoicePipeline.Models(centers, threshold, centers, threshold * 2)

    val inDir = s"$workDir/in"
    val outDir = s"$workDir/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    // rows written per topic, observed in the write's own job
    val written = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val sink: (DataFrame, Long) => Unit = (batch, _) => {
      val seen = Observation()
      val counts = Topics.map(t => count(when(col("topic") === t, 1)).as(t))
      batch.observe(seen, counts.head, counts.tail: _*)
        .write.mode("append").partitionBy("topic").parquet(outDir)
      seen.get.foreach { case (t, n: Long) => written.merge(t, n, (x, y) => x + y) }
    }

    val query = InvoicePipeline.runUnified(
      spark.readStream.textFile(inDir), models, sink, s"$workDir/ckpt",
      sessionTimeout = "2 seconds",
      trigger = Trigger.ProcessingTime("500 milliseconds"))

    // replay a burst shaped like the reference's invoices (unit prices of a
    // few units, a hundred-odd items: near the pinned centers) with every
    // 17th priced far away, then a parse error, a cancellation and a
    // missing-customer invoice
    val rnd = new scala.util.Random(7)
    val lines = (1 to 200).map { i =>
      val inv = 800000 + i
      val price = if (i % 17 == 0) 90000.0 + rnd.nextInt(10000) else 0.5 + rnd.nextInt(1500) / 100.0
      s"$inv,S1,ITEM,${100 + i % 120},7/19/2011 ${8 + i % 10}:10,$price,cust$i,Spain"
    } ++ Seq(
      "560900,S1,BAD,notanint,7/19/2011 12:19,1.0,cust9,Spain",
      "C560901,S1,RET,-3,7/19/2011 12:19,5.0,cust10,Spain",
      "560902,S1,NOCUST,2,7/19/2011 12:19,5.0,,Spain")
    Simulator.replayToDir(lines.iterator, inDir, linesPerFile = 50)

    // the batch twin routes the same lines: the row count each topic must
    // reach once every replayed invoice has expired
    val expected = {
      import spark.implicits._
      InvoicePipeline.routeBatchUnified(models)(
          Sessionizer.sessionizeBatch(lines.toDS().flatMap(PurchaseCsv.route _)))
        .groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def complete = expected.forall { case (t, n) => written.getOrDefault(t, 0L) >= n }
    val deadline = System.currentTimeMillis() + 120000L
    while (!complete && query.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    if (!complete) println(s"SERVE incomplete: wrote $written of $expected")
    // stop between triggers, so no batch is cut off mid-way
    while (query.isActive && query.status.isTriggerActive) Thread.sleep(5)
    query.stop()
    val rows = try spark.read.parquet(outDir).groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      catch { case _: Exception => Map.empty[String, Long] }
    Topics.foreach(t => println(s"SERVE SINK topic=$t: ${rows.getOrElse(t, 0L)} rows"))
    spark.stop()
  }
}
