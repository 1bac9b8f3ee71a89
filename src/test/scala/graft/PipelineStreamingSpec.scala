package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.PipelineReplay

/** q216 — the whole reference pipeline under a real StreamExecution:
  * readStream → parse/route → event-time flatMapGroupsWithState
  * sessionizer → classification → pinned-center scoring, six micro-batches.
  * These tests pin the two properties the gate's oracle can't see from the
  * outside: (1) the stream output equals a single-batch recomputation of
  * the identical pipeline EXACTLY (cross-batch state carry folds to the
  * batch semantics), and (2) the replay fixture really does split invoices
  * across micro-batch files, so property (1) is proved ACROSS batch
  * boundaries, not vacuously within one. */
class PipelineStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val streamOut = PipelineReplay.pipelineStreamingGate(spark, sf)

  /** Batch twin: same manufacture, same route, whole-history sessionization,
    * same projection + scoring — the in-Spark restatement of the DuckDB
    * oracle. */
  private lazy val batchTwin = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val lines = PipelineReplay.manufacturedLines(spark, sf)
      .select("value").as[String]
    val events = lines.flatMap(graft.streaming.PurchaseCsv.route _)
    val centers = graft.ml.PinnedKmeansModel.centers
    val thresh = graft.ml.PinnedKmeansModel.threshold
    val valid = col("status") === "valid"
    graft.streaming.Sessionizer.sessionizeBatch(events).toDF()
      .select(
        col("invoiceNo").as("invoice_no"), col("status"), col("reason"),
        when(valid, col("avgUnitPrice")).as("avg_unit_price"),
        when(valid, col("minUnitPrice")).as("min_unit_price"),
        when(valid, col("maxUnitPrice")).as("max_unit_price"),
        when(valid, col("time")).as("time_hour"),
        when(valid, col("numberItems")).as("number_items"),
        when(valid, col("lineCount").cast("long")).otherwise(lit(0L))
          .as("line_count"))
      .withColumn("score", when(valid, graft.ml.Anomaly.minSqdist(centers)))
      .withColumn("is_anomaly", when(valid, col("score") > lit(thresh)))
  }

  test("stream output ≡ batch twin, bit-exact, both directions") {
    val so = streamOut.cache()
    val bt = batchTwin.cache()
    try {
      assert(so.count() === bt.count())
      assert(so.count() > 0)
      assert(so.except(bt).count() === 0, "stream rows missing from batch")
      assert(bt.except(so).count() === 0, "batch rows missing from stream")
    } finally { so.unpersist(); bt.unpersist() }
  }

  test("every invoice emits exactly once (no duplicate sessions from early expiry)") {
    val dups = streamOut.groupBy("invoice_no").count().filter(col("count") > 1)
    assert(dups.count() === 0)
  }

  test("the replay fixture splits invoices across micro-batch slices") {
    // gate ran in the first test → fixture exists; read each SLICE (its
    // part files together — batches take whole slices: parts share their
    // slice's mtime and maxFilesPerTrigger scales by SliceParts)
    val dir = PipelineReplay.ensurePipelineReplay(spark, sf)
    def sliceParts(i: Int) = new java.io.File(dir).listFiles()
      .filter(_.getName.matches(f"slice0$i%d_p[0-9]+\\.parquet"))
      .map(_.getAbsolutePath)
    (1 to 4).foreach { i =>
      assert(sliceParts(i).length === PipelineReplay.SliceParts,
        s"slice $i must have exactly SliceParts part files")
    }
    val perSlice = (1 to 4).map { i =>
      spark.read.parquet(sliceParts(i): _*)
        .select(split(col("value"), ",").getItem(0).as("invoice_no"))
        .distinct()
        .withColumn("slice", lit(i - 1))
    }.reduce(_ unionByName _)
    val spanning = perSlice.groupBy("invoice_no").count()
      .filter(col("count") > 1).count()
    assert(spanning > 0,
      "no invoice spans two slices — the cross-batch carry is untested")
    // and specifically across the s2|s3 MICRO-BATCH boundary (batches take
    // two slices per trigger: [s1,s2], [s3,s4] — s1|s2 and s3|s4 joints are
    // intra-batch, so only the s2→s3 spanner proves the cross-batch carry)
    val batchSpanning = perSlice.filter(col("slice").isin(1, 2))
      .groupBy("invoice_no").count().filter(col("count") > 1).count()
    assert(batchSpanning > 0,
      "no invoice spans the slice-2|slice-3 micro-batch boundary")
    // and the sentinel files exist (timeout sweep without no-data batches)
    val sentinels = new java.io.File(dir).listFiles()
      .count(_.getName.matches("slice0[5-6]\\.parquet"))
    assert(sentinels === 2)
  }

  test("scored columns: anomalies exist and are exactly score > threshold") {
    val thresh = graft.ml.PinnedKmeansModel.threshold
    val bad = streamOut.filter(col("status") === "valid" &&
      col("is_anomaly") =!= (col("score") > lit(thresh)))
    assert(bad.count() === 0)
    assert(streamOut.filter(col("status") === "error").count() > 0,
      "poisoned invoices must flow through the stream as errors")
  }

  test("q222 restart recovery ≡ q216 single-run stream, bit-exact") {
    val restart = graft.queries.PipelineReplay
      .pipelineRestartGate(spark, sf).cache()
    val single = streamOut.cache()
    try {
      assert(restart.count() === single.count())
      assert(restart.except(single).count() === 0,
        "restart output has rows the single run lacks")
      assert(single.except(restart).count() === 0,
        "restart output lost rows across the stop/restart")
    } finally { restart.unpersist(); single.unpersist() }
  }
}
