package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry queries run CONCURRENTLY in one SparkSession — how a
  * production cluster runs a mixed workload. A deliberately hostile mix —
  * batch joins, a sliding window, the cached ML fit, a native streaming
  * dedup (state-partition conf), the fMGWS and TWS pipelines (RocksDB
  * provider conf), the late-data gate (progress read-back) — runs in 8
  * parallel threads against the SHARED test session, and every result
  * must be bit-identical to its serial twin. Gates set their conf on the
  * shared session only around `start()` (streaming.Gates), so the runs
  * themselves overlap freely. Any cross-contamination (leaked partition
  * count, leaked state-store provider, temp-view collision, fixture race)
  * diverges a result or throws, and fails the spec by name. */
class ConcurrentGatesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val mix = Seq(
    "q08_revenue_by_nation",      // broadcast join + agg
    "q05_cancel_sliding",         // sliding window
    "q17_kmeans_anomalies",       // live fit behind the keyed cache
    "q71_dedup_keep_best",        // wide shuffle agg
    "q226_streaming_dedup_native",// streaming, state-partition conf
    "q216_pipeline_streaming",    // fMGWS pipeline replay
    "q228_pipeline_tws",          // TWS pipeline, RocksDB provider conf
    "q243_late_data_accounting")  // watermark ledger, progress read-back

  /** Deterministic normalized row multiset: every cell stringified
    * (String.valueOf is exact for the numeric types these gates emit),
    * rows joined on \u0001 — an unambiguous separator no emitted cell
    * contains, so ("ab","c") and ("a","bc") normalize differently — and
    * sorted. */
  private def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001"))
      .toSeq.sorted

  test("8 mixed gates (batch + fMGWS + TWS + conf-overriding streams) " +
    "run CONCURRENTLY in one SparkSession ≡ their serial results") {
    // serial pass first: also warms the replay fixtures under their
    // build locks, so the concurrent pass races the QUERIES, not the
    // one-time fixture writers
    val serial = mix.map(n => n -> norm(SparkEntry.queries(n)(spark, sf))).toMap
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(mix.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futs = mix.map { n =>
        Future(n -> norm(SparkEntry.queries(n)(spark, sf)))
      }
      val concurrent = Await.result(
        Future.sequence(futs), 10.minutes).toMap
      mix.foreach { n =>
        assert(concurrent(n) === serial(n),
          s"gate $n diverged when run concurrently with the mixed workload")
      }
    } finally { pool.shutdown(): Unit }
  }
}
