package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamBenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = Main.session(2, 2, dir, rocksDb = true)

  override def afterAll(): Unit = spark.stop()

  test("latency counts from the due time and subtracts the expiry") {
    val o = StreamBench.Outcome(
      Seq(StreamBench.Emission(Gen.KMeans, "1", 5000), StreamBench.Emission(Gen.Bisecting, "1", 5100),
        StreamBench.Emission(Gen.Erroneous, "2,missing customer ID", 4000)),
      Map("1" -> 1000L, "2" -> 1500L), 900, 0, 0, Nil, "q", complete = true)
    assert(o.latenciesMs.sorted == Seq(500.0, 2000.0))
    assert(o.lastEmitMs == 5100)
  }

  test("burst read latency: a line counts until the batch that read its chunk ended") {
    // chunk 0 (lines 1-60) went in at 1000 and was read by the batch whose
    // sink offered chunk 1 at 3000; chunk 1 (lines 61-100) was read by 4500
    val o = StreamBench.Outcome(Nil, Map.empty, 1000, 0, 0, Seq((1000L, 60L), (3000L, 100L)),
      "q", complete = true, consumedMs = 4500)
    assert(o.readLatencyMs(0.5) == 2000.0)
    assert(o.readLatencyMs(0.6) == 2000.0)
    assert(o.readLatencyMs(0.61) == 3500.0)
    assert(o.readLatencyMs(0.99) == 3500.0)
  }

  test("the batch fold of generated lines equals the generator's ground truth") {
    val feed = Gen.interleaved(17, 600)
    assert(StreamBench.fold(spark, feed.lines, stepped = false).rows == feed.expected)
    assert(StreamBench.fold(spark, feed.lines, stepped = true).rows == feed.expected)
  }

  test("an injected sink stall raises the latency of invoices fed after it") {
    Main.warmUp(spark, 23, s"$dir/warm")
    val feed = Gen.contiguous(19, 500 * 12)
    // invoices due before 3.5 s are emitted before the stall begins at 7 s
    val stall = StreamBench.Stall(afterMs = 7000, ms = 3000)
    val o = StreamBench.run(spark, feed, StreamBench.Paced(500), s"$dir/stall",
      stall = Some(stall))
    assert(o.complete)
    val lat = o.readyMs.toSeq.flatMap { case (inv, due) =>
      o.emissions.filter(e => o.invoiceOf(e) == inv).map(_.atMs).minOption
        .map(at => (due - o.startMs, at - due - StreamBench.ExpiryMs))
    }
    val before = lat.collect { case (d, l) if d >= 500 && d < 3500 => l.toDouble }
    val during = lat.collect { case (d, l) if d >= 7000 && d < 9500 => l.toDouble }
    assert(before.nonEmpty && during.nonEmpty)
    assert(Stats.median(during) > Stats.median(before) + 1000,
      s"before ${Stats.median(before)} ms, during ${Stats.median(during)} ms")
    assert(StreamBench.mismatches(o.multiset, feed.expected) == 0)
  }
}
