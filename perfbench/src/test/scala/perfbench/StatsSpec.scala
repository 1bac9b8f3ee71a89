package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0), 1) == 1.0)
    assert(Stats.percentile(Nil, 50).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("covered length merges overlaps and clips to the parent") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Stats.covered(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    assert(Stats.covered(Nil, 0, 100) == 0)
  }

  test("self time is duration minus what children cover") {
    val spans = Seq(
      Span(1, "batch", 0, 100, 0, "r"),
      Span(2, "batch.addBatch", 10, 60, 1, "r"),
      Span(3, "job", 20, 70, 1, "r"),   // overlaps addBatch: 10..70 covered
      Span(4, "job", 30, 40, 2, "r"),   // child of addBatch
      Span(5, "batch", 200, 250, 0, "s"))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 40)
    assert(self(2) == 40)
    assert(self(3) == 50)
    assert(self(5) == 50)
    val byName = Stats.selfByName(spans)
    assert(byName("batch") == 90)
    assert(byName("job") == 60)
  }

  test("a job attaches to the query span of its request") {
    val t = new Tracer
    t.add("job", 50, 60, 0, "q:1")
    t.add("job", 70, 80, 0, "unknown")
    t.add("query", 0, 100, 0, "q:1")
    val spans = t.allSpans
    val q = spans.find(_.name == "query").get
    assert(spans.find(s => s.name == "job" && s.request == "q:1").get.parent == q.id)
    assert(spans.find(s => s.name == "job" && s.request == "unknown").get.parent == 0)
  }
}
