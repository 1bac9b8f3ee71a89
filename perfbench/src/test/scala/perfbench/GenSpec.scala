package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives identical lines, another seed other lines") {
    assert(Gen.contiguous(7, 5000).lines.toSeq == Gen.contiguous(7, 5000).lines.toSeq)
    assert(Gen.interleaved(7, 400).lines.toSeq == Gen.interleaved(7, 400).lines.toSeq)
    assert(Gen.contiguous(7, 5000).lines.toSeq != Gen.contiguous(8, 5000).lines.toSeq)
  }

  test("the kind mix is exact per block of 100 invoices") {
    val invs = Gen.invoices(3, 1000)
    Gen.Kinds.foreach(k => assert(invs.count(_.kind == k) == k.perHundred * 10, k))
  }

  test("ground-truth topic counts follow from the mix") {
    val feed = Gen.interleaved(5, 1000)
    val c = feed.topicCounts
    assert(c(Gen.KMeans) == (85 + 6) * 10)
    assert(c(Gen.Bisecting) == 6 * 10)
    assert(c(Gen.Cancellations) == 5 * 10)
    assert(c(Gen.Erroneous) == (2 + 1 + 1) * 10)
    assert(feed.expected.values.sum == c.values.sum)
    assert(feed.droppedLines == feed.lines.count(_.endsWith(",broken")))
    assert(feed.droppedLines > 0)
  }

  test("paced layout: whole invoices, contiguous, last line is a purchase line") {
    val feed = Gen.contiguous(11, 3000)
    assert(feed.lines.length <= 3000)
    feed.invoices.foreach { inv =>
      val idx = feed.lastLine(inv.no)
      assert(feed.lines(idx).startsWith(inv.no + ","))
      assert(!feed.lines(idx).endsWith(",broken"))
    }
    val order = feed.lines.map(_.takeWhile(_ != ',')).distinct
    assert(order.length == feed.invoices.size) // no invoice reappears
  }

  test("burst layout: consecutive lines of an invoice are at most one round apart") {
    val feed = Gen.interleaved(13, 500)
    val round = feed.invoices.size + feed.droppedLines
    feed.lines.zipWithIndex.filterNot(_._1.endsWith(",broken"))
      .groupBy(_._1.takeWhile(_ != ',')).values.foreach { ls =>
        ls.map(_._2).sorted.sliding(2).foreach {
          case Array(a, b) => assert(b - a <= round)
          case _           => ()
        }
      }
  }
}
