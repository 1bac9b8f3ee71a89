package perfbench

import java.util.SplittableRandom

/** Seeded purchase-line generator for the stream workloads.
  *
  * Every invoice gets a kind from a fixed mix (per block of 100 invoices,
  * order shuffled by the seed) and its ground truth: the (topic, value)
  * rows the pipeline must emit for it under the benchmark's pinned models
  * (kmeans threshold −1: every valid non-cancellation invoice reaches
  * `anomalias_kmeans`; bisecting threshold [[BisectThreshold]]: only the
  * invoices built with a 1000+ unit price reach `anomalias_bisect_kmeans`).
  *
  * Lines of one invoice share its date and customer, and unit prices are
  * multiples of 0.5, so the session fold is exact whatever order a
  * micro-batch presents the lines in. */
object Gen {

  val Erroneous = "facturas_erroneas"
  val Cancellations = "cancelaciones"
  val KMeans = "anomalias_kmeans"
  val Bisecting = "anomalias_bisect_kmeans"
  val Topics: Seq[String] = Seq(Erroneous, Cancellations, KMeans, Bisecting)

  val Center: Seq[Double] = Seq(5.0, 1.0, 10.0, 12.0, 20.0)
  val BisectThreshold = 1.0e5

  /** The mix per 100 invoices follows the reference's production-run
    * outputs (BASELINE.md): erroneous : bisecting anomalies = 516 : 756 ≈
    * 4 : 6, most of the erroneous ones for a missing customer, and
    * cancellations ≈ 0.9 × bisecting anomalies (about 52 a minute in the
    * 8-minute window counts over a 13-minute run, against 756 anomalies).
    * The rest are valid. */
  sealed abstract class Kind(val perHundred: Int)
  case object Valid extends Kind(85)
  case object Anomalous extends Kind(6)
  case object Cancellation extends Kind(5)
  case object MissingCustomer extends Kind(2)
  case object BadDate extends Kind(1)
  case object ParseError extends Kind(1)
  val Kinds: Seq[Kind] = Seq(Valid, Anomalous, Cancellation, MissingCustomer, BadDate, ParseError)

  /** One invoice: its lines grouped in slots (a slot is one purchase line,
    * optionally followed by a quirk-Q4 line the parser silently drops) and
    * the rows it must produce. */
  final case class Invoice(no: String, kind: Kind, slots: Vector[Vector[String]],
                           expected: Seq[(String, String)]) {
    def lines: Vector[String] = slots.flatten
  }

  /** A generated input: lines in feed order, the index of every invoice's
    * last line, and the expected (topic, value) multiset. */
  final case class Feed(lines: Array[String], invoices: Vector[Invoice],
                        lastLine: Map[String, Int], droppedLines: Int) {
    def expected: Map[(String, String), Int] =
      invoices.flatMap(_.expected).groupBy(identity).map { case (k, v) => k -> v.size }
    def topicCounts: Map[String, Int] =
      Topics.map(t => t -> invoices.map(_.expected.count(_._1 == t)).sum).toMap
  }

  private val Countries = Vector("United Kingdom", "Spain", "France", "Germany")

  def invoices(seed: Long, n: Int, firstNo: Int = 500000): Vector[Invoice] = {
    val rnd = new SplittableRandom(seed)
    val block = Kinds.flatMap(k => Seq.fill(k.perHundred)(k)).toArray
    val kinds = (0 until n).map { i =>
      if (i % 100 == 0) shuffle(block, rnd)
      block(i % 100)
    }
    kinds.zipWithIndex.map { case (kind, i) => invoice(kind, firstNo + i, rnd) }.toVector
  }

  private def shuffle(a: Array[Kind], rnd: SplittableRandom): Unit =
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }

  private def invoice(kind: Kind, num: Int, rnd: SplittableRandom): Invoice = {
    val no = if (kind == Cancellation) s"C$num" else num.toString
    val n = 6 + rnd.nextInt(9) // 6..14 lines, mean 10
    val hour = 8 + rnd.nextInt(11)
    val date = s"7/19/2011 $hour:${10 + rnd.nextInt(50)}"
    val customer = (12000 + rnd.nextInt(6000)).toString
    val country = Countries(rnd.nextInt(Countries.size))
    val special = rnd.nextInt(n) // the line that carries the kind's defect
    val dropAfter = if (kind == Valid && rnd.nextInt(10) == 0) rnd.nextInt(n) else -1
    val slots = (0 until n).map { j =>
      val qtyAbs = 1 + rnd.nextInt(6)
      val qty = if (kind == Cancellation) (-qtyAbs).toString
                else if (kind == ParseError && j == special) "x7"
                else qtyAbs.toString
      val price =
        if (kind == Anomalous && j == special) 1000.0 + rnd.nextInt(200) * 0.5
        else 0.5 + rnd.nextInt(40) * 0.5
      val d = if (kind == BadDate && j == special) "2011-07-19" else date
      val c = if (kind == MissingCustomer && j == special) "" else customer
      val line = s"$no,SC${10000 + rnd.nextInt(4000)},ITEM ${rnd.nextInt(500)},$qty,$d,$price,$c,$country"
      // a short row: quirk Q4 drops it before sessionization
      if (j == dropAfter) Vector(line, s"$no,SC1,broken") else Vector(line)
    }.toVector
    val expected = kind match {
      case Valid           => Seq(KMeans -> no)
      case Anomalous       => Seq(KMeans -> no, Bisecting -> no)
      case Cancellation    => Seq(Cancellations -> no)
      case MissingCustomer => Seq(Erroneous -> s"$no,missing customer ID")
      case BadDate         => Seq(Erroneous -> s"$no,invalid invoice date")
      case ParseError      => Seq(Erroneous -> s"""$no,parse error: For input string: "x7"""")
    }
    Invoice(no, kind, slots, expected)
  }

  /** Paced layout: each invoice's lines contiguous, invoices in order, up to
    * `maxLines` lines (whole invoices only). */
  def contiguous(seed: Long, maxLines: Int): Feed = {
    val all = invoices(seed, maxLines / 6 + 1)
    var total = 0
    val taken = all.takeWhile { inv => total += inv.lines.size; total <= maxLines }
    val lines = taken.flatMap(_.lines).toArray
    var end = 0
    val last = taken.map { inv =>
      end += inv.lines.size
      // the last slot's purchase line is never a dropped line
      inv.no -> (end - 1 - (inv.slots.last.size - 1))
    }.toMap
    Feed(lines, taken, last, taken.map(i => i.lines.size - i.slots.size).sum)
  }

  /** Burst layout: `nInvoices` invoices interleaved slot by slot (round r
    * holds the r-th slot of every invoice that has one), so consecutive
    * lines of one invoice are at most one round apart and sessions stay
    * open across the whole input. */
  def interleaved(seed: Long, nInvoices: Int): Feed = {
    val invs = invoices(seed, nInvoices)
    val out = Array.newBuilder[String]
    val last = scala.collection.mutable.Map.empty[String, Int]
    var pos = 0
    val rounds = invs.map(_.slots.size).max
    for (r <- 0 until rounds; inv <- invs if r < inv.slots.size) {
      val slot = inv.slots(r)
      last(inv.no) = pos
      slot.foreach(out += _)
      pos += slot.size
    }
    Feed(out.result(), invs, last.toMap, invs.map(i => i.lines.size - i.slots.size).sum)
  }
}
