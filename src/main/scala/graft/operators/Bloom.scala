package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Oracle-exact Bloom filter — the membership sketch that completes the
  * trio with [[Hll]] (distinct counts) and [[Cms]] (frequencies): bounded
  * state answering "might this key be in that set?" with no false
  * negatives and a tunable false-positive rate.
  *
  * Its 100 TB job is SEMI-JOIN REDUCTION: a selective dim predicate
  * ("customers in one segment") should shrink the FACT side before the
  * join's shuffle, not after. Spark's own runtime-filter injection does
  * this opportunistically (proven on this engine in ScaleSpec's
  * bloom-injection test); this operator is the EXPLICIT, engine-portable
  * version — the filter state is deterministic integer arithmetic, so an
  * oracle (or another engine entirely) rebuilds it bit-for-bit, which the
  * built-in `might_contain`'s private hash can never offer.
  *
  * Construction (all public-textbook material):
  *  - positions via Kirsch–Mitzenmacher double hashing: pos_i =
  *    (h1 + i·h2') mod [[bits]], i < [[k]], where h1/h2 are [[Hll.poly]]
  *    degree-4 polynomials over two 31-bit prime fields and h2' =
  *    (h2 mod (bits−1)) + 1 so the step is never 0 mod bits;
  *  - state packs 32 bits per word — (word = pos div 32,
  *    mask = 1 << (pos mod 32)) — so every mask is < 2^31 and BIGINT
  *    sign/overflow semantics can never diverge across engines (packing
  *    64 would need bit 63: negative in two's complement, shift-overflow
  *    in engines that check);
  *  - per-word `bit_or` is the mergeable aggregate: commutative,
  *    associative, idempotent ⇒ any partitioning, shard split, or
  *    duplicate delivery converges to the same words (BloomSpec pins
  *    merge ≡ rebuild ≡ repartitioned rebuild).
  *
  * Scale shape: building is one map-side-combinable aggregate into at
  * most [[words]] rows (8 KB of state regardless of input size). The
  * probe side never shuffles: the filter collects to the driver as
  * bounded metadata (the same discipline as the IVF probed-cell set,
  * `Similarity.scala`) and [[mightContain]] is a row-local, codegen'd
  * column over the fact scan.
  */
object Bloom {
  /** Filter size in bits (8 KB) and 32-bit packing. */
  val bits = 65536
  val words: Int = bits / 32 // 2048 state rows max

  /** Hash-function count: with n ≈ bits/16 inserted keys the classic
    * (1 − e^{−kn/m})^k bound gives ~4·10⁻⁴ false positives; still < 1 %
    * at n = bits/8. */
  val k = 5

  private val P1 = 2147483647L
  private val P2 = 2147483629L
  private val C1 = Seq(1299709L, 15485863L, 32452843L, 49979687L)
  private val C2 = Seq(67867967L, 86028121L, 104395301L, 122949823L)

  private def h1(key: Column): Column = Hll.poly(key, P1, C1)
  private def h2step(key: Column): Column =
    Hll.poly(key, P2, C2) % (bits - 1) + 1L

  /** The i-th bit position of a BIGINT key. */
  def posOf(key: Column, i: Int): Column =
    (h1(key) + lit(i.toLong) * h2step(key)) % bits

  /** JVM mirror of [[posOf]] — the same exact integer arithmetic as the
    * Column/SQL forms, for the native aggregate
    * ([[graft.expressions.BloomWords]]). h1 < 2^31 and step ≤ bits−1, so
    * h1 + (k−1)·step never overflows. */
  private[graft] def posOfLong(key: Long, i: Int): Int = {
    val a = Hll.polyLong(key, P1, C1)
    val step = Hll.polyLong(key, P2, C2) % (bits - 1) + 1L
    ((a + i * step) % bits).toInt
  }

  /** Mergeable sketch state: (word, bits32) rows, one per touched word.
    * Runs unchanged per group (prepend group columns before the groupBy)
    * or on a streaming frame — bit_or makes the words independent of
    * micro-batch boundaries. */
  def state(items: DataFrame, key: Column, groupCols: Seq[String] = Nil): DataFrame =
    items.filter(key.isNotNull)
      .select((groupCols.map(col) :+
        explode(array((0 until k).map(posOf(key, _)): _*)).as("pos")): _*)
      .select((groupCols.map(col) ++ Seq(
        (col("pos") / 32).cast("long").as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 32).cast("int"))
          .as("mask"))): _*)
      .groupBy((groupCols :+ "word").map(col): _*)
      .agg(expr("bit_or(mask)").as("bits32"))

  /** Collect a (global) state into a dense word array — ≤ 8 KB of driver
    * metadata, the broadcastable form [[mightContain]] consumes. */
  def build(items: DataFrame, key: Column): Array[Long] = {
    val arr = new Array[Long](words)
    state(items, key).collect().foreach { r =>
      arr(r.getLong(0).toInt) = r.getLong(1)
    }
    arr
  }

  /** Row-local membership test against a built filter: true ⇔ all k bits
    * set. No false negatives; false positives at the textbook rate. The
    * word array travels as ONE array literal, so the predicate is a
    * codegen'd expression on the scan — no join, no shuffle. */
  def mightContain(key: Column, filter: Array[Long]): Column = {
    val lut = typedlit(filter.toSeq)
    (0 until k).map { i =>
      val pos = posOf(key, i)
      (element_at(lut, (pos / 32).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 32).cast("int"))) =!= 0L)
    }.reduce(_ && _)
  }
}
