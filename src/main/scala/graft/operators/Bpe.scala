package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer TRAINER, Spark-first.
  *
  * The reference pipeline stops at whitespace token counting; a training
  * corpus pipeline also has to BUILD the tokenizer. This is the classic
  * BPE merge loop (Sennrich et al., "Neural Machine Translation of Rare
  * Words with Subword Units", ACL 2016) expressed as iterated Spark
  * aggregations:
  *
  *  1. The working set is the (word, count) VOCABULARY table — distinct
  *     pre-tokens ([[TextFunctions.subtokens]] runs) with corpus
  *     frequencies — computed from the corpus ONCE. Every later round
  *     touches only this table, whose size is the distinct-word count,
  *     not the corpus size: the reason BPE training is feasible at 100 TB
  *     (the corpus pass is one shuffle; rounds shuffle the vocab only).
  *  2. Each word is a symbol array, initially its characters.
  *  3. Per round: count adjacent symbol pairs weighted by word frequency
  *     (explode + groupBy — one small shuffle), pick the argmax pair
  *     (count desc, then pair asc: DETERMINISTIC tie-break), rewrite every
  *     word's symbol array with the pair merged left-to-right
  *     non-overlapping, repeat.
  *
  * The per-round argmax is a 1-row collect: the merge table is tokenizer
  * METADATA, bounded by `numMerges` — the same legitimate driver-side
  * index pattern as the IVF cell set. The symbol rewrite is a typed map
  * over the vocab table (genuinely per-element imperative logic — the
  * in-word merge scan). Lineage is truncated by localCheckpoint every few
  * rounds (cluster mode would use reliable checkpointing, same caveat as
  * Dedup.connectedComponents).
  */
object Bpe {

  /** The q167 tokenizer's pinned training run ([[graft.ml.PinnedBpeMerges]]):
    * the canonical corpus and table size. 24 merges is deep enough that
    * later merges compose earlier ones (multi-char symbols pairing), which
    * is what the encoder's rank-order replace chain has to get right.
    * [[learn]] is fully deterministic, so a retrain reproduces the table
    * exactly. */
  val trainDir = "/root/testdata/sf0.01"
  val numMerges = 24

  case class WordSyms(symbols: Seq[String], n: Long)
  case class Merge(rank: Int, a: String, b: String, pairCount: Long)

  /** (word, corpus count): the trainer's working set. One corpus pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.subtokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Adjacent-pair counts of a symbols table, weighted by word frequency.
    * Words with one symbol left have no pairs (the sequence() guard —
    * Spark's sequence counts BACKWARDS on start > stop, so the 1-symbol
    * case must be filtered, not left to produce an empty array). */
  def pairCounts(symbols: DataFrame): DataFrame =
    symbols
      .filter(size(col("symbols")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(symbols) - 1), " +
          "i -> struct(symbols[i - 1] AS a, symbols[i] AS b))")).as("p"), col("n"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("cnt"))

  /** One in-word merge pass: replace adjacent (a, b) with a+b,
    * left-to-right, non-overlapping — the BPE rewrite rule. */
  def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Train `numMerges` merges. Returns the ordered merge table and the
    * final per-word segmentation (word joined from symbols = original).
    * Stops early when no pair occurs at least twice (merging a singleton
    * pair earns nothing).
    *
    * The returned segmentation table is still pinned (cached or
    * localCheckpointed): unpersisting it here would make the caller's
    * first action replay every merge round from the last checkpoint.
    * Callers own the handle — unpersist it when done. */
  def learn(spark: SparkSession, docs: DataFrame, textCol: String,
            numMerges: Int): (Seq[Merge], DataFrame) = {
    import spark.implicits._
    var words: Dataset[WordSyms] = wordCounts(docs, textCol)
      // Spark's split uses limit -1, which appends a trailing "" on an
      // empty-pattern split — drop empties so symbols are exactly the chars
      .select(filter(split(col("w"), ""), s => s =!= "").as("symbols"), col("n"))
      .as[WordSyms]
      .cache()
    words.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = pairCounts(words.toDF)
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2L) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(round, a, b, cnt)
        val next = words.map(w => WordSyms(applyMerge(w.symbols, a, b), w.n))
        // checkpoint every 8 rounds: the typed-map lineage otherwise grows
        // one stage per merge and re-executes from round 0 on any retry
        val pinned =
          if (round % 8 == 7) next.localCheckpoint()
          else next.cache()
        pinned.count()
        words.unpersist()
        words = pinned
      }
      round += 1
    }
    (merges.toSeq, words.toDF())
  }

  /** Segment one word with a learned merge table (applied in rank order —
    * equivalent to priority-queue application because each training round
    * already applied its merge exhaustively). */
  def segment(word: String, merges: Seq[Merge]): Seq[String] =
    // empty-filter mirrors learn()'s symbol construction: "".split("")
    // yields Array(""), which would segment "" to a phantom empty symbol
    merges.foldLeft(word.split("").toSeq.filter(_.nonEmpty)) { (syms, m) =>
      applyMerge(syms, m.a, m.b)
    }

  /** ENCODE a pre-token column with a trained merge table — the other half
    * of the tokenizer, applied corpus-wide (training builds the table once;
    * encoding is what actually runs over 100 TB).
    *
    * Pure row-local string arithmetic, zero shuffle, whole-stage codegen:
    * evaluated through the compiled [[graft.expressions.BpeEncode]] (the
    * merge loop run directly over the symbol array, memoized per distinct
    * word). BpeSpec pins its segmentation against [[segment]]
    * word-for-word AND against [[encodeTokensReplaceChain]] corpus-wide —
    * the oracle-mirrorable replace-chain form this column used to compute,
    * which cost ~(merges+2) full string scans and allocations per word
    * occurrence. */
  def encodeTokens(word: Column, merges: Seq[(String, String)]): Column =
    graft.expressions.BpeEncode.encode(word, merges)

  /** The wrap/replace-chain FORM of the encoder (the previous
    * implementation of [[encodeTokens]]) — kept as the executable proof
    * that the compiled [[graft.expressions.BpeEncode]] path computes the
    * identical segmentation (BpeSpec compares them corpus-wide), and as
    * the reference for [[encodeTokensSql]], which is this chain in DuckDB
    * syntax. */
  private[graft] def encodeTokensReplaceChain(
      word: Column, merges: Seq[(String, String)]): Column = {
    val wrapped = regexp_replace(word, "(.)", "‹$1›")
    val folded = merges.foldLeft(wrapped) { case (c, (a, b)) =>
      call_function("replace", c, lit(s"‹$a›‹$b›"), lit(s"‹$a$b›"))
    }
    split(trim(folded, "‹›"), "›‹")
  }

  /** The DuckDB mirror of [[encodeTokens]]: the same wrap → rank-ordered
    * literal replaces → unwrap-and-split, over a SQL expression for the
    * word. */
  def encodeTokensSql(wordExpr: String, merges: Seq[(String, String)]): String = {
    val wrapped = s"regexp_replace($wordExpr, '(.)', '‹\\1›', 'g')"
    val folded = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      s"replace($s, '‹$a›‹$b›', '‹$a$b›')"
    }
    s"string_split(trim($folded, '‹›'), '›‹')"
  }
}
