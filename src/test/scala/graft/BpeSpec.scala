package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** BPE trainer on the classic Sennrich fixture (low/lower/newest/widest)
  * where the full merge sequence is hand-computable. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fixture = {
    import spark.implicits._
    val text = (List.fill(5)("low") ++ List.fill(2)("lower") ++
      List.fill(6)("newest") ++ List.fill(3)("widest")).mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("learn reproduces the textbook merge sequence with exact pair counts") {
    val (merges, words) = Bpe.learn(spark, fixture, "text", numMerges = 4)
    // round 1: es and st tie at 9, (e,s) wins the asc tie-break;
    // round 2: es+t at 9; round 3: lo and ow tie at 7, (l,o) wins;
    // round 4: lo+w at 7 — Sennrich's es, est, lo, low.
    assert(merges.map(m => (m.a, m.b, m.pairCount)) ===
      Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(merges.map(_.rank) === Seq(0, 1, 2, 3))
    // the final segmentation is exactly the textbook one, and re-joining
    // symbols reproduces each original word
    val seg = words.collect()
      .map(r => (r.getSeq[String](0).mkString(""), r.getSeq[String](0).toList)).toMap
    assert(seg("low") === List("low"))
    assert(seg("lower") === List("low", "e", "r"))
    assert(seg("newest") === List("n", "e", "w", "est"))
    assert(seg("widest") === List("w", "i", "d", "est"))
  }

  test("segment applies learned merges to unseen words deterministically") {
    val (merges, _) = Bpe.learn(spark, fixture, "text", numMerges = 4)
    assert(Bpe.segment("lowest", merges) === Seq("low", "est"))
    assert(Bpe.segment("newer", merges) === Seq("n", "e", "w", "e", "r"))
    assert(Bpe.segment("low", merges) === Seq("low"))
    // a word sharing no pairs with the corpus stays character-level
    assert(Bpe.segment("zzq", merges) === Seq("z", "z", "q"))
    // the empty word segments to nothing, not a phantom "" symbol
    assert(Bpe.segment("", merges) === Seq.empty)
  }

  test("segment matches the trained words table for every vocabulary word") {
    val (merges, words) = Bpe.learn(spark, fixture, "text", numMerges = 4)
    words.collect().foreach { r =>
      val syms = r.getSeq[String](0).toList
      assert(Bpe.segment(syms.mkString(""), merges) === syms)
    }
  }

  test("trainer stops when no pair repeats, instead of merging singletons") {
    import spark.implicits._
    val docs = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    val (merges, _) = Bpe.learn(spark, docs, "text", numMerges = 10)
    assert(merges.isEmpty, s"singleton pairs must not merge: $merges")
  }

  test("applyMerge is left-to-right non-overlapping") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(Bpe.applyMerge(Seq("x"), "a", "a") === Seq("x"))
    assert(Bpe.applyMerge(Nil, "a", "b") === Nil)
  }

  test("pinned merge table reproduces from its committed training run (q167)") {
    val (merges, seg) = Bpe.learn(spark,
      graft.Tables.documents(spark, Bpe.trainDir), "text",
      Bpe.numMerges)
    seg.unpersist()
    assert(merges.map(m => (m.a, m.b)) === graft.ml.PinnedBpeMerges.values,
      "PinnedBpeMerges is stale — regenerate with `runMain graft.ml.PinMain bpe`")
  }

  test("column encoder segments every corpus word exactly like Bpe.segment (q167)") {
    import spark.implicits._
    val merges = graft.ml.PinnedBpeMerges.values
    val mergeTable = merges.map(p => Bpe.Merge(0, p._1, p._2, 0L))
    val words = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(
        regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+"), lit(0))).as("w"))
      .distinct()
    val encoded = words
      .select(col("w"), Bpe.encodeTokens(col("w"), merges).as("toks"))
      .as[(String, Seq[String])].collect()
    assert(encoded.nonEmpty)
    encoded.foreach { case (w, toks) =>
      assert(toks === Bpe.segment(w, mergeTable), s"word '$w' segments differently")
      assert(toks.mkString("") === w, s"encoding of '$w' is not lossless")
    }
    // overlap discipline: adjacent identical pairs merge leftmost-first,
    // exactly like the trainer's in-word rewrite
    val tricky = Seq("aaa", "erer", "inin", "stst").toDF("w")
      .select(col("w"), Bpe.encodeTokens(col("w"), merges).as("toks"))
      .as[(String, Seq[String])].collect().toMap
    tricky.foreach { case (w, toks) =>
      assert(toks === Bpe.segment(w, mergeTable), s"overlap case '$w' diverges")
    }
  }

  test("compiled encoder matches the replace-chain form on every corpus word (r17)") {
    import spark.implicits._
    val merges = graft.ml.PinnedBpeMerges.values
    // the corpus vocabulary plus adversarial shapes: overlap runs, single
    // chars, merge-output substrings, digits — everything the
    // [A-Za-z]+|[0-9]+ pre-tokenizer can emit
    val words = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(
        regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+"), lit(0))).as("w"))
      .distinct()
      .unionAll(Seq("aaa", "erer", "inin", "stst", "a", "z", "scan", "batch",
        "hash", "join", "parquet", "0042", "91", "joinjoin", "batchbatch")
        .toDF("w"))
    val diverged = words
      .select(col("w"),
        Bpe.encodeTokens(col("w"), merges).as("fast"),
        Bpe.encodeTokensReplaceChain(col("w"), merges).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .as[(String, Seq[String], Seq[String])].collect()
    assert(diverged.isEmpty,
      s"compiled BPE encode diverges from the replace chain: ${diverged.take(5).toSeq}")
  }

  test("encoder compresses: corpus token count strictly below character count") {
    val merges = graft.ml.PinnedBpeMerges.values
    val stats = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(
        regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+"), lit(0))).as("w"))
      .select(length(col("w")).cast("long").as("chars"),
        size(Bpe.encodeTokens(col("w"), merges)).cast("long").as("toks"))
      .agg(sum("chars").as("chars"), sum("toks").as("toks"))
      .collect()(0)
    assert(stats.getLong(1) < stats.getLong(0),
      s"24 merges should compress: ${stats.getLong(1)} tokens vs ${stats.getLong(0)} chars")
  }
}
