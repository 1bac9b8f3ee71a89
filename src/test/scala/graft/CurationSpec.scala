package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.operators.Sampling
import graft.queries.Curation

class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("content-hash sampling is duplicate-stable and deterministic") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon"), (4L, "zeta eta theta iota")).toDF("doc_id", "text")
    // same content ⇒ same keep/drop decision, whatever the rate
    (0 to 100 by 10).foreach { pct =>
      val kept = Sampling.uniformSample(df, "text", pct)
        .select("doc_id").as[Long].collect().toSet
      assert(kept.contains(1L) === kept.contains(2L),
        s"duplicate rows diverged at pct=$pct")
    }
    // pct=0 keeps nothing, pct=100 keeps everything
    assert(Sampling.uniformSample(df, "text", 0).count() === 0)
    assert(Sampling.uniformSample(df, "text", 100).count() === 4)
  }

  test("uniform sample at a lower rate is a subset of a higher rate") {
    val docs = Tables.documents(spark, sf)
    val k10 = Sampling.uniformSample(docs, "text", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k50 = Sampling.uniformSample(docs, "text", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k10.subsetOf(k50), "rate-10 sample must be contained in rate-50")
    assert(k10.nonEmpty && k50.size > k10.size)
  }

  test("stratified sample applies per-stratum rates, default for unknown strata") {
    import spark.implicits._
    // 200 docs per stratum with distinct contents
    val df = (1 to 600).map { i =>
      val lang = Seq("en", "zh", "xx")(i % 3)
      (i.toLong, lang, s"doc number $i with some content")
    }.toDF("doc_id", "lang", "text")
    val out = Sampling.stratifiedSample(df, "lang", "text",
      rates = Map("en" -> 0, "zh" -> 100), defaultPct = 100)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("en"), "rate-0 stratum must be empty")
    assert(byLang("zh") === 200L, "rate-100 stratum keeps everything")
    assert(byLang("xx") === 200L, "unknown stratum uses the default rate")
    // emitted bucket is the decision input: every kept bucket < its rate
    assert(out.filter(col("bucket") >= 100 || col("bucket") < 0).count() === 0)
  }

  test("temperature sample keeps ~k/sqrt(n) per stratum, never drops one") {
    import spark.implicits._
    // 900-vs-100 imbalance: α=0.5 keep rates 5/30 vs 5/10
    val df = (1 to 1000).map { i =>
      (i.toLong, if (i <= 900) "en" else "fr", s"document body $i")
    }.toDF("doc_id", "lang", "text")
    val byLang = Sampling.temperatureSample(df, "lang", "text", k = 5.0)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected ≈ 900·(5/30)=150 and 100·(5/10)=50: the DOMINANT stratum is
    // thinned 3× harder; hash noise at n=1000 stays well inside ±40%
    assert(byLang("en") > 90 && byLang("en") < 210, s"en: $byLang")
    assert(byLang("fr") > 30 && byLang("fr") < 70, s"fr: $byLang")
    // rebalance direction: en/fr sampled ratio ≈ 3, not the raw 9
    assert(byLang("en").toDouble / byLang("fr") < 5.0, s"ratio: $byLang")
    // k large enough to cap: every row kept (rate clamps at 1)
    assert(Sampling.temperatureSample(df, "lang", "text", k = 100.0)
      .count() === 1000L)
  }

  test("temperature sample decisions are content-keyed (re-ingest stable)") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, "en", s"text $i"))
      .toDF("doc_id", "lang", "text")
    val kept1 = Sampling.temperatureSample(df, "lang", "text", 4.0)
      .select("doc_id").as[Long].collect().toSet
    // same strata counts, re-sharded input ⇒ identical keep set
    val kept2 = Sampling.temperatureSample(df.repartition(7), "lang", "text", 4.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 === kept2)
    assert(kept1.nonEmpty && kept1.size < 400)
  }

  test("priority sample: exactly k rows, estimates bounded and near-unbiased") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"doc $i", (i % 97 + 1).toLong * 10))
      .toDF("doc_id", "text", "weight")
    val out = Sampling.prioritySample(df, "doc_id", "weight", k = 60)
    val rows = out.collect()
    assert(rows.length === 60, s"expected k rows, got ${rows.length}")
    // est_w = max(w, τ) ≥ w always
    rows.foreach { r =>
      assert(r.getDouble(2) >= r.getLong(1).toDouble, s"estimate below weight: $r")
    }
    // the DLT estimator is unbiased: Σ est_w ≈ Σ w (single-draw tolerance)
    val total = df.agg(sum("weight")).head.getLong(0).toDouble
    val est = rows.map(_.getDouble(2)).sum
    assert(est > total * 0.5 && est < total * 2.0, s"est $est vs total $total")
    // deterministic under re-sharding
    val again = Sampling.prioritySample(df.repartition(11), "doc_id", "weight", 60)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(again === rows.map(r => (r.getLong(0), r.getDouble(2))).toSet)
  }

  test("priority sample favors heavy rows and plans as TakeOrdered, no sort") {
    import spark.implicits._
    // two tiers: weight 1000000 vs weight 1 — every heavy row must be kept
    val df = ((1 to 20).map(i => (i.toLong, 1000000L)) ++
      (21 to 2000).map(i => (i.toLong, 1L))).toDF("doc_id", "weight")
    val out = Sampling.prioritySample(df, "doc_id", "weight", k = 30)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert((1L to 20L).toSet.subsetOf(kept), s"heavy rows missing: $kept")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"corpus pass must be a top-k heap, not a sort:\n$plan")
    assert(!plan.contains("SortExec"), s"no full sort allowed:\n$plan")
  }

  test("group weighted sample: k per stratum, heavy rows win, partial limit") {
    import spark.implicits._
    // two strata; in each, 5 heavy rows (weight 10^6) among 200 light ones
    val df = (1 to 400).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      val w = if (i <= 10) 1000000L else 1L
      (i.toLong, lang, w)
    }.toDF("doc_id", "lang", "weight")
    val out = Sampling.groupPrioritySample(df, "lang", "doc_id", "weight", k = 12)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang === Map("en" -> 12L, "fr" -> 12L))
    // every heavy row's priority dominates any light row's (10^6 ratio
    // >> the 2^20 hash spread), so all 5 heavies per stratum are kept
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert((1L to 10L).toSet.subsetOf(kept), s"heavy rows missing: $kept")
    // deterministic under re-sharding
    val again = Sampling.groupPrioritySample(
      df.repartition(13), "lang", "doc_id", "weight", 12)
      .select("doc_id").as[Long].collect().toSet
    assert(again === kept)
    // scale shape: the per-stratum top-k prunes BELOW the exchange
    // (partial WindowGroupLimit), and nothing plans a global sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("row_number(), 12, Partial"),
      s"group top-k must prune before the shuffle:\n$plan")
  }

  test("stratified sample plans shuffle-free (row-local map + filter)") {
    val plan = Curation.stratifiedSample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("tfidf: rational score ranks rare terms above common ones at equal tf") {
    import spark.implicits._
    // 'rare' appears in 1 doc, 'common' in all 4; doc 1 has both twice
    val df = Seq(
      (1L, "rare rare common common pad1"),
      (2L, "common common pad2 x y"),
      (3L, "common pad3 a b c"),
      (4L, "common pad4 d e f")).toDF("doc_id", "text")
    val top = Curation.tfidfTopTermsOn(df)
      .filter(col("doc_id") === 1L).orderBy(col("rank"))
      .select("term").as[String].collect().toSeq
    assert(top.head === "rare",
      s"tf equal but df(rare)=1 < df(common)=4 — rare must rank first: $top")
  }

  test("tfidf top-3: rank bounds, score arithmetic, deterministic ties") {
    val out = Curation.tfidfTopTerms(spark, sf).cache()
    try {
      assert(out.filter(col("rank") < 1 || col("rank") > 3).count() === 0)
      // score = tf * N / df exactly (recompute and compare bitwise)
      val n = Tables.documents(spark, sf).count()
      val bad = out.filter(
        col("tfidf") =!= (col("tf") * lit(n)).cast("double") / col("df"))
      assert(bad.count() === 0)
      // at most 3 rows per doc, ranks distinct within a doc
      val dup = out.groupBy("doc_id", "rank").count().filter(col("count") > 1)
      assert(dup.count() === 0)
    } finally out.unpersist()
  }

  test("vocab: rank follows (tf_total desc, term asc), df bounded by docs") {
    val rows = Curation.vocabTopN(spark, sf)
      .orderBy("rank").collect()
    val nDocs = Tables.documents(spark, sf).count()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (ta, tb) = (a.getLong(1), b.getLong(1))
        assert(ta > tb || (ta == tb && a.getString(0) < b.getString(0)),
          s"rank order violated: $a vs $b")
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getLong(2) <= nDocs && r.getLong(2) <= r.getLong(1),
        s"df must be ≤ n_docs and ≤ tf_total: $r")
    }
  }

  test("redaction masks every digit run and counts them") {
    import spark.implicits._
    val df = Seq(("a1b22c333", 3L), ("no digits", 0L), ("7", 1L), ("", 0L))
      .toDF("text", "want")
    val out = df.select(
      TextFunctions.maskAll(col("text"), "[0-9]+", "#").as("masked"),
      TextFunctions.maskCount(col("text"), "[0-9]+").as("n"),
      col("want")).collect()
    out.foreach { r =>
      assert(!r.getString(0).exists(_.isDigit), s"digits survived: $r")
      assert(r.getLong(1) === r.getLong(2), s"run count wrong: $r")
    }
  }

  test("quality route: verdict priority is first-failing-rule") {
    import spark.implicits._
    // a doc that is BOTH too short and low quality → too_short wins
    val df = Seq((1L, "x y z"), (2L, ("the a of and to " * 8).trim))
      .toDF("doc_id", "text")
    val v = Curation.qualityRouteOn(df).select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
    assert(v(1L) === "too_short")
    assert(v(2L) === "keep")
  }

  test("quality route covers every branch on the fixture") {
    val verdicts = Curation.qualityRoute(spark, sf)
      .select("verdict").distinct().collect().map(_.getString(0)).toSet
    assert(verdicts === Set("keep", "too_short", "too_long", "low_quality"),
      s"fixture must exercise all four routes, got $verdicts")
  }

  test("source cap keeps at most K per source, chosen by content-hash priority") {
    val out = Curation.sourceCap(spark, sf).cache()
    try {
      val over = out.groupBy("source").count()
        .filter(col("count") > Curation.sourceCapK)
      assert(over.count() === 0, "no source may exceed the cap")
      // survivors per source are exactly the bucket-ascending prefix:
      // every kept (bucket, doc_id) must be <= every dropped one
      val all = Tables.documents(spark, sf)
        .withColumn("bucket", graft.operators.Sampling.pctBucket(col("text")))
        .select("source", "doc_id", "bucket")
        .collect().map(r => (r.getString(0), (r.getLong(2), r.getLong(1))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(Curation.sourceCapK).toSet)
      val kept = out.select("source", "bucket", "doc_id").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      kept.foreach { case (src, ks) =>
        assert(ks === all(src), s"cap for $src must keep the hash-priority prefix")
      }
    } finally out.unpersist()
  }

  test("repetition stats: planted repeated doc scores high, varied doc low") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c a b c a b c"),   // 10 3-grams, 3 distinct
      (2L, "one two three four five six"), // all distinct
      (3L, "x y")).toDF("doc_id", "text") // < 3 tokens → no ngrams
    val m = Curation.repetitionStatsOn(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) === 10L && m(1L).getLong(2) === 3L)
    assert(m(1L).getDouble(3) === 0.7)
    assert(m(2L).getDouble(3) === 0.0)
    assert(m(3L).getLong(1) === 0L && m(3L).isNullAt(3),
      "sub-3-token doc must have NULL ratio, not a division error")
  }

  test("rolling 24h spend: RANGE frame includes the exact-boundary event and ties") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    def t(offSec: Long) = new Timestamp(base + offSec * 1000L)
    val clicks = Seq(
      (1L, 1L, t(0), 1.0),          // 100 cents
      (2L, 1L, t(86400), 2.0),      // exactly 24h later → event 1 IN frame
      (3L, 1L, t(86401), 4.0),      // 24h+1s after event 1 → event 1 OUT
      (4L, 1L, t(86401), 8.0)       // tie with event 3 → peers share a frame
    ).toDF("event_id", "user_id", "ts", "value")
    val out = graft.queries.Extensions.rollingUserSpendOn(clicks)
      .select("event_id", "rolling_cents_24h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 100L)
    assert(out(2L) === 300L, "inclusive lower bound: the 24h-old event counts")
    assert(out(3L) === 1400L, "event 1 aged out; tied peers 3+4 both in frame")
    assert(out(4L) === 1400L, "RANGE peers at equal ts get equal frames")
  }

  test("packing: start_off is the exclusive per-source prefix sum and seqs tile") {
    val rows = Curation.packSequences(spark, sf)
      .select("source", "doc_id", "n_tokens", "start_off", "first_seq", "last_seq", "n_seqs")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val ordered = docs.sortBy(_._2)
      var expectedOff = 0L
      ordered.foreach { case (_, id, nTok, off, first, last, nSeqs) =>
        assert(off === expectedOff, s"$src doc $id: gap or overlap in the packed stream")
        assert(first === off / Curation.packSeqLen)
        assert(last === (off + nTok - 1) / Curation.packSeqLen)
        assert(nSeqs === last - first + 1 && nSeqs >= 1)
        expectedOff += nTok
      }
    }
  }

  test("packing plans a single exchange, on source") {
    val plan = Curation.packSequences(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 === 1,
      s"per-source packing must shuffle exactly once:\n$plan")
    assert(plan.contains("hashpartitioning(source"),
      s"the one exchange must key on source:\n$plan")
  }

  test("chunk windows cover every token with stride overlap and no shuffle") {
    val byDoc = Curation.chunkWindows(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    assert(byDoc.size === 500)
    byDoc.foreach { case (id, chunks) =>
      val ordered = chunks.sortBy(_._3)
      val n = ordered.head._2
      ordered.zipWithIndex.foreach { case ((_, nTok, idx, start, len), i) =>
        assert(nTok === n && idx === i && start === i.toLong * Curation.chunkStride)
        assert(len >= 1 && len <= Curation.chunkSize, s"doc $id chunk $i len $len")
        assert(start + len <= n)
      }
      // the final chunk must reach the last token: full coverage
      val (_, _, _, lastStart, lastLen) = ordered.last
      assert(lastStart + lastLen === n, s"doc $id: tail tokens uncovered")
      // every non-final chunk is full-size, so consecutive chunks overlap
      // by size − stride and no token between them is skipped
      ordered.init.foreach { case (_, _, _, _, len) =>
        assert(len === Curation.chunkSize.toLong)
      }
    }
    val plan = Curation.chunkWindows(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"row-local chunking must not shuffle:\n$plan")
  }

  test("packing and chunking drop zero-token docs, keeping their invariants") {
    import spark.implicits._
    // doc 2 is empty, doc 3 is whitespace-only (0 tokens either way);
    // both sit BETWEEN real docs so any offset disturbance would show
    val docs = Seq(
      (1L, "web", "alpha beta gamma"),
      (2L, "web", ""),
      (3L, "web", "   "),
      (4L, "web", "delta epsilon")).toDF("doc_id", "source", "text")

    val packed = Curation.packSequencesOn(docs)
      .select("doc_id", "start_off", "n_seqs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(packed.map(_._1).sorted === Array(1L, 4L), "0-token docs must be dropped")
    packed.foreach { case (id, _, nSeqs) => assert(nSeqs >= 1, s"doc $id n_seqs") }
    // doc 4 still starts right after doc 1: empty docs move no offset
    assert(packed.map(p => p._1 -> p._2).toMap === Map(1L -> 0L, 4L -> 3L))

    val chunks = Curation.chunkWindowsOn(docs)
      .select("doc_id", "chunk_len")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(chunks.map(_._1).distinct.sorted === Array(1L, 4L))
    chunks.foreach { case (id, len) => assert(len >= 1, s"doc $id chunk_len") }
  }

  test("bigram LM: exact counts, head denominators, and MLE ratios") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "b c"), (3L, "x")).toDF("doc_id", "text")
    val rows = Curation.bigramLmOn(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1 bigrams: (a,b) (b,a) (a,b) (b,c); doc 2: (b,c); doc 3: none
    assert(rows === Map(
      ("a", "b") -> ((2L, 2L, 1.0)),
      ("b", "a") -> ((1L, 3L, 1.0 / 3.0)),
      ("b", "c") -> ((2L, 3L, 2.0 / 3.0))))
  }

  test("bigram LM plans: head window on the aggregated table, top-k is TakeOrdered") {
    val plan = Curation.bigramLm(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$plan")
    assert(plan.contains("hashpartitioning(w1"),
      s"the head-count window must partition on w1:\n$plan")
  }

  test("token rarity: common-token docs outscore rare-token docs; exact sums") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the and and"),      // all corpus-common tokens
      (2L, "the and zyzzyva qwerty"),   // half rare
      (3L, "the the and and or or")     // common again, different length
    ).toDF("doc_id", "text")
    val out = Curation.tokenRarityOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // corpus tf: the=6, and=5, or=2, zyzzyva=1, qwerty=1
    assert(out(1L) === ((5L, 28L, 5.6)))            // 3·6 + 2·5 over 5 tokens
    assert(out(2L) === ((4L, 13L, 3.25)))           // 6+5+1+1 over 4
    assert(out(3L)._3 > out(2L)._3, "rare-token doc must score lower")
  }

  test("dedup keep-best: exactly one survivor per cluster, the longest copy") {
    val rows = graft.queries.Extensions.dedupKeepBest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty, "fixture must contain near-dup clusters")
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val kept = members.filter(_._4)
      assert(kept.length === 1, s"cluster $cluster: ${kept.length} survivors")
      val maxLen = members.map(_._3).max
      assert(kept.head._3 === maxLen, s"cluster $cluster: survivor not longest")
      // tie-break: among max-length members the smallest doc_id wins
      val tied = members.filter(_._3 === maxLen).map(_._1).min
      assert(kept.head._1 === tied, s"cluster $cluster: tie-break not doc_id asc")
    }
  }

  test("decontamination finds a planted probe overlap and nothing self-paired") {
    import spark.implicits._
    // probe (id 97): shares two 3-grams with doc 1; doc 2 disjoint
    val df = Seq(
      (97L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta other words here"),
      (2L, "totally different content with no overlap at all")
    ).toDF("doc_id", "text")
    val hits = Curation.decontaminateOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.toSeq === Seq((1L, 97L, 2L)),
      s"doc 1 shares exactly 2 distinct grams with probe 97: ${hits.toSeq}")
    assert(!hits.exists { case (d, p, _) => d == p }, "no self pairs")
  }

  test("q82: LM quality score flags a planted gibberish doc, passes fluent text") {
    import spark.implicits._
    // docs 1..9 train the LM (doc 10 is held out by doc_id % 10); the
    // gibberish doc's bigrams never occur in training -> all OOV
    val train = (1L to 9L).map(i => (i, "the cat sat on the mat"))
    val df = (train :+ (10L, "zxq qqw wvx jjk")).toDF("doc_id", "text")
    val rows = Curation.lmQualityScoreOn(df).collect()
      .map(r => r.getLong(0) -> r).toMap

    val fluent = rows(1L)
    assert(fluent.getLong(fluent.fieldIndex("n_bigrams")) === 5L)
    assert(fluent.getLong(fluent.fieldIndex("n_oov")) === 0L)
    assert(fluent.getDouble(fluent.fieldIndex("oov_rate")) === 0.0)
    // "the"->"cat" and "the"->"mat" each occur 9 times among 18 "the" heads
    assert(fluent.getDouble(fluent.fieldIndex("min_p")) === 0.5)
    // in-vocab p values: the->cat .5, cat->sat 1, sat->on 1, on->the 1, the->mat .5
    assert(math.abs(fluent.getDouble(fluent.fieldIndex("mean_p")) - 0.8) < 1e-6)

    val gibberish = rows(10L)
    assert(gibberish.getLong(gibberish.fieldIndex("n_bigrams")) === 3L)
    assert(gibberish.getLong(gibberish.fieldIndex("n_oov")) === 3L)
    assert(gibberish.getDouble(gibberish.fieldIndex("oov_rate")) === 1.0)
    assert(gibberish.isNullAt(gibberish.fieldIndex("min_p")), "all-OOV doc has no in-vocab p")
    assert(gibberish.isNullAt(gibberish.fieldIndex("mean_p")))
  }

  test("q82: zero-token and single-token docs score with zero bigrams and NULL ratios") {
    import spark.implicits._
    val df = Seq((1L, "shared words shared words"), (2L, ""), (3L, "   "),
      (4L, "lonely")).toDF("doc_id", "text")
    val rows = Curation.lmQualityScoreOn(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 4L), "every doc appears in the output")
    for (id <- Seq(2L, 3L, 4L)) {
      val r = rows(id)
      assert(r.getLong(r.fieldIndex("n_bigrams")) === 0L)
      assert(r.getLong(r.fieldIndex("n_oov")) === 0L)
      assert(r.isNullAt(r.fieldIndex("oov_rate")), s"doc $id oov_rate must be NULL, not 0/0")
      assert(r.isNullAt(r.fieldIndex("min_p")))
      assert(r.isNullAt(r.fieldIndex("mean_p")))
    }
  }

  test("q83: dup-ngram fraction counts cross-doc 5-gram overlap exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),   // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),   // grams: "a b c d e", "b c d e x"
      (3L, "z y x w v"),     // one gram, unique
      (4L, "too short")      // no 5-grams -> absent
    ).toDF("doc_id", "text")
    val rows = Curation.dupNgramFractionOn(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L), "docs without 5-grams are absent")
    assert(rows(1L) === ((2L, 1L, 0.5)), "doc 1 shares 'a b c d e' with doc 2")
    assert(rows(2L) === ((2L, 1L, 0.5)))
    assert(rows(3L) === ((1L, 0L, 0.0)), "unique doc has zero dup fraction")
  }

  test("q83: intra-doc repetition is NOT cross-doc duplication (distinct grams per doc)") {
    import spark.implicits._
    // one doc repeating its own 5-gram: df stays 1, frac stays 0
    val df = Seq((1L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val r = Curation.dupNgramFractionOn(df).collect()
    assert(r.forall(_.getLong(2) === 0L), "self-repetition must not count as dup")
  }

  test("q83: exact duplicate documents in the corpus score dup_frac 1.0") {
    val out = Curation.dupNgramFraction(spark, sf)
    assert(out.filter(col("dup_frac") === 1.0).count() >= 2,
      "the fixture's planted exact dups must have every gram shared")
    // inverted-index shape: the gram join must be an equi-join, never a
    // cartesian/broadcast-nested-loop pair blow-up
    val plan = Curation.dupNgramFraction(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"gram join must be key-bounded:\n$plan")
  }

  test("q84: over-represented sources are cut toward N/S, small sources pass whole") {
    import spark.implicits._
    // source A: 300 docs, B: 50, C: 50 -> N=400, S=3, target share ~133
    val df = ((1 to 300).map(i => (i.toLong, "A", s"alpha document number $i payload")) ++
      (301 to 350).map(i => (i.toLong, "B", s"beta document number $i payload")) ++
      (351 to 400).map(i => (i.toLong, "C", s"gamma document number $i payload")))
      .toDF("doc_id", "source", "text")
    val kept = Curation.domainMixSampleOn(df)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("B") === 50L, "under-represented source must survive whole")
    assert(kept("C") === 50L)
    // acceptance ratio for A = (400/3)/300 = 0.444; content-hash buckets are
    // roughly uniform, so the kept count lands well inside (60, 220)
    assert(kept("A") > 60L && kept("A") < 220L,
      s"over-represented source must be cut toward 133, got ${kept("A")}")
  }

  test("q84: sampling decision is content-deterministic and the corpus side never sort-merges") {
    val a = Curation.domainMixSample(spark, sf).collect().map(_.getLong(0)).sorted
    val b = Curation.domainMixSample(spark, sf).collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "re-running the sample must keep the same docs")
    val plan = Curation.domainMixSample(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"counts and total must broadcast, never shuffle the corpus for a join:\n$plan")
  }

  test("q67: distributed selection cap ≡ the naive window form on a skewed corpus") {
    import spark.implicits._
    // source A: 5000 rows concentrated in few buckets (hot source), B: 7
    // rows (fewer than k), C: 40 rows spread out
    val df = ((1 to 5000).map(i => (i.toLong, "A", s"hot source row $i")) ++
      (6001 to 6007).map(i => (i.toLong, "B", s"tiny source row $i")) ++
      (7001 to 7040).map(i => (i.toLong, "C", s"spread source row $i")))
      .toDF("doc_id", "source", "text")
      .withColumn("bucket", Sampling.pctBucket(col("text")))
      .select("doc_id", "source", "bucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket"), col("doc_id"))
    val naive = df.withColumn("keep_rank", row_number().over(w))
      .filter(col("keep_rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val fast = graft.operators.Selection
      .capPerGroup(df, "source", "bucket", "doc_id", 10)
      .select("doc_id", "source", "bucket", "keep_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(fast === naive, "selection cap must be row-identical to the window form")
    assert(fast.count(_._2 == "B") === 7, "a sub-k group survives whole")
    assert(fast.count(_._2 == "A") === 10)
  }

  test("q67: the cap plan aggregates partially (bounded buffers), never sorts the corpus per group") {
    val plan = Curation.sourceCap(spark, sf).queryExecution.executedPlan.toString
    // the bottom-k udaf must run as a partial+final aggregate pair — the
    // bounded-buffer property that keeps a hot group off the driver/executor
    assert(plan.toLowerCase.contains("bottomklongs"),
      s"bounded bottom-k aggregate missing from plan:\n$plan")
    // the only windows in the plan run over pre-aggregated bounded tables
    // (bucket histogram, ≤k survivors) — the raw document scan must feed an
    // Aggregate, not a Sort+Window
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("q86: Misra-Gries summary stays bounded and never loses a true heavy hitter") {
    val mg = new graft.operators.Selection.MisraGries(5)
    // 60 'hot' among 100 distinct cold tokens: true freq 60/160 >> n/k
    val stream = scala.util.Random.shuffle(
      (Seq.fill(60)("hot") ++ (1 to 100).map(i => s"cold$i")).toList)
    val buf = stream.foldLeft(mg.zero)(mg.reduce)
    assert(buf.size <= 5, "buffer must never exceed k counters")
    assert(buf.contains("hot"), "an element with freq > n/k must survive")
    // mergeability: split the stream in 4, merge partial summaries
    val merged = stream.grouped(40).toList
      .map(part => part.foldLeft(mg.zero)(mg.reduce))
      .reduce(mg.merge)
    assert(merged.size <= 5)
    assert(merged.contains("hot"), "the merged summary keeps the heavy hitter")
  }

  test("q86: heavy hitters are exact — sketch candidates verified by real counts") {
    import spark.implicits._
    // 'the' holds 50% of 600 tokens; each unique token's single occurrence
    // is under the 1/200 threshold (200·1 < 600)
    val docs = (1L to 300L).map(i => (i, s"the unique$i"))
      .toDF("doc_id", "text")
    val out = Curation.heavyHittersOn(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("the" -> 300L),
      s"only the dominant token passes the exact threshold, got $out")
  }

  test("q85: merged incremental counts equal a full recompute") {
    val merged = Curation.incrementalVocab(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(spark, sf)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === full,
      "incremental merge must reproduce the from-scratch vocabulary exactly")
  }

  test("q85: the day-1 base index is built once and reused") {
    Curation.incrementalVocab(spark, sf).count() // ensure built
    val success = new java.io.File(Curation.vocabIndex(spark, sf), Fixtures.Marker)
    assert(success.exists(), "persisted base index must exist after a run")
    val mtime = success.lastModified()
    Curation.incrementalVocab(spark, sf).count()
    assert(success.lastModified() === mtime,
      "a second run must reuse the persisted base, not rebuild it")
  }

  test("q163 sequence packing: complete coverage, bounded overflow, dense bins") {
    import org.apache.spark.sql.functions._
    val c = Curation.packCapacity
    val docs = Tables.documents(spark, sf).select(col("source"), col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
    val nDocs = docs.count()
    val maxTok = docs.agg(max("tok")).head.getLong(0)
    assert(maxTok < c, "fixture doc exceeds the pack capacity — bound below is vacuous")

    val packed = Curation.sequencePack(spark, sf).collect()
    // coverage: every document lands in exactly one bin
    assert(packed.map(_.getLong(2)).sum === nDocs)
    // overflow law of start-fit packing: a bin's tokens span at most
    // C + (one straddling document) — strictly less than C + maxTok
    packed.foreach { r =>
      assert(r.getLong(3) < c + maxTok,
        s"bin (${r.getString(0)}, ${r.getLong(1)}) overflowed: ${r.getLong(3)}")
    }
    // density: every bin except each source's LAST is filled past C - maxTok
    // (a start offset below that line would have landed in the same bin)
    val lastBin = packed.groupBy(_.getString(0))
      .map { case (src, rs) => src -> rs.map(_.getLong(1)).max }
    packed.foreach { r =>
      if (r.getLong(1) != lastBin(r.getString(0)))
        assert(r.getLong(3) > c - maxTok,
          s"non-final bin (${r.getString(0)}, ${r.getLong(1)}) too sparse: ${r.getLong(3)}")
    }
    // bins are contiguous per source and doc ranges don't interleave
    packed.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (0L until sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4),
          "doc ranges of consecutive bins must not interleave")
        case _ =>
      }
    }
    // one shuffle on the shard key: the window and the aggregate share it
    val plan = Curation.sequencePack(spark, sf).queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 <= 2,
      s"packing should cost at most the source shuffle (+AQE coalesce):\n$plan")
  }

  test("q164 incremental packing: append equals rebuild; day-1 state is reused") {
    val rebuild = Curation.sequencePack(spark, sf)
    val append = Curation.sequencePackIncremental(spark, sf)
    assert(rebuild.count() > 0)
    assert(rebuild.exceptAll(append).isEmpty && append.exceptAll(rebuild).isEmpty,
      "append path must reproduce the full-corpus rebuild exactly")
    // second call reuses the persisted day-1 pack + carry, not a rebuild
    val marker = new java.io.File(Curation.packState(spark, sf), Fixtures.Marker)
    assert(marker.exists(), "persisted day-1 state must exist after a run")
    val mtime = marker.lastModified()
    Curation.sequencePackIncremental(spark, sf).count()
    assert(marker.lastModified() === mtime,
      "a second run must reuse the persisted day-1 state, not rebuild it")
  }

  test("q165 global offsets: no data-sized single-partition window; offsets contiguous") {
    import org.apache.spark.sql.functions._
    val df = Curation.packGlobalOffsets(spark, sf)
    // the single-partition exchange may exist only for the per-shard-totals
    // fold (rows = number of sources); the DATA window must stay partitioned
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("Exchange SinglePartition").length - 1 <= 1,
      s"more than the tiny base-offset fold runs single-partition:\n$plan")
    assert(plan.contains("Window") &&
      plan.contains("Exchange hashpartitioning(source"),
      s"per-shard window lost its shard partitioning:\n$plan")
    // offsets are a permutation-free contiguous packing: sorted by
    // global_off, each doc starts exactly where the previous ended
    val rows = df.orderBy("global_off").collect()
      .map(r => (r.getLong(3), r.getLong(2)))
    assert(rows.nonEmpty && rows.head._1 === 0L)
    rows.sliding(2).foreach {
      case Array((off1, tok1), (off2, _)) =>
        assert(off2 === off1 + tok1, s"gap/overlap at offset $off2")
      case _ =>
    }
  }
}
