package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Anomaly
import graft.operators.Dedup
import graft.functions.TextFunctions
import graft.streaming.Gates

/** Guards for the DRIVER's verification harness and the preconditions the
  * oracles silently rely on — each test here pins a failure class that has
  * either bitten a round already (array columns: the round-2 q50 red row)
  * or would fail flakily instead of loudly (LSH fixture margins). */
class GateHygieneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("no registry query emits array/map/struct output columns " +
    "(driver comparator sorts rows with pandas; nested cells crash it)") {
    val offending = RegistrySweep.swept.flatMap { w =>
      w.result.fold(_ => Nil, _._1.fields.toSeq).collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] => s"${w.name}.${f.name}"
      }
    }
    val errors = RegistrySweep.errors
    assert(errors.isEmpty && offending.isEmpty,
      s"${errors.size} queries failed:\n${errors.mkString("\n")}\n" +
        s"driver-unsortable columns in registry output: ${offending.mkString(", ")}")
  }

  test("every registry gate leaves the caller's session as it found it: " +
    "no graft_ temp view, no active stream, every gate conf key restored") {
    val dirty = RegistrySweep.swept.filter(_.leftovers.nonEmpty)
      .map(w => s"${w.name}: ${w.leftovers.mkString("; ")}")
    assert(dirty.isEmpty, s"gates left state behind:\n${dirty.mkString("\n")}")
  }

  test("gate conf is captured at start(): the caller's conf is restored " +
    "while the query runs, and the query keeps the gate's state partitions") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val callerValue = spark.conf.get(key)
    val dir = java.nio.file.Files.createTempDirectory("gate-conf").toString
    val base = System.currentTimeMillis() - 60000L
    (0 until 2).foreach { i =>
      graft.queries.Extensions.writeSingleParquet((i * 10 until i * 10 + 20).toDF("k"),
        dir, s"f$i.parquet", mtime = Some(base + i * 1000L))
    }
    // 16 is the q240 resize path
    Seq(Gates.StatePartitions, 16).foreach { parts =>
      assert(callerValue != parts.toString, "the caller's value must differ")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ran = Gates.run(spark, s"gate_conf_capture_$parts",
          Gates.ForeachBatch { (batch, _) =>
            // read on the stream's thread while the query runs; wait out
            // only the start() window, which a run-long lock never ends
            val deadline = System.currentTimeMillis() + 30000L
            while (spark.conf.get(key) != callerValue &&
              System.currentTimeMillis() < deadline) Thread.sleep(10L)
            seen.add(spark.conf.get(key))
            batch.collect(): Unit
          }, partitions = parts) {
        spark.readStream.schema("k INT").option("maxFilesPerTrigger", 1)
          .parquet(dir).dropDuplicates("k")
      }
      assert(seen.size === 2)
      assert(seen.toArray.forall(_ == callerValue),
        s"caller's $key read ${seen} while the gate ran, expected $callerValue")
      val partsSeen = ran.progress.flatMap(_.stateOperators.map(_.numShufflePartitions))
      assert(partsSeen.nonEmpty && partsSeen.forall(_ == parts),
        s"state partitions ${partsSeen.toSeq}, expected $parts: the query " +
          "no longer keeps the conf it was started under")
    }
  }

  test("every registry query has an oracle — zero rows-only rows") {
    // round 14 closed the last five: the live fits (q17/q18/q19/q131/q133)
    // now emit the q33-style CONTRACT of the fit (exact counts + invariant
    // booleans DuckDB can state) while the fits still run live; their
    // user-facing post-fit pipelines stay hash-oracled via the pinned
    // twins (q51/q54/q130/q132)
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  test("every `runMain graft.…` in the docs names an object with a main") {
    // a renamed or deleted main leaves its doc commands behind; each must
    // still start something
    val cmd = """runMain (graft(?:\.\w+)+)""".r
    val named = Seq("README.md", "THROUGHPUT.md", "SCALE.md", ".claude/skills/verify/SKILL.md")
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
        cmd.findAllMatchIn(text).map(m => s"$f: ${m.group(1)}" -> m.group(1))
      }.distinct
    def hasMain(cls: String): Boolean = scala.util.Try(
      Class.forName(cls, false, getClass.getClassLoader).getMethod("main", classOf[Array[String]])
    ).toOption.exists(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
    val stale = named.collect { case (at, cls) if !hasMain(cls) => at }
    assert(named.nonEmpty, "no `runMain graft.…` command found in the docs")
    assert(stale.isEmpty, s"doc commands naming no main:\n${stale.mkString("\n")}")
  }

  test("README inventory line matches the live registry (counters can't drift)") {
    // every round has left a stale hand-edited counter in README (judge
    // round-4/5 finding); this pins the ONE generated inventory line to the
    // actual registry so a registry change without a README update is red
    val n = SparkEntry.registry.size
    val nOracle = SparkEntry.oracleSql.size
    val maxQ = SparkEntry.registry.keys
      .map(_.drop(1).takeWhile(_.isDigit).toInt).max
    val expected =
      f"Registry: $n queries (q01..q$maxQ%02d), $nOracle with DuckDB oracles."
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(readme.contains(expected),
      s"README.md must contain the generated inventory line:\n  $expected")
  }

  test("README correctness counter matches the live registry") {
    // the prose counter two paragraphs below the inventory line drifted
    // three rounds running (judge round-6 finding #1) — pin it to the same
    // generated source of truth as the inventory line
    val expected = s"Correctness: **${SparkEntry.oracleSql.size}/" +
      s"${SparkEntry.registry.size}** DuckDB-oracle hash-exact"
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(readme.contains(expected),
      s"README.md correctness counter must read:\n  $expected")
  }

  test("README driver-measured bench claims match their named BENCH json") {
    // judge round-6 finding #2: README stated a self-run 50.0 s as THE
    // number while the driver measured 62.6 s. Every claim of the form
    // "driver-measured (round N, `BENCH_rNN.json`): **X s" must now match
    // the value inside that very file — a lying or stale number is red.
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val claim =
      """driver-measured \(round (\d+), `BENCH_r(\d+)\.json`\): \*\*([\d.]+) s""".r
    val claims = claim.findAllMatchIn(readme).toSeq
    assert(claims.nonEmpty,
      "README must carry at least one driver-measured bench claim tied to " +
        "its BENCH_rNN.json source")
    claims.foreach { m =>
      val (round, file, stated) = (m.group(1), m.group(2), m.group(3).toDouble)
      assert(round.toInt === file.toInt, s"round $round cites BENCH_r$file")
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"BENCH_r$file.json")), "UTF-8")
      val v = """"parsed"\s*:\s*\{[^}]*"value"\s*:\s*([\d.]+)""".r
        .findFirstMatchIn(json).map(_.group(1).toDouble)
      assert(v.isDefined, s"BENCH_r$file.json has no parsed.value")
      assert(math.abs(v.get - stated) < 0.1,
        s"README claims ${stated} s for round $round; BENCH_r$file.json " +
          s"parsed.value is ${v.get}")
    }
  }

  test("seed-pinned kmeans fit still reproduces the q51 pinned centers exactly") {
    // q51's oracle scores against literal centers; this is the link back to
    // the live fit — if MLlib initialization or our featurize pipeline ever
    // changes the fit result, this fails here, not silently in the gate
    val feats = graft.ml.canonicalLayout(
      graft.queries.Relational.validFeatures(spark, "/root/testdata/sf0.01"), "invoice_no").cache()
    try {
      val m = Anomaly.trainKMeans(feats, k = 4, seed = 42L, maxIter = 10)
      val got = m.clusterCenters.toSeq.map(_.toArray.toSeq)
      assert(got === graft.queries.MlQueries.pinnedCenters,
        "re-fit centers drifted from MlQueries.pinnedCenters — regenerate " +
          "with runMain graft.ml.PinMain centers and update the constant")
      val b = Anomaly.trainBisecting(feats, k = 3, seed = 42L, maxIter = 5)
      val gotB = b.clusterCenters.toSeq.map(_.toArray.toSeq)
      assert(gotB === graft.queries.MlQueries.pinnedBisectingCenters,
        "re-fit bisecting centers drifted from pinnedBisectingCenters — " +
          "regenerate with runMain graft.ml.PinMain centers")
    } finally feats.unpersist()
  }

  test("seed-pinned logistic fit still reproduces the q130 pinned coefficients exactly") {
    // q130's oracle scores against literal coefficients; this is the link
    // back to the live fit (the q51 discipline) — if MLlib's L-BFGS, the
    // feature pipeline, or the teacher thresholds change, this fails here,
    // not silently in the gate
    val feats = graft.ml.canonicalLayout(
      graft.ml.QualityLr.features(
        Tables.documents(spark, "/root/testdata/sf0.01")), "doc_id").cache()
    try {
      val (w, b) = graft.ml.QualityLr.train(feats)
      assert(w === graft.ml.QualityLr.pinnedWeights &&
        b === graft.ml.QualityLr.pinnedIntercept,
        "re-fit LR drifted from QualityLr.pinned* — an ENVIRONMENT change " +
          "(JVM or BLAS swap, e.g. netlib native) is an expected cause with " +
          "no code change; remedy: runMain graft.ml.PinMain lr, update the " +
          "constants, re-run the oracle gate")
    } finally feats.unpersist()
  }

  test("seed-pinned IVF quantizer fit still reproduces the pinned centers exactly") {
    // q31/q99/q104/q112's oracles inline these centers as plan literals;
    // this is the link back to the live fit (the q51 discipline) — if the
    // k-means init, the canonical layout, or the embeddings fixture change,
    // the quantizer drift fails HERE by name, not as a silent recall drop
    val emb = graft.ml.canonicalLayout(
      Tables.embeddings(spark, "/root/testdata/sf0.01"), "vec_id").cache()
    try {
      val got = graft.operators.Similarity.trainCenters(emb)
      assert(got === graft.ml.PinnedIvfCenters.values,
        "re-fit IVF centers drifted from PinnedIvfCenters — an ENVIRONMENT " +
          "change (JVM or BLAS swap) is an expected cause with no code " +
          "change; remedy: runMain graft.ml.PinMain ivf, update the " +
          "generated file, re-run the oracle gate")
      val gotDup = graft.operators.Similarity.trainCenters(emb,
        cells = graft.operators.Similarity.dupCells)
      assert(gotDup === graft.ml.PinnedDupCenters.values,
        "re-fit dup-blocking centers drifted from PinnedDupCenters — " +
          "remedy: runMain graft.ml.PinMain dup")
    } finally emb.unpersist()
  }

  test("trained IVF quantizer holds the pinned recall floor (q112 family)") {
    // the round-10 trained quantizer's reason to exist: recall@5 at
    // nProbe=4 measured 0.70 (sf0.01) / 0.66 (sf0.1) vs 0.44/0.50 for the
    // old fixed ±1 quantizer. Floor at 0.6 — above everything the fixed
    // quantizer ever measured, with slack for a testdata regeneration
    // (the centers get re-pinned by the refit test above first)
    val d = "/root/testdata/sf0.01"
    val recall = graft.queries.Extensions.annRecallAt5(spark, d)
      .agg(avg(col("hits_at_5"))).head.getDouble(0) / 5.0
    assert(recall >= 0.6, f"IVF mean recall@5 $recall%.3f below the 0.6 floor")
  }

  test("deterministic PCA fit still reproduces the q132 pinned components exactly") {
    // q132's oracle projects against literal components; the
    // eigendecomposition has no RNG, so a fresh fit on the canonical
    // layout must reproduce them bit-for-bit — drift means MLlib's
    // eigensolver or the layout changed
    val emb = graft.ml.canonicalLayout(
      Tables.embeddings(spark, "/root/testdata/sf0.01"), "vec_id").cache()
    try {
      val got = graft.ml.EmbedPca.fit(emb)
      assert(got === graft.ml.EmbedPca.pinnedComponents,
        "re-fit PCA drifted from PinnedPcaComponents — an ENVIRONMENT " +
          "change (JVM or BLAS swap) is an expected cause with no code " +
          "change; remedy: runMain graft.ml.PinMain pca, update the " +
          "constants, re-run the oracle gate")
    } finally emb.unpersist()
  }

  test("q49 label propagation converges in a pinned round count on the fixture") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
      minJaccard = 0.2, numHashes = 32, bands = 8, shingleN = 3)
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    labels.count()
    // near-dup components on the planted fixture are star-shaped: one round
    // to propagate the minimum, one to observe the fixpoint. An edge-set
    // change that deepens components (= more shuffle rounds at scale) must
    // show up here as a diff, not as unexplained slowness.
    assert(rounds <= 3, s"propagation took $rounds rounds (expected <= 3)")
  }

  test("LSH oracle precondition: no document pair in the ambiguous " +
    "jaccard band [0.2, 0.8) at the gate SFs") {
    // The q25/q49 oracles assert LSH output EQUALS the exhaustive
    // jaccard >= 0.2 answer. That equality is only guaranteed because the
    // fixture plants near-dups >= 0.8 (banded 32/8 collision probability
    // ~0.985+ there, empirically 1.0) with background pairs far below the
    // 0.2 threshold. A regenerated fixture with pairs inside the band would
    // fail the gate FLAKILY via band non-collision; this asserts the margin
    // itself so it fails loudly on the precondition instead.
    // inverted-index formulation (shared-shingle GROUP BY for the
    // intersection, union = n_a + n_b − inter) — the same shape as the
    // oracle CTEs; an all-pairs crossJoin with per-pair list ops is the
    // ~3000× slower variant this repo already retired
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val sh = Tables.documents(spark, d)
        .select(col("doc_id"), array_distinct(
          TextFunctions.wordNgrams(TextFunctions.tokens(col("text")), 3)).as("sh"))
        .filter(size(col("sh")) > 0)
      val n = sh.select(col("doc_id"), size(col("sh")).as("n"))
      val inv = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val inter = inv.as("a").join(inv.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      val inBand = inter
        .join(n.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(n.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
        .select((col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("j"))
        .filter(col("j") >= 0.2 && col("j") < 0.8)
        .count()
      assert(inBand === 0L, s"$d has $inBand pairs in the ambiguous band")
    }
  }
}

