package graft.tools

import org.apache.spark.sql.functions._

/** Engine-side sf1 correctness laws for the two queries whose DuckDB
  * twins are infeasible in-sandbox at sf1 (q96/q119: the deliberately
  * naive oracle unrolls quantized PageRank iterations over the raw
  * co-purchase pair set — at 6 M lineitems DuckDB's spill exceeded the
  * 74 GB scratch disk; the ENGINE runs them in seconds because the graph
  * is built once, degree-prepared, and iterated via broadcast joins).
  *
  * GenScale's construction makes a sharp law available instead: orders
  * and parts are replica-offset with NO cross-replica edges, so the sf1
  * co-purchase graph is exactly 10 disjoint isomorphic copies of the
  * sf0.1 graph. Hence, for both the uniform (q96) and the brand-seeded
  * (q119) rank — Brand#13's seed set replicates with the parts — the
  * exact engine arithmetic (including the 1e12 floor quantization, which
  * is scale-covariant only approximately) must satisfy:
  *   1. SYMMETRY (exact): pr(v + r·nPart) is identical across replicas r
  *      — every replica's subproblem is bit-identical input;
  *   2. TOP-SET (exact): the sf1 top-50 node multiset = the sf0.1 top-5
  *      nodes × 10 replicas (ties broken by node id on both sides);
  *   3. MASS (approximate): pr_sf1(v_r) ≈ pr_sf0.1(v)/10 — teleport mass
  *      1/N with N = 10·N₀; the floor quantization perturbs this at
  *      ~1e-12 relative, so the law is pinned at 1e-6.
  *
  * Usage: runMain graft.tools.ScaleLaws <sf0.1Dir> <sf1Dir>
  * Prints SCALELAW PASS/FAIL lines; exits nonzero on any FAIL.
  */
object ScaleLaws {
  def main(args: Array[String]): Unit = {
    val Array(small, big) = args
    val spark = graft.Sessions.local(Some(big))
    var failed = false
    def check(name: String, ok: Boolean, detail: String): Unit = {
      println(s"SCALELAW ${if (ok) "PASS" else "FAIL"} $name: $detail")
      if (!ok) failed = true
    }
    try {
      val nPart = graft.Tables.part(spark, small).count()
      val factor = (graft.Tables.part(spark, big).count() / nPart).toInt
      for ((name, fn) <- Seq(
        "q96_copurchase_rank" -> graft.queries.MaintenanceQueries.copurchaseRank _,
        "q119_brand_seeded_rank" -> graft.queries.MaintenanceQueries.brandSeededRank _)) {
        val smallTop = fn(spark, small).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val bigTop = fn(spark, big).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        // 1. symmetry: group sf1 rows by base node; every replica present
        //    with one identical pr value per base node
        val byBase = bigTop.groupBy(_._1 % nPart)
        val symmetric = byBase.values.forall(g =>
          g.length == factor && g.map(_._2).distinct.length == 1 &&
            g.map(_._1 / nPart).sorted.toSeq == (0 until factor).map(_.toLong))
        check(s"$name/symmetry", symmetric,
          s"${byBase.size} base nodes × $factor replicas, equal pr per base")
        // 2. top set: sf1 base nodes == sf0.1 top-(50/factor) nodes
        val expectBases = smallTop.take(bigTop.length / factor).map(_._1).toSet
        check(s"$name/top_set", byBase.keySet == expectBases,
          s"sf1 bases ${byBase.keySet.toSeq.sorted.mkString(",")} vs " +
            s"sf0.1 top ${expectBases.toSeq.sorted.mkString(",")}")
        // 3. mass: pr_sf1 ≈ pr_sf0.1 / factor. Tolerance is set by the
        //    exact-decimal iteration grid: contributions ride as
        //    floor(pr/deg·1e12) integers, and at sf1's 10×-smaller pr the
        //    per-edge integers are O(5e3) — a ~2e-4 relative grid,
        //    compounded over 3 iterations ⇒ pin at 1e-3 and report the
        //    observed maximum.
        val smallPr = smallTop.toMap
        // guard the lookup: a base node missing from the small-side top set
        // already failed the top_set law above — emit a FAIL line for the
        // mass law too instead of aborting the remaining checks with a
        // NoSuchElementException (diagnostics for q111/q186/q208 would be
        // lost even though the exit code stays nonzero)
        val missing = byBase.keys.filterNot(smallPr.contains).toSeq.sorted
        if (missing.nonEmpty)
          check(s"$name/mass", ok = false,
            s"bases absent from sf0.1 top set: ${missing.mkString(",")}")
        else {
          val devs = byBase.map { case (base, g) =>
            val want = smallPr(base) / factor
            math.abs(g.head._2 - want) / math.max(want, 1e-30)
          }
          val maxDev = if (devs.isEmpty) 0.0 else devs.max
          check(s"$name/mass", maxDev <= 1e-3,
            f"pr(v_r) == pr(v)/$factor%d, max rel dev $maxDev%.3e (pin 1e-3)")
        }
      }

      // ---- q111: fuzzy transitive clustering -----------------------------
      // The oracle is an all-pairs levenshtein join (n²/2 = 1.25e9 calls at
      // sf1) plus a recursive closure — it timed out at 20 min in-sandbox.
      // The construction gives an EXACT law instead: content replicates
      // byte-identically, so a cross-replica pair (a_r, b_q) is an edge iff
      // the source pair (a, b) is (lev is a pure function of the titles),
      // and every replica family of one source doc is a lev-0 clique. Thus
      // components merge across replicas without ever merging two distinct
      // source components, and the cluster representative (min doc_id) is
      // always the replica-0 one:
      //   cluster_sf1(id) == cluster_sf0.1(id mod N₀)   for EVERY id.
      // Anchored to the DuckDB-hash-verified sf0.1 result.
      {
        val nDoc = graft.Tables.documents(spark, small).count()
        val fDoc = (graft.Tables.documents(spark, big).count() / nDoc).toInt
        val smallC = graft.queries.ScaleJoins.fuzzyClusters(spark, small)
          .select(col("doc_id").as("base"), col("cluster_id").as("want"))
        val bigC = graft.queries.ScaleJoins.fuzzyClusters(spark, big)
        val joined = bigC.join(smallC, bigC("doc_id") % nDoc === smallC("base"))
        val total = joined.count()
        val bad = joined.filter(col("cluster_id") =!= col("want")).count()
        check("q111_fuzzy_clusters/replica_map",
          total == nDoc * fDoc && bad == 0L,
          s"cluster(id) == cluster_sf0.1(id mod $nDoc) for all $total docs" +
            s" (expected ${nDoc * fDoc}), $bad mismatches")
      }

      // ---- q186: co-purchase clustering coefficients ---------------------
      // Same infeasibility class (the triangle-enumeration oracle exceeded
      // the spill disk at sf1) and same disjoint-copies argument as q208:
      // no co-purchase edge spans replicas, so every per-node quantity
      // (degree, triangle count, coefficient — one IEEE division of exact
      // integers) is identical across replicas and equal to sf0.1's:
      //   (d, tri, coeff)(base + r·nPart) == (d, tri, coeff)_sf0.1(base).
      {
        val nPartL = nPart
        val smallCc = graft.queries.MaintenanceQueries
          .copurchaseClustering(spark, small)
          .select(col("node").as("base"), col("d").as("wd"),
            col("tri").as("wt"), col("coeff").as("wc"))
        val bigCc = graft.queries.MaintenanceQueries
          .copurchaseClustering(spark, big)
        val joined = bigCc.join(smallCc,
          bigCc("node") % nPartL === smallCc("base"))
        val total = joined.count()
        val nSmall = smallCc.count()
        val bad = joined.filter(col("d") =!= col("wd") ||
          col("tri") =!= col("wt") || col("coeff") =!= col("wc")).count()
        val replicasOk = bigCc.count() == nSmall * factor
        check("q186_copurchase_clustering/replica_map",
          replicasOk && total == nSmall * factor && bad == 0L,
          s"(d,tri,coeff)(v_r) == sf0.1's for all $total rows" +
            s" (${nSmall} bases × $factor replicas), $bad mismatches")
      }

      // ---- q208: co-purchase BFS hop distances ---------------------------
      // The oracle unrolls 4 BFS rounds over the full sf1 support-pair set
      // and exceeded the scratch disk (69 GB of DuckDB spill). The law is
      // sharper than a ratio: order keys are replica-offset, so no order —
      // hence no co-purchase edge — spans replicas; the sf1 graph is F
      // disjoint isomorphic copies and min(edge node) lies in replica 0.
      // BFS output must therefore be BYTE-IDENTICAL to sf0.1's.
      {
        val smallH = graft.queries.MaintenanceQueries.copurchaseHops(spark, small)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val bigH = graft.queries.MaintenanceQueries.copurchaseHops(spark, big)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        check("q208_copurchase_hops/identity", smallH == bigH && smallH.nonEmpty,
          s"sf1 BFS frontier (${bigH.size} rows) ≡ sf0.1's (${smallH.size})")
      }
    } finally spark.stop()
    if (failed) sys.exit(1)
  }
}
