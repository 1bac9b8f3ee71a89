package graft

/** Benchmark main: times every registered query at the given SF and prints
  * ONE JSON line. Methodology:
  *  - an untimed sweep of every selected query absorbs JVM / codegen /
  *    parquet-footer / index-build first-touch costs so no timed query is
  *    a warmup artifact;
  *  - queries run in stable sorted-name order, so round-over-round
  *    comparisons measure the code, not Map iteration order;
  *  - each query runs SPARK_GRAFT_REPS times (default 3); the reported
  *    per-query number and the total are the per-query MEDIANS, so a
  *    single GC pause or compilation stall can't masquerade as a
  *    regression. "queries_min" carries the per-query minimum (the
  *    machine-noise floor) for diagnosis;
  *  - reps are INTERLEAVED round-robin across the registry (rep 1 of
  *    every query, then rep 2, then rep 3 — round-11 verdict #2), not run
  *    back-to-back per query: a query's reps land ~a-full-registry-pass
  *    apart in time, so a multi-second HOST burst inflates at most one of
  *    its three reps and the median rejects it. BENCH_r11 carried ≥1.8×
  *    median/min rows (q02 6.72 vs 1.7-1.8 s isolated; q121 7.27 vs
  *    0.7-0.9) precisely because three consecutive reps all sat inside
  *    one burst window;
  *  - a failing query contributes its elapsed time AND an entry in the
  *    "errors" object — regressions can't hide inside a green total;
  *  - the machine line carries a "worst" object (top-10 medians as
  *    [median,min] pairs) and the FULL per-query detail lands in
  *    BENCHDETAIL.json, so outliers are adjudicable from the round
  *    artifacts alone (median≈min = real; median≫min = noise).
  *
  * Local iteration: SPARK_GRAFT_ONLY=<substring[,substring…]> restricts the
  * run (warm sweep included) to matching query names, and SPARK_GRAFT_REPS
  * sets the reps; a comma list co-measures a claim query with a
  * calibration row in one warm session.
  *
  * Layers: one SparkListener sums each query's jobs, tasks, task seconds,
  * GC seconds and shuffle-write MB over the timed reps, keyed by a job tag
  * set per query run. A tag, unlike a job group, is inherited by a gate's
  * stream thread (StreamExecution sets its own group), so gate work counts
  * for its query. BENCHDETAIL.json carries them per rep, with a stamp of
  * the commit, the cores, a calibration row, the shuffle partitions and the
  * Spark version.
  */
object Bench {
  /** A fixed integer loop, timed once per run before the session starts:
    * its time tracks the host's single-core speed, so runs on different
    * hosts or under different load can be told apart. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 300000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println()
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    val calibrationMs = calibrate()
    val spark = Sessions.local(Some(sfDir))
    val work = new QueryWork
    spark.sparkContext.addSparkListener(work)

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }

    // ONE untimed full sweep of every query before any measurement
    // (round-10 verdict #1): the timed pass runs in lexicographic order on a
    // progressively-dirtier JVM, so without this the early block (q01-q09,
    // q17) reported 2-4× its isolated cost purely from codegen-cache and GC
    // state accumulated by LATER queries in the previous rep — 5 of
    // BENCH_r10's worst-10 rows were that noise, not engine cost. A single
    // sweep warms every codegen shape, parquet footer, library and memoized
    // fit once, so the timed reps all run against the same fully-warm JVM.
    // Its first calls
    // also build what a query memoizes as offline maintenance (q31's IVF
    // index, q52's signature index, q96's edge list, q131's LR fit), so the
    // timed reps measure the query, not the build. A failure here must be
    // LOUD: a failed index build leaves the timed reps paying (or erroring
    // on) it.
    val t0 = System.nanoTime()
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[bench] SWEEP FAILED $name: ${e.getMessage}")
      }
    }
    System.err.println(f"[bench] untimed warm sweep: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // Per-query System.gc() was TESTED round 9 as a fix for the cross-query
    // JVM-state variance (q06 et al. running 2-3× their isolated time in
    // bench context) and REJECTED: it does flatten the early outliers
    // (q06 4.31 → 1.81 s, its isolated value) but the full collections
    // unload generated/JITed classes, so later queries repay compilation
    // every time (q16 1.76 → 7.19 s, q19 1.79 → 6.75 s) — total 83.1 →
    // 104.9 s, a 26% net loss. The variance is the price of a shared warm
    // JVM; per-query medians+mins on the benchdetail line remain the
    // cross-round comparison instrument.
    val times = Array.fill(ordered.size)(Vector.empty[Double])
    val errSeen = Array.fill(ordered.size)(Option.empty[String])
    (1 to reps).foreach { _ =>
      ordered.zipWithIndex.foreach { case ((name, fn), i) =>
        val t0 = System.nanoTime()
        spark.sparkContext.addJobTag(QueryWork.tag(name))
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          if (errSeen(i).isEmpty)
            errSeen(i) = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        } finally spark.sparkContext.removeJobTag(QueryWork.tag(name))
        times(i) :+= (System.nanoTime() - t0) / 1e9
      }
    }
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      (name, median(times(i)), times(i).min, errSeen(i))
    }
    // The driver keeps only the LAST ~2000 bytes of output and parses the
    // JSON line out of that window (BENCH_r{1,2,3}.json all carry
    // "parsed": null because the full-name + queries_min line was ~3.5 KB
    // and never fit). So: per-query detail (full names, medians, mins)
    // goes on a prefixed non-JSON line first, and the final machine line is
    // compact — short qNN keys, 3-decimal values — so the complete JSON
    // object sits inside the tail window.
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def shortKey(name: String): String = name.indexOf('_') match {
      case -1 => name
      case i  => name.substring(0, i)
    }
    val shortKeys = results.map { case (k, _, _, _) => shortKey(k) }
    require(shortKeys.distinct.size == shortKeys.size,
      s"bench: short query keys collide: ${shortKeys.diff(shortKeys.distinct).mkString(",")}")
    val detail = results.map { case (k, med, mn, _) =>
      s"\"" + k + "\":[" + r3(med) + "," + r3(mn) + "]" }.mkString("{", ",", "}")
    println(s"benchdetail [median,min] $detail")
    // 2-decimal per-query values (10 ms resolution — ample for a seconds-
    // scale bench) buy the byte budget for the "worst" object.
    def r2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // per-query entries ordered most-expensive-first: when the byte budget
    // forces shedding (below), the retained prefix is the informative one
    val qEntries = results.sortBy { case (_, med, _, _) => -med }
      .map { case (k, v, _, _) => "\"" + shortKey(k) + "\":" + r2(v) }
    // Top worst queries by median as [median,min] pairs: median≫min says
    // machine noise, median≈min≫record says a real regression — the
    // adjudication the round-9 verdict had to re-measure locally.
    val worstPairs = results.sortBy { case (_, med, _, _) => -med }.take(10)
      .map { case (k, med, mn, _) =>
        "\"" + shortKey(k) + "\":[" + r2(med) + "," + r2(mn) + "]" }
    // cap the error object: a systematic failure (all 60+ queries erroring)
    // must not push the JSON line back out of the driver's tail window —
    // first 3 messages + a count tell the story
    val allErrs = results.collect { case (k, _, _, Some(e)) => (shortKey(k), e) }
    val errs = (allErrs.take(3).map { case (k, e) =>
      "\"" + k + "\":" + Verify.jsonString(e.take(80)) } ++
      (if (allErrs.size > 3) Seq(s""""more_errors":${allErrs.size - 3}""") else Nil))
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The machine line must be the LAST line the driver sees (it keeps the
    // final ~2000 bytes and parses a JSON line out of that window; r1–r5 all
    // recorded "parsed": null while this line carried sbt's "[info] " prefix
    // and was followed by the "[success]" banner). Print it AFTER
    // spark.stop() — nothing in this JVM writes to stdout afterwards — and
    // rely on build.sbt's StdoutOutput + showSuccess=false to keep sbt from
    // decorating or appending to it.
    // environment stamp so a driver-side testdata change (e.g. the round-8
    // parquet writer switch that retyped events.ts) is diagnosable from the
    // BENCH_rN.json line alone: spark version + physical type of events.ts
    val tsType =
      try Tables.events(spark, sfDir).schema("ts").dataType.simpleString
      catch { case e: Throwable => s"err:${e.getClass.getSimpleName}" }
    val env = s"spark=${spark.version};events.ts=$tsType"
    val stamp = s"""{"git_sha":"${git("rev-parse", "HEAD")}",""" +
      s""""git_dirty":${git("status", "--porcelain", "--untracked-files=no").nonEmpty},""" +
      s""""cpus":${Sessions.cpus},""" +
      s""""calibration_ms":${r3(calibrationMs)},""" +
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""spark":"${spark.version}"}"""
    // stop() drains the listener bus, so every timed job is counted below
    spark.stop()
    // The benchdetail line above is itself truncated out of the driver's
    // ~2000-byte tail window, so the full detail, the per-query layers and
    // the stamp go to BENCHDETAIL.json in the cwd.
    val layers = ordered.map { case (k, _) =>
      "\"" + k + "\":" + work.perRep(k, reps).map { case (n, v) => s""""$n":${r3(v)}""" }
        .mkString("{", ",", "}") }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCHDETAIL.json"),
      s"""{"stamp":$stamp,"reps":$reps,"sf":"$sfDir","detail_median_min":$detail,"work_per_rep":$layers}\n""")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCHDETAIL.json write failed: ${e.getMessage}")
    }
    // Length guard: the driver parses the JSON line out of its ~2000-byte
    // tail keep; a line that outgrows the window records "parsed": null and
    // the round loses its bench. At 150+ registry queries the FULL
    // per-query map alone is ~1900 bytes, so the shedding priority is
    // inverted from round 9: total/errors/WORST always ship (worst is the
    // outlier-adjudication instrument the round-9 verdict had to re-measure
    // locally), and the queries map keeps only its most-expensive prefix
    // with an explicit "queries_omitted" count. The complete per-query
    // medians+mins live in the committed BENCHDETAIL.json either way.
    def line(nQ: Int, nWorst: Int, errStr: String): String = {
      val worst = worstPairs.take(nWorst).mkString("{", ",", "}")
      val qs = qEntries.take(nQ).mkString("{", ",", "}")
      val omitted = qEntries.size - nQ
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"env":"$env","worst":$worst,"queries":$qs$om,"errors":$errStr,"sf":"$sfDir"}"""
    }
    val budget = 1900
    val fitted = Iterator.iterate(qEntries.size)(_ - 10)
      .find(n => n <= 0 || line(n, worstPairs.size, errs).length <= budget).get
    if (fitted > 0) println(line(fitted, worstPairs.size, errs))
    else {
      // Fallback (round-10 advice): with queries shed to 0, a grown errors
      // object (many failing queries) can STILL outgrow the tail window —
      // the exact scenario where a parseable line matters most. Shed worst
      // pairs next, then collapse errors to a bare count; some parseable
      // line always ships.
      val errCount = s"""{"n_errors":${allErrs.size}}"""
      val candidates =
        (worstPairs.size to 0 by -1).iterator.map(w => line(0, w, errs)) ++
          Iterator(line(0, 0, errCount))
      println(candidates.find(_.length <= budget).getOrElse(line(0, 0, errCount)))
    }
    System.out.flush()
  }

  /** `git <args>` in the cwd, trimmed; "unknown" outside a checkout. */
  private def git(args: String*): String =
    try scala.sys.process.Process("git" +: args).!!(scala.sys.process.ProcessLogger(_ => ())).trim
    catch { case _: Exception => "unknown" }
}

/** Per-query Spark work for Bench: jobs, tasks, task and GC milliseconds
  * and shuffle-write bytes, summed per query from the job tag its jobs
  * carry. The listener bus calls one listener from one thread, and Bench
  * reads the sums only after `stop()` has drained it. */
private final class QueryWork extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted}
  private val stageQuery = scala.collection.mutable.Map.empty[Int, String]
  private val sums = scala.collection.mutable.Map.empty[String, Array[Long]]
  private def add(q: String, vs: Long*): Unit = {
    val s = sums.getOrElseUpdate(q, new Array[Long](5))
    vs.indices.foreach(i => s(i) += vs(i))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(',').find(_.startsWith(QueryWork.Prefix)))
      .foreach { t =>
        val q = t.stripPrefix(QueryWork.Prefix)
        add(q, 1)
        e.stageIds.foreach(stageQuery(_) = q)
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageQuery.remove(e.stageInfo.stageId).foreach { q =>
      val m = e.stageInfo.taskMetrics
      add(q, 0, e.stageInfo.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten)
    }

  /** One query's jobs, tasks, task s, GC s and shuffle-write MB per rep. */
  def perRep(q: String, reps: Int): Seq[(String, Double)] = {
    val s = sums.getOrElse(q, new Array[Long](5)).map(_.toDouble / reps)
    Seq("jobs" -> s(0), "tasks" -> s(1), "task_s" -> s(2) / 1e3,
      "gc_s" -> s(3) / 1e3, "shuffle_mb" -> s(4) / 1048576)
  }
}

private object QueryWork {
  val Prefix = "graft-bench:"
  def tag(query: String): String = Prefix + query
}
