package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Tuning

/** One benchmark run inside one JVM: set-up (timed several times), the
  * measured window, and the correctness check. Writes its result as JSON to
  * `--out`; `run.py` adds the registry oracle check and prints the line.
  *
  * Usage: perfbench.Main --workload stream_paced|stream_burst|registry
  *   --seed N --seconds S --trace 0|1 --out FILE --run-dir DIR [--spans FILE]
  *   stream workloads: --rate L (paced) | --burst-invoices N (burst)
  *   registry: --scale SF --queries a,b,..
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  /** A measured window's output: end-to-end metrics, per-layer metrics,
    * operation counts and the report lines (named metrics beyond the result). */
  final case class Window(e2e: Map[String, Double], layers: Map[String, Double],
                          attempted: Long, failed: Long, failures: Seq[String],
                          report: Map[String, Double], spans: Seq[Span])

  /** Set-up runs this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val runDir = a("run-dir")
    Files.createDirectories(Paths.get(runDir))
    val calibrationMs = calibrate()
    val cores = Runtime.getRuntime.availableProcessors()
    val traced = a("trace") == "1"
    val result = a("workload") match {
      case "stream_paced" | "stream_burst" => streamWorkload(a, runDir, cores, traced)
      case "registry"                     => registryWorkload(a, runDir, cores, traced)
      case w                              => sys.error(s"unknown workload $w")
    }
    val stamp = result._2 ++ Map(
      "calibration_ms" -> calibrationMs, "cores" -> cores,
      "jvm" -> System.getProperty("java.version"))
    a.m.get("spans").foreach { f =>
      Files.write(Paths.get(f), result._1.spans.map(Json.span).mkString("", "\n", "\n").getBytes)
    }
    val w = result._1
    Files.writeString(Paths.get(a("out")), Json.obj(Map(
      "e2e" -> w.e2e, "layers" -> w.layers, "attempted" -> w.attempted,
      "failed" -> w.failed, "failures" -> w.failures, "report" -> w.report,
      "stamp" -> stamp, "extra" -> result._3)))
  }

  /** A fixed integer loop: its time tracks the host's single-core speed. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 300000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println()
    (System.nanoTime() - t0) / 1e6
  }

  def session(cores: Int, shufflePartitions: Int, runDir: String, rocksDb: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
    if (rocksDb) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tuning.applyCheckpointIoDefaults(s)
    s
  }

  def conf(s: SparkSession): Map[String, Any] = Seq(
    "spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    .map(k => k -> s.conf.getOption(k).getOrElse("")).toMap[String, Any] +
    ("spark" -> s.version)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = System.nanoTime()

  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(jvmStart)}%6.1f s] $msg")

  // ---- stream workloads -----------------------------------------------------

  def streamWorkload(a: Args, runDir: String, cores: Int, traced: Boolean)
      : (Window, Map[String, Any], Map[String, Any]) = {
    val paced = a("workload") == "stream_paced"
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val mode: StreamBench.Mode =
      if (paced) StreamBench.Paced(a("rate").toInt) else StreamBench.Burst(2)
    val inputDir = s"$runDir/input"
    var spark: SparkSession = null
    var feed: Gen.Feed = null
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      feed =
        if (paced) Gen.contiguous(seed, a("rate").toInt * seconds)
        else Gen.interleaved(seed, a("burst-invoices").toInt)
      Files.createDirectories(Paths.get(inputDir))
      Files.write(Paths.get(s"$inputDir/lines.txt"), feed.lines.mkString("\n").getBytes)
      spark = session(cores, Tuning.shufflePartitions(inputDir, cores), runDir, rocksDb = true)
      warmUp(spark, seed + r, s"$runDir/ckpt/warm$r")
      log(f"stream set-up $r: ${secs(t0)}%.2f s")
      secs(t0)
    }
    val stamp = conf(spark) ++ Map("seed" -> seed, "setup_s_each" -> setups)

    // the batch fold is the reference every stream window is checked against
    val fold = StreamBench.fold(spark, feed.lines, stepped = traced)
    log("batch fold done")
    val foldCounts = Gen.Topics.map(t => t -> fold.rows.collect { case ((`t`, _), n) => n }.sum).toMap
    val genCounts = feed.topicCounts
    val topicErr = Gen.Topics.map(t => math.abs(foldCounts(t) - genCounts(t))).sum

    /** Stream windows until `seconds` have passed (paced: one window, its
      * feed lasts `seconds`; burst: at least three). */
    def measure(tracer: Option[Tracer], run: Int): Window = {
      tracer.foreach(_.register(spark))
      val t0 = System.nanoTime()
      var outs = Vector.empty[StreamBench.Outcome]
      while (outs.isEmpty || (!paced && (outs.size < 3 || secs(t0) < seconds)))
        outs :+= StreamBench.run(spark, feed, mode, s"$runDir/ckpt/main$run-${outs.size}")
      tracer.foreach(_.unregister(spark))
      log(s"stream window $run done: ${outs.size} x ${outs.head.emissions.size} rows, " +
        s"drain ms ${outs.map(o => o.consumedMs - o.startMs).mkString(" ")}")
      val failures = outs.flatMap { out =>
        val streamErr = StreamBench.mismatches(out.multiset, fold.rows)
        (if (streamErr > 0) Seq(s"stream output differs from the batch fold in $streamErr rows") else Nil) ++
        (if (!out.complete) Seq("not every invoice was emitted before the wait ended") else Nil) ++
        (if (paced && out.genLateMsMax > StreamBench.TickMs)
          Seq(f"generator ran ${out.genLateMsMax}%.0f ms late, over one tick: run invalid") else Nil)
      } ++ (if (topicErr > 0)
        Seq(s"batch fold per-topic counts $foldCounts differ from the generator's $genCounts") else Nil)
      val failed = outs.map { out =>
        StreamBench.mismatches(out.multiset, fold.rows).toLong +
          (if (paced && out.genLateMsMax > StreamBench.TickMs) 1 else 0)
      }.sum + topicErr
      val attempted = genCounts.values.sum.toLong * outs.size
      // paced: due-time latency percentiles over the invoices, and lines
      // over the feed span plus the median lateness (the last invoice alone
      // would hinge on one expiry batch), which the offered rate bounds.
      // burst: p50 / p99 over lines of the time from the burst start to the
      // end of the micro-batch that read the line, and lines over the
      // drain (to the end of the batch that read the last chunk), each the
      // median over the windows. Result latency would add the expiry
      // timer's wait for the next 1 s trigger, a 0-1 s step set by the
      // phase the drain ends in.
      val e2e =
        if (paced) {
          val out = outs.head
          val lats = out.latenciesMs
          Map("lat_p50_ms" -> Stats.median(lats), "lat_tail_ms" -> Stats.percentile(lats, 99),
            "rate_per_s" -> feed.lines.length / ((out.feedLog.last._1 - out.startMs + StreamBench.TickMs +
              Stats.median(lats)) / 1000.0))
        } else {
          Map("lat_p50_ms" -> Stats.median(outs.map(_.readLatencyMs(0.5))),
            "lat_tail_ms" -> Stats.median(outs.map(_.readLatencyMs(0.99))),
            "rate_per_s" -> feed.lines.length /
              (Stats.median(outs.map(o => (o.consumedMs - o.startMs).toDouble)) / 1000.0))
        }
      val resultLats = outs.flatMap(_.latenciesMs)
      val report = Map(
        (if (paced) "lat_p50_ms" else "result_lat_p50_ms") -> Stats.median(resultLats),
        (if (paced) "lat_p99_ms" else "result_lat_p99_ms") -> Stats.percentile(resultLats, 99),
        (if (paced) "sustained_lines_per_s" else "drain_lines_per_s") -> e2e("rate_per_s"),
        "windows" -> outs.size.toDouble,
        "latency_samples_per_window" -> outs.head.latenciesMs.size.toDouble,
        "lines_per_window" -> feed.lines.length.toDouble,
        "fail_frac" -> failed.toDouble / attempted)
      val layers = tracer.map { t =>
        val ids = outs.map(_.queryId).toSet
        val ps = t.progresses.filter(p => ids(p.id.toString)).sortBy(p => (p.timestamp, p.batchId))
        val wallMs = outs.map(o => (o.lastEmitMs - o.startMs).toDouble).sum
        // backlog at each trigger: lines fed by then minus lines consumed
        val backlog = outs.flatMap { out =>
          var consumed = 0L
          ps.filter(_.id.toString == out.queryId).map { p =>
            val at = java.time.Instant.parse(p.timestamp).toEpochMilli
            val fed = out.feedLog.takeWhile(_._1 <= at).lastOption.map(_._2).getOrElse(0L)
            val b = fed - consumed
            consumed += p.numInputRows
            b
          }
        }
        val self = Stats.selfByName(t.allSpans)
        Map(
          "gen.late_ms_max" -> (if (paced) outs.map(_.genLateMsMax).max else 0.0),
          "source.backlog_lines_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
          "parse.ms" -> fold.parseMs,
          "parse.dropped_lines" -> (feed.lines.length - fold.routedEvents).toDouble,
          "sessionize.ms" -> fold.sessionizeMs,
          "route.ms" -> fold.routeMs,
          "sink.ms_sum" -> outs.map(_.sinkMsSum).sum,
          "trigger.self_ms_sum" -> self.getOrElse("batch", 0L) / 1e3) ++
          Gen.Topics.map(tp => s"sink.rows.$tp" -> outs.map(_.emissions.count(_.topic == tp)).sum.toDouble) ++
          t.triggerAndState(ps, wallMs) ++ t.sparkMetrics ++ registryZeros
      }.getOrElse(Map.empty)
      // self time per span name: micro-batch, its phases, Spark jobs
      val extraReport = tracer.map { t =>
        Stats.selfByName(t.allSpans).map { case (n, us) => s"self_ms.$n" -> us / 1e3 } +
          ("generator_dropped_lines" -> feed.droppedLines.toDouble)
      }.getOrElse(Map.empty)
      Window(e2e, layers, attempted, failed, failures.distinct, report ++ extraReport,
        tracer.map(_.allSpans).getOrElse(Nil))
    }

    val setupS = Stats.median(setups)
    val plain = measure(None, 0)
    val window =
      if (!traced) plain
      else {
        val t = measure(Some(new Tracer), 1)
        t.copy(attempted = t.attempted + plain.attempted, failed = t.failed + plain.failed,
          failures = plain.failures ++ t.failures,
          report = t.report ++ overhead(plain.e2e, t.e2e))
      }
    var extra = Map.empty[String, Any]
    var checked = window
    if (traced && !paced) {
      // single-thread baseline: a quarter of the burst on local[1], JIT
      // already warm from the windows above; checked against the
      // generator's ground truth
      spark.stop()
      val one = session(1, Tuning.shufflePartitions(inputDir, 1), runDir, rocksDb = true)
      val small = Gen.interleaved(seed, a("burst-invoices").toInt / 4)
      val o = StreamBench.run(one, small, mode, s"$runDir/ckpt/local1")
      val bad = StreamBench.mismatches(o.multiset, small.expected)
      extra = Map("local1_drain_lines_per_s" -> small.lines.length / ((o.consumedMs - o.startMs) / 1000.0),
        "local1_lines" -> small.lines.length)
      checked = window.copy(attempted = window.attempted + small.expected.values.sum,
        failed = window.failed + bad,
        failures = window.failures ++ (if (bad > 0) Seq(s"local[1] output differs in $bad rows") else Nil))
      spark = one
    }
    spark.stop()
    (checked.copy(e2e = checked.e2e + ("setup_s" -> setupS)), stamp, extra)
  }

  /** One micro-batch of ~25k lines through the same pipeline, up to its
    * emissions, on a 100 ms trigger and a 300 ms expiry: enough lines for
    * the JIT to compile the per-line paths before the measured window. */
  def warmUp(spark: SparkSession, seed: Long, ckpt: String): Unit =
    StreamBench.run(spark, Gen.interleaved(seed, 2500), StreamBench.Burst(1), ckpt,
      triggerMs = 100, expiryMs = 300)

  def overhead(plain: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    plain.keys.map(k => s"trace_overhead.$k" -> (traced(k) - plain(k))).toMap

  // ---- registry -------------------------------------------------------------

  def registryWorkload(a: Args, runDir: String, cores: Int, traced: Boolean)
      : (Window, Map[String, Any], Map[String, Any]) = {
    val names = a("queries").split(',').toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registry queries: ${unknown.mkString(",")}")
    val seed = a("seed").toLong
    val scale = a("scale").toDouble
    val data = s"$runDir/data"
    val dumpDir = s"$runDir/dump"
    // a query is a gate if it starts a stream
    val started = new java.util.concurrent.atomic.AtomicLong()
    val counter = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    var spark: SparkSession = null
    // set-up: session start and the seeded tables
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, cores, runDir, rocksDb = false)
      RegistryData.write(spark, data, scale, seed)
      spark.conf.set("spark.sql.shuffle.partitions", Tuning.shufflePartitions(data, cores).toLong)
      log(f"registry set-up $r: ${secs(t0)}%.2f s")
      secs(t0)
    }
    spark.streams.addListener(counter)
    // one untimed pass over the list: warms every query, dumps every result
    // for the oracle check, records which queries are gates, and (traced)
    // the gates' micro-batches: q239 memoizes its stream ingest per data
    // directory, so this is the one execution that runs its stream
    val gateTracer = if (traced) Some(new Tracer) else None
    gateTracer.foreach(_.register(spark))
    val p0 = System.nanoTime()
    val warm = names.map { n =>
      val s0 = started.get()
      val e = RegistryBench.execute(spark, data, n, s"warm:$n", None, Some(dumpDir))
      // stream-start events arrive on the listener bus: let them land
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      (e, started.get() > s0)
    }
    val warmPassS = secs(p0) - warm.map(_._1.dumpMs).sum / 1e3
    gateTracer.foreach(_.unregister(spark))
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json.obj(
      names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val reference = warm.map { case (e, _) => e.name -> e }.toMap
    val gates = warm.collect { case (e, true) => e.name }.toSet
    val gateIngestMs = warm.collect { case (e, true) => e.totalMs }.sum
    val stamp = conf(spark) ++ Map("seed" -> seed, "scale" -> scale, "setup_s_each" -> setups,
      "warm_pass_s" -> warmPassS)

    def measure(tracer: Option[Tracer]): (Window, Map[String, Any]) = {
      tracer.foreach(_.register(spark))
      val (execs, wallS) = RegistryBench.timed(spark, data, names, seed, a("seconds").toInt, tracer)
      tracer.foreach(_.unregister(spark))
      def bad(e: RegistryBench.Exec): Option[String] =
        e.error.map(m => s"${e.name}: $m").orElse {
          val ref = reference(e.name)
          if (ref.error.isDefined) Some(s"${e.name}: warm pass failed: ${ref.error.get}")
          else if (e.digest != ref.digest) Some(s"${e.name}: rows differ from the warm pass")
          else None
        }
      val failures = execs.flatMap(bad)
      val perQuery = execs.groupBy(_.name)
      def med(n: String, f: RegistryBench.Exec => Double) = Stats.median(perQuery(n).map(f))
      val batchExecs = execs.filterNot(e => gates(e.name)).map(_.totalMs / 1e3)
      // over each query's median execution time, not over single
      // executions of nine different queries: the median query and the
      // slowest one; and executions per second of the timed loop
      val medians = names.map(med(_, _.totalMs))
      val e2e = Map(
        "lat_p50_ms" -> Stats.median(medians),
        "lat_tail_ms" -> medians.max,
        "rate_per_s" -> execs.size / wallS)
      val report = Map(
        "batch_p50_s" -> Stats.median(batchExecs),
        "batch_p90_s" -> Stats.percentile(batchExecs, 90),
        "batch_total_s" -> names.filterNot(gates).map(med(_, _.totalMs)).sum / 1e3,
        "gate_total_s" -> names.filter(gates).map(med(_, _.totalMs)).sum / 1e3,
        "executions" -> execs.size.toDouble,
        "fail_frac" -> failures.size.toDouble / execs.size)
      val layers = tracer.map { t =>
        val self = Stats.selfByName(t.allSpans)
        val areaS = RegistryBench.AreaNames.map { ar =>
          s"area.${ar}_s" -> names.filter(n => RegistryBench.areas.get(n).contains(ar))
            .map(med(_, _.totalMs)).sum / 1e3
        }.toMap
        val gateLayers = gateTracer.map { g =>
          g.triggerAndState(g.progresses, gateIngestMs).map { case (k, v) => s"gate.$k" -> v } +
            ("gate.ingest_s" -> gateIngestMs / 1e3)
        }.getOrElse(Map.empty)
        Map(
          "query.build_s" -> names.map(med(_, _.buildMs)).sum / 1e3,
          "query.plan_s" -> names.map(med(_, _.planMs)).sum / 1e3,
          "query.exec_s" -> names.map(med(_, _.execMs)).sum / 1e3,
          "query.self_s" -> self.getOrElse("query", 0L) / 1e6) ++ areaS ++ gateLayers ++
          t.sparkMetrics ++ streamZeros
      }.getOrElse(Map.empty)
      val perQ = names.map { n =>
        n -> Map("executions" -> perQuery(n).size, "failed" -> perQuery(n).count(e => bad(e).isDefined),
          "median_s" -> med(n, _.totalMs) / 1e3, "gate" -> gates(n), "area" -> RegistryBench.areas.getOrElse(n, ""))
      }.toMap
      (Window(e2e, layers, execs.size, failures.size, failures.distinct, report,
        tracer.map(_.allSpans).getOrElse(Nil)), perQ)
    }
    val (plain, perQ) = measure(None)
    val window =
      if (!traced) plain
      else {
        val (t, _) = measure(Some(new Tracer))
        t.copy(attempted = t.attempted + plain.attempted, failed = t.failed + plain.failed,
          failures = (plain.failures ++ t.failures).distinct,
          report = t.report ++ overhead(plain.e2e, t.e2e))
      }
    spark.stop()
    (window.copy(e2e = window.e2e + ("setup_s" -> Stats.median(setups))), stamp,
      Map("queries" -> perQ, "gates" -> gates.toSeq.sorted))
  }

  /** The layers of one workload family read zero on the other: the stream
    * pipeline's on the registry, the registry's on the streams. */
  val streamZeros: Map[String, Double] =
    (Seq("gen.late_ms_max", "source.backlog_lines_max", "parse.ms", "parse.dropped_lines",
      "sessionize.ms", "route.ms", "sink.ms_sum", "trigger.self_ms_sum") ++
      Gen.Topics.map(t => s"sink.rows.$t") ++
      new Tracer().triggerAndState(Nil, 0).keys).map(_ -> 0.0).toMap

  val registryZeros: Map[String, Double] =
    (Seq("query.build_s", "query.plan_s", "query.exec_s", "query.self_s", "gate.ingest_s") ++
      RegistryBench.AreaNames.map(ar => s"area.${ar}_s") ++
      new Tracer().triggerAndState(Nil, 0).keys.map(k => s"gate.$k")).map(_ -> 0.0).toMap
}

/** A minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case b: Boolean                 => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                  => d.toString
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case m: Map[_, _]               => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_]             => s.map(value).mkString("[", ",", "]")
    case o                          => str(o.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def span(s: Span): String = obj(Map("id" -> s.id, "name" -> s.name, "start_us" -> s.start,
    "end_us" -> s.end, "parent" -> s.parent, "request" -> s.request))
}
