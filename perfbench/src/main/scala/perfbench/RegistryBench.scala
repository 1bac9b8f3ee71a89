package perfbench

import java.util.SplittableRandom
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession

/** Closed loop, one client: a fixed named list of `SparkEntry.queries`,
  * each execution timed as build (the query function, which runs a gate's
  * stream eagerly) → plan (`executedPlan`) → exec (`collect`). */
object RegistryBench {

  /** The registry object each query name comes from. */
  lazy val areas: Map[String, String] = {
    import graft.queries._
    Seq("Relational" -> Relational.defs, "MlQueries" -> MlQueries.defs,
        "Extensions" -> Extensions.defs, "Curation" -> Curation.defs,
        "LayoutQueries" -> LayoutQueries.defs, "Stats" -> Stats.defs,
        "MaintenanceQueries" -> MaintenanceQueries.defs, "ScaleJoins" -> ScaleJoins.defs,
        "PipelineReplay" -> PipelineReplay.defs, "ReferenceQueries" -> ReferenceQueries.defs)
      .flatMap { case (area, defs) => defs.keys.map(_ -> area) }.toMap
  }
  /** The areas the benchmark can run: every `ReferenceQueries` query reads
    * the reference model directory, which a checkout does not hold. */
  val AreaNames: Seq[String] = Seq("Relational", "MlQueries", "Extensions", "Curation",
    "LayoutQueries", "Stats", "MaintenanceQueries", "ScaleJoins", "PipelineReplay")

  final case class Exec(name: String, buildMs: Double, planMs: Double, execMs: Double,
                        error: Option[String], digest: Int, dumpMs: Double = 0) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  /** Order-insensitive digest of a result's rows. */
  def digest(rows: Array[org.apache.spark.sql.Row]): Int =
    MurmurHash3.unorderedHash(rows.iterator.map(_.toString))

  /** Runs `name` once; `tracer`, when given, records the query's spans and
    * tags its jobs with a job group of the request id. `dumpDir`, when
    * given, receives the collected rows as one parquet file. */
  def execute(spark: SparkSession, sf: String, name: String, request: String,
              tracer: Option[Tracer] = None,
              dumpDir: Option[String] = None): Exec = {
    val fn = graft.SparkEntry.queries(name)
    val sc = spark.sparkContext
    sc.setJobGroup(request, name, interruptOnCancel = false)
    var b, p, e = 0.0
    val qs = Trace.nowMicros()
    val qid = tracer.map(_.nextId()).getOrElse(0L)
    def step[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val st = Trace.nowMicros()
      val r = f
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.foreach(_.add(s"query.$label", st, Trace.nowMicros(), qid, request))
      (r, ms)
    }
    val out = try {
      val (df, bMs) = step("build")(fn(spark, sf)); b = bMs
      val (_, pMs) = step("plan")(df.queryExecution.executedPlan); p = pMs
      val (rows, eMs) = step("exec")(df.collect()); e = eMs
      val d0 = System.nanoTime()
      dumpDir.foreach { d =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
      }
      Exec(name, b, p, e, None, digest(rows), (System.nanoTime() - d0) / 1e6)
    } catch {
      case t: Throwable =>
        Exec(name, b, p, e, Some(Option(t.getMessage).getOrElse(t.getClass.getName)
          .linesIterator.take(1).mkString.take(200)), 0)
    } finally sc.clearJobGroup()
    tracer.foreach(_.put(Span(qid, "query", qs, Trace.nowMicros(), 0, request)))
    out
  }

  /** Passes over `names`, each in a fresh seed-shuffled order, until
    * `seconds` have elapsed, at least four: a query's median over fewer
    * executions swings with single slow ones. */
  def timed(spark: SparkSession, sf: String, names: Seq[String], seed: Long,
            seconds: Int, tracer: Option[Tracer]): (Seq[Exec], Double) = {
    val rnd = new SplittableRandom(seed ^ 0x5EEDL)
    val out = Vector.newBuilder[Exec]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 4 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val order = names.toArray
      for (i <- order.indices.reverse if i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
      }
      order.foreach(n => out += execute(spark, sf, n, s"q:$n:$pass", tracer))
      pass += 1
    }
    (out.result(), (System.nanoTime() - t0) / 1e9)
  }
}
