package graft

import org.apache.spark.sql.types.StructType
import graft.streaming.Gates

/** One pass over the whole registry at sf0.001, shared by the three
  * registry-wide checks (RelationalSpec's rows test, GateHygieneSpec's
  * schema and leftovers tests), so the registry runs once per suite run.
  * Per query: its output schema and row count, or the error it threw, and
  * whatever it left behind on the caller's session — a `graft_*` temp
  * view, an active stream, or a gate conf key whose value changed. Gates
  * run their streams inside the query function. Every query runs, so a
  * failing one never hides the ones after it. */
object RegistrySweep {
  final case class Swept(name: String, result: Either[Throwable, (StructType, Long)],
                         leftovers: Seq[String])

  val sf = "/root/testdata/sf0.001"

  lazy val swept: Seq[Swept] = {
    val spark = SparkTestSession.spark
    def graftViews: Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).filter(_.startsWith("graft_")).toSet
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val viewsBefore = graftViews
      val confBefore = Gates.confKeys.map(k => k -> spark.conf.getOption(k))
      val result =
        try { val df = fn(spark, sf); Right((df.schema, df.count())) }
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      val leftovers = (graftViews -- viewsBefore).toSeq.sorted.map(v => s"temp view $v") ++
        spark.streams.active.map(q => s"active stream ${q.name}") ++
        confBefore.collect { case (k, v) if spark.conf.getOption(k) != v =>
          s"conf $k = ${spark.conf.getOption(k)}, was $v" }
      Swept(name, result, leftovers)
    }
  }

  /** "name: message" for every query that threw. */
  def errors: Seq[String] = swept.collect { case Swept(n, Left(e), _) =>
    s"$n: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString}"
  }
}
