package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** The one bounded-stream runner behind every registry gate: set the gate
  * conf, start the query under `Trigger.AvailableNow`, wait for it with a
  * hard ceiling, tear it down, and hand back the memory sink's rows and
  * the query's progress.
  *
  * Conf scoping rests on one engine fact: a `StreamExecution` clones its
  * session when it is constructed, inside `start()`, so every micro-batch
  * plans against the conf that was in force at that moment. The gate conf
  * therefore only has to hold while `start()` runs. It is set on the
  * caller's own session (a query started from another session would be
  * invisible to `StreamingQueryListener`s registered on the caller's) and
  * restored right after, under a lock held for that window only — never
  * across the run itself. GateHygieneSpec pins the capture by name.
  */
object Gates {

  /** State partitions for a gate's fresh checkpoint. Each stateful
    * micro-batch commits one state store per partition, so at gate scale
    * the session default is fixed overhead with no data underneath;
    * results are partition-count-invariant. q240 passes 16 to exercise a
    * resize. */
  val StatePartitions = 8

  /** Where a gate's output goes. */
  sealed trait Sink
  /** In-memory table in `mode` ("complete" or "append"), detached onto the
    * caller's session when the run ends. */
  final case class Memory(mode: String) extends Sink
  /** Exactly-once parquet output with a retained checkpoint. */
  final case class Parquet(path: String, checkpoint: String) extends Sink
  /** A per-micro-batch function, optionally over a retained checkpoint. */
  final case class ForeachBatch(fn: (DataFrame, Long) => Unit,
                                checkpoint: Option[String] = None) extends Sink

  /** A finished run: the memory sink's rows (empty for the other sinks)
    * and the query's progress events. */
  final case class Ran(rows: DataFrame, progress: Array[StreamingQueryProgress])

  /** transformWithState needs the RocksDB provider. Changelog checkpointing
    * commits the per-batch changelog instead of a full snapshot every
    * micro-batch. `trackTotalNumberOfRows` costs one RocksDB GET per
    * put/merge/delete (26% of stateful-task CPU in the q235 bulk load) and
    * feeds only the numTotalStateRows metric, never results. */
  private val rocksDbConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> graft.Sessions.RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  private def gateConf(tws: Boolean, partitions: Int): Seq[(String, String)] =
    ("spark.sql.shuffle.partitions" -> partitions.toString) +:
      (graft.Tuning.checkpointIoConf ++ (if (tws) rocksDbConf else Nil))

  /** Every key a gate may set on the caller's session. */
  private[graft] val confKeys: Seq[String] =
    gateConf(tws = true, StatePartitions).map(_._1)

  private val startLock = new Object

  /** Run `body` (which must return a started query) with the gate conf
    * set on `s`, then restore `s`'s prior values. The query keeps the
    * gate conf for its whole life through its start-time session clone. */
  def start(s: SparkSession, tws: Boolean = false,
            partitions: Int = StatePartitions)(body: => StreamingQuery): StreamingQuery =
    startLock.synchronized {
      val conf = gateConf(tws, partitions)
      val prior = conf.map { case (k, _) => k -> s.conf.getOption(k) }
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }

  /** Run `plan` to completion as gate `name` into `sink`. The plan is
    * built inside the conf window, so keep fixture preparation out of it. */
  def run(s: SparkSession, name: String, sink: Sink, tws: Boolean = false,
          partitions: Int = StatePartitions)(plan: => Dataset[_]): Ran = {
    val q = start(s, tws, partitions) {
      val w = plan.toDF().writeStream.trigger(Trigger.AvailableNow())
      sink match {
        case Memory(mode) =>
          w.format("memory").queryName(name).outputMode(mode).start()
        case Parquet(path, ck) =>
          w.format("parquet").option("path", path)
            .option("checkpointLocation", ck).outputMode("append").start()
        case ForeachBatch(fn, ck) =>
          ck.fold(w)(w.option("checkpointLocation", _)).foreachBatch(fn).start()
      }
    }
    try {
      awaitBounded(q, name)
      val rows = sink match {
        case Memory(_) => detach(s, name)
        case _         => s.emptyDataFrame
      }
      Ran(rows, q.recentProgress)
    } finally if (sink.isInstanceOf[Memory]) s.catalog.dropTempView(name)
  }

  /** Copy a memory-sink table into a local DataFrame on `s`, so repeated
    * runs never accumulate result tables (gate sinks are report-sized). */
  private def detach(s: SparkSession, name: String): DataFrame = {
    val t = s.table(name)
    s.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
  }

  /** Ceiling for one gate run. Gates at gate scale finish in seconds; the
    * default is a ~20× margin over the heaviest (q234, ~20 s at sf0.1), so
    * a healthy slow run never reads as a hang. `SPARK_GRAFT_GATE_TIMEOUT_MS`
    * raises it for gates run at production scale. */
  private[graft] val defaultTimeoutMs: Long =
    sys.env.get("SPARK_GRAFT_GATE_TIMEOUT_MS").map(_.toLong).getOrElse(420000L)

  /** Wait for `q` to terminate, at most `timeoutMs`: a non-terminating
    * query fails its own gate loudly instead of holding the whole run
    * hostage. Rethrows a failed query's error; always stops `q`. */
  def awaitBounded(q: StreamingQuery, name: String,
                   timeoutMs: Long = defaultTimeoutMs): Unit =
    try require(q.awaitTermination(timeoutMs),
      s"streaming gate '$name' did not terminate within $timeoutMs ms")
    finally q.stop()

  /** Message marker of a failure a gate injects on purpose. */
  val InjectedMarker = "graft-injected"

  /** Run `body`, which must die on an injected failure. Only that failure
    * is absorbed; any other error is a real bug and propagates. */
  def expectInjectedCrash(what: String)(body: => Any): Unit = {
    def injected(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(InjectedMarker)) ||
        injected(t.getCause))
    val died = try { body; false } catch { case e: Throwable if injected(e) => true }
    require(died, s"first run was expected to die on the injected $what, but survived")
  }
}
