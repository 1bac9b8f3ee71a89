package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.RigMain

/** The streaming rig's four feeds at a small size, two on each state
  * machine: the expiring feeds emit every invoice, the long-expiry feeds
  * end with every invoice live, every report carries its per-batch
  * durations, and no run leaves a query or a listener behind. */
class RigSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One run on the RocksDB store the rig's own session uses (TWS needs
    * it); the caller's provider is restored afterwards. */
  private def rig(mode: String, tws: Boolean, sizes: Int*): RigMain.Report = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    val listeners = spark.streams.listListeners().length
    spark.conf.set(key, Sessions.RocksDbProvider)
    val r = try RigMain.run(mode, tws, sizes)(spark)
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.streams.active.isEmpty, s"$mode left a query running")
    assert(spark.streams.listListeners().length === listeners, s"$mode left its listener behind")
    assert(r.batches.nonEmpty && r.batches.forall(b => b.triggerMs >= b.addBatchMs && b.addBatchMs >= 0),
      s"$mode batches without durations: ${r.batches.map(_.line).mkString("\n")}")
    r
  }

  test("drain on fMGWS emits every invoice") {
    val r = rig("drain", tws = false, 2000, 200)
    assert(r.emitted === 200, r.summary)
    assert(r.summary.startsWith("THROUGHPUT api=fmgws lines=2000 invoices_emitted=200 "), r.summary)
  }

  test("paced on TWS emits every invoice, each in a batch that reports its latency") {
    val r = rig("paced", tws = true, 2000, 200, 1000)
    assert(r.emitted === 200, r.summary)
    assert(r.summary.startsWith("THROUGHPUT api=tws lines=2000 rate=1000 invoices_emitted=200 "), r.summary)
    assert(r.summary.contains(" lat_over_expiry_p95_ms="), r.summary)
    val emitting = r.batches.filter(_.emitted > 0)
    assert(emitting.map(_.emitted).sum === 200 && emitting.forall(_.latMaxMs != -1L),
      r.batches.map(_.line).mkString("\n"))
  }

  test("wide on TWS ends with every invoice live, one data batch per wave") {
    val r = rig("wide", tws = true, 200, 2)
    assert(r.emitted === 0, r.summary)
    // TWS counts rows per state variable, so at least one per invoice
    assert(r.liveStateRows >= 200, r.summary)
    assert(r.batches.count(_.inputRows > 0) === 10, r.batches.map(_.line).mkString("\n"))
    assert(r.summary.startsWith("STATESCALE api=tws mode=wide invoices=200 lines=400 "), r.summary)
  }

  test("long on fMGWS ends with every invoice live, one data batch per wave") {
    val r = rig("long", tws = false, 100, 20)
    assert(r.emitted === 0, r.summary)
    assert(r.liveStateRows === 100, r.summary)
    assert(r.batches.count(_.inputRows > 0) === 10, r.batches.map(_.line).mkString("\n"))
    assert(r.summary.startsWith("STATESCALE api=fmgws mode=long invoices=100 lines=2000 "), r.summary)
  }
}
