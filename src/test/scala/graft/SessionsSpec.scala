package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: what every main's session holds. Checks the
  * conf it builds, so no Spark session is needed. */
class SessionsSpec extends AnyFunSuite {

  test("every session holds the checkpoint I/O conf, UTC and no UI; " +
    "streaming mains add the RocksDB state store") {
    for (rocksDb <- Seq(false, true); sfDir <- Seq(None, Some("/root/testdata/sf0.01"))) {
      val pairs = Sessions.conf(4, sfDir, rocksDb)
      assert(pairs.map(_._1).distinct.size === pairs.size, s"duplicate keys: $pairs")
      val conf = pairs.toMap
      Tuning.checkpointIoConf.foreach { case (k, v) => assert(conf.get(k) === Some(v), k) }
      assert(conf.get("spark.sql.session.timeZone") === Some("UTC"))
      assert(conf.get("spark.ui.enabled") === Some("false"))
      assert(conf.get("spark.sql.streaming.stateStore.providerClass") ===
        (if (rocksDb) Some(Sessions.RocksDbProvider) else None))
    }
  }

  test("shuffle partitions follow Tuning's data rule for an sf directory, " +
    "and the core count without one") {
    def parts(cpus: Int, sfDir: Option[String]): String =
      Sessions.conf(cpus, sfDir, rocksDb = false).toMap.apply("spark.sql.shuffle.partitions")
    for (cpus <- Seq(1, 4, 32)) {
      assert(parts(cpus, None) === cpus.toString)
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1", "no-such-sf")) {
        val dir = s"/root/testdata/$sf"
        assert(parts(cpus, Some(dir)) === Tuning.shufflePartitions(dir, cpus).toString, dir)
      }
    }
  }
}
