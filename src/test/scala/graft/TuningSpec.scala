package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the data-proportional partition defaults (round-15 verdict #3):
  * the sf3 super-linear rows were fixed by hand with SPARK_GRAFT_CPUS=64;
  * Tuning derives that from input bytes so no manual override exists to
  * forget. The exact sf0.1 value is pinned because the driver's bench
  * comparability depends on it not drifting. */
class TuningSpec extends AnyFunSuite {

  test("gate SFs keep the historical cpus-sized shuffle partitioning") {
    // bench comparability: sf0.1 and below must still plan at 32
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
      assert(Tuning.shufflePartitions(s"/root/testdata/$sf", 32) === 32, sf)
  }

  test("partition count grows with input bytes, in whole core waves") {
    // synthetic byte sizes through the core formula (dir-independent math):
    // 557 MB at 8 MB target = 70 raw -> 96 (3 waves of 32)
    def parts(bytes: Long, cores: Int): Int = {
      val t = Tuning.DefaultTargetBytesPerPartition
      val byData = ((bytes + t - 1) / t).toInt
      val raw = math.max(cores, byData)
      ((raw + cores - 1) / cores) * cores
    }
    assert(parts(557L << 20, 32) === 96)
    assert(parts(17L << 20, 32) === 32)
    // the real dirs agree with the formula
    val sf01 = Tuning.totalInputBytes("/root/testdata/sf0.1")
    assert(sf01 > 0)
    assert(Tuning.shufflePartitions("/root/testdata/sf0.1", 32) === parts(sf01, 32))
    // rounded to whole waves for any core count
    for (cores <- Seq(4, 8, 32); mb <- Seq(1L, 100L, 557L, 5000L)) {
      val p = parts(mb << 20, cores)
      assert(p % cores === 0 && p >= cores, s"cores=$cores mb=$mb p=$p")
    }
  }

  test("missing dir degrades to the core floor, not an exception") {
    assert(Tuning.shufflePartitions("/no/such/dir", 32) === 32)
  }
}
