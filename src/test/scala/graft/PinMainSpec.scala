package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml._

/** The pin writer re-emits every committed generated object byte for byte
  * from its values, so a regenerated file differs from the committed one
  * only where a refit moved a value. No Spark session needed. */
class PinMainSpec extends AnyFunSuite {
  private def committed(obj: String): String =
    new String(Files.readAllBytes(Paths.get(s"src/main/scala/graft/ml/$obj.scala")), "UTF-8")

  Seq(
    "PinnedIvfCenters" -> (() => PinMain.ivfSource(PinnedIvfCenters.values)),
    "PinnedDupCenters" -> (() => PinMain.dupSource(PinnedDupCenters.values)),
    "PinnedPcaComponents" -> (() => PinMain.pcaSource(PinnedPcaComponents.values)),
    "PinnedPqCodebooks" -> (() => PinMain.pqSource(PinnedPqCodebooks.values)),
    "PinnedBpeMerges" -> (() => PinMain.bpeSource(PinnedBpeMerges.values))
  ).foreach { case (obj, source) =>
    test(s"pin writer re-emits the committed $obj byte for byte") {
      assert(source() == committed(obj),
        s"$obj.scala is not what `graft.ml.PinMain` writes for its values")
    }
  }
}
