package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.util.Random

/** S5: load simulator (simulation/InvoiceDataProducer.scala rebuilt).
  *
  * The reference replays a CSV file to Kafka at 5–10 ms/line. Without a
  * broker in the test environment, this replays to a directory consumed by
  * Spark's file streaming source (`spark.readStream.text(dir)`), which
  * preserves the essential property — lines arrive in timed micro-batches
  * keyed by arrival file. For a Kafka topic, write each line as a
  * record value; [[InvoicePipeline.runUnified]]'s (topic, value) output is
  * already in the shape a Kafka sink writes.
  */
object Simulator {

  /** Replay `lines` into `dir` as numbered text files of `linesPerFile`,
    * sleeping `delayMsPerLine` (+ up to `jitterMs`) per line like the
    * reference's 5 + rand(0..5) ms. Returns the number of files written. */
  def replayToDir(
      lines: Iterator[String],
      dir: String,
      linesPerFile: Int = 100,
      delayMsPerLine: Int = 0,
      jitterMs: Int = 0,
      seed: Long = 42L): Int = {
    Files.createDirectories(Paths.get(dir))
    val rnd = new Random(seed)
    var fileNo = 0
    lines.grouped(linesPerFile).foreach { group =>
      if (delayMsPerLine > 0 || jitterMs > 0)
        group.foreach { _ =>
          Thread.sleep(delayMsPerLine + (if (jitterMs > 0) rnd.nextInt(jitterMs + 1) else 0))
        }
      val tmp = Paths.get(dir, s".part-$fileNo.tmp")
      Files.write(tmp, String.join("\n", group: _*).getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      // atomic rename so the file source never sees a half-written file
      Files.move(tmp, Paths.get(dir, s"part-$fileNo.txt"))
      fileNo += 1
    }
    fileNo
  }
}
