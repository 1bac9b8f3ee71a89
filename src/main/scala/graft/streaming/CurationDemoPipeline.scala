package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Hll, Maintenance}

/** Runnable end-to-end demo of the round-6 streaming operator families —
  * the curation-side sibling of [[ServeMain]] (which demos the invoice
  * path). Three concurrent structured-streaming queries consume simulator
  * replays ([[Simulator.replayToDir]] → file source, the same no-broker
  * stand-in as ServeMain):
  *
  *  1. native `session_window` gap sessionization
  *     ([[SessionWindows.userSessions]], the q87 twin) over an event
  *     stream;
  *  2. streaming HLL distinct-user sketch maintenance ([[Hll.registers]]
  *     — max-merged registers, so micro-batch boundaries can't change the
  *     state) with the corrected estimate printed against the exact count;
  *  3. streaming CDC apply ([[Maintenance.applyChangesStream]]): a
  *     changefeed replayed in chunks MERGEs into a parquet target that
  *     must converge to the new snapshot.
  *
  * Usage: runMain graft.streaming.CurationDemoPipeline <workDir> [runSeconds]
  */
object CurationDemoPipeline {
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-curation-demo")
    val runSeconds = if (args.length > 1) args(1).toInt else 15

    implicit val spark: SparkSession = graft.Sessions.local(rocksDb = true)
    import spark.implicits._

    val evDir = s"$workDir/events-in"
    val cdcDir = s"$workDir/cdc-in"
    Seq(evDir, cdcDir).foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val sessionsDir = s"$workDir/sessions"
    val regsDir = s"$workDir/hll-registers"
    val targetDir = s"$workDir/cdc-target"

    // --- simulated inputs ---------------------------------------------------
    // event stream: "user_id,ts_us,event_type" — 40 users, bursts separated
    // by > gap so sessions split deterministically
    val gapUs = 60L * 1000000L
    val eventLines = for {
      u <- 1 to 40; burst <- 0 to 2; k <- 0 to (u % 3 + 1)
    } yield {
      val ts = 1700000000000000L + burst * 10 * gapUs + k * 1000000L + u
      s"$u,$ts,${if (k % 2 == 0) "click" else "view"}"
    }
    // CDC: old snapshot (id, name, bal) and a changefeed that must land on
    // the new snapshot — same deterministic arithmetic as q89/q90
    val oldSnap = (1L to 100L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "bal")
    val newSnap = (1L to 112L).filter(_ % 13 != 5)
      .map(i => (i, s"n$i", if (i % 7 == 2) i * 1.5 + 100.0 else i * 1.5))
      .toDF("id", "name", "bal")
    oldSnap.write.mode("overwrite").parquet(targetDir)
    val feedLines = Maintenance
      .snapshotDiff(oldSnap, newSnap, Seq("id"))
      .select(col("id"), col("change"), col("new_name"), col("new_bal"))
      .collect()
      .map(r => s"${r.getLong(0)},${r.getString(1)},${Option(r.getString(2)).getOrElse("")}," +
        (if (r.isNullAt(3)) "" else r.getDouble(3).toString))

    // --- query 1: native session_window sessions ----------------------------
    val events = spark.readStream.textFile(evDir)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("user_id"),
        timestamp_micros(col("f").getItem(1).cast("long")).as("ts"),
        col("f").getItem(2).as("event_type"))
    val sessions = SessionWindows.userSessions(events, gapUs)
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$workDir/ckpt-sessions")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(sessionsDir)
        ()
      }.start()

    // --- query 2: streaming HLL register maintenance ------------------------
    val hll = Hll.registers(events, Seq("event_type"), col("user_id"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$workDir/ckpt-hll")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(regsDir)
        ()
      }.start()

    // --- query 3: streaming CDC apply ---------------------------------------
    val changes = spark.readStream.textFile(cdcDir)
      .select(split(col("value"), ",", -1).as("f"))
      .select(col("f").getItem(0).cast("long").as("id"),
        col("f").getItem(1).as("change"),
        when(col("f").getItem(2) === "", lit(null)).otherwise(col("f").getItem(2))
          .as("new_name"),
        // 'D' rows carry empty new_* fields; ANSI cast of "" throws
        when(col("f").getItem(3) === "", lit(null).cast("double"))
          .otherwise(col("f").getItem(3).cast("double")).as("new_bal"))
    val cdc = Maintenance.applyChangesStream(changes, targetDir, Seq("id"),
      s"$workDir/ckpt-cdc")

    // replay: events in timed micro-batch files, the changefeed in 3 chunks
    Simulator.replayToDir(eventLines.iterator, evDir, linesPerFile = 50)
    Simulator.replayToDir(feedLines.iterator, cdcDir,
      linesPerFile = math.max(1, feedLines.length / 3))

    val deadline = System.currentTimeMillis() + runSeconds * 1000L
    Seq(sessions, hll, cdc).foreach { q =>
      q.processAllAvailable()
      if (System.currentTimeMillis() > deadline)
        System.err.println("[demo] warning: processing exceeded runSeconds")
    }
    Seq(sessions, hll, cdc).foreach(_.stop())

    // --- summaries (the demo's contract: printed, human-checkable) ----------
    val sess = spark.read.parquet(sessionsDir)
    val nSess = sess.count()
    val nUsers = sess.select("user_id").distinct().count()
    println(f"SESSIONS: $nSess sessions over $nUsers users " +
      f"(expect 3 bursts/user => ${nSess / 40.0}%.1f avg)")

    val regs = spark.read.parquet(regsDir)
    val sketch = Hll.sketch(regs, Seq("event_type")).collect()
    val exact = (1 to 40).size // every user emits both types
    sketch.foreach { r =>
      val est = Hll.correctedEstimate(r.getLong(1), r.getDouble(3))
      println(f"HLL ${r.getString(0)}%-6s distinct-user estimate $est%.1f (exact $exact)")
    }

    val got = spark.read.parquet(targetDir).collect().map(_.toString).sorted.toSeq
    val want = newSnap.collect().map(_.toString).sorted.toSeq
    println(s"CDC: target ${got.length} rows, converged to new snapshot: ${got == want}")
    spark.stop()
  }
}
