package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.ManualClock

/** A trigger clock a test moves by hand. The stream thread blocks in
  * `waitTillTime` between triggers; `waitingSince(t)` is true once a
  * trigger that started at `t` has finished and the next one is awaited. */
class TriggerClock(startMs: Long) extends ManualClock(startMs) {
  private var waitStart: Option[Long] = None

  override def waitTillTime(targetMs: Long): Long = synchronized {
    try {
      waitStart = Some(getTimeMillis())
      super.waitTillTime(targetMs)
    } finally waitStart = None
  }

  def moveTo(ms: Long): Unit = setTime(ms)

  def waitingSince(ms: Long): Boolean = synchronized(waitStart.contains(ms))
}

/** Test access to the one Spark-internal entry a trigger-counting test
  * needs: starting an append-mode query on a caller-driven trigger clock,
  * into a memory sink that keeps each batch's rows. */
object StreamClockAccess {
  def start(ds: Dataset[_], sink: MemorySink, checkpoint: String,
            trigger: Trigger, clock: TriggerClock): StreamingQuery =
    ds.sparkSession.streams.asInstanceOf[classic.StreamingQueryManager]
      .startQuery(None, Some(checkpoint), ds.asInstanceOf[classic.Dataset[_]],
        Map.empty, sink, OutputMode.Append(), false, true, trigger, clock)
}
