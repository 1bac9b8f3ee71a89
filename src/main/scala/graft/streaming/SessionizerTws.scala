package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The event-time invoice sessionizer rebuilt on `transformWithState` —
  * Spark 4's arbitrary-state API — with the SAME semantics as
  * [[Sessionizer.sessionizeEventTime]] (the flatMapGroupsWithState
  * version the q216 pipeline runs): per invoice, accumulate routed lines,
  * quirk Q3 (an error event wins its batch and drops that batch's good
  * lines), expiry when the WATERMARK passes max event time + gap,
  * classification at emit. Reference state machine:
  * realtime/InvoicePipeline.scala:192-248.
  *
  * What the TWS restatement exercises that the GroupState version can't:
  * COMPOSED state variables — the line list lives in a native
  * `ListState` (RocksDB appends, no read-modify-write of a growing blob:
  * appendValue is O(new lines), where GroupState rewrites the whole
  * session every batch — the 100 TB win for long sessions) beside a
  * constant-size `ValueState` for the error/clock metadata — plus
  * EXPLICIT event-time timers (`registerTimer`/`deleteTimer`; fMGWS
  * allows exactly one implicit timeout per key). The q228 gate runs the
  * ENTIRE q216 pipeline with this sessionizer swapped in and must
  * hash-match the same batch oracle: three state APIs (batch fold, fMGWS,
  * TWS), one truth.
  */
object SessionizerTws {

  /** Constant-size per-session metadata beside the line list: the Q3
    * error latch, the event clock the timer re-arms from, and the armed
    * timer's timestamp — remembered so re-arming is a POINT
    * `deleteTimer(prev)` instead of a `listTimers()` iteration over the
    * timer column family (3 store ops per touched key per batch → 2;
    * under overload bursts the per-key constant is what separates the
    * state APIs at short sessions — see THROUGHPUT.md). */
  final case class SessionMeta(errorReason: Option[String], maxEventMs: Long,
                               armedAtMs: Long)

  /** The warm-start snapshot value is ONE bare byte array: Spark's TWS
    * initial-state path constructs the value deserializer once PER KEY
    * (`TransformWithStateExec.processInitialStateRows` — measured at
    * ~0.5 ms/key on the nested `EventSessionState` encoder, 74 s summed
    * across partitions for a 147k-key snapshot, dwarfing the actual
    * store writes; a flat 3-field product still paid ~0.14 ms/key).
    * A single BinaryType leaf makes that per-key tree-walk as small as
    * the API allows; the whole session snapshot (error latch, event
    * clock, line list) rides in our own fixed encoding
    * ([[packInit]]/[[unpackInit]]). At a billion-key migration this is
    * the difference between deserializer bookkeeping dominating and the
    * store writes dominating. */
  def packInit(st: EventSessionState): Array[Byte] = {
    // strings as length-prefixed raw CHARS, not UTF-8: Java's UTF-8
    // encoder silently replaces unpaired surrogates with '?', so a
    // UTF-8-based pack is LOSSY on arbitrary String values (falsified by
    // PackInitProperties on a lone-surrogate input). The char dump is a
    // bijection on the whole String domain at 2 bytes/char — correctness
    // over compactness for a migration snapshot.
    //
    // Encoded via an exact-sized ByteBuffer (big-endian, the same byte
    // layout DataOutputStream produced) instead of a stream: the bulk-load
    // runs pack/unpack once per snapshot KEY, and per-char
    // DataInput/OutputStream calls were a measured hot frame in the q245
    // bulk-load thread samples (2 bounds-checked byte reads per char).
    def strSize(v: String): Int = if (v == null) 4 else 4 + 2 * v.length
    var size = strSize(st.errorReason.orNull) + 8 + 4
    st.lines.foreach { p =>
      size += strSize(p.invoiceNo) + 4 + strSize(p.invoiceDate) + 8 +
        strSize(p.customerID) + strSize(p.country)
    }
    val buf = java.nio.ByteBuffer.allocate(size) // big-endian by default
    def str(v: String): Unit =
      if (v == null) buf.putInt(-1)
      else {
        buf.putInt(v.length)
        var i = 0
        while (i < v.length) { buf.putChar(v.charAt(i)); i += 1 }
      }
    str(st.errorReason.orNull)
    buf.putLong(st.maxEventMs)
    buf.putInt(st.lines.size)
    st.lines.foreach { p =>
      str(p.invoiceNo); buf.putInt(p.quantity); str(p.invoiceDate)
      buf.putDouble(p.unitPrice); str(p.customerID); str(p.country)
    }
    buf.array()
  }

  def unpackInit(bytes: Array[Byte]): EventSessionState = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    def str(): String = {
      val n = buf.getInt
      if (n < 0) null
      else {
        val arr = new Array[Char](n)
        var i = 0
        while (i < n) { arr(i) = buf.getChar; i += 1 }
        new String(arr)
      }
    }
    val reason = Option(str())
    val maxMs = buf.getLong
    val n = buf.getInt
    val lb = List.newBuilder[Purchase]
    var i = 0
    while (i < n) {
      lb += Purchase(str(), buf.getInt, str(), buf.getDouble, str(), str())
      i += 1
    }
    EventSessionState(lb.result(), reason, maxMs)
  }

  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, TimedLineEvent, InvoiceResult, Array[Byte]] {
    @transient private var lines: ListState[Purchase] = _
    @transient private var meta: ValueState[SessionMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lines = getHandle.getListState[Purchase](
        "lines", Encoders.product[Purchase], TTLConfig.NONE)
      meta = getHandle.getValueState[SessionMeta](
        "meta", Encoders.product[SessionMeta], TTLConfig.NONE)
    }

    /** Warm-start bulk load (the q224 bootstrap pattern on the TWS API):
      * invoked once per initial-state key in the FIRST micro-batch,
      * before any input rows. Arming the event-time timer here is the
      * sharp edge — an initial-state-only invoice (no streamed events)
      * emits ONLY because this registration exists; without it every
      * fully-bootstrapped session would vanish silently. */
    override def handleInitialState(invoiceNo: String,
                                    init: Array[Byte],
                                    timerValues: TimerValues): Unit = {
      val st = unpackInit(init)
      // one bulk put, not a per-line appendValue loop: each appendValue is
      // a separate store merge op; the init path runs once per snapshot
      // key, so store-op count per key is the whole cost driver here
      if (st.lines.nonEmpty) lines.put(st.lines.toArray)
      val t = math.max(st.maxEventMs + gapMs,
        timerValues.getCurrentWatermarkInMs() + 1)
      meta.update(SessionMeta(st.errorReason, st.maxEventMs, t))
      getHandle.registerTimer(t)
    }

    override def handleInputRows(invoiceNo: String,
                                 rows: Iterator[TimedLineEvent],
                                 timerValues: TimerValues): Iterator[InvoiceResult] = {
      val evs = rows.toSeq
      val existed = meta.exists()
      val prev =
        if (existed) meta.get() else SessionMeta(None, Long.MinValue, 0L)
      val maxMs = (prev.maxEventMs +: evs.map(_.eventTime.getTime)).max
      // re-arm the expiry: TWS timers are explicit, so drop the previous
      // one first (fMGWS's setTimeoutTimestamp replaces implicitly) —
      // a POINT delete at the remembered timestamp, not a listTimers()
      // scan. The clamp above the watermark mirrors
      // updateSessionEventTime — a session whose events arrive already
      // older than watermark − gap must still get a FUTURE-firing timer,
      // not be rejected.
      val t = math.max(maxMs + gapMs, timerValues.getCurrentWatermarkInMs() + 1)
      val next = evs.collectFirst {
        case TimedLineEvent(_, _, _, Some(reason)) => reason
      } match {
        // Q3: an error event wins the batch; its good lines drop (earlier
        // batches' lines stay — identical to updateSessionEventTime)
        case Some(reason) => SessionMeta(Some(reason), maxMs, t)
        case None =>
          val fresh = evs.flatMap(_.purchase)
          // one appendList merge per batch, not one merge per line
          if (fresh.nonEmpty) lines.appendList(fresh.toArray)
          prev.copy(maxEventMs = maxMs, armedAtMs = t)
      }
      meta.update(next)
      if (existed && prev.armedAtMs != t) getHandle.deleteTimer(prev.armedAtMs)
      if (!existed || prev.armedAtMs != t) getHandle.registerTimer(t)
      Iterator.empty
    }

    override def handleExpiredTimer(invoiceNo: String,
                                    timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[InvoiceResult] = {
      if (!meta.exists()) return Iterator.empty // stale timer, state gone
      val st = SessionState(lines.get().toList, meta.get().errorReason)
      lines.clear(); meta.clear()
      // post-expiry the key has NO state: a late line re-opens a fresh
      // duplicate session — the reference's ST11 semantics, unchanged
      Iterator.single(Sessionizer.classify(invoiceNo, st))
    }
  }

  /** The PROCESSING-TIME twin of [[SessionProcessor]] — the same state
    * machine as [[Sessionizer.updateSession]] (Q3 batch-scoped error
    * latch, inactivity expiry, classify at emit) on the TWS API, for the
    * live pipeline ([[InvoicePipeline.runUnified]], [[RigMain]]) where the
    * expiry clock is wall time. The 100 TB separation this exists to measure:
    * per batch, the ListState pays O(new lines) appendList merges while
    * GroupState REWRITES the whole accumulated session blob — for long
    * sessions (hundreds of lines) the per-trigger write volume diverges.
    * ProcessingTime mode keeps every trigger running a batch, which is
    * exactly right for a continuously-triggered pipeline (and exactly
    * wrong for AvailableNow gates — the round-12 q225 lesson; the gates
    * stay on the event-time processor above).
    *
    * The inactivity timer is armed at [[Sessionizer.expiresAt]]: the trigger
    * grid point that started the batch, plus the expiry, minus 1 ms — the
    * same deadline as the fMGWS twin, so both emit a session on the same
    * trigger although TWS fires on `timer <= batchTs` and fMGWS on
    * `timeout < batchTs`. `triggerMs` is the query's trigger interval, 0
    * for none. */
  class ProcTimeSessionProcessor(expiryMs: Long, triggerMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, LineEvent, InvoiceResult] {
    @transient private var lines: ListState[Purchase] = _
    @transient private var err: ValueState[String] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lines = getHandle.getListState[Purchase](
        "lines", Encoders.product[Purchase], TTLConfig.NONE)
      err = getHandle.getValueState[String](
        "err", Encoders.STRING, TTLConfig.NONE)
      armed = getHandle.getValueState[Long](
        "armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(invoiceNo: String,
                                 rows: Iterator[LineEvent],
                                 timerValues: TimerValues): Iterator[InvoiceResult] = {
      val evs = rows.toSeq
      evs.collectFirst { case LineEvent(_, _, Some(reason)) => reason } match {
        // Q3: an error event wins its batch and drops that batch's good
        // lines (earlier batches' lines stay — same as updateSession)
        case Some(reason) => err.update(reason)
        case None =>
          val fresh = evs.flatMap(_.purchase)
          if (fresh.nonEmpty) lines.appendList(fresh.toArray)
      }
      // inactivity clock: re-arm on every batch that touches the key — a
      // POINT delete at the remembered timestamp, not a listTimers() scan
      val t = Sessionizer.expiresAt(
        timerValues.getCurrentProcessingTimeInMs(), expiryMs, triggerMs)
      val prev = if (armed.exists()) armed.get() else -1L
      if (prev != t) {
        if (prev >= 0L) getHandle.deleteTimer(prev)
        getHandle.registerTimer(t)
        armed.update(t)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(invoiceNo: String,
                                    timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[InvoiceResult] = {
      val reason = if (err.exists()) Some(err.get()) else None
      val retained = lines.get().toList
      if (reason.isEmpty && retained.isEmpty) {
        // stale timer: no session content, but the armed timestamp must
        // still be dropped — leaving it dangles a per-key ValueState and
        // makes the NEXT re-arm point-delete an already-fired timer
        armed.clear()
        return Iterator.empty
      }
      lines.clear(); err.clear(); armed.clear()
      Iterator.single(Sessionizer.classify(invoiceNo,
        SessionState(retained, reason)))
    }
  }

  /** Processing-time TWS sessionization over routed events — the
    * drop-in TWS twin of [[Sessionizer.sessionize]]. */
  def sessionizeProcTime(events: Dataset[LineEvent], expiryMs: Long,
                         triggerMs: Long): Dataset[InvoiceResult] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.invoiceNo)
      .transformWithState(new ProcTimeSessionProcessor(expiryMs, triggerMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Event-time sessionization via transformWithState. Requires the
    * RocksDB state store provider (the API rejects the default HDFS
    * provider) — callers set `spark.sql.streaming.stateStore
    * .providerClass` before starting the query. TimeMode.EventTime:
    * `shouldRunAnotherBatch` fires only on watermark advance, so
    * Trigger.AvailableNow terminates (unlike ProcessingTime mode — the
    * round-12 q225 lesson). */
  def sessionizeEventTime(events: Dataset[TimedLineEvent],
                          gapMs: Long = Sessionizer.DefaultGapMs,
                          watermarkDelay: String = "30 seconds"): Dataset[InvoiceResult] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.invoiceNo)
      .transformWithState(new SessionProcessor(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The TWS sessionizer WARM-STARTED from bulk-loaded state — q224's
    * initial-state bootstrap on the Spark-4 API: the snapshot keys load
    * through [[SessionProcessor.handleInitialState]] in the first
    * micro-batch, today's lines stream on top, and
    * bootstrap-then-stream must still equal stream-everything. */
  def sessionizeEventTimeWithInit(
      events: Dataset[TimedLineEvent],
      initial: org.apache.spark.sql.KeyValueGroupedDataset[String, Array[Byte]],
      gapMs: Long = Sessionizer.DefaultGapMs,
      watermarkDelay: String = "30 seconds"): Dataset[InvoiceResult] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.invoiceNo)
      .transformWithState(new SessionProcessor(gapMs), TimeMode.EventTime(),
        OutputMode.Append(), initial)
  }
}
