package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-invoice session state: accumulated lines plus a sticky error reason
  * (realtime/InvoicePipeline.scala:59-64). The DStream tick counter is gone:
  * the state-store timeout is the expiry clock, armed at
  * [[Sessionizer.expiresAt]] so that it fires on the reference's tick (the
  * 2nd empty trigger after the last line for a 40 s expiry on 20 s ticks). */
final case class SessionState(
    lines: List[Purchase],
    errorReason: Option[String])

/** A finished session, already classified (ST6/ST7 merged into one emit).
  * `status` ∈ {"error", "valid"}; feature fields are NaN-free only for
  * valid invoices. */
final case class InvoiceResult(
    invoiceNo: String,
    status: String,
    reason: String,
    avgUnitPrice: Double,
    minUnitPrice: Double,
    maxUnitPrice: Double,
    time: Double,
    numberItems: Double,
    lineCount: Int,
    customerId: String)

/** A routed line event carrying its EVENT time — the input of the
  * event-time sessionizer ([[Sessionizer.sessionizeEventTime]]). */
final case class TimedLineEvent(
    invoiceNo: String,
    eventTime: java.sql.Timestamp,
    purchase: Option[Purchase],
    errorReason: Option[String])

/** Event-time session state: [[SessionState]] plus the session's max event
  * time — the quantity the watermark clock closes on. */
final case class EventSessionState(
    lines: List[Purchase],
    errorReason: Option[String],
    maxEventMs: Long)

/** ST4/ST5/ST6/ST7: keyed sessionization with inactivity expiry, rebuilt on
  * `flatMapGroupsWithState` + ProcessingTimeTimeout.
  *
  * Reference state machine (InvoicePipeline.scala:192-248):
  *  - any parse-error event in a batch records the reason and DROPS that
  *    batch's good lines (quirk Q3);
  *  - good lines append and reset the inactivity clock;
  *  - ≥40 s of silence completes the session; completed state is removed, so
  *    a late line re-opens a fresh (duplicate) session — same as the
  *    reference's post-expiry `None` (ST11).
  *
  * Scale: state lives in the state store keyed by invoiceNo (RocksDB provider
  * in production — `spark.sql.streaming.stateStore.providerClass`), sessions
  * are bounded (tens of lines), and each micro-batch shuffles only the new
  * lines, not the state. At 1000 executors the shuffle key (invoiceNo) is
  * high-cardinality and unskewed.
  */
object Sessionizer {

  val DefaultTimeout = "40 seconds"

  /** Milliseconds in an interval string such as "40 seconds" — the grammar
    * of `GroupState.setTimeoutDuration(String)`. Parsed once per query. */
  def durationMs(interval: String): Long = {
    import org.apache.spark.sql.catalyst.util.IntervalUtils
    val ms = IntervalUtils.getDuration(IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval)),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    require(ms > 0, s"session timeout must be positive: $interval")
    ms
  }

  /** The processing-time session deadline, shared by both state machines
    * ([[updateSession]] and [[SessionizerTws.ProcTimeSessionProcessor]]).
    *
    * A session last touched by the batch that started at `batchTs` expires
    * at the trigger grid point that started that batch (`batchTs` rounded
    * down to a multiple of `triggerMs`; Spark schedules processing-time
    * triggers on that grid) plus `expiryMs`, minus 1 ms. The two engines
    * fire on different comparisons: fMGWS times a key out when
    * `timeout < batchTs`, strictly, and TWS fires a timer when
    * `timer <= batchTs`. One millisecond before the grid point makes both
    * fire in the batch that starts exactly on it, and neither fires a
    * trigger earlier. So a session read in batch k is emitted in the batch
    * of grid point k + expiry/interval — batch k+2 for a 2 s expiry on 1 s
    * triggers, or the reference's 40 s on 20 s ticks (`ticksSinceUpdate >=
    * 2`) — even when batch k itself started late. Arming from `batchTs`
    * instead would wait one trigger more whenever batch k+2 started no
    * later past its grid point than batch k did.
    *
    * `triggerMs` = 0 means no grid (any other trigger). The deadline is
    * never at or before `batchTs`: an expiry shorter than the trigger
    * emits in the next batch. */
  def expiresAt(batchTs: Long, expiryMs: Long, triggerMs: Long): Long = {
    val grid = if (triggerMs > 0) batchTs - Math.floorMod(batchTs, triggerMs) else batchTs
    math.max(grid + expiryMs - 1, batchTs + 1)
  }

  /** ST6 priority cascade + A2 fold at emit time. Stream semantics: hour and
    * customer come from the FIRST line (quirk Q2 — batch uses max(hour);
    * documented, stream keeps first-line semantics as primary). */
  def classify(invoiceNo: String, st: SessionState): InvoiceResult = {
    def error(reason: String) =
      InvoiceResult(invoiceNo, "error", reason,
        Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, st.lines.size, null)
    st.errorReason match {
      case Some(reason) => error(reason)
      case None if st.lines.isEmpty => error("no purchase lines")
      case None =>
        val lines = st.lines
        if (lines.exists(p => p.customerID == null || p.customerID.isEmpty))
          error("missing customer ID")
        else if (lines.exists(p => PurchaseCsv.extractHour(p.invoiceDate) < 0))
          error("invalid invoice date")
        else if (lines.exists(p => p.country == null || p.country.isEmpty))
          error("missing country")
        else {
          val prices = lines.map(_.unitPrice)
          InvoiceResult(
            invoiceNo, "valid", null,
            avgUnitPrice = prices.sum / prices.size,
            minUnitPrice = prices.min,
            maxUnitPrice = prices.max,
            time = PurchaseCsv.extractHour(lines.head.invoiceDate),
            numberItems = lines.map(_.quantity).sum.toDouble,
            lineCount = lines.size,
            customerId = lines.head.customerID)
        }
    }
  }

  /** The flatMapGroupsWithState update function. Public so tests can drive
    * it with TestGroupState. ProcessingTimeTimeout takes only a duration, so
    * the deadline [[expiresAt]] is armed as its distance from the batch
    * time. */
  def updateSession(expiryMs: Long, triggerMs: Long)(
      invoiceNo: String,
      events: Iterator[LineEvent],
      state: GroupState[SessionState]): Iterator[InvoiceResult] = {
    if (state.hasTimedOut) {
      val out = classify(invoiceNo, state.get)
      state.remove()
      Iterator.single(out)
    } else {
      val evs = events.toSeq
      val prev = state.getOption.getOrElse(SessionState(Nil, None))
      val next = evs.collectFirst { case LineEvent(_, _, Some(reason)) => reason } match {
        // Q3: an error event wins the batch; its good lines are dropped.
        case Some(reason) => prev.copy(errorReason = Some(reason))
        case None         => prev.copy(lines = prev.lines ++ evs.flatMap(_.purchase))
      }
      state.update(next)
      val now = state.getCurrentProcessingTimeMs()
      state.setTimeoutDuration(expiresAt(now, expiryMs, triggerMs) - now)
      Iterator.empty
    }
  }

  /** Wire the sessionizer over a STREAM of routed events. Note: on a static
    * (batch) Dataset this emits nothing by design — sessions complete only
    * via the processing-time timeout, which a one-shot batch execution never
    * fires. For batch replay, group events per invoice and call `classify`
    * directly (see ReferenceParitySpec). `triggerMs` is the query's trigger
    * interval, 0 for none ([[expiresAt]]). */
  def sessionize(events: Dataset[LineEvent], expiryMs: Long, triggerMs: Long)
                (implicit spark: SparkSession): Dataset[InvoiceResult] = {
    import spark.implicits._
    events
      .groupByKey(_.invoiceNo)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        updateSession(expiryMs, triggerMs))
  }

  /** Batch replay: treat ALL of an invoice's events as one closed session
    * and classify it. Quirk Q3 collapses to "any error event wins the whole
    * session" because the entire history is a single batch. This is the
    * offline counterpart of the streaming sessionizer (reprocessing a day
    * of raw lines at rest), expressed as one groupByKey + mapGroups —
    * a single shuffle on the invoice key.
    *
    * Ordering caveat: mapGroups does not guarantee event order within a
    * group, so the first-line-derived fields (`time`, `customerId`) are
    * only deterministic when each invoice's events carry one distinct
    * value (the common case); order-insensitive outputs (status, reason,
    * price aggregates, counts) are always deterministic. */
  def sessionizeBatch(events: Dataset[LineEvent])
                     (implicit spark: SparkSession): Dataset[InvoiceResult] = {
    import spark.implicits._
    events.groupByKey(_.invoiceNo).mapGroups(classifyFold _)
  }

  /** Single-pass fold equivalent of `classify` over a whole-history group:
    * no group materialization (unbounded-key safe — a billion-line invoice
    * folds in constant memory) and an early exit on the first error event
    * (quirk Q3 drops the lines anyway). Equality with the materializing
    * path is property-tested (PropertySpec) — note the cascade is
    * CHECK-priority, not line-priority: a missing customer on the last
    * line outranks an invalid date on the first, so the per-check flags
    * fold across every line. Double accumulation runs in iteration order,
    * matching List.sum's foldLeft exactly; numberItems stays Int
    * arithmetic to preserve the reference's overflow semantics. */
  def classifyFold(invoiceNo: String, evs: Iterator[LineEvent]): InvoiceResult = {
    var missingCustomer = false
    var badDate = false
    var missingCountry = false
    var first: Purchase = null
    var n = 0
    var priceSum = 0.0
    var priceMin = Double.MaxValue
    var priceMax = Double.MinValue
    var items = 0 // Int on purpose — classify sums quantities as Int
    while (evs.hasNext) {
      val e = evs.next()
      e.errorReason match {
        case Some(reason) =>
          // Q3: the first error event wins the whole session and empties it
          return InvoiceResult(invoiceNo, "error", reason,
            Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, 0, null)
        case None =>
          e.purchase match {
            case Some(p) =>
              n += 1
              if (p.customerID == null || p.customerID.isEmpty) missingCustomer = true
              if (!badDate && PurchaseCsv.extractHour(p.invoiceDate) < 0) badDate = true
              if (p.country == null || p.country.isEmpty) missingCountry = true
              priceSum += p.unitPrice
              if (first == null) {
                first = p; priceMin = p.unitPrice; priceMax = p.unitPrice
              } else {
                // IEEE TOTAL ordering via Double.compare — List.min/max's
                // Ordering.Double.TotalOrdering semantics (NaN greatest,
                // -0.0 < 0.0), first element kept on ties
                if (java.lang.Double.compare(p.unitPrice, priceMin) < 0) priceMin = p.unitPrice
                if (java.lang.Double.compare(p.unitPrice, priceMax) > 0) priceMax = p.unitPrice
              }
              items += p.quantity
            case None => ()
          }
      }
    }
    def error(reason: String) =
      InvoiceResult(invoiceNo, "error", reason,
        Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, n, null)
    if (n == 0) error("no purchase lines")
    else if (missingCustomer) error("missing customer ID")
    else if (badDate) error("invalid invoice date")
    else if (missingCountry) error("missing country")
    else InvoiceResult(invoiceNo, "valid", null,
      avgUnitPrice = priceSum / n,
      minUnitPrice = priceMin,
      maxUnitPrice = priceMax,
      time = PurchaseCsv.extractHour(first.invoiceDate),
      numberItems = items.toDouble,
      lineCount = n,
      customerId = first.customerID)
  }

  // --- Event-time variant (ST11 extension) ---------------------------------

  val DefaultGapMs: Long = 40000L

  /** The event-time update function: identical state machine to
    * [[updateSession]] — Q3 batch semantics, same classification at emit —
    * with ONE change: the expiry clock. A session closes when the
    * WATERMARK passes its max event time + gap, not when 40 s of
    * wall-clock silence elapse. The timeout timestamp is clamped above
    * the current watermark (Spark rejects a timestamp at or below it —
    * reachable when a session's events arrive already older than the
    * watermark minus the gap). */
  def updateSessionEventTime(gapMs: Long)(
      invoiceNo: String,
      events: Iterator[TimedLineEvent],
      state: GroupState[EventSessionState]): Iterator[InvoiceResult] = {
    if (state.hasTimedOut) {
      val st = state.get
      val out = classify(invoiceNo, SessionState(st.lines, st.errorReason))
      state.remove()
      Iterator.single(out)
    } else {
      val evs = events.toSeq
      val prev = state.getOption.getOrElse(EventSessionState(Nil, None, Long.MinValue))
      val maxMs = (prev.maxEventMs +: evs.map(_.eventTime.getTime)).max
      val next = evs.collectFirst { case TimedLineEvent(_, _, _, Some(reason)) => reason } match {
        // Q3 unchanged: an error event wins the batch; its good lines drop
        case Some(reason) => prev.copy(errorReason = Some(reason), maxEventMs = maxMs)
        case None => prev.copy(lines = prev.lines ++ evs.flatMap(_.purchase),
          maxEventMs = maxMs)
      }
      state.update(next)
      state.setTimeoutTimestamp(math.max(maxMs + gapMs, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** The WATERMARKED event-time twin of [[sessionize]] — the semantic the
    * reference glosses over by sessionizing on arrival time alone.
    *
    * The reference pipeline (and [[sessionize]], its faithful twin)
    * expires a session after 40 s of WALL-CLOCK silence, so its output
    * depends on arrival timing: a stalled feed splits an invoice into
    * duplicate sessions, and a faster-than-real-time replay merges
    * everything — replaying yesterday's log does NOT reproduce
    * yesterday's sessions. This variant expires on 40 s of EVENT-TIME
    * silence judged against the watermark: replay speed is irrelevant,
    * lines up to `watermarkDelay` late still join their session, and only
    * a line later than that re-opens a duplicate (the deterministic ST11
    * analogue — EventTimeSessionSpec pins each behavior against the
    * processing-time twin). Line ORDER within a session remains arrival
    * order, exactly as in [[sessionize]] — only the expiry clock changes.
    *
    * Scale shape is unchanged: state keyed by invoiceNo, one row per live
    * session, point updates, timeouts fired by the watermark — no ticks,
    * no state scans. */
  def sessionizeEventTime(events: Dataset[TimedLineEvent],
                          gapMs: Long = DefaultGapMs,
                          watermarkDelay: String = "30 seconds")
                         (implicit spark: SparkSession): Dataset[InvoiceResult] = {
    import spark.implicits._
    events
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.invoiceNo)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateSessionEventTime(gapMs))
  }

  /** The event-time sessionizer WARM-STARTED from bulk-loaded state — the
    * state-bootstrap/migration pattern (yesterday's open sessions loaded
    * as `initialState`, today's lines streamed on top). Same update
    * function, same expiry clock; the initial snapshot is whatever a
    * batch fold of the prior window produced. Initial-state-only keys
    * (sessions with no further events) are emitted too: Spark invokes
    * the update function once for them in the first micro-batch, where
    * [[updateSessionEventTime]] arms their event-time timeout from the
    * snapshot's maxEventMs — pinned by the q224 gate, which would lose
    * every fully-bootstrapped invoice if that invocation didn't happen. */
  def sessionizeEventTimeWithInit(
      events: Dataset[TimedLineEvent],
      initial: org.apache.spark.sql.KeyValueGroupedDataset[String, EventSessionState],
      gapMs: Long = DefaultGapMs,
      watermarkDelay: String = "30 seconds")
     (implicit spark: SparkSession): Dataset[InvoiceResult] = {
    import spark.implicits._
    events
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.invoiceNo)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout, initial)(
        updateSessionEventTime(gapMs))
  }
}
