package graft

import scala.collection.mutable
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{Encoder, StreamClockAccess, TriggerClock}
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Sessions expire on the reference's trigger: with a 1 s trigger and a 2 s
  * expiry, a session read in batch k is emitted in batch k+2 (the 2nd empty
  * tick, `ticksSinceUpdate >= 2`), by the fMGWS and the TWS state machine
  * alike, however late past its grid point batch k started and however
  * exactly on its grid point batch k+2 starts. Batch times are set by hand:
  * no test here waits on the wall clock. */
class SessionDeadlineSpec extends AnyFunSuite {
  private val TriggerMs = 1000L
  private val ExpiryMs = 2000L
  // a trigger grid point: a multiple of both 1 s and 20 s
  private val Grid = 1700000000000L
  // batch k's start past its grid point: on time (+37 ms) and overran (+850 ms)
  private val ReadOffsets = Seq(37L, 850L)

  private def good(inv: String, price: Double = 2.0) =
    LineEvent(inv, Some(Purchase(inv, 3, "7/19/2011 12:19", price, "c1", "ES")), None)

  test("expiresAt: the reading batch's grid point + expiry - 1 ms") {
    import Sessionizer.expiresAt
    for (off <- 0L +: ReadOffsets :+ 999L)
      assert(expiresAt(Grid + off, ExpiryMs, TriggerMs) === Grid + 1999L, s"read at +$off")
    assert(expiresAt(Grid + TriggerMs, ExpiryMs, TriggerMs) === Grid + 2999L)
    // the reference's 40 s expiry on 20 s ticks
    assert(expiresAt(Grid + 37L, 40000L, 20000L) === Grid + 39999L)
    // no grid (a trigger without an interval)
    assert(expiresAt(Grid + 37L, ExpiryMs, 0L) === Grid + 2036L)
    // an expiry shorter than the trigger: the next batch
    assert(expiresAt(Grid + 500L, 100L, TriggerMs) === Grid + 501L)
  }

  // fMGWS times a key out in the batch starting at ts iff timeout < ts
  for (off <- ReadOffsets)
    test(s"fMGWS: read at grid+$off ms, the timeout fires in batch k+2 and not k+1") {
      val st = TestGroupState.create[SessionState](Optional.empty[SessionState](),
        GroupStateTimeout.ProcessingTimeTimeout, batchProcessingTimeMs = Grid + off,
        eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
      Sessionizer.updateSession(ExpiryMs, TriggerMs)("I1", Iterator(good("I1")), st)
      val timeout: Long = st.getTimeoutTimestampMs.get
      assert(timeout < Grid + 2 * TriggerMs,
        s"armed at grid+${timeout - Grid}: batch k+2, starting on its grid point, would not fire")
      assert(timeout >= Grid + 2 * TriggerMs - 1,
        s"armed at grid+${timeout - Grid}: batch k+1 would fire if it started late")
    }

  /** A one-key handle that records what the processor does with it. */
  private final class OneKeyHandle extends StatefulProcessorHandle {
    val timers = mutable.SortedSet[Long]()
    private val values = mutable.Map[String, Any]()
    private val lists = mutable.Map[String, List[Any]]()

    override def getValueState[T](name: String, enc: Encoder[T], ttl: TTLConfig): ValueState[T] =
      new ValueState[T] {
        def exists(): Boolean = values.contains(name)
        def get(): T = values(name).asInstanceOf[T]
        def update(v: T): Unit = values(name) = v
        def clear(): Unit = values -= name
      }
    override def getValueState[T: Encoder](name: String, ttl: TTLConfig): ValueState[T] =
      getValueState(name, implicitly[Encoder[T]], ttl)
    override def getListState[T](name: String, enc: Encoder[T], ttl: TTLConfig): ListState[T] =
      new ListState[T] {
        private def cur = lists.getOrElse(name, Nil).asInstanceOf[List[T]]
        def exists(): Boolean = lists.contains(name)
        def get(): Iterator[T] = cur.iterator
        def put(vs: Array[T]): Unit = lists(name) = vs.toList
        def appendValue(v: T): Unit = lists(name) = cur :+ v
        def appendList(vs: Array[T]): Unit = lists(name) = cur ++ vs
        def clear(): Unit = lists -= name
      }
    override def getListState[T: Encoder](name: String, ttl: TTLConfig): ListState[T] =
      getListState(name, implicitly[Encoder[T]], ttl)
    override def getMapState[K, V](name: String, k: Encoder[K], v: Encoder[V],
                                   ttl: TTLConfig): MapState[K, V] = ???
    override def getMapState[K: Encoder, V: Encoder](name: String, ttl: TTLConfig): MapState[K, V] = ???
    override def getQueryInfo(): QueryInfo = ???
    override def registerTimer(ms: Long): Unit = timers += ms
    override def deleteTimer(ms: Long): Unit = timers -= ms
    override def listTimers(): Iterator[Long] = timers.iterator
    override def deleteIfExists(name: String): Unit = { values -= name; lists -= name }
  }

  // TWS fires a timer in the batch starting at ts iff timer <= ts
  for (off <- ReadOffsets)
    test(s"TWS: read at grid+$off ms, the one timer is the shared deadline") {
      val handle = new OneKeyHandle
      val p = new SessionizerTws.ProcTimeSessionProcessor(ExpiryMs, TriggerMs)
      p.setHandle(handle)
      p.init(OutputMode.Append(), TimeMode.ProcessingTime())
      def batchAt(ts: Long) = new TimerValues {
        def getCurrentProcessingTimeInMs(): Long = ts
        def getCurrentWatermarkInMs(): Long = -1L
      }
      p.handleInputRows("I1", Iterator(good("I1")), batchAt(Grid + off))
      assert(handle.timers.toSeq === Seq(Sessionizer.expiresAt(Grid + off, ExpiryMs, TriggerMs)))
      assert(handle.timers.toSeq === Seq(Grid + 2 * TriggerMs - 1))
      // touched again in batch k+1: the point delete leaves one timer
      p.handleInputRows("I1", Iterator(good("I1")), batchAt(Grid + TriggerMs))
      assert(handle.timers.toSeq === Seq(Grid + 3 * TriggerMs - 1))
    }

  /** Runs one sessionizer on a hand-moved trigger clock: batch k reads two
    * invoices at grid+37 ms, then batches k+1.. start exactly on their grid
    * points. Returns, per batch after k, the rows emitted so far. */
  private def emittedPerBatch(tws: Boolean): Seq[Seq[String]] = {
    implicit val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[LineEvent]
    val sessions =
      if (tws) SessionizerTws.sessionizeProcTime(input.toDS(), ExpiryMs, TriggerMs)
      else Sessionizer.sessionize(input.toDS(), ExpiryMs, TriggerMs)
    val clock = new TriggerClock(Grid)
    val sink = new MemorySink()
    val ck = java.nio.file.Files.createTempDirectory("deadline").toString
    val q = Gates.start(spark, tws)(StreamClockAccess.start(sessions.map(_.invoiceNo),
      sink, ck, Trigger.ProcessingTime(TriggerMs), clock))
    def settle(startedAt: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (!clock.waitingSince(startedAt) && q.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      q.exception.foreach(e => throw e)
      assert(clock.waitingSince(startedAt), s"no batch finished at grid+${startedAt - Grid}")
    }
    try {
      settle(Grid) // the first trigger finds no data
      input.addData(good("I1"), good("I1", 5.0), LineEvent("E2", None, Some("parse error: x")))
      clock.moveTo(Grid + TriggerMs + 37L) // batch k
      settle(Grid + TriggerMs + 37L)
      (2L to 4L).map { i =>
        clock.moveTo(Grid + i * TriggerMs)
        settle(Grid + i * TriggerMs)
        sink.allData.map(_.getString(0)).sorted
      }
    } finally q.stop()
  }

  test("on a trigger clock, fMGWS and TWS both emit a session read in batch k in batch k+2") {
    val fmgws = emittedPerBatch(tws = false)
    val twsRows = emittedPerBatch(tws = true)
    val all = Seq("E2", "I1")
    assert(fmgws === Seq(Nil, all, all), "fMGWS: rows after batches k+1, k+2, k+3")
    assert(twsRows === Seq(Nil, all, all), "TWS: rows after batches k+1, k+2, k+3")
  }
}
