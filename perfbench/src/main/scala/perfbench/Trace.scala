package perfbench

import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A traced interval, in microseconds since the epoch. Spans of one request
  * (a micro-batch, a registry query execution) share `request`. */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, request: String)

object Trace {
  def nowMicros(): Long = ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now())

  /** The micro-batch phases Spark reports, in the order it runs them. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}

/** Spans plus the Spark-core and streaming counters of one measured window,
  * collected by a `SparkListener` and a `StreamingQueryListener` that the
  * benchmark registers from outside the program. */
final class Tracer {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  val jobs, stages, tasks = new LongAdder
  val schedDelayMs, taskRunMs, taskCpuNs, gcMs = new LongAdder
  val shuffleReadB, shuffleWriteB, inputB = new LongAdder

  def nextId(): Long = ids.getAndIncrement()

  def add(name: String, start: Long, end: Long, parent: Long, request: String): Long = {
    val id = nextId()
    spans.add(Span(id, name, start, end, parent, request))
    id
  }

  def put(s: Span): Unit = spans.add(s)

  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** All spans, with every job attached to the micro-batch or query span
    * of its request, and every micro-batch's phases as its children. */
  def allSpans: Seq[Span] = {
    val base = spans.asScala.toSeq
    val batchSpans = progresses.flatMap { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli * 1000
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val req = s"${p.id}:${p.batchId}"
      val id = nextId()
      var at = start
      val phases = Trace.Phases.flatMap { ph =>
        d.get(ph).map { ms =>
          val s = Span(nextId(), s"batch.$ph", at, at + ms * 1000, id, req)
          at += ms * 1000
          s
        }
      }
      Span(id, "batch", start, start + d.getOrElse("triggerExecution", 0L) * 1000, 0, req) +: phases
    }
    // a job's parent: the phase of its micro-batch it started in (phases
    // are laid end to end from the batch start), else the batch or the
    // query span of its request
    val owners = (base.filterNot(_.name == "job") ++ batchSpans)
      .filter(s => s.name.startsWith("batch") || s.parent == 0).groupBy(_.request)
    val jobSpans = base.filter(_.name == "job").map { j =>
      val cands = owners.getOrElse(j.request, Nil)
      val phase = cands.find(c => c.name.startsWith("batch.") && c.start <= j.start && j.start < c.end)
      j.copy(parent = phase.orElse(cands.find(_.parent == 0)).map(_.id).getOrElse(0L))
    }
    base.filterNot(_.name == "job") ++ batchSpans ++ jobSpans
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val req = prop("streaming.sql.batchId") match {
        case Some(b) => s"${prop("sql.streaming.queryId").getOrElse("")}:$b"
        case None    => prop("spark.jobGroup.id").getOrElse("")
      }
      jobStarts.put(e.jobId, (e.time * 1000, req))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.increment()
      Option(jobStarts.remove(e.jobId)).foreach { case (s, req) =>
        add("job", s, e.time * 1000, 0, req)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
        inputB.add(m.inputMetrics.bytesRead)
        // the scheduling gap as the Spark UI defines it
        val info = e.taskInfo
        if (info != null && info.finishTime > 0) {
          val gap = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          schedDelayMs.add(math.max(0L, gap))
        }
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** The Spark-core layer: per-window totals. */
  def sparkMetrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs.sum.toDouble,
    "spark.stages" -> stages.sum.toDouble,
    "spark.tasks" -> tasks.sum.toDouble,
    "spark.sched_delay_s" -> schedDelayMs.sum / 1e3,
    "spark.task_run_s" -> taskRunMs.sum / 1e3,
    "spark.task_cpu_s" -> taskCpuNs.sum / 1e9,
    "spark.gc_s" -> gcMs.sum / 1e3,
    "spark.shuffle_read_mb" -> shuffleReadB.sum / 1e6,
    "spark.shuffle_write_mb" -> shuffleWriteB.sum / 1e6,
    "spark.input_mb" -> inputB.sum / 1e6)

  /** The micro-batch engine and state-store layers over `ps`. */
  def triggerAndState(ps: Seq[StreamingQueryProgress], wallMs: Double): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    val exec = ps.map(d(_, "triggerExecution"))
    val ops = ps.flatMap(_.stateOperators.toSeq)
    def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) = ops.map(f).sum
    def opMax(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      if (ops.isEmpty) 0.0 else ops.map(f).max
    Map(
      "trigger.batches" -> ps.size.toDouble,
      "trigger.empty_batches" -> ps.count(_.numInputRows == 0).toDouble,
      "trigger.exec_ms_p50" -> (if (exec.isEmpty) 0.0 else Stats.median(exec)),
      "trigger.exec_ms_max" -> (if (exec.isEmpty) 0.0 else exec.max),
      "trigger.planning_ms_sum" -> ps.map(d(_, "queryPlanning")).sum,
      "trigger.add_batch_ms_sum" -> ps.map(d(_, "addBatch")).sum,
      "trigger.wal_commit_ms_sum" -> ps.map(d(_, "walCommit")).sum,
      "trigger.commit_offsets_ms_sum" -> ps.map(d(_, "commitOffsets")).sum,
      "trigger.busy_frac" -> (if (wallMs > 0) exec.sum / wallMs else 0.0),
      "source.latest_offset_ms_sum" -> ps.map(d(_, "latestOffset")).sum,
      "source.get_batch_ms_sum" -> ps.map(d(_, "getBatch")).sum,
      "state.rows_total_max" -> opMax(_.numRowsTotal.toDouble),
      "state.rows_updated_sum" -> opSum(_.numRowsUpdated.toDouble),
      "state.rows_removed_sum" -> opSum(_.numRowsRemoved.toDouble),
      "state.commit_ms_sum" -> opSum(_.commitTimeMs.toDouble),
      "state.mem_mb_max" -> opMax(_.memoryUsedBytes / 1e6),
      "state.instances" -> opMax(_.numStateStoreInstances.toDouble))
  }
}
