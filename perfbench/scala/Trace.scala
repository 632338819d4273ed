package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One completed micro-batch as Spark's progress event reports it, plus the
  * ClickHouse fixture's acknowledged row count read when the event arrived. */
final case class BatchRec(runId: String, id: Long, startMs: Long,
    dur: Map[String, Long], inputRows: Long, ackedRows: Long,
    state: Map[String, Double]) {
  def triggerMs: Long = dur.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + triggerMs
  def toMap: Map[String, Any] = Map("run" -> runId, "id" -> id, "start_ms" -> startMs,
    "dur" -> dur, "input_rows" -> inputRows, "acked_rows" -> ackedRows, "state" -> state)
}

/** Progress listener: the only instrument the untraced runs use besides the
  * fixture counters. Idle progress events (no batch ran) are skipped. */
final class ProgressLog(ackedRows: () => Long) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    if (dur.contains("addBatch")) {
      val st = p.stateOperators.headOption.map { s =>
        Map[String, Double]("commitTimeMs" -> s.commitTimeMs.toDouble,
          "allUpdatesTimeMs" -> s.allUpdatesTimeMs.toDouble,
          "memoryUsedBytes" -> s.memoryUsedBytes.toDouble,
          "numStateStoreInstances" -> s.numStateStoreInstances.toDouble,
          "numRowsTotal" -> s.numRowsTotal.toDouble)
      }.getOrElse(Map.empty)
      batches.add(BatchRec(p.runId.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli, dur, p.numInputRows, ackedRows(), st))
    }
  }

  /** The run's batches, once `n` of them have arrived: the listener bus
    * delivers progress events asynchronously. */
  def forRun(runId: String, n: Int): Seq[BatchRec] = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def got = batches.asScala.filter(_.runId == runId).toSeq.sortBy(_.id)
    while (got.size < n && System.nanoTime() < deadline) Thread.sleep(10)
    require(got.size == n, s"expected $n progress events of run $runId, got ${got.size}")
    got
  }
}

/** Scheduler counters per unit of work (a micro-batch, joined through the
  * `streaming.sql.batchId` job property, or a lane named by [[UnitKey]]).
  * Registered only in the traced run, and records only while enabled. */
final class JobTrace extends SparkListener {
  import JobTrace._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  @volatile var enabled = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val unit = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("batch:" + _)
      .orElse(props.flatMap(p => Option(p.getProperty(JobTrace.UnitKey))))
      .getOrElse("other")
    jobs.put(e.jobId, Job(unit, e.jobId, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    val sr = m.map(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead)
      .getOrElse(0L)
    stages.put(i.stageId, Stage(i.numTasks,
      m.map(_.inputMetrics.bytesRead).getOrElse(0L) + sr,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L), sr,
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L)))
  }

  /** Wait for the end events of every recorded job: the listener bus
    * delivers them asynchronously. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (jobs.values().asScala.exists(_.end < 0) && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def jobsOf(unit: String): Seq[Job] =
    jobs.values().asScala.filter(j => j.unit == unit && j.end >= 0).toSeq.sortBy(_.id)

  /** (jobs, stages run, tasks, shuffle bytes, spill bytes, one-task stages
    * reading more than 1 MB) over the given units. */
  def counters(units: Set[String]): Map[String, Double] = {
    val js = jobs.values().asScala.filter(j => units(j.unit)).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))
    Map("jobs" -> js.size.toDouble, "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "shuffle_bytes" -> ss.map(s => s.shuffleWrite + s.shuffleRead).sum.toDouble,
      "spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "one_task_stages" -> ss.count(s => s.tasks == 1 && s.readBytes > (1L << 20)).toDouble)
  }
}

object JobTrace {
  val UnitKey = "perfbench.unit"
  final case class Job(unit: String, id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(tasks: Int, readBytes: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)
}

/** In-memory spans, written once when the run ends. */
final class Spans {
  private val out = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def add(trace: String, name: String, parent: Long, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    out.add(Map("trace" -> trace, "id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs))
    id
  }

  /** Time `f` as a root span of its own (a layer probe call). */
  def timed[T](trace: String, name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    try f finally add(trace, name, 0L, t0, t0 + (System.nanoTime() - n0) / 1e6)
  }

  /** A trigger as the root span, its `durationMs` parts laid end to end in
    * the order the micro-batch runs them, and its jobs under `addBatch`. */
  def addTrigger(b: BatchRec, jobs: Seq[JobTrace.Job]): Unit = {
    val trace = s"batch-${b.id}"
    val root = add(trace, "trigger", 0L, b.startMs.toDouble, b.endMs.toDouble)
    val parts = Spans.PhaseOrder.filter(b.dur.contains) ++
      b.dur.keySet.toSeq.sorted.filterNot(k => Spans.PhaseOrder.contains(k) || k == "triggerExecution")
    var at = b.startMs.toDouble
    parts.foreach { p =>
      val d = b.dur(p).toDouble
      val id = add(trace, p, root, at, at + d)
      if (p == "addBatch") jobs.foreach(j => add(trace, "job", id, j.start.toDouble, j.end.toDouble))
      at += d
    }
  }

  def all: Seq[Map[String, Any]] = out.asScala.toSeq
}

object Spans {
  /** MicroBatchExecution's phase order within one trigger. */
  val PhaseOrder: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
}

object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  /** Peak used bytes summed over the heap pools since [[reset]]. */
  def peak(): Long = pools.map(_.getPeakUsage.getUsed).sum
}
