package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded on the benchmark's side of each module call. Every span
  * has a layer, a name, a start, an end and a parent; the spans of one op
  * (or one set-up step) share its op id. Times are epoch microseconds, so
  * they line up with the millisecond times Spark's listeners report.
  * Spans stay in memory until the run writes them out. With tracing off,
  * `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "")

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val start = nowUs
      try body
      finally {
        open.set(open.get.tail)
        done.add(Map("id" -> id, "parent" -> parent, "op" -> currentOp.get,
          "layer" -> layer, "name" -> name, "start_us" -> start, "end_us" -> nowUs))
      }
    }

  /** A root span: set-up steps and ops. Spans opened inside it carry `op`. */
  def root[T](op: String, layer: String, name: String)(body: => T): T = {
    val prev = currentOp.get
    currentOp.set(op)
    try span(layer, name)(body)
    finally currentOp.set(prev)
  }

  def spans: Seq[Map[String, Any]] = done.asScala.toSeq
}

/** Spark's public listener APIs, registered by the benchmark: jobs (with
  * the job group that scopes them to an op), stages with their aggregated
  * task metrics, per-task durations, planning phases of every executed
  * query, and streaming micro-batch progress. Events are kept raw; the
  * runner attributes them to ops and layers after the run. */
final class SparkTrace(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  // stage id -> (task duration ms, scheduler delay ms) of finished tasks
  private val tasks = new ConcurrentHashMap[Int, ArrayBuffer[(Long, Long)]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
      events.add(Map("kind" -> "job_start", "job" -> e.jobId, "group" -> group,
        "t_ms" -> e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(Map("kind" -> "job_end", "job" -> e.jobId, "t_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val i = e.taskInfo
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime
        val buf = tasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty)
        buf.synchronized { buf += ((i.duration, math.max(0L, delay))) }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val done = Option(tasks.remove(s.stageId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
      val metrics: Map[String, Any] = Option(s.taskMetrics).map { m =>
        Map[String, Any](
          "run_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "scan_bytes" -> m.inputMetrics.bytesRead,
          "scan_rows" -> m.inputMetrics.recordsRead)
      }.getOrElse(Map.empty)
      events.add(Map[String, Any](
        "kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "job" -> jobOfStage.getOrDefault(s.stageId, -1),
        "submit_ms" -> s.submissionTime.getOrElse(-1L),
        "end_ms" -> s.completionTime.getOrElse(-1L),
        "tasks" -> s.numTasks,
        "task_ms" -> done.map(_._1),
        "sched_delay_ms" -> done.map(_._2).sum) ++ metrics)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      events.add(Map("kind" -> "query", "func" -> funcName, "plan_ms" -> planMs,
        "duration_ms" -> durationNs / 1e6, "t_ms" -> System.currentTimeMillis()))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq
      events.add(Map(
        "kind" -> "batch", "query" -> p.id.toString, "batch" -> p.batchId,
        "t_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "input_rows" -> p.numInputRows,
        "state_ops" -> state.size,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> state.map(_.commitTimeMs).sum))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Waits for pending listener events, then returns every event so far. */
  def drain(): Seq[Map[String, Any]] = {
    org.apache.spark.BenchBus.flush(spark.sparkContext)
    events.asScala.toSeq
  }
}
