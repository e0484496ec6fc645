package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Http

/** In-memory recorder for traced passes: spans plus per-pass counters.
  *
  * Everything here observes the program from outside, through public seams:
  * a SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * (both registered by class name so that every session, cloned stream
  * sessions included, reports), and wrappers around `Http.Transport` and
  * `Http.TokenSource`. State is JVM-global because the transport wrapper is
  * serialized into sink tasks; in local mode every task resolves this object.
  * Nothing is recorded while `enabled` is false.
  */
object Trace {

  @volatile var enabled: Boolean = false

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Epoch nanoseconds on a monotonic clock. */
  def epochNs(nanoTime: Long): Long = nanoTime + epochOffsetNs

  final case class Span(
      id: Long, name: String, kind: String, startNs: Long, endNs: Long,
      parent: Long, trace: String)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private var stack: List[Long] = Nil
  @volatile var traceId: String = ""

  /** A benchmark-boundary span around `body`; its parent is the enclosing
    * benchmark span. Spans from listeners and the transport get their
    * parent later, by time containment.
    */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans.add(Span(id, name, kind, epochNs(t0), epochNs(System.nanoTime()), parent, traceId))
      }
    }

  private def leaf(name: String, kind: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(nextId.getAndIncrement(), name, kind, startNs, endNs, -1L, traceId))

  // ---- per-pass counters (reset by `snapshot`) ----

  private final class Job(val startMs: Long, val site: String)
  private val jobsOpen = mutable.Map.empty[Int, Job]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val execSite = mutable.Map.empty[Long, String]
  private final case class Stage(tasks: Int, ms: Long, site: String)
  private val stagesDone = mutable.ArrayBuffer.empty[Stage]
  private var tasks, taskRunMs, taskCpuNs, shufWrite, shufRead, spill, inputBytes = 0L
  private var peakExecMem = 0L
  private var executions, planMs = 0L
  private var batches, batchMs = 0L
  private val sends = mutable.ArrayBuffer.empty[(Long, Long)]
  private var posts, deletes, notFound, restFailed = 0L
  val tokenRefreshes = new AtomicLong()

  /** File part of a Spark call site such as `csv at FileSinks.scala:25`. */
  private def siteFile(callSite: String): String = {
    val i = callSite.lastIndexOf(" at ")
    val s = if (i >= 0) callSite.substring(i + 4) else callSite
    s.takeWhile(_ != ':')
  }

  def recordSend(method: String, status: Int, t0: Long, t1: Long): Unit = {
    synchronized {
      sends += ((t0, t1))
      if (method == "POST") posts += 1 else if (method == "DELETE") deletes += 1
      val ok = status / 100 == 2 || (method == "DELETE" && status == 404)
      if (status == 404) notFound += 1
      if (!ok) restFailed += 1
    }
    leaf(s"$method $status", "rest_send", epochNs(t0), epochNs(t1))
  }

  object Listener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if enabled => Trace.synchronized {
        execSite(x.executionId) = siteFile(x.description)
      }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) Trace.synchronized {
      // a job belongs to the call site of its SQL execution (AQE runs query
      // stages from pool threads, whose own call site says nothing); other
      // jobs are named after their result stage, "foreachPartition at
      // RestSink.scala:45"
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else siteFile(e.stageInfos.maxBy(_.stageId).name))
      jobsOpen(e.jobId) = new Job(e.time, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) Trace.synchronized {
      jobsOpen.remove(e.jobId).foreach { j =>
        jobIntervals += ((j.startMs, e.time, j.site))
        leaf(s"job ${e.jobId} ${j.site}", "spark_job", j.startMs * 1000000L, e.time * 1000000L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) Trace.synchronized {
      val si = e.stageInfo
      val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      stagesDone += Stage(si.numTasks, ms, siteFile(si.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) Trace.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def recordExecution(qe: QueryExecution): Unit = if (enabled) synchronized {
    executions += 1
    planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
  }

  def recordBatch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    if (enabled) {
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      synchronized { batches += 1; batchMs += p.batchDuration }
      leaf(s"batch ${p.batchId}", "stream_batch", startNs, startNs + p.batchDuration * 1000000L)
    }

  /** Union length of [start, end) intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total + curE - curS else total
  }

  private def pct(sorted: Seq[Long], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1).max(0)) / 1e9

  /** Per-pass layer metrics for a pass of `wallS` seconds on `cores` slots;
    * clears the counters. Call after the listener bus has drained.
    */
  def snapshot(wallS: Double, cores: Int, gcS: Double): Map[String, Double] = synchronized {
    def sumJobs(file: String) =
      jobIntervals.collect { case (s, e, f) if f == file => e - s }.sum / 1e3
    val unionS = unionLength(jobIntervals.map(j => (j._1, j._2)).toSeq) / 1e3
    val sinkS = sumJobs("RestSink.scala")
    // stages named after RestSink are the ones sending the requests
    val sinkStages = stagesDone.filter(_.site == "RestSink.scala")
    val busyS = sends.map { case (a, b) => b - a }.sum / 1e9
    val inFlightS = unionLength(sends.toSeq) / 1e9
    val sorted = sends.map { case (a, b) => b - a }.sorted.toSeq
    val mb = 1024.0 * 1024.0
    val out = Map(
      "sources.rest_requests" -> sends.size.toDouble,
      "sources.rest_posts" -> posts.toDouble,
      "sources.rest_deletes" -> deletes.toDouble,
      "sources.rest_404" -> notFound.toDouble,
      "sources.rest_failed" -> restFailed.toDouble,
      "sources.rest_busy_s" -> busyS,
      "sources.rest_s.p50" -> pct(sorted, 0.50),
      "sources.rest_s.p99" -> pct(sorted, 0.99),
      // requests in flight on average while any is: 1.0 for a serial sink
      "sources.rest_concurrency" -> (if (inFlightS > 0) busyS / inFlightS else 0.0),
      "sources.sink_job_s" -> sinkS,
      "sources.sink_tasks_per_stage" ->
        (if (sinkStages.isEmpty) 0.0 else sinkStages.map(_.tasks).sum.toDouble / sinkStages.size),
      "sources.token_refreshes" -> tokenRefreshes.getAndSet(0).toDouble,
      "spark.input_mb" -> inputBytes / mb,
      "plans.dump_s" -> sumJobs("FileSinks.scala"),
      "plans.quarantine_s" -> sumJobs("SyncRun.scala"),
      "core.compile_s" -> sumJobs("QueryRegistry.scala"),
      "streaming.batches" -> batches.toDouble,
      "streaming.batch_s" -> batchMs / 1e3,
      "spark.jobs" -> jobIntervals.size.toDouble,
      "spark.stages" -> stagesDone.size.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.job_union_s" -> unionS,
      "driver.outside_jobs_s" -> math.max(0.0, wallS - unionS),
      "driver.outside_jobs_share" -> (if (wallS > 0) math.max(0.0, wallS - unionS) / wallS else 0.0),
      "catalyst.plan_s" -> planMs / 1e3,
      "catalyst.executions" -> executions.toDouble,
      "spark.task_run_s" -> taskRunMs / 1e3,
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.gc_s" -> gcS,
      "spark.slot_idle_share" ->
        (if (unionS > 0) 1.0 - (taskRunMs / 1e3) / (unionS * cores) else 0.0),
      "spark.one_task_stage_s" -> stagesDone.filter(_.tasks == 1).map(_.ms).sum / 1e3,
      "spark.shuffle_write_mb" -> shufWrite / mb,
      "spark.shuffle_read_mb" -> shufRead / mb,
      "spark.spill_mb" -> spill / mb,
      "spark.peak_exec_mem_mb" -> peakExecMem / mb)
    jobsOpen.clear(); jobIntervals.clear(); execSite.clear(); stagesDone.clear(); sends.clear()
    tasks = 0; taskRunMs = 0; taskCpuNs = 0; shufWrite = 0; shufRead = 0; spill = 0
    inputBytes = 0; peakExecMem = 0; executions = 0; planMs = 0; batches = 0; batchMs = 0
    posts = 0; deletes = 0; notFound = 0; restFailed = 0
    out
  }

  def drainSpans(): Seq[Span] = {
    val out = spans.asScala.toSeq
    spans.clear()
    out
  }
}

/** Registered through `spark.sql.queryExecutionListeners`. */
final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.recordExecution(qe)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = Trace.recordBatch(event.progress)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

/** The REST target as the benchmark sees it: the loopback store behind a
  * fixed service time per request, standing in for a remote ODS.
  */
final class SimulatedOds(inner: Http.Transport, serviceNs: Long) extends Http.Transport {
  override def send(req: Http.Request): Http.Response = {
    val t0 = System.nanoTime()
    val resp = inner.send(req)
    val until = t0 + serviceNs
    var left = until - System.nanoTime()
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = until - System.nanoTime()
    }
    if (Trace.enabled) Trace.recordSend(req.method, resp.status, t0, System.nanoTime())
    resp
  }
}

/** Counts token refreshes on the way through. */
final class CountingTokens(inner: Http.TokenSource) extends Http.TokenSource {
  override def current(): String = inner.current()
  override def refresh(): String = {
    if (Trace.enabled) Trace.tokenRefreshes.incrementAndGet()
    inner.refresh()
  }
}
