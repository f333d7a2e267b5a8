package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * except for spans derived from listener events, which are converted
  * from epoch millis with the offset captured at start-up. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** In-memory span recorder plus the Spark listeners behind the per-layer
  * counters. Disabled (every call a no-op) on untraced runs. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** epoch ms -> nanoTime domain */
  private val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nanosOfEpochMs(ms: Long): Long = ms * 1000000L + epochToNano

  def newId(): Int = ids.incrementAndGet()

  /** Parent of top-level spans: the set-up in progress, else none. */
  var root = 0

  /** Time `body` as span `name`, tagging Spark jobs it submits with the
    * span and op ids (thread-local properties survive into the listener
    * events, so the attribution does not depend on event timing). */
  def span[T](spark: SparkSession, name: String, op: Int, parent: Int)(body: Int => T): T = {
    if (!enabled) return body(0)
    val id = newId()
    val sc = spark.sparkContext
    val prevSpan = sc.getLocalProperty("perfbench.span")
    val prevOp = sc.getLocalProperty("perfbench.op")
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.op", op.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
      sc.setLocalProperty("perfbench.span", prevSpan)
      sc.setLocalProperty("perfbench.op", prevOp)
    }
  }

  def add(name: String, startNs: Long, endNs: Long, parent: Int, op: Int,
      id: Int = newId()): Int = {
    if (enabled) spans.add(Span(id, name, startNs, endNs, parent, op))
    id
  }
}

/** Counters for the jobs one span submitted. */
final class JobStats {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var bytesWritten = 0L
}

/** Aggregates job, stage and task metrics by the span that submitted the
  * job, and records one "job" span per job under it. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Int, Long)]()
  val bySpan = new ConcurrentHashMap[Int, JobStats]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)

  private def stats(span: Int): JobStats = bySpan.computeIfAbsent(span, _ => new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).map(_.toInt).getOrElse(0)
    jobSpan.put(e.jobId, (span, op, e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val st = stats(span)
    st.synchronized { st.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobSpan.remove(e.jobId)).foreach { case (span, op, t0) =>
      tracer.add("job", tracer.nanosOfEpochMs(t0), tracer.nanosOfEpochMs(e.time), span, op)
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = stats(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
    st.synchronized { st.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val st = stats(stageSpan.getOrDefault(e.stageId, 0))
    st.synchronized {
      st.tasks += 1
      st.taskMs += m.executorRunTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has been seen to end and the counts stop moving. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < deadline &&
      !(started.get == ended.get && last == ended.get)) {
      last = ended.get
      Thread.sleep(100)
    }
  }
}

/** Per-micro-batch figures from `StreamingQueryProgress`. */
final case class BatchProgress(runId: String, batchId: Long, startMs: Long, commitMs: Long,
    triggerMs: Long, addBatchMs: Long, inputRows: Long, stateRows: Long)

final class ProgressListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(BatchProgress(p.runId.toString, p.batchId, start, start + dur("triggerExecution"),
        dur("triggerExecution"), dur("addBatch"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).foldLeft(0L)(_ max _)))
  }
}

object PlanMetrics {
  /** (files, rows, scan ms) summed over the file scans of an executed
    * plan, following adaptive stages and subqueries once each. */
  def scans(plan: SparkPlan): (Long, Long, Long) = {
    var files, rows, ms = 0L
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case _: ReusedExchangeExec => ()
      case s: FileSourceScanExec =>
        def v(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
        files += v("numFiles"); rows += v("numOutputRows"); ms += v("scanTime")
        s.subqueries.foreach(visit)
      case other =>
        other.children.foreach(visit)
        other.subqueries.foreach(visit)
    }
    visit(plan)
    (files, rows, ms)
  }
}

/** Peak of the total used heap (`MemoryMXBean.getHeapMemoryUsage`),
  * sampled every 20 ms by a daemon thread on traced runs. */
final class HeapSampler(enabled: Boolean) {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  @volatile private var running = false
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }
  }, "perfbench-heap")
  thread.setDaemon(true)

  def start(): Unit = if (enabled) { running = true; thread.start() }
  def stop(): Unit = if (running) { running = false; thread.join() }
  def peakMb: Double = peak / 1048576.0
}
