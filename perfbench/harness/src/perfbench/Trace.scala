package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One timed interval. `parent` is the span that was open when this one
  * started (0 for a root); spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long,
                      attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder, written out once at the end of the run.
  *
  * Spans are opened and closed on the driver thread around the calls
  * into each layer. The id of the innermost open span rides on the
  * SparkContext as a local property, so every job a layer call submits
  * (broadcast and subquery jobs included: Spark copies local properties
  * to the threads that run them) names its parent span in its
  * `JobStart` event. When tracing is off nothing is recorded and no
  * listener is attached: `span` just runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[(Long, Long)]() // (span id, op id)
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new JobListener
  private var opSeq = 0L

  def now(): Long = System.nanoTime()

  /** Run `body` inside a new op (root) span. */
  def op[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A = {
    opSeq += 1
    span(name, attrs, newOp = true)(body)
  }

  def span[A](name: String, attrs: Map[String, Any] = Map.empty,
              newOp: Boolean = false)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val (parent, op) = stack.headOption match {
      case Some((p, o)) if !newOp => (p, o)
      case _ => (0L, opSeq)
    }
    stack.push((id, op))
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    val s = now()
    try body
    finally {
      val e = now()
      stack.pop()
      spark.sparkContext.setLocalProperty(Tracer.SpanKey,
        stack.headOption.map(_._1.toString).orNull)
      spans += Span(id, parent, op, name, s, e, attrs)
    }
  }

  /** Add an already-measured child span (a micro-batch, timed by the
    * streaming query's own progress report) under the innermost open
    * span. */
  def record(name: String, startNs: Long, endNs: Long,
             attrs: Map[String, Any]): Unit = if (enabled) {
    val (parent, op) = stack.headOption.getOrElse((0L, opSeq))
    spans += Span(ids.incrementAndGet(), parent, op, name, startNs, endNs, attrs)
  }

  def attach(): Unit = if (enabled) spark.sparkContext.addSparkListener(listener)

  def detach(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-job rollup of the listener events: task counts and task metrics
  * summed over the job's stages. */
final class JobStats(val jobId: Int, val parentSpan: Long, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var stages: Int = 0
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
}

/** SparkListener that turns job and task events into [[JobStats]].
  * Event timestamps are wall-clock ms; they are mapped onto the
  * driver's nanoTime axis with one offset taken at construction. */
final class JobListener extends SparkListener {
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val ended = new AtomicLong(0)

  private def ns(ms: Long) = ms * 1000000L + wallToNano

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    val js = new JobStats(e.jobId, parent, ns(e.time))
    js.stages = e.stageIds.size
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, js)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endNs = ns(e.time))
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val js = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (js != null) js.synchronized {
      js.tasks += 1
      if (e.reason != org.apache.spark.Success) js.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        js.runMs += m.executorRunTime
        js.cpuNs += m.executorCpuTime
        js.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        js.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        js.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        js.peakExecMem = math.max(js.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Wait until every started job has ended and the task events that
    * precede the job ends have been seen (the listener bus is
    * asynchronous). Bounded: gives up after `timeoutMs`. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.size.toLong > ended.get && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }
}

/** Heap occupancy just after a full GC, forced outside the timings:
  * live data. The young collections in between leave dead
  * old-generation objects behind, so their after-GC figures depend on
  * GC timing; a full collection does not.
  *
  * `peak` is the live heap at the start of the timed region plus the
  * largest growth of one op: each op is measured from the live heap
  * just before it (`mark`) to its end (`sample`, taken while its
  * persisted frames, state and result are still live). Ops that
  * release what they hold, like the pack queries, are then measured
  * each on its own, whatever ran before them. */
object HeapPeak {
  private var base = -1L
  private var before = 0L
  private var growth = 0L

  private def live(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def reset(): Unit = { base = -1L; growth = 0L }

  def mark(): Unit = {
    before = live()
    if (base < 0) base = before
  }

  def sample(): Unit = growth = math.max(growth, live() - before)

  def peakBytes: Long = math.max(base, 0L) + growth
}
