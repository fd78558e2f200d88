package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans and Spark's own epoch-ms timestamps share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. `parent` is -1 when the benchmark did not know it
  * (listener-derived spans); the report attaches those by containment. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, req: String)

/** Spans and layer counters, kept in memory and written out at the end.
  * With `on = false` nothing is recorded and no listener is attached, so
  * the untraced run pays only for the `span` call itself. */
final class Trace(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Runs `body` inside a span named `name`, child of the calling
    * thread's innermost open span. */
  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1L)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, name, t0, Clock.nowMs, parent, req))
        stack.set(stack.get.tail)
      }
    }

  def add(name: String, start: Double, end: Double): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, start, end, -1L, ""))

  /** Sums over the tasks, stages and jobs that ended while `counting`. */
  @volatile private var counting = false

  /** Starts or stops counting once every listener event posted so far
    * has been delivered, so the counters cover exactly the timed region. */
  def count(spark: SparkSession, on: Boolean): Unit = if (this.on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counting = on
  }
  val counters = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  def bump(k: String, v: Double): Unit = if (counting) counters.merge(k, v, _ + _)

  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  private val jobWrites = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobStart.put(j.jobId, j.time.toDouble)
        j.stageIds.foreach(s => stageJob.put(s, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.remove(j.jobId)
        if (t0 != null && counting) {
          add("job", t0, j.time.toDouble)
          bump("sched.jobs", 1)
          if (jobWrites.contains(j.jobId)) bump("write.jobs", 1)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        bump("sched.stages", 1)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        bump("sched.tasks", 1)
        if (m != null) {
          bump("exec.task_cpu_s", m.executorCpuTime / 1e9)
          bump("exec.task_run_s", m.executorRunTime / 1e3)
          bump("exec.gc_s", m.jvmGCTime / 1e3)
          bump("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          bump("shuffle.read_bytes",
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
          bump("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          bump("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          bump("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
          bump("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
          bump("write.output_rows", m.outputMetrics.recordsWritten.toDouble)
          bump("write.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          if (m.outputMetrics.bytesWritten > 0)
            Option(stageJob.get(t.stageId)).foreach(j => jobWrites.add(j))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = if (counting)
        qe.tracker.phases.foreach { case (name, p) =>
          if (name != "parsing") add(s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
    })
  }

  def spansAsJava: java.util.List[java.util.Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.start).map(s => Map[String, Any](
      "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "req" -> s.req).asJava).asJava
}
