package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything the traced run measures from outside graft: Spark job,
  * stage and task counters for jobs carrying [[Probe.Tag]], Catalyst
  * phase times of executed queries, interpreted-codegen fallbacks seen
  * in the log, and the driver's live heap at marked points.
  *
  * The benchmark thread adds [[Probe.Tag]] to its own jobs
  * (`SparkContext.addJobTag`); jobs run by the endpoint's handler
  * thread carry no tag and are not counted. Operations are sequential,
  * so [[Probe.snapshot]] after a drain attributes counts to the
  * operation that just ran.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private val sc = spark.sparkContext
  private val taggedStages = mutable.Set.empty[Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock millis of finished tagged jobs. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      if (tags.split(",").contains(Tag)) {
        jobStart(e.jobId) = e.time
        taggedStages ++= e.stageIds
        c("exec.jobs") += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        if (taggedStages.contains(e.stageInfo.stageId)) c("exec.stages") += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      if (taggedStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        val run = m.executorRunTime.toDouble
        c("exec.tasks") += 1
        c("exec.task_ms") += run
        c("exec.gc_ms") += m.jvmGCTime
        c("exec.sched_delay_ms") += math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime)
        c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      for ((phase, s) <- qe.tracker.phases)
        c(s"catalyst.${phase}_ms") += s.durationMs
    }
  }

  private val fallbacks = new AtomicLong
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (FallbackMarkers.exists(msg.contains)) fallbacks.incrementAndGet()
    }
  }

  /** Live heap (bytes, after a full collection) at each [[heapMark]]. */
  private val heapMarks = mutable.ArrayBuffer.empty[Long]

  /** Spark and log instrumentation only when `trace` is set, so
    * untraced runs carry no listener. */
  def start(trace: Boolean): Probe = {
    if (trace) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
      ctx.updateLoggers()
    }
    this
  }

  /** Run `body` with this thread's jobs tagged, then wait until the
    * listener has seen all of their events. */
  def traced[A](body: => A): A = {
    sc.addJobTag(Tag)
    try body
    finally { sc.removeJobTag(Tag); drain() }
  }

  def drain(): Unit = PerfbenchBridge.drain(sc)

  /** Counter values so far (exec.*, catalyst.*, exec.codegen_fallbacks). */
  def snapshot(): Map[String, Double] = synchronized {
    c.toMap + ("exec.codegen_fallbacks" -> fallbacks.get.toDouble)
  }

  /** Wall-clock milliseconds inside tagged Spark jobs between `t0` and
    * `t1` (System.currentTimeMillis; overlapping jobs count once). */
  def jobMillis(t0: Long, t1: Long): Long = synchronized {
    val spans = jobSpans.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- spans) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Record the live heap: a full collection, a pause for Spark's
    * context cleaner to drop what that collection made unreachable
    * (blocks, broadcasts, shuffles), a second collection, then the heap
    * occupancy (`MemoryMXBean`). Workloads mark the end of set-up and
    * the end of the measured window, where the heap holds what the
    * workload keeps (stores, caches, leaked blocks) without the garbage
    * whose amount depends on when the collector last ran. */
  def heapMark(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    synchronized {
      heapMarks += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  /** The largest live heap marked, in MB. */
  def peakHeapMb(): Double = synchronized {
    (if (heapMarks.isEmpty) 0L else heapMarks.max) / (1024.0 * 1024.0)
  }
}

object Probe {
  val Tag = "perfbench-trace"
  /** Log lines Spark writes when generated code is abandoned for the
    * interpreted path (e.g. a method past janino's 64 KB limit). */
  val FallbackMarkers: Seq[String] = Seq(
    "Whole-stage codegen disabled",
    "falling back to interpreter mode")
}
