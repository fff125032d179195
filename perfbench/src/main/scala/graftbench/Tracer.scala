package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `op` is the id of
  * the op (pass/name) the span belongs to. */
final case class Span(name: String, startUs: Long, endUs: Long, parent: String, op: String)

/** What the listeners saw while one op ran. */
final class OpStats {
  var jobs = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var batches = 0
  var addBatchMs = 0L
  var commitMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  val stateRows = mutable.Map.empty[java.util.UUID, Long] // last total per stream run
}

/** The traced run's listeners: a SparkListener for jobs and tasks, a
  * QueryExecutionListener for the QueryPlanningTracker phases, and a
  * StreamingQueryListener for micro-batch progress. They are installed
  * only for traced passes. After each traced op the listener bus is
  * drained, so every event lands on the op that caused it. */
final class Tracer(spark: SparkSession) {
  @volatile private var current: OpStats = null
  private val jobStarts = mutable.Map.empty[Int, Long]

  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def epochUs(nanos: Long): Long = baseEpochUs + (nanos - baseNanos) / 1000L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = current
      if (s != null) { s.jobs += 1; jobStarts(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val s = current
      jobStarts.remove(e.jobId).foreach(st => if (s != null) s.jobIntervals += ((st, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = current
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = synchronized {
      val s = current
      if (s != null) {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
        s.analysisMs += ms("analysis")
        s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val s = current
      if (s != null) {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.batches += 1
        s.addBatchMs += ms("addBatch")
        s.commitMs += ms("walCommit") + ms("commitOffsets") + ms("commitBatch")
        s.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Attribute listener events to `stats` until `end`. */
  def begin(stats: OpStats): Unit = current = stats

  /** Deliver the op's pending events, outside its timed interval. */
  def end(): Unit = { drain(); current = null }
}

object Tracer {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }
}
