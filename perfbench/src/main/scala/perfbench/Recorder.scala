package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in event capture for the traced run. Everything here hangs off
  * Spark's public listener buses; nothing reaches into the engine's code.
  *
  *  - [[Jobs]] (SparkListener): one record per job with its span, the step
  *    tag the benchmark set as a local property, whether a streaming query
  *    launched it, and its tasks' metrics summed.
  *  - [[Actions]] (QueryExecutionListener): one record per Dataset action,
  *    with the Catalyst phase times from `qe.tracker.phases`.
  *  - [[Batches]] (StreamingQueryListener): one record per micro-batch
  *    progress event. This one also feeds the untraced run's micro-batch
  *    metrics, so it stays registered for the whole run.
  *
  * Events arrive asynchronously; each record carries its own wall-clock
  * times, and [[Harness]] attributes records to steps afterwards. */
object Recorder {
  val StepTag = "perfbench.step"

  /** Task metrics summed per job, in this order. */
  val TaskFields: Seq[String] = Seq("tasks", "tasks_failed", "run_ms", "cpu_ns",
    "gc_ms", "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b",
    "input_rows", "output_b", "output_rows")

  final class Job(val id: Int, val tag: String, val streaming: Boolean,
      val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var stagesDone: Int = 0
    val task = new Array[Double](TaskFields.size)
  }

  final class Jobs extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val j = new Job(e.jobId, props.map(_.getProperty(StepTag)).orNull,
        props.exists(_.getProperty("sql.streaming.queryId") != null), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized {
        j.stagesDone += 1
      })

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        val failed = e.reason != org.apache.spark.Success
        val v: Array[Double] =
          if (m == null) Array(1.0, if (failed) 1.0 else 0.0)
          else Array(1.0, if (failed) 1.0 else 0.0, m.executorRunTime.toDouble,
            m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
            m.shuffleWriteMetrics.bytesWritten.toDouble,
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
              .toDouble,
            m.diskBytesSpilled.toDouble, m.inputMetrics.bytesRead.toDouble,
            m.inputMetrics.recordsRead.toDouble, m.outputMetrics.bytesWritten.toDouble,
            m.outputMetrics.recordsWritten.toDouble)
        j.synchronized(v.indices.foreach(i => j.task(i) += v(i)))
      }

    def unfinished: Int = jobs.values.asScala.count(_.endMs < 0)
  }

  /** One Dataset action: its first phase start (or the callback time when
    * the tracker recorded no phase) and its phase durations in ms. */
  final case class Action(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  final class Actions extends QueryExecutionListener {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      actions.add(Action(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** One micro-batch progress event (durations in ms). */
  final case class Batch(atMs: Long, triggerMs: Long, addBatchMs: Long, commitMs: Long,
      planMs: Long, listMs: Long, inputRows: Long, stateRows: Long)

  final class Batches extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch"), ms("walCommit") + ms("commitOffsets"),
        ms("queryPlanning"), ms("latestOffset") + ms("getBatch"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }
}
