package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spark's public listeners, attached only in traced runs. Events stay
  * in memory with their epoch-ms times; the run record places them in
  * the key span that encloses them. */
final class Trace {
  /** (start ms, end ms) */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** completion ms */
  val stages = ArrayBuffer.empty[Long]
  /** finish ms, run ms, cpu ns, gc ms, input B, output B, shuffle write B,
    * shuffle read B, spill B, peak execution memory B, failed (0/1) */
  val tasks = ArrayBuffer.empty[Array[Long]]
  /** (phase, start ms, end ms) from each executed query's tracker */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  /** (start ms, trigger ms, input rows) per micro-batch */
  val batches = ArrayBuffer.empty[(Long, Long, Long)]

  private val spark = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = Option(e.taskMetrics)
      def of(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      tasks += Array(e.taskInfo.finishTime, of(_.executorRunTime), of(_.executorCpuTime),
        of(_.jvmGCTime), of(_.inputMetrics.bytesRead), of(_.outputMetrics.bytesWritten),
        of(_.shuffleWriteMetrics.bytesWritten), of(_.shuffleReadMetrics.totalBytesRead),
        of(t => t.memoryBytesSpilled + t.diskBytesSpilled), of(_.peakExecutionMemory),
        if (e.reason == Success) 0L else 1L)
    }
  }

  /** Trackers already read, so a query's phases are recorded once. */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean])

  private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
    if (seen.add(qe.tracker))
      qe.tracker.phases.foreach { case (p, s) => phases += ((p, s.startTimeMs, s.endTimeMs)) }
  }

  /** Records the phases a key's own DataFrame has been through when
    * `fn(spark, dir)` returns (its eager analysis). The listener below
    * sees only the queries that run, such as the `.count()` wrapper,
    * whose plan and tracker are new. */
  def built(df: DataFrame): Unit = record(df.queryExecution)

  private val query = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli, trigger, p.numInputRows))
      }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(query)
    s.streams.addListener(streaming)
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(s: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(s.sparkContext)
}

object Trace {
  /** (cumulative Janino compile ns, number of compiles) */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
