package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Layer counters gathered from outside the library through Spark's public
  * listener interfaces. Only the traced run installs them. The harness runs
  * queries one at a time and drains the listener bus after each phase, so a
  * snapshot difference belongs to exactly that phase of that query.
  */
final class Probes extends SparkListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // per stage attempt: run time (ms) of each finished task
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  /** max/median task run time of every stage with at least two tasks that
    * finished since the last call.
    */
  def takeStageSkews(): Seq[Double] = synchronized {
    val out = stageTasks.values.collect {
      case ts if ts.size >= 2 =>
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        s.last.toDouble / med
    }.toSeq
    stageTasks.clear()
    out
  }

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    if (e.taskInfo != null && e.taskInfo.failed) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_b", m.inputMetrics.bytesRead.toDouble)
      add("output_b", m.outputMetrics.bytesWritten.toDouble)
      add("exec.output_records", m.outputMetrics.recordsWritten.toDouble)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Catalyst phase times of every Dataset action, from its
    * QueryPlanningTracker (the graft.plans rules run in "optimization").
    */
  val actions: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Probes.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) => add(s"catalyst.$phase", s.durationMs.toDouble) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  /** Micro-batch progress of every streaming query (Structured Streaming's
    * per-trigger durationMs breakdown).
    */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    private val lastStateRows = mutable.Map.empty[java.util.UUID, Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probes.this.synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.batches", 1)
        add("streaming.input_rows", p.numInputRows.toDouble)
        add("stream_add_batch_ms", d("addBatch"))
        add("stream_planning_ms", d("queryPlanning"))
        add("stream_wal_commit_ms", d("walCommit"))
        batchMs += d("triggerExecution")
        // state rows held at the end: the latest figure of each query
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        add("streaming.state_rows", (rows - lastStateRows.getOrElse(p.id, 0L)).toDouble)
        lastStateRows(p.id) = rows
      }
  }

  private val batchMs = mutable.ArrayBuffer.empty[Double]
  def takeBatchMs(): Seq[Double] = synchronized { val s = batchMs.toList; batchMs.clear(); s }
}

object Probes {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.filter(_._2 != 0.0)
}
