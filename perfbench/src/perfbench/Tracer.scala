package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It registers only Spark's public listener
  * interfaces and keeps every event in memory as one JSON line; `events`
  * hands them over when the run ends. Attribution and aggregation happen
  * afterwards, outside the measured process (perfbench/trace.py).
  *
  *  - jobs: start/end time and the SQL execution that ran them;
  *  - stages: task metrics summed over the stage's tasks;
  *  - SQL executions: start/end, whether the plan writes files, and the
  *    `graft.*` frames of the call-site stack that started them;
  *  - query executions: time spent in analysis, optimization and planning;
  *  - streaming triggers: per-phase durations and state rows.
  */
final class Tracer extends SparkListener {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val stages = mutable.Map.empty[Int, Array[Long]]
  private def emit(s: String): Unit = lines.add(s)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    emit(Json.obj("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "exec" -> exec, "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit(Json.obj("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time))

  // columns of the per-stage task-metric sums, in `stages` array order
  private val StageCols = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
    "shuffle_write", "spill", "input_bytes", "output_bytes", "output_rows")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stages.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new Array[Long](StageCols.size))
      val v = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      for (i <- v.indices) a(i) += v(i)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val frames = s.details.linesIterator.map(_.trim).filter(_.startsWith("graft."))
        .map(f => f.takeWhile(_ != '(')).toSeq
      val write = s.sparkPlanInfo.nodeName.contains("InsertIntoHadoopFsRelationCommand") ||
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")
      emit(Json.obj("ev" -> "sql_start", "id" -> s.executionId, "t" -> s.time,
        "root" -> s.rootExecutionId.getOrElse(s.executionId), "write" -> write,
        "stack" -> frames))
    case s: SparkListenerSQLExecutionEnd =>
      emit(Json.obj("ev" -> "sql_end", "id" -> s.executionId, "t" -> s.time))
    case _ =>
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        emit(Json.obj("ev" -> "plan", "t" -> phases.map(_.startTimeMs).min,
          "ms" -> phases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      emit(Json.obj("ev" -> "trigger", "run" -> p.runId.toString,
        "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli, "dur" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streams)
  }

  /** Every recorded event, stage sums last. Read it after the session has
    * stopped, which delivers every event still queued for the listeners.
    */
  def events: Seq[String] = {
    val stageLines = stages.synchronized {
      stages.toSeq.sortBy(_._1).map { case (id, a) =>
        Json.obj((("ev" -> "stage") +: ("stage" -> id) +: StageCols.zip(a.toSeq)): _*)
      }
    }
    lines.asScala.toSeq ++ stageLines
  }
}
