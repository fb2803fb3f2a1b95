package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records what Spark's public listeners report while the benchmark runs.
  *
  * Nothing here runs inside the program: the benchmark registers these
  * listeners on the session it builds. Every record carries wall-clock
  * times, so the spans of one op are the records that fall inside the
  * op's interval (one client runs one op at a time). Records are kept in
  * memory and written out by [[Json]] when the run ends.
  */
final class Tracer extends SparkListener {
  val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  val callbackNanos = new java.util.concurrent.atomic.AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNanos.addAndGet(System.nanoTime() - t0)
  }
  private def add(m: Map[String, Any]): Unit = records.add(m)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    add(Map("kind" -> "job_start", "job" -> e.jobId, "t" -> e.time, "sql" -> exec,
      "stages" -> e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    add(Map("kind" -> "job_end", "job" -> e.jobId, "t" -> e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    val m = s.taskMetrics
    add(Map("kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "task_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        add(Map("kind" -> "sql_start", "sql" -> s.executionId, "t" -> s.time,
          "root" -> s.rootExecutionId.getOrElse(s.executionId),
          "desc" -> s.description.take(80)))
      case s: SparkListenerSQLExecutionEnd =>
        add(Map("kind" -> "sql_end", "sql" -> s.executionId, "t" -> s.time) ++
          Tracer.queryExecution(s).map(describe).getOrElse(Map.empty))
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        add(Map("kind" -> "aqe_update", "sql" -> s.executionId))
      case _ =>
    }
  }

  /** Planning phases, final-plan counts, observed metrics and write
    * targets of one finished SQL execution. */
  private def describe(qe: QueryExecution): Map[String, Any] = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = Tracer.finalPlan(qe.executedPlan)
    val nodes = Tracer.allNodes(plan)
    val writes = nodes.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          (i.outputPath.toString, i.metrics.get("numFiles").map(_.value).getOrElse(0L))
        case c => ("", c.metrics.get("numFiles").map(_.value).getOrElse(0L))
      }
    }
    val observed = qe.observedMetrics.get("filter_stage").map { r =>
      Map("rows_in" -> r.getAs[Long]("rows_in"), "rows_out" -> r.getAs[Long]("rows_out"))
    }.getOrElse(Map.empty)
    Map("analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
      "optimization_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
      "planning_ms" -> ms(QueryPlanningTracker.PLANNING),
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      "non_codegen_ops" -> Tracer.nonCodegenOps(plan),
      "write_path" -> writes.map(_._1).mkString(","),
      "files_written" -> writes.map(_._2).sum) ++ observed.map {
        case (k, v) => ("filter_" + k) -> v }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val state = p.stateOperators
      val dropped = state.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue).getOrElse(0L)).sum
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L)
      add(Map("kind" -> "progress", "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli, "end" -> end,
        "rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "dropped_duplicates" -> dropped))
    }
  }
}

object Tracer {
  /** The QueryExecution Spark attaches to an execution-end event, the
    * object a QueryExecutionListener receives. The field is public in
    * bytecode but package-private in Scala, so it is read reflectively;
    * keying it by execution id ties the plan to its SQL execution span. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      .toOption.flatMap(Option(_))

  /** The plan AQE settled on; other plans as they are. */
  def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  // Children, with AQE's final plan, query stages, command plans and
  // subqueries stepped into.
  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case other => other.children ++ other.subqueries
  }

  def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: expand(p).flatMap(allNodes)

  // Plan nodes that only frame other operators; they never run rows
  // through whole-stage code generation themselves.
  private val structural = Set("WholeStageCodegenExec", "InputAdapter",
    "AdaptiveSparkPlanExec", "ShuffleQueryStageExec", "BroadcastQueryStageExec",
    "TableCacheQueryStageExec", "ResultQueryStageExec", "ShuffleExchangeExec",
    "BroadcastExchangeExec", "ReusedExchangeExec", "AQEShuffleReadExec",
    "CommandResultExec", "SubqueryExec", "SubqueryBroadcastExec",
    "ReusedSubqueryExec", "SubqueryAdaptiveBroadcastExec")

  /** Operators of the final plan that run outside whole-stage codegen. */
  def nonCodegenOps(p: SparkPlan): Int = {
    def walk(n: SparkPlan, inside: Boolean): Int = n match {
      case w: WholeStageCodegenExec => walk(w.child, inside = true)
      case i: InputAdapter => walk(i.child, inside = false)
      case other =>
        val name = other.getClass.getSimpleName
        val columnarScan = other.supportsColumnar && other.children.isEmpty
        val self = if (inside || structural(name) || columnarScan) 0 else 1
        self + expand(other).map(walk(_, inside)).sum
    }
    walk(p, inside = false)
  }
}
