package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the traced run's per-step counters from Spark's own event
  * streams: job intervals and call sites, task metrics, AQE re-plans,
  * and each query execution's planning phases, rule timings and write
  * statistics. Nothing inside the engine is instrumented. Events are
  * accumulated while `on` and handed out (and reset) by [[take]], which
  * the harness calls after draining the listener bus.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  private val open = mutable.Map[Int, (Long, String)]()
  private val jobs = mutable.ArrayBuffer[Seq[Any]]()
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's own (result) stage is the newest one and carries the
    // job's call site, e.g. "parquet at Tables.scala:15"
    if (on) open(e.jobId) = (e.time, e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, site) => jobs += Seq(start, e.time, site) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("tasks", 1)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("task_run_s", e.taskInfo.duration / 1e3)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    if (on) e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe_updates", 1)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    if (on) {
      add("query_executions", 1)
      val phases = qe.tracker.phases
      for (p <- Seq("analysis", "optimization", "planning"))
        add(s"${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      for ((rule, s) <- qe.tracker.rules if rule.startsWith("graft.")) {
        add("graft_rule_s", s.totalTimeNs / 1e9)
        add("graft_rule_invocations", s.numInvocations.toDouble)
        add("graft_rule_effective", s.numEffectiveInvocations.toDouble)
      }
      writes(qe.executedPlan).foreach { w =>
        add("files_written", w.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
        add("bytes_written", w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L).toDouble)
      }
    }
  }

  private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
    case q: QueryStageExec => writes(q.plan)
    case other => other.children.flatMap(writes)
  }

  /** This step's counters and finished jobs (`[start_ms, end_ms,
    * call site]`), then a clean slate for the next step.
    */
  def take(): Map[String, Any] = synchronized {
    val out = sums.toMap + ("jobs" -> jobs.toList)
    sums.clear(); jobs.clear()
    out
  }
}
