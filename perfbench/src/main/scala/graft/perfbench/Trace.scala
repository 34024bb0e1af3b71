package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, GenerateExec, InputAdapter, ProjectExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one traced pass sums up; every field is a plain total. */
final class LayerCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, scanB, scanRows, writeB = 0L
  var stragglerMs = 0.0
  var analysisMs, optimizationMs, planningMs = 0L
  var candidatePairs, verifiedPairs = 0L
  val jobsByGroup: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val cpuNsByGroup: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** Public Spark listener plus query-execution listener that fold job, stage,
  * task and planning-phase events into [[LayerCounts]]. Jobs are attributed
  * to benchmark steps through the job group the benchmark sets per step.
  */
final class LayerListener(dedupSteps: Set[String]) extends SparkListener with QueryExecutionListener {
  private var c = new LayerCounts
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var currentStep: String = ""

  /** Hand back the counts gathered so far and start from zero. */
  def take(): LayerCounts = synchronized { val out = c; c = new LayerCounts; out }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    c.jobs += 1
    c.jobsByGroup(group) += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    c.stages += 1
    val m = info.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.diskBytesSpilled
      c.scanB += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.writeB += m.outputMetrics.bytesWritten
      c.cpuNsByGroup(stageGroup.getOrElse(info.stageId, "")) += m.executorCpuTime
    }
    taskMs.remove(info.stageId).foreach { ds =>
      val sorted = ds.sorted
      c.stragglerMs += sorted.last - sorted(sorted.length / 2)
    }
    stageGroup.remove(info.stageId)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    c.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    c.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    c.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    phases(qe)
    if (dedupSteps.contains(currentStep)) Trace.pairCounts(qe.executedPlan).foreach { case (cand, ver) =>
      synchronized { c.candidatePairs += cand; c.verifiedPairs += ver }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** One span of the traced run: pass → step → phase. */
final case class Span(level: String, name: String, pass: Int, startNs: Long, endNs: Long,
                      attrs: Map[String, Double] = Map.empty)

object Trace {

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** (candidate rows, verified rows) of an executed dedup plan: the verify
    * step is the filter directly over a candidate generator (a join, or the
    * explode of within-bucket pairs) with the largest input. None when the
    * plan has no such filter. */
  def pairCounts(plan: SparkPlan): Option[(Long, Long)] = {
    // the generator, looking through projections and codegen-stage inputs
    def generator(p: SparkPlan): Option[SparkPlan] = p match {
      case g @ (_: BaseJoinExec | _: GenerateExec) => Some(g)
      case pr: ProjectExec => generator(pr.child)
      case in: InputAdapter => generator(in.child)
      case _ => None
    }
    def verifies(p: SparkPlan): Seq[(Long, Long)] = (p match {
      case f: FilterExec => generator(f.child).map(g => (rows(g), rows(f))).toSeq
      case _ => Nil
    }) ++ children(p).flatMap(verifies)
    val found = verifies(plan)
    if (found.isEmpty) None else Some(found.maxBy(_._1))
  }

  def json(spans: Seq[Span]): String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"level":"${s.level}","name":"${s.name}","pass":${s.pass},"start_s":${s.startNs / 1e9},""" +
      s""""dur_s":${(s.endNs - s.startNs) / 1e9},"attrs":{$attrs}}"""
  }.mkString("", "\n", "\n")
}
