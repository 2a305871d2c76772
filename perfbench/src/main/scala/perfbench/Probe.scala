package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.sources.DataSourceRegister

/** What one tagged call cost the engine, summed over its jobs, stages,
  * tasks and SQL executions. */
final class Agg {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  var executions, analysisMs, optimizationMs, planningMs = 0L
  /** bytes of JSON files scanned by SQL executions plus bytes read by
    * non-SQL jobs (multiLine JSON schema inference) */
  var jsonScanBytes, nonSqlInputBytes = 0L

  def toMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "task_gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "executions" -> executions, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "json_scan_bytes" -> jsonScanBytes, "non_sql_input_bytes" -> nonSqlInputBytes
  ).map { case (k, v) => k -> v.toDouble }
}

/** Per-tag engine accounting from outside the program: a SparkListener
  * keyed by the job group the harness sets around each public call
  * ([[Probe.tagged]]). Jobs carry the group in their properties; SQL
  * executions carry it in their start event, and their end event carries
  * the QueryExecution with its Catalyst phase times and executed plan. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val nonSqlStages = mutable.Set.empty[Int]
  private val execTag = mutable.Map.empty[Long, String]
  private val aggs = mutable.Map.empty[String, Agg]

  private def agg(tag: String): Agg = aggs.getOrElseUpdate(tag, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { tag =>
      agg(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
      if (props.forall(_.getProperty("spark.sql.execution.id") == null))
        nonSqlStages ++= e.stageIds
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(tag)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      if (nonSqlStages.contains(e.stageId)) a.nonSqlInputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { s.jobGroupId.foreach(execTag(s.executionId) = _) }
    case end: SparkListenerSQLExecutionEnd =>
      // `qe` is not public API; the event carries it for in-process listeners
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      if (qe != null) record(end.executionId, qe)
    case _ =>
  }

  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val jsonBytes = Probe.jsonScanBytes(qe.executedPlan)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    synchronized {
      execTag.remove(executionId).foreach { tag =>
        val a = agg(tag)
        a.executions += 1
        a.analysisMs += ms("analysis")
        a.optimizationMs += ms("optimization")
        a.planningMs += ms("planning")
        a.jsonScanBytes += jsonBytes
      }
    }
  }

  /** Wait for queued events, then remove and return the tag's totals. */
  def take(tag: String): Agg = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { aggs.remove(tag).getOrElse(new Agg) }
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Run `body` with every job it starts tagged with `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** `size of files read` of every JSON file scan in an executed plan. */
  def jsonScanBytes(plan: SparkPlan): Long =
    collect(plan) {
      case s: FileSourceScanExec if (s.relation.fileFormat match {
        case f: DataSourceRegister => f.shortName() == "json"
        case _ => false
      }) => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
}
