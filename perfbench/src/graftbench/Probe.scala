package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Executor-side counters summed while the probe was attached. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                          cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, inputBytes: Long, outputBytes: Long,
                          spans: Int) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, spans + o.spans)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, inputBytes - o.inputBytes,
    outputBytes - o.outputBytes, spans - o.spans)
}

/** The traced run's window onto the Spark executor layer: a listener
  * summing task metrics and recording each job's span, read after the
  * bus is drained so a snapshot never misses an operation's tail. */
final class Probe(spark: SparkSession) extends SparkListener {
  private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val spanBuf = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s => spanBuf += ((s, e.time)) }
    c = c.copy(spans = spanBuf.size)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
  }

  def snapshot(): Counters = {
    BenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  /** Wall time of [t0, t1] (epoch ms) that no job covered: driver-only
    * work such as planning, manifest metadata and driver-side loops. */
  def driverOnlyMs(from: Counters, t0: Long, t1: Long): Double = {
    val spans = synchronized(spanBuf.slice(from.spans, spanBuf.size).toVector)
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = t0
    for ((s, e) <- spans) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0 - covered).toDouble
  }
}

/** Plan-level facts read from a DataFrame after its action ran. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  val Rules: Seq[String] = Seq("LatestRewriteRule", "MvJoinRewriteRule",
    "MvRewriteRule", "StatsAggRule", "JoinPruneRule")

  /** Analysis + optimization + planning ms, and per graft rule ms. */
  def planning(df: DataFrame): (Double, Map[String, Double]) = {
    val tr = df.queryExecution.tracker
    val phases = tr.phases.values.map(_.durationMs).sum.toDouble
    val rules = Rules.map { r =>
      r -> tr.rules.collect {
        case (name, s) if name.endsWith("." + r) || name == r => s.totalTimeNs
      }.sum / 1e6
    }.toMap
    (phases, rules)
  }

  private def roots(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.toSet

  /** (the analyzed plan holds a window over `base`, the optimized plan
    * scans one of `views`). */
  def rewrite(df: DataFrame, base: String, views: Seq[String]): (Boolean, Boolean) = {
    val qe = df.queryExecution
    val eligible = qe.analyzed.exists(_.isInstanceOf[Window]) &&
      roots(qe.analyzed).exists(_.endsWith(base))
    val opt = roots(qe.optimizedPlan)
    (eligible, eligible && views.exists(v => opt.exists(_.endsWith(v))))
  }

  /** (files read, live files under the scanned tables) over every file
    * scan of the executed plan. */
  def scans(df: DataFrame): (Long, Long) = {
    val ss = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    val read = ss.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val live = ss.map(_.relation.location.inputFiles.length.toLong).sum
    (read, live)
  }
}
