package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, RDDScanExec, RowDataSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{Bench, Engine, SparkEntry}

/** Where a query's time goes, read off Spark itself: runs the real
  * `SparkEntry` query the way Bench does and reports, for the best run,
  * its wall time, each Spark job (call site, wall, the driver gap before
  * it), each stage (name, tasks, input, shuffle read/write, spill) and
  * the physical operators each SQL execution ran.
  *
  * The physical plan and Spark's own job and stage metrics explain the
  * time (the Spark SQL paper's attribution), so nothing here copies an
  * operator's internals: a listener watches the operator run.
  *
  * Usage: Profile <query[,query…]> [sfDir] [cpus] [--plan]
  *   sfDir defaults to Bench's fixture, cpus to the host's cores;
  *   --plan also prints each execution's executed plan.
  */
object Profile {
  val Warmups = 2
  val Runs = 3

  /** A job; its call site is the action that ran it (the SQL execution's
    * call site for a job inside one). */
  final case class JobStat(id: Int, callSite: String, startMs: Long,
      endMs: Long, stageIds: Seq[Int]) {
    def wallMs: Long = endMs - startMs
  }

  /** A completed stage; spill is memory plus disk spill. */
  final case class StageStat(id: Int, name: String, tasks: Int, wallMs: Long,
      inputBytes: Long, outputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  /** One SQL execution: its id, the call site of the action that ran it
    * (`localCheckpoint at Stage.scala:44`, `collect at …`, `save at …`)
    * and its query execution. */
  final case class Execution(id: Long, callSite: String, qe: QueryExecution)

  /** What Spark ran between `startMs` and `endMs`. Jobs are in start
    * order; stages holds the stages that ran (a job's other stage ids
    * were skipped, their output reused). */
  final case class Recording(startMs: Long, endMs: Long, jobs: Seq[JobStat],
      stages: Map[Int, StageStat], executions: Seq[Execution]) {
    def wallMs: Long = endMs - startMs

    /** Driver time before each job: from the previous job's end (the
      * recording's start for the first) to its start. Negative where
      * jobs overlap. Job walls plus these gaps plus [[tailGapMs]] add up
      * to [[wallMs]]. */
    def gapsMs: Seq[Long] =
      jobs.map(_.startMs).zip(startMs +: jobs.map(_.endMs)).map {
        case (start, prevEnd) => start - prevEnd }

    def tailGapMs: Long = endMs - jobs.lastOption.fold(startMs)(_.endMs)
  }

  private final class Listener extends SparkListener {
    private val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val ends = new ConcurrentHashMap[Int, Long]()
    private val stages = new ConcurrentHashMap[Int, StageStat]()
    private val sqlCallSites = new ConcurrentHashMap[Long, String]()
    private val executions = new ConcurrentLinkedQueue[Execution]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.put(e.jobId, e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ends.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.put(i.stageId, StageStat(i.stageId, i.name, i.numTasks,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlCallSites.put(s.executionId, s.description)
      case x: SparkListenerSQLExecutionEnd =>
        Option(GraftBridge.queryExecution(x)).foreach(qe => executions.add(
          Execution(x.executionId, sqlCallSites.getOrDefault(x.executionId, "?"), qe)))
      case _ =>
    }

    def recording(startMs: Long, endMs: Long): Recording = {
      val jobs = starts.values.asScala.toSeq.map { s =>
        // outside a SQL execution the call site is the final stage's
        // name; the final stage is created after its parents, so it has
        // the largest id
        val sql = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(sqlCallSites.get(id.toLong)))
        JobStat(s.jobId, sql.getOrElse(s.stageInfos.maxBy(_.stageId).name),
          s.time, ends.getOrDefault(s.jobId, endMs), s.stageIds)
      }.sortBy(j => (j.startMs, j.id))
      Recording(startMs, endMs, jobs, stages.asScala.toMap,
        executions.asScala.toSeq)
    }
  }

  /** Runs `body` and records every Spark job, stage and SQL execution it
    * causes on `spark`. */
  def record(spark: SparkSession)(body: => Any): Recording = {
    val sc = spark.sparkContext
    val listener = new Listener
    GraftBridge.drainListenerBus(sc) // earlier actions' events stay out
    sc.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis()
      body
      val t1 = System.currentTimeMillis()
      GraftBridge.drainListenerBus(sc)
      listener.recording(t0, t1)
    } finally sc.removeSparkListener(listener)
  }

  /** [[Warmups]] untimed runs of `name`, then [[Runs]] recorded ones,
    * each from a cleared cache as in Bench. */
  def profile(spark: SparkSession, name: String, sfDir: String): Seq[Recording] = {
    def clear(): Unit = spark.sharedState.cacheManager.clearCache()
    (1 to Warmups).foreach { _ => clear(); Bench.runQuery(spark, name, sfDir) }
    (1 to Runs).map { _ => clear(); record(spark)(Bench.runQuery(spark, name, sfDir)) }
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** The operator kind a profile counts `p` as, if any. */
  def kind(p: SparkPlan): Option[String] = p match {
    case _: ShuffleExchangeLike => Some("Exchange")
    case _: BroadcastExchangeLike => Some("BroadcastExchange")
    case _: SortExec => Some("Sort")
    case _: WindowExec => Some("Window")
    case j: BaseJoinExec => Some(j.nodeName)
    case _: GenerateExec => Some("Generate")
    case _: InMemoryTableScanExec => Some("InMemoryTableScan")
    case _: FileSourceScanExec | _: DataSourceV2ScanExecBase |
         _: RowDataSourceScanExec | _: RDDScanExec => Some("Scan")
    case _ => None
  }

  /** Operator counts of each execution, in order. The walk follows
    * adaptive query stages and enters a cached relation's plan at its
    * first scan in the recording, so an operator under a cache counts
    * once however often the cache is read. */
  def operatorCounts(rec: Recording): Seq[Map[String, Int]] = {
    val entered = mutable.ArrayBuffer[AnyRef]() // cache builders, by identity
    def kinds(plan: SparkPlan): Seq[String] = Walk.flatMap(plan) { p =>
      val cached = p match {
        case s: InMemoryTableScanExec
            if !entered.exists(_ eq s.relation.cacheBuilder) =>
          entered += s.relation.cacheBuilder
          kinds(s.relation.cachedPlan)
        case _ => Nil
      }
      kind(p).toSeq ++ cached
    }
    rec.executions.map(e =>
      kinds(e.qe.executedPlan).groupBy(identity).map { case (k, v) => k -> v.size })
  }

  private def bytes(n: Long): String =
    if (n < 1024) s"$n B"
    else if (n < 1024 * 1024) f"${n / 1024.0}%.1f KB"
    else f"${n / (1024.0 * 1024)}%.1f MB"

  /** First line of a call site, at most 100 characters (a `spark.sql`
    * execution's call site is its SQL text). */
  private def short(callSite: String): String =
    callSite.linesIterator.nextOption().getOrElse("").take(100)

  private def jobLine(j: JobStat, gapMs: Long): String =
    f"  gap ${gapMs}%6d ms | job ${j.id}%4d ${j.wallMs}%6d ms | " +
      s"stages ${j.stageIds.mkString(",")} | ${short(j.callSite)}"

  private def tailLine(rec: Recording): String =
    f"  tail gap ${rec.tailGapMs}%6d ms"

  /** The job timeline: the driver gap before each job, its wall, its
    * Spark stage ids and call site, then the tail gap. */
  def timeline(rec: Recording): Seq[String] =
    rec.jobs.zip(rec.gapsMs).map { case (j, gap) => jobLine(j, gap) } :+
      tailLine(rec)

  /** The full report of one recorded run: the timeline with each stage
    * that ran under the first job listing it, then the operators of each
    * SQL execution and, with `plan`, its executed plan. */
  def render(name: String, rec: Recording, plan: Boolean): Seq[String] = {
    val shown = mutable.Set[Int]()
    val jobs = rec.jobs.zip(rec.gapsMs).flatMap { case (j, gap) =>
      jobLine(j, gap) +: j.stageIds.sorted
        .filter(id => rec.stages.contains(id) && shown.add(id))
        .map { id =>
          val s = rec.stages(id)
          f"      stage $id%5d ${s.tasks}%4d tasks ${s.wallMs}%6d ms | " +
            s"input ${bytes(s.inputBytes)} | shuffle read " +
            s"${bytes(s.shuffleReadBytes)} write ${bytes(s.shuffleWriteBytes)} | " +
            s"spill ${bytes(s.spillBytes)} | ${s.name}"
        }
    } :+ tailLine(rec)
    val executions = rec.executions.zip(operatorCounts(rec)).flatMap {
      case (e, counts) =>
        val ops = counts.toSeq.sorted.map { case (k, n) => s"$k $n" }
        s"  execution ${e.id} (${short(e.callSite)}): ${ops.mkString(", ")}" +:
          (if (plan) e.qe.executedPlan.treeString.linesIterator
            .map("    " + _).toSeq else Nil)
    }
    Seq(s"== $name: wall ${rec.wallMs} ms, ${rec.jobs.size} jobs, " +
        s"${rec.executions.size} SQL executions",
      "jobs (gap = driver time before the job; a stage id with no line " +
        "below its job was skipped, its output reused):") ++ jobs ++
      Seq("operators per SQL execution:") ++ executions
  }

  def main(args: Array[String]): Unit = {
    val plan = args.contains("--plan")
    val pos = args.filterNot(_ == "--plan")
    require(pos.nonEmpty && pos.length <= 3,
      "usage: Profile <query[,query…]> [sfDir] [cpus] [--plan]")
    val names = pos(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = pos.lift(1).getOrElse(Bench.fixtureDir)
    val cpus = pos.lift(2).fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val warehouse = s"target/profile-warehouse-${ProcessHandle.current().pid()}"
    val spark = Engine.session(cpus, warehouse)
    spark.sparkContext.setLogLevel("WARN")
    try {
      Bench.maintainLayouts(spark, sfDir)
      names.foreach { name =>
        val recs = profile(spark, name, sfDir)
        println(s"# $name sf=$sfDir cpus=$cpus runs " +
          recs.map(_.wallMs).mkString(" ") + " ms, best shown")
        render(name, recs.minBy(_.wallMs), plan).foreach(println)
      }
    } finally {
      spark.stop()
      graft.silver.Upsert.deleteRecursively(java.nio.file.Paths.get(warehouse))
    }
  }
}
