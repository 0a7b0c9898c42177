package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `tools.Profile` on a real query: what it reports is what Spark ran. */
class ProfileSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the smallest fixture, beside the one the bench measures
  private val dir =
    Paths.get(Bench.fixtureDir).resolveSibling("sf0.001").toString
  private val q = "q03_join_revenue_by_nation"

  /** The counted operators by node name, walked straight off a plan. */
  private def direct(plan: SparkPlan): Map[String, Int] = {
    val named = Set("Exchange", "BroadcastExchange", "Sort", "Window",
      "Generate", "InMemoryTableScan", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
    collect(plan) {
      case p if named(p.nodeName) => p.nodeName
      case p if p.nodeName.startsWith("Scan ") => "Scan"
    }.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  test("Profile reports every job with Spark's stage ids, a timeline " +
      "that adds up to the wall, and the executed plans' operators") {
    val seen = new ConcurrentHashMap[Int, Seq[Int]]()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(e.jobId, e.stageIds)
    }
    GraftBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    val rec = try Profile.record(spark)(Bench.runQuery(spark, q, dir))
      finally spark.sparkContext.removeSparkListener(probe)

    // every job the listener saw, with the stage ids Spark gave it
    assert(!seen.isEmpty)
    assert(rec.jobs.map(j => j.id -> j.stageIds).toMap == seen.asScala.toMap)
    val report = Profile.render(q, rec, plan = false)
    val JobLine = """.*\| job +(\d+) +\d+ ms \| stages ([\d,]*) \|.*""".r
    val reported = report.collect {
      case JobLine(id, stages) =>
        id.toInt -> stages.split(',').filter(_.nonEmpty).map(_.toInt).toSeq
    }
    assert(reported.toMap == seen.asScala.toMap)
    assert(reported.size == seen.size)
    // every stage that ran has its metrics line
    assert(rec.stages.nonEmpty)
    rec.stages.keys.foreach { id =>
      assert(report.exists(_.matches(s""" +stage +$id +\\d+ tasks .*""")), id)
    }

    // job walls + driver gaps + tail gap = the run's wall, inside it
    assert(rec.jobs.map(_.wallMs).sum + rec.gapsMs.sum + rec.tailGapMs ==
      rec.wallMs)
    assert(rec.jobs.forall(j =>
      j.startMs >= rec.startMs && j.endMs <= rec.endMs && j.wallMs >= 0))

    // operator counts = a direct walk of each execution's executed plan
    assert(rec.executions.nonEmpty)
    val counts = Profile.operatorCounts(rec)
    rec.executions.zip(counts).foreach { case (e, c) =>
      assert(c == direct(e.qe.executedPlan), e.callSite)
    }
    assert(counts.exists(_.getOrElse("Scan", 0) > 0))
  }

  test("an operator under a cache read twice counts once") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ranked = spark.range(200).withColumn("g", col("id") % 7)
      .withColumn("r", row_number().over(Window.partitionBy("g").orderBy("id")))
      .persist()
    try {
      val rec = Profile.record(spark) {
        ranked.as("a").join(ranked.as("b"), col("a.id") === col("b.r"))
          .write.format("noop").mode("overwrite").save()
      }
      val counts = Profile.operatorCounts(rec)
        .reduce((x, y) => (x.keySet ++ y.keySet)
          .map(k => k -> (x.getOrElse(k, 0) + y.getOrElse(k, 0))).toMap)
      assert(counts.get("InMemoryTableScan").contains(2))
      assert(counts.get("Window").contains(1))
    } finally ranked.unpersist()
  }
}
