package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

import graft.gold.GoldJob

/** `GoldRunner.runScheduled`: dependency-driven concurrent runs, `dbt run`
  * failure semantics, and a pool that does not outlive the call. */
class GoldRunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def newLake(): Lake =
    new Lake(spark, Files.createTempDirectory("graft-goldrun-").toString)

  private def status(lake: Lake, job: String): Option[String] = {
    val f = Paths.get(lake.root, "registry", "schemas", "d", "gold", job,
      "last_execution.yaml")
    if (Files.exists(f)) Some(Files.readString(f)) else None
  }

  private def field(yaml: String, key: String): String =
    yaml.linesIterator.find(_.startsWith(s"$key: ")).get
      .stripPrefix(s"$key: ").stripPrefix("\"").stripSuffix("\"")

  private def poolThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("graft-gold-")).toSet

  test("diamond DAG: dependents start after their upstream commits, " +
      "siblings overlap, results in topological order") {
    val lake = newLake()
    // b and c each wait here for the other: they both return true only
    // when the runner has them in flight at the same time
    spark.udf.register("gold_rendezvous", udf { () =>
      val l = GoldRunnerSpec.latch.get
      l.countDown(); l.await(30, TimeUnit.SECONDS)
    }.asNondeterministic())
    Seq(
      GoldJob("d", "a", "SELECT 1 AS one", writeMode = "append"),
      GoldJob("d", "b",
        "SELECT n, gold_rendezvous() AS met FROM (SELECT count(*) AS n FROM d.gold.a)",
        scheduleType = "dependency", cronSchedule = None, dependencies = Seq("a")),
      GoldJob("d", "c",
        "SELECT n, gold_rendezvous() AS met FROM (SELECT count(*) AS n FROM d.gold.a)",
        scheduleType = "dependency", cronSchedule = None, dependencies = Seq("a")),
      GoldJob("d", "d",
        "SELECT b.n + c.n AS n, b.met AND c.met AS met FROM d.gold.b b CROSS JOIN d.gold.c c",
        scheduleType = "dependency", cronSchedule = None, dependencies = Seq("b", "c")))
      .foreach(lake.registry.saveGoldJob)

    // each run appends one row to a, so stale upstream output shows in d
    for (run <- 1 to 2) {
      GoldRunnerSpec.latch.set(new CountDownLatch(2))
      val results = lake.gold.runScheduled("d", "daily")
      assert(results.map(_.job.jobName) == Seq("a", "b", "c", "d"))
      assert(results.forall(_.status == "success"))
      val out = spark.table("d_gold.d").collect()
      assert(out.length == 1)
      assert(out.head.getAs[Long]("n") == 2L * run, s"run $run read stale upstream output")
      assert(out.head.getAs[Boolean]("met"), "b and c did not run concurrently")
      // every job started after each of its upstream jobs had committed
      def started(j: String) = Instant.parse(field(status(lake, j).get, "output")
        .split(" ").find(_.startsWith("started=")).get.stripPrefix("started="))
      def committed(j: String) = Instant.parse(field(status(lake, j).get, "timestamp"))
      for ((j, up) <- Seq("b" -> "a", "c" -> "a", "d" -> "b", "d" -> "c"))
        assert(!started(j).isBefore(committed(up)), s"$j started before $up committed")
      assert(poolThreads().isEmpty, s"pool threads left: ${poolThreads()}")
    }
  }

  test("runJob's rows equal the committed table's count after an " +
      "overwrite, two appends and an upsert") {
    val lake = newLake()
    def run(job: GoldJob, expect: Long): Unit = {
      val r = lake.gold.runJob(job)
      assert(r.rows == spark.table(s"d_gold.${job.jobName}").count(), job)
      assert(r.rows == expect, job)
      assert(field(status(lake, job.jobName).get, "output")
        .startsWith(s"rows=$expect "))
    }
    run(GoldJob("d", "ow", "SELECT id FROM range(50)"), 50)
    run(GoldJob("d", "ow", "SELECT id FROM range(7)"), 7)
    val app = GoldJob("d", "app", "SELECT id FROM range(30)", writeMode = "append")
    run(app, 30)
    run(app, 60)
    run(GoldJob("d", "up", "SELECT id, 'a' AS v FROM range(100)",
      writeMode = "upsert", uniqueKey = Seq("id")), 100)
    // 50 re-sent keys update in place, 50 new keys insert
    run(GoldJob("d", "up", "SELECT id, 'b' AS v FROM range(50, 150)",
      writeMode = "upsert", uniqueKey = Seq("id")), 150)
  }

  test("a failed job skips its dependents, independent jobs still commit, " +
      "and its error is thrown after all settle") {
    val lake = newLake()
    Seq(
      GoldJob("d", "bad", "SELECT no_such_column FROM range(1)"),
      GoldJob("d", "sibling", "SELECT 1 AS x"),
      GoldJob("d", "downstream", "SELECT * FROM d.gold.bad",
        scheduleType = "dependency", cronSchedule = None, dependencies = Seq("bad")))
      .foreach(lake.registry.saveGoldJob)

    val e = intercept[AnalysisException](lake.gold.runScheduled("d", "daily"))
    assert(e.getMessage.contains("no_such_column"))
    val bad = status(lake, "bad").get
    assert(field(bad, "status") == "failed")
    assert(field(bad, "output").contains("no_such_column"))
    assert(field(status(lake, "sibling").get, "status") == "success")
    assert(spark.table("d_gold.sibling").count() == 1)
    assert(status(lake, "downstream").isEmpty, "dependent of a failed job ran")
    assert(!Files.exists(Paths.get(lake.goldPath("d", "downstream"))))
    assert(poolThreads().isEmpty, s"pool threads left: ${poolThreads()}")
  }
}

object GoldRunnerSpec {
  /** The rendezvous the diamond test's concurrent jobs meet at; Spark
    * tasks run in this JVM under `local[n]`. */
  val latch = new AtomicReference[CountDownLatch]()
}
