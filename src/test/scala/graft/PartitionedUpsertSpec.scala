package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.silver.PartitionedUpsert

/** Partition-scoped upsert: correct merge semantics AND the physical
  * property that untouched partitions' files are left as-is. */
class PartitionedUpsertSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def listFiles(dir: String): Map[String, Long] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("silver processor routes to partition-scoped upsert when a PK column carries the partition marker") {
    import graft.core._
    val lake = new Lake(spark, Files.createTempDirectory("graft-psilver-").toString)
    lake.registry.create(EndpointSchema("metrics", "ops", 1, SchemaMode.Manual,
      SchemaDefinition(Seq(
        ColumnDefinition("metric_id", RefType.IntegerT, required = true, primaryKey = true),
        ColumnDefinition("day", RefType.StringT, required = true, primaryKey = true,
          description = Some("partition column")),
        ColumnDefinition("value", RefType.DoubleT)))))
    lake.ingest.ingest("ops", "metrics", Seq(
      """{"metric_id": 1, "day": "2024-01-01", "value": 1.0}""",
      """{"metric_id": 2, "day": "2024-01-02", "value": 2.0}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("ops", "metrics")
    // the catalog table and the query API see every partition's rows
    def readsThrough(n: Long): Unit = {
      assert(spark.table("ops_silver.metrics").count() == n)
      assert(lake.query.run("SELECT count(*) AS n FROM ops.silver.metrics")
        .toOption.get.rows == Seq(Seq(n)))
    }
    readsThrough(2)
    // the silver table is physically partitioned by day
    val dirs = Files.list(Paths.get(lake.silverPath("ops", "metrics")))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(dirs.exists(_.startsWith("day=")))
    // second batch updates one partition, inserts into it
    lake.ingest.ingest("ops", "metrics", Seq(
      """{"metric_id": 1, "day": "2024-01-01", "value": 9.0}""",
      """{"metric_id": 3, "day": "2024-01-01", "value": 3.0}"""))
    lake.ingest.flushAll()
    val df = lake.silver.processEndpoint("ops", "metrics").get
    assert(df.count() == 3)
    assert(df.filter("metric_id = 1").select("value").head().getDouble(0) == 9.0)
    readsThrough(3)
    // third batch adds a partition the catalog entry has not seen yet
    lake.ingest.ingest("ops", "metrics", Seq(
      """{"metric_id": 4, "day": "2024-01-03", "value": 4.0}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("ops", "metrics")
    readsThrough(4)
    assert(lake.query.run(
      "SELECT value FROM ops.silver.metrics WHERE day = '2024-01-03'")
      .toOption.get.rows == Seq(Seq(4.0)))
  }

  test("merge rewrites only the touched partitions") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-part-").toString + "/t"
    val base = Seq(
      (1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c"), (4L, "2024-01-03", "d"))
      .toDF("id", "day", "v")
    PartitionedUpsert.writeMerged(base, path, Seq("id"), "day")
    val before = listFiles(path)

    // batch touches only 2024-01-01: update id=1, insert id=5
    val batch = Seq((1L, "2024-01-01", "a2"), (5L, "2024-01-01", "e"))
      .toDF("id", "day", "v")
    PartitionedUpsert.writeMerged(batch, path, Seq("id"), "day")

    val after = spark.read.parquet(path)
    assert(after.count() == 5)
    assert(after.filter($"id" === 1).select("v").head().getString(0) == "a2")
    assert(after.filter($"id" === 2).select("v").head().getString(0) == "b")

    // physical check: files under day=2024-01-02 / 03 are byte-for-byte
    // untouched (same paths, same mtimes); day=2024-01-01 was rewritten
    val post = listFiles(path)
    val untouchedBefore = before.filter(!_._1.contains("day=2024-01-01"))
    val untouchedAfter = post.filter(!_._1.contains("day=2024-01-01"))
    assert(untouchedBefore == untouchedAfter, "untouched partitions changed")
    assert(post.keys.exists(_.contains("day=2024-01-01")))
    assert(before.keySet.filter(_.contains("day=2024-01-01")) !=
      post.keySet.filter(_.contains("day=2024-01-01")))
  }

  test("merge overwrites partitions dynamically without touching the session conf") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-pconf-").toString + "/t"
    PartitionedUpsert.writeMerged(
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b")).toDF("id", "day", "v"),
      path, Seq("id"), "day")
    val key = "spark.sql.sources.partitionOverwriteMode"
    // under a static session conf a plain overwrite would delete 2024-01-02
    spark.conf.set(key, "static")
    // SQL confs ride each job's properties: record what the merge's jobs saw
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(js.properties.getProperty(key)))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      PartitionedUpsert.writeMerged(Seq((1L, "2024-01-01", "a2")).toDF("id", "day", "v"),
        path, Seq("id"), "day")
      // listener events ride the async bus — wait until stable
      var prev = -1
      val deadline = System.nanoTime() + 10000000000L
      while ((seen.isEmpty || prev != seen.size) && System.nanoTime() < deadline) {
        prev = seen.size; Thread.sleep(200)
      }
      assert(spark.conf.get(key) == "static")
      // (jobs outside a SQL execution, like file listing, carry no confs)
      assert(seen.contains("static") && !seen.contains("dynamic"),
        s"merge jobs saw the session conf as ${seen.asScala.toSeq}")
      assert(spark.read.parquet(path).select("id", "v").as[(Long, String)]
        .collect().toMap == Map(1L -> "a2", 2L -> "b"))
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.conf.unset(key)
    }
  }

  test("reads with a partition predicate are partition-pruned at the scan") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-prune-").toString + "/t"
    val base = Seq(
      (1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"),
      (3L, "2024-01-03", "c"))
      .toDF("id", "day", "v")
    PartitionedUpsert.writeMerged(base, path, Seq("id"), "day")
    val q = spark.read.parquet(path).filter($"day" === "2024-01-02")
    val plan = q.queryExecution.executedPlan.toString
    // the day predicate must land in PartitionFilters (directory-level
    // pruning — at 100 TB the difference between listing one partition
    // and scanning the table), NOT as a post-scan data filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("2024-01-02"),
      s"partition predicate not pruned:\n$plan")
    assert(q.count() == 1)
  }
}
