package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** `QueryService.run`'s execution: the one-job capped collect returns
  * exactly what `take(MaxResultRows + 1)` returned, and the bronze schema
  * memo skips inference only while the bronze listing is unchanged. */
class QueryServiceSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val lake = new Lake(spark,
    Files.createTempDirectory("graft-qs-").toString)

  private val sizes = Seq(9999, 10000, 10001, 10500)

  /** Tables `qs.silver.r<n>` of n rows over 4 files, each its own scan
    * partition, so the first partition holds fewer rows than the cap. */
  private lazy val tables: Unit = sizes.foreach { n =>
    val path = s"${lake.root}/silver/qs/r$n"
    spark.range(n).selectExpr("id", "id % 97 AS v").repartition(4)
      .write.parquet(path)
    lake.registerTable("qs", "silver", s"r$n", path)
  }

  /** The pre-one-job path: `take` on the same resolved DataFrame. */
  private def viaTake(sql: String): (Seq[Seq[Any]], Int, Boolean) = {
    val cap = lake.query.MaxResultRows
    val taken = lake.query.dataFrame(sql).take(cap + 1)
    val rows = taken.take(cap).toSeq.map(_.toSeq)
    (rows, rows.length, taken.length > cap)
  }

  private def run(sql: String) = {
    val r = lake.query.run(sql)
    assert(r.isRight, r)
    r.toOption.get
  }

  /** Jobs started by `body`, as (has a SQL execution id) flags. Tags the
    * body's jobs with a job group, then runs a marker job in another
    * group: the listener bus is FIFO, so once the marker is seen every
    * job of the body has been seen too. */
  private def jobsOf(body: => Unit): Seq[Boolean] = {
    val sc = spark.sparkContext
    val group = s"qs-${System.nanoTime()}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[(String, Boolean)]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add((String.valueOf(js.properties.getProperty("spark.jobGroup.id")),
          js.properties.getProperty("spark.sql.execution.id") != null))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_._1 == marker), "listener bus did not drain")
      seen.asScala.toSeq.collect { case (g, sqlId) if g == group => sqlId }
    } finally sc.removeSparkListener(l)
  }

  test("capped collect equals the take path at 9 999, 10 000, 10 001 and 10 500 rows") {
    tables
    assert(spark.table("qs_silver.r10500").rdd.getNumPartitions >= 4)
    sizes.foreach { n =>
      val sql = s"SELECT id, v FROM qs.silver.r$n"
      val r = run(sql)
      val (rows, count, truncated) = viaTake(sql)
      assert(r.rows == rows, s"rows differ at $n")
      assert(r.rowCount == count && r.truncated == truncated, s"at $n")
      assert(r.rowCount == math.min(n, 10000) && r.truncated == (n > 10000), s"at $n")
      assert(r.columns == Seq("id", "v"))
    }
  }

  test("a scan wider than one task wave keeps take's incremental path and its rows") {
    tables
    // a UNION ALL of the four tables has no exchange, so its partitions add
    // up past one wave while the root stays a plain CollectLimitExec
    val sql = sizes.map(n => s"SELECT id, v FROM qs.silver.r$n").mkString(" UNION ALL ")
    val df = lake.query.dataFrame(sql)
    assert(df.rdd.getNumPartitions > spark.sparkContext.defaultParallelism)
    assert(df.limit(lake.query.MaxResultRows + 1).queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.CollectLimitExec])
    run(sql) // warm
    var r: lake.query.QueryResult = null
    val jobs = jobsOf { r = run(sql) }
    val (rows, count, truncated) = viaTake(sql)
    assert(r.rows == rows && r.rowCount == count && r.truncated == truncated)
    assert(r.rowCount == 10000 && r.truncated)
    // the first partition holds fewer rows than the cap, so take scans it
    // alone first and then more: never one job over every partition
    assert(jobs.length > 1, s"jobs: $jobs")
  }

  test("LIMIT, LIMIT past the cap, LIMIT OFFSET and ORDER BY LIMIT keep their rows and order") {
    tables
    val t = "qs.silver.r10500"
    Seq(s"SELECT id FROM $t LIMIT 5", s"SELECT id FROM $t LIMIT 20000",
        s"SELECT id FROM $t LIMIT 5 OFFSET 3",
        s"SELECT id, v FROM $t ORDER BY v DESC, id LIMIT 7").foreach { sql =>
      val r = run(sql)
      val (rows, count, truncated) = viaTake(sql)
      assert(r.rows == rows && r.rowCount == count && r.truncated == truncated, sql)
    }
    assert(run(s"SELECT id FROM $t LIMIT 5").rowCount == 5)
    val past = run(s"SELECT id FROM $t LIMIT 20000")
    assert(past.rowCount == 10000 && past.truncated)
    assert(run(s"SELECT id FROM $t LIMIT 5 OFFSET 3").rowCount == 5)
    // top-k: highest v first, ties by id
    val top = run(s"SELECT id, v FROM $t ORDER BY v DESC, id LIMIT 7").rows
    assert(top == Seq(96L, 193L, 290L, 387L, 484L, 581L, 678L).map(i => Seq(i, 96L)))
  }

  test("a point lookup runs exactly one Spark job") {
    tables
    val sql = "SELECT id, v FROM qs.silver.r10500 WHERE id = 4242"
    run(sql) // warm: plan caches, codegen
    var rows: Seq[Seq[Any]] = Nil
    val jobs = jobsOf { rows = run(sql).rows }
    assert(rows == Seq(Seq(4242L, 4242L % 97)))
    assert(jobs.length == 1, s"jobs: $jobs")
  }

  test("a QueryExecutionListener sees one onSuccess per run") {
    tables
    val ok = new java.util.concurrent.atomic.AtomicInteger()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ok.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      run("SELECT id FROM qs.silver.r9999 WHERE id < 3")
      run("SELECT id FROM qs.silver.r10001")
      run("SELECT v, count(*) AS n FROM qs.silver.r10000 GROUP BY v")
      val deadline = System.nanoTime() + 30000000000L
      while (ok.get < 3 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(500) // a fourth event would show by now
      assert(ok.get == 3)
    } finally spark.listenerManager.unregister(l)
  }

  private val clicks = EndpointSchema("clicks", "web", 1, SchemaMode.Manual,
    SchemaDefinition(Seq(
      ColumnDefinition("click_id", RefType.IntegerT, required = true, primaryKey = true),
      ColumnDefinition("page", RefType.StringT))))

  test("bronze schema memo: an unchanged listing skips inference; a new file with a new field re-infers") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-qs-bronze-").toString)
    lake.registry.create(clicks)
    lake.ingest.ingest("web", "clicks", Seq(
      """{"click_id": 1, "page": "home"}""", """{"click_id": 2, "page": "about"}"""))
    lake.ingest.flushAll()
    val sql = "SELECT click_id FROM web.bronze.clicks WHERE page = 'home'"
    val first = jobsOf { assert(lake.query.run(sql).toOption.get.rows == Seq(Seq(1L))) }
    val second = jobsOf { assert(lake.query.run(sql).toOption.get.rows == Seq(Seq(1L))) }
    assert(second.length == first.length - 1, s"first $first, second $second")
    // the inference scan is the one job outside any SQL execution
    assert(first.count(!_) == 1 && !second.contains(false), s"first $first, second $second")

    lake.ingest.ingest("web", "clicks", Seq(
      """{"click_id": 3, "page": "blog", "referrer": "search"}"""))
    lake.ingest.flushAll()
    val all = lake.query.run("SELECT * FROM web.bronze.clicks").toOption.get
    assert(all.columns.contains("referrer"))
    assert(all.rowCount == 3)
    val ref = lake.query.run(
      "SELECT click_id FROM web.bronze.clicks WHERE referrer = 'search'").toOption.get
    assert(ref.rows == Seq(Seq(3L)))
  }

  test("bronze schema memo: a same-name file rewritten with a different size is re-inferred") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-qs-bronze-").toString)
    val dir = java.nio.file.Paths.get(lake.bronzePath("web", "clicks"))
    Files.createDirectories(dir)
    val file = dir.resolve("part-1.jsonl")
    def write(s: String) = Files.write(file, s.getBytes(StandardCharsets.UTF_8))
    write("""{"click_id": 1}""" + "\n")
    assert(lake.query.run("SELECT * FROM web.bronze.clicks").toOption.get
      .columns == Seq("click_id"))
    write("""{"click_id": 1, "page": "home"}""" + "\n")
    val r = lake.query.run("SELECT * FROM web.bronze.clicks").toOption.get
    assert(r.columns == Seq("click_id", "page"))
    assert(r.rows == Seq(Seq(1L, "home")))
  }
}
