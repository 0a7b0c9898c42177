package graft.gold

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{CompletableFuture, CompletionException,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import graft.Lake
import graft.query.NameRewriter
import graft.silver.{BucketedState, Upsert}

/** Gold transform-job execution — the engine replacement for the
  * dbt+DuckDB ECS container (containers/dbt_runner/entrypoint.py:495-580).
  *
  * Per job: rewrite `domain.layer.table` references → catalog names, run
  * the SQL through Catalyst, write by mode, register the gold table, and
  * record a status file (entrypoint.py:465-488). Scheduled runs execute
  * all active jobs whose effective tag matches, replacing dbt's `ref()`
  * DAG (entrypoint.py:86-160): each job starts as soon as every selected
  * job it depends on has committed, so independent jobs overlap as
  * concurrent Spark jobs (see [[runScheduled]]).
  *
  * Write modes: overwrite | append | upsert-by-unique-key. NOTE: the
  * reference's live path silently treats append+unique_key as OVERWRITE
  * (entrypoint.py:434-437); its own dbt materialization does a real
  * delete+insert (iceberg_incremental.sql:85-113). We implement the real
  * upsert (SURVEY §7.4.3).
  */
final class GoldRunner(lake: Lake) {

  final case class RunResult(job: GoldJob, rows: Long, status: String)

  def runJob(job: GoldJob): RunResult = {
    val spark = lake.spark
    val started = Instant.now()
    try {
      val sql = NameRewriter.rewrite(lake,
        graft.query.StarRewriter.rewrite(
          graft.query.QualifyRewriter.rewrite(job.query)))
      val result = spark.sql(sql)
      val path = lake.goldPath(job.domain, job.jobName)
      job.writeMode match {
        case "overwrite" =>
          Upsert.writeMerged(result, path, keys = Nil) // no keys = replace
        case "append" if job.uniqueKey.isEmpty =>
          result.write.mode("append").parquet(path)
        case "append" | "upsert" =>
          require(job.uniqueKey.nonEmpty, s"${job.jobName}: upsert needs unique_key")
          Upsert.writeMerged(result, path, job.uniqueKey)
      }
      lake.registerTable(job.domain, "gold", job.jobName, path)
      val rows = committedRows(path)
      writeStatus(job, "success", s"rows=$rows started=$started")
      RunResult(job, rows, "success")
    } catch {
      case e: Exception =>
        writeStatus(job, "failed", Option(e.getMessage).getOrElse("").take(5000))
        throw e
    }
  }

  /** Run all active jobs for a domain whose effective tag matches (O1 +
    * O2 + O4), driven by their dependencies instead of one at a time.
    *
    * Each job starts once every dependency selected in this call has
    * committed (a dependency on a job that is not selected — another tag,
    * or inactive — does not run here and is not waited for), so a job
    * always reads its upstream's output from this run. Jobs run on a pool
    * this call owns, min(selected jobs, `defaultParallelism`) threads, so
    * independent jobs overlap as concurrent Spark jobs; the pool is shut
    * down and its threads joined before the call returns.
    *
    * Failures follow `dbt run` without `--fail-fast`: a failed job's
    * transitive dependents do not start, every independent job still runs
    * and writes its status, and once every started job has settled the
    * first failure in topological order is thrown. Results come back in
    * [[TagScheduler.topoOrder]] order.
    *
    * perfbench's traced medallion run calls [[runJob]] one job at a time
    * to time each job, so its `gold.dag_s` is the serial sum, not this. */
  def runScheduled(domain: String, tag: String): Seq[RunResult] = {
    val jobs = lake.registry.listGoldJobs(domain).filter(_.status == "active")
    val tags = TagScheduler.effectiveTags(jobs)
    val order = TagScheduler.topoOrder(jobs).filter(j => tags(j.jobName) == tag)
    if (order.isEmpty) return Nil
    val size = math.min(order.size, lake.spark.sparkContext.defaultParallelism)
    val threads = ArrayBuffer.empty[Thread]
    val pool = new ThreadPoolExecutor(size, size, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-gold-$domain-${threads.size}")
        t.setDaemon(true); threads += t; t
      })
    // a worker inherits Spark's thread-local job properties (scheduler
    // pool, job group) from the thread that creates it: create them all
    // here so they carry the caller's, never a finished job's
    pool.prestartAllCoreThreads()
    try {
      // topological order: every upstream future exists before its
      // dependents; a failed upstream fails the dependent unstarted
      val runs = order.foldLeft(Map.empty[String, CompletableFuture[RunResult]]) { (m, j) =>
        val upstream = j.dependencies.flatMap(m.get)
        m + (j.jobName -> CompletableFuture.allOf(upstream: _*)
          .thenApplyAsync[RunResult](_ => runJob(j), pool))
      }
      CompletableFuture.allOf(runs.values.toSeq: _*).handle[Unit]((_, _) => ()).join()
      // a skipped job fails with its upstream's error, and that upstream
      // precedes it in topological order, so this throws a job's own error
      order.map { j =>
        try runs(j.jobName).join()
        catch { case e: CompletionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      threads.foreach(_.join())
    }
  }

  /** Rows in the table at `path`: the sum of its data files' Parquet
    * footer counts, read on the driver with no Spark job. Data files are
    * the names Spark's file index lists (no `_` or `.` prefix). */
  private def committedRows(path: String): Long =
    graft.core.Fs.children(Paths.get(path))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .map(BucketedState.parquetRowCount).sum

  /** last_execution.yaml: status, timestamp, output ≤5000 chars
    * (entrypoint.py:465-488). */
  private def writeStatus(job: GoldJob, status: String, output: String): Unit = {
    val file = Paths.get(lake.root, "registry", "schemas", job.domain, "gold",
      job.jobName, "last_execution.yaml")
    Files.createDirectories(file.getParent)
    Files.writeString(file,
      s"""status: $status
         |timestamp: "${Instant.now()}"
         |output: "${output.take(5000).replace("\"", "'")}"
         |""".stripMargin)
  }
}
