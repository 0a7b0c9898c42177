package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.{CollectLimitExec, SQLExecution}

import graft.Lake

/** Interactive query execution — the engine equivalent of
  * `GET /consumption/query` (lambdas/query_api/main.py:210-237).
  *
  * Lifecycle (§3.1): validate (text + parsed plan) → rewrite names →
  * Catalyst → truncate at 10 000 rows with a `truncated` flag → rows as
  * maps; errors are sanitized (paths redacted, missing-table rewritten).
  *
  * Execution runs only the Spark jobs the plan needs. The capped plan
  * `LIMIT 10 001` over at most one task wave of partitions is collected
  * in one job over every partition, where `take` would scan one partition
  * first and the rest in a second job (see [[collectCapped]]). A bronze name reads through `Lake.bronze`,
  * whose schema is memoized against the bronze file listing (path, size,
  * mtime of every file), so only a request that sees a new or changed
  * file pays the JSON inference scan.
  *
  * Unlike the reference there is no per-request engine cold start — the
  * long-lived SparkSession's catalog, code cache and AQE statistics are
  * reused across queries (SURVEY §4.1).
  *
  * KNOWN DIALECT DIVERGENCES from the reference's DuckDB engine (full
  * detail in README "Dialect notes"): duplicate grouping expressions in
  * ROLLUP/CUBE subtotal differently (Spark keys sets by position);
  * `round(x, s)` with s > 0 rounds the shortest-decimal representation
  * where DuckDB rounds the binary value (scale 0 is identical); and the
  * ISO empty-input grand-total patch does not reach `GROUPING SETS`
  * listing `()` more than once (it DOES cover statically-empty inputs
  * hidden in VIEW bodies and uncorrelated subquery expressions — the
  * analyzed-stage rewrite in [[dataFrame]] below).
  */
final class QueryService(lake: Lake) {
  val MaxResultRows = 10000 // query_api/main.py:20

  final case class QueryResult(
      columns: Seq[String],
      rows: Seq[Seq[Any]],
      rowCount: Int,
      truncated: Boolean,
      maxRows: Int)

  def run(sql: String): Either[String, QueryResult] = {
    // dialect shims first (QUALIFY → subquery, EXCLUDE/REPLACE → EXCEPT)
    // so the parsed-plan guard sees SQL Spark can actually parse
    val sql2 = StarRewriter.rewrite(QualifyRewriter.rewrite(sql))
    val verdict = QueryGuard.validate(lake.spark, sql2)
    if (!verdict.ok) return Left(verdict.reason)
    try {
      val df = resolved(sql2)
      val taken = collectCapped(df.limit(MaxResultRows + 1))
      val truncated = taken.length > MaxResultRows
      val rows = taken.take(MaxResultRows).toSeq.map(_.toSeq)
      Right(QueryResult(df.columns.toSeq, rows, rows.length, truncated, MaxResultRows))
    } catch {
      case e: Exception => Left(friendlyError(e))
    }
  }

  /** `limited.collect()`, in one Spark job where Spark would plan it as
    * `take`'s incremental scan. A root `CollectLimitExec(n)` without an
    * offset, over a child of at most one task wave (partitions ≤
    * `defaultParallelism`), runs one job over every partition of its
    * child; each task returns at most its first `n` rows and the driver
    * keeps the first `n` in partition order — the rows `take` returns,
    * since it concatenates partitions in the same order. The driver thus
    * holds at most `defaultParallelism` × `n` rows, `n` ≤ 10 001. A wider
    * child keeps `take`'s incremental scan, which stops once it has `n`
    * rows instead of collecting up to `n` from every partition. Any other
    * root (`ORDER BY … LIMIT`'s top-k, an offset, an adaptive plan)
    * collects as planned. Runs under its own SQL execution id, like any
    * Dataset action, so listeners and SQL metrics see the query. */
  private def collectCapped(limited: DataFrame): Array[Row] = {
    val qe = limited.queryExecution
    qe.executedPlan match {
      case limit @ CollectLimitExec(n, child, 0) if n > 0 =>
        val sc = lake.spark.sparkContext
        SQLExecution.withNewExecutionId(qe, Some("collect")) {
          val rdd = child.execute()
          val internal =
            if (rdd.getNumPartitions <= sc.defaultParallelism)
              sc.runJob(rdd, (it: Iterator[InternalRow]) => it.take(n).map(_.copy()).toArray)
                .iterator.flatten.take(n).toArray
            else limit.executeCollect()
          val fromRow = ExpressionEncoder(limited.schema).resolveAndBind().createDeserializer()
          internal.map(fromRow)
        }
      case _ => limited.collect()
    }
  }

  /** The unguarded, untruncated DataFrame (for internal composition).
    * The analyzed-stage grouping-sets rewrite runs here so even
    * statically-empty inputs keep the DuckDB/ISO grand-total row —
    * the optimizer-batch copy of the rule only sees runtime-empty
    * plans (EmptyGroupingSetsRule scaladoc). */
  def dataFrame(sql: String): DataFrame =
    resolved(StarRewriter.rewrite(QualifyRewriter.rewrite(sql)))

  /** [[dataFrame]] for SQL whose dialect shims have already run. */
  private def resolved(sql: String): DataFrame =
    graft.plans.EmptyGroupingSetsRule.applyAnalyzed(
      lake.spark.sql(NameRewriter.rewrite(lake, sql)))

  /** Error sanitization (query_api/main.py:186-207): missing relations →
    * "does not exist or has no data"; object-store URIs and internal
    * filesystem paths replaced with `<redacted>`. */
  private[graft] def friendlyError(e: Exception): String = {
    val msg = Option(e.getMessage).getOrElse("query failed")
    if (msg.contains("TABLE_OR_VIEW_NOT_FOUND") || msg.contains("PATH_NOT_FOUND"))
      "Table does not exist or has no data."
    else msg
      .replaceAll("""s3://[^\s'"]+""", "<redacted>")
      .replaceAll("""(file:)?(/tmp/|/var/|/opt/|/home/|/root/)[^\s'"]*""", "<redacted>")
      .take(2000)
  }
}
