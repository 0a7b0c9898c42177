package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

import graft.core.SchemaRegistry
import graft.gold.GoldRunner
import graft.ingest.IngestService
import graft.query.{BronzeReader, CatalogService, QueryService}
import graft.silver.SilverProcessor

/** The engine facade: one warehouse directory holding the medallion layout
  * the reference implements on S3 (README.md:17-23):
  * {{{
  *   <root>/bronze/<domain>/<endpoint>/  (JSONL)  // raw ingested rows
  *   <root>/silver/<domain>/<table>/              // schema-applied parquet
  *   <root>/gold/<domain>/<job>/                  // transform outputs
  *   <root>/registry/                             // versioned YAML schemas
  * }}}
  * Silver/gold tables are registered in the Spark session catalog as
  * `<domain>_<layer>.<table>`, mirroring the reference's Glue namespaces
  * (serverless_processing_iceberg/main.py:111-116).
  *
  * One long-lived SparkSession serves all queries — deliberately dropping
  * the reference's per-request engine cold start (query_api/main.py:216-220,
  * SURVEY §4.1 anti-pattern).
  */
final class Lake(val spark: SparkSession, val root: String) {
  val registry = new SchemaRegistry(s"$root/registry")
  /** Ingestion-plan store (lambdas/ingestion_plans/main.py:56-125). */
  val plans = new graft.extract.PlanRegistry(s"$root/registry")

  // enable Catalyst-level three-part-name resolution for sessions built
  // with graft.plans.LakeExtensions (string-level rewrite stays the
  // default path for foreign sessions)
  graft.plans.LakeResolutionRule.setRoot(spark, root)
  // DuckDB-dialect grouping-sets semantics on every query this lake
  // serves (empty-input ROLLUP/CUBE grand-total row — see the rule).
  // Null-guarded: registry-only tests construct a Lake without a session.
  if (spark != null) graft.plans.EmptyGroupingSetsRule.install(spark)

  def bronzePath(domain: String, name: String): String = s"$root/bronze/$domain/$name"
  def silverPath(domain: String, name: String): String = s"$root/silver/$domain/$name"
  def goldPath(domain: String, name: String): String = s"$root/gold/$domain/$name"

  /** One endpoint's bronze JSONL as a schema-on-read relation, or None
    * when the endpoint has no bronze directory. Every bronze reader (the
    * query API's name rewriter, the Catalyst resolution rule, the bronze
    * stream's start schema) comes through [[graft.query.BronzeReader]],
    * which memoizes the inferred schema against the file listing. */
  def bronze(domain: String, name: String): Option[DataFrame] =
    BronzeReader.read(spark, bronzePath(domain, name))

  val ingest = new IngestService(this)
  val silver = new SilverProcessor(this)
  val gold = new GoldRunner(this)
  val query = new QueryService(this)
  val catalog = new CatalogService(this)

  /** Register a silver/gold table in the session catalog under
    * `<domain>_<layer>.<table>` as an external parquet table. */
  def registerTable(domain: String, layer: String, table: String, path: String): Unit = {
    val db = s"${domain}_$layer"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // external parquet table; re-point if a previous registration (e.g.
    // another Lake instance in the same session) used a different location
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    spark.catalog.createTable(s"$db.$table", path, "parquet")
    // a partitioned table reads only the partitions its catalog entry
    // lists, and a new entry lists none; a non-partitioned table rejects
    // the call. Writers re-register after each commit, so partitions a
    // later write adds are picked up here too.
    if (spark.sessionState.catalog.getTableMetadata(TableIdentifier(table, Some(db)))
        .partitionColumnNames.nonEmpty)
      spark.catalog.recoverPartitions(s"$db.$table")
    // lets path-level writers scope post-merge cache invalidation to
    // this one relation instead of the whole catalog
    graft.core.TableIndex.register(path, s"$db.$table")
  }
}
