package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** Catalyst-native resolution of three-part lake names — the idiomatic
  * alternative (SURVEY §4.3.1) to the regex pre-pass in
  * `query.NameRewriter`, mirroring the reference's textual rewrite
  * (lambdas/query_api/main.py:162-183) inside the analyzer instead of on
  * the SQL string.
  *
  * An `UnresolvedRelation(Seq(domain, layer, table))` is rewritten to:
  *  - silver/gold: `UnresolvedRelation(Seq(s"${domain}_$layer", table))`
  *    — the session-catalog database the processors register;
  *  - bronze: the logical plan of `BronzeReader.read` (what `Lake.bronze`
  *    returns), the schema-merged JSON read over the bronze directory (the
  *    `read_json_auto(union_by_name=true)` equivalent), resolved eagerly
  *    since bronze is schema-on-read.
  *
  * Operating on the PLAN rather than the string means quoted literals,
  * comments and subqueries can never be corrupted by the rewrite — the
  * analyzer only hands us real relation references. Registered through
  * `SparkSessionExtensions` (graft.plans.LakeExtensions) or per-session
  * via `LakeResolutionRule.install`.
  */
final class LakeResolutionRule(spark: SparkSession) extends Rule[LogicalPlan] {
  private val layers = Set("bronze", "silver", "gold")

  override def apply(plan: LogicalPlan): LogicalPlan =
    LakeResolutionRule.rootFor(spark) match {
      case None => plan
      case Some(root) => plan.resolveOperatorsUp {
        case UnresolvedRelation(Seq(domain, layer, table), options, isStreaming)
            if layers(layer.toLowerCase) =>
          layer.toLowerCase match {
            case "bronze" =>
              graft.query.BronzeReader.read(spark, s"$root/bronze/$domain/$table")
                .map(_.queryExecution.analyzed).getOrElse(
                UnresolvedRelation(Seq(s"${domain}_bronze_$table"), options, isStreaming))
            case l =>
              UnresolvedRelation(Seq(s"${domain}_$l", table), options, isStreaming)
          }
      }
    }
}

object LakeResolutionRule {
  // session UUID -> warehouse root; the rule is constructed once per
  // session by the extension, the root arrives later when a Lake is built
  private val roots = scala.collection.concurrent.TrieMap.empty[String, String]

  def setRoot(spark: SparkSession, root: String): Unit =
    roots.put(System.identityHashCode(spark).toString, root)

  def rootFor(spark: SparkSession): Option[String] =
    roots.get(System.identityHashCode(spark).toString)
}

/** Parser wrapper applying the same plan-level rewrite straight after
  * parsing. Needed because Spark 4's built-in relation resolution THROWS
  * on an unknown multi-part namespace before extended resolution rules
  * get a chance to run — so the rewrite must happen pre-analysis. */
final class LakeParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  private def rewrite(plan: LogicalPlan): LogicalPlan =
    new LakeResolutionRule(spark).apply(plan)

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    rewrite(delegate.parseQuery(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Session-extension entry point:
  * `SparkSession.builder().withExtensions(new LakeExtensions)` or conf
  * `spark.sql.extensions=graft.plans.LakeExtensions`. */
final class LakeExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((session, parser) => new LakeParser(session, parser))
    // also registered as a resolution rule for plans assembled
    // programmatically (DataFrame API over UnresolvedRelation)
    e.injectResolutionRule(new LakeResolutionRule(_))
  }
}
