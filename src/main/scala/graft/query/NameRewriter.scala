package graft.query

import scala.util.matching.Regex

import graft.Lake

/** Three-part name resolution `domain.layer.table` → physical relations —
  * the engine equivalent of the reference's regex rewrite
  * (lambdas/query_api/main.py:162-183; dbt variant entrypoint.py:72-83).
  *
  *  - `d.silver.t` / `d.gold.t`  →  session-catalog table `d_silver.t` /
  *    `d_gold.t` (registered by SilverProcessor / GoldRunner);
  *  - `d.bronze.t` → an on-the-fly temp view over `Lake.bronze`, the
  *    bronze JSONL directory read with Spark's schema-merging JSON reader
  *    — the `read_json_auto(..., union_by_name=true)` equivalent (S1).
  *
  * Kept as a pre-parse string rewrite for fidelity with the reference's
  * observable behavior. Unlike the reference's bare regex, matches
  * INSIDE quoted literals/identifiers are skipped (r13: the reference's
  * lookbehind only refuses a name that starts right AFTER the quote —
  * `' d.silver.t'` would be rewritten inside the string value, a silent
  * result change the QueryService-path fuzz is built to catch).
  */
object NameRewriter {
  private val threePart: Regex =
    """(?<![a-zA-Z0-9_.'"])([a-z][a-z0-9_]*)\.(bronze|silver|gold)\.([a-z][a-z0-9_]*)""".r

  /** Per-char in-quote flags — the shared Spark-lexer-faithful scanner
    * (backslash + doubled-quote escapes; see [[SqlScan]]). */
  private def quoteFlags(sql: String): Array[Boolean] =
    SqlScan.quoteFlags(sql)

  def rewrite(lake: Lake, sql: String): String = {
    val quoted = quoteFlags(sql)
    threePart.replaceSomeIn(sql, m => {
      if (quoted(m.start)) None
      else {
        val (domain, layer, table) = (m.group(1), m.group(2), m.group(3))
        Some(layer match {
          case "bronze" =>
            val view = s"${domain}_bronze_$table"
            lake.bronze(domain, table).foreach(_.createOrReplaceTempView(view))
            view
          case _ => s"${domain}_${layer}.$table"
        })
      }
    })
  }

  /** Pure rewrite (no side effects) for tests/oracles: bronze names map to
    * their view name, silver/gold to catalog names. */
  def rewritePure(sql: String): String = {
    val quoted = quoteFlags(sql)
    threePart.replaceSomeIn(sql, m =>
      if (quoted(m.start)) None
      else Some(m.group(2) match {
        case "bronze" => s"${m.group(1)}_bronze_${m.group(3)}"
        case layer    => s"${m.group(1)}_${layer}.${m.group(3)}"
      }))
  }
}
