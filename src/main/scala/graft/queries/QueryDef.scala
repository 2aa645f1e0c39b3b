package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver's correctness gate:
  * a Spark query over the testdata tables plus the equivalent DuckDB
  * oracle SQL. Column names must match exactly —
  * the driver sorts columns by name and hashes values.
  *
  * `prepare` is the optional UNTIMED fixture step for gates whose
  * lambda materializes scratch input (WARC exports, local stores)
  * before the measured query: `Bench` runs it outside the timer so
  * the measurement certifies the OPERATOR, not the fixture I/O (the
  * q251 discipline). The lambda must stay self-sufficient — prepare
  * is idempotent memoized synthesis the lambda also triggers on its
  * own first call — so `Verify` and ad-hoc use need no prepare pass.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String,
    prepare: Option[(SparkSession, String) => Unit] = None)

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle)
  def sqlPrepared(name: String, oracle: String)(
      prep: (SparkSession, String) => Unit)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle, Some(prep))
}

/** Oracle SQL twins of URL-identity expression helpers shared across
  * query families (q138's inline canonicalization and
  * WebGraphQueries' canonChain must not diverge).
  */
object UrlOracleSql {

  /** DuckDB twin of
    * [[graft.functions.TextFunctions]]' RFC 3986 §6.2.2.1–2
    * percent-encoding normalization (private `pctNormalize`, applied
    * inside `canonicalizeUrl`): uppercase escape hex, decode
    * unreserved (ALPHA/DIGIT/`-._~`), malformed escapes verbatim —
    * the identical split-on-`%` fold. `v` must be a COLUMN REFERENCE
    * (it is spliced several times). Built with plain concatenation:
    * the hex-class regex carries no `$`, but keep it interpolator-free
    * like dotNormSql for the same escaping reasons.
    */
  def pctNormSql(v: String): String = {
    val code = "((strpos('0123456789ABCDEF', upper(substr(s, 1, 1))) - 1) * 16" +
      " + strpos('0123456789ABCDEF', upper(substr(s, 2, 1))) - 1)"
    val unreserved = "(" + code + " BETWEEN 65 AND 90 OR " +
      code + " BETWEEN 97 AND 122 OR " + code + " BETWEEN 48 AND 57 OR " +
      code + " IN (45, 46, 95, 126))"
    "CASE WHEN strpos(" + v + ", '%') = 0 THEN " + v + " ELSE " +
      "string_split(" + v + ", '%')[1] || " +
      "coalesce(array_to_string(list_transform(" +
      "string_split(" + v + ", '%')[2:], s -> " +
      "CASE WHEN regexp_matches(s, '^[0-9A-Fa-f]{2}') THEN " +
      "(CASE WHEN " + unreserved + " THEN chr(CAST(" + code +
      " AS INTEGER)) || substr(s, 3) " +
      "ELSE '%' || upper(substr(s, 1, 2)) || substr(s, 3) END) " +
      "ELSE '%' || s END), ''), '') END"
  }
}
