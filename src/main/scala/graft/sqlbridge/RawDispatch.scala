package graft.sqlbridge

import java.util.regex.Matcher
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.connections.{FileFormat, FileFormats, Locator}

/** `raw_dispatch: true` support (reference: _raw_sql_rewriter,
  * ankaflow/connections/connection.py:290-323; model
  * ankaflow/models/connections.py:60-69; tests
  * ankaflow/tests/test_connection_rewriter.py:36-101).
  *
  * The user's SQL is sent as-is except that *short* locators inside the
  * supported table functions are rewritten to the fully resolved path.
  * Absolute paths pass through untouched; a short locator that does not
  * match the connection's declared locator is an error.
  *
  * Execution on Spark: the reference hands the rewritten SQL to DuckDB,
  * whose `read_parquet`/`delta_scan` table functions do the reading. Spark
  * has no such table functions, so [[execute]] additionally swaps each
  * call with a scratch view backed by the matching `spark.read` — the
  * rest of the statement (CTEs, joins, filters) runs unchanged through
  * Catalyst.
  */
object RawDispatch {

  /** DuckDB table function → the format its Spark read uses. Reader
    * kwargs after the path (e.g. `union_by_name=true`) are accepted and
    * dropped: the table's options already match the reference's defaults
    * (SURVEY §2.2). */
  private val formats: Map[String, FileFormat] = Map(
    "delta_scan" -> FileFormats.parquet, "read_parquet" -> FileFormats.parquet,
    "read_csv" -> FileFormats.csv, "read_json_auto" -> FileFormats.json,
    "read_json" -> FileFormats.json)

  private val funcs = formats.keys

  private val locatorPattern =
    ("(?i)\\b(" + funcs.mkString("|") + ")\\(\\s*'([^']+)'").r

  /** Rewrite short locators to `resolved`; validate they match
    * `connLocator`. Pure text transformation (all occurrences). */
  def rewrite(sql: String, connLocator: String, resolved: String): String =
    locatorPattern.replaceAllIn(sql, m => {
      val short = m.group(2)
      if (Locator.isAbsolute(short)) Matcher.quoteReplacement(m.group(0))
      else if (short != connLocator)
        throw new IllegalArgumentException(
          s"Locator '$short' does not match connection: '$connLocator'")
      else Matcher.quoteReplacement(m.group(0).replace(short, resolved))
    })

  private val callPattern =
    ("(?i)\\b(" + funcs.mkString("|") + ")\\(([^()]*)\\)").r

  /** Replace every reader-function call with a scratch view over the
    * equivalent [[FileFormats]] read, then run the statement. */
  def execute(spark: SparkSession, sql: String,
      names: SqlBridge.NameRegistry): DataFrame =
    SqlBridge.withScratchViews(spark) { view =>
      var out = sql
      var found = true
      while (found) {
        callPattern.findFirstMatchIn(out) match {
          case Some(m) =>
            val func = m.group(1).toLowerCase
            val args = m.group(2)
            val path = "'([^']+)'".r.findFirstMatchIn(args)
              .map(_.group(1))
              .getOrElse(sys.error(s"$func: missing path argument in ($args)"))
            val name = view("__raw_dispatch", formats(func).read(spark, path))
            out = out.substring(0, m.start) + name + out.substring(m.end)
          case None => found = false
        }
      }
      spark.sql(SqlBridge.translate(out, names, Some(spark)))
    }
}
