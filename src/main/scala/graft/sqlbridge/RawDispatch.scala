package graft.sqlbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.connections.{FileFormat, FileFormats, Locator}
import graft.sqlbridge.SqlText._

/** `raw_dispatch: true` support (reference: _raw_sql_rewriter,
  * ankaflow/connections/connection.py:290-323; model
  * ankaflow/models/connections.py:60-69; tests
  * ankaflow/tests/test_connection_rewriter.py:36-101).
  *
  * The user's SQL is sent as-is except that *short* locators inside the
  * supported table functions are rewritten to the fully resolved path.
  * Absolute paths pass through untouched; a short locator that does not
  * match the connection's declared locator is an error. Calls are found
  * on [[SqlText]]'s token stream, as `fn(` followed by a path literal, so
  * a call inside a string literal or a comment is text: it is neither
  * checked against the locator nor read.
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

  /** The reader call at token `i`, `fn(` with `fn` in [[formats]]: its
    * format and the index of its "(". */
  private def readerCall(toks: Vector[Tok], i: Int): Option[(FileFormat, Int)] =
    toks(i) match {
      case Word(fn) if toks.lift(i + 1).contains(Sym("(")) =>
        formats.get(fn.toLowerCase).map(f => (f, i + 1))
      case _ => None
    }

  /** The non-empty path literal that opens the arguments of the call whose
    * "(" is at `open`: its index and value. */
  private def pathArg(toks: Vector[Tok], open: Int): Option[(Int, String)] = {
    val j = nextNonBlank(toks, open + 1)
    toks.lift(j).flatMap(literalValue).filter(_.nonEmpty).map(path => (j, path))
  }

  /** Rewrite short locators to `resolved`; validate they match
    * `connLocator`. Every reader call is rewritten; a call inside a
    * literal or a comment is text. */
  def rewrite(sql: String, connLocator: String, resolved: String): String = {
    val toks = tokenize(sql)
    val swaps = toks.indices.flatMap(readerCall(toks, _))
      .flatMap { case (_, open) => pathArg(toks, open) }
      .collect { case (j, short) if !Locator.isAbsolute(short) =>
        if (short != connLocator)
          throw new IllegalArgumentException(
            s"Locator '$short' does not match connection: '$connLocator'")
        j -> literal(resolved)
      }.toMap
    render(toks.indices.map(i => swaps.getOrElse(i, toks(i))))
  }

  /** Replace every reader-function call with a scratch view over the
    * equivalent [[FileFormats]] read, then run the statement. */
  def execute(spark: SparkSession, sql: String,
      names: SqlBridge.NameRegistry): DataFrame =
    SqlBridge.withScratchViews(spark) { view =>
      val toks = tokenize(sql)
      val out = substitute(toks) { i =>
        readerCall(toks, i).map { case (format, open) =>
          val close = matchParen(toks, open)
          val path = pathArg(toks, open).map(_._2).getOrElse(sys.error(
            s"${toks(i).text.toLowerCase}: missing path argument in " +
              s"(${render(toks.slice(open + 1, close))})"))
          (Seq(Word(view("__raw_dispatch", format.read(spark, path)))), close + 1)
        }
      }
      spark.sql(SqlBridge.translateTokens(out, names, Some(spark)))
    }
}
