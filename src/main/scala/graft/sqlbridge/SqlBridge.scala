package graft.sqlbridge

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sqlbridge.SqlText._

/** DuckDB-flavored SQL → Spark SQL translation (SURVEY.md §2.9, §7.1-3).
  *
  * The reference executes user SQL directly on DuckDB; our passthrough
  * executor is `spark.sql`, so this pass closes the dialect gap:
  *  - `Fn.*` macro expansion ([[FnMacros]]);
  *  - stage names as quoted identifiers (`FROM "Extract Data"`) → mangled
  *    temp-view names (Spark rejects spaces in view names);
  *  - `"ident"` double quotes → backticks;
  *  - DuckDB function spellings → Spark (LIST_CONTAINS → array_contains,
  *    REGEXP_MATCHES → regexp_like, json_extract_string → get_json_object,
  *    unnest → explode, generate_series → sequence, strftime/strptime with
  *    literal patterns → date_format/to_timestamp, epoch_ms → unix_millis);
  *  - QUALIFY → subquery + WHERE rewrite (Spark has no QUALIFY);
  *  - table macros `Fn.calendar()` / `Fn.columns(t)` → inline subqueries.
  */
object SqlBridge {

  /** stage name → temp view name. Spark temp views must be simple
    * identifiers; reference stage names may contain spaces
    * (integration.yaml:114 `"Read Delta"`). A `suffix` isolates the view
    * namespace of one registry from another — parallel loop iterations
    * each get their own so same-named stages don't race on the shared
    * session catalog. */
  final class NameRegistry(suffix: String = "") {
    private val byStage = mutable.LinkedHashMap[String, String]()

    def register(stageName: String): String = byStage.getOrElseUpdate(stageName, {
      val base = stageName.replaceAll("[^A-Za-z0-9_]", "_") + suffix
      val candidate = if (base.headOption.exists(_.isDigit)) "_" + base else base
      if (byStage.values.exists(_ == candidate)) candidate + "_" + byStage.size
      else candidate
    })

    def get(stageName: String): Option[String] = byStage.get(stageName)
    def all: Map[String, String] = byStage.toMap

    /** Copy the parent's mappings in (shared, read-only pre-loop views)
      * so loop bodies can still reference stages created before the loop;
      * only NEW registrations in this registry get the suffix. */
    def preload(parent: NameRegistry): this.type = {
      parent.byStage.foreach { case (k, v) => byStage.getOrElseUpdate(k, v) }
      this
    }
  }

  private val fnSwaps: Map[String, String] = Map(
    "list_contains" -> "array_contains",
    "list_has" -> "array_contains",
    "list_distinct" -> "array_distinct",
    "list_unique" -> "array_distinct",
    "regexp_matches" -> "regexp_like",
    "json_extract_string" -> "get_json_object",
    "unnest" -> "explode",
    "generate_series" -> "sequence",
    "list_value" -> "array",
    "len" -> "graft_len", // polymorphic (string chars / list elements)
    "str_split" -> "split",
    "string_split" -> "split",
    "epoch_ms" -> "unix_millis",
    "epoch_us" -> "unix_micros",
    "to_days" -> "make_dt_interval")

  /** Full translation of a transform/internal query. */
  def translate(sql: String, names: NameRegistry,
      spark: Option[SparkSession] = None): String = {
    var out = FnTableMacros.expand(sql, spark)
    out = FnMacros.expand(out)
    out = rewriteStrftime(out)
    out = rewriteExclude(out)
    out = rewriteUsingSample(out)
    out = swapIdentifiersAndFunctions(out, names)
    out = rewriteQualify(out)
    out
  }

  /** DuckDB `* EXCLUDE (a, b)` / `* EXCLUDE a` star modifier → Spark
    * `* EXCEPT (...)` (SURVEY §2.9). Token-based: only an EXCLUDE word
    * following a `*` is a star modifier — string literals and columns
    * that happen to be named exclude pass through untouched. */
  def rewriteExclude(sql: String): String = {
    val toks = tokenize(sql)
    def prevNonBlankIdx(i: Int): Int = {
      var j = i - 1
      while (j >= 0 && toks(j).isInstanceOf[Sym] &&
        toks(j).text.trim.isEmpty) j -= 1
      j
    }
    // the `*` before EXCLUDE must be a star projection, not multiplication:
    // a star follows SELECT / a comma / a dot (table.*), never an operand
    def isStarProjection(starIdx: Int): Boolean = {
      val before = prevNonBlankIdx(starIdx)
      before < 0 || (toks(before) match {
        case w: Word => w.text.equalsIgnoreCase("select")
        case Sym(",") | Sym(".") | Sym("(") => true
        case _ => false
      })
    }
    val out = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val prevIdx = prevNonBlankIdx(i)
      if (isWord(toks(i), "exclude") && prevIdx >= 0 &&
        toks(prevIdx) == Sym("*") && isStarProjection(prevIdx)) {
        out.append("EXCEPT")
        val j = nextNonBlank(toks, i + 1)
        toks.lift(j) match {
          case Some(w: Word) =>
            out.append(render(toks.slice(i + 1, j)))
            out.append("(").append(w.text).append(")")
            i = j + 1
          case Some(q: QuotedId) => // bare quoted form also needs parens
            out.append(render(toks.slice(i + 1, j)))
            out.append("(").append(q.text).append(")")
            i = j + 1
          case _ => i += 1 // parenthesized form: keep the rest as-is
        }
      } else { out.append(toks(i).text); i += 1 }
    }
    out.toString
  }

  /** DuckDB `USING SAMPLE n ROWS` / `USING SAMPLE p%` → Spark
    * `TABLESAMPLE (n ROWS)` / `(p PERCENT)` (SURVEY §2.9; the reference
    * generates these for previews, flow.py:68-73). Token-based pass. */
  def rewriteUsingSample(sql: String): String = {
    val toks = tokenize(sql)
    val out = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val j = nextNonBlank(toks, i + 1)
      if (isWord(toks(i), "using") && j < toks.length && isWord(toks(j), "sample")) {
        // digits tokenize as single-char Syms — collect the full number
        var k = nextNonBlank(toks, j + 1)
        val amt = new StringBuilder
        while (k < toks.length && toks(k).isInstanceOf[Sym] &&
          toks(k).text.length == 1 &&
          (toks(k).text(0).isDigit || toks(k).text == ".")) {
          amt.append(toks(k).text); k += 1
        }
        if (amt.nonEmpty) {
          val afterIdx = nextNonBlank(toks, k)
          if (afterIdx < toks.length && isWord(toks(afterIdx), "rows")) {
            out.append(s"TABLESAMPLE ($amt ROWS)")
            i = afterIdx + 1
          } else if (afterIdx < toks.length && (toks(afterIdx) == Sym("%") ||
            isWord(toks(afterIdx), "percent"))) { // 10% or 10 PERCENT
            out.append(s"TABLESAMPLE ($amt PERCENT)")
            i = afterIdx + 1
          } else {
            // bare number = rows in DuckDB
            out.append(s"TABLESAMPLE ($amt ROWS)")
            i = k
          }
        } else { out.append(toks(i).text); i += 1 }
      } else { out.append(toks(i).text); i += 1 }
    }
    out.toString
  }

  /** DuckDB strftime/strptime with a literal `%`-pattern (either argument
    * order — DuckDB accepts both) → Spark date_format/to_timestamp with
    * the Java pattern. Token-based so string literals containing the
    * words are untouched. Unsupported tokens (e.g. ISO %V/%u, which have
    * no Java equivalent) are left untranslated for Spark to reject
    * loudly. */
  def rewriteStrftime(sql: String): String = {
    val toks = tokenize(sql)
    val out = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val isFn = isWord(toks(i), "strftime") || isWord(toks(i), "strptime")
      var consumed = false
      if (isFn) {
        val j = nextNonBlank(toks, i + 1)
        if (j < toks.length && toks(j) == Sym("(")) {
          val close = matchParen(toks, j)
          val args = splitArgs(toks.slice(j + 1, close)).map(render)
          if (args.length == 2) {
            val fn = toks(i).text.toLowerCase
            val original = render(toks.slice(i, close + 1))
            def lit(s: String): Option[String] =
              if (s.length >= 2 && s.head == '\'' && s.last == '\'')
                Some(s.substring(1, s.length - 1))
              else None
            // recurse into nested calls inside the value argument
            val result = (lit(args(0)), lit(args(1))) match {
              case (Some(p), _) if p.contains("%") =>
                convertOrKeep(fn, rewriteStrftime(args(1)), p, original)
              case (_, Some(p)) if p.contains("%") =>
                convertOrKeep(fn, rewriteStrftime(args(0)), p, original)
              case _ => original
            }
            out.append(result)
            i = close + 1
            consumed = true
          }
        }
      }
      if (!consumed) { out.append(toks(i).text); i += 1 }
    }
    out.toString
  }

  private def convertOrKeep(fn: String, value: String, pattern: String,
      original: String): String = {
    val java = FnMacros.toJavaPattern(pattern)
    if (java.contains("%")) original // untranslatable token — pass through
    else if (fn == "strftime") s"date_format($value, '$java')"
    else s"to_timestamp($value, '$java')"
  }

  private def swapIdentifiersAndFunctions(sql: String, names: NameRegistry): String = {
    val toks = tokenize(sql)
    val out = new StringBuilder
    toks.zipWithIndex.foreach { case (t, i) =>
      t match {
        case QuotedId(text) if text.startsWith("\"") =>
          val inner = unquote(text)
          val mapped = names.get(inner).getOrElse(inner)
          out.append('`').append(mapped).append('`')
        case Word(w) =>
          // bare stage-name reference (exact match) → mangled view name
          names.get(w) match {
            case Some(v) => out.append(v)
            case None =>
              val lower = w.toLowerCase
              // only swap function names when followed by "("
              val isCall = {
                var j = i + 1
                while (j < toks.length && toks(j).isInstanceOf[Sym] &&
                  toks(j).text.trim.isEmpty) j += 1
                j < toks.length && toks(j) == Sym("(")
              }
              if (isCall && fnSwaps.contains(lower)) out.append(fnSwaps(lower))
              else out.append(w)
          }
        case other => out.append(other.text)
      }
    }
    out.toString
  }

  /** `SELECT ... FROM ... QUALIFY cond [tail]` →
    * `SELECT * EXCEPT (__qualify__) FROM (SELECT ..., (cond) AS __qualify__
    *  FROM ...) q WHERE __qualify__ [tail]`. */
  def rewriteQualify(sql: String): String = {
    val toks = tokenize(sql)
    var depth = 0
    var qualifyIdx = -1
    toks.zipWithIndex.foreach { case (t, i) =>
      t match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case w: Word if depth == 0 && w.text.equalsIgnoreCase("qualify") &&
          qualifyIdx < 0 => qualifyIdx = i
        case _ =>
      }
    }
    if (qualifyIdx < 0) return sql
    // cond runs until top-level ORDER / LIMIT / end
    depth = 0
    var tailIdx = toks.length
    var i = qualifyIdx + 1
    while (i < toks.length && tailIdx == toks.length) {
      toks(i) match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case w: Word if depth == 0 &&
          (w.text.equalsIgnoreCase("order") || w.text.equalsIgnoreCase("limit")) =>
          tailIdx = i
        case _ =>
      }
      i += 1
    }
    val head = render(toks.slice(0, qualifyIdx))
    val cond = render(toks.slice(qualifyIdx + 1, tailIdx)).trim
    val tail = render(toks.slice(tailIdx, toks.length))
    // insert the qualify expression into the select list (before top FROM)
    val headToks = tokenize(head)
    depth = 0
    var fromIdx = -1
    headToks.zipWithIndex.foreach { case (t, j) =>
      t match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case w: Word if depth == 0 && w.text.equalsIgnoreCase("from") &&
          fromIdx < 0 => fromIdx = j
        case _ =>
      }
    }
    if (fromIdx < 0) sys.error("QUALIFY without FROM")
    val sel = render(headToks.slice(0, fromIdx))
    val rest = render(headToks.slice(fromIdx, headToks.length))
    s"SELECT * EXCEPT (__qualify__) FROM ($sel, ($cond) AS __qualify__ $rest) __qualify_sub WHERE __qualify__ $tail"
  }

  // ------------------------------------------------------------- validation

  /** Port of validate_simple_query (ankaflow/common/util.py:386-425):
    * tap queries must be single-table SELECTs — no CTEs, joins, subqueries
    * in FROM, or missing FROM. Returns the single table name. */
  def validateSimpleQuery(sql: String): String = {
    val toks = tokenize(sql).filter {
      case Sym(s) => s.trim.nonEmpty
      case _ => true
    }
    if (toks.isEmpty) sys.error("empty query")
    if (isWord(toks.head, "with"))
      sys.error("CTEs are not allowed in tap queries")
    var depth = 0
    var fromIdx = -1
    toks.zipWithIndex.foreach { case (t, i) =>
      t match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case w: Word if depth == 0 =>
          val lw = w.text.toLowerCase
          if (Set("join", "inner", "outer", "cross", "natural").contains(lw) ||
            (lw == "left" || lw == "right") && i + 1 < toks.length &&
              (isWord(toks(i + 1), "join") || isWord(toks(i + 1), "outer")))
            sys.error("JOINs are not allowed in tap queries")
          if (lw == "from" && fromIdx < 0) fromIdx = i
        case _ =>
      }
    }
    if (fromIdx < 0) sys.error("tap query must have a FROM clause")
    val after = toks.drop(fromIdx + 1)
    after.headOption match {
      case Some(Sym("(")) => sys.error("subqueries are not allowed in tap queries")
      case Some(Word(t)) =>
        // reject comma-separated table lists
        if (after.drop(1).headOption.contains(Sym(",")))
          sys.error("multiple FROM tables are not allowed in tap queries")
        t
      case Some(QuotedId(q)) => unquote(q)
      case other => sys.error(s"cannot determine tap table: $other")
    }
  }

  /** True if the query contains aggregation at the top level —
    * disallowed under dedup ranking (util.py:419-424). */
  def hasAggregation(sql: String): Boolean = {
    val toks = tokenize(sql).toIndexedSeq
    var depth = 0
    toks.indices.exists { i =>
      toks(i) match {
        case Sym("(") => depth += 1; false
        case Sym(")") => depth -= 1; false
        case w: Word if depth == 0 =>
          val lower = w.text.toLowerCase
          // agg NAMES only count as calls — a column named `count` is
          // fine (it's only a function when followed by "(")
          Set("group", "having").contains(lower) ||
            (Set("sum", "count", "avg", "min", "max").contains(lower) &&
              (i + 1 < toks.length) && toks(i + 1) == Sym("("))
        case _ => false
      }
    }
  }

  /** Dedup ranking keeps one row per key of the query's OWN rows, so a
    * query that aggregates cannot be ranked (util.py:419-424). */
  private[graft] def requireRankable(sql: String): Unit =
    if (hasAggregation(sql))
      sys.error("Cannot combine ranking (version/key) with aggregation in a tap query")

  /** Ranked-dedup wrapper (ankaflow/common/util.py:336-383): keep the
    * newest row per key by `version`. */
  def rankedQuery(innerSql: String, version: String, keys: Seq[String]): String = {
    requireRankable(innerSql)
    val partition = keys.map(k => s"`$k`").mkString(", ")
    s"""SELECT * EXCEPT (__rank__) FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY $partition ORDER BY `$version` DESC) AS __rank__
       |  FROM ($innerSql) __base
       |) __ranked WHERE __rank__ = 1""".stripMargin
  }

  /** Swap the single FROM-table of a validated tap query with a
    * replacement relation (reference "placeholder table" swap,
    * connection.py:259-288). */
  def swapFromTable(sql: String, replacement: String): String = {
    val table = validateSimpleQuery(sql)
    val toks = tokenize(sql)
    val out = new StringBuilder
    var swapped = false
    var afterFrom = false
    toks.foreach {
      case w: Word if w.text.equalsIgnoreCase("from") && !swapped =>
        afterFrom = true
        out.append(w.text)
      case w: Word if afterFrom && !swapped && w.text == table =>
        out.append(replacement)
        swapped = true
        afterFrom = false
      case q: QuotedId if afterFrom && !swapped && unquote(q.text) == table =>
        out.append(replacement)
        swapped = true
        afterFrom = false
      case t => out.append(t.text)
    }
    out.toString
  }

  private val scratchIds = new java.util.concurrent.atomic.AtomicLong

  /** Scratch temp views that live for one statement. `body` registers
    * frames through `view(prefix, frame)`, which returns a fresh view
    * name, and builds its frame over them; the views are dropped when it
    * returns. `spark.sql` analyses eagerly and the analysed plan holds the
    * views' plans, so the result never looks the names up again. Names
    * are unique across threads, so parallel loop iterations sharing one
    * session never drop each other's views. */
  def withScratchViews(spark: SparkSession)(
      body: ((String, DataFrame) => String) => DataFrame): DataFrame = {
    val made = mutable.ArrayBuffer.empty[String]
    try body { (prefix, frame) =>
      val name = s"${prefix}_${scratchIds.incrementAndGet()}"
      frame.createOrReplaceTempView(name)
      made += name
      name
    } finally made.foreach(spark.catalog.dropTempView)
  }
}

/** Table macros `Fn.calendar()` and `Fn.columns('t')` (macros.py:67-96)
  * expand to inline subqueries. */
object FnTableMacros {

  /** Calendar: daily rows from −4y to +1y with 15 derived fields. */
  val calendarSql: String = {
    val g = "cast(extract(YEAROFWEEK FROM d) as string)"
    val v = "lpad(cast(weekofyear(d) as string), 2, '0')"
    val u = "cast(extract(DAYOFWEEK_ISO FROM d) as string)"
    s"""(SELECT
       |  d AS date,
       |  date_format(d, 'yyyy') AS year,
       |  date_format(d, 'MMM') AS month,
       |  date_format(d, 'MM') AS month_no,
       |  date_format(d, 'dd') AS day,
       |  date_format(d, 'EEE') AS weekday,
       |  $u AS weekday_no,
       |  $g AS isoyear,
       |  $v AS iso_week,
       |  concat($g, '-', $v, '-', $u) AS isoweekdate,
       |  concat($g, '-00-', $v) AS isoweek,
       |  concat($v, '-', $u) AS iso_week_day,
       |  date_format(d, 'yyyy-MM-dd') AS isodate,
       |  quarter(d) AS quarter,
       |  (extract(YEAROFWEEK FROM d) * 100 + weekofyear(d)) AS yearweek
       |FROM (SELECT explode(sequence(current_date() - interval '4' year,
       |                              current_date() + interval '1' year,
       |                              interval '1' day)) AS d))""".stripMargin
  }

  /** Expand on the token stream, as [[FnMacros]] does: a macro name
    * inside a string literal is text, not a call. */
  def expand(sql: String, spark: Option[SparkSession]): String = {
    if (!sql.contains("Fn.calendar") && !sql.contains("Fn.columns")) return sql
    val toks = tokenize(sql)
    val out = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val open = if (isWord(toks(i), "Fn")) nextNonBlank(toks, i + 3) else toks.length
      val name =
        if (open < toks.length && toks(i + 1) == Sym(".") && toks(open) == Sym("("))
          toks(i + 2).text.toLowerCase
        else ""
      val expanded = name match {
        case "calendar" | "columns" =>
          val close = matchParen(toks, open)
          (name, trimTok(toks.slice(open + 1, close))) match {
            case ("calendar", Vector()) => Some((calendarSql, close))
            case ("columns", Vector(Str(lit))) if lit.length > 2 =>
              Some((columnsSql(lit.substring(1, lit.length - 1), spark), close))
            case _ => None
          }
        case _ => None
      }
      expanded match {
        case Some((text, close)) => out.append(text); i = close + 1
        case None => out.append(toks(i).text); i += 1
      }
    }
    out.toString
  }

  private def columnsSql(table: String, spark: Option[SparkSession]): String = {
    val session = spark.getOrElse(
      sys.error("Fn.columns requires an active SparkSession"))
    val values = session.table(table).schema.fields.map(f =>
      s"('${f.name}', '${f.dataType.sql}')").mkString(", ")
    s"(SELECT column_name, data_type FROM (VALUES $values) AS __cols(column_name, data_type))"
  }
}
