package graft.sqlbridge

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sqlbridge.SqlText._

/** DuckDB-flavored SQL → Spark SQL translation (SURVEY.md §2.9, §7.1-3).
  *
  * The reference executes user SQL directly on DuckDB; our passthrough
  * executor is `spark.sql`, so [[translate]] closes the dialect gap with
  * passes over one [[SqlText]] token stream (text inside literals and
  * comments is never rewritten):
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

  /** Full translation of a transform/internal query: one tokenize, the
    * passes below in order over the one token stream, one render. */
  def translate(sql: String, names: NameRegistry,
      spark: Option[SparkSession] = None): String =
    translateTokens(tokenize(sql), names, spark)

  /** [[translate]] of a statement already tokenized. */
  private[sqlbridge] def translateTokens(toks: Vector[Tok], names: NameRegistry,
      spark: Option[SparkSession]): String = {
    val passes = Seq[Vector[Tok] => Vector[Tok]](
      FnTableMacros.expand(_, spark), FnMacros.expand, rewriteStrftime,
      rewriteExclude, rewriteUsingSample, swapIdentifiersAndFunctions(names),
      rewriteQualify)
    render(passes.foldLeft(toks)((t, pass) => pass(t)))
  }

  /** DuckDB `* EXCLUDE (a, b)` / `* EXCLUDE a` star modifier → Spark
    * `* EXCEPT (...)` (SURVEY §2.9). Only an EXCLUDE word following a
    * `*` is a star modifier — columns that happen to be named exclude
    * pass through untouched. */
  def rewriteExclude(toks: Vector[Tok]): Vector[Tok] = {
    // the `*` before EXCLUDE must be a star projection, not multiplication:
    // a star follows SELECT / a comma / a dot (table.*), never an operand
    def isStarProjection(star: Int): Boolean = {
      val before = prevNonBlank(toks, star - 1)
      before < 0 || (toks(before) match {
        case w: Word => w.text.equalsIgnoreCase("select")
        case Sym(",") | Sym(".") | Sym("(") => true
        case _ => false
      })
    }
    substitute(toks) { i =>
      val star = if (isWord(toks(i), "exclude")) prevNonBlank(toks, i - 1) else -1
      if (star >= 0 && toks(star) == Sym("*") && isStarProjection(star)) {
        val j = nextNonBlank(toks, i + 1)
        Some(toks.lift(j) match {
          case Some(id @ (_: Word | _: QuotedId)) => // the bare form needs parens
            ((Word("EXCEPT") +: toks.slice(i + 1, j)) ++ Seq(Sym("("), id, Sym(")")), j + 1)
          case _ => (Seq(Word("EXCEPT")), i + 1) // parenthesized form: keep the rest as-is
        })
      } else None
    }
  }

  /** DuckDB `USING SAMPLE n ROWS` / `USING SAMPLE p%` → Spark
    * `TABLESAMPLE (n ROWS)` / `(p PERCENT)` (SURVEY §2.9; the reference
    * generates these for previews, flow.py:68-73). */
  def rewriteUsingSample(toks: Vector[Tok]): Vector[Tok] = {
    // digits tokenize as single-char Syms — a number is a run of them
    def isNumberChar(t: Tok) = t match {
      case Sym(s) => s.length == 1 && (s(0).isDigit || s == ".")
      case _ => false
    }
    substitute(toks) { i =>
      val j = if (isWord(toks(i), "using")) nextNonBlank(toks, i + 1) else toks.length
      if (toks.lift(j).exists(isWord(_, "sample"))) {
        val num = nextNonBlank(toks, j + 1)
        var end = num
        while (end < toks.length && isNumberChar(toks(end))) end += 1
        if (end > num) {
          val amount = render(toks.slice(num, end))
          val unit = nextNonBlank(toks, end)
          val (clause, next) = toks.lift(unit) match {
            case Some(t) if isWord(t, "rows") => (s"$amount ROWS", unit + 1)
            case Some(t) if t == Sym("%") || isWord(t, "percent") => // 10% or 10 PERCENT
              (s"$amount PERCENT", unit + 1)
            case _ => (s"$amount ROWS", end) // bare number = rows in DuckDB
          }
          Some((tokenize(s"TABLESAMPLE ($clause)"), next))
        } else None
      } else None
    }
  }

  /** DuckDB strftime/strptime with a literal `%`-pattern (either argument
    * order — DuckDB accepts both) → Spark date_format/to_timestamp with
    * the Java pattern. Unsupported tokens (e.g. ISO %V/%u, which have no
    * Java equivalent) are left untranslated for Spark to reject loudly. */
  def rewriteStrftime(toks: Vector[Tok]): Vector[Tok] = substitute(toks) { i =>
    val open = if (isWord(toks(i), "strftime") || isWord(toks(i), "strptime"))
      nextNonBlank(toks, i + 1) else toks.length
    if (toks.lift(open).contains(Sym("("))) {
      val close = matchParen(toks, open)
      val args = splitArgs(toks.slice(open + 1, close))
      if (args.length == 2)
        Some((strftimeCall(toks(i).text.toLowerCase, args, toks.slice(i, close + 1)), close + 1))
      else None
    } else None
  }

  /** One two-argument strftime/strptime `call` with arguments `args`. */
  private def strftimeCall(fn: String, args: List[Vector[Tok]],
      call: Vector[Tok]): Vector[Tok] = {
    def pattern(arg: Vector[Tok]): Option[String] = {
      val s = render(arg)
      if (s.length >= 2 && s.head == '\'' && s.last == '\'')
        Some(s.substring(1, s.length - 1)).filter(_.contains("%"))
      else None
    }
    val valueAndJava = (pattern(args(0)), pattern(args(1))) match {
      case (Some(p), _) => Some((args(1), FnMacros.toJavaPattern(p)))
      case (_, Some(p)) => Some((args(0), FnMacros.toJavaPattern(p)))
      case _ => None
    }
    valueAndJava match {
      case Some((value, java)) if !java.contains("%") =>
        val spark = if (fn == "strftime") "date_format" else "to_timestamp"
        // recurse into nested calls inside the value argument
        tokenize(s"$spark(") ++ rewriteStrftime(value) ++ tokenize(s", '$java')")
      case _ => call // no literal pattern, or an untranslatable token
    }
  }

  /** Stage names → view names, `"ident"` → backticks, and the DuckDB
    * function spellings in [[fnSwaps]] → Spark's. */
  private def swapIdentifiersAndFunctions(names: NameRegistry)(
      toks: Vector[Tok]): Vector[Tok] =
    toks.indices.map { i =>
      toks(i) match {
        case QuotedId(text) if text.startsWith("\"") =>
          val inner = unquote(text)
          QuotedId("`" + names.get(inner).getOrElse(inner) + "`")
        case w @ Word(text) =>
          // bare stage-name reference (exact match) → mangled view name;
          // function names swap only when followed by "("
          names.get(text).map(Word).getOrElse(fnSwaps.get(text.toLowerCase) match {
            case Some(spark) if toks.lift(nextNonBlank(toks, i + 1)).contains(Sym("(")) =>
              Word(spark)
            case _ => w
          })
        case t => t
      }
    }.toVector

  /** `SELECT ... FROM ... QUALIFY cond [tail]` →
    * `SELECT * EXCEPT (__qualify__) FROM (SELECT ..., (cond) AS __qualify__
    *  FROM ...) q WHERE __qualify__ [tail]`. */
  def rewriteQualify(toks: Vector[Tok]): Vector[Tok] = {
    val qualify = topLevel(toks)(i => isWord(toks(i), "qualify"))
    if (qualify < 0) return toks
    // cond runs until top-level ORDER / LIMIT / end
    val tail = topLevel(toks, qualify + 1)(i =>
      isWord(toks(i), "order") || isWord(toks(i), "limit")) match {
      case -1 => toks.length
      case t => t
    }
    // insert the qualify expression into the select list (before top FROM)
    val from = topLevel(toks)(i => isWord(toks(i), "from"))
    if (from < 0 || from > qualify) sys.error("QUALIFY without FROM")
    tokenize("SELECT * EXCEPT (__qualify__) FROM (") ++ toks.slice(0, from) ++
      tokenize(", (") ++ trimTok(toks.slice(qualify + 1, tail)) ++
      tokenize(") AS __qualify__ ") ++ toks.slice(from, qualify) ++
      tokenize(") __qualify_sub WHERE __qualify__ ") ++ toks.drop(tail)
  }

  // ------------------------------------------------------------- validation

  /** Port of validate_simple_query (ankaflow/common/util.py:386-425):
    * tap queries must be single-table SELECTs — no CTEs, joins, subqueries
    * in FROM, or missing FROM. Returns the single table name. */
  def validateSimpleQuery(sql: String): String = tapTable(tokenize(sql))

  private val joinWords = Set("join", "inner", "outer", "cross", "natural")

  private def tapTable(all: Vector[Tok]): String = {
    val toks = all.filterNot(isBlank)
    if (toks.isEmpty) sys.error("empty query")
    if (isWord(toks.head, "with"))
      sys.error("CTEs are not allowed in tap queries")
    def isJoin(i: Int): Boolean = toks(i) match {
      case Word(w) =>
        val lw = w.toLowerCase
        joinWords.contains(lw) || (lw == "left" || lw == "right") &&
          toks.lift(i + 1).exists(t => isWord(t, "join") || isWord(t, "outer"))
      case _ => false
    }
    if (topLevel(toks)(isJoin) >= 0)
      sys.error("JOINs are not allowed in tap queries")
    val from = topLevel(toks)(i => isWord(toks(i), "from"))
    if (from < 0) sys.error("tap query must have a FROM clause")
    val after = toks.drop(from + 1)
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

  private val aggregates = Set("sum", "count", "avg", "min", "max")

  /** True if the query contains aggregation at the top level —
    * disallowed under dedup ranking (util.py:419-424). */
  def hasAggregation(sql: String): Boolean = {
    val toks = tokenize(sql)
    topLevel(toks) { i =>
      toks(i) match {
        case Word(w) =>
          val lower = w.toLowerCase
          // agg NAMES only count as calls — a column named `count` is
          // fine (it's only a function when followed by "(")
          lower == "group" || lower == "having" ||
            aggregates.contains(lower) && toks.lift(i + 1).contains(Sym("("))
        case _ => false
      }
    } >= 0
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
  def swapFromTable(sql: String, replacement: String): String =
    render(swapFromTable(tokenize(sql), replacement))

  /** [[swapFromTable]] on the query's tokens. */
  def swapFromTable(toks: Vector[Tok], replacement: String): Vector[Tok] = {
    val table = tapTable(toks)
    val from = toks.indexWhere(isWord(_, "from"))
    val at = toks.indexWhere({
      case Word(w) => w == table
      case QuotedId(q) => unquote(q) == table
      case _ => false
    }, from + 1)
    toks.patch(at, tokenize(replacement), 1)
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

  private lazy val calendarToks = tokenize(calendarSql)

  /** Expand each `Fn.calendar()` / `Fn.columns('t')` call. */
  def expand(toks: Vector[Tok], spark: Option[SparkSession]): Vector[Tok] =
    substitute(toks) { i =>
      FnMacros.call(toks, i).flatMap { case (name, open) =>
        name.toLowerCase match {
          case table @ ("calendar" | "columns") =>
            val close = matchParen(toks, open)
            (table, trimTok(toks.slice(open + 1, close))) match {
              case ("calendar", Vector()) => Some((calendarToks, close + 1))
              case ("columns", Vector(Str(lit))) if lit.length > 2 =>
                val sql = columnsSql(lit.substring(1, lit.length - 1), spark)
                Some((tokenize(sql), close + 1))
              case _ => None
            }
          case _ => None
        }
      }
    }

  private def columnsSql(table: String, spark: Option[SparkSession]): String = {
    val session = spark.getOrElse(
      sys.error("Fn.columns requires an active SparkSession"))
    val values = session.table(table).schema.fields.map(f =>
      s"('${f.name}', '${f.dataType.sql}')").mkString(", ")
    s"(SELECT column_name, data_type FROM (VALUES $values) AS __cols(column_name, data_type))"
  }
}
