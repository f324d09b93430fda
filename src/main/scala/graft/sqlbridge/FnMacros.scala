package graft.sqlbridge

import scala.collection.mutable
import graft.sqlbridge.SqlText._

/** The `Fn.*` scalar-macro library, re-expressed as Spark SQL expansions.
  *
  * The reference installs DuckDB macros (ankaflow/internal/macros.py:62-321)
  * and users call `Fn.x(...)` inside any SQL. Spark has no CREATE MACRO, so
  * we expand `Fn.x(args)` textually into equivalent Spark SQL *before*
  * parsing — the result stays fully Catalyst-optimizable (no UDF, full
  * codegen), which is the scale-friendly choice.
  *
  * Semantics are pinned by the reference's test suite
  * (ankaflow/tests/test_fn_macros.py:35-175); GraftFnMacroSpec mirrors it.
  */
object FnMacros {

  /** A macro: positional parameter names → body with `$param$` slots.
    * Optional named params have defaults. */
  final case class Macro(params: List[String], body: String,
      defaults: Map[String, String] = Map.empty)

  private def m(params: String*)(body: String): Macro = Macro(params.toList, body)

  private val dtCascade: String =
    """CASE
      |  WHEN try_cast(regexp_replace(cast($a$ as string), '(Z|[+-][0-9]{2}:[0-9]{2})$', '') as timestamp) IS NOT NULL
      |    THEN try_cast(regexp_replace(cast($a$ as string), '(Z|[+-][0-9]{2}:[0-9]{2})$', '') as timestamp)
      |  WHEN try_cast(cast($a$ as string) as date) IS NOT NULL
      |    THEN cast(try_cast(cast($a$ as string) as date) as timestamp)
      |  WHEN try_cast($a$ as double) IS NOT NULL THEN
      |    CASE
      |      WHEN cast(round(try_cast($a$ as double)) as bigint) BETWEEN 1000000000 AND 9999999999
      |        THEN timestamp_micros(cast(round(try_cast($a$ as double) * 1000000) as bigint))
      |      WHEN cast($a$ as string) rlike '^[0-9]+$' AND length(cast($a$ as string)) > 15
      |        THEN timestamp_micros(try_cast($a$ as bigint) div 1000)
      |      WHEN cast($a$ as string) rlike '^[0-9]+$'
      |        THEN timestamp_micros(try_cast($a$ as bigint) * 1000)
      |      ELSE timestamp_micros(0)
      |    END
      |  WHEN $fail_on_error$ AND length(cast($a$ as string)) > 1
      |    THEN raise_error('Unsupported format - use Fn.dt(value, pattern)')
      |  ELSE timestamp_micros(0)
      |END""".stripMargin

  /** ISO helpers. Spark's date_format cannot emit ISO week-year, so these
    * compose extract(YEAROFWEEK/DAYOFWEEK_ISO) + weekofyear. */
  private def isoYear(a: String) =
    s"cast(extract(YEAROFWEEK FROM cast($a as timestamp)) as string)"
  private def isoWeek(a: String) =
    s"lpad(cast(weekofyear(cast($a as timestamp)) as string), 2, '0')"
  private def isoDay(a: String) =
    s"cast(extract(DAYOFWEEK_ISO FROM cast($a as timestamp)) as string)"

  val builtins: Map[String, Macro] = Map(
    "add" -> m("a", "b")("($a$ + $b$)"),
    "plus" -> m("a", "b")("($a$ + $b$)"),
    "minus" -> m("a", "b")("($a$ - $b$)"),
    "mult" -> m("a", "b")("($a$ * $b$)"),
    "div" -> m("a", "b")("ifnull($a$ / nullif($b$, 0), 0)"),
    "float" -> m("a")("ifnull(try_cast($a$ as double), cast(0.0 as double))"),
    "int" -> m("a")("ifnull(try_cast($a$ as bigint), cast(0 as bigint))"),
    "str" -> m("a")("ifnull(try_cast($a$ as string), '')"),
    "dt" -> Macro(List("a"), dtCascade, Map("fail_on_error" -> "FALSE")),
    "dt_isoformat" -> m("a")("date_format(cast($a$ as timestamp), 'yyyy-MM-dd HH:mm:ss')"),
    "dt_yyyy_mm_dd" -> m("a")("date_format(cast($a$ as timestamp), 'yyyy-MM-dd')"),
    "dt_YYYY" -> m("a")("date_format(cast($a$ as timestamp), 'yyyy')"),
    "dt_MM" -> m("a")("date_format(cast($a$ as timestamp), 'MM')"),
    "dt_DD" -> m("a")("date_format(cast($a$ as timestamp), 'dd')"),
    "dt_HH" -> m("a")("date_format(cast($a$ as timestamp), 'HH')"),
    "dt_iso_year" -> m("a")(isoYear("$a$")),
    "dt_iso_week" -> m("a")(isoWeek("$a$")),
    "dt_iso_day" -> m("a")(isoDay("$a$")),
    "dt_iso_week_day" -> m("a")(s"concat(${isoWeek("$a$")}, '-', ${isoDay("$a$")})"),
    "dt_iso_weekdate" -> m("a")(s"concat(${isoWeek("$a$")}, '-', ${isoDay("$a$")})"),
    "dt_dayname" -> m("a")(
      s"concat(${isoYear("$a$")}, '-', ${isoWeek("$a$")}, '-', ${isoDay("$a$")})"),
    "dt_monthname" -> m("a")("date_format(cast($a$ as timestamp), 'MMM')"),
    "dt_quarter" -> m("datum")("quarter(cast($datum$ as timestamp))"),
    "dt_add" -> m("datum", "days")(
      "(cast($datum$ as timestamp) + make_dt_interval(cast($days$ as int), 0, 0, 0))"),
    "dt_boy" -> m("datum")("cast(date_trunc('year', cast($datum$ as timestamp)) as timestamp)"),
    "dt_bom" -> m("datum")("cast(date_trunc('month', cast($datum$ as timestamp)) as timestamp)"),
    "dt_eom" -> m("datum")("cast(last_day(cast($datum$ as timestamp)) as timestamp)"),
    "dt_monday" -> m("datum")("cast(date_trunc('week', cast($datum$ as timestamp)) as timestamp)"),
    "eq" -> m("a", "b")("($a$ = $b$)"),
    "ne" -> m("a", "b")("($a$ <> $b$)"),
    "gt" -> m("a", "b")("($a$ > $b$)"),
    "lt" -> m("a", "b")("($a$ < $b$)"),
    "gte" -> m("a", "b")("($a$ >= $b$)"),
    "lte" -> m("a", "b")("($a$ <= $b$)"),
    "ifelse" -> m("a", "b", "c")("CASE WHEN $a$ THEN $b$ ELSE $c$ END"),
    "bool" -> m("a")(
      """CASE
        |  WHEN $a$ IS NULL THEN FALSE
        |  WHEN try_cast($a$ as boolean) IS NOT NULL THEN cast($a$ as boolean)
        |  WHEN try_cast($a$ as double) IS NOT NULL AND cast($a$ as double) = 0 THEN FALSE
        |  WHEN cast($a$ as string) = '' THEN FALSE
        |  ELSE TRUE
        |END""".stripMargin),
    "when" -> m("a", "b", "c")("Fn.ifelse(Fn.bool($a$), $b$, $c$)"),
    "and_" -> m("a", "b")("(Fn.bool($a$) AND Fn.bool($b$))"),
    "or_" -> m("a", "b")("(Fn.bool($a$) OR Fn.bool($b$))"),
    "not_" -> m("a")("Fn.bool(NOT Fn.bool($a$))"),
    "uniquelist" -> m("a")("array_distinct(collect_list($a$))"),
    "has" -> m("list", "element")("array_contains($list$, $element$)"),
    "includes" -> m("text", "pattern")("regexp_like($text$, $pattern$)"),
    "extract" -> m("text", "pattern")("regexp_extract($text$, $pattern$, 0)"),
    "trim" -> m("a")("trim($a$)"),
    "month445" -> m("date")({
      val wk = s"cast(${isoWeek("$date$")} as int)"
      val g = isoYear("$date$")
      val ranges = List((1, 4, "01"), (5, 8, "02"), (9, 13, "03"), (14, 17, "04"),
        (18, 21, "05"), (22, 26, "06"), (27, 30, "07"), (31, 34, "08"),
        (35, 39, "09"), (40, 43, "10"), (44, 47, "11"))
      val whens = ranges.map { case (lo, hi, mo) =>
        s"WHEN $wk BETWEEN $lo AND $hi THEN concat($g, '-$mo')"
      }.mkString("\n  ")
      s"CASE\n  $whens\n  ELSE concat($g, '-12')\nEND"
    }),
    "validate_regex" -> m("value", "pattern", "allow_null")(
      """CASE
        |  WHEN $value$ IS NULL AND $allow_null$ THEN NULL
        |  WHEN $value$ IS NULL AND NOT $allow_null$ THEN raise_error('Validation failed: NULL value not allowed')
        |  WHEN regexp_like($value$, $pattern$) THEN $value$
        |  ELSE raise_error(concat('Validation failed: ', coalesce($value$, 'NULL'), ' does not match pattern ', $pattern$))
        |END""".stripMargin),
    "validate_gt" -> m("value", "threshold", "allow_null")(
      """CASE
        |  WHEN $value$ IS NULL AND $allow_null$ THEN NULL
        |  WHEN $value$ IS NULL AND NOT $allow_null$ THEN raise_error('Validation failed: NULL value not allowed')
        |  WHEN $value$ > $threshold$ THEN $value$
        |  ELSE raise_error(concat('Validation failed: ', coalesce(cast($value$ as string), 'NULL'), ' <= ', cast($threshold$ as string)))
        |END""".stripMargin),
    "validate_lt" -> m("value", "threshold", "allow_null")(
      """CASE
        |  WHEN $value$ IS NULL AND $allow_null$ THEN NULL
        |  WHEN $value$ IS NULL AND NOT $allow_null$ THEN raise_error('Validation failed: NULL value not allowed')
        |  WHEN $value$ < $threshold$ THEN $value$
        |  ELSE raise_error(concat('Validation failed: ', coalesce(cast($value$ as string), 'NULL'), ' >= ', cast($threshold$ as string)))
        |END""".stripMargin),
    "validate_between" -> m("value", "min_val", "max_val", "allow_null")(
      """CASE
        |  WHEN $value$ IS NULL AND $allow_null$ THEN NULL
        |  WHEN $value$ IS NULL AND NOT $allow_null$ THEN raise_error('Validation failed: NULL value not allowed')
        |  WHEN $value$ BETWEEN $min_val$ AND $max_val$ THEN $value$
        |  ELSE raise_error(concat('Validation failed: ', coalesce(cast($value$ as string), 'NULL'), ' not in [', cast($min_val$ as string), ', ', cast($max_val$ as string), ']'))
        |END""".stripMargin),
    "validate_not_between" -> m("value", "min_val", "max_val", "allow_null")(
      """CASE
        |  WHEN $value$ IS NULL AND $allow_null$ THEN NULL
        |  WHEN $value$ IS NULL AND NOT $allow_null$ THEN raise_error('Validation failed: NULL value not allowed')
        |  WHEN $value$ NOT BETWEEN $min_val$ AND $max_val$ THEN $value$
        |  ELSE raise_error(concat('Validation failed: ', coalesce(cast($value$ as string), 'NULL'), ' is within disallowed range [', cast($min_val$ as string), ', ', cast($max_val$ as string), ']'))
        |END""".stripMargin)
  )

  /** User-registered macros (reference: register_macro,
    * ankaflow/internal/macros.py:8-60). Collision with a builtin rejects. */
  private val registered = mutable.Map[String, Macro]()

  def registerMacro(name: String, params: List[String], body: String): Unit = {
    if (builtins.contains(name))
      throw new IllegalArgumentException(
        s"Cannot register macro '$name': collides with a built-in")
    registered(name) = Macro(params, body)
  }

  def clearRegistered(): Unit = registered.clear()

  def lookup(name: String): Option[Macro] =
    builtins.get(name).orElse(registered.get(name))

  /** strptime-style → Java time pattern (reference macros.py:146-174). */
  def toJavaPattern(p: String): String = {
    if (p.contains("%")) {
      p.replace("%z", "").replace("%Z", "")
        .replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
        .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
        .replace("%b", "MMM").replace("%a", "EEE").replace("%G", "YYYY")
    } else {
      // human-readable: YYYY/MM/DD/HH/mm/ss — MM, HH, mm, ss are already
      // Java tokens; YYYY and DD need lowering.
      p.replace("YYYY", "yyyy").replace("DD", "dd")
    }
  }

  /** The `Fn.name(` call starting at token `i`: its name and the index
    * of its "(". `Fn` matches in any case, as DuckDB names do. */
  private[sqlbridge] def call(toks: Vector[Tok], i: Int): Option[(String, Int)] =
    if (isWord(toks(i), "Fn") && toks.lift(i + 1).contains(Sym(".")))
      toks.lift(i + 2) match {
        case Some(Word(name)) =>
          val open = nextNonBlank(toks, i + 3)
          if (toks.lift(open).contains(Sym("("))) Some((name, open)) else None
        case _ => None
      }
    else None

  /** Expand every `Fn.x(...)` call in `toks` (recursively, innermost-last:
    * we expand outermost and re-scan until fixpoint). */
  def expand(toks: Vector[Tok]): Vector[Tok] = {
    @annotation.tailrec
    def loop(cur: Vector[Tok], rounds: Int): Vector[Tok] =
      if (rounds == 50) sys.error("Fn macro expansion did not converge")
      else expandOnce(cur) match {
        case Some(next) => loop(next, rounds + 1)
        case None => cur
      }
    loop(toks, 0)
  }

  /** One round: every call in `toks` expanded, or None if there is none. */
  private def expandOnce(toks: Vector[Tok]): Option[Vector[Tok]] = {
    var changed = false
    val out = substitute(toks) { i =>
      call(toks, i).map { case (name, open) =>
        val mac = lookup(name).getOrElse(sys.error(s"unknown macro Fn.$name"))
        val close = matchParen(toks, open)
        val args = splitArgs(toks.slice(open + 1, close)).filter(_.nonEmpty)
        changed = true
        (tokenize(applyMacro(name, mac, args)), close + 1)
      }
    }
    if (changed) Some(out) else None
  }

  /** `name := value`: the parameter name and the value's text. */
  private def namedArg(arg: Vector[Tok]): Option[(String, String)] = arg match {
    case Word(name) +: rest =>
      val colon = nextNonBlank(rest, 0)
      val value = trimTok(rest.drop(colon + 2))
      if (rest.slice(colon, colon + 2) == Vector(Sym(":"), Sym("=")) && value.nonEmpty)
        Some((name, render(value)))
      else None
    case _ => None
  }

  private def applyMacro(name: String, mac: Macro, args: List[Vector[Tok]]): String = {
    // split named (x := v) from positional args
    val (namedArgs, positional) = args.partitionMap(a => namedArg(a).toLeft(render(a)))
    val named = namedArgs.toMap
    // special case: Fn.dt(value, pattern) overload (macros.py:146-174)
    if (name == "dt" && positional.size == 2 && named.isEmpty) {
      val value = positional(0)
      val pat = positional(1).trim
      val javaPat =
        if (pat.startsWith("'") && pat.endsWith("'"))
          "'" + toJavaPattern(pat.substring(1, pat.length - 1)) + "'"
        else sys.error("Fn.dt(value, pattern): pattern must be a string literal")
      return s"to_timestamp(regexp_replace(($value), '(Z|[+-][0-9]{2}:[0-9]{2}|[A-Za-z/_]+)$$', ''), $javaPat)"
    }
    if (positional.size > mac.params.size)
      sys.error(s"Fn.$name: too many arguments (${positional.size} > ${mac.params.size})")
    var body = mac.body
    mac.params.zipWithIndex.foreach { case (p, idx) =>
      val v =
        if (idx < positional.size) positional(idx)
        else named.getOrElse(p, mac.defaults.getOrElse(p,
          sys.error(s"Fn.$name: missing argument '$p'")))
      body = body.replace(s"$$$p$$", s"($v)")
    }
    mac.defaults.foreach { case (p, d) =>
      body = body.replace(s"$$$p$$", s"(${named.getOrElse(p, d)})")
    }
    "(" + body + ")"
  }
}
