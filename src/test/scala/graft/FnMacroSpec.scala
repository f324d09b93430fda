package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sqlbridge.FnMacros
import graft.sqlbridge.SqlText.{render, tokenize}

/** Mirrors ankaflow/tests/test_fn_macros.py:35-175 — every Fn macro's value
  * semantics, executed on Spark after expansion. */
class FnMacroSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def one(sql: String): Any = {
    val expanded = render(FnMacros.expand(tokenize(sql)))
    spark.sql(expanded).collect()(0).get(0)
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("arithmetic: add/plus/minus/mult") {
    assert(one("SELECT Fn.add(2, 3)") == 5)
    assert(one("SELECT Fn.plus(10, 5)") == 15)
    assert(one("SELECT Fn.minus(10, 3)") == 7)
    assert(one("SELECT Fn.mult(4, 5)") == 20)
  }

  test("div: zero divisor yields 0") {
    assert(one("SELECT Fn.div(10, 2)") == 5.0)
    assert(one("SELECT Fn.div(10, 0)") == 0.0)
  }

  test("float/int/str coercion with defaults") {
    assert(one("SELECT Fn.float('12.5')") == 12.5)
    assert(one("SELECT Fn.float('abc')") == 0.0)
    assert(one("SELECT Fn.int('123')") == 123L)
    assert(one("SELECT Fn.int(NULL)") == 0L)
    assert(one("SELECT Fn.str(456)") == "456")
    assert(one("SELECT Fn.str(NULL)") == "")
  }

  test("bool truthiness") {
    assert(one("SELECT Fn.bool(NULL)") == false)
    assert(one("SELECT Fn.bool(TRUE)") == true)
    assert(one("SELECT Fn.bool(FALSE)") == false)
    assert(one("SELECT Fn.bool('yes')") == true)
    assert(one("SELECT Fn.bool('')") == false)
    assert(one("SELECT Fn.bool(0)") == false)
  }

  test("and_/or_/not_ and when/ifelse") {
    assert(one("SELECT Fn.and_(TRUE, FALSE)") == false)
    assert(one("SELECT Fn.or_(TRUE, FALSE)") == true)
    assert(one("SELECT Fn.not_(TRUE)") == false)
    assert(one("SELECT Fn.ifelse(TRUE, 'yes', 'no')") == "yes")
    assert(one("SELECT Fn.ifelse(FALSE, 'yes', 'no')") == "no")
    assert(one("SELECT Fn.when(TRUE, 'ok', 'fail')") == "ok")
  }

  test("comparisons") {
    assert(one("SELECT Fn.eq(1, 1)") == true)
    assert(one("SELECT Fn.ne(1, 2)") == true)
    assert(one("SELECT Fn.gt(3, 2)") == true)
    assert(one("SELECT Fn.lt(2, 3)") == true)
    assert(one("SELECT Fn.gte(3, 3)") == true)
    assert(one("SELECT Fn.lte(2, 3)") == true)
  }

  test("includes/extract/trim") {
    assert(one("SELECT Fn.includes('hello', 'ell')") == true)
    assert(one("SELECT Fn.extract('abc123', '[0-9]+')") == "123")
    assert(one("SELECT Fn.trim('  padded  ')") == "padded")
  }

  test("uniquelist collects distinct values") {
    val got = one(
      "SELECT Fn.uniquelist(x) FROM (VALUES (1), (2), (2), (3)) AS t(x)")
    assert(got.asInstanceOf[scala.collection.Seq[Any]].toSet == Set(1, 2, 3))
  }

  test("has → array_contains") {
    assert(one("SELECT Fn.has(array(1,2,3), 2)") == true)
  }

  test("dt_* formatting") {
    assert(one("SELECT Fn.dt_YYYY(TIMESTAMP '2025-01-01')") == "2025")
    assert(one("SELECT Fn.dt_MM(TIMESTAMP '2025-03-01')") == "03")
    assert(one("SELECT Fn.dt_DD(TIMESTAMP '2025-12-25')") == "25")
    assert(one("SELECT Fn.dt_isoformat(TIMESTAMP '2024-04-01 00:00:00')")
      == "2024-04-01 00:00:00")
    assert(one("SELECT Fn.dt_monthname(TIMESTAMP '2024-04-01')") == "Apr")
  }

  test("dt arithmetic: add/boy/bom/eom/monday") {
    assert(one("SELECT Fn.dt_add(TIMESTAMP '2024-01-01', 7)") == ts("2024-01-08 00:00:00"))
    assert(one("SELECT Fn.dt_boy(TIMESTAMP '2024-04-15')") == ts("2024-01-01 00:00:00"))
    assert(one("SELECT Fn.dt_bom(TIMESTAMP '2024-04-15')") == ts("2024-04-01 00:00:00"))
    assert(one("SELECT Fn.dt_eom(TIMESTAMP '2024-04-15')") == ts("2024-04-30 00:00:00"))
    assert(one("SELECT Fn.dt_monday(TIMESTAMP '2024-04-17')") == ts("2024-04-15 00:00:00"))
  }

  test("dt_quarter accepts strings") {
    assert(one("SELECT Fn.dt_quarter('2024-01-01')") == 1)
    assert(one("SELECT Fn.dt_quarter('2024-06-15')") == 2)
    assert(one("SELECT Fn.dt_quarter('2024-10-10')") == 4)
  }

  test("dt cascade: ns/ms/s epochs (test_fn_macros.py:126-163)") {
    assert(one("SELECT Fn.dt(1712361600000000000)") == ts("2024-04-06 00:00:00"))
    assert(one("SELECT Fn.dt(1712361600000)") == ts("2024-04-06 00:00:00"))
    assert(one("SELECT Fn.dt(1712361600)") == ts("2024-04-06 00:00:00"))
    assert(one("SELECT Fn.dt(1712361600.5)") == ts("2024-04-06 00:00:00.5"))
    assert(one("SELECT Fn.dt(1712361600.255)") == ts("2024-04-06 00:00:00.255"))
  }

  test("dt cascade: ISO strings and fallback") {
    assert(one("SELECT Fn.dt('2025-03-10 17:24:41')") == ts("2025-03-10 17:24:41"))
    assert(one("SELECT Fn.dt(concat('2025-03-10',' ','17:24:41'))") == ts("2025-03-10 17:24:41"))
    assert(one("SELECT Fn.dt('2024-01-01T00:00:00Z')") == ts("2024-01-01 00:00:00"))
    assert(one("SELECT Fn.dt('not a date')") == ts("1970-01-01 00:00:00"))
  }

  test("dt fail_on_error raises") {
    intercept[Exception] {
      one("SELECT Fn.dt('not a date', fail_on_error:=TRUE)")
    }
  }

  test("dt with pattern") {
    assert(one("SELECT Fn.dt('2024/04/06', '%Y/%m/%d')") == ts("2024-04-06 00:00:00"))
    assert(one("SELECT Fn.dt('2024/04/06', 'YYYY/MM/DD')") == ts("2024-04-06 00:00:00"))
  }

  test("validate_gt passes and raises") {
    assert(one("SELECT Fn.validate_gt(5, 3, FALSE)") == 5)
    intercept[Exception] { one("SELECT Fn.validate_gt(2, 3, FALSE)") }
    assert(one("SELECT Fn.validate_gt(NULL, 3, TRUE)") == null)
  }

  test("validate_lt passes and raises") {
    assert(one("SELECT Fn.validate_lt(2, 3, FALSE)") == 2)
    intercept[Exception] { one("SELECT Fn.validate_lt(5, 3, FALSE)") }
    assert(one("SELECT Fn.validate_lt(NULL, 3, TRUE)") == null)
  }

  test("validate_regex") {
    assert(one("SELECT Fn.validate_regex('abc', '^a', FALSE)") == "abc")
    intercept[Exception] { one("SELECT Fn.validate_regex('xyz', '^a', FALSE)") }
  }

  test("validate_between / not_between") {
    assert(one("SELECT Fn.validate_between(5, 1, 10, FALSE)") == 5)
    intercept[Exception] { one("SELECT Fn.validate_between(50, 1, 10, FALSE)") }
    assert(one("SELECT Fn.validate_not_between(50, 1, 10, FALSE)") == 50)
  }

  test("month445 maps ISO weeks to 4-4-5 months") {
    assert(one("SELECT Fn.month445(TIMESTAMP '2024-01-10')") == "2024-01")
    assert(one("SELECT Fn.month445(TIMESTAMP '2024-12-20')") == "2024-12")
  }

  test("calendar table macro has 15 fields and plausible rows") {
    val df = spark.sql(
      render(graft.sqlbridge.FnTableMacros.expand(
        tokenize("SELECT * FROM Fn.calendar() LIMIT 5"), None)))
    assert(df.schema.fields.length == 15)
    assert(df.count() == 5)
  }

  test("registered macros expand; builtin collision rejected") {
    FnMacros.registerMacro("triple", List("a"), "($a$ * 3)")
    assert(one("SELECT Fn.triple(7)") == 21)
    intercept[IllegalArgumentException] {
      FnMacros.registerMacro("div", List("a"), "$a$")
    }
    FnMacros.clearRegistered()
  }

  test("nested macro calls expand recursively") {
    assert(one("SELECT Fn.add(Fn.mult(2, 3), Fn.div(10, 5))") == 8.0)
  }

  test("an argument that ends in a -- comment keeps the macro body after it") {
    assert(one("SELECT Fn.add(k -- the key\n, b) AS s FROM VALUES (2, 3) AS t(k, b)") == 5)
  }
}
