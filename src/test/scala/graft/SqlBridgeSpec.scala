package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sqlbridge.SqlBridge
import graft.sqlbridge.SqlBridge.NameRegistry
import graft.sqlbridge.SqlText.{Tok, render, tokenize}

/** Mirrors ankaflow/tests/test_sql_helpers.py — validation matrix, ranked
  * query shape, placeholder swap — plus the dialect translation layer. */
class SqlBridgeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** One translator pass over `sql`'s token stream, rendered. */
  private def pass(p: Vector[Tok] => Vector[Tok], sql: String): String =
    render(p(tokenize(sql)))

  test("validateSimpleQuery accepts single-table SELECT") {
    assert(SqlBridge.validateSimpleQuery("SELECT * FROM tbl WHERE x > 1") == "tbl")
    assert(SqlBridge.validateSimpleQuery("""SELECT a FROM "My Table"""") == "My Table")
  }

  test("validateSimpleQuery rejection matrix (util.py:386-425)") {
    intercept[Exception] {
      SqlBridge.validateSimpleQuery("WITH c AS (SELECT 1) SELECT * FROM c")
    }
    intercept[Exception] {
      SqlBridge.validateSimpleQuery("SELECT * FROM a JOIN b ON a.x = b.x")
    }
    intercept[Exception] {
      SqlBridge.validateSimpleQuery("SELECT * FROM (SELECT 1)")
    }
    intercept[Exception] { SqlBridge.validateSimpleQuery("SELECT 1") }
    intercept[Exception] { SqlBridge.validateSimpleQuery("SELECT * FROM a, b") }
  }

  test("rankedQuery wraps with ROW_NUMBER dedup") {
    val q = SqlBridge.rankedQuery("SELECT * FROM t", "updated_at", List("id", "region"))
    assert(q.contains("ROW_NUMBER() OVER (PARTITION BY `id`, `region` ORDER BY `updated_at` DESC)"))
    assert(q.contains("__rank__ = 1"))
  }

  test("hasAggregation: agg names count only as calls, not column names") {
    assert(SqlBridge.hasAggregation("SELECT sum(x) FROM t"))
    assert(SqlBridge.hasAggregation("SELECT a FROM t GROUP BY a"))
    // a column literally named `count` must not block a ranked tap
    assert(!SqlBridge.hasAggregation("SELECT count, min FROM t"))
    assert(!SqlBridge.hasAggregation("SELECT id, count FROM t WHERE count > 3"))
  }

  test("ranking + aggregation rejected (util.py:419-424)") {
    intercept[Exception] {
      SqlBridge.rankedQuery("SELECT id, count(*) FROM t GROUP BY id", "v", List("id"))
    }
  }

  test("swapFromTable replaces only the single FROM table") {
    val out = SqlBridge.swapFromTable(
      "SELECT a, b FROM Deltatable WHERE a > 1", "`__src`")
    assert(out == "SELECT a, b FROM `__src` WHERE a > 1")
    val quoted = SqlBridge.swapFromTable(
      """SELECT * FROM "My Source" WHERE x = 'FROM My Source'""", "`v`")
    assert(quoted.contains("FROM `v`"))
    assert(quoted.contains("'FROM My Source'")) // string literal untouched
  }

  test("stage names with spaces are mangled via registry") {
    val names = new NameRegistry
    val v = names.register("Read Delta")
    assert(v == "Read_Delta")
    val sql = SqlBridge.translate("""SELECT * FROM "Read Delta"""", names)
    assert(sql.contains("`Read_Delta`"))
  }

  test("duckdb function spellings are swapped") {
    val names = new NameRegistry
    val sql = SqlBridge.translate(
      "SELECT list_contains(xs, 1), regexp_matches(s, 'p'), " +
        "json_extract_string(j, '$.k') FROM t", names)
    assert(sql.contains("array_contains"))
    assert(sql.contains("regexp_like"))
    assert(sql.contains("get_json_object"))
  }

  test("unnest(generate_series(...)) → explode(sequence(...)) runs on Spark") {
    val names = new NameRegistry
    val sql = SqlBridge.translate("SELECT unnest(generate_series(1, 5)) AS n", names)
    val got = spark.sql(sql).collect().map(_.getInt(0)).toList
    assert(got == List(1, 2, 3, 4, 5))
  }

  test("QUALIFY rewrite executes on Spark") {
    val names = new NameRegistry
    spark.sql("SELECT * FROM VALUES (1, 'a', 10), (1, 'b', 20), (2, 'c', 5) AS t(k, v, n)")
      .createOrReplaceTempView("qualify_src")
    val sql = SqlBridge.translate(
      """SELECT k, v, n FROM qualify_src
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY n DESC) = 1
        |ORDER BY k""".stripMargin, names)
    val rows = spark.sql(sql).collect()
    assert(rows.map(_.getString(1)).toList == List("b", "c"))
    assert(rows.head.schema.fieldNames.toList == List("k", "v", "n"))
  }

  test("Fn macros inside a full query expand and run") {
    val names = new NameRegistry
    val sql = SqlBridge.translate(
      "SELECT Fn.div(10, 0) AS z, Fn.str(NULL) AS s", names)
    val r = spark.sql(sql).collect()(0)
    assert(r.get(0) == 0.0)
    assert(r.get(1) == "")
  }

  test("table macros inside string literals stay text") {
    val names = new NameRegistry
    val sql = SqlBridge.translate(
      "SELECT 'Fn.calendar()' AS s, count(*) AS n FROM Fn.calendar()", names)
    val r = spark.sql(sql).collect()(0)
    assert(r.getString(0) == "Fn.calendar()")
    assert(r.getLong(1) > 1800) // the call outside the literal still expands
  }

  test("USING SAMPLE translates to TABLESAMPLE and runs") {
    assert(pass(SqlBridge.rewriteUsingSample, "SELECT * FROM t USING SAMPLE 5 ROWS")
      == "SELECT * FROM t TABLESAMPLE (5 ROWS)")
    assert(pass(SqlBridge.rewriteUsingSample, "SELECT * FROM t USING SAMPLE 10%")
      == "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(pass(SqlBridge.rewriteUsingSample, "SELECT * FROM t USING SAMPLE 7")
      == "SELECT * FROM t TABLESAMPLE (7 ROWS)")
    spark.sql("SELECT explode(sequence(1, 100)) AS v").createOrReplaceTempView("samp_t")
    val n = spark.sql(SqlBridge.translate(
      "SELECT * FROM samp_t USING SAMPLE 5 ROWS", new NameRegistry)).count()
    assert(n == 5)
  }

  test("len() is polymorphic: string chars and list elements (graft_len)") {
    val names = new NameRegistry
    val sql = SqlBridge.translate(
      "SELECT len('hello') AS a, len(string_split('x y z', ' ')) AS b",
      names, Some(spark))
    val r = spark.sql(sql).collect()(0)
    assert(r.getLong(0) == 5L)
    assert(r.getLong(1) == 3L)
  }

  test("USING SAMPLE spelled-out PERCENT form") {
    assert(pass(SqlBridge.rewriteUsingSample, "SELECT * FROM t USING SAMPLE 10 PERCENT")
      == "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
  }

  test("EXCLUDE: quoted identifier gets parens; multiplication untouched") {
    assert(pass(SqlBridge.rewriteExclude, "SELECT * EXCLUDE \"my col\" FROM t")
      == "SELECT * EXCEPT (\"my col\") FROM t")
    val mult = "SELECT price * exclude FROM t"
    assert(pass(SqlBridge.rewriteExclude, mult) == mult)
    assert(pass(SqlBridge.rewriteExclude, "SELECT t.* EXCLUDE (a) FROM t")
      == "SELECT t.* EXCEPT (a) FROM t")
  }

  test("graft_len(NULL) is null, not an analysis error") {
    val r = spark.sql(SqlBridge.translate("SELECT len(NULL) AS n",
      new NameRegistry, Some(spark))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("rewrites leave string literals untouched") {
    val lit1 = "SELECT 'codes to EXCLUDE here' AS note FROM t"
    assert(pass(SqlBridge.rewriteExclude, lit1) == lit1)
    val lit2 = "SELECT 'call strftime(x, ''%Y'') later' AS doc FROM t"
    assert(pass(SqlBridge.rewriteStrftime, lit2) == lit2)
    // a column merely named exclude is not a star modifier
    val colUse = "SELECT exclude FROM t"
    assert(pass(SqlBridge.rewriteExclude, colUse) == colUse)
  }

  test("RemoteRank survives inner FROM keywords and mixed-case SELECT") {
    val q = graft.connections.RemoteRank(
      "Select extract(month from dt) AS m, v, ts, id FROM Clickhouse",
      "\"db\".\"t\"", Some("ts"), Seq("id"))
    assert(q.contains("SELECT extract(month from dt) AS m, v, ts, id, ROW_NUMBER()"))
    assert(q.contains("FROM \"db\".\"t\""))
  }

  test("EXCLUDE star modifier → EXCEPT (parenthesized and bare)") {
    assert(pass(SqlBridge.rewriteExclude, "SELECT * EXCLUDE (a, b) FROM t")
      == "SELECT * EXCEPT (a, b) FROM t")
    assert(pass(SqlBridge.rewriteExclude, "SELECT * EXCLUDE secret FROM t")
      == "SELECT * EXCEPT (secret) FROM t")
    // runs through Spark end-to-end
    val names = new NameRegistry
    spark.sql("SELECT 1 AS a, 2 AS b, 3 AS c").createOrReplaceTempView("excl_t")
    val df = spark.sql(SqlBridge.translate(
      "SELECT * EXCLUDE (b) FROM excl_t", names))
    assert(df.columns.toList == List("a", "c"))
  }

  test("strftime/strptime literal patterns translate (both arg orders)") {
    assert(pass(SqlBridge.rewriteStrftime, "SELECT strftime(ts, '%Y-%m') FROM t")
      == "SELECT date_format(ts, 'yyyy-MM') FROM t")
    assert(pass(SqlBridge.rewriteStrftime, "SELECT strftime('%Y', o_orderdate) FROM t")
      == "SELECT date_format(o_orderdate, 'yyyy') FROM t")
    assert(pass(SqlBridge.rewriteStrftime, "SELECT strptime(s, '%Y-%m-%d') FROM t")
      == "SELECT to_timestamp(s, 'yyyy-MM-dd') FROM t")
    // untranslatable ISO token passes through untouched
    val iso = "SELECT strftime('%V', d) FROM t"
    assert(pass(SqlBridge.rewriteStrftime, iso) == iso)
    // end-to-end value check
    val r = spark.sql(SqlBridge.translate(
      "SELECT strftime(TIMESTAMP '2026-03-07 10:00:00', '%Y/%m/%d') AS s",
      new NameRegistry)).collect()(0)
    assert(r.getString(0) == "2026/03/07")
  }
}
