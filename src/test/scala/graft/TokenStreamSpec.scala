package graft

import java.nio.file.Files
import scala.collection.mutable
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.connections.{ConnContext, DeltaConnection, FlowConfig}
import graft.model.ConnectionDef
import graft.sqlbridge.{RawDispatch, SqlBridge}
import graft.sqlbridge.SqlText.{render, tokenize}

/** The translator, raw dispatch and Deltatable's `VERSION AS OF` read
  * user SQL only as [[graft.sqlbridge.SqlText]]'s token stream: the
  * stream renders back to its input, and text inside a string literal is
  * never rewritten, checked or read, whatever SQL it spells. */
class TokenStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Passes when `prop` holds for `n` seeded cases. */
  private def check(prop: Prop, n: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(Seed(42L))
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(0)))
  }

  /** SQL that a rewrite must leave alone inside a literal. */
  private val spelled = Seq("read_csv(x)", "version as of 3", "Fn.calendar()",
    "QUALIFY", "EXCLUDE", "--", "VERSION AS OF 0", "read_parquet(y)",
    "USING SAMPLE 5 ROWS", "strftime(ts, %Y)", "Fn.add(1, 2)", "* EXCLUDE a")

  /** Literal content: spelled SQL, words and punctuation. With `quotes`,
    * also single quotes, which the literal escapes as `''`. */
  private def content(quotes: Boolean): Gen[String] = {
    val piece = Gen.frequency(
      4 -> Gen.oneOf(spelled),
      2 -> Gen.alphaNumStr.map(_.take(6)),
      2 -> Gen.oneOf(" ", "(", ")", ",", ".", "*", "%", "\n", "\"", "`", "-"),
      (if (quotes) 1 else 0) -> Gen.const("'"))
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
  }

  private def literal(c: String): String = "'" + c.replace("'", "''") + "'"

  test("render(tokenize(s)) is s for any string, quotes and comments included") {
    val fragment = Gen.frequency(
      3 -> Gen.oneOf("'", "''", "--", "\n", "\"", "`", "(", ")", " ", "Fn", ".",
        "1", "a", "select"),
      1 -> Gen.asciiPrintableStr.map(_.take(8)),
      1 -> Gen.stringOf(Gen.oneOf('é', 'ı', 'İ', '\u0000', '\r', '\t', '日')))
    val sqlText = Gen.frequency(
      3 -> Gen.choose(0, 12).flatMap(Gen.listOfN(_, fragment)).map(_.mkString),
      1 -> Gen.asciiStr, 1 -> Gen.alphaNumStr)
    check(Prop.forAll(sqlText)(s => render(tokenize(s)) == s), 500)
  }

  test("translate keeps every string literal byte-identical") {
    val statements = Seq(
      (l: String) => s"SELECT a, $l AS note FROM t QUALIFY row_number() OVER (ORDER BY a) = 1",
      (l: String) => s"SELECT * EXCLUDE (b), $l AS note FROM Fn.calendar() USING SAMPLE 5 ROWS",
      (l: String) => s"SELECT Fn.str($l) AS note, strftime(ts, '%Y') FROM t")
    check(Prop.forAll(content(quotes = true), Gen.oneOf(statements)) { (c, stmt) =>
      val lit = literal(c)
      SqlBridge.translate(stmt(lit), new SqlBridge.NameRegistry).contains(lit)
    }, 200)
  }

  test("RawDispatch.execute reads no reader call spelled inside a literal") {
    val region = "/root/testdata/sf0.001/region.parquet"
    check(Prop.forAll(content(quotes = false)) { c =>
      val df = RawDispatch.execute(spark,
        s"SELECT ${literal(c)} AS note, count(*) AS n FROM read_parquet('$region')",
        new SqlBridge.NameRegistry)
      df.collect().toSeq.map(r => (r.getString(0), r.getLong(1))) == Seq((c, 5L))
    }, 25)
  }

  test("a Deltatable tap reads VERSION AS OF only outside literals") {
    val dir = Files.createTempDirectory("graft_delta_lit").toString
    def delta() = new DeltaConnection(ConnContext(spark,
      ConnectionDef("deltatable", Some(dir), Map.empty), FlowConfig(),
      mutable.Map.empty, new SqlBridge.NameRegistry))
    delta().sink(spark.read.parquet("/root/testdata/sf0.001/region.parquet"))
    check(Prop.forAll(content(quotes = false)) { c =>
      val notes = delta().tap(
        Some(s"SELECT ${literal(c)} AS note FROM Deltatable VERSION AS OF 0"), None)
        .collect().map(_.getString(0)).toSeq
      notes == Seq.fill(5)(c)
    }, 25)
  }
}
