package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `lower`, `upper` and `initcap` on non-ASCII text under the shipped
  * profile, which the shared session runs (JVM case mapping,
  * `spark.sql.icu.caseMappings.enabled=false`), and under Spark's default
  * ICU case mapping. The expected values are
  * literals; `lower` and `upper` equal DuckDB 1.0.0's output unless a
  * comment gives DuckDB's value (DuckDB maps one code point to one, with
  * no final-sigma or expanding rules, and has no `initcap`). Every
  * difference is listed in README §2.9 dialect gaps.
  *
  * The two paths agree on `lower` and `upper` for every row; they differ
  * only in `initcap`, where the JVM path title-cases one code point at a
  * time and ICU applies full title-case mappings. Both use the JVM's
  * default locale for non-ASCII strings, so these values hold for a
  * default locale without Turkic or Lithuanian casing rules, such as
  * `en_US`. */
class CaseMappingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private case class Row(in: String, lower: String, upper: String,
      initcapJvm: String, initcapIcu: String)

  private val rows = Seq(
    Row("Émile àéîõü ÀÉÎÕÜ", "émile àéîõü àéîõü", "ÉMILE ÀÉÎÕÜ ÀÉÎÕÜ",
      "Émile Àéîõü Àéîõü", "Émile Àéîõü Àéîõü"),
    // initcap splits at white space only, not at '-' or '\''
    Row("ÉCOLE-NORMALE l'été", "école-normale l'été", "ÉCOLE-NORMALE L'ÉTÉ",
      "École-normale L'été", "École-normale L'été"),
    Row("jean-paul o'neil", "jean-paul o'neil", "JEAN-PAUL O'NEIL",
      "Jean-paul O'neil", "Jean-paul O'neil"),
    // final sigma: DuckDB lower is "οδυσσευσ"
    Row("ΟΔΥΣΣΕΥΣ", "οδυσσευς", "ΟΔΥΣΣΕΥΣ", "Οδυσσευς", "Οδυσσευς"),
    // DuckDB lower is "ὀδυσσεύσ σοφός"
    Row("ὈΔΥΣΣΕΎΣ σοφός", "ὀδυσσεύς σοφός", "ὈΔΥΣΣΕΎΣ ΣΟΦΌΣ",
      "Ὀδυσσεύς Σοφός", "Ὀδυσσεύς Σοφός"),
    // the title-case digraph U+01C5 and its upper and lower forms
    Row("ǅ", "ǆ", "Ǆ", "ǅ", "ǅ"),
    Row("ǄUNGLA ǆungla", "ǆungla ǆungla", "ǄUNGLA ǄUNGLA", "ǅungla ǅungla",
      "ǅungla ǅungla"),
    // DuckDB upper is "STRAẞE" (U+1E9E)
    Row("Straße", "straße", "STRASSE", "Straße", "Straße"),
    // DuckDB upper is "ẞ"
    Row("ß", "ß", "SS", "ß", "Ss"),
    // lower keeps the dot as a combining U+0307, and so does the JVM's
    // initcap; DuckDB lower is "istanbul"
    Row("\u0130stanbul", "i\u0307stanbul", "\u0130STANBUL", "I\u0307stanbul",
      "\u0130stanbul"),
    // the dotless i stays; DuckDB lower is "\u0131iii"
    Row("\u0131Ii\u0130", "\u0131iii\u0307", "III\u0130", "Iiii\u0307", "Iiii\u0307"),
    // ligatures expand in upper; DuckDB upper is "ﬁ ﬂ"
    Row("ﬁ ﬂ", "ﬁ ﬂ", "FI FL", "ﬁ ﬂ", "Fi Fl"),
    // DuckDB upper is "ŉ"
    Row("ŉ", "ŉ", "ʼN", "ŉ", "ʼN"),
    // DuckDB upper is "\u01F0"
    Row("\u01F0", "\u01F0", "J\u030C", "\u01F0", "J\u030C"))

  private def mapped(s: SparkSession): Seq[(String, String, String, String)] = {
    import s.implicits._
    rows.map(_.in).toDF("s")
      .selectExpr("s", "lower(s)", "upper(s)", "initcap(s)").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
  }

  private def check(s: SparkSession, initcap: Row => String): Unit = {
    val want = rows.map(r => (r.in, r.lower, r.upper, initcap(r)))
    val got = mapped(s)
    val diff = want.zip(got).filter { case (w, g) => w != g }
    assert(diff.isEmpty, diff.map { case (w, g) => s"want $w\n got $g" }.mkString("\n"))
  }

  test("the shipped profile maps case with the JVM") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    check(spark, _.initcapJvm)
  }

  test("ICU case mapping differs only in initcap") {
    val icu = spark.newSession()
    icu.conf.set("spark.sql.icu.caseMappings.enabled", "true")
    check(icu, _.initcapIcu)
  }
}
