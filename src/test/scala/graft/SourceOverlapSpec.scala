package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins t66's r20 generalization (r19 ADVICE): the fixed-8-byte bitmask
  * aggregation extended to ANY source cardinality via ⌈|S|/62⌉ mask
  * words (global bit i = 62·word + bit), where the r19 shape threw
  * `require(<= 62)`; and NULL sources are dropped up front — matching
  * the oracle, whose `a.source < b.source` never pairs NULL — where the
  * r19 shape NPE'd in the driver-side sort before the require fired.
  * The reference is the naive DISTINCT (source, shingle) self-join (the
  * oracle's own shape), computed independently in Spark.
  */
class SourceOverlapSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("t66 handles 70 sources (two mask words) and NULL sources") {
    import spark.implicits._
    // one doc per source; sources in the same block of 7 share exactly
    // one 3-gram shingle ("blk<b> common shingle"); block 8 spans the
    // word-0/word-1 bit boundary (global bits 56..62)
    val rows = (0 until 70).map { i =>
      val b = i / 7
      (i.toLong, s"blk$b common shingle tail$i", "en", f"src$i%03d", 30L)
    } ++ Seq( // NULL-source docs carrying the same shingles must not
              // surface anywhere in the output
      (900L, "blk0 common shingle tail900", "en", null, 30L),
      (901L, "blk8 common shingle tail901", "en", null, 30L))
    val dir = java.nio.file.Files.createTempDirectory("t66wide").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = SparkEntry.queries("t66_source_overlap")(spark, dir)

    // independent reference: the oracle's naive shape
    val ss = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source").isNotNull)
      .select(col("source"),
        explode(expr("word_shingles(split(text, ' '))")).as("shingle"))
      .distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val ref = ss.as("a").join(ss.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))

    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "70-source bitmask overlap must equal the naive DISTINCT self-join")
    val rowsGot = got.collect()
    assert(rowsGot.length == 10 * 21,
      s"10 blocks x C(7,2) pairs expected, got ${rowsGot.length}")
    assert(!rowsGot.exists(r => r.getString(0) == null || r.getString(1) == null),
      "NULL sources must never surface in the output")
    // the block spanning global bits 56..62 must pair across mask words
    assert(rowsGot.exists(r =>
      r.getString(0) == "src061" && r.getString(1) == "src062"),
      "the word-boundary pair (bit 61, bit 62) must survive the 2-word mask")
  }
}
