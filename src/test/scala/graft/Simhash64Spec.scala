package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins for the width-parameterized SimHash family (r17 verdict: t18's
  * fixed 16-bit fingerprint made the near-dup answer Θ(n²); simhash64
  * is the corpus-scale width). Three laws:
  *
  *  1. KERNEL parity — the native one-pass hash equals the exploded
  *     64-bit-vote relational form (the oracle's spelling) on real docs.
  *  2. FAMILY containment — `simhash64 & 0xFFFF == simhash16` per doc
  *     (the two widths share md5 digits 0..3 and the digit-probe
  *     numbering), so t101's hamming-0 pairs are a SUBSET of t18's
  *     answer: the widths are one family, not two unrelated hashes.
  *  3. BANDING exactness — t101's 4×16 pigeonhole retrieval equals
  *     brute-force all-pairs hamming ≤ 3 on the fixture (banding is
  *     lossless for hamming ≤ bands−1, unlike probabilistic MinHash).
  */
class Simhash64Spec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  /** The exploded relational twin (the DuckDB oracle's spelling):
    * hv = md5's 16 leading hex digits as a 64-bit value; bit i polls
    * hv bit 60 − 4·(i/4) + i%4. hv is read as two 32-bit halves —
    * Spark's `conv(…,16,10)` renders an UNSIGNED decimal string, so a
    * full-width parse of a ≥2⁶³ hash would null out under CAST; each
    * 8-digit half is < 2³² and casts safely. */
  private def relational(df: org.apache.spark.sql.DataFrame) = {
    val toks = df
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .withColumn("hv_hi", expr("CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("hv_lo", expr("CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT)"))
    val bitSums = (0 until 64).map { i =>
      val shift = 60 - 4 * (i / 4) + i % 4
      val probe = if (shift >= 32) s"shiftright(hv_hi, ${shift - 32})"
                  else s"shiftright(hv_lo, $shift)"
      sum(expr(s"CASE WHEN ($probe & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$i")
    }
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 64).map(i =>
      expr(s"CASE WHEN s$i > 0 THEN ${if (i == 63) "(-9223372036854775807L - 1L)"
        else s"${1L << i}L"} ELSE 0L END")).reduce(_ + _)
    sums.select(col("doc_id"), value.cast("long").as("simhash64"))
  }

  test("simhash64 matches the exploded bit-vote form on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val native = docs.select(col("doc_id"),
      expr("simhash64(split(lower(text), ' '))").as("simhash64"))
    val rel = relational(docs)
    assert(native.exceptAll(rel).isEmpty && rel.exceptAll(native).isEmpty)
    assert(native.count() == docs.count())
  }

  test("family containment: simhash64 & 0xFFFF == simhash16 on every doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val both = docs.select(
      expr("simhash16(split(lower(text), ' '))").as("s16"),
      expr("simhash64(split(lower(text), ' ')) & 65535").as("low16"))
    assert(both.filter(col("s16").cast("long") =!= col("low16")).isEmpty,
      "md5 digits 0..3 + identical digit-probe numbering must make the " +
        "16-bit fingerprint the low word of the 64-bit one")
  }

  test("t101's banded retrieval equals brute-force hamming<=3") {
    val sims = graft.queries.TrainingData.simhash64(spark, sf)
    val brute = sims.as("a").join(sims.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash64 ^ b.simhash64)").as("hamming"))
      .filter(col("hamming") <= 3)
    val banded = SparkEntry.queries("t101_simhash64_neardup")(spark, sf)
    assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty,
      "4x16 pigeonhole banding must lose nothing at hamming<=3")
  }

  test("t101's hamming-0 pairs are a subset of t18's answer") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val h0 = pairs(SparkEntry.queries("t101_simhash64_neardup")(spark, sf)
      .filter(col("hamming") === 0))
    val t18 = pairs(SparkEntry.queries("t18_simhash_neardup")(spark, sf))
    assert(h0.subsetOf(t18),
      "identical 64-bit fingerprints force identical 16-bit ones " +
        s"(family containment); violators: ${(h0 diff t18).take(5)}")
    assert(h0.nonEmpty, "the fixture's exact dups must collide at 64 bits")
  }

  test("simhash64 of an empty token array is null") {
    import spark.implicits._
    val r = Seq(Seq.empty[String]).toDF("toks")
      .select(expr("simhash64(toks)")).collect().head
    assert(r.isNullAt(0))
  }

  test("simhash64 votes -1 on every bit for null tokens (CASE-ELSE parity)") {
    import spark.implicits._
    val r = Seq(
      (1, Seq[String]("a")),
      (2, Seq[String]("a", null, null))
    ).toDF("id", "toks").select(col("id"), expr("simhash64(toks)").as("v"))
      .collect().sortBy(_.getInt(0))
    assert(r(1).getLong(1) == 0L, "2 null votes against 1 real vote → all bits 0")
    assert(r(0).getLong(1) != 0L)
  }

  test("simhash64 is deterministic and uses the full width") {
    import spark.implicits._
    val vals = Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("a"))
      .toDF("toks").select(expr("simhash64(toks)").as("v"))
      .collect().map(_.getLong(0))
    assert(vals(0) == vals(1))
    // fingerprint bit 63 polls bit 3 of md5 hex digit 15 (digit-probe
    // numbering); "a"'s md5 is 0cc175b9c0f1b6a8… → digit 15 is '8',
    // bit 3 set → a single-token hash must come out NEGATIVE, proving
    // the top word participates (a 16-bit-masked impostor would be ≥ 0)
    assert(vals(2) < 0L)
  }
}
