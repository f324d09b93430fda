package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins for the 128-bit width of the SimHash family (r19 verdict,
  * What's wrong #1: t101's 64-bit kernel forces 4×16-bit bands, whose
  * chance-candidate stream ~4·2⁻¹⁶·C(n,2) goes quadratic at warehouse
  * N; simhash128 gives the 4 bands room to grow to 32 bits). Laws:
  *
  *  1. KERNEL parity — the native one-pass hash equals the exploded
  *     128-bit-vote relational form (the oracle's spelling) on real docs.
  *  2. FAMILY containment — `simhash128[0] == simhash64` per doc (md5
  *     digits 0..15 + identical digit-probe numbering), chaining through
  *     Simhash64Spec's pin to `& 0xFFFF == simhash16`: three widths,
  *     ONE family.
  *  3. BANDING exactness at EVERY width — quarter-anchored banding is
  *     lossless for hamming ≤ 3 at w = 16, 26 and 32 alike (≤3
  *     differing bits touch ≤3 quarters → ≥1 untouched quarter's low-w
  *     band matches), so t105's ANSWER is schedule-independent and the
  *     w = ⌈log₂N⌉+4 schedule buys only candidate decades.
  *  4. CHANCE-COLLISION law (the PlaneFamilyLab discipline): on
  *     unrelated random documents, same-band collision-pair counts must
  *     track the 4·C(n,2)/2^w independence model — the claim the width
  *     schedule is built on, measured rather than stated.
  *  5. The width schedule itself is integer-exact against a BigInt
  *     reference (both engines spell it `length(bin(N−1)) + 4`).
  */
class Simhash128Spec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  /** The exploded relational twin (the DuckDB oracle's spelling): the
    * full 32-hex-digit md5 read as four 32-bit quarters (each 8-digit
    * conv parse is < 2³² — the Simhash64Spec signed-parse caveat); bit
    * i polls half i/64 at shift 60 − 4·((i%64)/4) + i%4. */
  private def relational(df: org.apache.spark.sql.DataFrame) = {
    val toks = df
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val quarters = (0 until 4).map(q =>
      expr(s"CAST(conv(substr(h, ${8 * q + 1}, 8), 16, 10) AS BIGINT)").as(s"q$q"))
    val withQ = toks.select(col("doc_id") +: quarters: _*)
    val bitSums = (0 until 128).map { i =>
      val j = i & 63
      val shift = 60 - 4 * (j / 4) + j % 4
      // half i/64 spans quarters 2·(i/64) (hi) and 2·(i/64)+1 (lo)
      val base = 2 * (i / 64)
      val probe = if (shift >= 32) s"shiftright(q$base, ${shift - 32})"
                  else s"shiftright(q${base + 1}, $shift)"
      sum(expr(s"CASE WHEN ($probe & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$i")
    }
    val sums = withQ.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    def word(off: Int) = (0 until 64).map(i =>
      expr(s"CASE WHEN s${off + i} > 0 THEN ${if (i == 63)
        "(-9223372036854775807L - 1L)" else s"${1L << i}L"} ELSE 0L END"))
      .reduce(_ + _)
    sums.select(col("doc_id"), word(0).cast("long").as("w0"),
      word(64).cast("long").as("w1"))
  }

  test("simhash128 matches the exploded bit-vote form on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val native = graft.queries.TrainingData.simhash128(spark, sf)
    val rel = relational(docs)
    assert(native.exceptAll(rel).isEmpty && rel.exceptAll(native).isEmpty)
    assert(native.count() == docs.count())
  }

  test("family containment: simhash128[0] == simhash64 on every doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val both = docs.select(
      expr("simhash64(split(lower(text), ' '))").as("s64"),
      expr("simhash128(split(lower(text), ' '))[0]").as("w0"))
    assert(both.filter(col("s64") =!= col("w0")).isEmpty,
      "md5 digits 0..15 + identical digit-probe numbering must make the " +
        "64-bit fingerprint word 0 of the 128-bit one")
  }

  test("quarter-anchored banding equals brute-force hamming<=3 at w=16,26,32") {
    val sims = graft.queries.TrainingData.simhash128(spark, sf)
    val brute = sims.as("a").join(sims.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.w0 ^ b.w0) + bit_count(a.w1 ^ b.w1)")
          .cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
    for (w <- Seq(16, 26, 32)) {
      val mask = (1L << w) - 1
      val bands = sims.select(col("doc_id"), col("w0"), col("w1"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          expr(s"shiftright(${if (b < 2) "w0" else "w1"}, ${32 * (b % 2)})"
            + s" & ${mask}L").as("value"))): _*)).as("bv"))
        .select(col("doc_id"), col("w0"), col("w1"),
          col("bv.band"), col("bv.value"))
      val banded = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.value") === col("b.value") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.w0 ^ b.w0) + bit_count(a.w1 ^ b.w1)")
            .cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
      assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty,
        s"quarter-anchored banding must lose nothing at hamming<=3, w=$w")
    }
  }

  test("t105 retrieves token-permuted duplicates (hamming 0) and the fixture pairs") {
    import spark.implicits._
    // simhash is an order-free vote sum, so a token permutation is an
    // exact 128-bit duplicate — the planted-retrieval face of the
    // exactness law, run through the FULL t105 query (schedule, bands,
    // candidate join, popcount verify)
    val base = (1 to 31).map(i => s"tok$i")
    val rows = Seq(
      (1L, base.mkString(" ")),
      (2L, scala.util.Random.javaRandomToRandom(new java.util.Random(7))
        .shuffle(base).mkString(" "))) ++
      (3L to 40L).map(i => (i, (1 to 31).map(j => s"u${i}_$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("t105planted").toString
    rows.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t105_simhash128_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.contains((1L, 2L, 0)),
      s"the permuted duplicate must come back at hamming 0; got ${got.toSeq}")
  }

  test("chance band collisions track the 4*C(n,2)/2^w model") {
    // doc-unique random tokens, ODD count per doc (no vote ties → each
    // fingerprint bit is a symmetric Bernoulli(1/2); ties would bias
    // bits toward 0 and inflate collisions above the model)
    val n = 5000L
    val docs = spark.range(n).select(col("id"),
      expr("transform(sequence(1, 15), d -> concat('r', id, '_', d))").as("toks"))
    val sims = docs.select(col("id"),
      expr("simhash128(toks)[0]").as("w0"), expr("simhash128(toks)[1]").as("w1"))
    for (w <- Seq(16, 20)) {
      val mask = (1L << w) - 1
      val pairs = sims.select(explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(${if (b < 2) "w0" else "w1"}, ${32 * (b % 2)})"
              + s" & ${mask}L").as("value"))): _*)).as("bv"))
        .groupBy("bv.band", "bv.value").count()
        .agg(sum(expr("count * (count - 1) / 2")).cast("double"))
        .head.getDouble(0)
      val model = 4.0 * n * (n - 1) / 2.0 / math.pow(2.0, w)
      val ratio = pairs / model
      assert(ratio >= 0.5 && ratio <= 2.5,
        f"w=$w: $pairs same-band pairs vs model $model — ratio $ratio%.2fx " +
          "outside [0.5, 2.5]. A correlated bit family would cap effective " +
          "band entropy and void the ceil(log2 N)+4 width schedule.")
    }
  }

  test("the width schedule is integer-exact and clamps at [16, 32]") {
    def ref(n: Long): Int = {
      val ceilLog2 = if (n <= 1) 1
        else BigInt(n - 1).bitLength // = length(bin(n-1)) = ceil(log2 n)
      math.max(16, math.min(32, ceilLog2 + 4))
    }
    for (n <- Seq(1L, 2L, 500L, 4096L, 4097L, 5000L, 1L << 20,
        (1L << 28) - 1, 1L << 28, 1L << 40))
      assert(graft.queries.TrainingData.simhash128BandBits(n) == ref(n),
        s"schedule diverges from length(bin(n-1))+4 at n=$n")
    assert(graft.queries.TrainingData.simhash128BandBits(500) == 16)
    assert(graft.queries.TrainingData.simhash128BandBits(5000) == 17)
    assert(graft.queries.TrainingData.simhash128BandBits(1L << 40) == 32)
  }

  test("simhash128 of an empty array is null; null tokens vote -1 everywhere") {
    import spark.implicits._
    val r = Seq(Seq.empty[String]).toDF("toks")
      .select(expr("simhash128(toks)")).collect().head
    assert(r.isNullAt(0))
    val v = Seq(Seq[String]("a", null, null)).toDF("toks")
      .select(expr("simhash128(toks)")).collect().head.getSeq[Long](0)
    assert(v == Seq(0L, 0L), "2 null votes against 1 real vote → all bits 0")
  }
}
