package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins [[graft.functions.HyperplaneBands]] — the width-parameterized
  * LSH signature behind t102 — to four laws:
  *
  *  1. FAMILY prefix-consistency: configs are views over ONE md5 plane
  *     sequence (band k at width w polls planes (k−1)·w+1..k·w) —
  *     `(2,16)` equals the first two bands of `(4,16)`, and band 1 at
  *     width 16 is the low 16 bits of band 1 at width 24 (band 1 polls
  *     the sequence head at any width).
  *  2. COMPOSED parity at the t102 width: band k bit i of the (8, 24)
  *     config equals the `float_dot(embedding, plane((k−1)·24+i+1)) > 0`
  *     sign, with the plane derived through the HEX-STRING parse the
  *     DuckDB oracle uses (independent of the kernel's byte arithmetic).
  *  3. CHANCE-COLLISION law (the r18 ADVICE's lattice caveat, promoted
  *     to a pin): on deterministic pseudo-random vectors, same-band
  *     collision-pair counts must track the bands·C(n,2)/2^bits
  *     independence model within the finite-dimension Jensen factor —
  *     measured 1.9× at (4,16) and 4.7× at (8,24) for 64-dim uniforms
  *     (PlaneFamilyLab, r19; README "Lab record"), so the pin allows [0.5×, 8×]. The LCG
  *     family this one replaced read 74× and 4449× on the same vectors
  *     (effective band entropy capped at ~12 bits regardless of width);
  *     a regression to any correlated family fails this by an order of
  *     magnitude.
  *  4. Adversarial inputs: zero vectors (all bits clear), NaN elements
  *     (every dot NaN → every bit set, matching SQL's NaN-high `> 0`),
  *     short/long vectors, and integer element types.
  */
class HyperplaneBandsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** The md5 plane family via the ORACLE's derivation: first 8 md5 hex
    * digits parsed as an integer (not the kernel's byte arithmetic). */
  private def planeCol(j: Int): Column = typedlit((1 to 64).map { d =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp|$j|$d".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % 32768L).toDouble / 32768.0 - 0.5
  })

  test("configs are prefix-consistent views of one plane family") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val bad = emb.select(
        expr("hyperplane_bands(embedding, 2, 16)").as("two"),
        expr("slice(hyperplane_bands(embedding, 4, 16), 1, 2)").as("four2"),
        expr("hyperplane_bands(embedding, 1, 16)[0]").as("b1w16"),
        // band 1 polls planes 1..bits at ANY width, so width-16 band 1
        // is the low 16 bits of width-24 band 1 — one family, not a
        // per-config reshuffle
        expr("hyperplane_bands(embedding, 1, 24)[0] % 65536").as("b1w24lo"))
      .filter(col("two") =!= col("four2") || col("b1w16") =!= col("b1w24lo"))
      .count()
    assert(bad == 0, s"$bad vectors break plane-family prefix consistency")
  }

  test("(8,24) config equals the composed float_dot sign form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def signCol(j: Int): Column =
      when(call_function("float_dot", col("embedding"), planeCol(j)) > 0, 1)
        .otherwise(0)
    def bucketOf(k: Int): Column = (0 until 24)
      .map(i => signCol((k - 1) * 24 + i + 1) * lit(1 << i))
      .reduce(_ + _)
    val both = emb.select(
      expr("hyperplane_bands(embedding, 8, 24)").as("nat"),
      array((1 to 8).map(k => bucketOf(k).cast("int")): _*).as("composed"))
    val bad = both.filter(col("nat") =!= col("composed")).count()
    assert(bad == 0, s"$bad vectors disagree between native and composed")
    val distinct = both.select(explode(col("nat"))).distinct().count()
    assert(distinct > 50, s"only $distinct distinct bucket values")
  }

  test("chance collisions track the bands*C(n,2)/2^bits model") {
    val n = 20000L
    // deterministic 64-dim uniform vectors from murmur3 — random enough
    // for a sign test, identical across runs
    val vecs = spark.range(n).select(col("id"), expr(
      "transform(sequence(1, 64), d -> pmod(hash(id, d), 100001) / 100000.0 - 0.5)")
      .as("embedding"))
    def sameBandPairs(bands: Int, bits: Int): (Double, Double) = {
      val pairs = vecs
        .select(posexplode(expr(s"hyperplane_bands(embedding, $bands, $bits)")))
        .groupBy("pos", "col").count()
        .agg(sum(expr("count * (count - 1) / 2")).cast("double"))
        .head.getDouble(0)
      val model = bands.toDouble * n * (n - 1) / 2.0 / math.pow(2.0, bits)
      (pairs, model)
    }
    for ((bands, bits) <- Seq((4, 16), (8, 24))) {
      val (pairs, model) = sameBandPairs(bands, bits)
      val ratio = pairs / model
      assert(ratio >= 0.5 && ratio <= 8.0,
        s"($bands,$bits): $pairs same-band pairs vs model $model — ratio " +
          f"$ratio%.1fx outside [0.5, 8]. A correlated plane family (the " +
          "replaced LCG read 74x/4449x here) caps effective band entropy " +
          "and silently voids the ~2*log2(N) width schedule t102 documents.")
    }
  }

  test("adversarial inputs: zero, NaN, short, empty, integer elements") {
    import spark.implicits._
    val zero = Seq(Seq.fill(64)(0.0f)).toDF("embedding")
      .select(expr("hyperplane_bands(embedding, 8, 24)")).head.getSeq[Int](0)
    assert(zero == Seq.fill(8)(0), "all-zero vector must clear every bit")
    val nan = Seq(Seq.fill(64)(Float.NaN)).toDF("embedding")
      .select(expr("hyperplane_bands(embedding, 8, 24)")).head.getSeq[Int](0)
    assert(nan == Seq.fill(8)((1 << 24) - 1),
      "NaN dots must SET every bit (SQL NaN-high > 0 semantics)")
    // short + empty vectors evaluate (dims beyond length contribute 0)
    val short = Seq(Seq(1.5f, -2.5f), Seq.empty[Float]).toDF("embedding")
      .select(expr("hyperplane_bands(embedding, 2, 8)")).collect()
    assert(short.forall(_.getSeq[Int](0).length == 2))
    assert(short(1).getSeq[Int](0) == Seq(0, 0), "empty vector: zero dots")
    // integer element arrays widen per element (the FloatDot accessor law)
    val ints = Seq(Seq(3, -7, 2)).toDF("embedding")
      .select(expr("hyperplane_bands(embedding, 4, 16)").as("a"),
        expr("hyperplane_bands(transform(embedding, x -> cast(x as double)), 4, 16)")
          .as("b"))
      .head
    assert(ints.getSeq[Int](0) == ints.getSeq[Int](1))
  }

  // The driver fixture plants NO true embedding near-dups (max pairwise
  // cosine 0.60 at sf0.1), so with a decorrelated family t102's gate
  // answer is legitimately near-empty — its rows under the old LCG
  // family were chance band collisions that happened to clear the
  // cosine floor. This test supplies the planted-pair evidence the
  // fixture can't: vectors with known high-cosine twins must come back
  // from the FULL t102 query (banding, candidate join, exact re-rank),
  // and nothing else may.
  test("t102 retrieves planted near-dups and only near-dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def perturb(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat) // cosine ~0.999
    val bases = (0 until 10).map(_ => vec())
    // ids 0..9 originals, 100+i the planted twin of i; 200..219 loners
    val rows = bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      bases.zipWithIndex.map { case (v, i) => (100L + i, perturb(v).toSeq) } ++
      (0 until 20).map(i => (200L + i, vec().toSeq))
    val dir = java.nio.file.Files.createTempDirectory("t102planted").toString
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("t102_cosine_neardup_wide")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    // retrieval per planted pair is deterministic (fixed vectors, fixed
    // planes): at cosine ~0.999 each band matches w.p. ~0.92^... >> most
    // of the 10 pairs must band-collide; none of the 435 loner pairs may
    val found = got.intersect(planted)
    assert(found.size >= 8, s"only ${found.size}/10 planted near-dup " +
      "pairs retrieved through the banded join")
    assert(got.subsetOf(planted), s"non-planted pairs retrieved: " +
      s"${got.diff(planted)} — chance collisions should be ~0 at 24-bit bands")
  }

  test("t102's derived width schedule floors at the pinned 8x24") {
    // r20: the N -> bands x bits schedule moved from a comment into the
    // op (hyperplaneBandBits) and the oracle's wcfg CTE; both spell
    // ceil(log2 N) as length(bin(N-1)) — integer-exact, no float edge
    def ref(n: Long): Int = math.max(24, math.min(30,
      (if (n <= 1) 1 else BigInt(n - 1).bitLength) + 4))
    for (n <- Seq(1L, 2L, 500L, 2000L, 1L << 20, (1L << 20) + 1,
        1L << 23, 1L << 26, 1L << 40))
      assert(graft.queries.TrainingData.hyperplaneBandBits(n) == ref(n),
        s"schedule diverges from length(bin(n-1))+4 at n=$n")
    assert(graft.queries.TrainingData.hyperplaneBandBits(2000) == 24,
      "fixture N must keep the measured 8x24 point")
    assert(graft.queries.TrainingData.hyperplaneBandBits(1L << 23) == 27)
    assert(graft.queries.TrainingData.hyperplaneBandBits(1L << 40) == 30,
      "ceiling is the kernel's 30-bit int-bucket cap")
  }

  test("literal-argument validation rejects bad widths") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    intercept[Exception] {
      emb.select(expr("hyperplane_bands(embedding, 8, 31)")).head
    }
    intercept[Exception] {
      emb.select(expr("hyperplane_bands(embedding, 0, 16)")).head
    }
  }
}
