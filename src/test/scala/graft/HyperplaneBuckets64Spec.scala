package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins [[graft.functions.HyperplaneBuckets64]] bit-equal to the
  * composed 64× float_dot sign form it replaced in t12 (the form the
  * DuckDB oracle still spells out) — the native expression must be a
  * pure codegen fix, never a semantics change. */
class HyperplaneBuckets64Spec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def planeCol(j: Int): Column = typedlit((1 to 64).map { d =>
    val m = (j.toLong * 1103515245L + d.toLong * 12345L) % 32768L
    m.toDouble / 32768.0 - 0.5
  })

  test("native buckets equal the composed 64-dot sign form on the fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    def signCol(j: Int): Column =
      when(call_function("float_dot", col("embedding"), planeCol(j)) > 0, 1)
        .otherwise(0)
    def bucketOf(k: Int): Column = (0 until 16)
      .map(i => signCol((k - 1) * 16 + i + 1) * lit(1 << i))
      .reduce(_ + _)
    val both = emb.select(
      col("vec_id"),
      expr("hyperplane_buckets64(embedding)").as("nat"),
      array((1 to 4).map(k => bucketOf(k).cast("int")): _*).as("composed"))
    val bad = both.filter(col("nat") =!= col("composed")).count()
    assert(bad == 0, s"$bad vectors disagree between native and composed buckets")
    // and the buckets genuinely spread (not degenerate constants)
    val distinct = both.select(explode(col("nat"))).distinct().count()
    assert(distinct > 100, s"only $distinct distinct bucket values")
  }

  test("native equals composed on adversarial inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260815)
    val rows: Seq[(Long, Seq[Float])] =
      (1L to 60L).map { i =>
        val n = Seq(0, 1, 3, 63, 64, 64, 64, 70)(rng.nextInt(8))
        i -> Seq.fill(n)((rng.nextGaussian() *
          math.pow(10, rng.nextInt(13) - 6)).toFloat)
      } ++ Seq(
        100L -> Seq.fill(64)(0.0f),                       // all-zero: every dot == 0, sign false
        // NaN poisons every dot, and Spark/DuckDB order NaN ABOVE every
        // value — NaN > 0 is TRUE, so every sign bit is SET (the
        // isNaN branch in the native kernel matches this)
        101L -> Seq.fill(64)(Float.NaN),
        102L -> Seq.fill(64)(Float.MaxValue),             // overflow-adjacent magnitudes
        103L -> (Seq.fill(32)(1e30f) ++ Seq.fill(32)(-1e30f)))
    val df = rows.toDF("vec_id", "embedding")
    def signCol(j: Int): Column =
      when(call_function("float_dot", col("embedding"), planeCol(j)) > 0, 1)
        .otherwise(0)
    def bucketOf(k: Int): Column = (0 until 16)
      .map(i => signCol((k - 1) * 16 + i + 1) * lit(1 << i))
      .reduce(_ + _)
    val both = df.select(col("vec_id"),
      expr("hyperplane_buckets64(embedding)").as("nat"),
      array((1 to 4).map(k => bucketOf(k).cast("int")): _*).as("composed"))
    val bad = both.filter(col("nat") =!= col("composed")).collect()
    assert(bad.isEmpty, s"disagreements: ${bad.take(3).mkString(", ")}")
  }

  test("non-float numeric element types match the composed form") {
    // r16 ADVICE (medium): the registered SQL function admits any
    // numeric array, so array<int>/bigint/double/decimal must take the
    // same per-type-accessor path as float_dot — not misread 4-byte
    // slots via getDouble or ClassCastException on decimals.
    import spark.implicits._
    val base = (1L to 40L).map { i =>
      val rng = new scala.util.Random(i * 7919)
      i -> Seq.fill(64)(rng.nextInt(2001) - 1000)
    }.toDF("vec_id", "iv")
    val typed = base.selectExpr(
      "vec_id",
      "iv",
      "cast(iv as array<bigint>) as lv",
      "cast(iv as array<smallint>) as sv",
      "cast(iv as array<double>) as dv",
      "cast(transform(iv, x -> cast(x as decimal(12,3))) as array<decimal(12,3)>) as cv")
    def signCol(c: Column, j: Int): Column =
      when(call_function("float_dot", c, planeCol(j)) > 0, 1).otherwise(0)
    def composed(c: Column): Column = array((1 to 4).map { k =>
      (0 until 16).map(i => signCol(c, (k - 1) * 16 + i + 1) * lit(1 << i))
        .reduce(_ + _).cast("int")
    }: _*)
    for (cn <- Seq("iv", "lv", "sv", "dv", "cv")) {
      val bad = typed.select(
        expr(s"hyperplane_buckets64($cn)").as("nat"),
        composed(col(cn)).as("comp")
      ).filter(col("nat") =!= col("comp")).count()
      assert(bad == 0, s"array column $cn: $bad rows disagree with composed form")
    }
  }

  test("short, long, and null embeddings") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.fill(64)(0.5f))),
      (2L, Some(Seq.fill(3)(1.0f))),   // short: dot folds min(n, 64) dims
      (3L, Some(Seq.fill(70)(-1.0f))), // long: planes cap at 64 dims
      (4L, None)
    ).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
      expr("hyperplane_buckets64(embedding)").as("b")).collect()
    assert(out.length == 4)
    assert(out.find(_.getLong(0) == 4L).get.isNullAt(1), "null in → null out")
    val short = out.find(_.getLong(0) == 2L).get.getSeq[Int](1)
    assert(short.length == 4 && short.forall(b => b >= 0 && b <= 0xFFFF))
  }
}
