package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class Simhash16Spec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** The exploded relational twin (the DuckDB oracle's spelling). */
  private def relational(df: org.apache.spark.sql.DataFrame) = {
    val toks = df
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .withColumn("hv", expr("CAST(conv(substr(h, 1, 4), 16, 10) AS INT)"))
    val bitSums = (0 until 16).map { i =>
      val shift = 12 - 4 * (i / 4) + i % 4
      sum(expr(s"CASE WHEN ((hv div ${1 << shift}) % 2) = 1 THEN 1 ELSE -1 END"))
        .as(s"s$i")
    }
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 16).map(i =>
      expr(s"CASE WHEN s$i > 0 THEN ${1 << i} ELSE 0 END")).reduce(_ + _)
    sums.select(col("doc_id"), value.cast("int").as("simhash16"))
  }

  test("simhash16 matches the exploded bit-vote form on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = docs.select(col("doc_id"),
      expr("simhash16(split(lower(text), ' '))").as("simhash16"))
    val rel = relational(docs)
    assert(native.exceptAll(rel).isEmpty && rel.exceptAll(native).isEmpty)
    assert(native.count() == docs.count())
  }

  test("simhash16 of an empty token array is null") {
    import spark.implicits._
    val r = Seq(Seq.empty[String]).toDF("toks")
      .select(expr("simhash16(toks)")).collect().head
    assert(r.isNullAt(0))
  }

  test("simhash16 votes -1 on every bit for null tokens (CASE-ELSE parity)") {
    import spark.implicits._
    // the relational form's CASE WHEN bit=1 THEN 1 ELSE -1 sends a null
    // hv to the ELSE branch; enough null tokens must drag bits to 0
    val r = Seq(
      (1, Seq[String]("a")),
      (2, Seq[String]("a", null, null))
    ).toDF("id", "toks").select(col("id"), expr("simhash16(toks)").as("v"))
      .collect().sortBy(_.getInt(0))
    assert(r(1).getInt(1) == 0, "2 null votes against 1 real vote → all bits 0")
    assert(r(0).getInt(1) != 0)
  }

  test("simhash16 is within [0, 65536) and deterministic") {
    import spark.implicits._
    val vals = Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("z"))
      .toDF("toks").select(expr("simhash16(toks)").as("v"))
      .collect().map(_.getInt(0))
    assert(vals(0) == vals(1))
    vals.foreach(v => assert(v >= 0 && v < 65536))
  }
}
