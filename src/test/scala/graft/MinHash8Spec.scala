package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class MinHash8Spec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** The exploded relational twin minhash8 replaces (and the form the
    * DuckDB oracle still computes): min over salted-md5 8-hex windows. */
  private def relational(df: org.apache.spark.sql.DataFrame) = {
    val sigCols = for (m <- Seq(1, 2); w <- 0 until 4) yield
      min(substring(md5(concat(lit(s"$m|"), col("shingle"))),
        w * 8 + 1, 8)).as(s"sig${(m - 1) * 4 + w + 1}")
    df.select(col("doc_id"), explode(expr("word_shingles(words)")).as("shingle"))
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  test("minhash8 matches the exploded min-over-md5-slices form on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("words", split(col("text"), " "))
    val native = docs
      .select(col("doc_id"), expr("minhash8(word_shingles(words))").as("s"))
      .select(col("doc_id") +: (1 to 8).map(i =>
        element_at(col("s"), i).as(s"sig$i")): _*)
    val rel = relational(docs)
    assert(native.exceptAll(rel).isEmpty && rel.exceptAll(native).isEmpty)
    assert(native.count() == docs.count())
  }

  test("minhash8 of an empty shingle array is null (agg-over-zero-rows parity)") {
    import spark.implicits._
    val r = Seq(Seq.empty[String]).toDF("sh")
      .select(expr("minhash8(sh)")).collect().head
    assert(r.isNullAt(0))
  }

  test("minhash8 skips null elements; all-null collapses to null") {
    import spark.implicits._
    val df = Seq(
      (1, Seq[String]("the quick brown", null)),
      (2, Seq[String]("the quick brown")),
      (3, Seq[String](null, null))
    ).toDF("id", "sh").select(col("id"), expr("minhash8(sh)").as("s"))
    val rows = df.collect().sortBy(_.getInt(0))
    // a null shingle contributes no min (md5(concat('m|', NULL)) is null)
    assert(rows(0).getSeq[String](1) == rows(1).getSeq[String](1))
    assert(rows(2).isNullAt(1))
  }

  test("minhash8 null-for-empty survives whole-stage codegen (file-backed plan)") {
    // local relations are folded by ConvertToLocalRelation and evaluated
    // interpreted — which masked a defineCodeGen bug where ev.isNull was
    // never set from the null result (NPE in the consuming operator). A
    // parquet-backed plan goes through whole-stage codegen for real.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mh8codegen").toString
    Seq(
      (1, Seq[String]("the quick brown", "quick brown fox")),
      (2, Seq.empty[String]),
      (3, Seq[String](null, null))
    ).toDF("id", "sh").write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir)
      .select(col("id"), expr("minhash8(sh)").as("s"),
        expr("coalesce(size(minhash8(sh)), -1)").as("n"))
      .collect().sortBy(_.getInt(0))
    assert(rows(0).getSeq[String](1).size == 8 && rows(0).getInt(2) == 8)
    assert(rows(1).isNullAt(1) && rows(1).getInt(2) == -1)
    assert(rows(2).isNullAt(1) && rows(2).getInt(2) == -1)
  }

  test("minhash8 signature values are 8 lowercase hex chars") {
    import spark.implicits._
    val r = Seq(Seq("the quick brown", "quick brown fox")).toDF("sh")
      .select(expr("minhash8(sh)").as("s")).collect().head.getSeq[String](0)
    assert(r.size == 8)
    r.foreach(s => assert(s.matches("[0-9a-f]{8}"), s))
  }
}
