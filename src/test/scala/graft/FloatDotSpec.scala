package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class FloatDotSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("float_dot matches the composed fold bit-for-bit (float × double)") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5, -1.0, 2.0)),
      (Array(0.1f, 0.2f), Array(0.3, 0.4)),
      (Array.empty[Float], Array.empty[Double])
    ).toDF("a", "b")
    val out = df.select(
      expr("float_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)").as("composed"))
    out.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null array → null; mismatched lengths use the shorter") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(expr("float_dot(a, b)")).collect()(0).isNullAt(0))
    val short = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0f)))
      .toDF("a", "b")
      .select(expr("float_dot(a, b)")).collect()(0).getDouble(0)
    assert(short == 2.0)
  }

  test("non-array input is rejected at analysis") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception](df.select(expr("float_dot(a, b)")).collect())
    assert(e.getMessage.toLowerCase.contains("numeric arrays") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch") ||
      e.getMessage.toLowerCase.contains("cannot resolve"))
  }

  test("stays inside whole-stage codegen") {
    // a file scan forces a real codegen stage (a local Seq constant-folds
    // to LocalTableScan with no codegen at all)
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("float_dot(embedding, embedding)").as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), "expression must not break codegen")
  }
}
