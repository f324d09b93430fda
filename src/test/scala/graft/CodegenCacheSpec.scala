package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds an engine query's classes across
  * a burst of unrelated compiles. Every cache miss compiles one class and
  * adds one sample to `CodegenMetrics`' compile-time histogram, so its
  * count is the number of classes compiled. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def compiled(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def t15(): Unit =
    SparkEntry.defs("t15_dedup_components").production(spark, sf)
      .write.format("noop").mode("overwrite").save()

  test("t15 compiles nothing again after 300 other classes were compiled") {
    // AQE re-plans as stages finish, so a rerun can pick another join and
    // compile a class the first run never needed (3 classes on one of two
    // reruns at sf0.001); the static plan compiles the same classes every
    // run
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      t15()
      // 300 distinct code texts (the literal is inlined), three times
      // Spark's default cache size of 100 entries
      val others = compiled {
        (1 to 300).foreach(i => spark.range(1).selectExpr(s"id + $i").collect())
      }
      assert(others >= 300, s"only $others classes compiled by the filler")
      val again = compiled(t15())
      assert(again == 0, s"t15 compiled $again classes again")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
