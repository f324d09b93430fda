package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Spark's generated-class cache holds an engine query's classes across
  * a burst of unrelated compiles, and across the cloned sessions of
  * repeated `foreachBatch` streams. Every cache miss compiles one class
  * and adds one sample to `CodegenMetrics`' compile-time histogram, so its
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

  test("a foreachBatch stream started again on the same session compiles nothing") {
    // p25's shape: each start runs its batches on a new clone of the
    // session, so with per-session artifact isolation every start got a
    // new executor class loader and compiled its classes again
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 40L).map(i => (i, s"doc $i shares words ${i % 3} with eval"))
    val evalDocs = spark.createDataFrame(Seq(Tuple1("doc 7 shares words 1 with eval")))
      .toDF("text")
    val outs = Seq.newBuilder[String]
    def start(): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_codegen_stream").toString
      val input = MemoryStream[(Long, String)]
      val q = Streams.streamingDecontaminateBloom(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", evalDocs, "text", s"$tmp/out", s"$tmp/ckpt", 1000L)
      try { input.addData(docs); q.processAllAvailable() } finally q.stop()
      outs += s"$tmp/out"
    }
    start()
    val again = compiled(start())
    assert(again == 0, s"the second start compiled $again classes again")
    // both starts ran their batch and wrote its survivors
    outs.result().foreach(o => assert(spark.read.parquet(o).count() > 0, o))
  }
}
