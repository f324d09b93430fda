package graft

import org.scalatest.funsuite.AnyFunSuite

/** The five streaming gates (p20, p22–p25) at sf0.001 on the shared
  * session: each gate's row count and content digest, and the caller's
  * `spark.sql.shuffle.partitions` after the gate ran its stream at the
  * replay's state-partition count. */
class StreamingGatesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  // the benchmark's read-only copy of the sf0.001 fixture, whose p25
  // digest `perfbench/goldens.json` records
  private val sf = "perfbench/data/sf0.001"
  private val key = "spark.sql.shuffle.partitions"
  // not the shared session's 4, which is also the replay's state
  // partition count: a scope that never restored would still read 4
  private val callerValue = "6"

  /** Runs `body` with the caller's shuffle partitions at [[callerValue]],
    * then puts the shared session's value back. */
  private def asCaller[T](body: => T): T = {
    val shared = spark.conf.get(key)
    spark.conf.set(key, callerValue)
    try body finally spark.conf.set(key, shared)
  }

  // Recorded before the gates shared one replay harness. `Verify` on
  // these five at sf0.001 passed `tools/check_oracle.py`, and its outputs
  // digest to the same values; p25's is its sf0.001 entry in
  // `perfbench/goldens.json`.
  private val pinned = Seq(
    "p20_pipeline_streaming_sessionize" ->
      "946:2048863248550:2023884079728:acb7e49f",
    "p22_pipeline_streaming_dedup_decon" ->
      "488:1017051075027:1063137796156:c68b8f05",
    "p23_pipeline_streaming_incremental_index" ->
      "234:519488175558:491603451630:ca4acfe7",
    "p24_pipeline_streaming_rate_anomaly" ->
      "97:209529877885:231497703443:d1bf8355",
    "p25_pipeline_streaming_decon_bloom" ->
      "488:1019514439352:1036413635085:51fab3f2")

  pinned.foreach { case (name, want) =>
    test(s"$name: rows and digest at sf0.001; the caller's shuffle partitions survive") {
      asCaller {
        val got = SparkSuite.digest(SparkEntry.queries(name)(spark, sf))
        assert(spark.conf.get(key) == callerValue)
        assert(got == want)
      }
    }
  }

  test("the state-partition scope restores the caller's value when its body throws") {
    asCaller {
      val e = intercept[IllegalStateException] {
        graft.queries.Pipelines.withStatePartitions(spark) {
          assert(spark.conf.get(key) == "4")
          throw new IllegalStateException("stream failed")
        }
      }
      assert(e.getMessage == "stream failed")
      assert(spark.conf.get(key) == callerValue)
    }
  }

  test("p20 and p24 on an events fixture with no rows fail with the replay's too-small message") {
    // a time-range split needs a min and a max ts; the gates must not
    // pass (or answer) on input they cannot replay
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_events")
    try {
      graft.queries.Tables.events(spark, sf).limit(0)
        .write.parquet(s"$dir/events.parquet")
      Seq("p20_pipeline_streaming_sessionize", "p24_pipeline_streaming_rate_anomaly")
        .foreach { name =>
          val e = intercept[IllegalArgumentException](
            SparkEntry.queries(name)(spark, dir.toString))
          assert(e.getMessage.contains("the events fixture has no row with a ts — the " +
            "fixture is too small to split into this many replay batches"), s"$name: $e")
        }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
