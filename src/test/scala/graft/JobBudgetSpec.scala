package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-query job ceilings for the six loop-driven queries at sf0.001:
  * each query is built and materialized (a `noop` write) inside its own
  * job group, and every job the group ran counts. A ceiling is the
  * highest count seen in 5 runs, so a loop that grows a probe action or
  * an extra materialization per round fails here. The counts are the
  * shipped profile's on 4 threads: its static broadcast threshold is off,
  * so a join with a small unhinted side runs both sides' shuffle stages
  * as jobs before AQE measures the small one and broadcasts it. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private val ceilings = Seq(
    "t15_dedup_components" -> 16,
    "t42_neardup_funnel" -> 26,
    "t81_cluster_safe_split" -> 15,
    "t87_bpe_trainer" -> 5,
    "t89_cluster_canonical" -> 19,
    "t92_dup_pagerank" -> 23)

  for ((q, ceiling) <- ceilings) test(s"$q stays within its job ceiling") {
    val jobs = SparkSuite.jobsOf {
      SparkEntry.defs(q).production(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    info(s"$q: $jobs jobs (ceiling $ceiling)")
    assert(jobs <= ceiling, s"$q ran $jobs jobs, ceiling $ceiling")
  }
}
