package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-query job ceilings for the six loop-driven queries at sf0.001:
  * each query is built and materialized (a `noop` write) inside its own
  * job group, and every job the group ran counts. A ceiling is the
  * highest count seen in 5 runs, so a loop that grows a probe action or
  * an extra materialization per round fails here. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private val ceilings = Seq(
    "t15_dedup_components" -> 15,
    "t42_neardup_funnel" -> 22,
    "t81_cluster_safe_split" -> 14,
    "t87_bpe_trainer" -> 5,
    "t89_cluster_canonical" -> 16,
    "t92_dup_pagerank" -> 22)

  for ((q, ceiling) <- ceilings) test(s"$q stays within its job ceiling") {
    val jobs = SparkSuite.jobsOf {
      SparkEntry.defs(q).production(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    info(s"$q: $jobs jobs (ceiling $ceiling)")
    assert(jobs <= ceiling, s"$q ran $jobs jobs, ceiling $ceiling")
  }
}
