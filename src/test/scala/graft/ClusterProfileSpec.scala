package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session runs the shipped [[graft.core.GraftSession]]
  * profile sized for one JVM: shuffle and AQE initial partitions equal
  * the worker threads (4). A cluster runs the same profile with
  * initialPartitionNum=1024, so AQE coalesces from 1024 partitions, and
  * that can break an operator relying on an accidental property of the
  * local partitioning (partition-local heaps, checkpoint boundaries,
  * two-pass prefix-sum bucket offsets). This spec re-runs the suite's
  * shuffle-heaviest queries under cluster sizing on a fresh
  * `newSession()` (same JVM, separate SQLConf) and asserts row-for-row
  * parity with the local sizing, and pins the profile's broadcast rule
  * on the shared session. */
class ClusterProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  // the heaviest shuffle/plan shapes: iterative components (t15),
  // BPE corpus loop (t87), PageRank fixed point (t92), sessionization
  // windows (q21), LSH band self-join (t03), and the r15 cell-local
  // pair fold (t26 — its collect_list cells + HOF unfold must survive
  // AQE's coalesced exchanges)
  private val names = Seq("t15_dedup_components", "t87_bpe_trainer",
    "t92_dup_pagerank", "q21_sessionize", "t03_ngram_jaccard",
    "t26_semdedup")

  test("shuffle-heavy queries return identical rows under the production AQE profile") {
    val prod = graft.core.GraftSession.applyTo(spark.newSession())
    // sanity: cluster sizing is active on the new session and NOT on the
    // shared one (separate SQLConf despite the shared context)
    assert(prod.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "1024")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    names.foreach { n =>
      val base = SparkEntry.queries(n)(spark, sf).collect()
        .map(_.toString).sorted.toSeq
      val aqe = SparkEntry.queries(n)(prod, sf).collect()
        .map(_.toString).sorted.toSeq
      assert(base.nonEmpty, s"$n returned no rows under local sizing")
      assert(aqe == base, s"$n diverges under the production AQE profile")
    }
  }

  test("production profile broadcasts only from hints or AQE measurement, never a size guess") {
    // r18 BroadcastAudit: the static planner sizes broadcasts from scan
    // stats, which any explode blinds by the fan-out factor — ~20 ops
    // silently broadcast corpus-PROPORTIONAL frames at the 30× fixture
    // (t45's 600k-row band table, t22's full vocabulary). The shipped
    // profile therefore turns the static threshold OFF and pins AQE's
    // measured-size conversion ON explicitly (it falls back to the
    // static "off" when unset — the silent way to lose the law).
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
      == (10L * 1024 * 1024).toString)
    // t02's band self-join build side is corpus-derived (600k rows at
    // 30×): the INITIAL plan must keep it shuffled — any broadcast of
    // it may come only from AQE's runtime measurement
    val p02 = SparkEntry.queries("t02_minhash_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p02.contains("BroadcastHashJoin"),
      "a corpus-derived self-join side must not be statically broadcast")
    // while an EXPLICIT hint (t13's 1-row query frame — proven bounded)
    // still broadcasts statically, threshold or no threshold
    val p13 = SparkEntry.queries("t13_ann_ivf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p13.contains("BroadcastHashJoin") ||
      p13.contains("BroadcastNestedLoopJoin"),
      "hinted bounded frames must keep their static broadcast")
  }
}
