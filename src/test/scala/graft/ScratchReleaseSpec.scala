package graft

import org.apache.spark.sql.functions.max
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Flow

/** Nothing a tap or a loop builds for its own use outlives it: scratch
  * temp views leave the session catalog once their statement is
  * analysed, and the iterative loops' superseded checkpoints (t87's
  * rounds, t15's rounds and pair list) are unpersisted. */
class ScratchReleaseSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def scratchViews: Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.filter(n =>
      Seq("__tap_src_", "__tap_ranked_", "__raw_dispatch_")
        .exists(n.startsWith))

  test("query, ranked and raw-dispatch taps drop their scratch views") {
    val nation = s"$sf/nation.parquet"
    val yaml =
      s"""
         |- name: Asia
         |  kind: tap
         |  connection: {kind: Parquet, locator: $nation}
         |  query: SELECT n_nationkey, n_name FROM Parquet WHERE n_regionkey = 2
         |- name: Latest
         |  kind: tap
         |  connection:
         |    kind: Parquet
         |    locator: $nation
         |    version: n_nationkey
         |    key: [n_regionkey]
         |  query: SELECT n_nationkey, n_regionkey FROM Parquet WHERE n_nationkey > 0
         |- name: Raw
         |  kind: tap
         |  connection: {kind: Parquet, locator: $nation, raw_dispatch: true}
         |  query: >
         |    WITH r AS (SELECT * FROM read_parquet('$sf/region.parquet'))
         |    SELECT r.r_name, count(*) AS n
         |    FROM read_parquet('$nation') n JOIN r ON n.n_regionkey = r.r_regionkey
         |    GROUP BY r.r_name
         |- name: Answer
         |  kind: transform
         |  query: >
         |    SELECT 'asia' AS part, CAST(n_nationkey AS STRING) AS k, n_name AS v FROM Asia
         |    UNION ALL
         |    SELECT 'latest', CAST(n_regionkey AS STRING), CAST(n_nationkey AS STRING) FROM Latest
         |    UNION ALL
         |    SELECT 'raw', r_name, CAST(n AS STRING) FROM Raw
         |""".stripMargin
    val got = Flow.runYaml(spark, yaml).df().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(scratchViews.isEmpty, scratchViews)

    val n = spark.read.parquet(nation)
    val r = spark.read.parquet(s"$sf/region.parquet")
    val asia = n.filter("n_regionkey = 2").collect()
      .map(x => ("asia", x.getAs[Any]("n_nationkey").toString,
        x.getAs[String]("n_name")))
    val latest = n.filter("n_nationkey > 0").groupBy("n_regionkey")
      .agg(max("n_nationkey")).collect()
      .map(x => ("latest", x.get(0).toString, x.get(1).toString))
    val raw = n.join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name").count().collect()
      .map(x => ("raw", x.getString(0), x.getLong(1).toString))
    assert(asia.length == 5 && latest.length == 5 && raw.length == 5)
    assert(got == (asia ++ latest ++ raw).toSet)
  }

  // new ids, not a size: the context holds persisted RDDs weakly
  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("t87: building the trainer leaves no checkpoint persisted") {
    val before = persisted
    val df = SparkEntry.queries("t87_bpe_trainer")(spark, sf)
    val added = persisted -- before
    assert(added.isEmpty, s"new persistent RDDs: ${added.toSeq.sorted}")
    assert(df.collect().map(_.getAs[Int]("round")).toSeq == (1 to 8))
  }

  test("t15: building the components keeps only the final labels round") {
    val before = persisted
    val df = SparkEntry.queries("t15_dedup_components")(spark, sf)
    val added = persisted -- before
    assert(added.size <= 1, s"new persistent RDDs: ${added.toSeq.sorted}")
    // the one kept is what the labels read: the contracted pair list
    // and every earlier round are released
    val read = df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(added.subsetOf(read), s"kept ${added.toSeq.sorted}, read $read")
    assert(df.count() ==
      graft.queries.Tables.t(spark, sf, "documents").count())
  }
}
