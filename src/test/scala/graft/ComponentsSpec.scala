package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.Components

/** Pins the connected-components operator: the star-contraction fallback
  * must produce exactly the labels propagation produces, including on a
  * chain fixture whose diameter exceeds the propagation round cap (the
  * case that previously aborted t15), and `connected`'s partition-local
  * union-find pre-pass must keep every label whatever the partitioning. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def docs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }
  private def pairs(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("doc_a", "doc_b")
  }
  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain longer than the propagation cap: propagate gives up, star contraction converges") {
    // path 0-1-2-...-39: diameter 39
    val n = 40L
    val d = docs(0L until n)
    val p = pairs((0L until n - 1).map(i => (i, i + 1)))

    assert(Components.propagate(d, p, maxRounds = 5).isEmpty,
      "a 5-round cap cannot close a diameter-39 chain")

    val star = labelMap(Components.starContract(d, p))
    assert(star == (0L until n).map(_ -> 0L).toMap)

    // connected() falls back and returns the same labels
    val conn = labelMap(Components.connected(d, p, propagateRounds = 5))
    assert(conn == star)

    // and the uncapped propagation agrees
    val prop = labelMap(Components.propagate(d, p, maxRounds = 100).get)
    assert(prop == star)
  }

  test("multiple components, isolated nodes, dup/self/reversed edges") {
    val d = docs(0L to 10L)
    val p = pairs(Seq(
      (1L, 2L), (2L, 1L), (2L, 3L),          // component {1,2,3} w/ dup edge
      (5L, 5L),                              // self loop: isolated 5
      (7L, 6L), (8L, 7L), (8L, 6L),          // clique {6,7,8} reversed order
      (9L, 10L)))                            // pair {9,10}
    val expect = Map(
      0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L, 10L -> 9L)
    assert(labelMap(Components.starContract(d, p)) == expect)
    assert(labelMap(Components.propagate(d, p, maxRounds = 20).get) == expect)
    assert(labelMap(Components.connected(d, p)) == expect)
  }

  test("random graph: star contraction labels equal propagation labels") {
    val rnd = new scala.util.Random(42)
    val n = 200
    val es = (1 to 150).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
    }.filter { case (a, b) => a != b }
    val d = docs(0L until n.toLong)
    val p = pairs(es)
    val prop = labelMap(Components.propagate(d, p, maxRounds = 200).get)
    val star = labelMap(Components.starContract(d, p))
    assert(star == prop)
  }

  test("debug guard catches an edge endpoint missing from docs") {
    // the union-min propagation round invents a label row for an unknown
    // endpoint (r21 advice); callers hold the precondition by
    // construction, and this guard (always on: it reads the row counts
    // the rounds already observe) is how a future caller that breaks it
    // fails loudly
    val d = docs(Seq(0L, 1L, 2L))
    intercept[IllegalArgumentException] {
      Components.propagate(d, pairs(Seq((1L, 7L))), maxRounds = 5)
    }
    // and a contract-respecting input still passes with the guard on
    val ok = labelMap(Components.propagate(
      d, pairs(Seq((1L, 2L))), maxRounds = 5).get)
    assert(ok == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  // an observed sum over zero rows is null, not 0: the convergence test
  // must still hold on the first round
  private def convergesAtOnce(ids: Seq[Long]): Unit = {
    val (d, p) = (docs(ids), pairs(Seq.empty))
    val identity = ids.map(i => i -> i).toMap
    assert(labelMap(Components.propagate(d, p, maxRounds = 1).get) == identity)
    assert(labelMap(Components.starContract(d, p, maxRounds = 1)) == identity)
    assert(labelMap(Components.connected(d, p, propagateRounds = 1)) == identity)
  }

  test("empty docs, empty pairs: one round, no labels") {
    convergesAtOnce(Seq.empty)
  }

  test("docs without pairs: one round, identity labels") {
    convergesAtOnce(Seq(3L, 1L, 2L))
  }

  private def randomPairs(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
  }

  test("pre-pass: random graphs in 1 and 4 partitions keep starContract's labels") {
    val n = 200
    val d = docs(0L until n.toLong)
    for (seed <- Seq(1, 2, 3); m <- Seq(60, 150, 400)) {
      val p = pairs(randomPairs(seed, n, m))
      val star = labelMap(Components.starContract(d, p))
      for (parts <- Seq(1, 4)) assert(
        labelMap(Components.connected(d, p.repartition(parts))) == star,
        s"seed $seed, $m edges, $parts partitions")
    }
  }

  test("pre-pass: dup, self-loop and reversed edges in 1 and 4 partitions") {
    val d = docs(0L to 12L)
    val p = pairs(Seq(
      (3L, 2L), (2L, 3L), (3L, 2L), (1L, 3L), // {1,2,3}: dups, reversed
      (2L, 2L), (5L, 5L), (5L, 5L),          // self loops; 5 stays alone
      (8L, 7L), (7L, 6L), (6L, 8L), (6L, 6L), // reversed triangle {6,7,8}
      (12L, 11L), (11L, 12L), (12L, 10L)))   // {10,11,12} reversed
    val expect = Map(
      0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    for (parts <- Seq(1, 4))
      assert(labelMap(Components.connected(d, p.repartition(parts))) == expect)
    // int ids come back as int labels
    val pi = p.select(p("doc_a").cast("int").as("doc_a"),
      p("doc_b").cast("int").as("doc_b"))
    val di = d.select(d("doc_id").cast("int").as("doc_id"))
    val li = Components.connected(di, pi.repartition(4))
    assert(li.schema("label").dataType == org.apache.spark.sql.types.IntegerType)
    assert(li.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong)
      .toMap == expect)
  }

  test("pre-pass: a null endpoint fails the precondition, not with an NPE") {
    import spark.implicits._
    val d = docs(Seq(0L, 1L, 2L))
    for (parts <- Seq(1, 4); (a, b) <- Seq((Some(1L), None), (None, Some(2L)))) {
      val p = Seq((Some(0L), Some(1L)), (a, b)).toDF("doc_a", "doc_b")
        .repartition(parts)
      val e = intercept[IllegalArgumentException] {
        Components.connected(d, p)
      }
      assert(e.getMessage.contains("Components precondition violated"),
        e.getMessage)
    }
  }

  test("pre-pass: one-partition near-cliques converge in at most 2 propagation rounds") {
    // six 5-cliques chained by one edge each: diameter 11, so plain
    // propagation needs more than 2 rounds; after the pre-pass the one
    // partition's component is a star, labelled in round 1 and
    // confirmed in round 2 — the job count of a star input over the
    // same nodes, which converges in exactly those 2 rounds
    val cliques = (0 until 6).map(c => (0 until 5).map(i => (c * 5 + i).toLong))
    val es = cliques.flatMap(q => for (x <- q; y <- q if x < y) yield (x, y)) ++
      cliques.sliding(2).map(w => (w(0).last, w(1).head))
    val d = docs(0L until 30L)
    val chain = pairs(es).repartition(1)
    val star = pairs((1L until 30L).map(i => (i, 0L))).repartition(1)
    assert(Components.propagate(d, chain, maxRounds = 2).isEmpty,
      "the raw chain of cliques needs more than 2 rounds")
    val all0 = (0L until 30L).map(_ -> 0L).toMap
    var labels: DataFrame = null
    val chainJobs = SparkSuite.jobsOf {
      labels = Components.connected(d, chain, propagateRounds = 2)
    }
    val starJobs = SparkSuite.jobsOf {
      Components.connected(d, star, propagateRounds = 2)
    }
    assert(labelMap(labels) == all0)
    assert(chainJobs <= starJobs, s"chain $chainJobs jobs, star $starJobs")
  }
}
