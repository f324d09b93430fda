package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Fixpoint

/** Pins the loop every iterative operator runs on: metrics come from the
  * round's own checkpoint job, superseded rounds are released, and the
  * capped round stays lazy when nothing observes it. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def init: DataFrame = spark.range(10).toDF("x")
  private def inc(df: DataFrame): DataFrame = df.select((col("x") + 1).as("x"))
  // ids, not a size: the context holds persisted RDDs weakly, so
  // unrelated ones can leave the map at any GC
  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def checkpointsOf(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("a round adds no job beyond its checkpoint, and observes its metrics") {
    val seen = Seq.newBuilder[Row]
    var res: Fixpoint.Result = null
    val observed = SparkSuite.jobsOf {
      res = Fixpoint.run(init, 3, metrics = Seq(sum("x"), count(lit(1))),
        converged = (prev, next) => {
          if (prev.index == 0) seen += prev.metrics
          seen += next.metrics
          false
        })(cur => Some(inc(cur.df)))
    }
    val plain = SparkSuite.jobsOf {
      (1 to 3).foldLeft(init.localCheckpoint())((df, _) =>
        inc(df).localCheckpoint())
    }
    assert(observed == plain, s"observed loop $observed jobs, plain $plain")
    assert(seen.result() == Seq(Row(45L, 10L), Row(55L, 10L),
      Row(65L, 10L), Row(75L, 10L)))
    assert(!res.converged)
    Fixpoint.release(res.state)
  }

  test("superseded rounds are released; the caller owns the final one") {
    val before = persisted
    val res = Fixpoint.run(init, 5, metrics = Seq(max("x")),
      converged = (_, next) => next.metrics.getLong(0) == 12L)(cur =>
      Some(inc(cur.df)))
    assert(res.converged)
    assert(res.state.collect().map(_.getLong(0)).max == 12L)
    assert(persisted -- before == checkpointsOf(res.state))
    Fixpoint.release(res.state)
    assert((persisted -- before).isEmpty)
  }

  test("without metrics the capped round stays lazy; None stops the loop") {
    val before = persisted
    val capped = Fixpoint.run(init, 2)(cur => Some(inc(cur.df)))
    assert(!capped.converged)
    assert(!capped.state.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(capped.state.collect().map(_.getLong(0)).max == 11L)
    assert((persisted -- before).size == 1, "only round 1 stays materialized")
    assert(persisted -- before == checkpointsOf(capped.state))
    Fixpoint.release(capped.state)
    assert((persisted -- before).isEmpty)

    val stopped = Fixpoint.run(init, 5)(cur =>
      if (cur.index < 1) Some(inc(cur.df)) else None)
    assert(stopped.converged)
    assert(stopped.state.queryExecution.logical.isInstanceOf[LogicalRDD])
    Fixpoint.release(stopped.state)
  }

  test("over zero rows a sum observes null and a count 0") {
    var first: Row = null
    val res = Fixpoint.run(init.filter(col("x") < 0), 1,
      metrics = Seq(sum("x"), count(lit(1))),
      converged = (prev, _) => { first = prev.metrics; true })(cur =>
      Some(inc(cur.df)))
    assert(first == Row(null, 0L))
    assert(res.converged && res.state.isEmpty)
    Fixpoint.release(res.state)
  }
}
