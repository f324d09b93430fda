package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The one checkpointed loop, behind [[Components]]' two bodies. A
  * caller supplies its round body and stopping test; the loop owns the
  * round state, the cap, the per-round `localCheckpoint` (lineage never
  * grows) and the release of every superseded round.
  *
  * Convergence is read from the round's own job: the caller's aggregate
  * `metrics` are attached with `Dataset.observe` (a fresh [[Observation]]
  * per round) and filled by the checkpoint job itself, so a round runs no
  * action beyond its checkpoint (pinned in FixpointSpec). Over zero rows
  * a `sum` observes null, a `count` 0. With no metrics, the round that
  * hits the cap is returned lazy: nothing reads it eagerly.
  */
object Fixpoint {

  /** A materialized round (`index` 0 is the initial state) and its
    * observed metrics, in the order the columns were given. */
  final case class Round(df: DataFrame, index: Int, metrics: Row)

  /** The final state and whether the loop stopped before the cap. The
    * caller owns the state's blocks ([[release]]). */
  final case class Result(state: DataFrame, converged: Boolean)

  /** Runs `step` from `init` until it returns `None`, `converged`
    * (previous round, new round) holds, or `maxRounds` rounds have run. */
  def run(init: DataFrame, maxRounds: Int, metrics: Seq[Column] = Nil,
      converged: (Round, Round) => Boolean = (_, _) => false)(
      step: Round => Option[DataFrame]): Result = {
    def materialize(df: DataFrame, index: Int): Round =
      if (metrics.isEmpty) Round(df.localCheckpoint(), index, Row.empty)
      else {
        val ob = Observation()
        val cp = df.observe(ob, metrics.head, metrics.tail: _*)
          .localCheckpoint()
        Round(cp, index, Await.result(ob.future, Duration.Inf))
      }
    @annotation.tailrec
    def loop(cur: Round): Result =
      if (cur.index == maxRounds) Result(cur.df, converged = false)
      else step(cur) match {
        case None => Result(cur.df, converged = true)
        case Some(df) if metrics.isEmpty && cur.index + 1 == maxRounds =>
          Result(df, converged = false) // nothing reads the last round eagerly
        case Some(df) =>
          val next = materialize(df, cur.index + 1)
          val stop = converged(cur, next)
          release(cur.df)
          if (stop) Result(next.df, converged = true) else loop(next)
      }
    loop(materialize(init, 0))
  }

  /** Free the blocks behind every `localCheckpoint()` a frame reads.
    * `Dataset.unpersist` only drops cache-manager entries; a local
    * checkpoint instead persists the RDD under the plan's `LogicalRDD`
    * leaf, so that RDD is what must be unpersisted. Checkpoints already
    * built on top of the frame keep their own blocks and still read;
    * the frame itself can no longer be computed. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist()
      case _ =>
    }
}
