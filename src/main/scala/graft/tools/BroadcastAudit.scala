package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Dev audit (r18): list every op whose physical plan against a SCALED
  * fixture contains a BroadcastExchange fed by a GROWING table scan.
  *
  * Why: Catalyst sizes a broadcast from scan statistics, and an explode
  * (or a generous agg estimate) between the scan and the join makes the
  * estimate blind to the real build size — t47's first-occurrence digest
  * table grew 30× yet still planned as BroadcastHashJoin (a ~GB driver
  * ship at warehouse scale, the q03 forced-broadcast mistake made
  * silently by stats). The oracle gate cannot see this (values are
  * right), the bench cannot see it (local "broadcast" is a pointer
  * hop), and even the scale sweep only sees it once the build cost
  * dominates — a plan walk sees it immediately.
  *
  * A flagged op is a SUSPECT, not a verdict: broadcasts of 1-row query
  * frames (t05/t06/t13/t31's vec_id = 0 probes), driver-bounded
  * centroid/winner tables, and benchmark-sized eval sides all scan a
  * growing table yet are provably bounded by a filter or constant key
  * space. The audit prints the build subtree's leaf scans + row-bound
  * markers (Filter/Limit presence) so each flag can be adjudicated in
  * review; the adjudications live in the README.
  *
  * Usage: runMain graft.tools.BroadcastAudit <scaledDir> [op,...|ALL [exec]]
  *
  * `exec` mode is the decisive pass: it RUNS each flagged op against
  * the scaled fixture and reads every BroadcastExchange's runtime
  * `numOutputRows` metric — the true build cardinality, immune to the
  * stats blindness being audited. A bounded broadcast shows a constant
  * (1-row thresholds, ≤#langs tables, ≤4096 hash buckets); a blinded
  * one shows a corpus-proportional count (t47's digest table read
  * 1.58M rows at 30× before its window rewrite).
  */
object BroadcastAudit {
  private val growing = Set("documents", "embeddings", "events",
    "lineitem", "orders", "customer")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sweep_r18c")
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    // audits the SHIPPED profile (static broadcasts off since r18 —
    // this tool found why); the exec mode then shows which broadcasts
    // AQE re-derives from measured sizes
    val spark = graft.core.GraftSession.local("graft-broadcastaudit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // AQE replaces executed subtrees with QueryStageExec references
    // (leaf nodes wrapping the materialized plan), so a plain
    // collectLeaves never reaches the file scan once a stage sits
    // between the broadcast and its source — descend through stages
    // and reused exchanges explicitly (the t19/t63 lesson: their
    // hinted eval-side broadcasts vanished from the exec report until
    // this walk saw through the stage wrapper). r19 adds the cached-
    // relation hop: boundedEvalBroadcast persists the eval frame, so
    // its broadcast is fed by an InMemoryTableScan whose FILE lineage
    // lives in the relation's cachedPlan — without descending there a
    // guarded (or any future cached) broadcast would silently leave
    // the report again
    def leaves(p: SparkPlan): Seq[String] = p.collect {
      case f: FileSourceScanExec =>
        val path = f.relation.location.rootPaths.headOption
          .map(_.toString).getOrElse("?")
        growing.find(t => path.contains(s"$t.parquet")).toSeq
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        leaves(r.child)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // the cached plan is itself AQE-wrapped (AdaptiveSparkPlanExec
        // is a LEAF — collect never descends into it on its own)
        leaves(c.relation.cachedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        })
    }.flatten

    val exec = args.length > 2 && args(2) == "exec"
    val names = graft.SparkEntry.queries.keys
      .filter(k => k.startsWith("t") || k.startsWith("q"))
      .filter(k => only.forall(o => o.contains(k) || o.contains("ALL")))
      .toSeq.sorted
    var flagged = 0
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        if (exec) {
          // execute THIS QueryExecution (noop-writing the DataFrame
          // spawns a fresh one whose metrics we'd never see)
          df.queryExecution.toRdd.foreach(_ => ())
          // AQE materializes stages as LEAF nodes — descend into
          // QueryStageExec.plan, reused exchanges, and subqueries to
          // reach every broadcast's populated SQLMetrics
          def allBroadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] = {
            val resolved = p match {
              case a: AdaptiveSparkPlanExec => a.executedPlan
              case other => other
            }
            val nested = resolved.collect {
              case b: BroadcastExchangeExec => Seq(b)
              case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                allBroadcasts(s.plan)
              case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
                allBroadcasts(r.child)
            }.flatten
            (nested ++ resolved.subqueries.flatMap(allBroadcasts)).distinct
          }
          val hits = allBroadcasts(df.queryExecution.executedPlan)
            .filter(b => leaves(b.child).nonEmpty)
            .map { b =>
              val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
              f"${leaves(b.child).distinct.mkString("+")}=$rows%,d rows"
            }
          if (hits.nonEmpty) {
            flagged += 1
            println(f"$name%-34s ${hits.mkString("; ")}")
          }
        } else {
          val plan = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.initialPlan
            case p => p
          }
          val hits = plan.collect {
            case b: BroadcastExchangeExec if leaves(b.child).nonEmpty =>
              val tables = leaves(b.child).distinct.mkString("+")
              val bounded = b.child.collect {
                case f: org.apache.spark.sql.execution.FilterExec => f
                case l: org.apache.spark.sql.execution.LocalLimitExec => l
              }.nonEmpty
              s"$tables${if (bounded) " [filter/limit in subtree]" else " [UNBOUNDED]"}"
          }
          if (hits.nonEmpty) {
            flagged += 1
            println(f"$name%-34s broadcasts: ${hits.mkString("; ")}")
          }
        }
      } catch {
        case e: Throwable => println(f"$name%-34s PLAN ERROR: ${e.getMessage}")
      }
    }
    println(s"== ${names.size} ops scanned, $flagged with growing-table broadcasts")
    spark.stop()
  }
}
