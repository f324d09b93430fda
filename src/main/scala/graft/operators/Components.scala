package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Distributed connected components over candidate-pair edges — the
  * clustering step that turns pairwise near-dup candidates (t02/t12/t18)
  * into per-document dedup decisions.
  *
  * Two interchangeable fixpoint bodies over the same join-agg-checkpoint
  * dataflow:
  *
  *  - [[propagate]]: min-label propagation. One shuffle-on-key join + agg
  *    per round, converges in O(component diameter) rounds. LSH components
  *    are near-cliques (every member shares a band bucket), so a handful
  *    of rounds suffice on real near-dup graphs — this is the cheap path.
  *  - [[starContract]]: alternating large-star / small-star contraction
  *    (the MapReduce connected-components algorithm of Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond"). Converges in
  *    O(log n) rounds REGARDLESS of diameter, at the price of a heavier
  *    round (two grouped passes + a set-equality convergence probe). This
  *    is the escape hatch for pathological long-chain components that
  *    would starve propagation.
  *
  * [[connected]] composes them: propagate up to a round cap, and only if
  * the cap is hit (diameter > cap) switch to star contraction — so the
  * common case pays the cheap loop and the pathological case still
  * terminates with correct labels instead of aborting. Before either
  * loop it shrinks the pair list with a partition-local union-find
  * ([[localStars]]): every component a partition holds becomes a star
  * on its minimum id, so a component that lives in one partition is
  * labelled by propagation's first round and confirmed by its second.
  * The components are unchanged, so the labels are identical by
  * construction. Across partitions a star can lengthen an entry→exit
  * hop from 1 to 2 (two neighbours now meet through their local root);
  * the star fallback still bounds that worst case.
  *
  * Inputs: `docs` with a `doc_id` column (the node set — isolated nodes
  * label themselves), `pairs` with (`doc_a`, `doc_b`) undirected candidate
  * edges. Output: (`doc_id`, `label`) where label = min doc_id of the
  * component. Both bodies run on [[Fixpoint]]: one checkpoint job per
  * round (lineage never grows with iterations), convergence observed on
  * that job, superseded rounds released.
  */
object Components {

  /** Symmetric closure (u, v) of the undirected pair list. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))

  /** Partition-local union-find over the pair list (root = min id): a
    * partition's edges become one (node, local root) star edge per node
    * it touches, the root's own (root, root) included, so the endpoint
    * set — which the precondition guard checks — is unchanged. An edge
    * with a null endpoint passes through untouched, so the guard, not a
    * NullPointerException, reports it. Ids are integral: they go through
    * `long` and are cast back to each input column's type. A partition's
    * node set is held in one hash map. */
  private def localStars(pairs: DataFrame): DataFrame = {
    val types = Seq("doc_a", "doc_b").map(pairs.schema(_).dataType)
    pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .mapPartitions { rows =>
        val parent = mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var (n, r) = (x, parent.getOrElseUpdate(x, x))
          while (r != n) { // path splitting: each node on the path skips a level
            val g = parent(r)
            parent(n) = g
            n = r
            r = g
          }
          r
        }
        val passed = Vector.newBuilder[(java.lang.Long, java.lang.Long)]
        rows.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1))
            passed += ((r.get(0).asInstanceOf[java.lang.Long],
              r.get(1).asInstanceOf[java.lang.Long]))
          else {
            val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
            if (a < b) parent(b) = a else if (b < a) parent(a) = b
          }
        }
        passed.result().iterator ++ parent.keys.toVector.map(n =>
          (Long.box(n), Long.box(find(n))))
      }(Encoders.tuple(Encoders.LONG, Encoders.LONG))
      .toDF("doc_a", "doc_b")
      .select(col("doc_a").cast(types(0)), col("doc_b").cast(types(1)))
  }

  /** `f` over the pair list materialized ONCE (every round re-scans it;
    * the star fallback must not re-run the pair pipeline), freed after:
    * the labels `f` returns never read it. */
  private def withPairs[T](pairs: DataFrame)(f: DataFrame => T): T = {
    val mat = pairs.localCheckpoint()
    try f(mat) finally Fixpoint.release(mat)
  }

  /** Min-label propagation; `None` when `maxRounds` is hit before the
    * fixpoint (labels move one hop per round, so that means component
    * diameter > maxRounds). */
  def propagate(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int): Option[DataFrame] =
    withPairs(pairs)(m => propagateOn(docs, symmetric(m), maxRounds))

  /** Each round is ONE join + ONE aggregation over `edges(u, v)`:
    * neighbors' labels union the current labels, min per doc. Round 1
    * skips the join (identity labels: a neighbor's label IS its id).
    * Convergence is the label SUM observed on each round's checkpoint:
    * per-doc labels only fall, so the exact decimal sum strictly falls
    * until — and only until — the fixpoint.
    *
    * Precondition, checked on every call for free: docs.doc_id is unique
    * and ⊇ the pair endpoints (every caller passes `documents.doc_id`).
    * The union-min round INVENTS a label row for an unknown endpoint, so
    * round 1's observed row count exceeds round 0's exactly when it
    * fails. */
  private def propagateOn(docs: DataFrame, edges: DataFrame,
      maxRounds: Int): Option[DataFrame] = {
    val res = Fixpoint.run(
        docs.select(col("doc_id"), col("doc_id").as("label")), maxRounds,
        metrics = Seq(sum(col("label").cast("decimal(38,0)")), count(lit(1))),
        converged = (prev, next) => {
          require(next.index > 1 ||
              next.metrics.getLong(1) <= prev.metrics.getLong(1),
            "Components precondition violated: pair endpoints must be a " +
              "subset of docs.doc_id — the union-min propagation round " +
              "would invent label rows for unknown nodes (and the " +
              "label-sum convergence argument assumes identity labels in " +
              "round 0)")
          next.metrics.get(0) == prev.metrics.get(0) // null: no docs
        }) { cur =>
      val labels = cur.df
      val cand = if (cur.index == 0) edges.toDF("doc_id", "label")
        else edges.join(labels, edges("v") === labels("doc_id"))
          .select(edges("u").as("doc_id"), col("label"))
      Some(labels.unionByName(cand)
        .groupBy("doc_id").agg(min("label").as("label")))
    }
    if (res.converged) Some(res.state)
    else { Fixpoint.release(res.state); None }
  }

  /** One large-star round: every node attaches each strictly-greater
    * neighbor to the minimum of its closed neighborhood. Never increases
    * the edge count; halves tall-tree heights geometrically. */
  private[operators] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: edges directed high→low; every node attaches
    * its smaller neighbors (and itself) to the smallest of them. */
  private[operators] def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val m = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(m, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .unionByName(m.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** Alternating large/small-star contraction to the depth-1-star
    * fixpoint, then labels = star root. The O(log n) bound makes
    * `maxRounds` a loud-failure backstop, not a tuning knob. The exact
    * set-equality probe runs only when a round's observed edge count
    * equals the previous round's. */
  def starContract(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val res = Fixpoint.run(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .filter(col("src") =!= col("dst")).distinct(),
        maxRounds, metrics = Seq(count(lit(1))),
        // equal-size distinct sets are equal iff one difference is empty
        converged = (prev, next) =>
          next.metrics.getLong(0) == prev.metrics.getLong(0) &&
            next.df.except(prev.df).isEmpty) { cur =>
      Some(smallStar(largeStar(cur.df)))
    }
    if (!res.converged) sys.error(
      s"star contraction did not converge in $maxRounds rounds — " +
        "O(log n) bound exceeded, input edge list is likely unstable")
    // at the fixpoint every edge is (member, component-min root); roots
    // appear only on the dst side and label themselves via the left join
    val lab = res.state.groupBy(col("src").as("doc_id"))
      .agg(min("dst").as("lab"))
    docs.select("doc_id").join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("label"))
  }

  /** Propagation with the star-contraction diameter guard over the
    * [[localStars]] pair list (see object doc). `propagateRounds` bounds
    * only the cheap loop — correctness never depends on it. The labels
    * read one checkpoint, the final round's; every other round and the
    * pair list are released. */
  def connected(docs: DataFrame, pairs: DataFrame,
      propagateRounds: Int = 50): DataFrame =
    withPairs(localStars(pairs)) { mat =>
      propagateOn(docs, symmetric(mat), propagateRounds).getOrElse {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"component diameter exceeds $propagateRounds propagation " +
            "rounds; switching to star contraction")
        starContract(docs, mat)
      }
    }
}
