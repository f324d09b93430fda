package graft.operators

import org.apache.spark.sql.DataFrame
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
  * terminates with correct labels instead of aborting.
  *
  * Inputs: `docs` with a `doc_id` column (the node set — isolated nodes
  * label themselves), `pairs` with (`doc_a`, `doc_b`) undirected candidate
  * edges. Output: (`doc_id`, `label`) where label = min doc_id of the
  * component. Both bodies localCheckpoint per round so lineage never grows
  * with iterations.
  */
object Components {

  /** Symmetric closure (u, v) of the undirected pair list. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))

  /** Min-label propagation; `None` when `maxRounds` is hit before the
    * fixpoint (labels move one hop per round, so that means component
    * diameter > maxRounds). Precondition (held by every caller — pairs
    * are always derived from the same docs frame): pair endpoints ⊆
    * docs.doc_id, so the union-min round never invents label rows for
    * unknown nodes. */
  def propagate(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int): Option[DataFrame] =
    propagateOn(docs, symmetric(pairs.localCheckpoint()), maxRounds)

  /** Loop body over an already-cheap `edges(u, v)` relation (r21: callers
    * that hold a materialized pair list — [[connected]] — skip
    * [[propagate]]'s re-checkpoint). Each round is ONE join + ONE
    * aggregation: candidate labels (each neighbor's current label) union
    * the current labels, min per doc — the two-join/agg/join form this
    * replaces paid a second labels shuffle per round for the same
    * fixpoint step. Round 1 skips the join outright: labels are the
    * identity, so each neighbor's label IS the neighbor id (the edge
    * list itself). Convergence is read off the label SUM: labels are
    * doc_ids, each round takes a min of the previous round's values, so
    * the per-doc label is monotonically non-increasing and the exact
    * decimal sum is strictly decreasing until — and only until — the
    * fixpoint (replaces the per-round old-vs-new filter count; decimal
    * keeps the test exact at any doc_id magnitude × count). */
  private def propagateOn(docs: DataFrame, edges: DataFrame,
      maxRounds: Int): Option[DataFrame] = {
    // Debug-mode guard for the comment-only precondition above (r21
    // advice): the union-min round INVENTS a label row for any edge
    // endpoint missing from docs (the old left-join form silently
    // dropped it), so a caller that broke the invariant would change
    // output rows. Off by default — the anti-join count is a real job in
    // a loop that was tuned to shave jobs; ComponentsSpec turns it on.
    if (sys.props.get("graft.components.checkEndpoints").contains("true")) {
      val unknown = edges.select(col("u").as("doc_id"))
        .join(docs.select("doc_id"), Seq("doc_id"), "left_anti")
        .limit(1).count()
      require(unknown == 0L,
        "Components precondition violated: pair endpoints must be a " +
          "subset of docs.doc_id — the union-min propagation round would " +
          "invent label rows for unknown nodes (and the label-sum " +
          "convergence argument assumes identity labels in round 0)")
    }
    var labels = docs.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val cand =
        if (rounds == 0)
          edges.select(col("u").as("doc_id"), col("v").as("label"))
        else
          edges.join(labels, edges("v") === labels("doc_id"))
            .select(edges("u").as("doc_id"), col("label"))
      val next = labels.unionByName(cand)
        .groupBy("doc_id").agg(min("label").as("label"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      rounds += 1
    }
    if (converged) Some(labels) else None
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
    * `maxRounds` a loud-failure backstop, not a tuning knob. */
  def starContract(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    var edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    var n = edges.count()
    var stable = false
    var rounds = 0
    while (!stable && rounds < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nNext = next.count()
      // distinct sets of equal size are equal iff the one-way difference
      // is empty — the probe is one anti-join over (src, dst) pairs
      stable = nNext == n && next.except(edges).isEmpty
      edges = next
      n = nNext
      rounds += 1
    }
    if (!stable) sys.error(
      s"star contraction did not converge in $maxRounds rounds — " +
        "O(log n) bound exceeded, input edge list is likely unstable")
    // at the fixpoint every edge is (member, component-min root); roots
    // appear only on the dst side and label themselves via the left join
    val lab = edges.groupBy(col("src").as("doc_id"))
      .agg(min("dst").as("lab"))
    docs.select("doc_id").join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("label"))
  }

  /** Propagation with the star-contraction diameter guard (see object
    * doc). `propagateRounds` bounds only the cheap loop — correctness
    * never depends on it. */
  def connected(docs: DataFrame, pairs: DataFrame,
      propagateRounds: Int = 50): DataFrame = {
    // materialize the candidate pairs ONCE: both fixpoint bodies re-scan
    // them every round, and the fallback path must not re-execute a
    // potentially corpus-scale pair pipeline a second time
    val mat = pairs.localCheckpoint()
    propagateOn(docs, symmetric(mat), propagateRounds).getOrElse {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"component diameter exceeds $propagateRounds propagation rounds; " +
          "switching to star contraction")
      starContract(docs, mat)
    }
  }
}
