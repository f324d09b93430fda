package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: these are the properties that survive a 100×
  * scale-up — filters reaching the parquet scan, broadcast for small
  * dims, map-side partial aggregation, pruned read schemas. A passing
  * value test with a wrong plan is not done.
  *
  * The plans are those of the shipped profile, which has two readers:
  * [[plan]], the static plan, for what the planner decides before a
  * byte is read; and [[finalPlan]], the plan AQE ran, for the join
  * strategies the profile leaves to AQE's measured sizes (its static
  * broadcast threshold is off, so an unhinted small side is shuffled in
  * the static plan and broadcast at runtime). */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** The final plan of `name` after it ran: AQE's re-planned tree, with
    * the query stages it executed, and without the initial plan. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if a.isFinalPlan => a.executedPlan.toString
      case p => fail(s"$name did not run an adaptive plan:\n$p")
    }
  }

  /** Whether a join node of plan text `p` names `column` in its keys or
    * condition. */
  private def joinsOn(p: String, column: String): Boolean =
    s"Join [^\\n]*\\b$column#".r.findFirstIn(p).isDefined

  /** Plan text with every InMemoryRelation's cached-plan printout
    * removed (all lines indented deeper than the InMemoryRelation node
    * itself). Cache-BUILD shuffles run once at materialization — e.g.
    * the eval-side distinct that boundedEvalBroadcast persists before
    * counting — and must not trip main-plan shuffle pins, which guard
    * the per-row corpus dataflow. */
  private def withoutCachedPlans(p: String): String =
    p.split("\n").foldLeft((new StringBuilder, -1)) {
      case ((out, skipIndent), l) =>
        val indent = l.indexWhere(!_.isWhitespace) match {
          case -1 => l.length
          case i  => i
        }
        if (skipIndent >= 0 && indent > skipIndent) (out, skipIndent)
        else {
          out.append(l).append('\n')
          (out, if (l.contains("InMemoryRelation")) indent else -1)
        }
    }._1.toString

  test("q02: filters are pushed to the parquet scan and schema is pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate range filter must reach the scan")
    // projection pruning: scanned schema must not include l_tax
    assert(!p.contains("l_tax"), "unused columns must be pruned from the scan")
  }

  test("q03: customer dimension joins via broadcast") {
    val p = finalPlan("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"), "small dim must broadcast")
  }

  test("q13: nation/region dims broadcast, no cartesian") {
    val p = plan("q13_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q01: aggregation has a map-side partial phase") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("HashAggregate"))
    // partial + final pair ⇒ map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q04: dedup ranking is a map-side-combined max-struct agg, no window sort") {
    // r21: rank-1 by event_id DESC became max(struct(event_id, value)) —
    // partial + final HashAggregate pair (map-side combine before the
    // one shuffle) and NO Window operator (the window form sorted the
    // full corpus by key with no partial aggregation)
    val p = plan("q04_dedup_rank")
    assert(!p.contains("Window"), "q04 must not pay a window sort")
    // struct-typed max buffers aggregate via ObjectHashAggregate
    assert("(?:ObjectHash|Hash)Aggregate".r.findAllIn(p).size >= 2,
      "partial + final agg ⇒ map-side combine")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "one shuffle for the agg + one for the final sort at most")
  }

  test("t01: dedup groups by the 16-byte digest, not the document body") {
    val df = SparkEntry.queries("t01_dedup_exact")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("md5"))
  }

  test("t05: query vector joins via broadcast (no shuffle of embeddings)") {
    val p = plan("t05_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("t03: pair formation costs ONE wide shuffle of the exploded corpus") {
    // the one-shuffle design (groupBy lang/bucket/shingle with map-side
    // pair unfolding) must not regress to a self-join that re-exchanges
    // the exploded shingles per side
    val p = plan("t03_ngram_jaccard")
    assert(!joinsOn(p, "shingle"), "no join may key on the exploded shingles")
    val f = finalPlan("t03_ngram_jaccard")
    assert(!f.contains("SortMergeJoin"),
      "pair candidates must unfold from grouped doc lists, not a self-join")
    // the map-side unfold: explode over the per-shingle doc list
    assert(p.contains("Generate explode(flatten(transform(ids"),
      "pairs must unfold map-side from the grouped lists")
    // the only exchange carrying shingle strings is the grouping one
    // (pre-AQE the shared subtree prints once per consumer; execution
    // reuses it — so assert on kinds, not occurrence counts)
    assert("Exchange hashpartitioning\\(lang[^)]*shingle".r.findFirstIn(p).isDefined)
  }

  test("q18: count-distincts stay narrow and the 3-row joins broadcast") {
    val p = plan("q18_count_distinct")
    assert(!p.contains("Expand"),
      "separate pruned aggregations replace the 4-way Expand")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "the per-flag joins carry a broadcast() hint")
    val f = finalPlan("q18_count_distinct")
    assert(f.contains("BroadcastHashJoin"))
  }

  test("t12: hyperplanes are literals (no per-row plane construction)") {
    val df = SparkEntry.queries("t12_cosine_neardup")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("transform("),
      "plane arrays must be folded to literals at plan time")
    assert(optimized.contains("floatdot"), "dot product must be the native expression")
  }

  test("t15: per-round dataflow is join + partial agg (no cartesian)") {
    val p = plan("t15_dedup_components")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("t19: the eval shingle set joins via broadcast (corpus never shuffles on text)") {
    val p = plan("t19_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark shingles are tiny relative to the corpus and must broadcast")
  }

  test("t43: the corpus side probes the Bloom filter in a map-side Filter") {
    val p = plan("t43_decontaminate_bloom")
    assert(p.contains("Filter might_contain(Subquery"),
      "the probe must be a pure filter over the once-computed scalar " +
        "subquery Bloom build — not a join against the eval strings")
    assert(p.contains("partial_bloom_filter_agg"),
      "the Bloom build must combine map-side before the single-reducer merge")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t42: keep-best/csize are aggregates (no window); candidate joins stay keyed") {
    val p = plan("t42_neardup_funnel")
    // the attrition report must be computed by map-side-combinable
    // aggregates over the (label, source) collapse — a per-label window
    // would funnel a boilerplate mega-component into one task
    assert(!p.contains("windowspecdefinition"),
      "no window may see the per-doc frame; use groupBy(label, source)")
    assert(p.contains("max_by") || p.contains("maxby"),
      "the keeper's source must come from max_by over per-source bests")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
  }

  test("t20: per-doc repetition stats are a pure map (zero wide shuffles)") {
    val p = plan("t20_quality_repetition")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-document stats must never shuffle the corpus (ngram_stats map)")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"),
      "no aggregation or join belongs in a per-row computation")
    assert(p.contains("ngramstats"), "the native one-pass expression must be used")
  }

  test("t21: sampling thresholds broadcast back; corpus filter is one pass") {
    val p = plan("t21_stratified_sample")
    assert(p.contains("BroadcastHashJoin"),
      "per-stratum thresholds are tiny and must broadcast")
  }

  test("t24: prefix sum is two-pass map work, never a partition-less window") {
    val p = plan("t24_token_shards")
    assert(!p.contains("Window"),
      "a global-order window would pull all rows into one task; the " +
        "bucket-offset mapPartitions form must be used")
  }

  test("t23: partition-local top-k bounds the global window's input") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    // synthetic scored frame: 5 labels × 10k rows over 8 partitions,
    // with duplicate dists so tie-breaking is exercised
    val scored = spark.range(0, 10000).repartition(8).select(
      (col("id") % 5).cast("int").as("label"),
      col("id").as("vec_id"),
      (col("id") % 97).cast("double").as("dist"))
    val pre = graft.queries.DataSelection.localLabelTopK(scored, 3)
    assert(pre.count() <= 3L * 5 * 8,
      "window input must be ≤ k × labels × partitions rows")
    // identity: ranking the survivors equals ranking the full frame
    val w = Window.partitionBy("label").orderBy(col("dist"), col("vec_id"))
    def top3(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select("label", "rnk", "vec_id", "dist")
    val got = top3(pre)
    val want = top3(scored)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 15)
  }

  test("t23: the corpus never shuffles into the label window (pre-top-k runs map-side)") {
    val p = plan("t23_cluster_reps")
    assert(p.contains("MapPartitions"),
      "the bounded per-partition top-k must precede the global window")
    assert(p.contains("Window"))
  }

  test("t24: prefix-sum bucket count scales with input partitions") {
    // a constant bucket count caps the accumulate pass at a fixed task
    // count forever; it must track the input's parallelism (floor 32)
    import graft.queries.DataSelection.tokenShardBuckets
    assert(tokenShardBuckets(1) == 32)
    assert(tokenShardBuckets(32) == 32)
    assert(tokenShardBuckets(400) == 400)
    assert(tokenShardBuckets(4000) == 4000)
  }

  test("t24: bucketed prefix sum equals the single-task global window") {
    // bucket-count invariance: the two-pass form must reproduce the
    // textbook running sum exactly, whatever the physical partitioning
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, sum}
    val got = SparkEntry.queries("t24_token_shards")(spark, sf)
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr("(n_chars + 3) div 4").as("tok"))
      .withColumn("cum", sum("tok").over(w))
      .withColumn("shard", expr("(cum - tok) div 20000"))
      .orderBy("doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("t25: keep-best dedup is one skew-immune aggregate over digest groups") {
    val p = plan("t25_dedup_keep_best")
    // max_by + count per digest: partial-aggregates map-side, so a
    // mega-group of identical pages reduces before the exchange — the
    // earlier window form sorted the whole group in one task
    assert(!p.contains("Window"),
      "keep-best must be a groupBy aggregate, not a window")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      "HashAggregate[^\\n]*partial".r.findFirstIn(p).isDefined,
      "the digest aggregate must combine map-side")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "one shuffle for the digest groups at most")
  }

  test("t26: semantic pairs form only inside collected cells (one corpus exchange, no join)") {
    val p = plan("t26_semdedup")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "r15 fused the within-cell pair join into a cell-local fold — " +
        "no join operator belongs in this plan")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      "the corpus must cross exactly ONE hash exchange (on cell)")
    assert(p.contains("floatdot"),
      "pair cosines must run on the compiled dot kernel")
  }

  test("t26: broadcast-table assignment equals the literal-expression form") {
    // past ~256 centroids a k-wide literal tree would blow up plan
    // compilation, so assignCells switches to a broadcast centroid
    // table + min(struct(dist, cid)); the switch must be a pure cost
    // decision — same dists, same lowest-cell tie-break
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cs = (1 to 8).map(c => c -> graft.queries.Curation.lcgCentroid(c + 100))
    val viaLiterals = graft.queries.Curation.assignCells(emb, "vec_id", cs)
      .select("vec_id", "cell")
    val viaJoin = graft.queries.Curation
      .assignCells(emb, "vec_id", cs, literalCap = 0)
      .select("vec_id", "cell")
    assert(viaLiterals.exceptAll(viaJoin).isEmpty &&
      viaJoin.exceptAll(viaLiterals).isEmpty)
  }

  test("t26: cell count follows the balanced k = min(⌈N/64⌉, ⌈√N⌉, cap) law") {
    // the SemDeDup quadratic guard must live in code, not prose. Two
    // quadratic regimes bracket the sizing: k too SMALL makes pair work
    // Σ|cell|² ≈ N²/k blow up; k too LARGE makes the brute-force
    // assignment's N·k dots blow up (the r18 100× probe measured the
    // latter at 35.5 s / 50× wall for 100× data under the old
    // k = ⌈N/64⌉ rule). The two cross at k = √N, so k takes the ⌈N/64⌉
    // arm only while that is SMALLER (N ≤ 4096 — every gate fixture,
    // answers unchanged), then √N, then the 2¹⁸ ceiling.
    import graft.queries.Curation.{semdedupK, semdedupMaxCells,
      semdedupFoldMaxCell, semdedupCellSize}
    assert(semdedupK(1) == 1)
    assert(semdedupK(500) == 8)
    assert(semdedupK(2000) == 32)
    assert(semdedupK(4096) == 64)      // the arms meet exactly here
    // √N arm: both flop terms grow as N^1.5 (per-vector work √N)
    assert(semdedupK(1000L * 1000) == 1000)
    assert(semdedupK(16L * 1000 * 1000) == 4000)
    assert(semdedupK(256000) == 506)   // NOT the old linear 4000
    // ... until the 2¹⁸ cap: past it the driver-collected / broadcast
    // centroid artifacts are CONSTANT no matter how large the corpus
    // gets (k×65 values ≈ 136 MB — the sizing math lives on the
    // constant), which is published SemDeDup's own fixed-cluster-count
    // regime. With the √N arm the cap binds from N = 2³⁶ ≈ 6.9×10¹⁰.
    assert(semdedupK(262144L * 262144L) == semdedupMaxCells)
    assert(semdedupK(Long.MaxValue / 4) == semdedupMaxCells)
    // and the fold→join switch engages only once a cell's expected
    // membership (N/k = √N past the meet point) outgrows the measured
    // fold-wins regime
    assert(semdedupCellSize <= semdedupFoldMaxCell)
    val nSwitch = semdedupFoldMaxCell.toLong * semdedupFoldMaxCell
    assert(nSwitch / semdedupK(nSwitch) >= semdedupFoldMaxCell)
  }

  test("t26: join-shape pair stage equals the cell-local fold") {
    // past semdedupFoldMaxCell expected members the pair stage streams
    // pairs through a self-join instead of collecting a whole cell into
    // one aggregation row; the switch must be a pure cost decision
    // (T26FoldLab-measured crossover, r17) — same pairs, same
    // min-keep-id fold, same n_near counts
    import graft.queries.Curation.{assignCells, lcgCentroid,
      semdedupVerdictsFold, semdedupVerdictsJoin}
    import org.apache.spark.sql.functions.{col, expr}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cs = (1 to 8).map(c => c -> lcgCentroid(c + 100))
    val assigned = assignCells(emb, "vec_id", cs)
      .withColumn("nrm", expr("float_dot(embedding, embedding)"))
      .select("vec_id", "cell", "embedding", "nrm")
    val fold = semdedupVerdictsFold(assigned)
    val join = semdedupVerdictsJoin(assigned)
      .select(fold.columns.map(col): _*)
    assert(fold.count() > 0, "fixture must exercise the pair stage")
    assert(fold.exceptAll(join).isEmpty && join.exceptAll(fold).isEmpty)
  }

  test("t27: global rank is two-pass map work, never a partition-less window") {
    val p = plan("t27_training_order")
    assert(!p.contains("Window"),
      "a global-order window would pull all rows into one task")
    assert(p.contains("MapPartitions"),
      "within-bucket ranking must run as a seeded map pass")
  }

  test("t27: bucketed rank equals the single-task global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, md5, row_number}
    val got = SparkEntry.queries("t27_training_order")(spark, sf)
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .withColumn("position",
        row_number().over(Window.orderBy("h", "doc_id")).cast("long") - 1)
      .withColumn("file_id", expr("position div 100"))
      .select("doc_id", "position", "file_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("t28: temperature thresholds broadcast back; corpus filter is one pass") {
    val p = plan("t28_temperature_sample")
    assert(p.contains("BroadcastHashJoin"),
      "per-language thresholds are tiny and must broadcast")
  }

  test("t30: the filter verdict is a pure map (zero shuffles, no join)") {
    val p = plan("t30_filter_verdict")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-document verdicts must never shuffle the corpus")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      "no aggregation or join belongs in a per-row computation")
  }

  test("t44: the PII scrub is a pure map (zero shuffles, no join)") {
    val p = plan("t44_pii_scrub")
    assert(!p.contains("Exchange hashpartitioning"),
      "detect + redact are per-row; the corpus must never shuffle")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      "no aggregation or join belongs in a per-row computation")
  }

  test("t50: chunking is a pure map + bounded explode (zero wide shuffles)") {
    val p = plan("t50_doc_chunks")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunk derivation is per-row; the corpus must never hash-shuffle")
    assert(p.contains("Generate explode"),
      "chunks must come from a bounded per-row explode, not a join")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      "no aggregation or join belongs in a per-row computation")
  }

  test("t51: chunk dedup shuffles digests only, text never enters an exchange") {
    val p = plan("t51_chunk_dedup")
    assert(p.contains("Generate explode"),
      "chunks must come from the bounded per-row explode")
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined &&
      !"Exchange [^\\n]*chunk".r.findFirstIn(p).isDefined,
      "chunk text must never enter a shuffle — only the 16-byte md5")
    assert(!p.contains("collect_list"),
      "no hash group may materialize an in-memory doc-id list")
    // the per-source join is hinted (one row per source a side); the
    // doc→source join's sides grow with the corpus, so AQE sizes it
    assert("BroadcastHashJoin \\[source#".r.findFirstIn(p).isDefined &&
      !"SortMergeJoin \\[source#".r.findFirstIn(p).isDefined,
      "the per-source distinct frame carries a broadcast() hint")
    val f = finalPlan("t51_chunk_dedup")
    assert(!f.contains("SortMergeJoin"),
      "doc→source and the per-source distinct frame must broadcast")
  }

  test("t52: quantized scan is map-only; top-k never global-sorts or shuffles") {
    val p = plan("t52_ann_rerank")
    assert(!p.contains("Exchange hashpartitioning"),
      "the int8 pre-score is a pure map; the corpus must never hash-shuffle")
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2,
      "both top-k stages must plan as partition-local top-k merged on the " +
        "driver, not sort+limit")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row query frame must broadcast")
    assert(p.contains("Not(EqualTo(vec_id,0))"),
      "the query-id filter must reach the parquet scan")
  }

  test("t45: band-sweep derives all configs from ONE candidate pass") {
    val p = plan("t45_band_sweep")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must form only inside (band, bucket) groups")
    // membership nesting: one aggregate over the flagged pair frame +
    // a 3-row explode replaces three per-config band-join legs
    assert(!p.contains("Union"),
      "the sweep must not union three independently-joined legs")
  }

  test("t47: novelty exchanges carry pre-reduced rows, never raw occurrences") {
    val p = plan("t47_shingle_novelty")
    assert(!"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined &&
      !"Exchange [^\\n]*words#".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
    // shingle strings collapse to xxhash64 digests before anything
    // shuffles: corpus-text-scale bytes must never cross an exchange
    assert(!"Exchange [^\\n]*shingle#".r.findFirstIn(p).isDefined,
      "exchanges must key on the 64-bit shingle digest, not the string")
    // r18 shape: first_doc is a WINDOW min on the one sh64 exchange —
    // no vocabulary aggregate joined back (the join spelling's df table
    // planned as a stats-blinded corpus-sized broadcast at 30×,
    // BroadcastAudit). The window's exchange carries narrow (doc_id,
    // sh64) 16-byte digest rows — the same rows the join's SMJ
    // fallback would have shuffled anyway, minus the whole second
    // aggregate leg and the broadcast decision. No join may reappear.
    assert(p.contains("Window"), "first_doc must be a window min over sh64")
    assert(!p.contains("Join"), "the aggregate-joined-back shape is the " +
      "stats-blinded broadcast hazard BroadcastAudit measured — keep the window")
    // and the per-doc rollup exchange is still fed map-side partials
    val lines = p.linesIterator.toVector
    val ex = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning(doc_id"))
    assert(ex.nonEmpty, "the per-doc rollup needs a doc-keyed exchange")
    ex.foreach { i =>
      assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate") &&
        lines(i + 1).contains("partial_"),
        s"doc exchange must be fed by a partial aggregate:\n${lines(i)}\n${lines(i + 1)}")
    }
  }

  test("t22: rarity exchanges key on word digests, never raw strings") {
    val p = plan("t22_word_rarity")
    // the df build and the join-back both shuffle on xxhash64(word):
    // (int64, count) pairs cross the exchanges, not vocabulary strings
    assert(!"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined &&
      !"Exchange hashpartitioning\\(w#".r.findFirstIn(p).isDefined,
      "exchanges must key on the 64-bit word digest, not the string")
  }

  test("t48: percentiles run over the length histogram, never raw docs") {
    val p = plan("t48_corpus_card")
    assert(p.contains("Window"), "exact percentile pick is a cumulative window")
    // the window's input is the per-(lang, source, n_chars) histogram:
    // the only corpus-sized exchange keys on the histogram triple, and
    // the scan reads exactly the three columns the card needs (a card
    // that drags `text` through the plan is wrong at 100 TB)
    assert(p.contains("Exchange hashpartitioning(lang") ||
      p.contains("Exchange hashpartitioning(source"),
      "histogram aggregation must shuffle on the stratum keys")
    assert(!p.contains("text#"), "document text must never be read")
    assert(!p.contains("Join"),
      "tokens derive from the histogram itself — ONE corpus scan, no join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "histogram agg + window re-key at most")
  }

  test("t49: outlier scoring is a pure map against a centroid literal") {
    val p = plan("t49_embedding_outliers")
    assert(!p.contains("Exchange hashpartitioning"),
      "the corpus pass must never hash-shuffle embeddings")
    assert(p.contains("floatdot"),
      "distance must use the codegen'd native dot, not an interpreted fold")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the mean-dist² threshold joins back as a broadcast 1-row frame")
    assert(!p.contains("label"),
      "unused embedding columns must be pruned from the scan")
  }

  test("q16: as-of join is a union + user-keyed window, never a range join") {
    // AsOf.join composes ASOF semantics as ONE window pass over the
    // unioned sides (AsOf.scala scaladoc): a range/theta join here would
    // materialize |clicks| × |prior purchases| candidate pairs — the
    // shape that dies first at 100 TB.
    val p = plan("q16_asof_join")
    assert(p.contains("Window"))
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p).isDefined,
      "the as-of carry-forward window must partition by the join key")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin")
        && !p.contains("CartesianProduct"),
      "as-of must not plan a join at all — the union+window pass replaces it")
    assert(p.contains("Union"),
      "both sides must enter the single window pass via a union")
  }

  test("t54: eval 13-grams broadcast; only hit positions enter the doc shuffle") {
    val p = plan("t54_decontaminate_13gram")
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(p).isDefined,
      "the eval 13-gram set must broadcast — the corpus side's n-gram " +
        "strings stay in the scan")
    assert(!p.contains("CartesianProduct"))
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined,
      "interval-merge windows must partition by doc_id, never global")
    // the eval-side DISTINCT legitimately exchanges its (benchmark-sized)
    // n-gram digests once — inside the cache build boundedEvalBroadcast
    // persists (stripped below). Any g-keyed exchange REMAINING in the
    // main plan means the CORPUS side's n-grams started shuffling (the
    // self-join regression this pin exists to catch).
    assert("Exchange hashpartitioning\\(g#".r
        .findAllIn(withoutCachedPlans(p)).isEmpty,
      "corpus-side n-gram digests must never key a shuffle — only the " +
        "eval distinct may (inside its cache build), and only " +
        "(doc_id, p) ints move otherwise")
  }

  test("t55: bucket histogram broadcasts; document text never shuffles") {
    val p = plan("t55_dsir_weights")
    assert("BroadcastHashJoin \\[b#".r.findFirstIn(p).isDefined,
      "the ≤4096-row bucket histogram must broadcast to the scoring pass")
    // histogram + per-doc aggs both pre-reduce map-side
    assert("partial_sum".r.findAllIn(p).size >= 2,
      "histogram and per-doc sums must have map-side partial phases")
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
    assert(!p.contains("CartesianProduct"))
  }

  test("t57: anchors broadcast; scored pairs pre-reduce before the shuffle") {
    val p = plan("t57_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the anchor set must broadcast — candidates never shuffle to meet it")
    assert(p.contains("MapPartitions"),
      "localLabelTopK must bound each partition to ≤3 rows per " +
        "(anchor, kind) before the window exchange")
    assert("windowspecdefinition\\(aid".r.findFirstIn(p).isDefined,
      "ranking windows must partition by anchor, never global")
    assert(!"Exchange [^\\n]*embedding".r.findFirstIn(p).isDefined,
      "embedding vectors must never enter a shuffle")
  }

  test("t64: anchor probes equi-join on cell — no nested loop, no forced broadcast") {
    val p = plan("t64_hard_negatives_ivf")
    // the anchor sample is corpus-proportional (vec_id % 100), so the
    // join must be a cell-keyed hash join the planner strategizes (AQE
    // broadcasts the measured-small probe side at fixture SF, shuffles
    // on cell past 10 MiB) — never the OR-condition nested loop the
    // r18 shape planned, and never a FORCED broadcast of the anchors
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the probe-cell join must be an equi-join, not a nested loop")
    assert("join.*cell#|hashpartitioning\\(cell#|\\[cell#".r.findFirstIn(p).isDefined,
      "cell must be the join key")
    assert(p.contains("MapPartitions"),
      "localLabelTopK must still pre-reduce before the window exchange")
  }

  test("t104: mapPartitions assignment, cell equi-join, no nested loop") {
    val p = plan("t104_hard_negatives_ivf_scaled")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the probe-cell join must be an equi-join")
    assert(p.contains("MapPartitions"),
      "assignment must be the one-pass mapPartitions form — no N×k " +
        "centroid frame may materialize")
    assert("windowspecdefinition\\(aid".r.findFirstIn(p).isDefined,
      "ranking windows must partition by anchor, never global")
  }

  test("t56: packing prefix sum is the two-pass form, never a global window") {
    // cumulativeTokens must stay mapPartitions-based: a partition-less
    // running-sum window would serialize the whole corpus through one
    // task — the regression this pin exists to catch
    val p = plan("t56_sequence_pack")
    assert(!p.contains("Window"), "no window operator anywhere in the plan")
    assert(p.contains("MapPartitions"),
      "the seeded accumulate pass must be the two-pass mapPartitions form")
  }

  test("t63: manifest broadcasts eval shingles, assembles without cartesian") {
    val p = plan("t63_curation_manifest")
    assert(p.contains("BroadcastHashJoin"),
      "the eval shingle set must broadcast into the contamination leg")
    assert(!p.contains("CartesianProduct"))
    // dup + quality + contamination + split assemble on doc_id joins;
    // a windowless dup rule would be fine too, but nothing may ever
    // rank without a partition key
    assert(!"windowspecdefinition\\(\\)".r.findFirstIn(p).isDefined,
      "no partition-less window")
  }

  test("t59: per-language report is one agg with a map-side partial phase") {
    val p = plan("t59_fertility_by_lang")
    assert(p.contains("HashAggregate"))
    assert("partial_sum".r.findFirstIn(p).isDefined,
      "language sums must pre-reduce map-side — the exchange carries " +
        "|langs| rows per task, never documents")
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
  }

  test("t60: transition lag windows are user-keyed, never global") {
    val p = plan("t60_event_transitions")
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p).isDefined,
      "the lag window must partition by user_id (a partition-less " +
        "window would serialize the whole stream through one task)")
  }

  test("q21: sessionization windows are user-keyed, never global") {
    val p = plan("q21_sessionize")
    assert(p.contains("Window"))
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p).isDefined,
      "every window must partition by user_id (a partition-less window " +
        "would serialize the whole corpus through one task)")
  }

  test("t32: window-hash dedup shuffles digests, not text") {
    val p = plan("t32_substring_dup")
    assert(p.contains("Exchange hashpartitioning(h#") ||
      p.contains("Exchange hashpartitioning(h "),
      "the duplicate-detection shuffle must key on the 16-byte window hash")
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
    // the round-5 shape cached the exploded windows (a corpus-multiple
    // in block storage at scale) and joined them back; the rewrite is
    // (h, doc_id) counts → spill-safe h-window → per-doc re-key, with
    // O(1) aggregation state everywhere (no collect_list: a boilerplate
    // window's doc list must never materialize inside one agg row)
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      "the exploded window leg must not be cached")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "dup flags must come from the h-window, not a join back")
    assert(!p.contains("collect_list"),
      "no hash group may materialize an in-memory doc-id list")
    assert(p.contains("Window"), "the distinct-doc test is a spill-safe window")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      "pair agg + h window + per-doc re-key at most")
  }

  test("t37: paragraph dedup shuffles digests only, one h-keyed agg, no join-back") {
    val p = plan("t37_paragraph_dedup")
    assert(p.contains("Exchange hashpartitioning(h#") ||
      p.contains("Exchange hashpartitioning(h "),
      "the dup-detection shuffle must key on the 16-byte paragraph hash")
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined &&
      !"Exchange [^\\n]*words".r.findFirstIn(p).isDefined,
      "paragraph text must never enter a shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "dup flags must come from the h-window, not a join back")
    assert(!p.contains("collect_list"),
      "no hash group may materialize an in-memory doc-id list")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      "pair agg + h window + per-doc re-key at most")
  }

  test("t33: quantization is a pure map (zero wide shuffles)") {
    val p = plan("t33_quantize_int8")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-vector quantization must never shuffle the corpus")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"))
  }

  test("t34: pre-top-k prunes in UTF8String binary order, not UTF-16 order") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    // U+1F600 (emoji: UTF-16 D83D DE00, UTF-8 F0 9F 98 80) vs private-use
    // U+F000 (UTF-8 EF 80 80): code-unit order says emoji < U+F000, byte
    // order says U+F000 < emoji. At equal counts with k=1 a
    // UTF-16-ordered prune keeps the emoji — the wrong top-1.
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uF000"
    val counts = Seq(("xx", emoji, 5L), ("xx", pua, 5L))
      .toDS().repartition(1)
    val pre = graft.queries.Curation.localVocabTopK(counts, 1)
    val w = Window.partitionBy("lang").orderBy(col("c").desc, col("w"))
    val got = pre.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1).select("w").as[String].collect()
    assert(got.toSeq == Seq(pua),
      "prune order must match the window's UTF8String binary ORDER BY")
  }

  test("t34: vocabulary rank pre-reduces per partition before the k-task window") {
    val p = plan("t34_vocab_topk")
    assert(p.contains("MapPartitions"),
      "the bounded per-partition top-k must precede the per-language window")
    assert(p.contains("Window"))
  }

  test("t38: partition-local pre-top-Q contains the global per-source top-Q") {
    import org.apache.spark.sql.functions.{col, concat, lit, row_number}
    import org.apache.spark.sql.expressions.Window
    val s = spark
    import s.implicits._
    // 4 sources × 5k rows over 8 partitions with heavy qfp ties
    val scored = spark.range(0, 5000).repartition(8).select(
      concat(lit("src"), (col("id") % 4).cast("string")).as("source"),
      col("id").as("doc_id"),
      (col("id") % 37).as("qfp"))
      .as[(String, Long, Long)]
    val pre = graft.queries.Curation.localSourceTopQ(scored, 5)
    assert(pre.count() <= 5L * 4 * 8)
    val w = Window.partitionBy("source").orderBy(col("qfp").desc, col("doc_id"))
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select("source", "rnk", "doc_id", "qfp")
    val got = top5(pre)
    val want = top5(scored.toDF("source", "doc_id", "qfp"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 20)
  }

  test("t38: quota rank pre-reduces per partition before the per-source window") {
    val p = plan("t38_source_quota")
    assert(p.contains("MapPartitions"),
      "the bounded per-partition top-Q must precede the per-source window")
    assert(p.contains("Window"))
    assert("windowspecdefinition\\(source".r.findFirstIn(p).isDefined,
      "the rank must partition by source")
  }

  test("t39: funnel windows are digest-keyed and text never enters an exchange") {
    val p = plan("t39_curation_funnel")
    assert("windowspecdefinition\\(h#".r.findFirstIn(p).isDefined,
      "the dedup window must partition by the 16-byte content digest")
    assert(!"windowspecdefinition\\(source".r.findFirstIn(p).isDefined &&
      !"windowspecdefinition\\(\\)".r.findFirstIn(p).isDefined,
      "no few-task or partition-less window may see the corpus " +
        "(n_final is the min(n, Q) identity, not a re-rank)")
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
  }

  test("t41: repeats broadcast back; the corpus pass has no wide shuffle") {
    val p = plan("t41_epoch_upsample")
    assert(p.contains("BroadcastHashJoin"),
      "per-language repeats are tiny and must broadcast")
    // the only exchanges allowed feed the #langs-row counts aggregation
    // and the final sort — the doc-level pass itself is map-only
    assert(!"Exchange [^\\n]*text".r.findFirstIn(p).isDefined,
      "document text must never enter a shuffle")
  }

  test("t105: only two-word fingerprints cross exchanges, never text") {
    val p = plan("t105_simhash128_neardup")
    // the corpus collapses to (doc_id, w0, w1) in the simhash128 map
    // pass; the band explode and self-join move 16-byte fingerprints
    // plus an int band key — document text and the words array must
    // never enter a shuffle (t66's discipline at the 128-bit width)
    assert(!"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined &&
      !"Exchange [^\\n]*words#".r.findFirstIn(p).isDefined,
      "document text must collapse to fingerprint words before any exchange")
    // hamming verification is a popcount over both words, no re-join
    // to text, and the pair output dedups (a pair can collide in up
    // to 4 bands)
    assert(p.contains("bit_count"), "popcount verify must be in-plan")
  }

  test("no query in the suite plans a CartesianProduct") {
    // the one blanket rule that must hold at any scale; queries that
    // RUN pipelines (p-series) execute side effects, so guard the pure
    // q/t series only
    // Failure-isolated: a query that fails to ANALYZE (e.g. a fixture
    // drift bricking one table) must fail its own per-query tests, not
    // mask the plan invariant for the other 80+ queries. Collect both
    // kinds of failure and report them together.
    val names = SparkEntry.queries.keys.filterNot(_.startsWith("p")).toSeq.sorted
    val failures = names.flatMap { name =>
      scala.util.Try(plan(name)) match {
        case scala.util.Success(p) =>
          if (p.contains("CartesianProduct")) Some(s"$name plans a cartesian")
          else None
        case scala.util.Failure(e) =>
          Some(s"$name failed to plan: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("partitioned delta-style table prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    li.write.partitionBy("l_returnflag").parquet(s"$dir/t")
    val read = spark.read.parquet(s"$dir/t")
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), "partition filter must reach the scan")
    assert("PartitionFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(p).isDefined,
      "l_returnflag must be a partition filter, not a data filter")
  }

  test("bucketed tables join without an exchange (co-located shuffle-free join)") {
    // The 100 TB story for repeated big-big joins: bucket both sides on
    // the join key once, then every subsequent join skips the shuffle.
    val s = spark
    import org.apache.spark.sql.functions.col
    s.sql("DROP TABLE IF EXISTS b_orders")
    s.sql("DROP TABLE IF EXISTS b_lineitem")
    // a previously-killed run can leave the managed location behind
    Seq("b_orders", "b_lineitem").foreach { t =>
      val loc = java.nio.file.Paths.get(s"spark-warehouse/$t")
      if (java.nio.file.Files.exists(loc))
        java.nio.file.Files.walk(loc)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
    }
    s.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    s.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // the sides are broadcast-sized at test SF, but the profile's static
    // broadcast threshold is off, so the static plan shows the big-big
    // shape this feature exists for
    val joined = s.table("b_lineitem")
      .join(s.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join must not shuffle either side")
    assert(p.contains("Bucketed: true"), "scan must use the bucket layout")
  }

  test("t65: single scan, no vocabulary broadcast, top-5 pruned pre-shuffle") {
    val p = plan("t65_tfidf_keywords")
    assert("FileScan".r.findAllIn(p).size == 1,
      "df-via-window must keep TF-IDF to ONE corpus scan (no agg+join-back legs)")
    assert(!p.contains("BroadcastExchange"),
      "the vocabulary-sized df table must never broadcast")
    assert(p.contains("WindowGroupLimit"),
      "rank filter must prune to top-5 per doc before the window exchange")
    assert(!p.contains("lang#") && !p.contains("n_chars#"),
      "scan must prune to doc_id + text")
  }

  test("t66: only digests and masks cross exchanges, never shingle text") {
    val p = plan("t66_source_overlap")
    assert(!"Exchange [^\\n]*shingle#".r.findFirstIn(p).isDefined &&
      !"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined &&
      !"Exchange [^\\n]*words#".r.findFirstIn(p).isDefined,
      "shingle strings must collapse to 64-bit digests before any exchange")
    // the r19 300× finding: per-shingle collect_set buffers (object
    // arrays per key) turned the 100×→300× leg super-linear from spill;
    // the source set must aggregate as a fixed-width bit_or mask
    assert(!p.contains("collect_set"),
      "source sets must aggregate as bit_or masks, never collect_set")
    assert(p.contains("bit_or"), "the bitmask aggregation must be present")
  }

  test("t67: boundedTopK pre-reduces before the #langs-task rank window") {
    val p = plan("t67_stratum_sample_k")
    assert(p.contains("MapPartitions"),
      "per-partition local top-k must run before the lang window")
    assert(p.contains("Exchange hashpartitioning(lang"),
      "rank window partitions by lang")
  }

  test("t68: one events scan, pruned to (ts, event_type), branch-free") {
    val p = plan("t68_event_rate_anomaly")
    assert("FileScan".r.findAllIn(p).size == 1,
      "window-based moments must keep the anomaly scan to ONE corpus pass")
    assert(!p.contains("user_id#") && !p.contains("props#"),
      "scan must prune to ts + event_type")
  }

  test("t69: one embeddings scan; vectors cross exactly one exchange") {
    val p = plan("t69_pair_dist_hist")
    assert("FileScan".r.findAllIn(p).size == 1,
      "histogram total must be a window, not a re-computed agg branch")
    assert("Exchange hashpartitioning\\([^\\n]*embedding".r.findAllIn(p).size <= 1,
      "embedding payload moves across at most the cell exchange")
  }

  test("t70: waterfill is one corpus scan + windows on the tiny frame") {
    val p = plan("t70_budget_waterfill")
    assert("FileScan".r.findAllIn(p).size == 1,
      "every scalar (total, S, budget, threshold, level) must be a window " +
        "over the one aggregated source frame, not an agg/join branch")
    assert(!p.contains("Join"), "branch-free: no joins anywhere")
  }

  test("t74: the unigram LM broadcasts to the scoring scan") {
    val p = plan("t74_unigram_logloss")
    // the corpus-wide token stream must NEVER shuffle by word for the
    // LM probe: vocabulary + total broadcast, only (word,count) partials
    // and per-doc longs cross exchanges
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1,
      "LM vocabulary must broadcast to the scoring side")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row total must broadcast, not shuffle")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both the LM build and the per-doc agg need map-side partials")
  }

  test("t75: heads are pruned before the verify joins; no cartesian") {
    val p = plan("t75_edit_verify")
    assert(p.contains("levenshtein"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("n_chars#") && !p.contains("lang#"),
      "documents scan must prune to (doc_id, text)")
  }

  test("t76: fingerprinting is a pure map; pairs unfold from posting lists") {
    val p = plan("t76_winnow_overlap")
    assert(p.contains("winnowfps"),
      "the native one-pass expression must emit fingerprints in-row")
    assert(p.contains("Generate explode(flatten(transform(ids"),
      "pairs must unfold from grouped fingerprint posting lists")
    assert(!joinsOn(p, "fp"), "no join may key on the exploded fingerprints")
    val f = finalPlan("t76_winnow_overlap")
    assert(!f.contains("SortMergeJoin"),
      "no exploded-corpus self-join anywhere in the pair stage")
    assert(!p.contains("Window"),
      "the sliding min runs in-row, never as an exploded-corpus window")
  }

  test("t77: the sketch build partial-aggregates and broadcasts to the probe") {
    val p = plan("t77_cms_heavyhitters")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "cell build and exact counts both need map-side partials")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤4096-cell sketch must broadcast to the 20 heavy hitters")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be a TakeOrdered, not a global sort")
  }

  test("t78: corpus collapses to label×dim partials; pairs join tiny frames") {
    val p = plan("t78_label_separation")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "per-(label,dim) sums need a map-side partial phase")
    assert(p.contains("Exchange hashpartitioning(label"),
      "the only wide exchange keys on label(,dim) partials")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the |labels|-row centroid pair join must broadcast (theta join)")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("t79: char entropy is a pure map — one scan, no exchange but the sort") {
    val p = plan("t79_char_entropy")
    assert("FileScan".r.findAllIn(p).size == 1)
    assert(p.contains("charentropystats"),
      "the native one-pass expression must compute the histogram in-row")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"),
      "branch-free pure map: no aggregation boundary anywhere")
    assert(!p.contains("Exchange hashpartitioning"),
      "only the final sort's range exchange may move rows")
  }

  test("t80: the budget cut is two-pass map work, never a global window") {
    val p = plan("t80_quality_budget_cut")
    assert(!p.contains("Window"),
      "a global-order cumsum window would pull the corpus into one task")
    assert(p.contains("MapPartitions"),
      "within-bucket running sums must stream as a seeded map pass")
    assert(p.contains("Exchange hashpartitioning(bucket"),
      "pass 2 re-partitions by quality bucket, not by a single range")
  }

  test("t80: bucketed budget cut equals the single-task global cumsum") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("t80_quality_budget_cut")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // reference: the same quality (t08's published score) through a
    // plain global-order window — correct, but single-task at scale
    val q = SparkEntry.queries("t08_quality_score")(spark, sf)
      .select(col("doc_id"), floor(col("quality") * 1e6 + 0.5).cast("long").as("qfp"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        expr("CAST((n_chars + 3) div 4 AS BIGINT)").as("tok"))
    val joined = docs.join(q, "doc_id")
    val total = joined.agg(sum("tok")).head().getLong(0)
    val budget = total * 60L / 100L
    val w = Window.orderBy(col("qfp").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = joined
      .withColumn("cum_before", coalesce(sum("tok").over(w), lit(0L)))
      .withColumn("keep", col("cum_before") < budget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("tok").as("tokens_total"),
        sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want)
  }

  test("t84: all three LM tables broadcast to the bigram scoring scan") {
    val p = plan("t84_bigram_surprisal")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "bigram, context and unigram LMs must all broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the exploded bigram stream must never shuffle by token")
  }

  test("t85: one corpus scan; total and cumsums are windows on the class frame") {
    val p = plan("t85_zipf_coverage")
    assert("FileScan".r.findAllIn(p).size == 1,
      "the corpus total must be a window over the ≤64-row class frame, " +
        "not an agg branch that re-scans the corpus")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "word counts and class rollup both need map-side partials")
    // the only Window runs AFTER the class rollup — its input is the
    // ≤64-row class frame, so the single-partition sort is bounded
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "branch-free: no joins anywhere")
  }

  test("t83: pairs probe the embeddings table via hash joins, no cartesian") {
    val p = plan("t83_dup_embedding_consistency")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("floatdot"),
      "cosine must run on the codegen'd kernel, not a HOF fold")
  }

  test("t91: top-50 is a TakeOrdered heap and counts partial-aggregate") {
    val p = plan("t91_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k must be partition-local heaps, not a global sort")
    assert(!p.contains("CartesianProduct"),
      "the 1-row total must ride a broadcast nested loop, not a cartesian")
    assert(p.contains("partial_count"),
      "vocabulary counts must map-side combine")
  }

  test("t92: per-round exchanges key on graph ids, output is a TakeOrdered") {
    val p = plan("t92_dup_pagerank")
    assert(p.contains("TakeOrderedAndProject"),
      "the hub report must be partition-local heaps, not a global sort")
    assert(!p.contains("CartesianProduct"))
    // the 4 rounds chain lazily off the CHECKPOINTED edge list — the
    // plan must read materialized edges (ExistingRDD), never re-derive
    // the LSH bands self-join from the parquet scan
    assert(p.contains("Scan ExistingRDD"),
      "rounds must consume the checkpointed edge list")
    assert(!p.contains("Scan parquet"),
      "no round may reach back to the corpus scan")
  }

  test("t94/t95: consumers read the checkpointed table, never the corpus") {
    // both queries materialize their expensive input ONCE (t94 the
    // distinct hash table, t95 the pair list); every downstream branch
    // must consume that materialization — a parquet scan in the final
    // plan means a consumer silently re-derived the corpus pipeline
    Seq("t94_kmv_merge", "t95_dup_clustering_coeff").foreach { n =>
      val p = plan(n)
      assert(p.contains("Scan ExistingRDD"),
        s"$n must read its localCheckpoint")
      assert(!p.contains("Scan parquet"),
        s"$n re-scans the corpus past its checkpoint")
    }
  }

  test("t97: one corpus scan; windows run on the bounded histogram frame") {
    val p = plan("t97_quantile_sketch")
    assert("FileScan".r.findAllIn(p).size == 1,
      "shard sketches, merge, cumsum and quantile pick must all chain " +
        "off ONE documents scan")
    assert(p.contains("Window"),
      "the cumulative walk is a window over the histogram frame")
    assert(!p.contains("CartesianProduct"),
      "the 3-row percentile fan-out must broadcast")
    assert(p.contains("partial_count"),
      "histogram counts must map-side combine before the shuffle")
  }

  test("t98: eval side broadcasts; the corpus is never shuffled before the agg") {
    val p = plan("t98_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the benchmark-sized eval side must broadcast into a map-side loop")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("floatdot"),
      "cosines must run on the codegen'd kernel")
    assert(p.contains("partial_sum") || p.contains("partial_max"),
      "per-vector hit counts must map-side combine")
  }

  test("t100: eval cell-index broadcasts; the corpus maps once, no shuffle before the agg") {
    val p = plan("t100_semantic_decontaminate_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the (eval, cell) index must broadcast into a map-side join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("floatdot"),
      "cell assignment and cosines must run on the codegen'd kernel")
    assert(p.contains("partial_sum") || p.contains("partial_max"),
      "per-vector hit counts must map-side combine")
    // the corpus side: exactly one scan feeds cell-assign + probe + agg
    assert("FileScan".r.findAllIn(p).size <= 2,
      "corpus and eval must each be read once (no third scan)")
  }

  test("t99: every protocol stage reads the checkpointed shard counts, never the corpus") {
    val p = plan("t99_federated_heavyhitters")
    assert(p.contains("Scan ExistingRDD"),
      "cells and nominations must derive from the checkpointed counts")
    assert(!p.contains("Scan parquet"),
      "t99 re-scans the corpus past its checkpoint")
    assert(p.contains("TakeOrderedAndProject"),
      "the final top-20 must be partition-local heaps")
    assert(!p.contains("CartesianProduct"))
  }

  test("t75: the levenshtein verify sits ABOVE the global sort") {
    // r17 engine wall (T75Lab): a total orderBy's range-partitioner
    // sampling pass EXECUTES its child subtree a second time, so a
    // 160×160 edit-distance DP placed below the sort runs TWICE per
    // pair (12.3 s vs 4.8 s at the 30× probe). The fix hoists the
    // verify into the post-sort projection; this pin fails if an
    // innocuous refactor pushes it back under the Sort. The plan tree
    // prints parents before children, so "above" = earlier offset.
    val p = plan("t75_edit_verify")
    val lev = p.indexOf("levenshtein")
    val sort = "Sort \\[doc_a".r.findFirstMatchIn(p).map(_.start)
    assert(lev >= 0, "t75 must verify candidates with levenshtein")
    assert(sort.isDefined, "t75's gate shape ends in a global sort")
    assert(lev < sort.get,
      "levenshtein must be computed in a projection ABOVE the Sort — " +
        "below it, the range-partitioner sampling pass doubles the DP")
  }

  test("quality family: punctuation count keeps the positive-class regex") {
    // r17 engine wall (T08Lab): the negated single-char class
    // `[^a-zA-Z0-9 ]` falls off Java regex's ASCII bit-table fast path
    // and runs ~21× slower than its complement on identical text; the
    // whole quality family (t08/t35/t38/t39/t63/t72/t80) shares this
    // one scan. The count is spelled as the kept-complement
    // length(regexp_replace(text, '[a-zA-Z0-9 ]', '')) — the same
    // integer for any Unicode content. This pin fails if the spelling
    // reverts to the negated class.
    // (not t39: its funnel consumes only counts — least(n, Q) — so
    // Catalyst prunes the quality projection, regex and all)
    for (q <- Seq("t08_quality_score", "t35_source_mix")) {
      val opt = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("[a-zA-Z0-9 ]"),
        s"$q must count punctuation via the positive-class spelling")
      assert(!opt.contains("[^a-zA-Z0-9"),
        s"$q regressed to the negated class — ~21× slower in Java regex")
    }
  }

  test("t-suite structural rule: no partition-less Window, no off-spine " +
      "global Sort") {
    // r21 removed the suite's last two single-task global windows
    // (t94's merged/direct KMV legs) and its provably-redundant corpus
    // re-sort (t93). The sf0.1 bench cannot guard the property — every
    // query sits at the local job floor, so the driver's low-core probe
    // carries no parallelism signal (r21 verdict, "What's wrong" #3).
    // Pin it structurally instead: a Window with an empty partition spec
    // is a SINGLE TASK over the whole input at any scale, and a global
    // Sort anywhere but the final presentation orderBy is a corpus
    // range-exchange+sort pass the query's semantics don't require.
    // Checked on the optimized LOGICAL plan of the final frame (loops
    // checkpoint per round, so inner rounds are pinned by their own
    // operator specs; the frames here are what the bench materializes).
    // The rule covers every query — the q and p suites too, not only the
    // t suite the test is named after.
    import org.apache.spark.sql.catalyst.plans.logical._
    def presentationSorts(p: LogicalPlan): Seq[Sort] = p match {
      case s: Sort if s.global => Seq(s)
      case pr: Project     => presentationSorts(pr.child)
      case l: GlobalLimit  => presentationSorts(l.child)
      case l: LocalLimit   => presentationSorts(l.child)
      case _ => Nil
    }
    // a global Sort directly under a Limit plans as TakeOrderedAndProject
    // (partition-local heaps + driver merge) — no global sort task, so
    // it is allowed anywhere (t52's top-40 rerank feed, t77's exact
    // top-20)
    def limitSorts(p: LogicalPlan): Seq[Sort] = p.collect {
      case l: LocalLimit => l.child match {
        case s: Sort if s.global => Seq(s)
        case Project(_, s: Sort) if s.global => Seq(s)
        case _ => Nil
      }
    }.flatten
    def violations(plan: LogicalPlan): Seq[String] = {
      val allowed = presentationSorts(plan) ++ limitSorts(plan)
      plan.collect {
        case w: Window if w.partitionSpec.isEmpty =>
          s"partition-less Window (single task at scale): $w"
        case s: Sort if s.global && !allowed.exists(_ eq s) =>
          s"global Sort off the presentation spine: $s"
      }
    }
    // Documented exception class — the "bounded-window rule" (SURVEY
    // §2.12): these queries run partition-less windows ON PURPOSE, over
    // frames already aggregated to bounded cardinality (≤ |sources|,
    // ≤ #histogram buckets, ≤ 64 log₂ classes), where one task is
    // correct at any corpus scale. Pinned by exact count so a NEW
    // partition-less window in these queries is still caught. No q or p
    // query needs an exception.
    val boundedFrameWindows = Map(
      "t41_epoch_upsample" -> 1,   // max over the ≤|langs|-row epoch table
      "t69_pair_dist_hist" -> 1,   // total over ≤ ~40 histogram buckets
      "t70_budget_waterfill" -> 4, // prefix/threshold over ≤|sources| rows
      "t73_vocab_growth" -> 1,     // cumsum over ≤ #ingest buckets
      "t85_zipf_coverage" -> 1)    // cumsum over ≤ 64 log₂ classes
    // canary: the checker must catch the shape it exists to forbid
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    val canary = spark.range(10).toDF("x")
      .withColumn("rn", row_number().over(W.orderBy("x")))
      .queryExecution.optimizedPlan
    assert(violations(canary).nonEmpty,
      "checker failed to flag a deliberately partition-less window")
    val bad = SparkEntry.queries.keys.toSeq.sorted
      .flatMap { name =>
        val vs = violations(SparkEntry.queries(name)(spark, sf)
          .queryExecution.optimizedPlan)
        val allowedWindows = boundedFrameWindows.getOrElse(name, 0)
        val (win, rest) = vs.partition(_.startsWith("partition-less"))
        (if (win.size > allowedWindows)
          Seq(s"$name: ${win.size} partition-less windows, " +
            s"$allowedWindows documented bounded-frame exceptions:\n  " +
            win.mkString("\n  "))
        else Nil) ++ rest.map(v => s"$name: $v")
      }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("whole-stage codegen covers the relational hot paths") {
    // AQE finalizes the plan lazily; execute first, then inspect.
    val df = SparkEntry.queries("q01_agg_pricing")(spark, sf)
    df.collect()
    // codegen spans render as "*(n)" markers in the tree string
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), "scan+partial agg must be inside a codegen span")
    assert(p.contains("*(2)"), "final agg must be inside a codegen span")
  }
}
