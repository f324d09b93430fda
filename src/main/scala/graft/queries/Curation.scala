package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data CURATION operators (t26–t31): the pipeline stages that
  * run between measurement ([[TrainingData]]) and selection
  * ([[DataSelection]]) in a real pretraining data build — semantic dedup,
  * deterministic training-order assignment, temperature-flattened mixes,
  * LSH candidate verification, the composite filter verdict, and the
  * ANN recall measurement.
  *
  * Oracle-portability rules are [[TrainingData]]'s / [[DataSelection]]'s:
  * md5 as the portable hash, integer counts + exact IEEE divisions,
  * sqrt (correctly rounded per IEEE 754) allowed, HUGEINT SUM outputs
  * CAST to BIGINT.
  */
object Curation {

  import Tables.{t, rowCount}
  import TrainingData.{withWords, shingleExpr, shingleSqlDuck, sigSqlDuck,
    minhashPairs, minhashPairsDuck, dotCol, dotSql, dotDuck}
  import DataSelection.{tokenShardBuckets, tokenEstExpr, tokenEstDuck}

  /** Appends the five Gopher stat columns (n_words, mean_word_len,
    * distinct_ratio, top_word_frac, dup_2gram_frac) to a
    * [[TrainingData.withWords]] frame, keeping every existing column —
    * the ONE definition of the repetition stats, shared by t30's
    * verdict and t39's fused funnel scan. */
  private def gopherStats(df: DataFrame): DataFrame = df
    .withColumn("__w", expr("ngram_stats(words, 1)"))
    .withColumn("__g2", expr("ngram_stats(words, 2)"))
    .withColumn("n_words", col("__w.total"))
    .withColumn("mean_word_len",
      (col("n_chars") - col("__w.total") + 1).cast("double") /
        col("__w.total").cast("double"))
    .withColumn("distinct_ratio",
      col("__w.n_distinct").cast("double") / col("__w.total").cast("double"))
    .withColumn("top_word_frac",
      col("__w.top").cast("double") / col("__w.total").cast("double"))
    .withColumn("dup_2gram_frac",
      when(col("__g2.total") === 0, lit(0.0))
        .otherwise(col("__g2.dup").cast("double") /
          col("__g2.total").cast("double")))
    .drop("__w", "__g2")

  /** The five Gopher accept rules over [[gopherStats]]' columns, in
    * fail_mask bit order — shared by t30 (bitmask) and t39 (keep). */
  private val gopherRules: Seq[Column] = Seq(
    col("n_words").between(10, 1000),
    col("mean_word_len").between(2.0, 10.0),
    col("distinct_ratio") > 0.2,
    col("top_word_frac") < 0.3,
    col("dup_2gram_frac") < 0.5)

  /** t30's build, shared with the t35 source-mix report (named members
    * rather than defs lookups: the oracle strings compose EAGERLY during
    * `defs` construction, and a self-referential map access there would
    * hit the half-initialized object). */
  private def t30Build(spark: SparkSession, dir: String): DataFrame =
    gopherStats(withWords(t(spark, dir, "documents")))
      .withColumn("fail_mask",
        gopherRules.zipWithIndex
          .map { case (r, i) => when(r, 0).otherwise(1 << i) }
          .reduce(_ + _).cast("int"))
      .withColumn("keep", col("fail_mask") === 0)
      .select("doc_id", "n_words", "mean_word_len", "distinct_ratio",
        "top_word_frac", "dup_2gram_frac", "fail_mask", "keep")
      .orderBy("doc_id")

  /** t34's partition-local top-k per language: a bounded insertion
    * buffer ordered by (count DESC, word ASC) whose word comparison is
    * over UTF-8 BYTES (`java.util.Arrays.compareUnsigned`, shorter
    * prefix first) — exactly `UTF8String`'s binary order, i.e. what the
    * downstream window's ORDER BY compares. Java's native String order
    * (UTF-16 code units) disagrees with it whenever a
    * supplementary-plane word (stored as surrogates U+D800–DFFF) ties on
    * count against a BMP word in U+E000–U+FFFF: bytewise the astral word
    * (lead byte F0+) sorts AFTER, code-unit-wise BEFORE. A prune keyed on
    * the String order could then drop a word the global window ranks
    * ≤ k. [[graft.PlanSpec]] pins the disagreement case. */
  /** Bounded-insertion top-k core shared by every partition-local top-k
    * ([[localVocabTopK]], [[localSourceTopQ]], t23's
    * `DataSelection.localLabelTopK`, the KMV sketches): per group, keep
    * the k `ord`-smallest entries
    * from a stream of (group, entry) pairs — O(k) state per (group,
    * partition), no shuffle. One implementation so a fix to the
    * insertion/trim logic can never apply to one caller and not the
    * other. */
  private[graft] def boundedTopK[G, E](it: Iterator[(G, E)], k: Int)(
      implicit ord: Ordering[E]): Iterator[(G, E)] = {
    require(k >= 1, s"boundedTopK needs k >= 1, got $k")
    val best = scala.collection.mutable.HashMap
      .empty[G, scala.collection.mutable.ArrayBuffer[E]]
    it.foreach { case (g, e) =>
      val buf = best.getOrElseUpdate(g,
        new scala.collection.mutable.ArrayBuffer[E](k + 1))
      if (buf.length < k || ord.lt(e, buf.last)) {
        buf += e
        var i = buf.length - 1
        while (i > 0 && ord.lt(buf(i), buf(i - 1))) {
          val t = buf(i - 1); buf(i - 1) = buf(i); buf(i) = t; i -= 1
        }
        if (buf.length > k) buf.remove(k)
      }
    }
    best.iterator.flatMap { case (g, buf) => buf.iterator.map(g -> _) }
  }

  /** t34's entry: UTF-8 bytes materialize LAZILY — most rows are
    * rejected on the count comparison alone, so their words are never
    * encoded. */
  private final class VocabEntry(val negC: Long, val w: String) {
    lazy val bytes: Array[Byte] =
      w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private[graft] def localVocabTopK(
      counts: org.apache.spark.sql.Dataset[(String, String, Long)],
      k: Int): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    implicit val ord: Ordering[VocabEntry] = (a: VocabEntry, b: VocabEntry) =>
      if (a.negC != b.negC) java.lang.Long.compare(a.negC, b.negC)
      else java.util.Arrays.compareUnsigned(a.bytes, b.bytes)
    counts.mapPartitions { it =>
      boundedTopK(it.map { case (lang, w, c) =>
        (lang, new VocabEntry(-c, w))
      }, k).map { case (lang, e) => (lang, e.w, -e.negC) }
    }.toDF("lang", "w", "c")
  }

  /** t32/t37/t51's bounded-state duplicate-span counter over exploded
    * (doc_id, h) span rows: per-(h, doc_id) counts (O(1) aggregation
    * state), then a SPILL-SAFE h-window counting each digest's distinct
    * docs (a boilerplate span shared by millions of documents streams
    * through the window's external buffer instead of materializing a
    * doc-id list inside one agg row), then per-doc totals
    * (n_total spans, n_dup spans whose digest is in ≥ `minDocs` docs).
    * ONE definition so the spill-safe shape can never drift between the
    * granularities (50-char substrings, paragraphs, t51's chunks). Measured COLD at sf0.1 (T32Lab): 0.59 s vs
    * 0.71 s (single-agg collect_list unfold) vs 0.84 s (round 5's
    * cache+join-back — its reported 0.65 s timed warm InMemoryRelation
    * hits, not engine cost). */
  private[queries] def dupSpanCounts(spans: DataFrame, minDocs: Int): DataFrame =
    spans.groupBy("h", "doc_id")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ndocs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_total"),
        sum(when(col("ndocs") >= minDocs, col("cnt")).otherwise(0L))
          .as("n_dup"))

  /** t26's cell count: one learned centroid per ~`targetCellSize`
    * vectors, so SemDeDup's within-cell pairwise cost (Σ|cell|²) stays
    * LINEAR in N — the guard round 5 left in prose. [[graft.PlanSpec]]
    * pins the growth. */
  /** t26's target vectors-per-cell (its oracle interpolates the SAME
    * constant, so an edit cannot diverge the two sides). */
  private[graft] val semdedupCellSize = 64

  /** t26's centroid-count CAP: k grows with the corpus (see
    * [[semdedupK]] — ⌈N/cellSize⌉ to N = 4096, then the balanced ⌈√N⌉
    * arm) until this ceiling, past which cells grow instead. 2¹⁸ = 262 144
    * (r16, was 4096 — the old cap made cells grow as N/4096 past only
    * ~262k vectors, concentrating whole multi-MB cells in single fold
    * rows long before the flops bit). The ceiling is sized by THREE
    * bounds, with the math shown:
    *
    *  - Driver/broadcast artifacts: the one-Lloyd-round collect is
    *    k×(1 count + 64 longs) ≈ k×520 B ≈ 136 MB, and the broadcast
    *    centroid table k×(id + 64 doubles + norm) ≈ 134 MB — heavy but
    *    BOUNDED constants once the cap binds, independent of N (an
    *    uncapped k = N/64 made both O(N): a 10⁹-vector corpus would
    *    collect 10⁷ centroids ≈ 8 GB to the driver).
    *  - Assignment flops: nearest-centroid assignment is brute-force
    *    N·k dots (the published SemDeDup/faiss regime — no shuffle,
    *    embarrassingly parallel map work). Capped, it is LINEAR in N:
    *    N×2.6×10⁵ 64-wide dots.
    *  - Pair flops: within-cell pairwise is Σ|cell|² ≈ N²/k once cells
    *    outgrow [[semdedupCellSize]] (below that, 64·N linear).
    *
    * N·k and N²/k cross at k = √N, so the right fixed cap is √N at the
    * design corpus: at the 100 TB / 10¹⁰-vector point √N ≈ 10⁵, and
    * 2¹⁸ sits at that magnitude — assignment ≈ 2.6×10¹⁵ dots and pair
    * work ≈ 3.8×10¹⁴ dots, within ~7× of each other and both linear-
    * per-executor map/agg work. Published SemDeDup runs the same
    * fixed-cluster trade (50k clusters for LAION); the quadratic-in-N
    * pair regime past the cap is the algorithm's own behavior, not an
    * implementation artifact. The oracle interpolates the same
    * constant. Cell MEMORY (not just flops) is guarded separately:
    * past [[semdedupFoldMaxCell]] expected members the pair stage
    * falls back from the collect_list fold to the streamed join shape
    * ([[semdedupVerdictsJoin]]), so no single aggregation row grows
    * with N. */
  private[graft] val semdedupMaxCells = 262144

  /** Expected within-cell membership (N/k) above which t26's pair
    * stage abandons the cell-local collect_list fold for the streamed
    * self-join. r16 set this at 4096 on memory-RESIDENCY grounds
    * (~280 B/member → 1.2 MB per aggregation row); r17's T26FoldLab
    * MEASURED the crossover with cells forced to each size and found
    * wall time, not memory, binds far earlier: the fold's interpreted
    * per-pair lambda dispatch costs ~2× the join's codegen'd pair loop
    * once pair work dominates the join's extra-exchange floor (run-2
    * walls, fold vs join: m=64 0.17/0.24 s, m=128 0.14/0.18, m=256
    * 0.19/0.21, m=512 0.45/0.32, m=1024 1.7/1.0, m=4096 23.8/14.3; GC
    * ≤0.9 s of a 28 s fold even at m=4096, so allocation churn from
    * the O(m²) transient slices is NOT the binder either). Crossover
    * ≈300 members → constant set at 256, the safe side. The join shape
    * streams the same pairs through a SortMergeJoin's external sort;
    * PlanSpec pins the two shapes equal row-for-row, and gate-scale
    * fixtures (m ≈ √N ≤ 45 at sf0.1) stay on the fold. */
  private[graft] val semdedupFoldMaxCell = 256

  /** Cell count: k = min(⌈N/cellSize⌉, ⌈√N⌉, cap). The √N term is the
    * r18 fix to a super-linear regime the 100× probe caught ABOVE the
    * 30× sweep (t03's lesson repeated): with k = N/64 alone, the
    * brute-force assignment's N·k dots are N²/64 — measured 35.5 s /
    * 50× wall for 100× data at 200k vectors, all of it in the
    * broadcast-probe argmin. The cap's own sizing math (above) says
    * assignment N·k and pair work N²/k CROSS at k = √N, so √N is the
    * balanced sizing everywhere, not just at the design corpus:
    * N ≤ 4096 keeps the ⌈N/64⌉ arm (gate fixtures and their oracle
    * answers unchanged), past it both flop terms grow as N^1.5 until
    * the 2¹⁸ ceiling (now binding from N ≈ 6.9×10¹⁰, where published
    * SemDeDup's fixed-cluster regime takes over). Re-measured at the
    * 100× probe after the fix: 7.7 s, 10.6× wall for 100× data. The
    * oracle's nk CTE interpolates the SAME three-term formula. */
  private[graft] def semdedupK(n: Long,
      targetCellSize: Int = semdedupCellSize,
      maxCells: Int = semdedupMaxCells): Int =
    math.max(1, math.min(math.min(maxCells.toDouble,
      math.ceil(n.toDouble / targetCellSize)),
      math.ceil(math.sqrt(n.toDouble))).toInt)

  /** t34's per-language vocabulary size and t38/t39's per-source doc
    * quota — interpolated into BOTH the Spark builds and the oracle SQL
    * (a constant edit cannot diverge the paired sides). */
  private val vocabK = 20
  private val sourceQuota = 20

  /** t42/t45's exact-Jaccard verification threshold (interpolated into
    * both sides; the fixture's candidate pairs split cleanly — true
    * near-dups sit ≥ 0.9, LSH false positives < 0.05). */
  private val neardupJaccard = 0.5

  /** Appends the exact shingle-Jaccard verdict `jacc_ok` to a
    * (doc_a, doc_b) candidate-pair frame, joining each side's shingle
    * set from `sh` = (doc_id, sh). The threshold test multiplies
    * instead of dividing (n_inter ≥ thr·union), so an empty-shingle
    * pair (union 0) rejects without a NaN entering either engine. ONE
    * definition shared by t42's funnel and t45's sweep; DuckDB twin:
    * [[jaccardOkDuck]]. */
  private def jaccardVerify(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("n_union",
        size(col("sha")) + size(col("shb")) - col("n_inter"))
      .withColumn("jacc_ok", col("n_union") > 0 &&
        col("n_inter").cast("double") >=
          lit(neardupJaccard) * col("n_union").cast("double"))

  /** DuckDB twin of [[jaccardVerify]]'s `jacc_ok` over shingle-list
    * relations aliased `a` / `b` (each with an `sh` column). */
  private def jaccardOkDuck(a: String, b: String): String =
    s"""(len($a.sh) + len($b.sh) - len(list_intersect($a.sh, $b.sh))) > 0
       |    AND CAST(len(list_intersect($a.sh, $b.sh)) AS DOUBLE)
       |      >= $neardupJaccard * CAST(len($a.sh) + len($b.sh)
       |        - len(list_intersect($a.sh, $b.sh)) AS DOUBLE)""".stripMargin

  /** t33/t52's symmetric int8 quantization, ONE definition per engine so
    * the compression step (t33) and the quantized index scan that
    * consumes it (t52) can never drift: per-vector scale = max|x|,
    * q_i = floor(x_i · 127 / scale + 0.5). All arithmetic is
    * exact-or-correctly-rounded IEEE (mul, div, floor, abs, max), so
    * quantized values are bit-identical across engines. */
  private def maxAbsExpr(v: String): String =
    s"array_max(transform($v, x -> abs(cast(x as double))))"

  private def quantExpr(v: String, m: String): String =
    s"""CASE WHEN $m = 0D THEN transform($v, x -> 0L)
       |ELSE transform($v,
       |  x -> cast(floor(cast(x as double) * 127.0 / $m + 0.5)
       |       as bigint)) END""".stripMargin

  /** DuckDB twin of [[maxAbsExpr]]. */
  private def maxAbsDuck(v: String): String =
    s"list_max(list_transform($v, x -> abs(CAST(x AS DOUBLE))))"

  /** DuckDB twin of [[quantExpr]]. */
  private def quantDuck(v: String, m: String): String =
    s"""CASE WHEN $m = 0 THEN
       |      list_transform($v, x -> CAST(0 AS BIGINT))
       |    ELSE list_transform($v,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / $m + 0.5)
       |           AS BIGINT)) END""".stripMargin

  /** t52's re-rank pool: the int8 pre-score keeps this many candidates
    * for exact re-ranking (interpolated into both sides). */
  private val rerankCand = 40

  /** t44's PII patterns — the REGEX SUBSET shared exactly by Java
    * (Spark) and RE2 (DuckDB): character classes, bounded repeats,
    * grouping; no backreferences or lookaround, `[0-9]` over `\d`. The
    * Scala constants are passed verbatim to both engines (DataFrame-API
    * literals on the Spark side, interpolation on the DuckDB side), so
    * there is no double-escaping layer to diverge. */
  private val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val phoneRe = """[0-9]{3}-[0-9]{3}-[0-9]{4}"""
  private val ipRe = """([0-9]{1,3}\.){3}[0-9]{1,3}"""

  /** t26's LCG centroid seed family (t16's, salted +100). */
  private[graft] def lcgCentroid(j: Int): IndexedSeq[Double] =
    (1 to 64).map { d =>
      val m = (j.toLong * 1103515245L + d.toLong * 12345L) % 32768L
      m.toDouble / 32768.0 - 0.5
    }

  private def centroidNorm(c: Seq[Double]): Double =
    c.foldLeft(0.0)((a, x) => a + x * x)

  /** Nearest-centroid assignment (squared-distance argmin, first-min
    * tie-break == lowest cell id): appends `cell` to `df`.
    *
    * While k ≤ `literalCap` the centroids ride as literals, so the whole
    * pass is ONE codegen'd shuffle-free projection (k float_dots per
    * row). Past the cap they become a broadcast table probed row-by-row,
    * with the per-vector argmin as a map-side-combinable
    * min(struct(dist, cid)) agg keyed on `key`: same doubles, same
    * tie-break, join-shaped plan. PlanSpec pins the equality of the two
    * forms, so the switch is a cost decision, not a semantics one.
    *
    * literalCap = 32 (r16, was 256): a k-wide literal projection cannot
    * split inside whole-stage codegen, and past ~32 dot loops the
    * generated method crosses the JVM's huge-method JIT limit — the
    * stage runs as INTERPRETED bytecode. Measured on 60k vectors
    * (AssignCellsLab, warm): literal 0.37 s at k=32 but 13.2 s at k=64
    * and 50.4 s at k=256, while the broadcast form holds ~0.7 s
    * throughout — the cliff is the JIT limit, not the flops. */
  private[graft] def assignCells(df: DataFrame, key: String,
      cs: Seq[(Int, IndexedSeq[Double])], literalCap: Int = 32): DataFrame =
    if (cs.size <= literalCap) {
      val dists = array(cs.map { case (_, c) =>
        lit(centroidNorm(c)) - lit(2.0) * dotCol(col("embedding"), typedlit(c))
      }: _*)
      val cellIds = typedlit(cs.map(_._1))
      df.withColumn("__d", dists)
        .withColumn("cell", element_at(cellIds,
          expr("array_position(__d, array_min(__d))").cast("int")))
        .drop("__d")
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val cents = cs.map { case (id, c) => (id, c.toSeq, centroidNorm(c)) }
        .toDF("__cid", "__cvec", "__cnrm")
      val best = df.select(col(key), col("embedding"))
        .crossJoin(broadcast(cents))
        .select(col(key), struct(
          (col("__cnrm") - lit(2.0) * dotCol(col("embedding"), col("__cvec")))
            .as("d"),
          col("__cid").as("cid")).as("dc"))
        .groupBy(key).agg(min("dc").as("dc"))
        .select(col(key), col("dc.cid").as("cell"))
      df.join(best, key)
    }

  /** t26's pair stage, fold shape (r15): within-cell pairs unfold
    * INSIDE the cell's collected member list — groupBy(cell) +
    * sort_array(collect_list) + HOF replaces the self-join's second
    * corpus exchange + SortMergeJoin + pair re-shuffle with ONE
    * exchange (measured 0.85→0.41 s for the pair job at sf0.1,
    * T26Probe; same rows, same hash). sort_array orders members by
    * vec_id (unique first struct field), so slice(ms, 1, i) enumerates
    * exactly the p < m candidates and `least` folds the min keep id.
    * The cosine kernel stays the compiled float_dot either way — the
    * lambda dispatch around it is interpreted, a constant per pair that
    * the saved exchange dwarfs. MEMORY bound: one aggregation row holds
    * a whole cell (~280 B/member), so this shape is only chosen while
    * expected membership ≤ [[semdedupFoldMaxCell]]; past that
    * [[semdedupVerdictsJoin]] streams the same pairs instead.
    * `assigned` = (vec_id, cell, embedding, nrm). */
  private[graft] def semdedupVerdictsFold(assigned: DataFrame): DataFrame = {
    val cells = assigned.groupBy("cell")
      .agg(sort_array(collect_list(struct(
        col("vec_id"), col("embedding"), col("nrm")))).as("ms"))
    cells.select(col("cell"), explode(expr(
      """filter(
        |  transform(ms, (m, i) ->
        |    (aggregate(
        |       filter(slice(ms, 1, i),
        |         p -> CAST(float_dot(p.embedding, m.embedding) AS DOUBLE)
        |              / (sqrt(CAST(p.nrm AS DOUBLE))
        |                 * sqrt(CAST(m.nrm AS DOUBLE))) >= 0.3D),
        |       struct(CAST(NULL AS BIGINT) AS dup_of, 0L AS n_near),
        |       (acc, p) -> struct(
        |         least(coalesce(acc.dup_of, p.vec_id), p.vec_id) AS dup_of,
        |         acc.n_near + 1L AS n_near),
        |       acc -> struct(m.vec_id AS vec_id, acc.dup_of, acc.n_near)))),
        |  v -> v.n_near > 0L)""".stripMargin)).as("v"))
      .select(col("v.vec_id").as("vec_id"), col("cell"),
        col("v.dup_of").as("dup_of"), col("v.n_near").as("n_near"))
  }

  /** t26's pair stage, join shape: the pre-r15 within-cell self-join
    * (SortMergeJoin on cell, vec_id < pair guard, per-drop-id
    * min/count aggregate). One more exchange than the fold, but every
    * row is ONE pair — no aggregation value grows with cell size, so
    * this is the shape for the post-[[semdedupMaxCells]] regime where
    * cells grow as N/k and a collected cell would concentrate tens of
    * MB in a single fold row. Same float_dot kernel, same double
    * arithmetic (float_dot's ascending-index fold is symmetric in its
    * arguments, so keep-side-first equals the fold's earlier-member-
    * first), same (vec_id, cell, dup_of, n_near) output; PlanSpec pins
    * the two shapes equal row-for-row. */
  private[graft] def semdedupVerdictsJoin(assigned: DataFrame): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(
        expr(dotSql("a.embedding", "b.embedding")).cast("double") /
          (sqrt(col("a.nrm").cast("double")) *
            sqrt(col("b.nrm").cast("double"))) >= lit(0.3))
      .groupBy(col("b.vec_id").as("vec_id"), col("a.cell").as("cell"))
      .agg(min(col("a.vec_id")).as("dup_of"), count(lit(1)).as("n_near"))

  /** t38/t39's partition-local top-Q per source: (source, doc_id, qfp)
    * rows reduced to ≤ Q per (source, input partition) with a bounded
    * insertion buffer — no shuffle — ordered by (qfp DESC, doc_id ASC),
    * the same tuple order the downstream window uses, so the global
    * top-Q is contained in the survivors (t23/t34's skew guard:
    * #sources ≪ cores, so the window alone would rank the whole corpus
    * in #sources tasks). */
  private[graft] def localSourceTopQ(
      scored: org.apache.spark.sql.Dataset[(String, Long, Long)],
      q: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.mapPartitions { it =>
      // entries are (negated qfp, doc_id): plain tuple order ==
      // the window's (qfp DESC, doc_id ASC)
      boundedTopK(it.map { case (src, id, qfp) => (src, (-qfp, id)) }, q)
        .map { case (src, (negQ, id)) => (src, id, -negQ) }
    }.toDF("source", "doc_id", "qfp")
  }

  /** Appends t08's quality-score INPUT columns (n_tokens, stop_hits,
    * punct_chars) to a documents frame, keeping existing columns —
    * shared by [[withQuality]] and t39's fused scan. */
  private[queries] def qualityInputs(df: DataFrame): DataFrame = df
    .withColumn("n_tokens", size(split(col("text"), " ")))
    .withColumn("stop_hits", expr(
      "size(filter(split(lower(text), ' '), x -> x IN ('the','a','and','of','to','in','is')))"))
    // punct count via the POSITIVE class: length(strip([a-zA-Z0-9 ]))
    // keeps exactly the chars the negated class would have counted as
    // len(text) − len(strip([^…])) — the same integer for any Unicode
    // content — but Java's regex engine runs the negated single-char
    // class ~21× slower (T08Lab at 30×: 7.05 s vs 0.33 s; a negated
    // class falls off Pattern's ASCII bit-table fast path). This was
    // the WHOLE quality family's hot spot (t08/t35/t38/t39/t63/t72/
    // t80 share this scan). The DuckDB oracle keeps the negated
    // spelling — value parity is the identity above, and the gate
    // re-proves it every round.
    .withColumn("punct_chars",
      length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))

  /** t08's quality combination over [[qualityInputs]]' columns — the
    * ONE definition of the weights (its DuckDB twin is [[qualityDuck]]).
    * All inputs are integer counts + exact IEEE arithmetic, so the
    * doubles are engine-identical. */
  private[queries] val qualityCol: Column =
    (col("stop_hits").cast("double") / col("n_tokens").cast("double")) * 0.5 +
      least(col("n_tokens"), lit(100)).cast("double") / 100.0 * 0.3 +
      (lit(1.0) - col("punct_chars").cast("double") /
        col("n_chars").cast("double")) * 0.2

  /** t08's quality score per document — shared by the t35 source-mix
    * report and t38's per-source quota cap: (doc_id, source, quality). */
  private def withQuality(spark: SparkSession, dir: String): DataFrame =
    qualityInputs(t(spark, dir, "documents"))
      .withColumn("quality", qualityCol)
      .select(col("doc_id"), col("source"), col("quality"))

  /** DuckDB twin of [[withQuality]]'s quality expression (over a
    * `documents` row). */
  private[queries] val qualityDuck: String =
    """CAST(len(list_filter(string_split(lower(text), ' '),
      |        x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.5
      |    + CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE)
      |      / 100.0 * 0.3
      |    + (1.0 - CAST(length(text)
      |        - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
      |        AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.2""".stripMargin

  /** t30's DuckDB twin, shared with t35 (see [[t30Build]]). */
  private val t30Oracle: String =
    """WITH ws AS (
    |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    |tok AS (
    |  SELECT doc_id, 0 AS kind, unnest(words) AS tok FROM ws
    |  UNION ALL
    |  SELECT doc_id, 1 AS kind,
    |    unnest(list_transform(range(1, len(words)),
    |      i -> array_to_string(words[i:i+1], ' '))) AS tok
    |  FROM ws),
    |wc AS (
    |  SELECT doc_id, kind, tok, COUNT(*) AS c
    |  FROM tok GROUP BY doc_id, kind, tok),
    |stats AS (
    |  SELECT doc_id,
    |    CAST(SUM(CASE WHEN kind = 0 THEN c END) AS BIGINT) AS n_words,
    |    COUNT(CASE WHEN kind = 0 THEN 1 END) AS n_distinct,
    |    MAX(CASE WHEN kind = 0 THEN c END) AS top_count,
    |    SUM(CASE WHEN kind = 1 THEN c END) AS n_2grams,
    |    COALESCE(SUM(CASE WHEN kind = 1 AND c > 1 THEN c END), 0)
    |      AS dup_2grams
    |  FROM wc GROUP BY doc_id),
    |scored AS (
    |  SELECT s.doc_id, s.n_words,
    |    CAST(d.n_chars - s.n_words + 1 AS DOUBLE)
    |      / CAST(s.n_words AS DOUBLE) AS mean_word_len,
    |    CAST(s.n_distinct AS DOUBLE) / CAST(s.n_words AS DOUBLE)
    |      AS distinct_ratio,
    |    CAST(s.top_count AS DOUBLE) / CAST(s.n_words AS DOUBLE)
    |      AS top_word_frac,
    |    CASE WHEN COALESCE(s.n_2grams, 0) = 0 THEN 0.0
    |         ELSE CAST(s.dup_2grams AS DOUBLE)
    |           / CAST(s.n_2grams AS DOUBLE) END AS dup_2gram_frac
    |  FROM stats s JOIN documents d ON d.doc_id = s.doc_id)
    |SELECT doc_id, n_words, mean_word_len, distinct_ratio,
    |  top_word_frac, dup_2gram_frac,
    |  CAST((CASE WHEN n_words BETWEEN 10 AND 1000 THEN 0 ELSE 1 END)
    |    + (CASE WHEN mean_word_len BETWEEN 2.0 AND 10.0 THEN 0 ELSE 2 END)
    |    + (CASE WHEN distinct_ratio > 0.2 THEN 0 ELSE 4 END)
    |    + (CASE WHEN top_word_frac < 0.3 THEN 0 ELSE 8 END)
    |    + (CASE WHEN dup_2gram_frac < 0.5 THEN 0 ELSE 16 END)
    |    AS INTEGER) AS fail_mask,
    |  (CASE WHEN n_words BETWEEN 10 AND 1000 THEN 0 ELSE 1 END)
    |    + (CASE WHEN mean_word_len BETWEEN 2.0 AND 10.0 THEN 0 ELSE 2 END)
    |    + (CASE WHEN distinct_ratio > 0.2 THEN 0 ELSE 4 END)
    |    + (CASE WHEN top_word_frac < 0.3 THEN 0 ELSE 8 END)
    |    + (CASE WHEN dup_2gram_frac < 0.5 THEN 0 ELSE 16 END) = 0
    |    AS keep
    |FROM scored
    |ORDER BY doc_id""".stripMargin

  /** t76's winnowing fingerprint selection (MOSS): positional word
    * 3-gram hashes, window-min over every w=4 consecutive grams,
    * DISTINCT mins per document — one compiled pass via the native
    * [[graft.functions.WinnowFps]] expression (bit-identical to the
    * relational posexplode → two-windows → DISTINCT spelling the DuckDB
    * oracle keeps, and to the md5/conv hash arithmetic; measured 1.5 s
    * → 0.5 s at sf0.1 by deleting the exploded-corpus sort the windows
    * forced). Guarantee (tested on synthetic docs in QualitySketchSpec):
    * any ≥ 6 consecutive shared words (≥ w shared consecutive grams)
    * put one full window inside the shared span, so both documents
    * record the SAME min — near-dup recall is structural, not
    * probabilistic. Fingerprinting is now a PURE MAP: only the emitted
    * fingerprints (≈ grams/w per doc) ever reach an exchange.
    *
    * @param docs frame with at least (doc_id, text)
    * @return (doc_id, fp) — distinct 32-bit fingerprint values per doc
    */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame =
    withWords(docs)
      .select(col("doc_id"), explode(expr("winnow_fps(words, 3, 4)")).as("fp"))

  /** t31 stage 1 — the shared index pass: ONE corpus scan computing the
    * 8-bit hyperplane LSH signature, the 8 centroid dots, and the IVF
    * cell per vector (16 native float_dot kernels per row, no shuffle).
    * Split out (r17 verdict ask #5) so the sweep's stages could be timed
    * separately and its 30× ratio landed on a measured stage (T31Lab;
    * README "Lab record"). */
  private[graft] def t31Prepared(spark: SparkSession, dir: String): DataFrame = {
    import TrainingData.planeCol
    val planeDots = (1 to 8).map { j =>
      when(dotCol(col("embedding"), planeCol(j)) > 0, 1 << (j - 1))
        .otherwise(0)
    }
    val cdots = array((1 to 8)
      .map(k => dotCol(col("embedding"), planeCol(k + 100))): _*)
    t(spark, dir, "embeddings")
      .withColumn("sig", planeDots.reduce(_ + _).cast("int"))
      .withColumn("cdots", cdots)
      .withColumn("cell",
        expr("array_position(cdots, array_max(cdots))").cast("int"))
  }

  /** t31 stage 2 — the scored sweep: broadcast the 1-row query frame,
    * evaluate all 7 (method, param) match predicates per corpus row,
    * compute the exact cosine ONCE, and explode the matching configs to
    * (grp, vec_id, cosine). The "exact" config matches every row (t05's
    * brute-force ground truth riding the same scan), so this stage's
    * output is between 1× and 7× the corpus in rows — the sweep's only
    * data-proportional fan-out. */
  private[graft] def t31Cands(spark: SparkSession, dir: String): DataFrame = {
    val prepared = t31Prepared(spark, dir)
    val q = prepared.filter(col("vec_id") === 0)
      .select(Seq(col("embedding").as("q_emb"), col("sig").as("q_sig"),
        expr(dotSql("embedding", "embedding")).as("nq")) ++
        (1 to 4).map(i =>
          expr(s"array_position(cdots, element_at(array_sort(cdots), ${9 - i}))")
            .cast("int").as(s"p$i")): _*)
    // t06's banded signature match: bands of 8/b bits, ANY band equal
    def lshMatch(bands: Int): Column = {
      val w = 8 / bands
      (0 until bands).map(b =>
        expr(s"(sig div ${1 << (b * w)}) % ${1 << w}") ===
          expr(s"(q_sig div ${1 << (b * w)}) % ${1 << w}"))
        .reduce(_ || _)
    }
    // t13's cells: candidate's cell among the query's top-p probes
    def ivfMatch(probe: Int): Column =
      (1 to probe).map(i => col("cell") === col(s"p$i")).reduce(_ || _)
    val configs =
      Seq(2, 4, 8).map(b => ("lsh_ann", b, lshMatch(b))) ++
        Seq(1, 2, 4).map(pr => ("ivf_ann", pr, ivfMatch(pr))) :+
        (("exact", 0, lit(true)))
    // the "exact" config matches every row, so no pre-cosine filter:
    // every candidate scores (exactly t05's brute-force cost) and the
    // approx configs just tag which subset they would have admitted
    prepared.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .withColumn("cfgs", array(configs.map { case (m, pr, c) =>
        struct(lit(m).as("method"), lit(pr).as("param"),
          c.as("matched")) }: _*))
      .withColumn("dot", expr(dotSql("embedding", "q_emb")))
      .withColumn("na", expr(dotSql("embedding", "embedding")))
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nq").cast("double"))))
      .select(explode(expr("filter(cfgs, x -> x.matched)")).as("cfg"),
        col("vec_id"), col("cosine"))
      .select(concat(col("cfg.method"), lit("|"), col("cfg.param"))
        .as("grp"), col("vec_id"), col("cosine"))
  }

  /** t31 stage 3 — the bounded finish: partition-local 10-heaps per
    * config (≤ 7·10·partitions survivor rows regardless of corpus
    * size), the exact global pick, and the 6-row recall grid. */
  private def t31Build(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // entries are (negated cosine, vec_id): plain tuple order ==
    // the final pick's (cosine DESC, vec_id ASC); IEEE negation is
    // exact, so the round trip changes no value
    val survivors = t31Cands(spark, dir).as[(String, Long, Double)]
      .mapPartitions { it =>
        boundedTopK(it.map { case (g, v, c) => (g, (-c, v)) }, 10)
          .map { case (g, (nc, v)) => (g, v, -nc) }
      }.collect()
    val top10 = survivors.groupBy(_._1).map { case (g, rows) =>
      g -> rows.map { case (_, v, c) => (-c, v) }.sorted.take(10)
        .map(_._2).toSet
    }
    val exactIds = top10.getOrElse("exact|0", Set.empty[Long])
    val grid = Seq(("ivf_ann", 1), ("ivf_ann", 2), ("ivf_ann", 4),
      ("lsh_ann", 2), ("lsh_ann", 4), ("lsh_ann", 8))
    grid.map { case (m, p) =>
      val nHits = top10.getOrElse(s"$m|$p", Set.empty[Long])
        .count(exactIds.contains).toLong
      (m, p, nHits, nHits.toDouble / 10.0)
    }.toDF("method", "param", "n_hits", "recall")
      .orderBy("method", "param")
  }

  /** t36's DuckDB verdict CTEs: `flag` (new or old source), `exact`
    * (new docs whose md5 is in the old corpus) and `near` (new docs
    * sharing a MinHash band bucket with an old doc). p23's gate reads
    * the same chain for its keep rule. */
  private[queries] val incrementalDedupDuck: String =
    s"""WITH ${TrainingData.minhashBandsDuck},
       |flag AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS INT) >= 10 AS is_new
       |  FROM documents),
       |h AS (SELECT doc_id, md5(text) AS h FROM documents),
       |oldh AS (
       |  SELECT DISTINCT h.h FROM h JOIN flag USING (doc_id)
       |  WHERE NOT is_new),
       |exact AS (
       |  SELECT DISTINCT h.doc_id FROM h
       |  JOIN flag USING (doc_id) JOIN oldh ON oldh.h = h.h
       |  WHERE flag.is_new),
       |oldb AS (
       |  SELECT DISTINCT band, bucket FROM bands
       |  JOIN flag USING (doc_id) WHERE NOT is_new),
       |near AS (
       |  SELECT DISTINCT b.doc_id FROM bands b
       |  JOIN flag USING (doc_id)
       |  JOIN oldb USING (band, bucket)
       |  WHERE flag.is_new)""".stripMargin

  /** Dedup-method agreement of t02's MinHash pairs and one SimHash
    * near-dup query's pairs (t40, t103, t106): candidate counts, overlap
    * and Jaccard agreement from a full outer join of the two id-pair
    * lists. `simhash` names the [[TrainingData]] query that is the SimHash
    * leg, the one thing the members differ in. */
  private def dedupAgreement(simhash: String): QueryDef = QueryDef(
    (spark, dir) => {
      val mh = minhashPairs(spark, dir)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_m"))
      val sh = TrainingData.defs(simhash).build(spark, dir)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_s"))
      mh.join(sh, Seq("doc_a", "doc_b"), "full")
        .select(coalesce(col("in_m"), lit(0L)).as("in_m"),
          coalesce(col("in_s"), lit(0L)).as("in_s"))
        .agg(sum("in_m").as("n_minhash"), sum("in_s").as("n_simhash"),
          sum(expr("in_m * in_s")).as("n_both"))
        .withColumn("agreement",
          col("n_both").cast("double") /
            (col("n_minhash") + col("n_simhash") - col("n_both")).cast("double"))
        .select("n_minhash", "n_simhash", "n_both", "agreement")
    },
    Some {
      val shSql = TrainingData.defs(simhash).oracle.get
      s"""WITH $minhashPairsDuck,
         |s AS (SELECT doc_a, doc_b FROM ($shSql)),
         |u AS (
         |  SELECT
         |    CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_m,
         |    CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_s
         |  FROM pairs m FULL OUTER JOIN s
         |    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b)
         |SELECT CAST(SUM(in_m) AS BIGINT) AS n_minhash,
         |  CAST(SUM(in_s) AS BIGINT) AS n_simhash,
         |  CAST(SUM(in_m * in_s) AS BIGINT) AS n_both,
         |  CAST(SUM(in_m * in_s) AS DOUBLE)
         |    / CAST(SUM(in_m) + SUM(in_s) - SUM(in_m * in_s) AS DOUBLE)
         |    AS agreement
         |FROM u""".stripMargin
    })

  val defs: Map[String, QueryDef] = Map(

    // ----------------------------------------------------------------- t89
    // CLUSTER-CANONICAL SELECTION by quality: for every near-dup cluster
    // (t15's connected components over the MinHash pairs), keep the
    // member with the BEST t08 quality (doc_id tie-break) — the
    // dedup-resolution policy real curation pipelines run (keep the
    // cleanest copy), vs t01/t15's keep-lowest-id and t26's
    // embedding-centroid variants. Output: one row per cluster with the
    // kept document, its fixed-point quality, and the cluster size.
    //
    // Scale shape: components via [[graft.operators.Components]]
    // (min-label propagation, O(diameter) rounds); the quality is a map
    // pass; the winner-per-cluster is a rank window PARTITIONED BY
    // cluster_id — corpus-cardinality key, bounded partitions (cluster
    // sizes), never global; the size agg partial-aggregates. Quality
    // compares as FLOOR(q·1e6+0.5) longs (t80's recipe), so ranking is
    // engine-identical.
    "t89_cluster_canonical" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val labels = graft.operators.Components.connected(
          docs.select("doc_id"), TrainingData.minhashPairs(spark, dir))
        // t80's CLAMPED recipe (both rules): NaN from a degenerate
        // 0/0 quality term orders above every number in both engines,
        // so LEAST(1.0, NaN) = 1.0 — a defined top-rank value instead
        // of a Spark-NaN-vs-DuckDB-NULL divergence
        val q = qualityInputs(docs)
          .withColumn("qfp", floor(
            greatest(lit(0.0), least(lit(1.0), qualityCol))
              * 1e6 + 0.5).cast("long"))
          .select("doc_id", "qfp")
        val joined = labels
          .select(col("doc_id"), col("label").as("cluster_id"))
          .join(q, "doc_id")
        // winner + size in ONE map-side-combinable aggregation (r21):
        // rank-1 under (qfp DESC, doc_id ASC) ≡ max of the
        // (qfp, −doc_id) struct (t42's recipe), so the window — a full
        // sort of the joined corpus by cluster_id with no partial
        // aggregation — collapses to a hash agg whose exchange carries
        // one row per (cluster, map partition)
        joined.groupBy("cluster_id")
          .agg(max(struct(col("qfp"), (-col("doc_id")).as("neg_id")))
            .as("best"), count(lit(1)).as("n_members"))
          .select(col("cluster_id"), (-col("best.neg_id")).as("keep_doc_id"),
            col("best.qfp").as("keep_qfp"), col("n_members"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE ${TrainingData.minhashPairsDuck},
              |${TrainingData.pairEdgesDuck("pairs")},
              |${TrainingData.componentsDuck},
              |lab AS (
              |  SELECT d.doc_id,
              |    LEAST(d.doc_id, COALESCE(c.min_reach, d.doc_id)) AS cluster_id
              |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
              |q AS (
              |  SELECT doc_id,
              |    CAST(FLOOR(GREATEST(0.0, LEAST(1.0, ${qualityDuck}))
              |      * 1e6 + 0.5) AS BIGINT) AS qfp
              |  FROM documents),
              |j AS (
              |  SELECT l.cluster_id, l.doc_id, q.qfp
              |  FROM lab l JOIN q ON l.doc_id = q.doc_id),
              |r AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
              |    ORDER BY qfp DESC, doc_id) AS rnk,
              |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
              |  FROM j)
              |SELECT cluster_id, doc_id AS keep_doc_id,
              |  qfp AS keep_qfp, CAST(n_members AS BIGINT) AS n_members
              |FROM r WHERE rnk = 1 ORDER BY cluster_id""".stripMargin)),

    // ----------------------------------------------------------------- t26
    // SEMANTIC dedup (SemDeDup shape): assign every embedding to its
    // nearest centroid, compare pairs ONLY within a cell by exact
    // cosine, and drop the higher vec_id of every pair above the
    // similarity threshold. Within-cell pairwise is the published
    // SemDeDup algorithm; its cost is Σ|cell|², held LINEAR in code by
    // k = ⌈N / targetCellSize⌉ ([[semdedupK]] — round 5 hard-wired the
    // fixture's 8 literals, so a 100× corpus meant 100× cells and
    // 10 000× pair work). Centroids are LEARNED: one Lloyd round from k
    // LCG seeds using t16's fixed-point recipe, so the centroid doubles
    // — and every distance computed from them — are bit-identical across
    // engines. The corpus count comes from parquet footers when the
    // file listing is small and a distributed count() job otherwise;
    // the k×64 fixed-point Lloyd collect is the ONE unavoidable driver
    // action, bounded at extreme N by the [[semdedupMaxCells]] cap
    // (2¹⁸ → ≤136 MB collected/broadcast; see the cap's sizing math —
    // the published-SemDeDup fixed-cluster-count regime; PlanSpec pins
    // growth below the cap and the ceiling above it). The corpus
    // shuffles ONCE on cell; pairs unfold and fold to per-dropped-id
    // verdicts inside each collected cell ([[semdedupVerdictsFold]]),
    // switching to the streamed self-join ([[semdedupVerdictsJoin]])
    // once expected membership would make a fold row unbounded — so the
    // output is a dedup decision, not a candidate list, at any N.
    "t26_semdedup" -> QueryDef(
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val n = rowCount(spark, dir, "embeddings")
        val kCells = semdedupK(n)
        // min-distance assignment; first-min tie-break == lowest cell,
        // matching the oracle's ROW_NUMBER ... ORDER BY dist, cell.
        // assignCells picks literal-expression vs broadcast-table form
        // by k; both are pinned equal in PlanSpec.
        def assign(cs: Seq[(Int, IndexedSeq[Double])]): DataFrame =
          assignCells(emb, "vec_id", cs)
        val init = (1 to kCells).map(c => c -> lcgCentroid(c + 100))
        // 64 fixed-point sum slots in ONE map-side-combinable aggregate
        // (same FLOOR(v*1e6+0.5) long arithmetic as before) instead of a
        // 64× posexplode through two shuffles — the exchange carries
        // k×(64 longs + count), and the measured t26 floor drops
        // 0.84→0.6 s at sf0.1. Spark's FLOOR(double) is already BIGINT,
        // so the sums stay exact longs end to end.
        val learned = assign(init)
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), (0 until 64).map(i =>
            sum(floor(element_at(col("embedding"), i + 1) * 1e6 + 0.5))
              .as(s"s$i")): _*)
          .collect()
          .map { r =>
            val cn = r.getLong(1)
            r.getInt(0) ->
              (0 until 64).map(i => r.getLong(i + 2) / 1e6 / cn).toIndexedSeq
          }.sortBy(_._1).toSeq
        // self-norms hoisted to the assignment pass: one float_dot per
        // VECTOR here instead of two per PAIR (the pair side is
        // quadratic within cells); same doubles, just computed once
        val assigned = assign(learned)
          .withColumn("nrm", expr(dotSql("embedding", "embedding")))
          .select("vec_id", "cell", "embedding", "nrm")
        // pair-stage shape by expected cell membership: the fold while
        // the join's extra exchange would dominate tiny per-cell work,
        // the streamed join once cells outgrow [[semdedupFoldMaxCell]]
        // (the T26FoldLab-measured wall crossover — the fold's
        // interpreted per-pair dispatch costs ~2× the join's codegen'd
        // loop once pair work dominates)
        if (n.toDouble / kCells <= semdedupFoldMaxCell)
          semdedupVerdictsFold(assigned)
        else semdedupVerdictsJoin(assigned)
      },
      Some({
        s"""WITH nk AS (
           |  SELECT GREATEST(1, LEAST($semdedupMaxCells,
           |    CAST(CEIL(COUNT(*) / $semdedupCellSize.0) AS INT),
           |    CAST(CEIL(SQRT(COUNT(*))) AS INT))) AS k
           |  FROM embeddings),
           |cent0 AS (
           |  SELECT cell,
           |    list(CAST(((CAST(cell AS BIGINT) + 100) * 1103515245
           |              + d * 12345) % 32768
           |              AS DOUBLE) / 32768.0 - 0.5 ORDER BY d) AS c
           |  FROM (SELECT CAST(cell0 AS INTEGER) AS cell
           |        FROM (SELECT unnest(generate_series(1, k)) AS cell0
           |              FROM nk)),
           |       generate_series(1, 64) AS g(d)
           |  GROUP BY cell),
           |cn0 AS (
           |  SELECT cell, c,
           |    list_reduce(list_transform(c, x -> x*x), (a, b) -> a + b)
           |      AS nrm
           |  FROM cent0),
           |d0 AS (
           |  SELECT e.vec_id, e.embedding, cn.cell,
           |    cn.nrm - 2*${dotDuck("e.embedding", "cn.c")} AS dist
           |  FROM embeddings e, cn0 cn),
           |a0 AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT vec_id, embedding, cell,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell)
           |        AS rn
           |    FROM d0) WHERE rn = 1),
           |u1 AS (
           |  SELECT cell, g.dim AS dim,
           |    SUM(CAST(FLOOR(CAST(embedding[g.dim] AS DOUBLE)*1e6 + 0.5)
           |      AS BIGINT)) AS s,
           |    COUNT(*) AS n
           |  FROM a0, generate_series(1, 64) AS g(dim)
           |  GROUP BY cell, g.dim),
           |c1 AS (
           |  SELECT cell, list(CAST(s AS DOUBLE)/1e6/n ORDER BY dim) AS c
           |  FROM u1 GROUP BY cell),
           |cn1 AS (
           |  SELECT cell, c,
           |    list_reduce(list_transform(c, x -> x*x), (a, b) -> a + b)
           |      AS nrm
           |  FROM c1),
           |d1 AS (
           |  SELECT e.vec_id, e.embedding, cn.cell,
           |    cn.nrm - 2*${dotDuck("e.embedding", "cn.c")} AS dist
           |  FROM embeddings e, cn1 cn),
           |asg AS (
           |  SELECT vec_id, embedding, cell,
           |    ${dotDuck("embedding", "embedding")} AS nrm_v
           |  FROM (
           |    SELECT vec_id, embedding, cell,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell)
           |        AS rn
           |    FROM d1) WHERE rn = 1),
           |pairs AS (
           |  SELECT a.vec_id AS keep_id, b.vec_id AS drop_id, a.cell,
           |    ${dotDuck("a.embedding", "b.embedding")}
           |      / (sqrt(a.nrm_v) * sqrt(b.nrm_v)) AS cosine
           |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
           |SELECT drop_id AS vec_id, cell, MIN(keep_id) AS dup_of,
           |  COUNT(*) AS n_near
           |FROM pairs WHERE cosine >= 0.3
           |GROUP BY drop_id, cell
           |ORDER BY vec_id""".stripMargin
      }),
      hashOrder = Seq("vec_id")),

    // ----------------------------------------------------------------- t27
    // Deterministic TRAINING ORDER: a reproducible global shuffle that
    // assigns every document a position (and a 100-doc training file) by
    // ranking on (md5(doc_id), doc_id). At scale a global rank must never
    // be a partition-less window (Spark would run it in ONE task): this
    // uses t24's two-pass prefix-sum shape — hash-prefix buckets are
    // MONOTONE in the sort key, so per-bucket counts give exclusive
    // offsets on the driver (one long per bucket), and one map pass ranks
    // within each bucket. Bucket count scales with the input partitioning
    // ([[DataSelection.tokenShardBuckets]]); positions are bucket-count-
    // invariant by construction.
    "t27_training_order" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .select(col("doc_id"),
            md5(col("doc_id").cast("string").cast("binary")).as("h"))
        val buckets = tokenShardBuckets(docs.rdd.getNumPartitions)
        // first 16 hash bits, scaled to the bucket range: monotone in h
        val bucketed = docs.withColumn("bucket", expr(
          s"CAST(CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT) * $buckets div 65536 AS INT)"))
        val offsets: Map[Int, Long] = {
          val counts = bucketed.groupBy("bucket").agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
          counts.map(_._1)
            .zip(counts.scanLeft(0L)((acc, c) => acc + c._2))
            .toMap
        }
        import spark.implicits._
        bucketed
          .repartition(col("bucket"))
          .sortWithinPartitions("bucket", "h", "doc_id")
          .select(col("doc_id"), col("h"), col("bucket"))
          .as[(Long, String, Int)]
          .mapPartitions { it =>
            var curBucket = Int.MinValue
            var pos = 0L
            it.map { case (id, _, bucket) =>
              if (bucket != curBucket) { curBucket = bucket; pos = offsets(bucket) }
              val p = pos
              pos += 1
              (id, p)
            }
          }
          .toDF("doc_id", "position")
          .withColumn("file_id", expr("position div 100"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             |    - 1 AS position,
             |  (ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             |    - 1) // 100 AS file_id
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t28
    // TEMPERATURE-flattened language mix (α = 0.5): keep each language
    // with probability ∝ sqrt(min_n / n_lang), so over-represented
    // languages are damped toward — but not clamped at — the smallest
    // stratum (the multilingual-training resampling rule; t21 is the
    // α = 1 equalizing special case). Deterministic md5 hash gate, salted
    // 't28|' so the kept set is independent of t21's. Thresholds are a
    // tiny broadcast; the corpus is one filter pass, zero shuffles.
    // sqrt and the division are correctly-rounded IEEE ops → the
    // threshold integers are identical in both engines.
    "t28_temperature_sample" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val minN = counts.agg(min("n").as("min_n"))
        val thr = counts.crossJoin(broadcast(minN))
          .select(col("lang"),
            floor(lit(65536.0) *
              sqrt(col("min_n").cast("double") / col("n").cast("double")))
              .as("thr"))
        docs
          .withColumn("hash_bucket", expr(
            "CAST(conv(substr(md5(CAST(concat('t28|', CAST(doc_id AS STRING)) AS BINARY)), 1, 4), 16, 10) AS INT)"))
          .join(broadcast(thr), "lang")
          .filter(col("hash_bucket") < col("thr"))
          .select("doc_id", "lang", "hash_bucket", "thr")
          .orderBy("doc_id")
      },
      Some {
        val hb = (1 to 4).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
        }.mkString(" + ")
        s"""WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
           |thr AS (
           |  SELECT lang,
           |    CAST(FLOOR(65536.0 * sqrt(
           |      CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / CAST(n AS DOUBLE)))
           |      AS BIGINT) AS thr
           |  FROM counts),
           |hashed AS (
           |  SELECT doc_id, lang, CAST($hb AS INTEGER) AS hash_bucket
           |  FROM (SELECT doc_id, lang,
           |          md5('t28|' || CAST(doc_id AS VARCHAR)) AS h
           |        FROM documents))
           |SELECT d.doc_id, d.lang, d.hash_bucket, t.thr
           |FROM hashed d JOIN thr t ON d.lang = t.lang
           |WHERE d.hash_bucket < t.thr
           |ORDER BY d.doc_id""".stripMargin
      }),

    // ----------------------------------------------------------------- t29
    // LSH VERIFICATION: for every MinHash+LSH candidate pair (t02),
    // compare the signature-estimated Jaccard (matching components / 8)
    // against the exact shingle-set Jaccard — the post-LSH verify stage
    // every near-dup pipeline runs before acting on candidates, and the
    // measurement that calibrates band/row parameters. Candidates are a
    // vanishing fraction of the corpus, so joining the shingle sets back
    // by doc id is cheap; signatures are 32 bytes. est and exact are
    // integer ratios → exact doubles in both engines.
    "t29_lsh_verify" -> QueryDef(
      (spark, dir) => {
        val pairs = minhashPairs(spark, dir)
        val side = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), expr(shingleExpr).as("sh"))
          .select(col("doc_id"), col("sh"), expr("minhash8(sh)").as("sigs"))
        val a = side.select(col("doc_id").as("doc_a"),
          col("sh").as("sha"), col("sigs").as("sa"))
        val b = side.select(col("doc_id").as("doc_b"),
          col("sh").as("shb"), col("sigs").as("sb"))
        val matches = (0 until 8)
          .map(i => when(element_at(col("sa"), i + 1) ===
            element_at(col("sb"), i + 1), 1).otherwise(0))
          .reduce(_ + _)
        pairs.join(a, "doc_a").join(b, "doc_b")
          .withColumn("sig_matches", matches.cast("int"))
          .withColumn("n_inter",
            size(array_intersect(col("sha"), col("shb"))))
          .withColumn("est_jaccard",
            col("sig_matches").cast("double") / 8.0)
          .withColumn("exact_jaccard",
            col("n_inter").cast("double") /
              (size(col("sha")) + size(col("shb")) - col("n_inter")).cast("double"))
          .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
          .select("doc_a", "doc_b", "sig_matches", "n_inter",
            "est_jaccard", "exact_jaccard", "abs_err")
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val matches = (1 to 8)
          .map(i => s"CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $minhashPairsDuck,
           |sh AS (SELECT doc_id, $shingleSqlDuck AS sh FROM documents),
           |m AS (
           |  SELECT p.doc_a, p.doc_b,
           |    CAST($matches AS INTEGER) AS sig_matches,
           |    CAST(len(list_intersect(xa.sh, xb.sh)) AS INTEGER) AS n_inter,
           |    len(xa.sh) AS na, len(xb.sh) AS nb
           |  FROM pairs p
           |  JOIN sigs a ON a.doc_id = p.doc_a
           |  JOIN sigs b ON b.doc_id = p.doc_b
           |  JOIN sh xa ON xa.doc_id = p.doc_a
           |  JOIN sh xb ON xb.doc_id = p.doc_b)
           |SELECT doc_a, doc_b, sig_matches, n_inter,
           |  CAST(sig_matches AS DOUBLE) / 8.0 AS est_jaccard,
           |  CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE)
           |    AS exact_jaccard,
           |  abs(CAST(sig_matches AS DOUBLE) / 8.0
           |    - CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE))
           |    AS abs_err
           |FROM m
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // ----------------------------------------------------------------- t30
    // Composite FILTER VERDICT: the Gopher-style accept/reject decision
    // per document — word-count bounds, mean-word-length bounds,
    // distinct-word ratio, top-word fraction, duplicate-bigram fraction —
    // with a failure bitmask so downstream stages can report WHY a doc
    // was dropped. Every rule input depends on one document only, so the
    // whole verdict is a PURE MAP over the corpus — the native
    // [[graft.functions.NGramStats]] yields word and bigram stats in one
    // compiled pass each, n_chars rides the same row, and nothing
    // shuffles at any scale. All rule inputs are integer counts + exact
    // divisions → bit-identical verdicts.
    "t30_filter_verdict" -> QueryDef(
      t30Build,
      Some(t30Oracle)),

    // ----------------------------------------------------------------- t31
    // ANN RECALL over a PARAMETER SWEEP: recall@10 of the two
    // approximate similarity-search families against the exact
    // brute-force top-10 (t05's leg) for the same query vector, as a
    // (method, param) grid — hyperplane-LSH with the 8-bit signature
    // split into 2/4/8 OR-amplified bands, and IVF probing the query's
    // top 1/2/4 of 8 cells. This is the tuning table a real index
    // deployment reads before trading exactness for speed ("measure,
    // don't guess"): more bands / more probes → more candidates → higher
    // recall. Every leg keeps the audit shape: the single query row
    // broadcasts (1-row BNLJ, t05's own pattern), candidate re-ranking
    // is exact cosine with hoisted norms, and the ground-truth join is
    // 10 broadcast ids — the corpus cost is one signature/assignment map
    // pass per leg.
    "t31_ann_recall" -> QueryDef(
      t31Build,
      Some {
        import TrainingData.planeSql
        val exactSql = TrainingData.defs("t05_cosine_topk").oracle.get
        val planeList = (j: Int) =>
          s"list_transform(range(1, 65), d -> ${planeSql(j, "d")})"
        val sigExpr = (1 to 8).map(j =>
          s"CASE WHEN ${dotDuck("embedding", s"(${planeList(j)})")} > 0" +
            s" THEN ${1 << (j - 1)} ELSE 0 END").mkString(" + ")
        def lshSql(bands: Int): String = {
          val w = 8 / bands
          val cond = (0 until bands).map(b =>
            s"(b.sig // ${1 << (b * w)}) % ${1 << w} = " +
              s"(q.sig // ${1 << (b * w)}) % ${1 << w}").mkString(" OR ")
          s"""WITH sig AS (
             |    SELECT vec_id, embedding, CAST($sigExpr AS INTEGER) AS sig
             |    FROM embeddings)
             |  SELECT vec_id FROM (
             |    SELECT b.vec_id,
             |      ${dotDuck("b.embedding", "q.embedding")}
             |      / (sqrt(${dotDuck("b.embedding", "b.embedding")})
             |         * sqrt(${dotDuck("q.embedding", "q.embedding")})) AS cosine
             |    FROM sig b, (SELECT embedding, sig FROM sig WHERE vec_id = 0) q
             |    WHERE b.vec_id <> 0 AND ($cond)
             |    ORDER BY cosine DESC, vec_id LIMIT 10)""".stripMargin
        }
        val cdots = (1 to 8)
          .map(k => dotDuck("embedding", s"(${planeList(k + 100)})"))
          .mkString("[", ", ", "]")
        def ivfSql(probe: Int): String = {
          val ps = (1 to probe).map(i =>
            s"CAST(list_position(cdots, list_sort(cdots)[${9 - i}]) AS INTEGER) AS p$i")
            .mkString(", ")
          val cond = (1 to probe).map(i => s"a.cell = q.p$i").mkString(" OR ")
          s"""WITH assigned AS (
             |    SELECT vec_id, embedding, cdots,
             |      CAST(list_position(cdots, list_max(cdots)) AS INTEGER) AS cell
             |    FROM (SELECT vec_id, embedding, $cdots AS cdots
             |          FROM embeddings)),
             |  q AS (SELECT embedding AS q_emb, $ps FROM assigned WHERE vec_id = 0)
             |  SELECT vec_id FROM (
             |    SELECT a.vec_id,
             |      ${dotDuck("a.embedding", "q.q_emb")}
             |      / (sqrt(${dotDuck("a.embedding", "a.embedding")})
             |         * sqrt(${dotDuck("q.q_emb", "q.q_emb")})) AS cosine
             |    FROM assigned a JOIN q ON ($cond)
             |    WHERE a.vec_id <> 0
             |    ORDER BY cosine DESC, vec_id LIMIT 10)""".stripMargin
        }
        val found =
          (Seq(2, 4, 8).map(b =>
            s"SELECT 'lsh_ann' AS method, $b AS param, vec_id FROM (${lshSql(b)})") ++
           Seq(1, 2, 4).map(p =>
            s"SELECT 'ivf_ann' AS method, $p AS param, vec_id FROM (${ivfSql(p)})"))
            .mkString("\n  UNION ALL\n  ")
        s"""WITH methods(method, param) AS (
           |  VALUES ('ivf_ann', 1), ('ivf_ann', 2), ('ivf_ann', 4),
           |         ('lsh_ann', 2), ('lsh_ann', 4), ('lsh_ann', 8)),
           |found AS (
           |  $found),
           |hits AS (
           |  SELECT method, param, COUNT(*) AS hits
           |  FROM found JOIN ($exactSql) e USING (vec_id)
           |  GROUP BY method, param)
           |SELECT m.method, m.param, CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_hits,
           |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0 AS recall
           |FROM methods m LEFT JOIN hits h
           |  ON h.method = m.method AND h.param = m.param
           |ORDER BY m.method, m.param""".stripMargin
      }),

    // ----------------------------------------------------------------- t32
    // Repeated-SUBSTRING detection (the practical form of exact-substring
    // dedup à la "Deduplicating Training Data Makes Language Models
    // Better"): hash fixed 50-char windows at stride 10, mark windows
    // whose hash occurs in ≥ 2 distinct documents, and report the
    // duplicated-window fraction per doc. The stride bounds work at
    // chars/10 windows; both shuffles carry (16-byte digest, doc_id) —
    // never text — and the window hash join is digest-keyed, so the
    // dataflow is the t01 exact-dedup shape applied at sub-document
    // granularity. md5 of the same substring is identical in both
    // engines (the portable-hash rule).
    "t32_substring_dup" -> QueryDef(
      (spark, dir) => {
        // positions explode FIRST so md5+substr run as codegen'd
        // projections on the exploded rows instead of interpreting
        // per window inside a transform() lambda (CodegenFallback)
        val wins = t(spark, dir, "documents")
          .select(col("doc_id"), col("text"), explode(expr(
            "sequence(1, greatest(length(text) - 49, 1), 10)")).as("i"))
          .select(col("doc_id"),
            md5(expr("substr(text, i, 50)").cast("binary")).as("h"))
        // bounded-state dup detection — see [[dupSpanCounts]]: no cache,
        // no join-back, nothing but 16-byte digests + ids in an exchange
        dupSpanCounts(wins, minDocs = 2)
          .select(col("doc_id"), col("n_total").as("n_windows"),
            col("n_dup").as("n_dup_windows"))
          .withColumn("dup_frac",
            col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
          .select("doc_id", "n_windows", "n_dup_windows", "dup_frac")
          .orderBy("doc_id")
      },
      Some("""WITH wins AS (
             |  SELECT doc_id, md5(substr(text, i, 50)) AS h
             |  FROM (SELECT doc_id, text,
             |          unnest(generate_series(1, greatest(length(text) - 49, 1), 10)) AS i
             |        FROM documents)),
             |dups AS (
             |  SELECT h FROM wins GROUP BY h
             |  HAVING COUNT(DISTINCT doc_id) >= 2)
             |SELECT w.doc_id, COUNT(*) AS n_windows,
             |  CAST(COALESCE(SUM(CASE WHEN d.h IS NOT NULL THEN 1 END), 0)
             |    AS BIGINT) AS n_dup_windows,
             |  CAST(COALESCE(SUM(CASE WHEN d.h IS NOT NULL THEN 1 END), 0)
             |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_frac
             |FROM wins w LEFT JOIN dups d ON d.h = w.h
             |GROUP BY w.doc_id
             |ORDER BY w.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t33
    // Embedding QUANTIZATION (int8 symmetric): per-vector scale =
    // max|x|, q_i = floor(x_i · 127 / scale + 0.5) — the compression
    // step before shipping vectors to an ANN index (4× smaller, dot
    // products in integer SIMD). Pure map, zero shuffles; the oracle
    // checks scale plus two integer checksums of the quantized array
    // (sum and L1) rather than 64 columns. Quantization rule shared
    // with t52's quantized index scan via [[quantExpr]]/[[quantDuck]].
    "t33_quantize_int8" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "embeddings")
          .withColumn("max_abs", expr(maxAbsExpr("embedding")))
          .withColumn("q", expr(quantExpr("embedding", "max_abs")))
          .select(col("vec_id"), col("max_abs"),
            expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
            expr("aggregate(q, 0L, (a, x) -> a + abs(x))").as("q_l1"))
          .orderBy("vec_id"),
      Some(s"""WITH m AS (
             |  SELECT vec_id, embedding,
             |    ${maxAbsDuck("embedding")} AS max_abs
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id, max_abs,
             |    ${quantDuck("embedding", "max_abs")} AS ql
             |  FROM m)
             |SELECT vec_id, max_abs,
             |  CAST(list_reduce(ql, (a, x) -> a + x) AS BIGINT) AS q_sum,
             |  -- abs must go through list_transform: DuckDB's no-init
             |  -- list_reduce seeds the fold with ql[1] UNTRANSFORMED
             |  CAST(list_reduce(list_transform(ql, x -> abs(x)), (a, x) -> a + x)
             |    AS BIGINT) AS q_l1
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ----------------------------------------------------------------- t52
    // QUANTIZED ANN with exact re-rank — the production two-stage shape
    // (scalar-quantized index scan, then full-precision re-ranking) that
    // t33's compression exists for: score EVERY vector against the query
    // in int8 (4× less memory bandwidth than the float scan, integer
    // SIMD dots), keep the top `rerankCand` by approximate cosine, then
    // re-rank only that pool with t05's exact float cosine. At-scale
    // shape: the corpus pass is a pure map against a broadcast 1-row
    // query frame — the query's OWN quantization (qq, its norm qnq) is
    // computed inside that 1-row frame, so the broadcast carries it
    // precomputed instead of every corpus row re-quantizing a constant —
    // and orderBy+limit plans as TakeOrderedAndProject: partition-local
    // top-k merged on the driver, NO global sort, NO hash shuffle at any
    // N; the exact re-rank touches `rerankCand` rows total. Portability:
    // quantized values are bit-identical (t33), integer dots are exact,
    // and the approximate cosine is one correctly-rounded division of
    // exact ints. The all-zero vector edge is guarded by max|x| > 0,
    // which is EQUIVALENT to quantized-norm > 0 (the max-|x| element
    // quantizes to exactly floor(127.5) = ±127, so ma > 0 ⇒ qna ≥ 127²)
    // but costs one array_max in the pushed filter instead of
    // duplicating the whole quantize+fold chain; candidate-pool ties
    // break on vec_id so both engines keep the same pool.
    "t52_ann_rerank" -> QueryDef(
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
          .withColumn("mq", expr(maxAbsExpr("q_emb")))
          .filter(col("mq") > 0)
          .withColumn("qq", expr(quantExpr("q_emb", "mq")))
          .withColumn("qnq", expr("aggregate(qq, 0L, (a, x) -> a + x * x)"))
        val cand = emb.filter(col("vec_id") =!= 0)
          .withColumn("ma", expr(maxAbsExpr("embedding")))
          .filter(col("ma") > 0)
          .crossJoin(broadcast(qv))
          .withColumn("qa", expr(quantExpr("embedding", "ma")))
          .withColumn("qdot", expr(
            "aggregate(zip_with(qa, qq, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
          .withColumn("qna", expr("aggregate(qa, 0L, (a, x) -> a + x * x)"))
          .withColumn("cos_int8", col("qdot").cast("double") /
            (sqrt(col("qna").cast("double")) * sqrt(col("qnq").cast("double"))))
          .orderBy(col("cos_int8").desc, col("vec_id"))
          .limit(rerankCand)
        cand
          .withColumn("dot", expr(dotSql("embedding", "q_emb")))
          .withColumn("na", expr(dotSql("embedding", "embedding")))
          .withColumn("nq", expr(dotSql("q_emb", "q_emb")))
          .select(col("vec_id"), col("label"), col("cos_int8"),
            (col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nq").cast("double"))))
              .as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q0 AS (
             |  SELECT q_emb, ${quantDuck("q_emb", "mq")} AS qq
             |  FROM (SELECT embedding AS q_emb, ${maxAbsDuck("embedding")} AS mq
             |        FROM embeddings WHERE vec_id = 0)
             |  WHERE mq > 0),
             |q1 AS (
             |  SELECT q_emb, qq,
             |    list_reduce(list_transform(qq, x -> x * x),
             |      (a, x) -> a + x) AS qnq
             |  FROM q0),
             |s AS (
             |  SELECT vec_id, label, embedding, q_emb, qq, qnq, ma
             |  FROM (SELECT e.vec_id, e.label, e.embedding, q1.q_emb, q1.qq,
             |          q1.qnq, ${maxAbsDuck("e.embedding")} AS ma
             |        FROM embeddings e, q1 WHERE e.vec_id <> 0)
             |  WHERE ma > 0),
             |z AS (
             |  SELECT vec_id, label, embedding, q_emb, qq, qnq,
             |    ${quantDuck("embedding", "ma")} AS qa
             |  FROM s),
             |sc AS (
             |  SELECT vec_id, label, embedding, q_emb, qnq,
             |    list_reduce(list_transform(range(1, len(qa) + 1),
             |        i -> qa[i] * qq[i]),
             |      (a, x) -> a + x) AS qdot,
             |    list_reduce(list_transform(qa, x -> x * x),
             |      (a, x) -> a + x) AS qna
             |  FROM z),
             |cand AS (
             |  SELECT vec_id, label, embedding, q_emb,
             |    CAST(qdot AS DOUBLE)
             |      / (sqrt(CAST(qna AS DOUBLE)) * sqrt(CAST(qnq AS DOUBLE)))
             |      AS cos_int8
             |  FROM sc
             |  ORDER BY cos_int8 DESC, vec_id LIMIT $rerankCand)
             |SELECT vec_id, label, cos_int8,
             |  ${dotDuck("embedding", "q_emb")}
             |  / (sqrt(${dotDuck("embedding", "embedding")})
             |     * sqrt(${dotDuck("q_emb", "q_emb")})) AS cosine
             |FROM cand ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)),

    // ----------------------------------------------------------------- t34
    // VOCABULARY top-k per language — the corpus report that seeds
    // stopword lists (t07's langid tables) and tokenizer vocab audits.
    // Word counts come from one map-side-combinable (lang, word) agg;
    // the per-language rank then has k ≪ cores partitions (t23's skew),
    // so each physical partition first keeps a local top-20 per lang —
    // a bounded no-shuffle pass — and only those survivors reach the
    // 5-task window. Ties break (count DESC, word ASC) in both engines.
    "t34_vocab_topk" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val k = vocabK
        val counts = t(spark, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        // partition-local top-k per lang (insertion into a bounded
        // buffer, UTF-8-byte order matching the window's ORDER BY —
        // see [[localVocabTopK]])
        val pre = localVocabTopK(counts.as[(String, String, Long)], k)
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("c").desc, col("w"))
        pre.withColumn("rnk", row_number().over(win))
          .filter(col("rnk") <= k)
          .select("lang", "rnk", "w", "c")
          .orderBy("lang", "rnk")
      },
      Some(s"""WITH counts AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |c AS (SELECT lang, w, COUNT(*) AS c FROM counts GROUP BY lang, w),
             |ranked AS (
             |  SELECT lang, w, c,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rnk
             |  FROM c)
             |SELECT lang, rnk, w, c FROM ranked
             |WHERE rnk <= $vocabK
             |ORDER BY lang, rnk""".stripMargin)),

    // ----------------------------------------------------------------- t35
    // Data-MIX REPORT by source: document counts, keep counts and rate
    // under the t30 filter rules, and mean quality score (t08's formula)
    // per crawl source — the dashboard table every curation run emits.
    // Verdict + quality are pure map passes on the same row (ngram_stats
    // + ratio arithmetic); the report is one tiny map-side-combinable
    // agg over ~#sources groups. Mean quality aggregates as fixed-point
    // longs (partition-order-independent), divided once at the end.
    "t35_source_mix" -> QueryDef(
      (spark, dir) => {
        val verdict = t30Build(spark, dir)
          .select(col("doc_id"), col("keep"))
        val docs = withQuality(spark, dir)
        docs.join(verdict, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
            (sum(floor(col("quality") * 1e6 + 0.5).cast("long")).cast("double") / 1e6)
              .as("sum_quality"))
          .withColumn("keep_rate",
            col("n_keep").cast("double") / col("n_docs").cast("double"))
          .withColumn("mean_quality",
            col("sum_quality") / col("n_docs").cast("double"))
          .select("source", "n_docs", "n_keep", "keep_rate", "mean_quality")
          .orderBy("source")
      },
      Some {
        val t30 = t30Oracle
        s"""WITH verdict AS (SELECT doc_id, keep FROM ($t30)),
           |q AS (
           |  SELECT doc_id, source,
           |    $qualityDuck AS quality
           |  FROM documents),
           |j AS (SELECT q.source, q.quality, v.keep
           |      FROM q JOIN verdict v ON v.doc_id = q.doc_id)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS keep_rate,
           |  CAST(SUM(CAST(FLOOR(quality * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           |    / 1e6 / CAST(COUNT(*) AS DOUBLE) AS mean_quality
           |FROM j GROUP BY source
           |ORDER BY source""".stripMargin
      }),

    // ----------------------------------------------------------------- t36
    // INCREMENTAL cross-corpus dedup: dedup a NEW crawl (sources
    // src10–src19) against the EXISTING corpus (src0–src9) — the
    // ingestion-time operation every continuously-fed pipeline runs
    // instead of re-deduping the world. Exact dups probe the existing
    // content-hash set; near-dups probe the existing corpus' MinHash
    // band table (t02's bands, which at scale live as a pre-built index
    // keyed by (band, bucket) — the probe is a semi-join against it,
    // shuffling digests only, never text). Output: a verdict per new
    // doc with exact/near flags and the keep decision.
    "t36_incremental_dedup" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .withColumn("is_new", expr("CAST(substr(source, 4, 10) AS INT) >= 10"))
        val hashes = docs.select(col("doc_id"), col("is_new"),
          md5(col("text").cast("binary")).as("h"))
        val oldHashes = hashes.filter(!col("is_new")).select("h").distinct()
        val exactIds = hashes.filter(col("is_new"))
          .join(oldHashes, Seq("h"), "left_semi")
          .select(col("doc_id"), lit(true).as("exact_dup"))
        // band each side separately: the is_new flag rides the banding
        // scan itself instead of re-attaching via a corpus-wide doc_id
        // shuffle join of 4 band rows per document
        val oldBands = TrainingData.minhashBands(docs.filter(!col("is_new")))
          .select("band", "bucket").distinct()
        val nearIds = TrainingData.minhashBands(docs.filter(col("is_new")))
          .join(oldBands, Seq("band", "bucket"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("near_dup", lit(true))
        docs.filter(col("is_new")).select("doc_id")
          .join(exactIds, Seq("doc_id"), "left")
          .join(nearIds, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
            coalesce(col("near_dup"), lit(false)).as("near_dup"),
            (coalesce(col("exact_dup"), lit(false)) ||
              coalesce(col("near_dup"), lit(false))).unary_!.as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""$incrementalDedupDuck
              |SELECT f.doc_id,
              |  e.doc_id IS NOT NULL AS exact_dup,
              |  n.doc_id IS NOT NULL AS near_dup,
              |  e.doc_id IS NULL AND n.doc_id IS NULL AS keep
              |FROM flag f
              |LEFT JOIN exact e ON e.doc_id = f.doc_id
              |LEFT JOIN near n ON n.doc_id = f.doc_id
              |WHERE f.is_new
              |ORDER BY f.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t37
    // PARAGRAPH-level near-dup (the CCNet / RefinedWeb preprocessing
    // step): hash each normalized paragraph and drop paragraphs whose
    // digest appears in ≥ 3 distinct documents — boilerplate removal at
    // sub-document granularity, the one dedup level between t01's whole
    // doc and t32's 50-char window. This corpus has no newline
    // structure, so a "paragraph" is a non-overlapping 20-word segment
    // of the lowercased text (the normalization in CCNet is likewise
    // lowercase + punctuation-strip before hashing). Dataflow is t32's
    // bounded-state shape: (h, doc_id) counts, a spill-safe h-window for
    // the ≥3-distinct-docs test, then per-doc totals — and only 16-byte
    // digests + ids ever enter an exchange, never text.
    "t37_paragraph_dedup" -> QueryDef(
      (spark, dir) => {
        val paras = t(spark, dir, "documents")
          .select(col("doc_id"), expr("split(lower(text), ' ')").as("words"))
          .select(col("doc_id"), col("words"),
            explode(expr("sequence(0, (size(words) - 1) div 20)")).as("s"))
          .select(col("doc_id"),
            md5(expr("array_join(slice(words, s * 20 + 1, 20), ' ')")
              .cast("binary")).as("h"))
        // t32's bounded-state shape via the shared [[dupSpanCounts]]
        // (boilerplate paragraphs shared by a large corpus fraction are
        // this operator's PREMISE, so the spill-safe window matters
        // here most of all)
        dupSpanCounts(paras, minDocs = 3)
          .select(col("doc_id"), col("n_total").as("n_paras"),
            col("n_dup").as("n_dropped"))
          .withColumn("kept_frac",
            (col("n_paras") - col("n_dropped")).cast("double") /
              col("n_paras").cast("double"))
          .select("doc_id", "n_paras", "n_dropped", "kept_frac")
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS words
             |  FROM documents),
             |paras AS (
             |  SELECT doc_id,
             |    md5(array_to_string(words[(s*20+1):(s*20+20)], ' ')) AS h
             |  FROM (SELECT doc_id, words,
             |          unnest(generate_series(0, CAST((len(words)-1)//20 AS BIGINT)))
             |            AS s
             |        FROM w)),
             |dups AS (
             |  SELECT h FROM paras GROUP BY h
             |  HAVING COUNT(DISTINCT doc_id) >= 3)
             |SELECT p.doc_id, COUNT(*) AS n_paras,
             |  CAST(COALESCE(SUM(CASE WHEN d.h IS NOT NULL THEN 1 END), 0)
             |    AS BIGINT) AS n_dropped,
             |  CAST(COUNT(*) - COALESCE(SUM(CASE WHEN d.h IS NOT NULL THEN 1 END), 0)
             |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS kept_frac
             |FROM paras p LEFT JOIN dups d ON d.h = p.h
             |GROUP BY p.doc_id
             |ORDER BY p.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t38
    // Per-SOURCE QUOTA cap (the RefinedWeb/C4 "domain cap" step): keep at
    // most Q of the highest-quality documents per crawl source, so no
    // single domain dominates the training mix regardless of its crawl
    // volume. Quality is t08's score as a fixed-point 1e-6 long (exact
    // integer ordering — no float-comparison ambiguity between engines);
    // the per-source rank has #sources ≪ cores partitions, so each
    // physical partition first reduces to a local top-Q per source — a
    // bounded no-shuffle pass (t23/t34's skew guard) — and only those
    // survivors reach the #sources-task window.
    "t38_source_quota" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val quota = sourceQuota
        val scored = withQuality(spark, dir)
          .withColumn("qfp", floor(col("quality") * 1e6 + 0.5).cast("long"))
          .select("source", "doc_id", "qfp")
        val pre = localSourceTopQ(scored.as[(String, Long, Long)], quota)
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("qfp").desc, col("doc_id"))
        pre.withColumn("rnk", row_number().over(win))
          .filter(col("rnk") <= quota)
          .select("source", "rnk", "doc_id", "qfp")
          .orderBy("source", "rnk")
      },
      Some(s"""WITH q AS (
              |  SELECT doc_id, source,
              |    CAST(FLOOR(($qualityDuck) * 1e6 + 0.5) AS BIGINT) AS qfp
              |  FROM documents),
              |ranked AS (
              |  SELECT source, doc_id, qfp,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |                       ORDER BY qfp DESC, doc_id) AS rnk
              |  FROM q)
              |SELECT source, rnk, doc_id, qfp FROM ranked
              |WHERE rnk <= $sourceQuota
              |ORDER BY source, rnk""".stripMargin)),

    // ----------------------------------------------------------------- t39
    // COMPOSED curation funnel — the proof that the operators chain into
    // the pipeline a real pretraining build runs: Gopher filter verdict
    // (t30) → exact content dedup among survivors (t01's md5 rule, keep
    // lowest doc_id) → per-source quality quota (t38) — reported as a
    // per-source FUNNEL (n_docs → n_filtered → n_deduped → n_final),
    // the attrition table every curation run publishes. Stage dataflow
    // keeps each operator's scale shape: the verdict is a pure map, the
    // dedup window partitions by the 16-byte digest (high cardinality),
    // and the quota rank pre-reduces per partition before its
    // #sources-task window ([[localSourceTopQ]]).
    "t39_curation_funnel" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val quota = sourceQuota
        // verdict + quality + content digest fused into ONE corpus scan,
        // assembled from the SAME column builders t30/t35/t38 use
        // (gopherStats/gopherRules/qualityInputs/qualityCol — a
        // threshold or weight edit cannot diverge t39 from the
        // operators it composes): no corpus-sized joins anywhere — the
        // only wide exchange carries (source, doc_id, qfp, 16-byte h)
        // for docs that PASS the filter
        val scored =
          qualityInputs(gopherStats(withWords(t(spark, dir, "documents"))))
            .withColumn("keep", gopherRules.reduce(_ && _))
            .withColumn("qfp",
              floor(qualityCol * 1e6 + 0.5).cast("long"))
            .filter(col("keep"))
            .select(col("source"), col("doc_id"), col("qfp"),
              md5(col("text").cast("binary")).as("h"))
        // one digest-keyed window marks dedup winners; every funnel count
        // falls out of a single agg over the SAME frame, so the whole
        // query is ONE evaluation of the scan+window chain. n_final is
        // least(n_deduped, Q): ROW_NUMBER ranks 1..n densely, so the
        // COUNT of a top-Q selection is exactly min(n, Q) — no re-rank
        // needed to report attrition (selecting the winning ROWS is
        // t38's job). The oracle computes n_final by materializing the
        // actual rank, so the gate proves the shortcut exact.
        val marked = scored.withColumn("rn", row_number().over(
          Window.partitionBy("h").orderBy("doc_id")))
        val stats = marked.groupBy("source")
          .agg(count(lit(1)).as("n_filtered"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_deduped"))
        t(spark, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
          .join(stats, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_filtered"), lit(0L)).as("n_filtered"),
            coalesce(col("n_deduped"), lit(0L)).as("n_deduped"),
            least(coalesce(col("n_deduped"), lit(0L)), lit(quota.toLong))
              .as("n_final"))
          .orderBy("source")
      },
      Some(s"""WITH verdict AS (SELECT doc_id, keep FROM ($t30Oracle)),
              |q AS (
              |  SELECT doc_id, source,
              |    CAST(FLOOR(($qualityDuck) * 1e6 + 0.5) AS BIGINT) AS qfp
              |  FROM documents),
              |hsh AS (SELECT doc_id, md5(text) AS h FROM documents),
              |filtered AS (
              |  SELECT q.doc_id, q.source, q.qfp, hsh.h
              |  FROM q JOIN verdict v USING (doc_id) JOIN hsh USING (doc_id)
              |  WHERE v.keep),
              |ded AS (
              |  SELECT source, doc_id, qfp FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id)
              |      AS rn
              |    FROM filtered) WHERE rn = 1),
              |fin AS (
              |  SELECT source, doc_id FROM (
              |    SELECT source, doc_id,
              |      ROW_NUMBER() OVER (PARTITION BY source
              |                         ORDER BY qfp DESC, doc_id) AS qrnk
              |    FROM ded) WHERE qrnk <= $sourceQuota),
              |base AS (SELECT source, COUNT(*) AS n_docs FROM documents
              |         GROUP BY source)
              |SELECT b.source, b.n_docs,
              |  CAST(COALESCE(f.c, 0) AS BIGINT) AS n_filtered,
              |  CAST(COALESCE(d.c, 0) AS BIGINT) AS n_deduped,
              |  CAST(COALESCE(x.c, 0) AS BIGINT) AS n_final
              |FROM base b
              |LEFT JOIN (SELECT source, COUNT(*) AS c FROM filtered
              |           GROUP BY source) f USING (source)
              |LEFT JOIN (SELECT source, COUNT(*) AS c FROM ded
              |           GROUP BY source) d USING (source)
              |LEFT JOIN (SELECT source, COUNT(*) AS c FROM fin
              |           GROUP BY source) x USING (source)
              |ORDER BY b.source""".stripMargin)),

    // ----------------------------------------------------------------- t40
    // Dedup-METHOD AGREEMENT: how much do the two near-dup candidate
    // generators — MinHash-LSH over shingle Jaccard (t02) and SimHash
    // banding over Hamming distance (t18) — agree on this corpus?
    // Reported as candidate-set sizes + overlap + Jaccard agreement:
    // the audit a pipeline runs before trusting one (cheaper) method as
    // a proxy for the other, t31's "measure, don't guess" applied to
    // dedup. Both legs are the existing operators' plans (id pairs
    // only); the comparison is a full outer join of two candidate lists.
    // SCALE: this entry consumes t18's FIXED-16-bit answer, which is
    // itself Θ(n²) past 2¹⁶ docs (the C(n,2)·17/2¹⁶ birthday floor —
    // measured 17.9M rows at 30×, t40's 6.6 s sweep wall tracks it),
    // so t40 is the oracle-pinned FIXTURE TWIN of this audit. Its
    // corpus-scale face is [[t103_dedup_agreement_wide]] below: the
    // identical report over t101's 64-bit leg, whose answer — and so
    // this op's full-outer-join input — is LINEAR in true near-dups.
    "t40_dedup_agreement" -> dedupAgreement("t18_simhash_neardup"),

    // ---------------------------------------------------------------- t103
    // Dedup-method agreement at CORPUS-SCALABLE width — t40's face,
    // closing the r18 verdict's one `weak`: the same audit (candidate
    // counts + overlap + Jaccard agreement) with the SimHash leg swapped
    // from t18's fixed 16-bit pipeline to t101's 64-bit one. That swap
    // changes the ASYMPTOTICS of the op's input, not just its plan:
    // t18's hamming≤1 answer converges on the C(n,2)·17/2¹⁶ birthday
    // floor (Θ(n²) rows past 2¹⁶ docs — 17.9M at the 30× fixture, the
    // wall t40 inherits), while t101's 64-bit hamming≤3 answer carries
    // E[chance pairs] ≈ 2.4e-15·C(n,2) ≈ 0, i.e. only TRUE near-dups —
    // LINEAR in the corpus, like the MinHash leg it is compared against.
    // The full outer join of two linear pair lists stays linear at any
    // corpus, so the agreement report itself survives 100 TB; t40 stays
    // the oracle-pinned fixture twin (the published-default 16-bit
    // config), exactly the t18→t101 / t12→t102 / t98→t100 pattern.
    // Expect LOWER agreement than t40 on the gate fixture: the 64-bit
    // leg drops chance collisions, so the intersection loses exactly
    // the pairs that agreed by accident — the audit now measures method
    // agreement on real near-dups instead of on birthday noise.
    // r20: t105's width-scheduled 128-bit pair list has the identical
    // (doc_a, doc_b, hamming) shape, so a warehouse deployment swaps
    // the `sh` leg to t105's build verbatim when t101's CANDIDATE
    // stream (4·2⁻¹⁶·C(n,2) — linear answer, quadratic verify) becomes
    // the bottleneck; this entry stays pinned on t101 as the
    // oracle-gated 64-bit link.
    "t103_dedup_agreement_wide" -> dedupAgreement("t101_simhash64_neardup"),

    // ---------------------------------------------------------------- t106
    // Dedup-method agreement over the WIDTH-SCHEDULED SimHash face —
    // t103's documented "swap the sh leg to t105" made executable and
    // oracle-gated (r20): the identical candidate-count/overlap/Jaccard
    // audit with the SimHash leg consuming t105's 128-bit
    // band-scheduled pair list verbatim (same (doc_a, doc_b, hamming)
    // shape). This is the config a warehouse runs once t101's
    // candidate stream (4·2⁻¹⁶·C(n,2) — the verify-side integral)
    // becomes the bottleneck: BOTH legs now carry corpus-scheduled
    // candidate controls (MinHash's banded buckets; t105's
    // w = ⌈log₂N⌉+4 quarters), so the audit's inputs AND its full
    // outer join stay linear at any N. Expect agreement ≤ t103's on
    // the gate fixture: hamming ≤ 3 of 128 bits is a stricter
    // near-dup criterion than ≤ 3 of 64, so the SimHash leg keeps
    // only the tightest near-dups (the intersection loses the pairs
    // only the looser 64-bit radius admitted).
    "t106_dedup_agreement_128" -> dedupAgreement("t105_simhash128_neardup"),

    // ----------------------------------------------------------------- t41
    // Multi-EPOCH UPSAMPLING: the complement of t28's temperature
    // DOWNsampling — low-resource languages repeat for
    // round(sqrt(max_n / n_lang)) epochs (the sqrt-upsampling rule
    // multilingual training runs so minority languages aren't drowned),
    // emitting per doc its repeat count and effective token
    // contribution to the training budget. Per-language repeats are a
    // tiny broadcast; the corpus pass is a pure map — zero wide
    // shuffles at any scale. sqrt and the division are correctly
    // rounded IEEE ops on identical operands → identical repeat
    // integers in both engines.
    "t41_epoch_upsample" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .withColumn("n_tokens", expr(DataSelection.tokenEstExpr))
        // max_n as a window over the ALREADY-aggregated counts (a
        // #langs-row frame — the partition-less window is bounded by
        // construction): one corpus aggregation subtree, not two (a
        // counts.agg(max) crossJoin would re-scan + re-aggregate the
        // corpus for a value derivable from the counts relation)
        val reps = docs.groupBy("lang").agg(count(lit(1)).as("n"))
          .withColumn("max_n", max("n").over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .select(col("lang"),
            greatest(lit(1L), floor(
              sqrt(col("max_n").cast("double") / col("n").cast("double"))
                + 0.5)).as("n_repeats"))
        docs.join(broadcast(reps), "lang")
          .select(col("doc_id"), col("lang"), col("n_repeats"),
            (col("n_tokens") * col("n_repeats")).as("eff_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (
             |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
             |r AS (
             |  SELECT lang,
             |    GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(
             |      sqrt(CAST((SELECT MAX(n) FROM c) AS DOUBLE)
             |           / CAST(n AS DOUBLE)) + 0.5) AS BIGINT)) AS n_repeats
             |  FROM c)
             |SELECT d.doc_id, d.lang, r.n_repeats,
             |  ((d.n_chars + 3) // 4) * r.n_repeats AS eff_tokens
             |FROM documents d JOIN r USING (lang)
             |ORDER BY d.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t42
    // NEAR-dup funnel — t39's composition question answered for the
    // FUZZY granularity: MinHash+LSH candidates (t02) → exact shingle-
    // Jaccard verification at [[neardupJaccard]] (t29's verify stage as
    // a filter) → connected components over the verified edges (t15's
    // clustering) → keep-best-per-cluster (t25's retention rule: longest
    // doc, ties to lowest id) — reported per source as the attrition
    // table (n_docs → n_matched → n_kept). This is the GPT-3/Gopher-
    // style fuzzy-dedup stage every pretraining build runs; each leg is
    // an already-oracle-proven operator, chained end-to-end. Scale
    // shape: text leaves the dataflow after the one signature/shingle
    // pass — candidates, verified edges, and component labels are id
    // pairs; the verify join touches only the candidate pairs (a
    // vanishing fraction of the corpus); keep-best + component size are
    // pure AGGREGATES, never windows: docs first collapse to one row per
    // (label, source) — map-side combinable, so a boilerplate mega-
    // component reduces inside every input partition — then per-label
    // totals (csize, keeper's source via max_by over per-source bests)
    // join back against the collapsed frame, which holds ≤ #sources rows
    // per label however large the component. The per-source best struct
    // (n_chars, -doc_id) is unique corpus-wide (doc_id unique), so the
    // keeper pick is deterministic. The Jaccard test multiplies instead
    // of dividing (n_inter ≥ thr·union), so an empty-shingle pair (union
    // 0) is rejected without a NaN entering either engine.
    "t42_neardup_funnel" -> QueryDef(
      (spark, dir) => {
        val sh = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), expr(shingleExpr).as("sh"))
        val verified = jaccardVerify(minhashPairs(spark, dir), sh)
          .filter(col("jacc_ok"))
          .select("doc_a", "doc_b")
        val docs = t(spark, dir, "documents")
          .select("doc_id", "source", "n_chars")
        val labels = graft.operators.Components.connected(
          docs.select("doc_id"), verified)
        val bySrc = docs.join(labels, "doc_id")
          .groupBy("label", "source")
          .agg(count(lit(1)).as("n_src"),
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
              .as("best"))
        val byLabel = bySrc.groupBy("label")
          .agg(sum("n_src").as("csize"),
            max_by(col("source"), col("best")).as("keep_source"))
        bySrc.join(byLabel, "label")
          .groupBy("source")
          .agg(sum("n_src").as("n_docs"),
            sum(when(col("csize") > 1, col("n_src")).otherwise(0L))
              .as("n_matched"),
            sum(when(col("source") === col("keep_source"), 1L).otherwise(0L))
              .as("n_kept"))
          .withColumn("kept_frac",
            col("n_kept").cast("double") / col("n_docs").cast("double"))
          .select("source", "n_docs", "n_matched", "n_kept", "kept_frac")
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $minhashPairsDuck,
              |sh2 AS (SELECT doc_id, $shingleSqlDuck AS sh FROM documents),
              |ver AS (
              |  SELECT p.doc_a, p.doc_b
              |  FROM pairs p
              |  JOIN sh2 a ON a.doc_id = p.doc_a
              |  JOIN sh2 b ON b.doc_id = p.doc_b
              |  WHERE ${jaccardOkDuck("a", "b")}),
              |${TrainingData.pairEdgesDuck("ver")},
              |${TrainingData.componentsDuck},
              |lab AS (
              |  SELECT d.doc_id, d.source, d.n_chars,
              |    LEAST(d.doc_id, COALESCE(c.min_reach, d.doc_id)) AS label
              |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
              |ranked AS (
              |  SELECT source,
              |    COUNT(*) OVER (PARTITION BY label) AS csize,
              |    ROW_NUMBER() OVER (PARTITION BY label
              |                       ORDER BY n_chars DESC, doc_id) AS rn
              |  FROM lab)
              |SELECT source, COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_matched,
              |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_kept,
              |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / CAST(COUNT(*) AS DOUBLE) AS kept_frac
              |FROM ranked GROUP BY source ORDER BY source""".stripMargin)),

    // ----------------------------------------------------------------- t44
    // PII SCRUB: detect and redact emails / phone numbers / IPv4
    // addresses per document — the privacy pass every pretraining
    // pipeline runs before text leaves curation. The whole operator is
    // a PURE MAP (count + replace per row, zero shuffles at any scale);
    // patterns live in the Java∩RE2 regex subset ([[emailRe]]) so both
    // engines match identically, and redaction replaces email → IP →
    // phone in a fixed order so the output hash is deterministic. The
    // fixture corpus carries no PII, so a deterministic id-derived
    // contact line is appended first (same SQL both sides) — the gate
    // then proves detection AND redaction against known ground truth,
    // including the ~3/4 of documents that must pass through untouched.
    "t44_pii_scrub" -> QueryDef(
      (spark, dir) => {
        val seeded = t(spark, dir, "documents").withColumn("scan",
          concat(col("text"), expr(
            """CASE CAST(doc_id % 4 AS INT)
              | WHEN 0 THEN concat(' contact user', CAST(doc_id AS STRING),
              |   '@example.com for details')
              | WHEN 1 THEN concat(' call 555-',
              |   lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',
              |   lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
              | WHEN 2 THEN concat(' server 10.0.',
              |   CAST(doc_id % 256 AS STRING), '.',
              |   CAST((doc_id * 7) % 256 AS STRING))
              | ELSE '' END""".stripMargin)))
        seeded.select(col("doc_id"),
            regexp_count(col("scan"), lit(emailRe)).as("n_emails"),
            regexp_count(col("scan"), lit(phoneRe)).as("n_phones"),
            regexp_count(col("scan"), lit(ipRe)).as("n_ips"),
            md5(regexp_replace(regexp_replace(regexp_replace(col("scan"),
              emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")
              .cast("binary")).as("redacted_hash"))
          .withColumn("has_pii",
            (col("n_emails") + col("n_phones") + col("n_ips")) > 0)
          .orderBy("doc_id")
      },
      Some(s"""WITH seeded AS (
              |  SELECT doc_id, text ||
              |    CASE CAST(doc_id % 4 AS INT)
              |      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
              |        || '@example.com for details'
              |      WHEN 1 THEN ' call 555-'
              |        || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              |      WHEN 2 THEN ' server 10.0.'
              |        || CAST(doc_id % 256 AS VARCHAR) || '.'
              |        || CAST((doc_id * 7) % 256 AS VARCHAR)
              |      ELSE '' END AS scan
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(scan, '$emailRe')) AS INTEGER)
              |    AS n_emails,
              |  CAST(len(regexp_extract_all(scan, '$phoneRe')) AS INTEGER)
              |    AS n_phones,
              |  CAST(len(regexp_extract_all(scan, '$ipRe')) AS INTEGER)
              |    AS n_ips,
              |  md5(regexp_replace(regexp_replace(regexp_replace(scan,
              |    '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'),
              |    '$phoneRe', '<PHONE>', 'g')) AS redacted_hash,
              |  len(regexp_extract_all(scan, '$emailRe'))
              |    + len(regexp_extract_all(scan, '$phoneRe'))
              |    + len(regexp_extract_all(scan, '$ipRe')) > 0 AS has_pii
              |FROM seeded ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t45
    // MinHash BAND-table tuning — t31's "measure, don't guess" applied
    // to TEXT dedup: for each (bands, rows-per-band) split of the same
    // 8 MinHash signatures — (1,8) strictest, (2,4), (4,2) = t02's
    // production config — report how many candidate pairs the banding
    // emits and how many survive exact-Jaccard verification at
    // [[neardupJaccard]]: the candidate-volume vs precision table an
    // operator reads before picking b×r for a corpus. Membership
    // NESTING does the whole sweep in ONE candidate pass: all-8-sigs
    // equal ((1,8)) implies both 4-sig halves equal ((2,4)) implies the
    // matching half's two 2-sig bands equal ((4,2)) — so every config's
    // candidate set is CONTAINED in t02's production pairs, and
    // per-config membership is a per-PAIR signature comparison, not a
    // separate corpus band-join per leg. Corpus cost: the t02 candidate
    // pass + one signature map + one shingle map; everything downstream
    // is candidate-sized, and the Jaccard verify runs ONCE per pair.
    // The oracle keeps the independent per-config band-join spelling,
    // so the gate PROVES the nesting identity rather than assuming it.
    // 30× probe (T02Probe, r17): wall 5.08× on the independent-corpus
    // (mangled) fixture — the t02 candidate pass plus candidate-
    // proportional verify work, tracking the flat 0.14-candidates/doc
    // density; no corpus-sized stage beyond t02's own.
    "t45_band_sweep" -> QueryDef(
      (spark, dir) => {
        val docs = withWords(t(spark, dir, "documents"))
        val sh = docs.select(col("doc_id"), expr(shingleExpr).as("sh"))
        val sigs = docs.select(col("doc_id"),
          expr(s"minhash8($shingleExpr)").as("sigs"))
        val base = jaccardVerify(minhashPairs(spark, dir), sh)
          .join(sigs.select(col("doc_id").as("doc_a"),
            col("sigs").as("siga")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"),
            col("sigs").as("sigb")), "doc_b")
        def eq(i: Int): Column =
          element_at(col("siga"), i) === element_at(col("sigb"), i)
        def allEq(r: Range): Column = r.map(eq).reduce(_ && _)
        val flags = base.select(col("jacc_ok"),
          allEq(1 to 8).as("m1"),
          (allEq(1 to 4) || allEq(5 to 8)).as("m2"))
        def cnt(c: Column): Column =
          coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
        flags.agg(
            cnt(col("m1")).as("c1"), cnt(col("m1") && col("jacc_ok")).as("v1"),
            cnt(col("m2")).as("c2"), cnt(col("m2") && col("jacc_ok")).as("v2"),
            count(lit(1)).as("c4"), cnt(col("jacc_ok")).as("v4"))
          .select(explode(array(
            struct(lit(1).as("n_bands"), lit(8).as("rows_per_band"),
              col("c1").as("n_candidates"), col("v1").as("n_verified")),
            struct(lit(2).as("n_bands"), lit(4).as("rows_per_band"),
              col("c2").as("n_candidates"), col("v2").as("n_verified")),
            struct(lit(4).as("n_bands"), lit(2).as("rows_per_band"),
              col("c4").as("n_candidates"), col("v4").as("n_verified"))))
            .as("leg"))
          .select("leg.*")
          .withColumn("verified_frac",
            when(col("n_candidates") === 0, lit(0.0))
              .otherwise(col("n_verified").cast("double") /
                col("n_candidates").cast("double")))
          .orderBy("n_bands")
      },
      Some {
        def leg(b: Int, r: Int): String = {
          val bands = (0 until b).map { i =>
            val cc = (1 to r).map(j => s"sig${i * r + j}").mkString(", ")
            s"SELECT doc_id, ${i + 1} AS band, md5(concat($cc)) AS bucket FROM sigs"
          }.mkString(" UNION ALL ")
          s"""bands$b AS ($bands),
             |cand$b AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM bands$b a JOIN bands$b b
             |    ON a.band = b.band AND a.bucket = b.bucket
             |    AND a.doc_id < b.doc_id),
             |ver$b AS (
             |  SELECT COUNT(*) AS n FROM cand$b c
             |  JOIN sh2 a ON a.doc_id = c.doc_a
             |  JOIN sh2 b ON b.doc_id = c.doc_b
             |  WHERE ${jaccardOkDuck("a", "b")})""".stripMargin
        }
        s"""WITH shingled AS (
           |  SELECT doc_id, unnest($shingleSqlDuck) AS shingle FROM documents),
           |sigs AS (SELECT doc_id, $sigSqlDuck FROM shingled GROUP BY doc_id),
           |sh2 AS (SELECT doc_id, $shingleSqlDuck AS sh FROM documents),
           |${leg(1, 8)},
           |${leg(2, 4)},
           |${leg(4, 2)},
           |legs AS (
           |  SELECT 1 AS n_bands, 8 AS rows_per_band,
           |    (SELECT COUNT(*) FROM cand1) AS n_candidates,
           |    (SELECT n FROM ver1) AS n_verified
           |  UNION ALL SELECT 2, 4, (SELECT COUNT(*) FROM cand2),
           |    (SELECT n FROM ver2)
           |  UNION ALL SELECT 4, 2, (SELECT COUNT(*) FROM cand4),
           |    (SELECT n FROM ver4))
           |SELECT n_bands, rows_per_band,
           |  CAST(n_candidates AS BIGINT) AS n_candidates,
           |  CAST(n_verified AS BIGINT) AS n_verified,
           |  CASE WHEN n_candidates = 0 THEN 0.0
           |       ELSE CAST(n_verified AS DOUBLE)
           |         / CAST(n_candidates AS DOUBLE) END AS verified_frac
           |FROM legs ORDER BY n_bands""".stripMargin
      }),

    // ----------------------------------------------------------------- t66
    // CROSS-SOURCE SHINGLE OVERLAP MATRIX: pairwise Jaccard similarity
    // between the distinct-shingle sets of every source pair — the
    // corpus-composition diagnostic behind mix design (two crawls of
    // the same sites?), leakage checks between independently-licensed
    // slices, and prioritizing which source pairs need cross-source
    // dedup (t36's incremental pass runs per pair — this matrix says
    // which pairs are worth it).
    // Scale shape (r19 — the 300× probe caught the old one): sources
    // are a BOUNDED vocabulary (data provenance, ≤ dozens), so each
    // source becomes one bit of a LONG and the whole overlap matrix
    // reduces to two fixed-8-byte-buffer aggregations: bit_or(mask) per
    // shingle digest (ONE corpus-wide exchange of (sh64, mask) rows —
    // token volume never leaves the scan, only 64-bit digests), then
    // count per OBSERVED mask — a frame bounded by min(2^|S|, distinct
    // shingles) that the pair/size expansion double-explodes at ≲ |S|²
    // rows per mask. The r18 shape materialized DISTINCT (source,
    // shingle) rows and collect_set'd per shingle: a second corpus
    // exchange plus per-key object buffers, whose spill turned 100×→
    // 300× into 4.8× wall for 3× data (7.4 → 35.8 s isolated) — the
    // bitmask pass carries primitive buffers only and keeps the answer
    // bit-identical (n_common = #digests with both bits set). NEVER a
    // shingle-keyed self-join of the corpus (the naive shape — the
    // oracle uses it, at oracle scale). The source→bit collect is
    // bounded by |S| (t26's centroid-collect class).
    "t66_source_overlap" -> QueryDef(
      (spark, dir) => {
        val spark2 = spark
        import spark2.implicits._
        // NULL sources never pair in the oracle (a.source < b.source is
        // NULL → dropped) and never surface through its output joins —
        // drop them up front, which also protects the driver-side sort
        // (r19 ADVICE: a NULL source NPE'd before the old 62-source
        // require could even fire).
        val docs = withWords(t(spark, dir, "documents"))
          .filter(col("source").isNotNull)
        val srcs = docs.select("source").distinct()
          .collect().map(_.getString(0)).sorted
        // Bitmask generalized past the old `require(<= 62)` (r19
        // ADVICE): global bit i = 62·word + bit, ONE bit_or'd long per
        // word — W = ⌈|S|/62⌉ fixed 8-byte agg buffers per shingle
        // group, keeping the 300×-probe lesson (primitive buffers,
        // never collect_set's spilling object arrays) at ANY source
        // cardinality instead of an exception past 62. W is known
        // driver-side from the bounded source vocabulary; sorted order
        // keeps bit_a < bit_b == source_a < source_b.
        val W = math.max(1, (srcs.length + 61) / 62)
        val wordOf = typedlit(srcs.zipWithIndex
          .map { case (s, i) => s -> i / 62 }.toMap)
        val bitOf = typedlit(srcs.zipWithIndex
          .map { case (s, i) => s -> (1L << (i % 62)) }.toMap)
        val nameDf = srcs.zipWithIndex.map { case (s, i) => (i, s) }
          .toSeq.toDF("bit", "src")
        val sh = docs
          .select(wordOf(col("source")).as("word"),
            bitOf(col("source")).as("m"),
            explode(expr(shingleExpr)).as("shingle"))
          .select(col("word"), col("m"), xxhash64(col("shingle")).as("sh64"))
        val maskAggs = (0 until W).map(w =>
          (if (W == 1) expr("bit_or(m)")
           else expr(s"bit_or(IF(word = $w, m, 0L))")).as(s"mask$w"))
        val maskCounts = sh.groupBy("sh64").agg(maskAggs.head, maskAggs.tail: _*)
          .groupBy((0 until W).map(w => col(s"mask$w")): _*)
          .agg(count(lit(1)).as("cnt"))
        val bitsExpr = expr((0 until W).map(w =>
          s"transform(filter(sequence(0, 61), i -> ((mask$w >> i) & 1) = 1)," +
            s" i -> i + ${62 * w})")
          .mkString("concat(", ", ", ")"))
        val withBits = maskCounts.select(col("cnt"), bitsExpr.as("bits"))
        val sizes = withBits.select(explode(col("bits")).as("bit"), col("cnt"))
          .groupBy("bit").agg(sum("cnt").as("n_sh"))
        val pairs = withBits
          .select(col("cnt"), col("bits"), explode(col("bits")).as("bit_a"))
          .select(col("cnt"), col("bit_a"), explode(col("bits")).as("bit_b"))
          .filter(col("bit_a") < col("bit_b"))
          .groupBy("bit_a", "bit_b").agg(sum("cnt").as("n_common"))
        pairs
          .join(broadcast(sizes.select(col("bit").as("bit_a"),
            col("n_sh").as("n_a"))), "bit_a")
          .join(broadcast(sizes.select(col("bit").as("bit_b"),
            col("n_sh").as("n_b"))), "bit_b")
          .join(broadcast(nameDf.select(col("bit").as("bit_a"),
            col("src").as("source_a"))), "bit_a")
          .join(broadcast(nameDf.select(col("bit").as("bit_b"),
            col("src").as("source_b"))), "bit_b")
          .withColumn("jaccard", col("n_common").cast("double")
            / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
            col("n_common"), col("jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH ss AS (
              |  SELECT DISTINCT source, shingle
              |  FROM (SELECT source, unnest($shingleSqlDuck) AS shingle
              |        FROM documents)),
              |sizes AS (SELECT source, COUNT(*) AS n_sh FROM ss
              |          GROUP BY source),
              |pairs AS (
              |  SELECT a.source AS source_a, b.source AS source_b,
              |    COUNT(*) AS n_common
              |  FROM ss a JOIN ss b
              |    ON a.shingle = b.shingle AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT source_a, source_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
              |  n_common,
              |  CAST(n_common AS DOUBLE)
              |    / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON source_a = sa.source
              |JOIN sizes sb ON source_b = sb.source
              |ORDER BY source_a, source_b""".stripMargin)),

    // ----------------------------------------------------------------- t68
    // EVENT-RATE ANOMALY DETECTION: per event type, hourly ingest counts
    // that sit more than 2σ from that type's mean hourly rate — the
    // monitoring pass a streaming ingest pipeline runs over its own
    // telemetry (collection outages, bot bursts, duplicate-feed
    // incidents all surface here before they poison the training mix).
    // Batch twin of the streaming windowed-count path in
    // [[graft.streaming.Streams]].
    // Scale shape: the corpus collapses to (type, hour) counts in one
    // map-side-combinable agg — bounded by types × hours, not events;
    // per-type moments (n, Σc, Σc²) are EXACT long sums over that small
    // frame, so mean/σ are identical under any partitioning; the ≤
    // |types|-row moment table broadcast-joins back. z uses only
    // + − × ÷ √ (each one correctly-rounded IEEE op, same association
    // both engines — ln/exp never appear).
    "t68_event_rate_anomaly" -> QueryDef(
      (spark, dir) => {
        // per-type moments as windows over the bounded (type, hour)
        // counts frame — branch-free (an agg + join-back leg would
        // re-compute the corpus subtree); partition key |types| is
        // small but the frame is ALREADY the collapsed histogram,
        // bounded by types × hours (t48's bounded-window rule)
        import org.apache.spark.sql.expressions.Window
        val wType = Window.partitionBy("event_type").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        t(spark, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("c"))
          .withColumn("n", count(lit(1)).over(wType))
          .withColumn("s1", sum("c").over(wType))
          .withColumn("s2", sum(col("c") * col("c")).over(wType))
          .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
          .withColumn("std", sqrt(
            col("s2").cast("double") / col("n").cast("double")
              - col("mean") * col("mean")))
          .withColumn("z",
            (col("c").cast("double") - col("mean")) / col("std"))
          .filter(col("z") > 2.0 || col("z") < -2.0)
          .select(col("event_type"), col("hour"), col("c"), col("mean"),
            col("std"), col("z"))
          .orderBy("event_type", "hour")
      },
      Some("""WITH counts AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |moments AS (
             |  SELECT event_type, COUNT(*) AS n, SUM(c) AS s1,
             |    SUM(c * c) AS s2
             |  FROM counts GROUP BY 1),
             |z AS (
             |  SELECT event_type, hour, c,
             |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS std,
             |    (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             |      / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             |        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             |          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z
             |  FROM counts JOIN moments USING (event_type))
             |SELECT event_type, hour, c, mean, std, z FROM z
             |WHERE z > 2.0 OR z < -2.0
             |ORDER BY event_type, hour""".stripMargin)),

    // ----------------------------------------------------------------- t70
    // TOKEN-BUDGET WATERFILL across sources: allocate a fixed training
    // budget (60% of the corpus here) over sources by water-filling —
    // every source keeps min(tokens, L) where the level L is chosen so
    // the allocations exactly exhaust the budget. This is the
    // DoReMi/Pile-style mix flattening: small sources keep everything,
    // the largest sources are capped at one common level instead of
    // pro-rata (which would starve the tail).
    // Closed form, no iteration: sort sources ascending, find the first
    // rank where capping every remaining source at ITS size overshoots
    // the budget — the level lands in that rank's interval and is one
    // exact integer division. Scale shape: the corpus collapses to a
    // ≤ |sources|-row token table in one map-side-combinable agg; the
    // sort/prefix-sum window runs on that tiny frame (single-task by
    // construction and bounded by |sources| — t34/t48's bounded-window
    // rule); the 0-or-1-row threshold broadcasts back by cross join.
    // Allocation is all-integer (floor level; the ≤ |capped|-token
    // remainder is left unspent, documented), so both engines agree
    // bit-for-bit.
    "t70_budget_waterfill" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        // every derived scalar (total, S, budget, threshold rank, level)
        // is a window over the SAME ≤ |sources|-row frame instead of a
        // separate agg branch: one corpus scan, no re-computed legs, no
        // joins — the branch-free twin of the oracle's CTE cascade
        val ord = Window.orderBy("tokens", "source")
        val cumW = ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val allW = Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        t(spark, dir, "documents")
          .groupBy("source").agg(sum(expr(tokenEstExpr)).as("tokens"))
          .withColumn("rn", row_number().over(ord))
          .withColumn("cum", sum("tokens").over(cumW))
          .withColumn("s", count(lit(1)).over(allW))
          .withColumn("total", sum("tokens").over(allW))
          .withColumn("b", expr("(total * 6) div 10"))
          .withColumn("thr_rn", min(when(
            col("cum") - col("tokens")
              + col("tokens") * (col("s") - col("rn") + 1) > col("b"),
            col("rn"))).over(allW))
          .withColumn("lvl", max(when(col("rn") === col("thr_rn"),
            expr("(b - (cum - tokens)) div (s - rn + 1)"))).over(allW))
          .withColumn("alloc",
            when(col("thr_rn").isNull || col("rn") < col("thr_rn"),
              col("tokens")).otherwise(col("lvl")))
          .withColumn("capped", col("alloc") < col("tokens"))
          .select(col("source"), col("tokens"), col("alloc"), col("capped"))
          .orderBy("source")
      },
      Some(s"""WITH srcs AS (
              |  SELECT source, CAST(SUM($tokenEstDuck) AS BIGINT) AS tokens
              |  FROM documents GROUP BY source),
              |tot AS (
              |  SELECT CAST(SUM(tokens) AS BIGINT) AS total,
              |    COUNT(*) AS s,
              |    CAST((SUM(tokens) * 6) // 10 AS BIGINT) AS b
              |  FROM srcs),
              |ranked AS (
              |  SELECT source, tokens,
              |    ROW_NUMBER() OVER (ORDER BY tokens, source) AS rn,
              |    SUM(tokens) OVER (ORDER BY tokens, source
              |      ROWS UNBOUNDED PRECEDING) AS cum,
              |    tot.b, tot.s
              |  FROM srcs, tot),
              |thr AS (
              |  SELECT rn AS thr_rn,
              |    CAST((b - (cum - tokens)) // (s - rn + 1) AS BIGINT) AS lvl
              |  FROM ranked
              |  WHERE (cum - tokens) + tokens * (s - rn + 1) > b
              |  ORDER BY rn LIMIT 1)
              |SELECT r.source, r.tokens,
              |  CAST(CASE WHEN t.thr_rn IS NULL OR r.rn < t.thr_rn
              |       THEN r.tokens ELSE t.lvl END AS BIGINT) AS alloc,
              |  (CASE WHEN t.thr_rn IS NULL OR r.rn < t.thr_rn
              |       THEN r.tokens ELSE t.lvl END) < r.tokens AS capped
              |FROM ranked r LEFT JOIN thr t ON TRUE
              |ORDER BY r.source""".stripMargin)),

    // ----------------------------------------------------------------- t72
    // QUALITY-vs-NEAR-DUP CALIBRATION: per quality decile (t08's score),
    // what fraction of documents are MinHash near-dup suspects (an
    // endpoint of a t02 candidate pair) — the signal-correlation report
    // that decides whether quality filtering and dedup are redundant or
    // complementary on a corpus (boilerplate is usually BOTH low-quality
    // and duplicated; if the low deciles carry all the dup mass, dedup
    // can run on the filtered survivors only — a large cost saving).
    // Scale shape: quality is a pure map; the suspect set is bounded by
    // candidate pairs (t02's within-(band,bucket) join, never all-pairs);
    // the doc_id-keyed LEFT join is digest-sized; the final agg keys on
    // 10 deciles, map-side combinable. Fixed-point decile (qfp div 1e5)
    // so bucket edges are engine-identical.
    "t72_quality_dup_calibration" -> QueryDef(
      (spark, dir) => {
        val suspects = minhashPairs(spark, dir)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
          .withColumn("suspect", lit(true))
        qualityInputs(t(spark, dir, "documents"))
          .withColumn("qfp", floor(qualityCol * 1e6 + 0.5).cast("long"))
          .withColumn("decile", least(expr("qfp div 100000"), lit(9L)))
          .select(col("doc_id"), col("decile"))
          .join(suspects, Seq("doc_id"), "left")
          .groupBy("decile").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("suspect"), 1L).otherwise(0L)).as("n_suspect"))
          .withColumn("suspect_rate",
            col("n_suspect").cast("double") / col("n_docs").cast("double"))
          .orderBy("decile")
      },
      Some(s"""WITH $minhashPairsDuck,
              |suspects AS (
              |  SELECT DISTINCT doc_id FROM (
              |    SELECT doc_a AS doc_id FROM pairs
              |    UNION ALL SELECT doc_b FROM pairs)),
              |q AS (
              |  SELECT doc_id,
              |    least(CAST(FLOOR(($qualityDuck) * 1e6 + 0.5) AS BIGINT)
              |      // 100000, 9) AS decile
              |  FROM documents)
              |SELECT decile, COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_suspect,
              |  CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS suspect_rate
              |FROM q LEFT JOIN suspects s USING (doc_id)
              |GROUP BY decile ORDER BY decile""".stripMargin)),

    // ----------------------------------------------------------------- t76
    // WINNOWING FINGERPRINT OVERLAP (the MOSS algorithm; see
    // winnowFingerprints above for the selection stage): hash every
    // positional word 3-gram, slide a w=4 window over the hash sequence
    // and keep each window's MINIMUM — the classic guarantee that any
    // shared run of ≥ w+2 consecutive words contributes at least one
    // IDENTICAL fingerprint to both documents, at ~1/w the density of
    // full shingling. Pairs sharing ≥ 2 fingerprints are reported with
    // a containment score — the plagiarism/near-dup detector that
    // catches LOCAL copied spans t02's whole-document MinHash dilutes
    // away. Fingerprints are VALUES (not positions), so the window-min
    // sets are engine-order-independent and oracle parity is exact.
    //
    // Scale shape: gram hashing + window-min is one partition-local
    // window per doc_id (documents hash-partition by doc_id; the window
    // sort is within a partition). The pair stage reuses t03's
    // one-shuffle unfold — groupBy(fp) with a df-cap, pairs unfold
    // map-side from each posting list, so a stop-fingerprint can never
    // produce an f² pair explosion; only (fp, doc-list ≤ cap) rows and
    // (pair, count) rows ever cross an exchange, never text.
    "t76_winnow_overlap" -> QueryDef(
      (spark, dir) => {
        val fps = winnowFingerprints(t(spark, dir, "documents"))
        val groups = fps.groupBy("fp")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) <= 50)
        val inter = groups.filter(size(col("ids")) > 1)
          .select(explode(expr(
            "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))")).as("p"))
          .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
          .agg(count(lit(1)).as("n_common"))
          .filter(col("n_common") >= 2)
        val sizes = groups.select(explode(col("ids")).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
        inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b")), "doc_b")
          .withColumn("containment", col("n_common").cast("double")
            / least(col("fp_a"), col("fp_b")).cast("double"))
          .select("doc_a", "doc_b", "fp_a", "fp_b", "n_common", "containment")
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val hb = (1 to 8).map { i =>
          s"(instr('0123456789abcdef', substr(h3, $i, 1)) - 1) * ${1L << (4 * (8 - i))}"
        }.mkString(" + ")
        s"""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |g AS (
           |  SELECT doc_id, u.pos AS pos, CAST($hb AS BIGINT) AS h
           |  FROM (
           |    SELECT doc_id,
           |      md5(u.g) AS h3, u
           |    FROM (
           |      SELECT doc_id, unnest(list_transform(
           |        range(1, greatest(len(words) - 2, 0) + 1),
           |        i -> {'pos': i - 1,
           |              'g': array_to_string(words[i:i+2], ' ')})) AS u
           |      FROM w))),
           |wm AS (
           |  SELECT doc_id,
           |    pos,
           |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
           |    COUNT(*) OVER (PARTITION BY doc_id) AS n
           |  FROM g),
           |fps AS (
           |  SELECT DISTINCT doc_id, wmin AS fp FROM wm
           |  WHERE pos + 4 <= n OR pos = 0),
           |cnt AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp),
           |kept AS (
           |  SELECT f.doc_id, f.fp FROM fps f JOIN cnt USING (fp)
           |  WHERE cnt.df <= 50),
           |sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM kept GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    COUNT(*) AS n_common
           |  FROM kept a JOIN kept b
           |    ON a.fp = b.fp AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
           |SELECT doc_a, doc_b, sa.n_fp AS fp_a, sb.n_fp AS fp_b, n_common,
           |  CAST(n_common AS DOUBLE)
           |    / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE) AS containment
           |FROM inter
           |JOIN sizes sa ON doc_a = sa.doc_id
           |JOIN sizes sb ON doc_b = sb.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin
      })
  )
}
