package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data SELECTION operators: the decision layer that sits on top
  * of the measurement ops in [[TrainingData]] — which documents go into
  * the training mix, which are contaminated by evaluation data, which
  * strata are over-represented, which vectors best represent a cluster.
  *
  * Same oracle-portability rules as [[TrainingData]]: integer counts and
  * exact IEEE divisions only (a/b of two ints is one rounding in both
  * engines), md5 as the portable hash, fixed-point FLOOR(x*1e6+0.5) longs
  * wherever doubles must aggregate across partitions.
  *
  * HUGEINT rule: any DuckDB `SUM(<integer>)` (plain or windowed) that
  * reaches a top-level SELECT output returns HUGEINT, which pandas
  * renders float64 while Spark emits int64 — the driver's typed hash
  * then mismatches even when values agree (q07 round 1, t20/t24 round
  * 4). Every such SUM in an oracle string MUST be wrapped
  * `CAST(SUM(...) AS BIGINT)` (or AS DOUBLE when the engine side is
  * double). Sums that only feed divisions/comparisons inside the query
  * are exempt — they never hit the output schema.
  */
object DataSelection {

  import Tables.t
  import TrainingData.{shingleExpr, shingleSqlDuck, withWords, dotCol, dotSql, dotDuck,
    ivf8Cells, ivf8Second, ivf8CdotsDuck, ivf8BestDuck, ivf8SecondDuck}

  /** t09's BPE token estimate over a `documents` row — one definition
    * shared by t24's shards and t41's epoch budget (plus its DuckDB
    * twin below), so the estimate can never silently diverge between
    * operators. */
  private[queries] val tokenEstExpr = "(n_chars + 3) div 4"

  /** DuckDB twin of [[tokenEstExpr]]. */
  private[queries] val tokenEstDuck = "(n_chars + 3) // 4"

  /** The src0 reference-slice unigram LM — (lm = (w, cnt), tot = one-row
    * t_lm). The ONE definition shared by t74's surprisal and t84's
    * backoff: the t84 contract is "t74 unigram score + 1 penalty bit",
    * which only stays true while both read the same LM build. */
  private def srcZeroUnigramLm(docs: DataFrame): (DataFrame, DataFrame) = {
    import TrainingData.withWords
    val lm = withWords(docs).filter(col("source") === "src0")
      .select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    (lm, lm.agg(sum("cnt").as("t_lm")))
  }

  /** t50/t51's chunk geometry: fixed `chunkW`-char windows every
    * `chunkS` chars (`chunkW - chunkS` overlap) — the RAG/embedding prep
    * split. Interpolated into BOTH engines' definitions so an edit
    * cannot diverge the pair. */
  private val chunkW = 200
  private val chunkS = 150

  /** The shared chunk frame: one row per (document, window index `k`)
    * with the window's text as `chunk`. A PURE MAP with a bounded
    * explode (≤ len/stride chunks per document, each derived from that
    * row alone) — zero shuffles at any corpus size.
    *
    * k runs 0..⌈(len − chunkW)/chunkS⌉ = (len − (chunkW − chunkS + 1))
    * div chunkS: the last window is emitted only when it reaches PAST
    * the previous one (a tail shorter than the overlap would be a
    * strict sub-span of the prior chunk — pure redundancy in the chunk
    * store), while coverage to the final character stays guaranteed.
    * GREATEST(…, 0) keeps both `div` operands non-negative — Spark's
    * truncating div ≡ DuckDB's floor `//` only then — and gives a
    * zero-length document the same single empty chunk in both
    * engines. */
  private def docChunks(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("len"))
      .select(col("doc_id"), col("source"), col("text"), col("len"),
        explode(expr(s"sequence(0, int(greatest(len - ${chunkW - chunkS + 1}, 0) div $chunkS))"))
          .as("k"))
      .withColumn("chunk", expr(s"substr(text, k * $chunkS + 1, $chunkW)"))

  /** DuckDB twin of [[docChunks]] (a CTE body; `chunk` left to callers
    * since DuckDB needs the explicit INT cast on the start offset). */
  private val chunkCteDuck =
    s"""SELECT doc_id, source, text, len(text) AS len,
       |    unnest(generate_series(0,
       |      GREATEST(len(text) - ${chunkW - chunkS + 1}, 0) // $chunkS)) AS k
       |  FROM documents""".stripMargin

  /** DuckDB twin of the `chunk` column over [[chunkCteDuck]]. */
  private val chunkDuck = s"substr(text, CAST(k * $chunkS + 1 AS INT), $chunkW)"

  /** t51's cross-document threshold: a chunk digest counts as
    * boilerplate when it appears in at least this many distinct
    * documents (interpolated into both sides). */
  private val chunkMinDocs = 2

  /** t24's bucket count for the distributed prefix sum: grows with the
    * input's partitioning so the second (accumulate) pass never caps at a
    * constant task count when the data scales — a hard-coded 32 would make
    * it 32 long serial scans at 100×. Floor of 32 keeps small inputs from
    * degenerating into a handful of giant buckets on a re-coalesced read;
    * the driver-side offsets map costs one long per bucket regardless. */
  private[graft] def tokenShardBuckets(inputPartitions: Int): Int =
    math.max(32, inputPartitions)

  /** Global prefix sum of t09 token estimates in doc_id order —
    * [doc_id, tok, cum] with cum the INCLUSIVE running total — shared by
    * t24's shard assignment and t56's sequence packing. The textbook
    * distributed form is TWO passes, never a partition-less window
    * (Spark moves those to ONE task): (1) per-bucket token totals (tiny
    * agg) → exclusive prefix offsets on the driver; (2) one map pass
    * accumulating within each bucket, seeded by its offset. Buckets are
    * fixed-width doc_id ranges, so the result is deterministic under any
    * physical partitioning: sortWithinPartitions keeps each bucket
    * contiguous and the accumulator reseeds at every bucket boundary.
    * Bucket count scales with the input's partitioning
    * ([[tokenShardBuckets]]) so the accumulate pass keeps cluster-wide
    * parallelism at 100× — offsets stay one long per bucket on the
    * driver either way, and the output is bucket-count-invariant by
    * construction. */
  private def cumulativeTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"),
        expr(tokenEstExpr).as("tok")) // t09's BPE estimate
    // N from parquet footers (t26's recipe) — a driver-side metadata
    // read instead of a corpus count() job (r21)
    val n = Tables.rowCount(spark, dir, "documents")
    val buckets = tokenShardBuckets(docs.rdd.getNumPartitions)
    val bucketWidth = math.max(1L, (n + buckets - 1) / buckets)
    val bucketed = docs
      .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
    val offsets: Map[Long, Long] = {
      val totals = bucketed.groupBy("bucket")
        .agg(sum("tok").as("s")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      // zip against the exclusive prefix sums (scanLeft emits n+1
      // values; zip truncates) — empty-table safe
      totals.map(_._1)
        .zip(totals.scanLeft(0L)((acc, t) => acc + t._2))
        .toMap
    }
    import spark.implicits._
    bucketed
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curBucket = Long.MinValue
        var acc = 0L
        it.map { case (id, tok, bucket) =>
          if (bucket != curBucket) { curBucket = bucket; acc = offsets(bucket) }
          acc += tok
          (id, tok, acc)
        }
      }
      .toDF("doc_id", "tok", "cum")
  }

  /** t23's per-partition pre-top-k: reduce a (label, vec_id, dist) frame
    * to at most k rows per (label, input partition) —
    * [[Curation.boundedTopK]]'s bounded insertion pass, NO shuffle —
    * before the global per-label rank. With k ≪ cores the global
    * window's partition key skews (8 labels = 8 tasks
    * over the whole corpus' pairs); after this pass the window ranks at
    * most k × labels × partitions rows. The global top-k per label is
    * contained in the union of partition-local top-ks, and ties break on
    * the same (dist, vec_id) tuple order the window uses, so results are
    * identical by construction (pinned by PlanSpec). */
  private[graft] def localLabelTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(col("label").cast("int"), col("vec_id").cast("long"),
        col("dist").cast("double"))
      .as[(Int, Long, Double)]
      .mapPartitions { it =>
        Curation.boundedTopK(it.map { case (l, id, d) => (l, (d, id)) }, k)
          .map { case (l, (d, id)) => (l, id, d) }
      }
      .toDF("label", "vec_id", "dist")
  }

  /** Hard negatives' shared tail (t57, t64, t104). `pairs` holds the
    * (anchor, candidate) rows: the anchor's aid, albl, aemb and anrm (its
    * hoisted self-norm) next to the candidate's vec_id, label, embedding
    * and nrm. Per anchor, the top-3 most-similar same-label candidates
    * (`pos`) and other-label ones (`neg`) by cosine, ties on vec_id.
    * The packed int key (aid/100)*2 + kind bit is collision-free because
    * anchors are multiples of 100, and fits [[localLabelTopK]]'s (label,
    * vec_id, dist) contract. dist = −cosine (sign-flip is exact IEEE), so
    * its (dist, id) ASC order is the window's (cosine DESC, vec_id ASC),
    * and each partition keeps ≤3 rows per (anchor, kind) before anything
    * shuffles: the window ranks ≤ 3·keys·partitions survivors. */
  private def hardNegativeTopK(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = pairs.filter(col("vec_id") =!= col("aid"))
      .select(
        (expr("CAST(aid div 100 AS INT)") * 2
          + when(col("label") === col("albl"), 0).otherwise(1))
          .as("label"),
        col("vec_id"),
        (-(expr(dotSql("embedding", "aemb")).cast("double") /
          (sqrt(col("anrm").cast("double"))
            * sqrt(col("nrm").cast("double"))))).as("dist"))
    val reduced = localLabelTopK(keyed, 3)
      .select(expr("CAST((label div 2) * 100 AS BIGINT)").as("aid"),
        when(col("label") % 2 === 0, "pos").otherwise("neg").as("kind"),
        col("vec_id"), (-col("dist")).as("cosine"))
    val w = Window.partitionBy("aid", "kind")
      .orderBy(col("cosine").desc, col("vec_id"))
    reduced.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("aid", "kind", "rnk", "vec_id", "cosine")
      .orderBy("aid", "kind", "rnk")
  }

  /** [[hardNegativeTopK]]'s DuckDB twin: the CTEs from `p` on, where
    * `pairs` is p's FROM/JOIN clause over anchors `a` and candidates `n`. */
  private def hardNegativeTopKDuck(pairs: String): String =
    s"""p AS (
       |  SELECT a.aid,
       |    CASE WHEN n.label = a.albl THEN 'pos' ELSE 'neg' END AS kind,
       |    n.vec_id,
       |    ${dotDuck("n.embedding", "a.aemb")}
       |      / (sqrt(a.anrm) * sqrt(n.nrm)) AS cosine
       |  $pairs),
       |r AS (
       |  SELECT aid, kind, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY aid, kind
       |      ORDER BY cosine DESC, vec_id) AS rnk
       |  FROM p)
       |SELECT aid, kind, rnk, vec_id, cosine
       |FROM r WHERE rnk <= 3 ORDER BY aid, kind, rnk""".stripMargin

  /** Apply ONE BPE merge (a, b) to a word's symbol list, LEFT-TO-RIGHT
    * and NON-OVERLAPPING — real BPE's application rule: scanning from
    * the left, each (a, b) occurrence becomes a·b and its two symbols are
    * consumed. For a ≠ b matches can never overlap, so every one merges;
    * for a = b, a run of k candidates merges at the odd ranks only
    * ("aaaa" → [aa, aa], "aaa" → [aa, a]). */
  private[graft] def bpeMerge(syms: Seq[String], a: String,
      b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** t87's trainer: k merge rounds over the collapsed word vocabulary.
    * Returns (final vocab as a local frame, merges learned).
    *
    * ONE distributed step: the corpus scan → (word, wcnt, syms)
    * vocabulary aggregation, symbols split by Spark's `substr` (code
    * points). The vocabulary is collected and every round runs on the
    * driver: pair counts are exact `Long` sums of `wcnt` over every
    * adjacent (sym, nxt) position, the winner is the first pair in
    * (n_occ DESC, a, b) order with strings compared as UTF-8 bytes
    * (`UTF8String.compareTo`, the order Spark's `orderBy` and DuckDB
    * use — not `String.compareTo`'s UTF-16 order), and [[bpeMerge]]
    * applies it to every word. Fewer than k merges when no pair is left.
    *
    * Precondition: the distinct-word vocabulary fits in driver memory —
    * the precondition of every single-machine BPE trainer. */
  private[graft] def bpeRounds(spark: SparkSession, dir: String,
      k: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.unsafe.types.UTF8String
    val vocab0 = withWords(t(spark, dir, "documents"))
      .select(explode(col("words")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))"))
    val words = vocab0.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toVector))
    val rank = Ordering.by[((String, String), Long),
        (Long, UTF8String, UTF8String)] { case ((a, b), n) =>
      (-n, UTF8String.fromString(a), UTF8String.fromString(b))
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    @annotation.tailrec
    def round(r: Int, cur: Array[(String, Long, Vector[String])])
        : Array[(String, Long, Vector[String])] =
      if (r > k) cur
      else {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((_, wcnt, syms) <- cur; (a, b) <- syms.zip(syms.tail))
          counts((a, b)) = counts.getOrElse((a, b), 0L) + wcnt
        if (counts.isEmpty) cur
        else {
          val ((a, b), n) = counts.min(rank)
          merges += ((r, a, b, n))
          round(r + 1, cur.map { case (w, c, s) => (w, c, bpeMerge(s, a, b)) })
        }
      }
    val vocab = round(1, words).toSeq
      .map { case (w, c, s) => org.apache.spark.sql.Row(w, c, s) }
    (spark.createDataFrame(vocab.asJava, vocab0.schema), merges.result())
  }

  /** DuckDB twin of [[bpeRounds]]: k chained CTE blocks, each one count
    * + merge round. The merge is [[bpeMerge]]'s left-to-right
    * non-overlapping rule spelled as windows: candidate flag →
    * gaps-and-islands grouping of consecutive candidate positions →
    * odd rank in island = merge start → drop positions covered by the
    * previous row's start → rebuild the list ordered by pos. The parallel
    * unnests zip positionally (DuckDB's lockstep unnest). Generated
    * programmatically — the dataflow is identical in every round. */
  private def bpeOracle(k: Int): String = {
    val init = """v0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt,
      |    list_transform(range(1, len(word) + 1),
      |      i -> substr(word, CAST(i AS INT), 1)) AS syms
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE len(word) >= 2 GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { r =>
      s"""p$r AS (
         |  SELECT word, wcnt, pos, sym,
         |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM (SELECT word, wcnt,
         |          unnest(range(1, len(syms) + 1)) AS pos,
         |          unnest(syms) AS sym
         |        FROM v${r - 1}) q),
         |w$r AS (
         |  SELECT sym AS a, nxt AS b, CAST(SUM(wcnt) AS BIGINT) AS n_occ
         |  FROM p$r WHERE nxt IS NOT NULL
         |  GROUP BY sym, nxt ORDER BY n_occ DESC, a, b LIMIT 1),
         |g$r AS (
         |  SELECT p.*, CASE WHEN p.sym = w.a AND p.nxt = w.b
         |    THEN 1 ELSE 0 END AS cand
         |  FROM p$r p, w$r w),
         |i$r AS (
         |  SELECT *, CASE WHEN cand = 1 THEN pos - ROW_NUMBER() OVER (
         |      PARTITION BY word, cand ORDER BY pos) END AS grp
         |  FROM g$r),
         |s$r AS (
         |  SELECT *, CASE WHEN cand = 1 AND ROW_NUMBER() OVER (
         |      PARTITION BY word, grp ORDER BY pos) % 2 = 1
         |    THEN 1 ELSE 0 END AS strt
         |  FROM i$r),
         |m$r AS (
         |  SELECT word, wcnt, pos,
         |    CASE WHEN strt = 1 THEN sym || nxt ELSE sym END AS sym2,
         |    COALESCE(LAG(strt) OVER (PARTITION BY word ORDER BY pos), 0)
         |      AS prevs
         |  FROM s$r),
         |v$r AS (
         |  SELECT word, wcnt, list(sym2 ORDER BY pos) AS syms
         |  FROM m$r WHERE prevs = 0 GROUP BY word, wcnt)""".stripMargin
    }
    val union = (1 to k).map(r =>
      s"SELECT $r AS round, a, b, a || b AS merged, n_occ FROM w$r")
      .mkString("\nUNION ALL\n")
    s"WITH $init,\n${rounds.mkString(",\n")}\n$union\nORDER BY round"
  }

  /** The ONE decontamination definition (exact n-gram overlap vs the
    * eval set), shared verbatim by t19 and t43: t43's Bloom stage only
    * PRUNES candidates (false positives are removed by exact
    * verification, false negatives are impossible), so the two queries
    * are the same function computed by different dataflows — one oracle
    * string makes that claim structural. */
  private val decontaminateOracle: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($shingleSqlDuck) AS shingle FROM documents),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh
       |        WHERE doc_id % 50 <> 0 GROUP BY doc_id),
       |ov AS (SELECT s.doc_id, COUNT(*) AS ov
       |       FROM sh s JOIN ev USING (shingle)
       |       WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id)
       |SELECT t.doc_id, t.n_shingles,
       |  COALESCE(o.ov, 0) AS n_overlap,
       |  CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |    AS contamination,
       |  CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |    >= 0.5 AS contaminated
       |FROM tot t LEFT JOIN ov o ON o.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Row bound for [[boundedEvalBroadcast]]: generously above any
    * published benchmark suite's distinct-shingle/-n-gram set (a 10⁵-doc
    * eval suite at ~40 distinct shingles per doc is 4M rows — tens of MB
    * of 64-bit digests, low hundreds of MB of shingle strings, the upper
    * edge of a sane executor broadcast) and orders of magnitude below
    * any corpus-PROPORTIONAL side (1/50 of a 10⁹-doc corpus is 10⁸⁺
    * rows). The gate fixtures sit 3–4 decades under it (t19's eval
    * shingle set is ~5k rows at sf0.1, ~500k at the 100× probe). */
  private[graft] val evalBroadcastMaxRows = 4 * 1000 * 1000

  /** Enforce the benchmark-bounded-eval PREMISE behind the explicit
    * broadcast hints at t19/t54/t63 — r18's broadcast law made every
    * broadcast either author-PROVEN (a hint) or AQE-MEASURED, and these
    * three hints are the proofs whose premise ("the eval side is
    * benchmark-sized, not corpus-sized") previously lived only in
    * comments (r18 verdict, What's wrong #2). A corpus-proportional
    * eval side shipped by an unwitting caller would have assembled a
    * multi-GB driver broadcast with an OOM as the only diagnostic.
    *
    * The check: persist the eval frame (so the premise check and the
    * broadcast evaluate the eval leg ONCE — the storage cost is the
    * premise itself, and MEMORY_AND_DISK spills rather than OOMs even
    * when the premise is false), count it through a local limit of
    * bound+1 (each partition stops scanning at the bound — the guard
    * stays bounded even over a pathological side), and above the bound
    * fail FAST with the escalation routes: t43's Bloom-filter probe
    * (eval side collapses to a ~MB sketch regardless of row count) or
    * t100's IVF join (neither side broadcasts). Below it, hand the
    * frame to `broadcast(...)` as before — same values, same plan, so
    * every oracle hash is unchanged. */
  /** Memo of eval frames the guard has already verified-and-persisted,
    * keyed per session by (canonicalized analyzed plan, bound): the
    * premise check is a property of the PLAN, so re-counting the same
    * persisted frame on every execution (+0.14–0.21 s × t19/t54/t63 at
    * sf0.1, r19 verdict residual #3) bought nothing. The memoized
    * frame stays persisted for the session lifetime BY DESIGN — it is
    * the memo's evidence (the verdict is only as durable as the data
    * it counted) and the broadcast input; one bounded (≤ 4M-row) pin
    * per distinct guarded plan, not one per call (the r19 ADVICE
    * pile-up). Failures are never memoized: a thrown mapper leaves no
    * entry, so an oversized frame diagnoses on every attempt
    * (DecontaminateSpec's contract). */
  private val evalGuardMemo = new graft.core.SessionMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int), DataFrame]

  private[graft] def boundedEvalBroadcast(df: DataFrame, site: String,
      maxRows: Int = evalBroadcastMaxRows): DataFrame = {
    val verified = evalGuardMemo(df.sparkSession,
      (df.queryExecution.analyzed.canonicalized, maxRows)) {
      val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = pinned.limit(maxRows + 1).count()
      if (n > maxRows) {
        pinned.unpersist()
        throw new IllegalStateException(
          s"$site: eval-side frame exceeds the benchmark-bounded-eval " +
            s"premise behind its broadcast hint (> $maxRows rows). A " +
            "corpus-proportional eval set must not broadcast — route it " +
            "through t43_bloom_decontaminate's Bloom-filter probe (eval " +
            "side becomes a ~MB sketch) or t100_semantic_decontaminate_ivf's " +
            "IVF join (no broadcast on either side) instead.")
      }
      pinned
    }
    broadcast(verified)
  }

  /** t104's cell count: the balanced ⌈√N⌉ arm between per-vector
    * assignment (N·k dots) and the probed pair stream (~2·N·(N/100)/k),
    * floored at t64's 8-cell fixture config and capped where the
    * driver-built centroid table reaches 8 MB (2¹⁴ × 64 doubles — the
    * published IVF fixed-list regime beyond, t26's cap pattern). The
    * oracle's nk CTE interpolates the same formula. */
  private[graft] def ivfCellCount(n: Long): Int =
    math.max(8, math.min(1 << 14, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** t104's IVF centroid table: k planes of the md5-mixed family
    * ("ivf|j|d" namespace — decorrelated directions, unlike the
    * lattice-correlated LCG planes t64's fixture config pins; see
    * PlaneFamilyLab; README "Lab record"). Derived independently by the oracle's SQL
    * hex parse of the same md5. Driver-side, ≤ 8 MB at the cap. */
  private[graft] def ivfCentroids(k: Int): Array[Array[Double]] =
    Array.tabulate(k, 64) { (j0, d0) =>
      (graft.functions.Md5.word32(s"ivf|${j0 + 1}|${d0 + 1}") % 32768L)
        .toDouble / 32768.0 - 0.5
    }

  val defs: Map[String, QueryDef] = Map(

    // ----------------------------------------------------------------- t19
    // Test-set DECONTAMINATION: flag training documents whose 3-gram
    // shingles overlap an evaluation set (here: doc_id % 50 == 0 stands in
    // for the benchmark corpus). The at-scale shape: the eval shingle set
    // is tiny relative to the corpus (benchmarks are ~1e5 docs vs 1e9), so
    // it BROADCASTS — the corpus is scanned once, never shuffled on text;
    // only (doc_id, count) rows move. This is the standard n-gram-overlap
    // decontamination run before every training job.
    "t19_decontaminate" -> QueryDef(
      (spark, dir) => {
        val sh = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), explode(expr(shingleExpr)).as("shingle"))
        // the doc_id filters push below the explode to the scan, so the
        // eval leg shingles only the benchmark docs (1/50 of the corpus)
        // and the train leg runs ONCE: the broadcast LEFT join marks
        // overlap hits in-stream and one agg counts totals + hits
        // together (a separate overlap agg + doc_id join re-shingled
        // the whole train corpus a second time)
        val evalSh = sh.filter(col("doc_id") % 50 === 0)
          .select("shingle").distinct().withColumn("hit", lit(1L))
        val train = sh.filter(col("doc_id") % 50 =!= 0)
        // the hint's premise is ENFORCED, not assumed: the guard counts
        // the eval side before broadcasting and fails toward t43/t100
        // if a corpus-proportional side ever reaches this op
        train.join(boundedEvalBroadcast(evalSh, "t19_decontaminate"),
            Seq("shingle"), "left")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_shingles"),
            coalesce(sum("hit"), lit(0L)).as("n_overlap"))
          .withColumn("contamination",
            col("n_overlap").cast("double") / col("n_shingles").cast("double"))
          .withColumn("contaminated", col("contamination") >= 0.5)
          .select("doc_id", "n_shingles", "n_overlap", "contamination",
            "contaminated")
          .orderBy("doc_id")
      },
      Some(decontaminateOracle)),

    // ----------------------------------------------------------------- t43
    // BLOOM-scale decontamination — t19's answer for when the eval suite
    // is too big to broadcast as strings (a 10⁶-document benchmark's
    // distinct shingles are GBs): aggregate the eval shingles into a
    // Bloom filter (Spark's built-in bloom_filter_agg — ~1 MB at the
    // sized capacity, vs GBs of strings), probe it MAP-SIDE over the
    // train corpus (might_contain on xxhash64 — a pure filter, no
    // shuffle, no text leaves the scan), then exact-verify only the
    // tiny positive set against the real eval shingles in a shuffle
    // join. The Bloom stage only prunes: false positives die in the
    // verify join, false negatives are impossible, so the result is
    // IDENTICAL to t19's — the two entries share one oracle string
    // (decontaminateOracle), making the equivalence a structural fact
    // the driver gate re-proves every round. Totals per doc come from
    // the un-probed train leg (a plain count), so the overlap join
    // carries only bloom-positive (doc_id, shingle) rows.
    "t43_decontaminate_bloom" -> QueryDef(
      (spark, dir) => {
        val sh = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), explode(expr(shingleExpr)).as("shingle"))
        // the Bloom build rides a SCALAR SUBQUERY (might_contain's
        // required shape): computed once, its ~100 KB binary reaches
        // every probe task like a broadcast variable — never GBs of
        // eval strings. Capacity is sized for the eval side's distinct
        // shingles at 8 bits per item (~2% FP rate); an FP costs a few
        // extra rows in the verify join, never a wrong answer.
        // might_contain's scalar-subquery shape needs SQL text, which
        // needs catalog views — but the builder must stay side-effect-
        // free on the shared session: view names are per-invocation
        // unique, and both are dropped before returning (spark.sql
        // analyzes eagerly, so the returned frame's plan has already
        // inlined the view definitions and survives the drop)
        val tag = java.util.UUID.randomUUID().toString.replace("-", "")
        val evalV = s"t43_eval_$tag"
        val trainV = s"t43_train_$tag"
        sh.filter(col("doc_id") % 50 === 0).select("shingle").distinct()
          .createOrReplaceTempView(evalV)
        sh.filter(col("doc_id") % 50 =!= 0)
          .createOrReplaceTempView(trainV)
        val out = spark.sql(
          s"""WITH pos AS (
            |  SELECT doc_id, shingle FROM $trainV
            |  WHERE might_contain(
            |    (SELECT bloom_filter_agg(xxhash64(shingle), 100000L, 800000L)
            |     FROM $evalV),
            |    xxhash64(shingle))),
            |hits AS (
            |  -- exact verify: deliberately NOT a broadcast of the eval
            |  -- strings (the scale this query exists for); both sides
            |  -- are small — positives = true overlaps + ~2% FPs
            |  SELECT p.doc_id, COUNT(*) AS n_overlap
            |  FROM pos p JOIN $evalV e ON e.shingle = p.shingle
            |  GROUP BY p.doc_id),
            |tot AS (
            |  SELECT doc_id, COUNT(*) AS n_shingles FROM $trainV
            |  GROUP BY doc_id)
            |SELECT t.doc_id, t.n_shingles,
            |  COALESCE(h.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
            |  CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
            |    / CAST(t.n_shingles AS DOUBLE) AS contamination,
            |  CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
            |    / CAST(t.n_shingles AS DOUBLE) >= 0.5 AS contaminated
            |FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
            |ORDER BY t.doc_id""".stripMargin)
        spark.catalog.dropTempView(evalV)
        spark.catalog.dropTempView(trainV)
        out
      },
      Some(decontaminateOracle)),

    // ----------------------------------------------------------------- t53
    // BPE PAIR COUNTS — the count step of a byte-pair-encoding
    // tokenizer's first merge round: for every adjacent character pair
    // inside a word, the total number of corpus occurrences; the top
    // pair is the first merge a BPE trainer would learn. At-scale shape
    // is the one real tokenizer trainers use: collapse the corpus to
    // its word VOCABULARY first (a map-side-combinable word count — the
    // only corpus-sized exchange, carrying bare words), then explode
    // character pairs over the DISTINCT vocabulary weighted by word
    // frequency — the explode touches |vocab| · avg_word_len rows, not
    // corpus characters, and the final aggregation keys on ≤ |Σ|²
    // two-char strings. Pair positions count with multiplicity ("aaa"
    // contributes "aa" twice per occurrence), exactly as BPE does.
    // Integer counts only; ties break (count DESC, pair ASC) — binary
    // string order in both engines.
    "t53_bpe_pairs" -> QueryDef(
      (spark, dir) => {
        val vocab = withWords(t(spark, dir, "documents"))
          .select(explode(col("words")).as("word"))
          .filter(length(col("word")) >= 2)
          .groupBy("word").agg(count(lit(1)).as("wcnt"))
        vocab
          .select(col("wcnt"), explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(sum("wcnt").as("n_occ"))
          .orderBy(col("n_occ").desc, col("pair"))
          .limit(20)
      },
      Some("""WITH w AS (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
             |v AS (
             |  SELECT word, COUNT(*) AS wcnt FROM w
             |  WHERE len(word) >= 2 GROUP BY word),
             |p AS (
             |  SELECT wcnt,
             |    unnest(list_transform(range(1, len(word)),
             |      i -> substr(word, CAST(i AS INT), 2))) AS pair
             |  FROM v)
             |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS n_occ
             |FROM p GROUP BY pair
             |ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin)),

    // ----------------------------------------------------------------- t54
    // 13-GRAM DECONTAMINATION with redaction planning — the GPT-3-style
    // long-n-gram rule, complementary to t19/t43's 3-gram overlap RATIO:
    // a 13-word collision with the eval set is (statistically) never
    // chance, so ANY hit marks contamination, and the remedy is
    // positional — redact the colliding spans and keep the clean
    // remainder, unless the document fragments too badly. Per training
    // doc: collision positions → merged dirty word-intervals
    // (overlapping or ADJACENT [p, p+12] ranges coalesce — adjacency
    // leaves no clean gap) → dirty word count, surviving clean pieces,
    // clean fraction → verdict: 'keep' (no hits) / 'drop' (clean_frac
    // < 0.8 or pieces > 3 — the fragmentation cutoffs GPT-3's appendix-C
    // procedure shapes) / 'redact'. At-scale shape = t19's, one step
    // further collapsed: 13-grams come from the COMPILED word_ngrams
    // loop (the HOF transform spelling interprets its lambda per window
    // — measured 1.5× slower end-to-end at sf0.1) and collapse to
    // xxhash64 longs in the same codegen stage, so n-gram STRINGS never
    // leave the scan on either side — the eval set broadcasts as a
    // benchmark-sized long set, and only (doc_id, p) int pairs of the
    // HIT rows enter the interval-merge window, which partitions by
    // doc_id, never global. A 64-bit collision would fabricate one hit
    // (odds ~|eval|·|corpus|/2⁶⁴ — the same accepted trade as t22/t47's
    // digest collapses). Integer arithmetic throughout; one exact IEEE
    // division for clean_frac.
    "t54_decontaminate_13gram" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), col("words"), size(col("words")).as("n_words"))
        val ng = docs
          .select(col("doc_id"), posexplode(expr("word_ngrams(words, 13)")))
          .select(col("doc_id"), (col("pos") + 1).as("p"),
            xxhash64(col("col")).as("g"))
        val evalNg = ng.filter(col("doc_id") % 50 === 0).select("g").distinct()
        val hits = ng.filter(col("doc_id") % 50 =!= 0)
          .join(boundedEvalBroadcast(evalNg, "t54_decontaminate_13gram"),
            Seq("g"))
          .select(col("doc_id"), col("p"))
        // classic interval merge: ranges [p, p+12] ordered by p; a range
        // opens a NEW island iff it starts past (running max end) + 1
        val byP = Window.partitionBy("doc_id").orderBy("p")
        val prevEnd = max(col("p") + 12)
          .over(byP.rowsBetween(Window.unboundedPreceding, -1))
        val islands = hits
          .withColumn("new_island",
            when(prevEnd.isNull || col("p") > prevEnd + 1, 1).otherwise(0))
          .withColumn("island", sum(col("new_island"))
            .over(byP.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "island").agg(
            min(col("p")).as("s"), (max(col("p")) + 12).as("e"),
            count(lit(1)).as("cnt"))
        val perDoc = islands.groupBy("doc_id").agg(
          sum("cnt").as("h"), count(lit(1)).as("n_islands"),
          sum(col("e") - col("s") + 1).as("dw"),
          min("s").as("first_s"), max("e").as("last_e"))
        docs.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), col("n_words"),
            greatest(col("n_words") - 12, lit(0)).cast("long").as("n_ngrams"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n_ngrams"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            coalesce(col("dw"), lit(0L)).as("dirty_words"),
            coalesce(col("n_islands") - 1
              + when(col("first_s") > 1, 1).otherwise(0)
              + when(col("last_e") < col("n_words"), 1).otherwise(0),
              lit(1L)).as("pieces"),
            ((col("n_words") - coalesce(col("dw"), lit(0L))).cast("double")
              / col("n_words").cast("double")).as("clean_frac"))
          .withColumn("action",
            when(col("n_hits") === 0, "keep")
              .when(col("clean_frac") < 0.8 || col("pieces") > 3, "drop")
              .otherwise("redact"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS words,
             |         len(string_split(text, ' ')) AS n_words
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, words, unnest(range(1, n_words - 11)) AS p
             |  FROM d WHERE n_words >= 13),
             |ng AS (
             |  SELECT doc_id, p, array_to_string(words[p:p+12], ' ') AS g
             |  FROM pos),
             |ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 50 = 0),
             |hits AS (
             |  SELECT n.doc_id, n.p FROM ng n JOIN ev USING (g)
             |  WHERE n.doc_id % 50 <> 0),
             |flags AS (
             |  SELECT doc_id, p,
             |    CASE WHEN MAX(p + 12) OVER (PARTITION BY doc_id ORDER BY p
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |           IS NULL
             |      OR p > MAX(p + 12) OVER (PARTITION BY doc_id ORDER BY p
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             |      THEN 1 ELSE 0 END AS new_island
             |  FROM hits),
             |isl AS (
             |  SELECT doc_id, p,
             |    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM flags),
             |merged AS (
             |  SELECT doc_id, island, MIN(p) AS s, MAX(p) + 12 AS e,
             |         COUNT(*) AS cnt
             |  FROM isl GROUP BY doc_id, island),
             |perdoc AS (
             |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS h,
             |    COUNT(*) AS n_islands,
             |    CAST(SUM(e - s + 1) AS BIGINT) AS dw,
             |    MIN(s) AS first_s, MAX(e) AS last_e
             |  FROM merged GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(GREATEST(d.n_words - 12, 0) AS BIGINT) AS n_ngrams,
             |  COALESCE(p.h, 0) AS n_hits,
             |  COALESCE(p.dw, 0) AS dirty_words,
             |  COALESCE(p.n_islands - 1
             |    + CASE WHEN p.first_s > 1 THEN 1 ELSE 0 END
             |    + CASE WHEN p.last_e < d.n_words THEN 1 ELSE 0 END,
             |    1) AS pieces,
             |  CAST(d.n_words - COALESCE(p.dw, 0) AS DOUBLE)
             |    / CAST(d.n_words AS DOUBLE) AS clean_frac,
             |  CASE WHEN COALESCE(p.h, 0) = 0 THEN 'keep'
             |    WHEN CAST(d.n_words - COALESCE(p.dw, 0) AS DOUBLE)
             |        / CAST(d.n_words AS DOUBLE) < 0.8
             |      OR COALESCE(p.n_islands - 1
             |        + CASE WHEN p.first_s > 1 THEN 1 ELSE 0 END
             |        + CASE WHEN p.last_e < d.n_words THEN 1 ELSE 0 END,
             |        1) > 3
             |    THEN 'drop' ELSE 'redact' END AS action
             |FROM d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
             |WHERE d.doc_id % 50 <> 0
             |ORDER BY d.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t55
    // DSIR-style IMPORTANCE WEIGHTS (data selection via importance
    // resampling, hashed-n-gram flavor): score every raw-corpus document
    // by how target-like its token distribution is, as the mean
    // Laplace-smoothed likelihood ratio p_target/p_raw over its bigram
    // features hashed into B=4096 buckets (substr(md5(bigram),1,3) — md5
    // is byte-identical in both engines, so bucket collisions are part
    // of the shared definition, exactly as DSIR intends: collisions ARE
    // the dimensionality reduction). Target distribution = source 'src0'
    // (a stand-in curated domain); raw = everything else, which is also
    // the scored population.
    //
    // At-scale shape: pass 1 builds the bucket histograms — partial aggs
    // collapse each task to ≤ B rows, so the exchange carries ≤ B×tasks
    // tiny rows; the finished (b, ct, cr) table is ≤ 4096 rows and
    // BROADCASTS to pass 2, which re-scans the corpus, maps each feature
    // to its ratio, and partial-aggregates per doc — one compact
    // (doc_id, sums) exchange; corpus text never shuffles. Two corpus
    // scans total (DSIR is two-pass by nature). Corpus-total constants
    // ride a 1-row cross-join broadcast.
    //
    // Determinism: the per-feature ratio is FIXED-POINT — fp =
    // (ct+1)*1e6 div (cr+1), pure int64 (truncation identical to
    // DuckDB's // on positives) — so the cross-partition SUM is exact
    // long arithmetic, immune to double associativity; the only double
    // math is one identically-shaped scalar expression at the end.
    // int64 headroom: fp ≤ (T+1)·1e6 (T = target bigram tokens — a
    // curated target is benchmark-sized, ≪ 9·10¹²); a log-space double
    // formulation would replace the fixed point only beyond that.
    "t55_dsir_weights" -> QueryDef(
      (spark, dir) => {
        val bg = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(expr("word_bigrams(words)")).as("bgram"))
          .select(col("doc_id"), col("source"),
            substring(md5(col("bgram")), 1, 3).as("b"))
        val isTarget = col("source") === "src0"
        val hist = bg.groupBy("b").agg(
          sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
          sum(when(isTarget, 0L).otherwise(1L)).as("cr"))
        val tot = hist.agg(sum("ct").as("tt"), sum("cr").as("tr"))
        bg.filter(!isTarget)
          .join(broadcast(hist), Seq("b"))
          .withColumn("fp", expr("(ct + 1) * 1000000 div (cr + 1)"))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_feats"), sum("fp").as("sum_fp"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n_feats"), col("sum_fp"),
            (col("sum_fp").cast("double") / col("n_feats").cast("double")
              / lit(1000000.0)
              * ((col("tr") + lit(4096L)).cast("double")
                / (col("tt") + lit(4096L)).cast("double"))).as("score"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source, string_split(text, ' ') AS words
             |  FROM documents),
             |bgl AS (
             |  SELECT doc_id, source,
             |    unnest(list_transform(range(1, len(words)),
             |      i -> array_to_string(words[i:i+1], ' '))) AS bgram
             |  FROM w),
             |bg AS (
             |  SELECT doc_id, source, substr(md5(bgram), 1, 3) AS b
             |  FROM bgl),
             |hist AS (
             |  SELECT b,
             |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS ct,
             |    CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END)
             |      AS BIGINT) AS cr
             |  FROM bg GROUP BY b),
             |tot AS (
             |  SELECT CAST(SUM(ct) AS BIGINT) AS tt,
             |         CAST(SUM(cr) AS BIGINT) AS tr FROM hist),
             |feat AS (
             |  SELECT g.doc_id, (h.ct + 1) * 1000000 // (h.cr + 1) AS fp
             |  FROM bg g JOIN hist h USING (b)
             |  WHERE g.source <> 'src0'),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_feats,
             |         CAST(SUM(fp) AS BIGINT) AS sum_fp
             |  FROM feat GROUP BY doc_id)
             |SELECT a.doc_id, a.n_feats, a.sum_fp,
             |  CAST(a.sum_fp AS DOUBLE) / CAST(a.n_feats AS DOUBLE)
             |    / 1000000.0
             |    * (CAST(t.tr + 4096 AS DOUBLE)
             |       / CAST(t.tt + 4096 AS DOUBLE)) AS score
             |FROM agg a, tot t
             |ORDER BY a.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t56
    // SEQUENCE PACKING — the final pretraining-prep step after t24's
    // sharding: concatenate the corpus in doc_id order and cut it into
    // fixed L=512-token training sequences, documents crossing sequence
    // boundaries mid-stream (the standard "concat-and-chunk" packing —
    // zero padding waste, the layout every causal-LM data loader
    // consumes). Output: one row per (document, sequence) SPAN — which
    // sequence, at what offset inside it, and how many of the doc's
    // tokens land there; a doc longer than L spans many sequences, short
    // docs share one. Built on [[cumulativeTokens]]' two-pass prefix sum
    // (never a partition-less window); the span explode is BOUNDED
    // (⌈tok/L⌉+1 rows per doc, each derived from that row alone — a pure
    // map). Zero-token docs (empty text) occupy no span and are
    // excluded by construction in both engines. All arithmetic is int64
    // (div ≡ // on non-negatives); the oracle's global-window cumsum is
    // the single-node spelling of the same prefix sum.
    "t56_sequence_pack" -> QueryDef(
      (spark, dir) => {
        val L = 512
        cumulativeTokens(spark, dir)
          .filter(col("tok") >= 1)
          .withColumn("st", col("cum") - col("tok"))
          .withColumn("seq",
            explode(expr(s"sequence(st div $L, (cum - 1) div $L)")))
          .select(col("doc_id"), col("seq"),
            (greatest(col("st"), col("seq") * L) - col("seq") * L)
              .as("off_in_seq"),
            (least(col("cum"), (col("seq") + 1) * L)
              - greatest(col("st"), col("seq") * L)).as("span_len"))
          .orderBy("doc_id", "seq")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, $tokenEstDuck AS tok FROM documents),
             |c AS (
             |  SELECT doc_id, tok,
             |    CAST(SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum
             |  FROM toks),
             |spans AS (
             |  SELECT doc_id, tok, cum - tok AS st, cum,
             |    unnest(range((cum - tok) // 512, (cum - 1) // 512 + 1)) AS seq
             |  FROM c WHERE tok >= 1)
             |SELECT doc_id, seq,
             |  GREATEST(st, seq * 512) - seq * 512 AS off_in_seq,
             |  LEAST(cum, (seq + 1) * 512) - GREATEST(st, seq * 512)
             |    AS span_len
             |FROM spans ORDER BY doc_id, seq""".stripMargin)),

    // ----------------------------------------------------------------- t57
    // HARD-NEGATIVE MINING for contrastive/embedding training: for each
    // anchor vector (vec_id % 100 == 0 — a deterministic sample that
    // grows with the corpus), the top-3 most-similar SAME-label vectors
    // (positives) and the top-3 most-similar OTHER-label vectors (hard
    // negatives — the examples a triplet/InfoNCE loss learns most from).
    // Brute-force exact scoring is the oracle-checkable baseline (the
    // approximate path at corpus scale is t06/t13's LSH/IVF bucketing,
    // same as for ANN) — this op is the FIXTURE TWIN; its anchor
    // broadcast and crossJoin are the documented brute-force shape, and
    // t64 is the corpus-scale face whose probe join carries no forced
    // broadcast. Fixture shape: anchors broadcast with hoisted
    // norms (one float_dot per vector, not per pair), candidates score
    // in one codegen'd map pass, and [[hardNegativeTopK]]'s
    // [[localLabelTopK]] pre-reduces each partition before anything
    // shuffles, so the quadratic scored stream never enters an exchange.
    // (anchor, kind) keys scale linearly with N, so window parallelism
    // holds at 100×. Ties break (cosine DESC, vec_id ASC), which keeps
    // the global top-3 inside the local survivors.
    "t57_hard_negatives" -> QueryDef(
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .withColumn("nrm", expr(dotSql("embedding", "embedding")))
        val anchors = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("aid"), col("embedding").as("aemb"),
            col("label").as("albl"), col("nrm").as("anrm"))
        hardNegativeTopK(emb.crossJoin(broadcast(anchors)))
      },
      Some(s"""WITH n AS (
             |  SELECT vec_id, embedding, label,
             |    ${dotDuck("embedding", "embedding")} AS nrm
             |  FROM embeddings),
             |a AS (
             |  SELECT vec_id AS aid, embedding AS aemb, label AS albl,
             |         nrm AS anrm
             |  FROM n WHERE vec_id % 100 = 0),
             |${hardNegativeTopKDuck("FROM n, a WHERE n.vec_id <> a.aid")}""".stripMargin)),

    // ----------------------------------------------------------------- t59
    // TOKENIZER FERTILITY per language — the multilingual-pretraining
    // health report: per language, tokens-per-word (fertility — the
    // standard metric for how fairly a tokenizer treats a language; a
    // high-fertility language pays more sequence length for the same
    // text) and chars-per-token, over t09's BPE estimate
    // ([[tokenEstExpr]], the ONE estimate t24/t41/t56 already share).
    // Shape: a single map-side-combinable agg keyed on ≤ |langs| rows —
    // the exchange carries a handful of long-sum rows per task, nothing
    // else; both ratios are single exact IEEE divisions of long sums.
    "t59_fertility_by_lang" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "documents")
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("ws"),
            expr(tokenEstExpr).as("tok"), col("n_chars"))
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum("ws").as("ws_tokens"),
            sum("tok").as("bpe_tokens"),
            sum("n_chars").as("n_chars"))
          .withColumn("fertility",
            col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
          .withColumn("chars_per_token",
            col("n_chars").cast("double") / col("bpe_tokens").cast("double"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             |  CAST(SUM($tokenEstDuck) AS BIGINT) AS bpe_tokens,
             |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             |  CAST(SUM($tokenEstDuck) AS DOUBLE)
             |    / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
             |    AS fertility,
             |  CAST(SUM(n_chars) AS DOUBLE)
             |    / CAST(SUM($tokenEstDuck) AS DOUBLE) AS chars_per_token
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ----------------------------------------------------------------- t60
    // EVENT-TRANSITION COUNTS — behavioral-sequence training data from
    // the events stream: per user, order events by (ts, event_id) and
    // count corpus-wide (prev_type → curr_type) transitions plus how
    // many distinct users exhibit each — the bigram table a
    // next-action/recommendation model trains on, and the first
    // Markov-chain sanity report run on any clickstream corpus.
    // Shape: ONE user-keyed window (lag — same partitioning law as
    // q21's sessionize: never global), then an agg keyed on ≤ |types|²
    // pairs; count(distinct user) expands to (pair, user) rows — still
    // bounded by the transition count, with partial aggs both stages.
    // The events read rides [[Tables.t]]'s schema-adaptive ts handling.
    "t60_event_transitions" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(spark, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .withColumnRenamed("event_type", "curr_type")
          .groupBy("prev_type", "curr_type")
          .agg(count(lit(1)).as("n_transitions"),
            countDistinct("user_id").as("n_users"))
          .orderBy("prev_type", "curr_type")
      },
      Some("""WITH s AS (
             |  SELECT user_id, event_type,
             |    LAG(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events)
             |SELECT prev_type, event_type AS curr_type,
             |  COUNT(*) AS n_transitions,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM s WHERE prev_type IS NOT NULL
             |GROUP BY prev_type, curr_type
             |ORDER BY prev_type, curr_type""".stripMargin)),

    // ----------------------------------------------------------------- t61
    // LENGTH-BUCKETED BATCH COMPOSITION — the padding-waste report
    // behind length grouping (batching similar-length sequences
    // together): docs bucket by t09 token estimate into fixed 64-token
    // bands, and per bucket the report carries the tokens padding would
    // add batching at the BUCKET ceiling vs at the GLOBAL max — the
    // measured saving of length-grouped batching, the standard
    // efficiency lever for variable-length seq training. Shape: one
    // map-side-combinable agg on ≤ 32 bucket keys; the global max rides
    // a 1-row broadcast cross join. Pure int64 output — the consumer
    // does the division, the gate stays exact.
    "t61_length_buckets" -> QueryDef(
      (spark, dir) => {
        val toks = t(spark, dir, "documents")
          .select(col("doc_id"), expr(tokenEstExpr).as("tok"))
        val gmax = toks.agg(max("tok").as("gmax"))
        toks.crossJoin(broadcast(gmax))
          .withColumn("bucket", least(expr("tok div 64"), lit(31L)))
          .groupBy("bucket").agg(
            count(lit(1)).as("n_docs"),
            sum("tok").as("toks"),
            // last bucket is open-ended: its ceiling is the corpus max
            sum(when(col("bucket") < 31, (col("bucket") + 1) * 64)
              .otherwise(col("gmax")) - col("tok")).as("pad_bucket"),
            sum(col("gmax") - col("tok")).as("pad_global"))
          .orderBy("bucket")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, $tokenEstDuck AS tok FROM documents),
             |g AS (SELECT MAX(tok) AS gmax FROM toks),
             |b AS (
             |  SELECT tok, gmax, LEAST(tok // 64, 31) AS bucket
             |  FROM toks, g)
             |SELECT bucket, COUNT(*) AS n_docs,
             |  CAST(SUM(tok) AS BIGINT) AS toks,
             |  CAST(SUM(CASE WHEN bucket < 31 THEN (bucket + 1) * 64
             |           ELSE gmax END - tok) AS BIGINT) AS pad_bucket,
             |  CAST(SUM(gmax - tok) AS BIGINT) AS pad_global
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ----------------------------------------------------------------- t62
    // DUP-GRAPH DEGREE HISTOGRAM — structural diagnostics over t02's
    // MinHash-LSH candidate graph: per-document candidate degree, then
    // the corpus-wide histogram (degree → doc count). The first thing
    // to read before dedup: a heavy tail means hub documents
    // (boilerplate) that will chain whole swaths into one component
    // (t15), and band-parameter tuning (t45) starts from exactly this
    // curve. Shape: pairs explode to 2 endpoint rows each, then two
    // tiny map-side-combinable aggs — degrees key on doc_id, the
    // histogram on ≤ max-degree keys.
    "t62_dup_graph_degrees" -> QueryDef(
      (spark, dir) => {
        TrainingData.minhashPairs(spark, dir)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      },
      Some(s"""WITH ${TrainingData.minhashPairsDuck},
             |ends AS (
             |  SELECT doc_a AS doc_id FROM pairs
             |  UNION ALL SELECT doc_b FROM pairs),
             |deg AS (
             |  SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id)
             |SELECT degree, COUNT(*) AS n_docs FROM deg
             |GROUP BY degree ORDER BY degree""".stripMargin)),

    // ----------------------------------------------------------------- t63
    // CURATION MANIFEST — the capstone selection decision, per training
    // candidate (doc_id % 50 <> 0; the eval corpus is the benchmark, not
    // a candidate): exact-dup keeper (t01's md5 rule within the
    // candidate pool), t08's quality score, t19's 3-gram contamination
    // ratio, and t46's hash-bucket split, folded into ONE verdict with
    // pipeline precedence dup → contaminated (≥ 0.5) → low_quality
    // (< 0.35, ≈ the corpus' bottom quartile) → train/validation/test
    // (t46's exact salt+bucket rule, so the manifest's split agrees
    // with t46's report row-for-row). This is the query whose output IS
    // the training run's input list — every upstream signal already has
    // its own gate entry; this one pins their COMPOSITION.
    //
    // At-scale shape: each signal keeps its own proven shape (digest-
    // keyed dup agg, map-side quality, broadcast eval shingles, pure-map
    // bucket), and the assembly is doc_id-keyed joins — co-partitioned
    // after the first exchange, AQE-planned. The only corpus-text pass
    // is the shingle leg (same cost as t19 itself).
    "t63_curation_manifest" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        val dup = train.select(col("doc_id"),
          md5(col("text").cast("binary")).as("dg"))
        val dupped = dup
          .join(dup.groupBy("dg").agg(min("doc_id").as("dup_of")), "dg")
          .select("doc_id", "dup_of")
        val qual = Curation.qualityInputs(train)
          .withColumn("quality", Curation.qualityCol)
          .select("doc_id", "quality")
        val sh = withWords(docs)
          .select(col("doc_id"), explode(expr(shingleExpr)).as("shingle"))
        val evalSh = sh.filter(col("doc_id") % 50 === 0)
          .select("shingle").distinct().withColumn("hit", lit(1L))
        val contam = sh.filter(col("doc_id") % 50 =!= 0)
          .join(boundedEvalBroadcast(evalSh, "t63_curation_manifest"),
            Seq("shingle"), "left")
          .groupBy("doc_id")
          .agg((coalesce(sum("hit"), lit(0L)).cast("double") /
            count(lit(1)).cast("double")).as("contamination"))
        val bucketed = train.select(col("doc_id"), expr(
          "CAST(conv(substr(md5(CAST(concat('t46|', CAST(doc_id AS STRING)) AS BINARY)), 1, 4), 16, 10) AS INT) % 100")
          .as("bucket"))
        dupped
          .join(qual, "doc_id")
          .join(contam, Seq("doc_id"), "left")
          .join(bucketed, "doc_id")
          .withColumn("contamination", coalesce(col("contamination"), lit(0.0)))
          .withColumn("verdict",
            when(col("doc_id") =!= col("dup_of"), "dup")
              .when(col("contamination") >= 0.5, "contaminated")
              .when(col("quality") < 0.35, "low_quality")
              .when(col("bucket") < 98, "train")
              .when(col("bucket") === 98, "validation")
              .otherwise("test"))
          .select("doc_id", "dup_of", "quality", "contamination", "verdict")
          .orderBy("doc_id")
      },
      Some {
        val hb = (1 to 4).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
        }.mkString(" + ")
        s"""WITH tr AS (
           |  SELECT doc_id, text, n_chars FROM documents
           |  WHERE doc_id % 50 <> 0),
           |dup AS (
           |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text))
           |    AS dup_of
           |  FROM tr),
           |qual AS (
           |  SELECT doc_id,
           |    ${Curation.qualityDuck} AS quality
           |  FROM tr),
           |sh AS (
           |  SELECT doc_id, unnest($shingleSqlDuck) AS shingle
           |  FROM documents),
           |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
           |cont AS (
           |  SELECT s.doc_id,
           |    CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
           |        AS DOUBLE)
           |      / CAST(COUNT(*) AS DOUBLE) AS contamination
           |  FROM sh s LEFT JOIN ev e USING (shingle)
           |  WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id),
           |b AS (
           |  SELECT doc_id, CAST($hb AS INTEGER) % 100 AS bucket
           |  FROM (SELECT doc_id, md5('t46|' || CAST(doc_id AS VARCHAR)) AS h
           |        FROM tr))
           |SELECT t.doc_id, d.dup_of, q.quality,
           |  COALESCE(c.contamination, 0.0) AS contamination,
           |  CASE WHEN t.doc_id <> d.dup_of THEN 'dup'
           |       WHEN COALESCE(c.contamination, 0.0) >= 0.5
           |         THEN 'contaminated'
           |       WHEN q.quality < 0.35 THEN 'low_quality'
           |       WHEN b.bucket < 98 THEN 'train'
           |       WHEN b.bucket = 98 THEN 'validation'
           |       ELSE 'test' END AS verdict
           |FROM tr t JOIN dup d USING (doc_id) JOIN qual q USING (doc_id)
           |LEFT JOIN cont c USING (doc_id) JOIN b USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin
      }),

    // ----------------------------------------------------------------- t64
    // IVF-BUCKETED hard negatives — t57's corpus-scale path, exactly as
    // t13 is to t05: each anchor probes only its top-2 of 8 IVF cells
    // (t13's literal LCG centroids — assignment stays in codegen, no
    // materialized centroid table), so the scored stream shrinks from
    // N²/100 to ~N²/400 while positives/negatives stay the nearest
    // IN-CELL candidates. The anchor set is vec_id % 100 == 0 — a
    // CORPUS-PROPORTIONAL sample — so as of r19 it is NOT force-
    // broadcast (that was the r18 audit's one mis-adjudicated hint:
    // "600 rows" is the fixture's N/100, a multi-GB driver ship at
    // 10⁹ vectors, and the OR-of-cells condition made the join a
    // nested loop besides). Instead each anchor EXPLODES to its ≤2
    // distinct probe cells and the join is a plain cell equi-join the
    // planner strategizes: AQE broadcasts the probe side while its
    // measured size is small and shuffles on cell once it isn't —
    // at which point cell COUNT is the knob that must grow ~√N with
    // the corpus (t26's ⌈√N⌉ lesson; 8 cells is this op's pinned
    // fixture config, interpolated into the oracle, so scaling it is
    // a config change like t102's width, not a plan change). The tail
    // is t57's, [[hardNegativeTopK]]. HardNegativeSpec measures the recall this buys against
    // t57's exact answer — the t31 discipline: approximate paths ship
    // with their measured recall, not a hope.
    "t64_hard_negatives_ivf" -> QueryDef(
      (spark, dir) => {
        val assigned = ivf8Cells(t(spark, dir, "embeddings"))
          .withColumn("nrm", expr(dotSql("embedding", "embedding")))
        val anchors = assigned.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("aid"), col("embedding").as("aemb"),
            col("label").as("albl"), col("nrm").as("anrm"),
            col("cell").as("p1"), ivf8Second.as("p2"))
        // array_distinct: on centroid-dot ties p2 resolves to p1's index
        // and a plain two-row explode would duplicate the (anchor,
        // candidate) pair — the OR-join this replaces emitted it once
        val probes = anchors.select(col("aid"), col("aemb"), col("albl"),
          col("anrm"),
          explode(array_distinct(array(col("p1"), col("p2")))).as("cell"))
        hardNegativeTopK(assigned.join(probes, Seq("cell")))
      },
      Some {
        val pairs = """FROM assigned n JOIN a
                      |    ON n.cell IN (a.p1, a.p2) AND n.vec_id <> a.aid""".stripMargin
        s"""WITH assigned AS (
           |  SELECT vec_id, label, embedding, cdots,
           |    $ivf8BestDuck
           |      AS cell,
           |    ${dotDuck("embedding", "embedding")} AS nrm
           |  FROM (SELECT vec_id, label, embedding, $ivf8CdotsDuck AS cdots
           |        FROM embeddings)),
           |a AS (
           |  SELECT vec_id AS aid, embedding AS aemb, label AS albl,
           |    nrm AS anrm, cell AS p1,
           |    $ivf8SecondDuck
           |      AS p2
           |  FROM assigned WHERE vec_id % 100 = 0),
           |${hardNegativeTopKDuck(pairs)}""".stripMargin
      }),

    // ---------------------------------------------------------------- t104
    // Hard negatives at CORPUS-SCALED cell count — t64 with its two
    // pinned configs replaced by their scale schedules, the same move
    // t26's semdedupK made (and for the same reason: a FIXED cell count
    // makes the scored stream N²/constant — t64's 100× probe reads 16×
    // wall and a N²/400 pair integral). Differences from t64, each one
    // a measured fix:
    //  - k cells = max(8, min(2¹⁴, ⌈√N⌉)) — the balanced arm: per-
    //    vector assignment costs N·k dots and the probed pair stream
    //    ~2·N·(N/100)/k, which cross at k ≈ √N, so both terms grow
    //    N^1.5 (distributable) instead of N². The 2¹⁴ cap bounds the
    //    driver-built centroid table at 8 MB (k×64 doubles, broadcast
    //    to the assignment pass) and binds from N ≈ 2.7×10⁸ — the
    //    published IVF fixed-list regime takes over there, exactly
    //    like t26's 2¹⁸ ceiling.
    //  - Centroids come from the md5-mixed family ("ivf|j|d" — the
    //    PlaneFamilyLab lesson applied before it bites: t64's LCG
    //    planes are lattice-correlated, i.e. nearly PARALLEL as
    //    centroid directions, which skews max-dot assignment into few
    //    cells as k grows; md5 directions decorrelate by construction).
    //    The oracle derives the same family in SQL (t102's hex-parse
    //    idiom) — neither engine trusts interpolated values.
    //  - Assignment is nearest-centroid by REDUCED L2 distance
    //    (cnrm − 2·dot — nrm_v is per-vector constant, so the ordering
    //    equals squared L2; both engines compute the identical float
    //    expression so near-ties rank the same), NOT t64's max-dot:
    //    measured on the sf0.01 fixture at k=23, max-dot against
    //    random centroids co-locates cosine neighbors so poorly that
    //    nprobe-2 recall vs t57's exact answer read 0.13, while min-L2
    //    Voronoi cells at the SAME centroids read 0.67 — above t64's
    //    0.50 at 8 cells (a Lloyd round adds little on top: 0.60–0.70
    //    in the same probe — so the learning pass stays out).
    //    The pass is ONE mapPartitions over the corpus (t56's
    //    discipline for genuinely imperative per-row math): each
    //    vector's k reduced distances, top-2 cells (ties → lowest
    //    cell, matching the oracle's ROW_NUMBER(ORDER BY dist, cell)),
    //    and its hoisted self-norm — no N×k frame ever materializes,
    //    nothing shuffles on embedding.
    // The probe join is t64's lawful shape: anchors explode to their 2
    // distinct probe cells, plain cell equi-join, planner-strategized
    // (AQE broadcasts the measured-small probe side; past 10 MiB it
    // shuffles on cell, where k ≈ √N keys keep reducers busy — the
    // skew t64's 8 fixed cells would hit). Tail = t57's,
    // [[hardNegativeTopK]]. HardNegativeSpec
    // measures recall vs t57's exact answer (the t31 discipline).
    "t104_hard_negatives_ivf_scaled" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val emb = t(spark, dir, "embeddings")
        val n = Tables.rowCount(spark, dir, "embeddings")
        val k = ivfCellCount(n)
        val cents = ivfCentroids(k)
        // centroid self-norms via the same in-order double sum the
        // oracle's dotDuck(cvec, cvec) computes — reduced distances
        // must be the identical float expression in both engines
        val cnrms = cents.map { c =>
          var s = 0.0; var i = 0
          while (i < c.length) { s += c(i) * c(i); i += 1 }
          s
        }
        val bc = spark.sparkContext.broadcast((cents, cnrms))
        val assigned = emb.select(col("vec_id"), col("label"), col("embedding"))
          .as[(Long, String, Seq[Float])]
          .mapPartitions { it =>
            val (cs, cn) = bc.value
            it.map { case (id, lbl, e) =>
              val v = e.toArray
              // 64-dim CONTRACT (r19 ADVICE): the centroid family, this
              // assignment dot, and the oracle's 1..64 list_reduce are
              // all 64-dim; a shorter vector would silently diverge
              // (the oracle's out-of-range index yields NULL dots), a
              // longer one would truncate the dot but not the norm.
              // Fail loudly instead of degrading differently per engine.
              require(v.length == 64,
                s"t104: embeddings must be 64-dim (centroid family + " +
                  s"oracle dot contract); got ${v.length} for vec_id=$id")
              var nrm = 0.0
              var i = 0
              while (i < v.length) {
                nrm += v(i).toDouble * v(i).toDouble; i += 1
              }
              // top-2 nearest cells by reduced L2 (cnrm − 2·dot);
              // strict < keeps the FIRST (lowest) cell on exact ties =
              // the oracle's (dist ASC, cell ASC) ROW_NUMBER order
              var b1 = Double.PositiveInfinity; var c1 = -1
              var b2 = Double.PositiveInfinity; var c2 = -1
              var j = 0
              while (j < cs.length) {
                val cj = cs(j)
                var acc = 0.0
                var d = 0
                while (d < 64) { acc += v(d).toDouble * cj(d); d += 1 }
                val s = cn(j) - 2.0 * acc
                if (s < b1) { b2 = b1; c2 = c1; b1 = s; c1 = j + 1 }
                else if (s < b2) { b2 = s; c2 = j + 1 }
                j += 1
              }
              (id, lbl, e, nrm, c1, c2)
            }
          }.toDF("vec_id", "label", "embedding", "nrm", "c1", "c2")
        val cands = assigned.select(col("vec_id"), col("label"),
          col("embedding"), col("nrm"), col("c1").as("cell"))
        val probes = assigned.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("aid"), col("label").as("albl"),
            col("embedding").as("aemb"), col("nrm").as("anrm"),
            explode(array(col("c1"), col("c2"))).as("cell"))
        hardNegativeTopK(cands.join(probes, Seq("cell")))
      },
      Some {
        val hex8 = (1 to 8).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (8 - i))}"
        }.mkString(" + ")
        val pairs = """FROM cand n JOIN anch a
                      |    ON n.cell = a.cell AND n.vec_id <> a.aid""".stripMargin
        s"""WITH nk AS (
           |  SELECT GREATEST(8, LEAST(16384,
           |    CAST(CEIL(SQRT(COUNT(*))) AS INT))) AS k
           |  FROM embeddings),
           |ph AS (
           |  SELECT j, d, substr(md5('ivf|' || j || '|' || d), 1, 8) AS h
           |  FROM (SELECT unnest(generate_series(1, k)) AS j FROM nk),
           |       generate_series(1, 64) AS g(d)),
           |cents AS (
           |  SELECT j AS cell, cvec, ${dotDuck("cvec", "cvec")} AS cnrm
           |  FROM (
           |    SELECT j,
           |      list((($hex8) % 32768) / 32768.0 - 0.5 ORDER BY d) AS cvec
           |    FROM ph GROUP BY j)),
           |base AS (
           |  SELECT vec_id, label, embedding,
           |    ${dotDuck("embedding", "embedding")} AS nrm
           |  FROM embeddings),
           |sc AS (
           |  SELECT b.vec_id, b.label, b.embedding, b.nrm, c.cell,
           |    c.cnrm - 2 * ${dotDuck("b.embedding", "c.cvec")} AS dist
           |  FROM base b, cents c),
           |rk AS (
           |  SELECT vec_id, label, embedding, nrm, cell,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY dist, cell) AS rnk
           |  FROM sc),
           |cand AS (
           |  SELECT vec_id, label, embedding, nrm, cell FROM rk
           |  WHERE rnk = 1),
           |anch AS (
           |  SELECT vec_id AS aid, label AS albl, embedding AS aemb,
           |    nrm AS anrm, cell
           |  FROM rk WHERE vec_id % 100 = 0 AND rnk <= 2),
           |${hardNegativeTopKDuck(pairs)}""".stripMargin
      }),

    // ----------------------------------------------------------------- t47
    // Shingle NOVELTY scoring: per document, the fraction of its
    // DISTINCT 3-gram shingles that appear for the FIRST time in the
    // corpus at this document (arrival order = doc_id) — the diversity
    // signal data-pruning work ranks corpora by: documents rehashing
    // earlier content score near 0, genuinely new text near 1.
    // word_shingles is first-occurrence-distinct per document (and the
    // DuckDB twin wraps list_distinct), so the exploded (doc, shingle)
    // pairs are UNIQUE by construction — within-doc repetition is t20's
    // signal, not this one's. At-scale shape mirrors t22's rarity join:
    // shingle STRINGS collapse to xxhash64 digests before anything
    // shuffles (corpus-text-scale bytes would otherwise cross two
    // exchanges; 64-bit collision odds at corpus vocabulary size are
    // ~n²/2⁶⁵ — negligible next to t51's own 32-bit analysis), the
    // first-occurrence side pre-reduces map-side to a partial MIN per
    // digest before its exchange, and the join strategy is left to the
    // planner: a tiny fixture vocabulary broadcasts, a corpus-scale
    // vocabulary falls back to a shuffle join with AQE skew handling
    // (never a FORCED broadcast of a corpus-sized frame). Integer
    // counts + one exact IEEE division.
    "t47_shingle_novelty" -> QueryDef(
      (spark, dir) => {
        // first_doc is a WINDOW min over the one sh64 exchange, not an
        // aggregate joined back (r18): the join spelling re-entered the
        // exploded corpus through a second leg whose output the planner
        // size-estimates from the PRE-explode scan — at 30× it still
        // chose BroadcastHashJoin for a ~30×-grown digest table (the
        // q03 forced-broadcast mistake, made silently by stats this
        // time; a ~GB driver ship at warehouse scale). The window
        // computes the same min on the shuffle the join needed anyway:
        // one corpus exchange, no broadcast decision left to mis-size.
        import org.apache.spark.sql.expressions.Window
        withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), explode(expr(shingleExpr)).as("shingle"))
          .select(col("doc_id"), xxhash64(col("shingle")).as("sh64"))
          .withColumn("first_doc",
            min("doc_id").over(Window.partitionBy("sh64")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .orderBy("doc_id")
      },
      Some(s"""WITH occ AS (
              |  SELECT doc_id, unnest($shingleSqlDuck) AS shingle
              |  FROM documents),
              |firsts AS (
              |  SELECT shingle, MIN(doc_id) AS first_doc FROM occ
              |  GROUP BY shingle)
              |SELECT o.doc_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
              |  CAST(SUM(CASE WHEN f.first_doc = o.doc_id THEN 1
              |    ELSE 0 END) AS BIGINT) AS n_novel,
              |  CAST(SUM(CASE WHEN f.first_doc = o.doc_id THEN 1
              |    ELSE 0 END) AS DOUBLE)
              |    / CAST(COUNT(*) AS DOUBLE) AS novelty
              |FROM occ o JOIN firsts f USING (shingle)
              |GROUP BY o.doc_id
              |ORDER BY o.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t48
    // CORPUS CARD: the per-(lang, source) summary a dataset release
    // ships — document count, total token budget, and EXACT p50/p90
    // document lengths. The percentile shape is the 100 TB-safe one:
    // lengths first collapse to a per-(lang, source, n_chars) HISTOGRAM
    // (map-side combinable; the frame is bounded by #distinct lengths
    // per stratum, not #docs), then a cumulative window over that small
    // frame picks the smallest length whose cumulative count reaches
    // ceil(q·n) — never a per-group sort of raw documents, never an
    // approximate sketch. The token budget is derived from the SAME
    // histogram (the estimate depends only on n_chars, so
    // Σ cnt·tok(n_chars) ≡ the per-document sum) — ONE corpus scan
    // total. All-integer arithmetic: ceil(q·n) as (n+1) div 2 /
    // (9n+9) div 10, so both engines agree bit-for-bit.
    "t48_corpus_card" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hist = t(spark, dir, "documents")
          .groupBy("lang", "source", "n_chars")
          .agg(count(lit(1)).as("cnt"))
        val byLen = Window.partitionBy("lang", "source").orderBy("n_chars")
        val grp = Window.partitionBy("lang", "source")
        hist
          .withColumn("cum", sum("cnt").over(byLen))
          .withColumn("n", sum("cnt").over(grp))
          .groupBy("lang", "source")
          .agg(max("n").as("n_docs"),
            sum(expr(s"cnt * ($tokenEstExpr)")).as("total_tokens"),
            min(when(col("cum") >= expr("(n + 1) div 2"), col("n_chars")))
              .as("p50_chars"),
            min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("n_chars")))
              .as("p90_chars"))
          .select(col("lang"), col("source"), col("n_docs"),
            col("total_tokens"), col("p50_chars"), col("p90_chars"))
          .orderBy("lang", "source")
      },
      Some(s"""WITH hist AS (
              |  SELECT lang, source, n_chars, COUNT(*) AS cnt
              |  FROM documents GROUP BY lang, source, n_chars),
              |cum AS (
              |  SELECT lang, source, n_chars, cnt,
              |    SUM(cnt) OVER (PARTITION BY lang, source
              |      ORDER BY n_chars) AS cum,
              |    SUM(cnt) OVER (PARTITION BY lang, source) AS n
              |  FROM hist)
              |SELECT lang, source,
              |  CAST(MAX(n) AS BIGINT) AS n_docs,
              |  CAST(SUM(cnt * ($tokenEstDuck)) AS BIGINT) AS total_tokens,
              |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN n_chars END)
              |    AS p50_chars,
              |  MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_chars END)
              |    AS p90_chars
              |FROM cum GROUP BY lang, source
              |ORDER BY lang, source""".stripMargin)),

    // ----------------------------------------------------------------- t50
    // Document CHUNKING: split every document into fixed 200-char windows
    // with a 150-char stride (50-char overlap) — the RAG/embedding prep
    // step that turns a raw corpus into model-sized passages. Each chunk
    // carries its position and an md5-prefix content fingerprint, the key
    // downstream chunk-level dedup and embedding joins use. At-scale
    // shape: [[docChunks]]'s pure map + bounded explode — zero shuffles
    // at any corpus size, and only (ids, 8-char fp) ever need to enter a
    // later exchange, never chunk text.
    "t50_doc_chunks" -> QueryDef(
      (spark, dir) =>
        docChunks(spark, dir)
          .select(col("doc_id"),
            col("k").cast("long").as("chunk_idx"),
            (col("k") * chunkS + 1).cast("long").as("chunk_start"),
            least(lit(chunkW), col("len") - (col("k") * chunkS + 1) + 1)
              .cast("long").as("chunk_len"),
            expr("substr(md5(chunk), 1, 8)").as("chunk_fp"))
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH c AS (
             |  $chunkCteDuck)
             |SELECT doc_id,
             |  CAST(k AS BIGINT) AS chunk_idx,
             |  CAST(k * $chunkS + 1 AS BIGINT) AS chunk_start,
             |  CAST(LEAST($chunkW, len - (k * $chunkS + 1) + 1) AS BIGINT)
             |    AS chunk_len,
             |  substr(md5($chunkDuck), 1, 8) AS chunk_fp
             |FROM c
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ----------------------------------------------------------------- t51
    // Chunk-store DEDUP AUDIT: before embedding t50's chunks into a RAG /
    // retrieval index, how much of the store is redundant? Per source:
    // documents, chunk instances, DISTINCT chunk contents (what the store
    // actually holds), and boilerplate documents (≥ half their chunks
    // appear verbatim in some OTHER document — headers, licences,
    // templated pages). The sixth dedup granularity next to exact-doc
    // (t01), near-dup doc (t02/t42), paragraph (t37), 50-char substring
    // (t32) and cross-corpus (t36). At-scale shape: chunks stay a pure
    // map; the FULL 16-byte md5 (an 8-hex prefix collides at corpus
    // scale: 32 bits ≈ certain collision past ~10⁵ chunks) is the only
    // thing that enters an exchange — [[Curation.dupSpanCounts]]'s
    // spill-safe (h, doc) agg + h-window, plus one digest-keyed distinct
    // per source. Sharing ≥2 docs means cross-document boilerplate;
    // within-doc repeats still collapse in n_distinct_chunks.
    "t51_chunk_dedup" -> QueryDef(
      (spark, dir) => {
        val ch = docChunks(spark, dir)
          .select(col("doc_id"), col("source"), expr("md5(chunk)").as("h"))
        val perDoc = Curation.dupSpanCounts(ch.select("h", "doc_id"),
          minDocs = chunkMinDocs)
        val docSrc = t(spark, dir, "documents").select("doc_id", "source")
        val bySrc = perDoc.join(docSrc, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_total").as("n_chunks"),
            sum(when(col("n_dup") * 2 >= col("n_total"), 1L).otherwise(0L))
              .as("n_boiler_docs"))
        val dist = ch.groupBy("source")
          .agg(countDistinct("h").as("n_distinct_chunks"))
        // one row per source on each side: hinted, a dimension bound
        bySrc.join(broadcast(dist), "source")
          .select(col("source"), col("n_docs"), col("n_chunks"),
            col("n_distinct_chunks"), col("n_boiler_docs"))
          .orderBy("source")
      },
      Some(s"""WITH c AS (
             |  $chunkCteDuck),
             |ch AS (
             |  SELECT doc_id, source, md5($chunkDuck) AS h FROM c),
             |pd AS (
             |  SELECT h, doc_id, source, COUNT(*) AS cnt
             |  FROM ch GROUP BY h, doc_id, source),
             |w AS (
             |  SELECT doc_id, source, cnt,
             |    COUNT(*) OVER (PARTITION BY h) AS ndocs
             |  FROM pd),
             |doc AS (
             |  SELECT doc_id, source, SUM(cnt) AS n_total,
             |    SUM(CASE WHEN ndocs >= $chunkMinDocs THEN cnt ELSE 0 END)
             |      AS n_dup
             |  FROM w GROUP BY doc_id, source),
             |s AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(n_total) AS BIGINT) AS n_chunks,
             |    CAST(SUM(CASE WHEN 2 * n_dup >= n_total THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_boiler_docs
             |  FROM doc GROUP BY source),
             |d AS (
             |  SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT)
             |    AS n_distinct_chunks
             |  FROM ch GROUP BY source)
             |SELECT s.source, s.n_docs, s.n_chunks, d.n_distinct_chunks,
             |  s.n_boiler_docs
             |FROM s JOIN d USING (source)
             |ORDER BY source""".stripMargin)),

    // ----------------------------------------------------------------- t20
    // REPETITION quality filters (the full Gopher-rules family):
    // distinct-word ratio, top-word fraction, duplicate 2/3/4-gram
    // fractions and top 2/3/4-gram fractions — the rule set real
    // pretraining pipelines run per document. Every output depends on ONE
    // document only, so the at-scale shape is a PURE MAP: the native
    // [[graft.functions.NGramStats]] computes (total, distinct, top, dup)
    // per n in one compiled pass with per-row hash state — zero wide
    // shuffles at any corpus size. (The previous tagged-union spelling
    // exploded every token into a corpus-wide two-shuffle groupBy: 2.7 s
    // vs 0.4 s at sf0.1, and unboundedly worse at 100×.) All outputs are
    // integer counts + one exact IEEE division each.
    "t20_quality_repetition" -> QueryDef(
      (spark, dir) => {
        def frac(num: Column, den: Column): Column =
          when(den === 0, lit(0.0))
            .otherwise(num.cast("double") / den.cast("double"))
        withWords(t(spark, dir, "documents"))
          .select(col("doc_id"),
            expr("ngram_stats(words, 1)").as("w"),
            expr("ngram_stats(words, 2)").as("g2"),
            expr("ngram_stats(words, 3)").as("g3"),
            expr("ngram_stats(words, 4)").as("g4"))
          .select(col("doc_id"),
            col("w.total").as("n_words"),
            col("w.n_distinct").as("n_distinct"),
            col("w.top").as("top_count"),
            (col("w.n_distinct").cast("double") / col("w.total").cast("double"))
              .as("distinct_ratio"),
            (col("w.top").cast("double") / col("w.total").cast("double"))
              .as("top_word_frac"),
            frac(col("g2.dup"), col("g2.total")).as("dup_2gram_frac"),
            frac(col("g3.dup"), col("g3.total")).as("dup_3gram_frac"),
            frac(col("g4.dup"), col("g4.total")).as("dup_4gram_frac"),
            frac(col("g2.top"), col("g2.total")).as("top_2gram_frac"),
            frac(col("g3.top"), col("g3.total")).as("top_3gram_frac"),
            frac(col("g4.top"), col("g4.total")).as("top_4gram_frac"))
          .orderBy("doc_id")
      },
      Some {
        // the same tagged union, spelled relationally; range(1, len-n+2)
        // is the oracle twin of word_ngrams(words, n) (inclusive DuckDB
        // slice words[i:i+n-1] = n words). n_words must CAST to BIGINT
        // (HUGEINT rule, file header); the other sums only feed divisions.
        val legs = (2 to 4).map { n =>
          s"""  UNION ALL
             |  SELECT doc_id, ${n - 1} AS kind,
             |    unnest(list_transform(range(1, len(words) - ${n - 2}),
             |      i -> array_to_string(words[i:i+${n - 1}], ' '))) AS tok
             |  FROM ws""".stripMargin
        }.mkString("\n")
        def frac(num: String, den: String) =
          s"""CASE WHEN COALESCE($den, 0) = 0 THEN 0.0
             |       ELSE CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END""".stripMargin
        s"""WITH ws AS (
           |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |tok AS (
           |  SELECT doc_id, 0 AS kind, unnest(words) AS tok FROM ws
           |$legs),
           |wc AS (
           |  SELECT doc_id, kind, tok, COUNT(*) AS c
           |  FROM tok GROUP BY doc_id, kind, tok),
           |stats AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN kind = 0 THEN c END) AS BIGINT) AS n_words,
           |    COUNT(CASE WHEN kind = 0 THEN 1 END) AS n_distinct,
           |    MAX(CASE WHEN kind = 0 THEN c END) AS top_count,
           |    SUM(CASE WHEN kind = 1 THEN c END) AS n_2grams,
           |    COALESCE(SUM(CASE WHEN kind = 1 AND c > 1 THEN c END), 0) AS dup_2grams,
           |    MAX(CASE WHEN kind = 1 THEN c END) AS top_2gram,
           |    SUM(CASE WHEN kind = 2 THEN c END) AS n_3grams,
           |    COALESCE(SUM(CASE WHEN kind = 2 AND c > 1 THEN c END), 0) AS dup_3grams,
           |    MAX(CASE WHEN kind = 2 THEN c END) AS top_3gram,
           |    SUM(CASE WHEN kind = 3 THEN c END) AS n_4grams,
           |    COALESCE(SUM(CASE WHEN kind = 3 AND c > 1 THEN c END), 0) AS dup_4grams,
           |    MAX(CASE WHEN kind = 3 THEN c END) AS top_4gram
           |  FROM wc GROUP BY doc_id)
           |SELECT doc_id, n_words, n_distinct, top_count,
           |  CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)
           |    AS distinct_ratio,
           |  CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE)
           |    AS top_word_frac,
           |  ${frac("dup_2grams", "n_2grams")} AS dup_2gram_frac,
           |  ${frac("dup_3grams", "n_3grams")} AS dup_3gram_frac,
           |  ${frac("dup_4grams", "n_4grams")} AS dup_4gram_frac,
           |  ${frac("top_2gram", "n_2grams")} AS top_2gram_frac,
           |  ${frac("top_3gram", "n_3grams")} AS top_3gram_frac,
           |  ${frac("top_4gram", "n_4grams")} AS top_4gram_frac
           |FROM stats
           |ORDER BY doc_id""".stripMargin
      }),

    // ----------------------------------------------------------------- t46
    // Deterministic TRAIN/VALIDATION/TEST split — the held-out split cut
    // before every training run (C4/Pile style): each document lands in
    // exactly one of three DISJOINT splits by an md5 gate on its id
    // (98/1/1), salted 't46|' so membership is independent of t21/t28's
    // gates, stable across runs, engines, and repartitioning, and
    // requiring no coordination — any worker can recompute any doc's
    // split. Reported per (lang, split) with within-language fractions
    // so mix drift between splits is visible per stratum. One corpus
    // agg; the language total is a window over the already-aggregated
    // 3×#langs frame (t41's bounded-by-construction shape).
    "t46_eval_split" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .withColumn("bucket", expr(
            "CAST(conv(substr(md5(CAST(concat('t46|', CAST(doc_id AS STRING)) AS BINARY)), 1, 4), 16, 10) AS INT) % 100"))
          .withColumn("split",
            when(col("bucket") < 98, "train")
              .when(col("bucket") === 98, "validation")
              .otherwise("test"))
        docs.groupBy("lang", "split").agg(count(lit(1)).as("n"))
          .withColumn("n_lang", sum("n").over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")))
          .select(col("lang"), col("split"), col("n"),
            (col("n").cast("double") / col("n_lang").cast("double"))
              .as("frac"))
          .orderBy("lang", "split")
      },
      Some {
        val hb = (1 to 4).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
        }.mkString(" + ")
        s"""WITH hashed AS (
           |  SELECT doc_id, lang, CAST($hb AS INTEGER) % 100 AS bucket
           |  FROM (SELECT doc_id, lang,
           |          md5('t46|' || CAST(doc_id AS VARCHAR)) AS h
           |        FROM documents)),
           |s AS (
           |  SELECT lang, CASE WHEN bucket < 98 THEN 'train'
           |                    WHEN bucket = 98 THEN 'validation'
           |                    ELSE 'test' END AS split
           |  FROM hashed),
           |c AS (SELECT lang, split, COUNT(*) AS n FROM s GROUP BY lang, split)
           |SELECT lang, split, n,
           |  CAST(n AS DOUBLE)
           |    / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS frac
           |FROM c ORDER BY lang, split""".stripMargin
      }),

    // ----------------------------------------------------------------- t21
    // Deterministic STRATIFIED SAMPLING (mix balancing): downsample every
    // language stratum to the smallest language's size with an md5 hash
    // gate — keep iff the first 16 md5 bits of doc_id fall under
    // (65536 * min_n) div n_stratum (the over-represented language keeps
    // ~min_n docs, the smallest keeps everything). Hash-gate sampling is
    // the at-scale idiom: reproducible across runs and engines (no RNG
    // state), stable under re-partitioning, and requires NO shuffle of
    // the corpus — the per-stratum counts are a tiny map-side-combined
    // agg that broadcasts back as thresholds, then one filter pass.
    "t21_stratified_sample" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val minN = counts.agg(min("n").as("min_n"))
        val thr = counts.crossJoin(broadcast(minN))
          .select(col("lang"),
            expr("(65536 * min_n) div n").as("thr"))
        docs
          .withColumn("hash_bucket", expr(
            "CAST(conv(substr(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 4), 16, 10) AS INT)"))
          .join(broadcast(thr), "lang")
          .filter(col("hash_bucket") < col("thr"))
          .select("doc_id", "lang", "hash_bucket")
          .orderBy("doc_id")
      },
      Some {
        // decode md5's 4 leading hex digits without conv() (DuckDB has
        // from_hex but instr-decode matches the engine-portable pattern
        // already proven by t04)
        val hb = (1 to 4).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
        }.mkString(" + ")
        s"""WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
           |thr AS (
           |  SELECT lang, (65536 * (SELECT MIN(n) FROM counts)) // n AS thr
           |  FROM counts),
           |hashed AS (
           |  SELECT doc_id, lang,
           |    CAST($hb AS INTEGER) AS hash_bucket
           |  FROM (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
           |        FROM documents))
           |SELECT d.doc_id, d.lang, d.hash_bucket
           |FROM hashed d JOIN thr t ON d.lang = t.lang
           |WHERE d.hash_bucket < t.thr
           |ORDER BY d.doc_id""".stripMargin
      }),

    // ----------------------------------------------------------------- t22
    // WORD RARITY scoring via corpus document frequency: build the df
    // table (one shuffle on the word digest — the vocabulary), join it
    // back to each doc's distinct words (second shuffle, same key), and
    // aggregate mean / min df per doc. At 100 TB the vocabulary is far
    // too large to broadcast — the digest-keyed shuffle join IS the
    // scale path. Words collapse to xxhash64 before either exchange, so
    // the shuffles carry (int64, count) pairs, never strings (64-bit
    // collision odds at vocabulary size are negligible — same analysis
    // as t47). mean_df is one exact division of two exactly-summed
    // bigints.
    "t22_word_rarity" -> QueryDef(
      (spark, dir) => {
        // df is a WINDOW count over the one w64 exchange, not an
        // aggregate joined back (r18 BroadcastAudit): the join spelling
        // size-estimates the vocabulary-sized df table from the
        // PRE-explode documents scan and still planned BroadcastHashJoin
        // at 30× — silently violating this op's own "the vocabulary is
        // far too large to broadcast" contract (t47's finding repeated).
        // The window computes the same count on the shuffle the join
        // needed anyway: one corpus exchange, no broadcast to mis-size.
        import org.apache.spark.sql.expressions.Window
        t(spark, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .select(col("doc_id"), xxhash64(col("w")).as("w64"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("w64")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_distinct"),
            sum("df").as("sum_df"),
            min("df").as("min_df"))
          .withColumn("mean_df",
            col("sum_df").cast("double") / col("n_distinct").cast("double"))
          .select("doc_id", "n_distinct", "min_df", "mean_df")
          .orderBy("doc_id")
      },
      Some("""WITH dw AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
             |  FROM documents),
             |df AS (SELECT w, COUNT(*) AS df FROM dw GROUP BY w)
             |SELECT dw.doc_id, COUNT(*) AS n_distinct, MIN(df.df) AS min_df,
             |  CAST(SUM(df.df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_df
             |FROM dw JOIN df ON dw.w = df.w
             |GROUP BY dw.doc_id
             |ORDER BY dw.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t23
    // CLUSTER REPRESENTATIVES: per-label centroid (t16's fixed-point
    // recipe — FLOOR(v*1e6+0.5) long sums make the learned doubles
    // independent of partitioning), then the 3 vectors closest to their
    // own label's centroid by squared euclidean distance. This is the
    // data-selection step after clustering: pick exemplars per topic for
    // a curated training mix. Only the k×64 centroid matrix visits the
    // driver; assignment + distance is one codegen'd map pass against
    // broadcast literals. With k ≪ cores a bare per-label window skews
    // (k tasks over the whole corpus' (label, dist) pairs), so
    // [[localLabelTopK]] pre-reduces each partition to its local top-3
    // per label first — the global window then ranks ≤ 3 × k × partitions
    // rows, and only those survivors ever shuffle.
    "t23_cluster_reps" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.Row
        val emb = t(spark, dir, "embeddings")
        // exact per-(label, dim) fixed-point sums → driver → literal
        // centroids (same convergence-free single pass as t16's update)
        val learned: Seq[(Int, IndexedSeq[Double])] = emb
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg(sum(floor(col("v") * 1e6 + 0.5)).as("s"), count(lit(1)).as("n"))
          .groupBy("label")
          .agg(sort_array(collect_list(struct(col("dim"), col("s"), col("n"))))
            .as("dims"))
          .collect()
          .map { r =>
            val dims = r.getSeq[Row](1)
            r.getInt(0) -> dims.map(d =>
              d.getLong(1) / 1e6 / d.getLong(2)).toIndexedSeq
          }.sortBy(_._1).toSeq
        // 0.0-seeded fold == DuckDB list_reduce (0.0 + x1 ≡ x1)
        def norm(c: Seq[Double]): Double = c.foldLeft(0.0)((a, x) => a + x * x)
        if (learned.isEmpty) // empty embeddings: schema-correct empty out
          emb.select(col("label"), lit(1).as("rnk"), col("vec_id"),
            lit(0.0).as("dist")).limit(0)
        else {
          val distByLabel = learned.map { case (l, c) =>
            (l, (lit(norm(c)) - lit(2.0) * dotCol(col("embedding"), typedlit(c))) +
              expr(dotSql("embedding", "embedding")))
          }
          val dist = distByLabel.tail.foldLeft(
            when(col("label") === distByLabel.head._1, distByLabel.head._2)) {
            case (acc, (l, d)) => acc.when(col("label") === l, d)
          }
          val scored = emb.withColumn("dist", dist)
            .select(col("label"), col("vec_id"), col("dist"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("label").orderBy(col("dist"), col("vec_id"))
          localLabelTopK(scored, 3)
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 3)
            .select(col("label"), col("rnk"), col("vec_id"), col("dist"))
            .orderBy("label", "rnk")
        }
      },
      Some(s"""WITH sums AS (
              |  SELECT label, g.dim AS dim,
              |    SUM(CAST(FLOOR(CAST(embedding[g.dim] AS DOUBLE)*1e6 + 0.5)
              |      AS BIGINT)) AS s,
              |    COUNT(*) AS n
              |  FROM embeddings, generate_series(1, 64) AS g(dim)
              |  GROUP BY label, g.dim),
              |cent AS (
              |  SELECT label, list(CAST(s AS DOUBLE)/1e6/n ORDER BY dim) AS centroid
              |  FROM sums GROUP BY label),
              |cn AS (
              |  SELECT label, centroid,
              |    list_reduce(list_transform(centroid, x -> x*x), (a,b) -> a+b)
              |      AS nrm
              |  FROM cent),
              |scored AS (
              |  SELECT e.vec_id, e.label,
              |    (cn.nrm - 2*${dotDuck("e.embedding", "cn.centroid")})
              |      + ${dotDuck("e.embedding", "e.embedding")} AS dist
              |  FROM embeddings e JOIN cn ON e.label = cn.label),
              |ranked AS (
              |  SELECT label, vec_id, dist,
              |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist, vec_id)
              |      AS rnk
              |  FROM scored)
              |SELECT label, rnk, vec_id, dist
              |FROM ranked WHERE rnk <= 3
              |ORDER BY label, rnk""".stripMargin)),

    // ----------------------------------------------------------------- t24
    // Token-budget SHARD ASSIGNMENT (training-file packing): shard i
    // holds the docs whose running token total starts in
    // [i*budget, (i+1)*budget). The running sum is [[cumulativeTokens]]'
    // two-pass distributed prefix sum — never a partition-less window.
    "t24_token_shards" -> QueryDef(
      (spark, dir) =>
        cumulativeTokens(spark, dir)
          .withColumn("shard", expr("(cum - tok) div 20000"))
          .orderBy("doc_id"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, $tokenEstDuck AS tok FROM documents),
             |c AS (
             |  SELECT doc_id, tok,
             |    CAST(SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum
             |  FROM toks)
             |SELECT doc_id, tok, cum, (cum - tok) // 20000 AS shard
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t25
    // Keep-BEST dedup: within each exact-content group keep the longest
    // document (ties → lowest doc_id) instead of t01's first-seen — the
    // practical retention rule when near-identical crawls differ in
    // truncation. The keeper and the dup count are ONE map-side-
    // combinable aggregate per digest — max_by(struct, (n_chars,
    // -doc_id)) + count — so a boilerplate mega-group (10⁸ copies of one
    // page at web scale) reduces inside every input partition before a
    // single (digest, best, count) row per group crosses the exchange:
    // skew-immune where the earlier row_number+count window form funneled
    // the whole group into one task. Shuffles digests and two ints,
    // never text.
    "t25_dedup_keep_best" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "documents")
          .withColumn("content_hash", md5(col("text").cast("binary")))
          .groupBy("content_hash")
          .agg(
            max_by(struct(col("doc_id").as("keep_doc_id"),
                col("n_chars")),
              struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"),
            count(lit(1)).as("dup_count"))
          .select(col("content_hash"), col("best.keep_doc_id"),
            col("best.n_chars"), col("dup_count"))
          .orderBy("keep_doc_id")
      },
      Some("""SELECT content_hash, doc_id AS keep_doc_id, n_chars, dup_count
             |FROM (
             |  SELECT md5(text) AS content_hash, doc_id, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY md5(text)
             |      ORDER BY n_chars DESC, doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY md5(text)) AS dup_count
             |  FROM documents)
             |WHERE rn = 1
             |ORDER BY keep_doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t65
    // TF-IDF KEYWORD EXTRACTION: top-5 terms per document by
    // tf × (N / df) — the classic retrieval/topic-tagging signal a
    // curation run uses to label documents with their salient terms
    // (domain tagging, topic balancing, search-index sidecars).
    // Weight is the exact rational tf·N/df (no log-IDF: ln() is not
    // bit-portable across engines, and rank order is identical for a
    // fixed corpus because x ↦ ln is monotone).
    // Scale shape: ONE corpus scan, three exchanges of the (doc, term)
    // frame — tf collapses map-side per (doc, term) first (one row per
    // distinct pair, never one per token), then a term-partitioned
    // COUNT window computes df in place of the textbook "aggregate +
    // join back" (which at corpus scale either broadcasts a
    // VOCABULARY-sized table or adds a fourth term-keyed join shuffle —
    // both worse than the window, whose partition key is
    // vocab-cardinality and skew-bounded by the t34 stop-word df cap
    // argument: the worst term's partition is its document frequency,
    // ≤ N docs). The rank window partitions by doc_id
    // (corpus-cardinality — skew-free, WindowGroupLimit prunes to top-5
    // per partition before the exchange); N rides a literal from the
    // parquet-footer metadata read (r21; was one count() job), not a
    // cross join.
    "t65_tfidf_keywords" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(spark, dir, "documents")
        // N from parquet footers (t26's recipe), not a count() job (r21)
        val nDocs = Tables.rowCount(spark, dir, "documents")
        val winT = Window.partitionBy("term")
        val winD = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))
        docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .withColumn("df", count(lit(1)).over(winT))
          .withColumn("score",
            col("tf").cast("double") * lit(nDocs).cast("double")
              / col("df").cast("double"))
          .withColumn("rnk", row_number().over(winD))
          .filter(col("rnk") <= 5)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
            col("df"), col("score"))
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, term, COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |        FROM documents)
             |  GROUP BY doc_id, term),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |ranked AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             |    CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE)
             |      / CAST(dfreq.df AS DOUBLE) AS score,
             |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE)
             |                 / CAST(dfreq.df AS DOUBLE) DESC,
             |               tf.term) AS rnk
             |  FROM tf JOIN dfreq USING (term), n)
             |SELECT doc_id, rnk, term, tf, df, score
             |FROM ranked WHERE rnk <= 5
             |ORDER BY doc_id, rnk""".stripMargin)),

    // ----------------------------------------------------------------- t67
    // Per-stratum EXACT-k SAMPLE: exactly k documents per language by
    // md5-gate rank — the fixed-size-per-stratum draw (eval subsets,
    // human-review batches, per-language probes) where t21's
    // smallest-stratum match and t28's temperature weights don't apply:
    // the ask is "exactly k of each, reproducibly". The md5 rank makes
    // the draw deterministic, uniform, and stable under corpus growth
    // limited to rank churn (a new doc displaces at most one pick).
    // Scale shape: one corpus map computes the 48-bit gate; #langs ≪
    // cores would make the bare rank window skew (5 tasks over the
    // corpus — t23/t38's trap), so [[Curation.boundedTopK]] pre-reduces
    // every partition to its local k-smallest (hash, doc_id) per lang
    // first: the window then ranks ≤ k × langs × partitions rows, and
    // only those survivors ever shuffle.
    "t67_stratum_sample_k" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        import spark.implicits._
        val k = 7
        val gated = t(spark, dir, "documents")
          .select(col("lang"), col("doc_id"),
            expr("CAST(conv(substr(md5(CAST(concat('t67|', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)")
              .as("hgate"))
        val pre = gated.as[(String, Long, Long)]
          .mapPartitions { it =>
            Curation.boundedTopK(
              it.map { case (l, id, h) => (l, (h, id)) }, k)
              .map { case (l, (h, id)) => (l, id, h) }
          }
          .toDF("lang", "doc_id", "hgate")
        val win = Window.partitionBy("lang")
          .orderBy(col("hgate"), col("doc_id"))
        pre.withColumn("rnk", row_number().over(win))
          .filter(col("rnk") <= k)
          .select(col("lang"), col("rnk"), col("doc_id"), col("hgate"))
          .orderBy("lang", "rnk")
      },
      Some {
        val hb = (1 to 8).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (8 - i))}"
        }.mkString(" + ")
        s"""WITH gated AS (
           |  SELECT lang, doc_id, CAST($hb AS BIGINT) AS hgate
           |  FROM (SELECT lang, doc_id,
           |          md5('t67|' || CAST(doc_id AS VARCHAR)) AS h
           |        FROM documents)),
           |ranked AS (
           |  SELECT lang, doc_id, hgate,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |      ORDER BY hgate, doc_id) AS rnk
           |  FROM gated)
           |SELECT lang, rnk, doc_id, hgate FROM ranked
           |WHERE rnk <= 7
           |ORDER BY lang, rnk""".stripMargin
      }),

    // ----------------------------------------------------------------- t71
    // SPLIT-LEAKAGE AUDIT: shingle overlap BETWEEN t46's train/val/test
    // splits — the self-decontamination check run after any random
    // split: a held-out set whose n-grams also appear in train (here:
    // because near-duplicate documents were split apart) leaks, and its
    // eval numbers are inflated. Uses t46's exact md5 gate so the audit
    // covers the split the engine actually emits, and reports the
    // overlap normalized by the SMALLER side (the held-out split).
    // Scale shape: t66's matrix shape keyed on splits — corpus
    // collapses to DISTINCT (split, shingle64) map-side; per-shingle
    // split set is ≤ 3; pair explode and final agg are ≤ 9 keys;
    // 3-row size table broadcasts back.
    "t71_split_leakage" -> QueryDef(
      (spark, dir) => {
        val gated = t(spark, dir, "documents")
          .withColumn("bucket", expr(
            "CAST(conv(substr(md5(CAST(concat('t46|', CAST(doc_id AS STRING)) AS BINARY)), 1, 4), 16, 10) AS INT) % 100"))
          .withColumn("split",
            when(col("bucket") < 98, "train")
              .when(col("bucket") === 98, "validation")
              .otherwise("test"))
        val ss = withWords(gated)
          .select(col("split"), explode(expr(shingleExpr)).as("shingle"))
          .select(col("split"), xxhash64(col("shingle")).as("sh64"))
          .distinct()
        val sizes = ss.groupBy("split").agg(count(lit(1)).as("n_sh"))
        ss.groupBy("sh64")
          .agg(sort_array(collect_set(col("split"))).as("sps"))
          .select(explode(col("sps")).as("split_a"), col("sps"))
          .select(col("split_a"), explode(col("sps")).as("split_b"))
          .filter(col("split_a") < col("split_b"))
          .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_common"))
          .join(broadcast(sizes.select(col("split").as("split_a"),
            col("n_sh").as("n_a"))), "split_a")
          .join(broadcast(sizes.select(col("split").as("split_b"),
            col("n_sh").as("n_b"))), "split_b")
          .withColumn("leak_frac", col("n_common").cast("double")
            / least(col("n_a"), col("n_b")).cast("double"))
          .select(col("split_a"), col("split_b"), col("n_a"), col("n_b"),
            col("n_common"), col("leak_frac"))
          .orderBy("split_a", "split_b")
      },
      Some {
        val hb = (1 to 4).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
        }.mkString(" + ")
        s"""WITH hashed AS (
           |  SELECT doc_id, CAST($hb AS INTEGER) % 100 AS bucket
           |  FROM (SELECT doc_id, md5('t46|' || CAST(doc_id AS VARCHAR)) AS h
           |        FROM documents)),
           |sp AS (
           |  SELECT d.doc_id,
           |    CASE WHEN bucket < 98 THEN 'train'
           |         WHEN bucket = 98 THEN 'validation'
           |         ELSE 'test' END AS split, d.text
           |  FROM documents d JOIN hashed USING (doc_id)),
           |ss AS (
           |  SELECT DISTINCT split, shingle
           |  FROM (SELECT split, unnest($shingleSqlDuck) AS shingle FROM sp)),
           |sizes AS (SELECT split, COUNT(*) AS n_sh FROM ss GROUP BY split),
           |pairs AS (
           |  SELECT a.split AS split_a, b.split AS split_b,
           |    COUNT(*) AS n_common
           |  FROM ss a JOIN ss b
           |    ON a.shingle = b.shingle AND a.split < b.split
           |  GROUP BY 1, 2)
           |SELECT split_a, split_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
           |  n_common,
           |  CAST(n_common AS DOUBLE)
           |    / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS leak_frac
           |FROM pairs
           |JOIN sizes sa ON split_a = sa.split
           |JOIN sizes sb ON split_b = sb.split
           |ORDER BY split_a, split_b""".stripMargin
      }),

    // ----------------------------------------------------------------- t74
    // UNIGRAM-LM QUALITY SCORE (CCNet-style perplexity filter): train a
    // unigram language model on the reference slice (source = 'src0',
    // the same "trusted corpus" t55's DSIR uses as its target), then
    // score EVERY document by its per-token surprisal under that model.
    // High bits-per-token → the document looks nothing like the
    // reference corpus (boilerplate, noise, wrong domain); the classic
    // CCNet/KenLM bucket-by-perplexity signal, here with a unigram LM.
    //
    // Surprisal is INTEGER-QUANTIZED so the oracle hash is exact: a
    // token seen cnt times in a T-token LM scores
    //   bits(w) = len(binary(T div (cnt+1)))  —  i.e. 1 + floor(log2 ·)
    // of the (add-one-smoothed) inverse probability; OOV tokens get the
    // max score len(binary(T)). Per-doc bits sum exactly as BIGINTs in
    // any partition/merge order; the single final division to
    // bits_per_token is one IEEE op in both engines. (A float log would
    // hash-diverge: Spark and DuckDB sum doubles in different orders.)
    //
    // Scale shape: the LM is a groupBy over the REFERENCE slice only —
    // partial-aggregated map-side, its result is a vocabulary table
    // (≈ millions of rows at 100 TB ≈ tens of MB) that BROADCASTS to
    // the corpus-wide scoring scan; the per-doc agg partial-aggregates
    // on doc_id. The full corpus is never shuffled by token: the only
    // wide exchanges carry (word, count) and (doc_id, 3 longs).
    "t74_unigram_logloss" -> QueryDef(
      (spark, dir) => {
        val words = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), col("source"), explode(col("words")).as("w"))
        val (lm, tot) = srcZeroUnigramLm(t(spark, dir, "documents"))
        words
          .join(broadcast(lm), Seq("w"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("bits", length(bin(
            expr("t_lm div (coalesce(cnt, CAST(0 AS BIGINT)) + 1)")))
            .cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
            sum("bits").as("bits_total"))
          .withColumn("bits_per_token",
            col("bits_total").cast("double") / col("n_tokens").cast("double"))
          .select("doc_id", "n_tokens", "n_oov", "bits_total",
            "bits_per_token")
          .orderBy("doc_id")
      },
      // length(format('{:b}', x)) is DuckDB's spelling of Spark's
      // length(bin(x)): both print the minimal binary form, so the
      // quantized surprisal is identical down to x = 0 → "0" → 1 bit.
      Some("""WITH w AS (
             |  SELECT doc_id, source,
             |    unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |lm AS (
             |  SELECT w, COUNT(*) AS cnt FROM w
             |  WHERE source = 'src0' GROUP BY w),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_lm FROM lm),
             |scored AS (
             |  SELECT doc_id,
             |    CASE WHEN lm.cnt IS NULL THEN 1 ELSE 0 END AS oov,
             |    length(format('{:b}',
             |      t.t_lm // (COALESCE(lm.cnt, 0) + 1))) AS bits
             |  FROM w LEFT JOIN lm USING (w), tot t)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(oov) AS BIGINT) AS n_oov,
             |  CAST(SUM(bits) AS BIGINT) AS bits_total,
             |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |    AS bits_per_token
             |FROM scored GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t79
    // CHARACTER-ENTROPY quality signal: per-document Shannon entropy of
    // the character distribution, integer-quantized with t74's
    // len-of-binary surprisal (bits(c) = len(binary(total div cnt_c)),
    // summed weighted by cnt_c) so cross-partition sums are exact
    // BIGINTs. The char-level complement of the word-level t08/t20
    // heuristics: near-zero entropy exposes run-length garbage
    // ("aaaa…"), abnormally high entropy exposes binary spill /
    // encoding noise — both invisible to word statistics when the junk
    // tokenizes into few "words". substr-by-position (not split) keeps
    // multi-byte text correct in both engines: substr counts CHARACTERS
    // in Spark and DuckDB alike.
    //
    // Scale shape: a PURE MAP — the native codegen'd
    // [[graft.functions.CharEntropyStats]] decodes each text once
    // (linear scan, per-row hash state bounded by the alphabet) and
    // emits the three longs in-row, so the corpus crosses ZERO wide
    // exchanges at any size. The exploded relational spelling this
    // replaced (one row per char → two agg levels) was O(n²) per doc
    // before its first shuffle — substring(text, i, 1) re-scans the
    // UTF-8 bytes to find code point i — and benched 4.7 s at sf0.1,
    // the slowest query in the suite; the expression form is map-only.
    "t79_char_entropy" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), expr("char_entropy_stats(text)").as("s"))
          .select(col("doc_id"),
            col("s.total").as("n_chars_text"),
            col("s.n_distinct").as("n_distinct_chars"),
            col("s.bits_total").as("bits_total"))
          .withColumn("bits_per_char",
            col("bits_total").cast("double") / col("n_chars_text").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH ch AS (
             |  SELECT doc_id, length(text) AS tot,
             |    unnest(list_transform(range(1, length(text) + 1),
             |      i -> substr(text, i, 1))) AS c
             |  FROM documents WHERE length(text) > 0),
             |h AS (
             |  SELECT doc_id, tot, c, COUNT(*) AS cnt
             |  FROM ch GROUP BY 1, 2, 3),
             |b AS (
             |  SELECT doc_id, tot, cnt,
             |    length(format('{:b}', tot // cnt)) * cnt AS bits
             |  FROM h)
             |SELECT doc_id, MAX(tot) AS n_chars_text,
             |  COUNT(*) AS n_distinct_chars,
             |  CAST(SUM(bits) AS BIGINT) AS bits_total,
             |  CAST(SUM(bits) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
             |    AS bits_per_char
             |FROM b GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t80
    // GLOBAL QUALITY-BUDGET CUT: order the whole corpus by t08 quality
    // (best first, doc_id tie-break) and keep documents until the
    // cumulative token estimate reaches 60% of the corpus — "spend the
    // token budget on the best documents, wherever they come from". The
    // GLOBAL complement of t38 (per-source quota) and t70 (per-source
    // waterfill): here sources compete, and the per-source report shows
    // who wins. keep ⇔ cum_tokens_before < budget, so exactly the
    // budget-crossing document is the last kept.
    //
    // Scale shape: a global ordered cumsum is t24/t27's problem — a
    // ROW_NUMBER/SUM-OVER with no PARTITION BY would drag the corpus
    // through ONE task. Same cure, token-weighted: bucket by a monotone
    // transform of the fixed-point quality (bucket count scales with
    // input partitions), per-bucket token sums → driver scanLeft gives
    // each bucket its starting offset (collect bounded by #buckets);
    // pass 2 re-sorts only within buckets and streams the running sum
    // per partition. The final report is a tiny per-source agg.
    "t80_quality_budget_cut" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        // clamp BEFORE the fixed point: a degenerate document (n_chars=0)
        // makes the quality's punct term 0.0/0.0 = NaN, which Spark's
        // non-ANSI cast folds to 0 while DuckDB's CAST(FLOOR(NaN)) errors.
        // Both engines order NaN above every number, so LEAST(1.0, NaN)
        // = 1.0 in each — the clamp gives such a document the defined
        // top bucket instead of an engine divergence, and pins qfp into
        // [0, 1e6], the range the bucket arithmetic below assumes.
        val docs = Curation.qualityInputs(t(spark, dir, "documents"))
          .withColumn("qfp", floor(
            greatest(lit(0.0), least(lit(1.0), Curation.qualityCol))
              * 1e6 + 0.5).cast("long"))
          .select(col("doc_id"), col("source"), col("qfp"),
            expr(tokenEstExpr).cast("long").as("tok"))
        val buckets = tokenShardBuckets(docs.rdd.getNumPartitions)
        // monotone: best quality (qfp = 1e6) → bucket 0
        val bucketed = docs.withColumn("bucket",
          expr(s"CAST((1000000 - qfp) * $buckets div 1000001 AS INT)"))
        val perBucket = bucketed.groupBy("bucket")
          .agg(sum("tok").as("toks"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
        val totalTokens = perBucket.map(_._2).sum
        val budget = totalTokens * 60L / 100L
        val offsets: Map[Int, Long] = perBucket.map(_._1)
          .zip(perBucket.scanLeft(0L)((acc, b) => acc + b._2)).toMap
        bucketed
          .repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("qfp").desc, col("doc_id"))
          .select(col("doc_id"), col("source"), col("tok"), col("bucket"))
          .as[(Long, String, Long, Int)]
          .mapPartitions { it =>
            var cur = Int.MinValue
            var cum = 0L
            it.map { case (_, src, tok, b) =>
              if (b != cur) { cur = b; cum = offsets(b) }
              val before = cum
              cum += tok
              (src, tok, before < budget)
            }
          }
          .toDF("source", "tok", "keep")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum("tok").as("tokens_total"),
            sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
          .orderBy("source")
      },
      Some(s"""WITH q AS (
              |  SELECT doc_id, source,
              |    CAST(FLOOR(GREATEST(0.0, LEAST(1.0, ${Curation.qualityDuck}))
              |      * 1e6 + 0.5) AS BIGINT) AS qfp,
              |    CAST($tokenEstDuck AS BIGINT) AS tok
              |  FROM documents),
              |c AS (
              |  SELECT source, tok,
              |    COALESCE(CAST(SUM(tok) OVER (ORDER BY qfp DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS BIGINT), 0) AS cum_before
              |  FROM q),
              |tot AS (
              |  SELECT CAST(SUM(tok) AS BIGINT) * 60 // 100 AS budget FROM q)
              |SELECT source, COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN cum_before < budget THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_kept,
              |  CAST(SUM(tok) AS BIGINT) AS tokens_total,
              |  CAST(SUM(CASE WHEN cum_before < budget THEN tok ELSE 0 END)
              |    AS BIGINT) AS tokens_kept
              |FROM c, tot GROUP BY source ORDER BY source""".stripMargin)),

    // ----------------------------------------------------------------- t84
    // BIGRAM SURPRISAL with unigram BACKOFF (KenLM-style, one order
    // down): score every document's word-ORDER predictability under a
    // bigram LM trained on the src0 reference slice. Per bigram
    // (w1 w2): if the LM saw it, bits = lenbin(ctx(w1) div cnt(w1 w2))
    // — the quantized conditional surprisal −log₂ P(w2|w1); else back
    // off to the t74 unigram score of w2 plus a 1-bit backoff penalty.
    // t74 is order-BLIND (a shuffled document scores identically);
    // this is the complementary signal — word-salad spam with plausible
    // unigrams lights up here. Same integer quantization, so per-doc
    // sums are exact BIGINTs in any merge order.
    //
    // Scale shape: both LM tables build from the reference slice only
    // (partial-aggregated; ctx(w1) derives from the bigram table, not a
    // second corpus pass) and BROADCAST to the corpus-wide scoring scan
    // — the exploded bigram stream never shuffles by token; the one
    // wide exchange carries (doc_id, 3 longs) partials.
    "t84_bigram_surprisal" -> QueryDef(
      (spark, dir) => {
        val bg = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(expr("word_bigrams(words)")).as("b"))
        val lmBg = bg.filter(col("source") === "src0")
          .groupBy("b").agg(count(lit(1)).as("cbg"))
        // ctx(w1) = Σ bigrams starting with w1 — derived from the
        // bigram table (≤ |LM bigrams| rows), not a second corpus scan
        val lmCtx = lmBg
          .groupBy(substring_index(col("b"), " ", 1).as("w1"))
          .agg(sum("cbg").as("cctx"))
        val (lmUni, tot) = srcZeroUnigramLm(t(spark, dir, "documents"))
        bg
          .join(broadcast(lmBg), Seq("b"), "left")
          .join(broadcast(lmCtx),
            substring_index(col("b"), " ", 1) === col("w1"), "left")
          .join(broadcast(lmUni),
            substring_index(col("b"), " ", -1) === col("w"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("bits",
            when(col("cbg").isNotNull,
              length(bin(expr("cctx div cbg"))).cast("long"))
              .otherwise(length(bin(
                expr("t_lm div (coalesce(cnt, CAST(0 AS BIGINT)) + 1)")))
                .cast("long") + 1L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("cbg").isNull, 1L).otherwise(0L)).as("n_backoff"),
            sum("bits").as("bits_total"))
          .withColumn("bits_per_bigram",
            col("bits_total").cast("double") / col("n_bigrams").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source, string_split(text, ' ') AS words
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, source,
             |    unnest(list_transform(range(1, len(words)),
             |      i -> array_to_string(words[i:i+1], ' '))) AS b
             |  FROM w),
             |lmbg AS (
             |  SELECT b, COUNT(*) AS cbg FROM bg
             |  WHERE source = 'src0' GROUP BY b),
             |lmctx AS (
             |  SELECT split_part(b, ' ', 1) AS w1,
             |    CAST(SUM(cbg) AS BIGINT) AS cctx
             |  FROM lmbg GROUP BY 1),
             |lmuni AS (
             |  SELECT u.w, COUNT(*) AS cnt FROM
             |    (SELECT unnest(words) AS w FROM w WHERE source = 'src0') u
             |  GROUP BY u.w),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_lm FROM lmuni),
             |scored AS (
             |  SELECT g.doc_id,
             |    CASE WHEN lmbg.cbg IS NULL THEN 1 ELSE 0 END AS backoff,
             |    CASE WHEN lmbg.cbg IS NOT NULL
             |      THEN length(format('{:b}', c.cctx // lmbg.cbg))
             |      ELSE length(format('{:b}',
             |        t.t_lm // (COALESCE(u.cnt, 0) + 1))) + 1
             |    END AS bits
             |  FROM bg g
             |  LEFT JOIN lmbg ON g.b = lmbg.b
             |  LEFT JOIN lmctx c ON split_part(g.b, ' ', 1) = c.w1
             |  LEFT JOIN lmuni u ON split_part(g.b, ' ', -1) = u.w
             |  , tot t)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM(backoff) AS BIGINT) AS n_backoff,
             |  CAST(SUM(bits) AS BIGINT) AS bits_total,
             |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |    AS bits_per_bigram
             |FROM scored GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t86
    // HASHED-bigram surprisal — t84's broadcast-bounded form for when
    // the reference slice is itself corpus-scale: all three LM tables
    // key on t55's hashed-feature buckets (substr(md5(x), 1, 3) — 4096
    // buckets, byte-identical in both engines) instead of raw token
    // strings, so each broadcast is ≤ 4096 rows NO MATTER how rich the
    // reference slice grows — the one scale caveat t84 carries
    // (broadcasting raw bigram strings of the src0 slice) is removed at
    // the cost of bucket collisions, which are part of the shared
    // definition exactly as in t55 (collisions ARE the dimensionality
    // reduction; DSIR's argument applies unchanged to LM features).
    // "LM has seen the bigram" becomes "both the bigram bucket AND the
    // w1 context bucket are populated" — with hashing the two are
    // independent lookups, so the backoff guard checks both; the
    // unigram backoff table is hashed the same way. Quantization and
    // per-doc exact-BIGINT sums are t84's verbatim.
    //
    // Scale shape: t84's with the broadcast bound made unconditional —
    // LM tables partial-aggregate to ≤ 4096 rows each; the corpus-wide
    // scoring scan joins three broadcast maps and one 1-row total; the
    // single wide exchange carries (doc_id, 3 longs) partials.
    "t86_bigram_surprisal_hashed" -> QueryDef(
      (spark, dir) => {
        val bg = withWords(t(spark, dir, "documents"))
          .select(col("doc_id"), col("source"),
            explode(expr("word_bigrams(words)")).as("b"))
          .select(col("doc_id"), col("source"),
            substring(md5(col("b")), 1, 3).as("hb"),
            substring(md5(substring_index(col("b"), " ", 1)), 1, 3).as("hw1"),
            substring(md5(substring_index(col("b"), " ", -1)), 1, 3).as("hw2"))
        val lmSrc = bg.filter(col("source") === "src0")
        val lmBg = lmSrc.groupBy("hb").agg(count(lit(1)).as("cbg"))
        val lmCtx = lmSrc.groupBy("hw1").agg(count(lit(1)).as("cctx"))
        val lmUni = withWords(t(spark, dir, "documents"))
          .filter(col("source") === "src0")
          .select(explode(col("words")).as("w"))
          .groupBy(substring(md5(col("w")), 1, 3).as("hw"))
          .agg(count(lit(1)).as("cnt"))
        val tot = lmUni.agg(sum("cnt").cast("long").as("t_lm"))
        bg
          .join(broadcast(lmBg), Seq("hb"), "left")
          .join(broadcast(lmCtx), Seq("hw1"), "left")
          .join(broadcast(lmUni), col("hw2") === col("hw"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("seen", col("cbg").isNotNull && col("cctx").isNotNull)
          .withColumn("bits",
            when(col("seen"), length(bin(expr("cctx div cbg"))).cast("long"))
              .otherwise(length(bin(
                expr("t_lm div (coalesce(cnt, CAST(0 AS BIGINT)) + 1)")))
                .cast("long") + 1L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("seen"), 0L).otherwise(1L)).as("n_backoff"),
            sum("bits").as("bits_total"))
          .withColumn("bits_per_bigram",
            col("bits_total").cast("double") / col("n_bigrams").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source, string_split(text, ' ') AS words
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, source,
             |    substr(md5(b), 1, 3) AS hb,
             |    substr(md5(split_part(b, ' ', 1)), 1, 3) AS hw1,
             |    substr(md5(split_part(b, ' ', -1)), 1, 3) AS hw2
             |  FROM (
             |    SELECT doc_id, source,
             |      unnest(list_transform(range(1, len(words)),
             |        i -> array_to_string(words[i:i+1], ' '))) AS b
             |    FROM w) raw),
             |lmbg AS (
             |  SELECT hb, COUNT(*) AS cbg FROM bg
             |  WHERE source = 'src0' GROUP BY hb),
             |lmctx AS (
             |  SELECT hw1, COUNT(*) AS cctx FROM bg
             |  WHERE source = 'src0' GROUP BY hw1),
             |lmuni AS (
             |  SELECT substr(md5(u.w), 1, 3) AS hw, COUNT(*) AS cnt FROM
             |    (SELECT unnest(words) AS w FROM w WHERE source = 'src0') u
             |  GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_lm FROM lmuni),
             |scored AS (
             |  SELECT g.doc_id,
             |    CASE WHEN lmbg.cbg IS NOT NULL AND c.cctx IS NOT NULL
             |      THEN 0 ELSE 1 END AS backoff,
             |    CASE WHEN lmbg.cbg IS NOT NULL AND c.cctx IS NOT NULL
             |      THEN length(format('{:b}', c.cctx // lmbg.cbg))
             |      ELSE length(format('{:b}',
             |        t.t_lm // (COALESCE(u.cnt, 0) + 1))) + 1
             |    END AS bits
             |  FROM bg g
             |  LEFT JOIN lmbg ON g.hb = lmbg.hb
             |  LEFT JOIN lmctx c ON g.hw1 = c.hw1
             |  LEFT JOIN lmuni u ON g.hw2 = u.hw
             |  , tot t)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM(backoff) AS BIGINT) AS n_backoff,
             |  CAST(SUM(bits) AS BIGINT) AS bits_total,
             |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |    AS bits_per_bigram
             |FROM scored GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------- t87
    // MULTI-ROUND BPE TRAINER — t53 iterated: 8 rounds of count-top-pair
    // → merge-everywhere over the collapsed word vocabulary, producing a
    // real merges list (the actual artifact a BPE tokenizer trainer
    // emits; t53 is exactly round 1's count step). Merge application is
    // real BPE's left-to-right non-overlapping rule ([[bpeMerge]]); the
    // DuckDB oracle spells each round as windows in 8 chained CTE blocks.
    // Ties break (count DESC, pair ASC) in UTF-8 byte order in both
    // engines; counts are exact BIGINTs.
    //
    // Scale shape: the corpus is scanned ONCE (t53's vocabulary
    // collapse — the only corpus-sized exchange, carrying bare words);
    // the collected vocabulary runs all 8 rounds on the driver
    // ([[bpeRounds]]), so no round costs a Spark job. Precondition: the
    // distinct-word vocabulary fits in driver memory.
    "t87_bpe_trainer" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val (_, merges) = bpeRounds(spark, dir, 8)
        merges.toDF("round", "a", "b", "n_occ")
          .select(col("round"), col("a"), col("b"),
            concat(col("a"), col("b")).as("merged"), col("n_occ"))
          .orderBy("round")
      },
      Some(bpeOracle(8))),

    // ----------------------------------------------------------------- t90
    // EXACT length percentiles per source (p50/p90/p99 of n_chars) — the
    // distribution-shift dashboard row every ingest pipeline watches: a
    // jumping p99 means a source started shipping concatenated pages, a
    // collapsing p50 means truncation upstream. t61 buckets lengths into
    // histogram BINS; this reports exact order statistics, defined by
    // ONE integer rule in both engines (smallest length whose cumulative
    // count × 100 ≥ N × total — quantile_disc's discrete semantics,
    // spelled explicitly so neither engine's builtin interpolation can
    // diverge).
    //
    // Scale shape: the corpus collapses to a (source, n_chars) HISTOGRAM
    // in one map-side-combinable agg — the only corpus-sized input; the
    // cumulative window runs per source over that histogram frame
    // (≤ distinct lengths per source — the bounded-window rule), and the
    // percentile pick is a tiny conditional-min agg. A naive
    // percentile_approx / sort-based exact would either approximate or
    // drag each source through one sorting task.
    "t90_length_percentiles" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hist = t(spark, dir, "documents")
          .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        val cumW = Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val totW = Window.partitionBy("source")
        val cum = hist
          .withColumn("cum", sum("c").over(cumW))
          .withColumn("n", sum("c").over(totW))
        def pick(pct: Int) = min(when(
          col("cum") * 100 >= col("n") * pct, col("n_chars")))
        cum.groupBy("source").agg(
            max("n").as("n_docs"),
            pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
          .orderBy("source")
      },
      Some("""WITH hist AS (
             |  SELECT source, n_chars, COUNT(*) AS c FROM documents
             |  GROUP BY source, n_chars),
             |cum AS (
             |  SELECT source, n_chars,
             |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    SUM(c) OVER (PARTITION BY source) AS n
             |  FROM hist)
             |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
             |  MIN(CASE WHEN cum * 100 >= n * 50 THEN n_chars END) AS p50,
             |  MIN(CASE WHEN cum * 100 >= n * 90 THEN n_chars END) AS p90,
             |  MIN(CASE WHEN cum * 100 >= n * 99 THEN n_chars END) AS p99
             |FROM cum GROUP BY source ORDER BY source""".stripMargin)),

    // ----------------------------------------------------------------- t81
    // CLUSTER-SAFE train/val/test split: t46's 98/1/1 md5 gate applied
    // to the NEAR-DUP CLUSTER id (t15's connected components over the
    // MinHash pairs) instead of the document id — every member of a
    // near-dup cluster inherits its cluster's split, so the leakage
    // t71 audits (near-duplicates straddling train and held-out) is
    // impossible BY CONSTRUCTION, not just measured afterwards. This is
    // the remedy op to t71's diagnostic; the invariant (no t02 pair
    // crosses splits) is pinned in QualitySketchSpec.
    //
    // Scale shape: inherits t15's component machinery (digest-keyed
    // band joins, O(diameter) propagation with the O(log n) contraction
    // fallback, localCheckpoint per round); the gate itself is a pure
    // map on the |docs|-row label frame and the final join keys on
    // doc_id. No new wide shuffles beyond the clustering it reuses.
    "t81_cluster_safe_split" -> QueryDef(
      (spark, dir) => {
        val docs = t(spark, dir, "documents").select("doc_id")
        val labels = graft.operators.Components.connected(
          docs, TrainingData.minhashPairs(spark, dir))
        labels
          .select(col("doc_id"), col("label").as("cluster_id"))
          .withColumn("bucket", expr(
            "CAST(conv(substr(md5(CAST(concat('t81|', CAST(cluster_id AS STRING)) AS BINARY)), 1, 4), 16, 10) AS INT) % 100"))
          .withColumn("split",
            when(col("bucket") < 98, "train")
              .when(col("bucket") === 98, "validation")
              .otherwise("test"))
          .select("doc_id", "cluster_id", "split")
          .orderBy("doc_id")
      },
      Some {
        val hb = (1 to 4).map { i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
        }.mkString(" + ")
        s"""WITH RECURSIVE ${TrainingData.minhashPairsDuck},
           |${TrainingData.pairEdgesDuck("pairs")},
           |${TrainingData.componentsDuck},
           |lab AS (
           |  SELECT d.doc_id,
           |    LEAST(d.doc_id, COALESCE(c.min_reach, d.doc_id)) AS cluster_id
           |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
           |gated AS (
           |  SELECT doc_id, cluster_id,
           |    CAST($hb AS INTEGER) % 100 AS bucket
           |  FROM (SELECT doc_id, cluster_id,
           |          md5('t81|' || CAST(cluster_id AS VARCHAR)) AS h
           |        FROM lab))
           |SELECT doc_id, cluster_id,
           |  CASE WHEN bucket < 98 THEN 'train'
           |       WHEN bucket = 98 THEN 'validation'
           |       ELSE 'test' END AS split
           |FROM gated ORDER BY doc_id""".stripMargin
      }),

    // ----------------------------------------------------------------- t93
    // SESSION-SEQUENCE CORPUS — the actual behavioral training
    // sequences a next-action model consumes: per (user, session) under
    // q21's EXACT 30-min-gap rule, the ordered event-type string
    // (head-capped at 50 events), event count, and exact µs duration.
    // q21 reports session STATS, t60 the corpus-wide transition table;
    // this emits the per-session token sequences themselves — the
    // "documents" of a clickstream corpus.
    //
    // Scale shape: q21's partitioning law verbatim — every window keys
    // on user_id (never global), the final agg on (user, session). The
    // 50-cap is enforced INSIDE the aggregation (collect_list of a
    // conditional skips nulls; the oracle's FILTER (WHERE wn <= 50) is
    // the same rule), so no session can materialize an unbounded
    // sequence string: per-group state is ≤ 50 structs no matter how
    // degenerate the session. Order inside a session is total —
    // (us, event_id) — via array_sort on the collected structs, exactly
    // the oracle's ORDER BY, so the hash is placement-independent.
    "t93_session_sequences" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sessioned = Relational.sessionized(t(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"))).drop("ts")
        // Within-session rank WITHOUT a second sort (r21): a window
        // keyed (user_id, session_seq) forces a full re-sort of the
        // corpus — Catalyst cannot prove that (user_id, us, event_id)
        // order, which the sessionizer's window already established, IS
        // (user_id, session_seq, us, event_id) order (session_seq is
        // monotone in the event order by construction). So rank on the
        // sessionizer's OWN window spec instead: wn = per-user event
        // index minus the running index of the last session start + 1 —
        // identical to ROW_NUMBER per (user, session) because events
        // arrive session-contiguous in that order. The plan drops from
        // exchange→sort→3 windows→SORT→window to one exchange + one
        // sort; the grouped agg then rides the user_id partitioning.
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val run = w.rowsBetween(Window.unboundedPreceding, 0)
        sessioned
          .withColumn("idx", row_number().over(w))
          .withColumn("sidx", max(when(
            lag("session_seq", 1).over(w).isNull ||
              col("session_seq") =!= lag("session_seq", 1).over(w),
            col("idx"))).over(run))
          .withColumn("wn", col("idx") - col("sidx") + 1)
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
            (max("us") - min("us")).as("dur_us"),
            concat_ws(">", expr("transform(array_sort(" +
              "collect_list(CASE WHEN wn <= 50 THEN " +
              "struct(us, event_id, event_type) END)), x -> x.event_type)"))
              .as("seq"))
          .orderBy("user_id", "session_seq")
      },
      Some(s"""WITH ${Relational.sessionizedDuck(Seq("event_type"))},
             |n AS (
             |  SELECT *, ROW_NUMBER() OVER (
             |      PARTITION BY user_id, session_seq
             |      ORDER BY us, event_id) AS wn
             |  FROM s)
             |SELECT user_id, session_seq, COUNT(*) AS n_events,
             |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us,
             |  COALESCE(string_agg(event_type, '>' ORDER BY us, event_id)
             |    FILTER (WHERE wn <= 50), '') AS seq
             |FROM n GROUP BY user_id, session_seq
             |ORDER BY user_id, session_seq""".stripMargin)),

    // ----------------------------------------------------------------- t96
    // TEMPORAL LAST-SESSION HOLDOUT — the split rule behavioral models
    // REQUIRE (random splits leak the future into training): each
    // user's chronologically LAST session is the test set, everything
    // earlier trains. Single-session users stay fully in train — you
    // cannot hold out a user's only session and still have them in the
    // model. Built on q21's exact session rule (third consumer of
    // [[Relational.sessionized]]); the report is the per-split census a
    // training run logs before touching the data.
    //
    // Scale shape: q21's law — sessions aggregate on (user, session)
    // after user-keyed windows; the per-user max rides the SAME
    // user-keyed partitioning (a window over the session frame, not a
    // second corpus pass); the final census is a 2-key
    // map-side-combinable agg. n_users expands to (split, user) rows
    // bounded by the session count.
    "t96_temporal_split" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sessions = Relational.sessionized(t(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts")))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"))
        val mx = Window.partitionBy("user_id")
        sessions
          .withColumn("max_seq", max("session_seq").over(mx))
          .withColumn("split",
            when(col("session_seq") === col("max_seq") &&
              col("max_seq") >= 2, "test").otherwise("train"))
          .groupBy("split")
          .agg(countDistinct("user_id").as("n_users"),
            count(lit(1)).as("n_sessions"),
            sum("n_events").as("n_events"))
          .orderBy("split")
      },
      Some(s"""WITH ${Relational.sessionizedDuck(Nil)},
             |sess AS (
             |  SELECT user_id, session_seq, COUNT(*) AS n_events
             |  FROM s GROUP BY user_id, session_seq),
             |marked AS (
             |  SELECT *, MAX(session_seq) OVER (PARTITION BY user_id)
             |    AS max_seq
             |  FROM sess),
             |sp AS (
             |  SELECT user_id, n_events,
             |    CASE WHEN session_seq = max_seq AND max_seq >= 2
             |      THEN 'test' ELSE 'train' END AS split
             |  FROM marked)
             |SELECT split, COUNT(DISTINCT user_id) AS n_users,
             |  COUNT(*) AS n_sessions,
             |  CAST(SUM(n_events) AS BIGINT) AS n_events
             |FROM sp GROUP BY split ORDER BY split""".stripMargin))
  )
}
