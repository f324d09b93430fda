package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension.
  *
  * The reference is strictly batch (SURVEY §2.10) — its "streaming" is
  * block-wise ClickHouse transfer and HTTP file streaming. This module is
  * the Spark-native upgrade: the same event tables, processed as unbounded
  * streams with watermarks, windowed aggregation, and custom session
  * state. At 100 TB/day of events this replaces re-running batch pipelines
  * over growing inputs with incremental processing — per-key state lives
  * in the executor state store, partitioned by `groupByKey`, so it scales
  * horizontally with the cluster.
  */
object Streams {

  /** Event row shape of the `events` fixture (TESTDATA.md). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class Session(user_id: Long, n_events: Int, total_value: Double,
      started: java.sql.Timestamp, ended: java.sql.Timestamp)

  /** Tumbling-window aggregation with a watermark: counts + value sums per
    * (window, event_type). Late rows beyond `watermark` are dropped and
    * their window state evicted — bounded memory on an unbounded stream. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Streaming twin of t97's quantile-sketch BUILD: per-(source, bucket)
    * counters over an unbounded document stream, bucketed by the same
    * deterministic HdrHistogram-style log rule
    * ([[graft.queries.TrainingData.hdrIdxExpr]]). The sketch's
    * mergeability is exactly what makes it streamable — each micro-batch
    * merges by counter addition, so the running aggregation state IS the
    * sketch, bounded at |sources| × ~170 rows no matter how much data
    * streams through (no watermark needed: the state can't grow).
    * Complete-mode emissions at any instant equal the batch sketch over
    * everything seen so far — pinned bit-for-bit in StreamingSpec;
    * quantile answers follow from the cumulative walk exactly as in
    * batch t97. */
  def streamingLengthSketch(docs: DataFrame, sourceCol: String,
      lenCol: String): DataFrame =
    docs
      .select(col(sourceCol).as("source"), col(lenCol).cast("long").as("v"))
      .withColumn("idx", expr(graft.queries.TrainingData.hdrIdxExpr))
      .groupBy("source", "idx")
      .agg(count(lit(1)).as("c"))

  /** One event of a session's capped leading sequence (t93's corpus
    * unit), kept orderable by the batch twin's (us, event_id) total
    * order. */
  final case class SeqEv(us: Long, eventId: Long, eventType: String)

  /** [[Session]] plus t93's capped event-type sequence — what
    * [[sessionizeSeq]] emits at session close. */
  final case class SessionSeq(user_id: Long, n_events: Int,
      total_value: Double, started: java.sql.Timestamp,
      ended: java.sql.Timestamp, seq: String)

  /** Session state held per user between micro-batches (public: the state
    * store encoder codegen needs accessible accessors). Value totals
    * accumulate as fixed-point 1e-4 longs (the q21 batch twin's recipe),
    * so the emitted double is independent of arrival/batch order. `head`
    * is the capped leading (us, event_id)-ordered event buffer backing
    * t93's sequences: ≤ cap entries per key, so state stays bounded under
    * degenerate never-gapping sessions — the same reason batch t93
    * enforces its 50-cap INSIDE the aggregation. */
  final case class SessionState(nEvents: Int, totalFp: Long,
      startedUs: Long, lastUs: Long, head: Seq[SeqEv])

  /** Timestamp → epoch MICROseconds (getTime alone is ms-truncated; the
    * events fixture carries sub-ms precision and the batch twin compares
    * gaps in µs — ms math would merge sessions split by a gap of
    * 30 min + sub-ms). */
  private def micros(t: java.sql.Timestamp): Long =
    // getNanos covers the full sub-second part (incl. the ms getTime
    // already counts), so rebuild from whole seconds + nanos
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom stateful sessionization via flatMapGroupsWithState: a session
    * closes when a later EVENT-TIME arrival is more than `gapMs` after the
    * session's last event, and is emitted once, complete. State is per-key
    * in the executor state store (hash-partitioned by user), so it scales
    * with the cluster. This is the §2.10 "custom state" surface the
    * reference cannot express at all.
    *
    * Semantically the twin of the batch `q21_sessionize` (same µs gap
    * math, same (ts, event_id) tie-break, same fixed-point value sum) —
    * StreamingSpec pins the equivalence on the events fixture. The
    * equivalence claim is scoped to per-key IN-ORDER delivery across
    * micro-batches (what watermark-ordered replay provides). Bounded
    * out-of-order grace: a late cross-batch arrival inside
    * [started − gap, frontier + gap] merges into the open session, and
    * the frontier/start only ever widen (max/min below — a stale
    * timestamp cannot rewind the frontier and split the session
    * spuriously); an arrival older than started − gap (as known so far)
    * starts a STALE run. Stale runs are grouped by the SAME gap rule
    * (the batch is already sorted here, so the grouping needs no
    * retraction) and resolved against the open session once its start is
    * final for the batch: a run whose end reaches within `gap` of the
    * (possibly in-batch-widened) session start FOLDS INTO the session —
    * exactly batch q21's grouping, and still retraction-free because the
    * session hasn't been emitted — while a non-bridging run closes on
    * its own. What append mode cannot express is a stale run that batch
    * would merge into an ALREADY-EMITTED session (that requires
    * retracting output) — batch q21 re-sorts history and is the
    * authority for such replays.
    *
    * Event-time gap detection (not wall-clock timeouts) keeps replays
    * deterministic; an idle key's open session stays in state until its
    * next event — production deployments bound that with a TTL config on
    * the state store. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)(
      implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    sessionizeSeq(events, gapMs).map(x =>
      Session(x.user_id, x.n_events, x.total_value, x.started, x.ended))
  }

  /** [[sessionize]] with t93's behavioral-corpus payload: each closed
    * session also carries its '>'-joined event-type sequence, capped to
    * the first `seqCap` events in (event-time, event_id) order — the
    * streaming twin of batch `t93_session_sequences` (StreamingSpec pins
    * stream ≡ batch on the fixture, session_seq assigned by start
    * order). The cap bounds BOTH the state row (≤ seqCap small structs
    * per open session) and the per-event upkeep (an insertion into a
    * ≤ seqCap buffer); merges between a stale run and the open session
    * concatenate two capped buffers and re-cap — all O(seqCap). */
  def sessionizeSeq(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      seqCap: Int = 50)(
      implicit spark: SparkSession): Dataset[SessionSeq] = {
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          def fp(v: Double): Long = math.floor(v * 1e4 + 0.5).toLong
          // `a` is always (us, eventId)-sorted (construction invariant);
          // once it is full, the common in-order case — every incoming
          // event later than the kept head — is a no-op instead of a
          // re-sort, so steady-state per-event upkeep is O(cap) compares
          // only while the buffer is filling
          def capped(a: Seq[SeqEv], b: Seq[SeqEv]): Seq[SeqEv] = {
            def key(e: SeqEv) = (e.us, e.eventId)
            if (a.lengthCompare(seqCap) >= 0 &&
              b.forall(e => Ordering[(Long, Long)].gteq(key(e), key(a.last)))) a
            else (a ++ b).sortBy(key).take(seqCap)
          }
          def close(s: SessionState): SessionSeq =
            SessionSeq(userId, s.nEvents, s.totalFp / 1e4,
              toTs(s.startedUs), toTs(s.lastUs),
              s.head.map(_.eventType).mkString(">"))
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var cur = state.getOption
          // accumulator for the current run of STALE arrivals (older than
          // started - gap): the batch is sorted, so stale events form a
          // contiguous prefix relative to the carried state and can be
          // grouped by the same gap rule without re-sorting history
          var stale: Option[SessionState] = None
          val out = Seq.newBuilder[SessionSeq]
          // resolve the pending stale run against the open session the
          // moment the session's start is FINAL (its emission, or batch
          // end): in-gap batch events may have widened started downward
          // (math.min below) into gap-range of the run — then the run
          // BELONGS to the session (batch q21 would merge them) and
          // nothing has been emitted yet, so merging needs no
          // retraction. Otherwise the run is provably separate: earlier
          // runs were flushed only when the NEXT run sat > gap beyond
          // them, and started never drops below (original started - gap),
          // so no flushed run can bridge.
          def resolveStale(s: SessionState): SessionState = {
            val merged = stale match {
              case Some(st) if st.lastUs + gapUs >= s.startedUs =>
                SessionState(s.nEvents + st.nEvents,
                  s.totalFp + st.totalFp, st.startedUs, s.lastUs,
                  capped(st.head, s.head))
              case Some(st) => out += close(st); s
              case None => s
            }
            stale = None
            merged
          }
          sorted.foreach { e =>
            val us = micros(e.ts)
            cur match {
              case Some(s) if us < s.startedUs - gapUs =>
                // stale arrival older than the open session's own gap
                // window so far: group the run — stale events within gap
                // of EACH OTHER merge into one closed session (batch
                // q21's grouping of that region) and a gap inside the
                // run closes one and opens the next
                stale match {
                  case Some(st) if us <= st.lastUs + gapUs =>
                    stale = Some(SessionState(st.nEvents + 1,
                      st.totalFp + fp(e.value),
                      st.startedUs, math.max(st.lastUs, us),
                      capped(st.head, Seq(SeqEv(us, e.event_id, e.event_type)))))
                  case _ =>
                    stale.foreach(out += close(_))
                    stale = Some(SessionState(1, fp(e.value), us, us,
                  Seq(SeqEv(us, e.event_id, e.event_type))))
                }
              case Some(s) if us > s.lastUs + gapUs =>
                // beyond the frontier's gap: the open session is proven
                // closed — resolve any stale run against its final
                // start, emit, open a new one
                out += close(resolveStale(s))
                cur = Some(SessionState(1, fp(e.value), us, us,
                  Seq(SeqEv(us, e.event_id, e.event_type))))
              case Some(s) =>
                // within [started - gap, last + gap]: merge; frontier
                // and start only widen, so a late in-gap arrival cannot
                // rewind the frontier and split the session
                cur = Some(SessionState(s.nEvents + 1,
                  s.totalFp + fp(e.value),
                  math.min(s.startedUs, us), math.max(s.lastUs, us),
                  capped(s.head, Seq(SeqEv(us, e.event_id, e.event_type)))))
              case None =>
                cur = Some(SessionState(1, fp(e.value), us, us,
                  Seq(SeqEv(us, e.event_id, e.event_type))))
            }
          }
          // batch end: the open session's start is final for this batch —
          // a bridging stale run folds into the still-open session (state
          // only, no emission); a non-bridging one is emitted closed by
          // resolveStale. (stale requires cur, so cur=None ⇒ stale=None.)
          cur = cur.map(resolveStale)
          cur.foreach(state.update)
          out.result().iterator
        })
  }

  /** Streaming RATE-ANOMALY flagging — the live twin of the batch
    * `t68_event_rate_anomaly`: hourly windowed counts per event type,
    * flagged when they sit more than 2σ from the type's reference rate.
    * The (mean, std) reference comes from the batch pass over history
    * (the standard deployment split: heavy moments offline, cheap
    * z-probe online) as a ≤ |types|-row broadcast frame, so the stream
    * side adds NO state beyond windowedCounts' watermark-bounded
    * windows, and flagging is a pure map over each emitted window. */
  def rateAnomaly(events: DataFrame, thresholds: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    windowedCounts(events, window_, watermark)
      .join(broadcast(thresholds), "event_type")
      .withColumn("z", (col("n").cast("double") - col("mean")) / col("std"))
      .filter(col("z") > 2.0 || col("z") < -2.0)
      .select(col("event_type"), col("window"), col("n"),
        col("mean"), col("std"), col("z"))

  /** Ingest-time exact dedup on a content digest: duplicates arriving
    * within the watermark of the first copy are dropped; digest state is
    * evicted once the watermark passes (bounded memory — a plain
    * dropDuplicates would keep every digest forever). The streaming twin
    * of the batch t01 dedup: same md5-digest key, so only 16-byte hashes
    * enter the state store, never document bodies. */
  def streamingDedup(docs: DataFrame, timeCol: String, contentCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__digest", md5(col(contentCol).cast("binary")))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Ingest-time DECONTAMINATION, small-eval fast path: drop arriving
    * documents that share any 13-gram with a static eval corpus — t54's
    * ANY-hit rule applied at the door instead of in a batch sweep, so
    * contaminated documents never land in the store at all. The eval
    * corpus collapses ONCE to a driver-collected set of 13-gram
    * xxhash64s (benchmark-sized — the same bounded-broadcast
    * justification as t19/t54) and rides a broadcast variable into a
    * pure map-side filter: no join, no state store, each micro-batch
    * just probes its documents' gram hashes against the set. The
    * ANY-hit check is a Scala predicate rather than a join because
    * doc-level anti-join semantics over exploded grams would need a
    * streaming aggregation; membership in a broadcast set has no native
    * expression form, and the per-row cost is O(grams) with early exit.
    *
    * For an eval side too large to collect, use
    * [[streamingDecontaminateBloom]] — the t43-shaped Bloom-prefilter +
    * exact-verify twin (pinned equal to this path in StreamingSpec).
    *
    * Same 64-bit collision trade as t54: a collision drops one clean
    * document, never admits a contaminated one — at ingest, the false
    * positive lands on the safe side. Works identically on batch
    * frames (used by StreamingSpec to pin stream ≡ batch). */
  def streamingDecontaminate(docs: DataFrame, contentCol: String,
      evalDocs: DataFrame, evalContentCol: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.ensure(spark)
    val evalHashes = evalDocs
      .select(explode(expr(
        s"word_ngrams(split($evalContentCol, ' '), 13)")).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
      .collect().map(_.getLong(0)).toSet
    val bset = spark.sparkContext.broadcast(evalHashes)
    val clean = udf { ghs: Seq[Long] =>
      ghs == null || !ghs.exists(bset.value.contains)
    }
    docs
      .withColumn("__ghs", expr(
        s"transform(word_ngrams(split($contentCol, ' '), 13), x -> xxhash64(x))"))
      .filter(clean(col("__ghs")))
      .drop("__ghs")
  }

  /** Eval-side index for CORPUS-SCALE decontamination: the distinct
    * 13-gram xxhash64 table (kept DISTRIBUTED — this is the side too big
    * to collect) plus a Bloom filter over those hashes built with
    * Spark's native `bloom_filter_agg` (t43's recipe: 8 bits/item ≈ 2%
    * FP). The gram table is localCheckpointed so the per-micro-batch
    * verify joins re-read materialized blocks instead of re-shingling
    * the eval corpus every batch. Only the ~`expectedItems` BYTES of the
    * Bloom sketch ever reach the driver — never the grams. */
  def evalGramIndex(evalDocs: DataFrame, evalContentCol: String,
      expectedItems: Long = 1000000L): (DataFrame, Array[Byte]) = {
    val spark = evalDocs.sparkSession
    graft.functions.GraftFunctions.ensure(spark)
    val grams = evalDocs
      .select(explode(expr(
        s"word_ngrams(split($evalContentCol, ' '), 13)")).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
      .localCheckpoint()
    val bloom = grams.agg(expr(
      s"bloom_filter_agg(gh, CAST($expectedItems AS BIGINT), " +
        s"CAST(${expectedItems * 8} AS BIGINT))"))
      .head().getAs[Array[Byte]](0)
    (grams, bloom)
  }

  /** One micro-batch of t43-shaped decontamination: the Bloom sketch
    * prunes MAP-SIDE (each document's gram hashes probe the sketch
    * inside the scan — no shuffle, no text leaves the stage), and only
    * Bloom-POSITIVE (id, gram) rows enter the exact verify — a
    * left-semi hash join against the distributed eval gram table, whose
    * hit ids anti-join the batch. Bloom false positives die in the
    * verify join; false negatives are impossible; so the kept set is
    * EXACTLY [[streamingDecontaminate]]'s ANY-hit rule at any eval
    * scale. The sketch rides a BINARY LITERAL (might_contain's other
    * accepted constant shape, next to t43's scalar subquery) — no temp
    * views, so this works unchanged on foreachBatch's cloned session,
    * where views registered from the host session's frames would not
    * resolve. */
  def decontaminateBatchBloom(batch: DataFrame, idCol: String,
      contentCol: String, evalGrams: DataFrame,
      bloom: Array[Byte]): DataFrame = {
    graft.functions.GraftFunctions.ensure(batch.sparkSession)
    val hits = batch
      .select(col(idCol), explode(expr(
        s"transform(word_ngrams(split($contentCol, ' '), 13), " +
          "x -> xxhash64(x))")).as("__gh"))
      .filter(call_function("might_contain", lit(bloom), col("__gh")))
      .join(evalGrams.withColumnRenamed("gh", "__gh"), Seq("__gh"), "left_semi")
      .select(idCol).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
  }

  /** Ingest-time decontamination for CORPUS-SCALE eval sets — the
    * streaming face of t43, replacing [[streamingDecontaminate]]'s
    * collected broadcast set with the Bloom-prefilter + exact-verify
    * dataflow when the eval side is too large to collect. foreachBatch
    * (not a pure map) is the deployment shape here for the same reason
    * as [[incrementalDedup]]: the exact verify is a doc-level anti join
    * through the distributed eval gram table, which belongs in batch
    * joins per micro-batch, not in the per-key streaming state store.
    * Survivors land idempotently in `outPath/batch=N` (replays
    * overwrite). The eval index builds ONCE at query start. */
  def streamingDecontaminateBloom(docs: DataFrame, idCol: String,
      contentCol: String, evalDocs: DataFrame, evalContentCol: String,
      outPath: String, checkpoint: String,
      expectedItems: Long = 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (grams, bloom) = evalGramIndex(evalDocs, evalContentCol, expectedItems)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        decontaminateBatchBloom(batch, idCol, contentCol, grams, bloom)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()
  }

  /** Probe one micro-batch of documents (columns ≥ doc_id, text) against
    * the persistent dedup index under `statePath`, returning only the
    * rows that are NEITHER exact dups (content md5 seen before) NOR
    * near-dups (any MinHash band bucket seen before) — t36's incremental
    * cross-corpus gate, applied to an arriving batch. Pure function of
    * (batch, index on disk): it does NOT extend the index — the sink
    * callback does, after the probe, so in-batch duplicates of each
    * other pass together exactly as t36's new-vs-new docs do.
    *
    * Only index partitions with `batch < batchId` are probed. This is
    * the replay guard: when Structured Streaming re-executes batch N
    * after a crash that landed BETWEEN extendIndex(N) and the checkpoint
    * commit, the index already contains batch N's own digests — probing
    * them would flag every replayed document as a duplicate of itself
    * and overwrite out/batch=N with an empty frame. Excluding the
    * current (and any torn later) partition makes the probe a function
    * of the PRE-N index, so a replay reproduces the original output
    * bit-for-bit. (It equally excludes partially-committed files from
    * the crashed attempt itself.)
    *
    * The index is two digest tables laid out as batch=N partition dirs
    * (16-byte content hashes; (band, bucket) pairs) — only digests are
    * ever stored or shuffled, never text. At corpus scale this is the
    * pre-built band index t36's scaladoc names; the probes are
    * left-anti hash joins on digest keys.
    */
  def dedupBatchAgainstIndex(batch: DataFrame, statePath: String,
      batchId: Long, bands: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.ensure(spark)
    def upTo(ix: Option[DataFrame]): Option[DataFrame] =
      ix.map(_.filter(col("batch") < batchId))
    (upTo(readIndex(spark, s"$statePath/hashes")),
      upTo(readIndex(spark, s"$statePath/bands"))) match {
      case (None, None) => batch // empty index: everything is novel
      case (oldH, oldB) =>
        // Index-format guard (r21 advice): r21 narrowed the band bucket
        // from a 32-char hex string to its 16-byte binary (same md5 —
        // injective, so every equality is unchanged) and the persisted
        // index inherits the column type. Probing an index written by a
        // pre-binary version would join string-typed stored buckets
        // against binary probe buckets: never equal, every near-dup
        // silently missed. The type is in the parquet footer, so this is
        // a plan-time check with no job cost — fail fast instead.
        oldB.foreach { b =>
          val t = b.schema("bucket").dataType
          require(t == org.apache.spark.sql.types.BinaryType,
            s"dedup index at $statePath/bands stores `bucket` as $t, but " +
              "this version probes 16-byte BINARY buckets (hex buckets " +
              "were written by pre-r21 builds). Equality across the two " +
              "spellings never holds, so probing would silently miss " +
              "every near-dup. Rebuild the index under a fresh statePath " +
              "(or probe it with the version that wrote it).")
        }
        val withH = batch.withColumn("__h", md5(col("text").cast("binary")))
        val exactKept = oldH match {
          case Some(h) =>
            withH.join(h.select("h").distinct()
              .withColumnRenamed("h", "__h"), Seq("__h"), "left_anti")
          case None => withH
        }
        oldB match {
          case Some(b) =>
            // a caller that also extends the index may pass the FULL
            // batch's bands, computed (and persisted) once: hit ids not
            // in exactKept anti-join away as no-ops, so probing with the
            // superset is semantically identical to banding exactKept —
            // and saves a second shingle+minhash pass per micro-batch
            val hitIds = bands
              .getOrElse(graft.queries.TrainingData.minhashBands(exactKept))
              .join(b.select("band", "bucket").distinct(),
                Seq("band", "bucket"), "left_semi")
              .select("doc_id").distinct()
            exactKept.join(hitIds, Seq("doc_id"), "left_anti").drop("__h")
          case None => exactKept.drop("__h")
        }
    }
  }

  /** The index side of one micro-batch: append every ARRIVING document's
    * digests (kept or dropped — once seen, any later copy is a dup) as
    * an idempotent batch=N partition. A Structured Streaming retry of
    * batch N overwrites the same directory, so at-least-once foreachBatch
    * delivery still yields an exactly-once index (same guard as a Delta
    * txn would give; partition-dir overwrite is its zero-dependency
    * parquet spelling). */
  def extendIndex(batch: DataFrame, statePath: String, batchId: Long,
      bands: Option[DataFrame] = None): Unit = {
    // minhashBands parses graft-function SQL (minhash8); ensure here
    // too — this is a public API and must not depend on the probe
    // having run first on this session
    graft.functions.GraftFunctions.ensure(batch.sparkSession)
    // the two partitions are independent dirs and both idempotent
    // batch=N overwrites, so the writes OVERLAP (r16): the scheduler
    // interleaves the two small jobs instead of paying two full job
    // floors per micro-batch — ~0.4 s/batch at the p23 gate's scale
    inParallel(
      () => batch.select(md5(col("text").cast("binary")).as("h")).distinct()
        .write.mode("overwrite").parquet(s"$statePath/hashes/batch=$batchId"),
      () => bands.getOrElse(graft.queries.TrainingData.minhashBands(batch))
        .select("band", "bucket").distinct()
        .write.mode("overwrite").parquet(s"$statePath/bands/batch=$batchId"))
  }

  /** Run two independent Spark actions concurrently and await BOTH
    * (sessions are thread-safe; the jobs share the scheduler pools).
    * Both are always awaited — no orphan job can race a retry's
    * idempotent overwrite — and the first failure wins. */
  private def inParallel(a: () => Unit, b: () => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fa = Future(a()); val fb = Future(b())
    val ra = scala.util.Try(Await.result(fa, Duration.Inf))
    val rb = scala.util.Try(Await.result(fb, Duration.Inf))
    ra.get; rb.get
  }

  /** Ingest-time incremental near-dup gate — the STREAMING twin of the
    * batch t36 verdict (pinned equal on the fixture in StreamingSpec):
    * each micro-batch is probed against the accumulated index of every
    * previously seen document, survivors land in `outPath/batch=N`, and
    * the batch's own digests join the index for all later batches.
    *
    * foreachBatch (not a stateful operator) is the deployment shape
    * here: the dedup index of a growing corpus is unbounded by design —
    * it belongs in a persistent store probed with anti joins, not in
    * the per-key streaming state store a watermark must be able to
    * evict. Kept output and index increments are keyed by batch id, so
    * replays after failure overwrite rather than double. The index is
    * bound to its checkpoint by a run marker ([[ensureRunMarker]]), and
    * [[compactIndex]] consolidates committed per-batch partitions so
    * probe-side file listings don't grow one dir per micro-batch
    * forever. */
  def incrementalDedup(docs: DataFrame, statePath: String, outPath: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ensureRunMarker(batch.sparkSession, statePath, checkpoint)
        val b = batch.persist() // probed once, indexed once
        // bands computed ONCE per micro-batch and shared by the probe
        // and the index extension (each is its own action, so without
        // the persist the shingle+minhash pass would run per action)
        val bands = graft.queries.TrainingData.minhashBands(b).persist()
        try {
          dedupBatchAgainstIndex(b, statePath, batchId, Some(bands))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          extendIndex(b, statePath, batchId, Some(bands))
        } finally { bands.unpersist(); b.unpersist(); () }
      }
      .start()

  /** The replay guard (`batch < batchId`) and the exactly-once index
    * both assume `statePath` and the streaming CHECKPOINT live and die
    * together: if the checkpoint is deleted (or a different one
    * supplied) while statePath is retained, batch ids restart at 0 —
    * batch 0 would probe nothing, later batches would probe STALE
    * partitions from the previous run, and extendIndex would silently
    * overwrite them: wrong keeps/drops with no error. So the first
    * micro-batch stamps the checkpoint path into `statePath/_run_marker`
    * and every batch fails fast on a mismatch. Resuming the SAME
    * checkpoint matches and proceeds; pointing a new query at an old
    * index is the error this converts from silent corruption to a
    * message. Per-batch cost: one exists + one short read. */
  private def ensureRunMarker(spark: SparkSession, statePath: String,
      checkpoint: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$statePath/_run_marker")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val canonical = fs.makeQualified(
      new org.apache.hadoop.fs.Path(checkpoint)).toString
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val existing =
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      if (existing != canonical) sys.error(
        s"dedup index at $statePath was built under streaming checkpoint " +
          s"'$existing' but this query uses '$canonical'; the index's " +
          "batch-id replay guard is only valid with its original " +
          "checkpoint — use a fresh statePath (or restore the original " +
          "checkpoint) instead of silently reusing stale batch ids")
    } else {
      val out = fs.create(marker, false)
      try out.write(canonical.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Consolidate the dedup index's per-batch partitions: every partition
    * with `batch < uptoBatch` merges (distinct) into `batch=uptoBatch-1`,
    * bounding the probe-side file count for a long-lived stream (one
    * tiny batch=N dir per micro-batch forever, otherwise).
    *
    * SAFETY CONTRACT: `uptoBatch` must not exceed (last batch id
    * COMMITTED in the streaming checkpoint) + 1. Batches at or beyond
    * the commit frontier can still replay, and a replayed batch M must
    * see exactly the pre-M index — compaction folds older digests into
    * batch=uptoBatch-1, so that partition's id must be beyond replay.
    * ENFORCED, not trusted (r12 advice): when the index carries a
    * `_run_marker` (every index built through the streaming sink does —
    * ensureRunMarker stamps it on batch 0), the marker's checkpoint is
    * consulted and its commits log bounds `uptoBatch`; a too-high value
    * errors instead of corrupting future replays. Only a marker-less
    * index (hand-driven extendIndex, where there IS no checkpoint and
    * no replay) leaves batch-id discipline to the caller.
    * Run it inside foreachBatch (with the previous batch id) or while
    * the stream is STOPPED — never concurrently with itself, and never
    * beside a live probing stream: a probe's `spark.read.parquet` lists
    * the batch= dirs at plan time, so a concurrent maintenance-side
    * compaction deleting absorbed dirs mid-probe surfaces as
    * FileNotFoundException in the probe's tasks and TERMINATES the
    * streaming query (foreachBatch errors are not retried in place;
    * restart recovery is clean, but the crash is real).
    *
    * Crash-safe by construction — there is NO window where a digest is
    * invisible: (1) the consolidated distinct set lands in an
    * underscore-prefixed scratch dir (invisible to parquet listings);
    * (2) it is APPENDED into the target partition — old dirs still
    * present, worst case duplicate digests, which probes (distinct /
    * semi / anti joins) are insensitive to; (3) only then are the
    * absorbed batch dirs and the scratch removed. A crash at any point
    * leaves a probe-correct index and a re-run completes the cleanup. */
  def compactIndex(spark: SparkSession, statePath: String,
      uptoBatch: Long): Unit = {
    validateCompactionFrontier(spark, statePath, uptoBatch)
    // the two sub-indexes are independent dir trees with the same
    // crash-safety argument each; overlap them (r16) as extendIndex
    // overlaps its writes
    inParallel(
      () => compactIndexSub(spark, statePath, "hashes", uptoBatch),
      () => compactIndexSub(spark, statePath, "bands", uptoBatch))
  }

  /** Bound `uptoBatch` by the run-marker checkpoint's commit log (see
    * [[compactIndex]]'s safety contract). No-op for marker-less indexes. */
  private def validateCompactionFrontier(spark: SparkSession,
      statePath: String, uptoBatch: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(s"$statePath/_run_marker")
    val fs = marker.getFileSystem(conf)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val checkpoint =
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val commits = new org.apache.hadoop.fs.Path(s"$checkpoint/commits")
    // the checkpoint may live on a DIFFERENT filesystem/scheme than the
    // index (a qualified hdfs:// marker vs a file:// index would make
    // the index fs throw "Wrong FS") — resolve with the checkpoint's own
    val cfs = commits.getFileSystem(conf)
    // commit files are plain batch ids ("0", "1", …); in-flight temp
    // files and metadata (".tmp", "metadata") parse as None and drop out
    val lastCommitted =
      if (!cfs.exists(commits)) None
      else cfs.listStatus(commits).toSeq
        .flatMap(s => s.getPath.getName.toLongOption).maxOption
    val frontier = lastCommitted.map(_ + 1).getOrElse(0L)
    if (uptoBatch > frontier) sys.error(
      s"compactIndex(uptoBatch=$uptoBatch) exceeds the commit frontier " +
        s"$frontier of checkpoint '$checkpoint' (last committed batch: " +
        s"${lastCommitted.getOrElse(-1L)}): batches at or beyond the " +
        "frontier can still REPLAY, and a replayed batch must see the " +
        "pre-compaction index — pass at most last-committed + 1")
  }

  private def compactIndexSub(spark: SparkSession, statePath: String,
      sub: String, uptoBatch: Long): Unit = {
    val root = s"$statePath/$sub"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) {
      // clear stale scratch FIRST, unconditionally: a crash between the
      // absorbed-dir deletes and the scratch delete leaves below.length
      // == 1 on the re-run, which would skip the guarded body (and so
      // the cleanup) forever while a full digest copy sits orphaned
      fs.delete(new org.apache.hadoop.fs.Path(p, "_compact_tmp"), true)
      val below = fs.globStatus(new org.apache.hadoop.fs.Path(p, "batch=*"))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .filter(_ < uptoBatch).sorted
      // the merge TARGET must be a partition id the stream has actually
      // produced (the highest one below uptoBatch): folding digests into
      // a not-yet-reached id would hide them from every probe's
      // `batch < batchId` filter until the stream catches up
      if (below.length > 1) {
        val target = below.last
        val tmp = new org.apache.hadoop.fs.Path(p, "_compact_tmp")
        spark.read.parquet(root)
          .filter(col("batch") < target).drop("batch").distinct()
          .write.mode("overwrite").parquet(tmp.toString)
        spark.read.parquet(tmp.toString)
          .write.mode("append").parquet(s"$root/batch=$target")
        below.init.foreach(b =>
          fs.delete(new org.apache.hadoop.fs.Path(p, s"batch=$b"), true))
        fs.delete(tmp, true)
      }
    }
  }

  /** Read an index table if at least one COMMITTED data file exists.
    * Checking for a batch= directory alone is not enough: a crash
    * mid-extendIndex can leave batch=N holding only the hidden
    * _temporary dir, and spark.read.parquet on a dir with zero visible
    * footers fails schema inference on every retry — a permanently
    * stuck stream. Asking the table lister for one visible data file
    * (the _temporary dir is hidden) makes the torn first write read as
    * "no index yet" instead. */
  private def readIndex(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = graft.connections.FileFormats.parquetFiles(fs, p, 1).nonEmpty
    if (committed) Some(spark.read.parquet(path)) else None
  }
}
