package graft.tools

import org.apache.spark.sql.functions._

/** Dev lab (r12 verdict stretch; factor arg added in r14): measure
  * wall-time SCALING of the heaviest t-ops by generating a one-off N×
  * documents fixture and timing each query at sf0.1 vs N×. NOT a gate —
  * the fixture is derived, not driver-generated. The r13 verdict asked
  * for a 30× point on the density-sensitive pair-list ops (t12 t31 t03
  * t89 t42): their 10× ratios grow with dup-graph density, so 10× alone
  * cannot separate sub-quadratic from quadratic — a 30× point can.
  *
  * Two copy modes, because no single transform is honest for every op:
  *
  *  - `rotate` (default; the r12–r16 fixtures): copy k rotates each
  *    text by 7k+3 words. Preserves the word/token distribution (t87's
  *    BPE and unigram stats stay realistic) — but r17's T02Probe
  *    forensics proved the original premise WRONG for shingle ops:
  *    overlapping 3-shingles are nearly invariant under cyclic
  *    rotation (only the ~4 boundary shingles change), so rotated
  *    copies minhash-collide as near-complete factor-cliques
  *    (measured: 2.16M of 2.76M 30× candidates were same-original
  *    pairs = 5000·C(30,2)). Rotation fixtures therefore probe the
  *    CLUSTERED-corpus worst case for t02/t15/t45/t92/t94 — a valid
  *    stress, not the advertised independent-corpus curve. (simhash
  *    ops are worse still: the token MULTISET is rotation-invariant,
  *    so fingerprints are IDENTICAL across copies — see T18Probe.)
  *
  *  - `mangle`: copy k prefixes every token with `k<k>`. Intra-copy
  *    structure (true dup pairs, token counts, doc lengths) is
  *    preserved; cross-copy shingle/token spaces are DISJOINT, so
  *    cross-copy candidates can only be chance hash agreements — the
  *    independent-corpus model rotation was believed to give. Token
  *    STRINGS change (vocabulary grows ×factor), so keep using
  *    `rotate` for the token-statistics ops (t87 BPE).
  *
  * Usage: runMain graft.tools.ScaleProbe [outDir [query,... [factor [mode [extra]]]]]
  *   query,... may be ALL_T (every t-op) or ALL (every t- and q-op);
  *   mode ∈ rotate|mangle; extra is a comma set ⊆ {events, tpch} that
  *   also scales those fixtures. Per-op min-of-3 walls stream into
  *   <outDir>/SCALE.json as the sweep runs (promote to SCALE_r{N}.json;
  *   diff rounds with tools/scale_compare.py).
  */
object ScaleProbe {
  private val Default = Seq("t15_dedup_components", "t87_bpe_trainer",
    "t92_dup_pagerank", "t94_kmv_merge")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    // ALL_T = every t-op — the r17 endurance sweep: t12 proved a
    // sub-linear 10× ratio can hide a wall, and the 6 hand-picked probes
    // only cover the density-sensitive pair ops; sweeping the whole
    // t-inventory at 30× catches cliffs in the ops nobody suspected.
    // Non-scaled tables (events + TPC-H) are staged verbatim so every
    // query RUNS; ratios for queries reading only those stay ~1× and
    // prove nothing — the sweep's signal is the documents/embeddings ops.
    // ALL = t + q suites in one sweep (pair with extra "events,tpch" so
    // the q-ops and events-ops read scaled fixtures — an unscaled table
    // pins the ratio at ~1× and proves nothing); p-ops stay out: the
    // streaming gates measure protocol replay, not data scaling.
    val queries =
      if (args.length > 1 && args(1) == "ALL_T")
        graft.SparkEntry.queries.keys.filter(_.startsWith("t")).toSeq.sorted
      else if (args.length > 1 && args(1) == "ALL")
        graft.SparkEntry.queries.keys
          .filter(k => k.startsWith("t") || k.startsWith("q")).toSeq.sorted
      else if (args.length > 1) args(1).split(",").toSeq
      else Default
    val factor = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "rotate"
    require(mode == "rotate" || mode == "mangle", s"bad mode $mode")
    // the shipped profile with local sizing (`GraftSession.local`,
    // r18): the sweep grades the confs the
    // engine actually runs under — in particular the no-guessed-
    // broadcast law (static autoBroadcastJoinThreshold off, AQE
    // measured conversion on), whose cost/benefit is exactly what a
    // scale ratio must include
    val spark = graft.core.GraftSession.local("graft-scaleprobe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val src = "/root/testdata/sf0.1"
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val n = docs.agg(max("doc_id")).head.getLong(0) + 1
    val copies = (0 until factor).map { k =>
      val transformed =
        if (k == 0) docs
        else if (mode == "mangle") docs.withColumn("text", expr(
          s"concat_ws(' ', transform(split(text, ' '), w -> concat('k$k', w)))"))
          .withColumn("n_chars", length(col("text")).cast("long"))
        else docs.withColumn("text", expr(
          s"""concat_ws(' ',
             |  slice(split(text, ' '), pmod(${7 * k + 3}, greatest(size(split(text, ' ')), 1)) + 1,
             |        size(split(text, ' '))),
             |  slice(split(text, ' '), 1, pmod(${7 * k + 3}, greatest(size(split(text, ' ')), 1))))
             |""".stripMargin))
          .withColumn("n_chars", length(col("text")).cast("long"))
      transformed.withColumn("doc_id", col("doc_id") + lit(k * n))
    }
    copies.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings: factor copies with ELEMENT-ROTATED vectors — rotation
    // preserves the norm but moves the direction, so copies don't
    // collapse into artificial cosine-duplicate clusters. Rotation
    // alone is NOT enough once factor can reach the vector dimension
    // (64): rotating by 64 is the identity, so at 100× copies k and
    // k+64 would carry IDENTICAL directions — the exact cosine-dup
    // clusters the transform exists to avoid (the embedding analogue
    // of r17's rotated-shingle finding). Fix: rotate by k mod dim and
    // ALSO flip signs with a per-copy deterministic Rademacher pattern
    // (murmur3 of (k, element index)). Sign flips are exact in IEEE
    // (norm preserved bit-for-bit), within-copy geometry is preserved
    // (one pattern per copy, so planted near-dup pairs stay near-dups),
    // and two different patterns decorrelate directions even when the
    // rotations coincide.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val ne = emb.agg(max("vec_id")).head.getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    (0 until factor).map { k =>
      val rotated =
        if (k == 0) emb
        else emb.withColumn("embedding", expr(
          s"""transform(
             |  concat(slice(embedding, ${k % dim + 1}, size(embedding)),
             |         slice(embedding, 1, ${k % dim})),
             |  (x, i) -> if(pmod(hash($k, i), 2) = 0, x, -x))""".stripMargin))
      rotated.withColumn("vec_id", col("vec_id") + lit(k * ne))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // optional 5th arg "events": ALSO scale the events table — copy k
    // shifts user_id/event_id past the originals' ranges (more users at
    // the same per-user event density, the way a corpus actually grows;
    // ts distribution unchanged, so hourly windows get factor× denser).
    // Added in r17 to close the "events ops never probed" gap: the
    // ALL_T sweep staged events at 1×, so t60/t67/t68/t93/t96 ratios
    // there prove nothing.
    val extra = if (args.length > 4) args(4).split(",").toSet else Set.empty[String]
    val scaleEvents = extra.contains("events")
    // "tpch": scale the relational fact tables with FK integrity —
    // copy k shifts orderkey in BOTH orders and lineitem (join keys
    // stay consistent) and custkey in BOTH customer and orders;
    // supplier/part/nation/region stay 1× (dimensions don't grow 30×
    // in a real warehouse either), so lineitem's partkey/suppkey still
    // resolve. Added in r17 so the q-suite has a real 30× point.
    if (extra.contains("tpch")) {
      // ONE offset per LOGICAL key, taken from the key's home table —
      // orders' max(o_custkey) can be smaller than customer's
      // max(c_custkey), and per-table offsets would break the FK
      def keyOff(tbl: String, key: String): Long =
        spark.read.parquet(s"$src/$tbl.parquet")
          .agg(max(col(key))).head.getLong(0) + 1
      val custOff = keyOff("customer", "c_custkey")
      val orderOff = keyOff("orders", "o_orderkey")
      def shifted(tbl: String, offs: Seq[(String, Long)]): Unit =
        (0 until factor).map { k =>
          offs.foldLeft(spark.read.parquet(s"$src/$tbl.parquet")) {
            case (d, (key, off)) => d.withColumn(key, col(key) + lit(k * off))
          }
        }.reduce(_ unionAll _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/$tbl.parquet")
      shifted("customer", Seq("c_custkey" -> custOff))
      shifted("orders", Seq("o_orderkey" -> orderOff, "o_custkey" -> custOff))
      shifted("lineitem", Seq("l_orderkey" -> orderOff))
    }
    if (scaleEvents) {
      graft.queries.Tables.ensureEventsReadable(spark)
      val evSrc = graft.queries.Tables.events(spark, src)
      val mx = evSrc.agg(max("event_id"), max("user_id")).head
      val (me, mu) = (mx.getLong(0) + 1, mx.getLong(1) + 1)
      (0 until factor).map { k =>
        evSrc.withColumn("event_id", col("event_id") + lit(k * me))
          .withColumn("user_id", col("user_id") + lit(k * mu))
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    // stage the remaining tables VERBATIM (1×) so events- and
    // TPC-H-reading queries can run against the probe dir at all
    val already =
      (if (scaleEvents) Seq("events") else Nil) ++
        (if (extra.contains("tpch")) Seq("customer", "orders", "lineitem") else Nil)
    for (tbl <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events").filterNot(already.contains)) {
      val dst = java.nio.file.Paths.get(s"$out/$tbl.parquet")
      if (!java.nio.file.Files.exists(dst))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$src/$tbl.parquet"), dst)
    }
    println(s"probe fixture: ${spark.read.parquet(s"$out/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$out/embeddings.parquet").count()} vecs at $out")

    def time(name: String, dir: String): Double = {
      val runs = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        // Force a full GC OUTSIDE the timed window: a 122-op sweep in
        // one JVM accumulates broadcast blocks + codegen classes, and
        // without this the collector's debt lands on whichever op runs
        // next — measured r18: t02's in-sweep 30× wall read 9.5 s vs
        // 1.25 s in a fresh JVM (7.6× pure context, BOTH numbers
        // min-of-3). With the pre-run GC each wall is the op's own
        // cost + its own garbage, which is what a scale RATIO must
        // measure for round-over-round compares to mean anything.
        System.gc()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    // Persist the sweep as a machine-readable artifact (r17 verdict:
    // the ALL_T sweep caught two 5–20× engine walls that 146 green
    // hashes and a clean bench could NOT see, but its results lived in
    // README prose — a round that regressed a 30× ratio would have
    // passed every gate). Written INCREMENTALLY after each op so a
    // crashed sweep keeps its partial table; diff rounds with
    // tools/scale_compare.py. Copy to SCALE_r{N}.json at round end.
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def writeJson(): Unit = {
      val ops = results.map { case (q, (base, big)) =>
        f"""    "$q": {"base_s": $base%.3f, "scaled_s": $big%.3f, "ratio": ${big / base}%.3f}"""
      }.mkString(",\n")
      val json =
        s"""{
           |  "fixture": {"src": "$src", "factor": $factor, "mode": "$mode",
           |              "events": $scaleEvents, "tpch": ${extra.contains("tpch")}},
           |  "ops": {
           |$ops
           |  }
           |}""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/SCALE.json"), json)
    }
    queries.foreach { q =>
      val base = time(q, src)
      val big = time(q, out)
      results(q) = (base, big)
      writeJson()
      println(f"$q%-24s sf0.1 $base%6.2f s   ${factor}x $big%6.2f s   ratio ${big / base}%5.2f")
    }
    spark.stop()
  }
}
