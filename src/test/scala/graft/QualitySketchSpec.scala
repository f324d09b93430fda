package graft

import org.scalatest.funsuite.AnyFunSuite

/** t74–t77 semantics beyond the oracle gate: the algebraic invariants
  * each algorithm PROMISES (CMS never undercounts, winnowing's shared-run
  * guarantee, surprisal floors) — properties a future refactor could
  * silently break while still hashing equal to a co-edited oracle. */
class QualitySketchSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  test("t74: every token costs ≥1 bit and reference-slice docs have no OOV") {
    val rows = SparkEntry.queries("t74_unigram_logloss")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nOov, bits) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nOov <= nTok)
      assert(bits >= nTok, s"doc ${r.getLong(0)}: <1 bit/token")
      assert(r.getDouble(4) == bits.toDouble / nTok.toDouble)
    }
    // the LM is trained on src0, so every src0 token is in-vocabulary
    val src0 = graft.queries.Tables.t(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    rows.filter(r => src0.contains(r.getLong(0)))
      .foreach(r => assert(r.getLong(2) == 0L,
        s"src0 doc ${r.getLong(0)} reports OOV tokens against its own LM"))
  }

  test("t84: ≥1 bit per bigram; reference-slice docs never back off") {
    val rows = SparkEntry.queries("t84_bigram_surprisal")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nBg, nBo, bits) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nBo <= nBg)
      assert(bits >= nBg, s"doc ${r.getLong(0)}: <1 bit/bigram")
      assert(r.getDouble(4) == bits.toDouble / nBg.toDouble)
    }
    val src0 = graft.queries.Tables.t(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    rows.filter(r => src0.contains(r.getLong(0)))
      .foreach(r => assert(r.getLong(2) == 0L,
        s"src0 doc ${r.getLong(0)} backed off against its own LM"))
  }

  test("t75: verifier output is well-formed and threshold-consistent") {
    val rows = SparkEntry.queries("t75_edit_verify")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered doc_a < doc_b")
      val verified = r.getBoolean(2)
      if (verified) {
        val (d, dup) = (r.getInt(3), r.getInt(4))
        assert(d >= 0)
        assert(dup == (if (d <= 40) 1 else 0))
      } else {
        // the ASCII gate keeps the pair VISIBLE but unscored
        assert(r.isNullAt(3) && r.isNullAt(4),
          "unverified pairs must carry NULL edit_dist/is_dup")
      }
    }
    assert(rows.forall(_.getBoolean(2)),
      "fixture heads are all-ASCII: every candidate pair must verify")
  }

  test("t75: Spark levenshtein is character-based (the ASCII gate's premise)") {
    // the oracle's levenshtein counts BYTES; ours counts CHARS. The gate
    // filters non-ASCII heads on both sides, where the two agree. This
    // pins OUR side's unit so a silent engine change (to bytes) that
    // happens to pass on an all-ASCII fixture is still caught.
    import spark.implicits._
    val d = Seq(("你好世界", "你好地球")).toDF("a", "b")
      .select(org.apache.spark.sql.functions.levenshtein(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
      .head().getInt(0)
    assert(d == 2, s"expected char-based distance 2, got $d")
  }

  test("t86: hashed LM tables are broadcast-bounded and rank-track t84") {
    // the POINT of t86 is the unconditional ≤4096-row broadcast bound;
    // the hashed score must still order documents like the exact LM.
    // Spearman rho measured 0.863 at sf0.001 / 0.817 at sf0.01
    // (RankCheck; README "Lab record") — floor pinned with slack below both.
    val a = SparkEntry.queries("t84_bigram_surprisal")(spark, sf)
      .select("doc_id", "bits_per_bigram").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = SparkEntry.queries("t86_bigram_surprisal_hashed")(spark, sf)
      .select("doc_id", "bits_per_bigram").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet, "both forms score the same documents")
    val ids = a.keySet.toSeq
    def ranks(m: Map[Long, Double]) = ids.sortBy(m).zipWithIndex.toMap
    val (ra, rb) = (ranks(a), ranks(b))
    val n = ids.size.toDouble
    val d2 = ids.map(i => { val d = ra(i) - rb(i); d.toDouble * d }).sum
    val rho = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(rho > 0.75, s"hashed LM must rank-track the exact LM, rho=$rho")
    // the broadcast bound itself: 4096 3-hex-char buckets max
    import org.apache.spark.sql.functions.{col, countDistinct}
    val distinctBuckets = graft.queries.Tables.t(spark, sf, "documents")
      .filter(col("source") === "src0")
      .selectExpr("explode(word_bigrams(split(text, ' '))) AS bg")
      .select(countDistinct(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5(col("bg")), 1, 3)))
      .head().getLong(0)
    assert(distinctBuckets <= 4096L)
  }

  test("t87: merge application is left-to-right non-overlapping (real BPE)") {
    // the driver-side scan must follow real BPE's rule: same-symbol runs
    // merge at odd offsets ("aaaa" → [aa,aa], "aaa" → [aa,a]) and a≠b
    // matches all merge ("abab" → [ab,ab])
    def merged(a: String, b: String): Map[String, Seq[String]] =
      Seq("aaaa", "aaa", "abab").map(w => w ->
        graft.queries.DataSelection.bpeMerge(w.map(_.toString), a, b)).toMap
    val aa = merged("a", "a")
    assert(aa("aaaa") == Seq("aa", "aa"))
    assert(aa("aaa") == Seq("aa", "a"))
    assert(aa("abab") == Seq("a", "b", "a", "b"))
    val ab = merged("a", "b")
    assert(ab("abab") == Seq("ab", "ab"))
    assert(ab("aaaa") == Seq("a", "a", "a", "a"))
  }

  test("t87: rounds after the first never rescan the corpus") {
    // the trainer's scale claim: ONE corpus scan builds the vocabulary,
    // then every round's plan starts from the checkpointed vocab —
    // per-round exchanges stay on the word vocabulary by construction
    val (vocab, merges) = graft.queries.DataSelection.bpeRounds(spark, sf, 2)
    try {
      assert(merges.size == 2)
      assert(merges.map(_._1) == Seq(1, 2))
      assert(merges.forall(_._4 > 0))
      val plan = vocab.queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("parquet"),
        s"round-2 vocab must build on the checkpointed round-1 vocab:\n$plan")
    } finally graft.operators.Fixpoint.release(vocab)
  }

  // a documents table holding only `text`, all t87 reads
  private def withDocuments[T](texts: Seq[String])(f: String => T): T = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t87_docs")
    try {
      texts.toDF("text").write.parquet(s"$dir/documents.parquet")
      f(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("t87: merges equal DuckDB's bpeOracle(8) at sf0.001") {
    // literals from DuckDB 1.0.0 running the query's oracle SQL over
    // sf0.001 documents.parquet
    val expected = Seq(
      (1, "e", "r", "er", 4650L), (2, "o", "r", "or", 2880L),
      (3, "i", "n", "in", 2858L), (4, "o", "w", "ow", 2763L),
      (5, "s", "t", "st", 2721L), (6, "l", "u", "lu", 1928L),
      (7, "a", "r", "ar", 1873L), (8, "p", "ar", "par", 1873L))
    val got = SparkEntry.queries("t87_bpe_trainer")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got == expected)
  }

  test("t87: ties break in UTF-8 byte order, not UTF-16 order") {
    // U+FF5A sorts before U+1D538 as UTF-8 bytes (EF.. < F0..) but after
    // it as UTF-16 units (FF5A > D835); every pair below occurs once, so
    // each round is a tie. Order taken from DuckDB 1.0.0 over the same
    // two documents; only 4 pairs exist, so a 5th round merges nothing.
    val (z, a) = ("\uFF5A", "\uD835\uDD38")
    assert(a.compareTo(z) < 0, "UTF-16 order must disagree for this case")
    withDocuments(Seq(s"x$a x$z", s"${a}x ${z}x")) { dir =>
      val (_, merges) = graft.queries.DataSelection.bpeRounds(spark, dir, 5)
      assert(merges == Seq((1, "x", z, 1L), (2, "x", a, 1L),
        (3, z, "x", 1L), (4, a, "x", 1L)))
    }
  }

  test("t87: empty documents give 0 merges with the same schema") {
    val schema = SparkEntry.queries("t87_bpe_trainer")(spark, sf).schema
    withDocuments(Seq.empty) { dir =>
      val df = SparkEntry.queries("t87_bpe_trainer")(spark, dir)
      assert(df.schema == schema)
      assert(df.collect().isEmpty)
    }
  }

  test("t76: every winnow pair is ordered, bounded, and self-consistent") {
    val rows = SparkEntry.queries("t76_winnow_overlap")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val (fpA, fpB, common) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(common >= 2 && common <= math.min(fpA, fpB))
      val c = r.getDouble(5)
      assert(c > 0.0 && c <= 1.0)
      assert(c == common.toDouble / math.min(fpA, fpB).toDouble)
    }
  }

  test("t76: winnowing's shared-span guarantee holds on synthetic docs") {
    import spark.implicits._
    // two documents disjoint except for one 10-word run: 8 shared
    // consecutive 3-grams ≥ w=4 ⇒ a full window lies inside the shared
    // span ⇒ the SAME window-min is a fingerprint of both — guaranteed,
    // not probabilistic. A third, fully disjoint doc must share nothing.
    val shared = (1 to 10).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $shared eps zeta"),
      (2L, s"one two three four five $shared six seven eight"),
      (3L, "totally different words that never overlap at all ok"))
      .toDF("doc_id", "text")
    val fps = graft.queries.Curation.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "docs sharing a 10-word run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint docs must not collide at this scale")
  }

  test("t82: the KMV estimate is sane and exact below k") {
    val rows = SparkEntry.queries("t82_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, hk, est) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(exact >= 1 && hk >= 1)
      assert(est >= 1, s"lang ${r.getString(0)}: degenerate estimate")
      // KMV with k=64 has relative std error ~1/sqrt(k-1) ≈ 12.6%; 3σ
      // plus small-n slack = a generous structural bound — a wrong
      // h_k, rank, or hash-space constant lands orders of magnitude
      // away, which is what this guards
      val rel = math.abs(est - exact).toDouble / exact
      assert(exact < 64 || rel < 0.6,
        s"lang ${r.getString(0)}: |rel_err| $rel out of any KMV regime")
      if (exact < 64) assert(est == exact, "below k the sketch is exact")
    }
  }

  test("t78: the separation matrix is a full ordered upper triangle, dist2 ≥ 0") {
    val rows = SparkEntry.queries("t78_label_separation")(spark, sf).collect()
    val labels = rows.flatMap(r => Seq(r.getInt(0), r.getInt(1))).distinct.length
    assert(rows.length == labels * (labels - 1) / 2,
      "every unordered label pair must appear exactly once")
    rows.foreach { r =>
      assert(r.getInt(0) < r.getInt(1))
      assert(r.getDouble(4) >= 0.0, "a squared distance cannot be negative")
    }
  }

  test("t79: entropy bounds — ≥1 bit/char, ≤ len(bin(n)) bits, uniform max") {
    val rows = SparkEntry.queries("t79_char_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, distinct, bits) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(distinct >= 1 && distinct <= n)
      assert(bits >= n, "every char costs at least 1 quantized bit")
      // max surprisal per char is len(binary(n)) (cnt = 1)
      assert(bits <= n * (64 - java.lang.Long.numberOfLeadingZeros(n)),
        s"doc ${r.getLong(0)} exceeds the per-char surprisal ceiling")
      assert(r.getDouble(4) == bits.toDouble / n.toDouble)
    }
  }

  test("t81: no near-dup candidate pair ever straddles two splits") {
    val split = SparkEntry.queries("t81_cluster_safe_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = SparkEntry.queries("t02_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(split.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) crosses splits — leakage by construction")
    }
    assert(split.values.toSet.subsetOf(Set("train", "validation", "test")))
  }

  test("t77: a count-min sketch never undercounts") {
    val rows = SparkEntry.queries("t77_cms_heavyhitters")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 20)
    rows.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"CMS undercounted '${r.getString(0)}'")
      assert(over == est - exact)
    }
    // ranking is by exact count desc: the returned heavy hitters are
    // monotonically non-increasing
    val exacts = rows.map(_.getLong(1)).toSeq
    assert(exacts == exacts.sorted.reverse)
  }
}
