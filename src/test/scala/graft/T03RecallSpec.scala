package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Guards t03's DfCap (ADVICE r15): the cap's recall premise — "true
  * near-dups ride rare shingles" — was heuristic and unvalidated beyond
  * one fixture. Two pins:
  *
  *  1. RECALL at two scale factors: t03's capped pairs vs the UNCAPPED
  *     run of the identical pipeline (ngramJaccardPairs with cap =
  *     MaxValue) — the semantic ideal the cap approximates.
  *  2. The BLIND SPOT, made explicit: a synthetic pair whose only
  *     shared shingles sit at block df ≈ 22 (inside the 17..∞ band the
  *     cap drops) is NOT found capped and IS found uncapped, while a
  *     rare-shingle pair in the same block is found by both. If the cap
  *     constant changes, this test says exactly what semantics moved.
  */
class T03RecallSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"capped t03 keeps full near-dup recall vs uncapped at $sf") {
      val docs = graft.queries.Tables.t(spark, s"/root/testdata/$sf", "documents")
      val capped = pairs(graft.queries.TrainingData.ngramJaccardPairs(docs))
      val truth =
        pairs(graft.queries.TrainingData.ngramJaccardPairs(docs, Int.MaxValue))
      assert(truth.nonEmpty, "fixture must contain uncapped near-dup pairs")
      val recall = (truth intersect capped).size.toDouble / truth.size
      assert(recall >= 0.99,
        s"DfCap recall $recall at $sf: missing ${(truth diff capped).take(5)}")
    }
  }

  test("the cap's blind spot is exactly the mid-frequency shingle band") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota"
    // A/B: near-dups whose shared shingles ALSO appear in 20 filler
    // docs → block df = 22 > DfCap: the cap drops every shared shingle
    val a = (1L, s"$base kappa")
    val b = (2L, s"$base lambda")
    val fillers = (3L to 22L).map(i => (i, s"$base kappa"))
    // C/D: near-dups riding RARE shingles (df = 2) in the same block
    val c = (100L, "one two three four five six seven eight nine ten")
    val d = (101L, "one two three four five six seven eight nine zz")
    val docs = ((a +: b +: fillers) :+ c :+ d).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(50L))
    val capped = pairs(graft.queries.TrainingData.ngramJaccardPairs(docs))
    val truth =
      pairs(graft.queries.TrainingData.ngramJaccardPairs(docs, Int.MaxValue))
    assert(capped.contains((100L, 101L)),
      "rare-shingle near-dups must survive the cap")
    assert(!capped.contains((1L, 2L)),
      "a pair riding only df~22 shingles is the cap's documented miss")
    assert(truth.contains((1L, 2L)) && truth.contains((100L, 101L)),
      "uncapped ground truth finds both pairs")
  }
}
