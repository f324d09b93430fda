package graft

import org.scalatest.funsuite.AnyFunSuite

/** Outputs of the query families whose members share one plan helper
  * and one oracle text (README "Query families"): dedup agreement,
  * hard negatives, SimHash banded pairs, cosine near-dup, semantic
  * decontamination and the 8-centroid IVF cells, plus t36 and t93, whose
  * oracles the streaming gates reuse. Each query runs at sf0.001
  * through `SparkEntry.queries` and must give its pinned row count and
  * order-insensitive digest ([[SparkSuite.digest]]). The gates
  * themselves (p20, p22, p23, p25) are pinned in [[StreamingGatesSpec]].
  *
  * The literals were recorded before the families shared their code;
  * there `Verify` at sf0.001 filtered to these queries +
  * `tools/check_oracle.py` passed every one. */
class FamilyOutputsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  // the benchmark's read-only copy of the sf0.001 fixture
  private val sf = "perfbench/data/sf0.001"

  private val pinned = Seq(
    "t40_dedup_agreement" ->
      "1:2571004627:3867966637:bca22c1b",
    "t103_dedup_agreement_wide" ->
      "1:79381688:4009189885:bca22c1b",
    "t106_dedup_agreement_128" ->
      "1:1026999164:3939632005:bca22c1b",
    "t57_hard_negatives" ->
      "30:57286530856:62829408069:c2c75f8d",
    "t64_hard_negatives_ivf" ->
      "30:58268964131:56311360992:c2c75f8d",
    "t104_hard_negatives_ivf_scaled" ->
      "30:61412028474:59307635458:c2c75f8d",
    "t18_simhash_neardup" ->
      "1537:3215818843634:3256634708473:c4e4ad1d",
    "t101_simhash64_neardup" ->
      "23:53984349515:38185386447:c4e4ad1d",
    "t105_simhash128_neardup" ->
      "15:36296514291:34370270566:c4e4ad1d",
    "t12_cosine_neardup" ->
      "58:129159710722:112258853108:13fe8771",
    "t102_cosine_neardup_wide" ->
      "0:0:0:13fe8771",
    "t98_semantic_decontaminate" ->
      "475:1043094891065:985995328776:d3bcbdc2",
    "t100_semantic_decontaminate_ivf" ->
      "475:1036171625956:1009328568625:d3bcbdc2",
    "t13_ann_ivf" ->
      "10:16140208550:20843835745:3859e649",
    "t36_incremental_dedup" ->
      "250:526776033564:511433940968:ba487245",
    "t93_session_sequences" ->
      "946:2048863248550:2023884079728:acb7e49f")

  pinned.foreach { case (name, want) =>
    test(s"$name: rows and digest at sf0.001") {
      assert(SparkSuite.digest(SparkEntry.queries(name)(spark, sf)) == want)
    }
  }

  // t102 answers 0 rows at sf0.001 and at sf0.01, so its pin above
  // checks only the schema; sf0.1 has 2 pairs to pin (recorded the same
  // way, with `Verify` + `tools/check_oracle.py` at sf0.1)
  test("t102_cosine_neardup_wide: rows and digest at sf0.1") {
    assert(SparkSuite.digest(SparkEntry.queries("t102_cosine_neardup_wide")(
      spark, "/root/testdata/sf0.1")) == "2:5140112601:3847507413:13fe8771")
  }
}
