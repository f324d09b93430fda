package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted join for skewed keys.
  *
  * AQE's skew-join split handles most skew at runtime, but it only
  * re-splits *partitions* of a shuffle join — when one literal key holds
  * half the table (the classic hot-key of training corpora: empty doc,
  * null user, default language), every row of that key still lands on
  * one task. Salting fixes the layout itself: the big side's key is
  * split into `salts` sub-keys deterministically, and the small side is
  * replicated `salts` ways so every sub-key still finds its match. Cost:
  * |small| × salts replicated rows; benefit: the hot key runs on `salts`
  * tasks instead of one.
  */
object Skew {

  /** Inner equi-join `big ⋈ small` on `keys`, with the big side salted
    * `salts` ways. Result equals the plain join (row-for-row). */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    // deterministic salt from the full row hash → stable across retries
    // (rand() would break task re-execution under speculative execution)
    val salted = big.withColumn("__salt",
      pmod(hash(big.columns.map(col): _*), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, keys :+ "__salt")
      .drop("__salt")
  }
}
