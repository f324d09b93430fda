package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF join: for every left row, the right row with the greatest
  * right-time ≤ left-time within the same key (DuckDB exposes this as
  * `ASOF JOIN`; Spark has no native operator — SURVEY §2.4).
  *
  * Implemented as a single-pass window over the UNION of both sides
  * rather than a range join: tag rows, sort by (key, time, side), and
  * carry the last right row forward with `last(..., ignoreNulls)`. One
  * shuffle on the key, O(n log n) per partition, no candidate-pair
  * explosion — a range join materializes |left| × |right-in-window|
  * pairs, which at 100 TB is the difference between a job that finishes
  * and one that doesn't. Ties (equal timestamps) match the right row,
  * mirroring ASOF's `>=` semantics.
  */
object AsOf {

  /** Left-join `left` to the as-of-latest row of `right`.
    *
    * @param keys     equi-join key columns present on both sides
    * @param leftTime event-time column on `left`
    * @param rightTime event-time column on `right`
    * @param carry    right-side columns to carry onto matched left rows
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      carry: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // All carry columns ride in ONE struct: the struct is non-null for
    // every right row (even when its fields are null), so
    // last(ignoreNulls) matches exactly the latest prior right ROW —
    // null payloads are carried as nulls (not skipped for an older row)
    // and multi-column carries can never mix values from different rows.
    val carryType = org.apache.spark.sql.types.StructType(
      carry.map(c => org.apache.spark.sql.types.StructField(
        c, right.schema(c).dataType, nullable = true)))
    val lAll = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__carry", lit(null).cast(carryType))
      .select((leftCols ++ Seq("__t", "__side", "__carry")).map(col): _*)
    val rAll = right
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
      .withColumn("__carry", struct(carry.map(col): _*))
      .select((keys ++ Seq("__t", "__side", "__carry")).map(col): _*)
    // right rows sort before left rows at equal time → ties match (>=)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unioned = lAll.unionByName(rAll.select(lAll.columns.map(c =>
      if (rAll.columns.contains(c)) col(c) else lit(null).as(c)): _*))
    unioned
      .withColumn("__asof", last(col("__carry"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        carry.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }
}
