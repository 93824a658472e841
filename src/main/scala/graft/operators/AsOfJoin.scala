package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the latest right row whose time is
  * ≤ the left row's time, per key — the standard point-in-time lookup
  * (quotes-for-trades, last-config-before-event).
  *
  * Spark has no ASOF JOIN operator; the scalable composition used here is
  * union + carry-forward window rather than a range self-join:
  *
  *   1. tag both sides and union them (schema-aligned);
  *   2. one window per key ordered by (time, side) computes `last(right
  *      payload, ignoreNulls)` — the carry-forward;
  *   3. keep left rows.
  *
  * Cost: ONE shuffle on the key (the window), linear in |L|+|R| — versus a
  * naive `L join R on key and r.ts <= l.ts` + max-window, which explodes to
  * |L|×|R| rows per key before pruning. Skewed keys behave like any
  * window: one task per key partition; salt upstream if a single key's
  * row count exceeds a task's memory.
  *
  * A custom `LogicalPlan`+`SparkPlan` (zip-partitions merge) could avoid
  * sorting the union, but the window form stays inside vanilla Catalyst /
  * Tungsten and AQE — preference (a) from the design rules.
  */
object AsOfJoin {

  /** @param left      left rows (event side)
    * @param right     right rows (state side)
    * @param key       equality key column name (present on both sides)
    * @param leftTime  left time column
    * @param rightTime right time column
    * @param payload   right columns to carry onto left rows (null when no
    *                  right row precedes the left row)
    */
  def asOf(left: DataFrame, right: DataFrame, key: String,
           leftTime: String, rightTime: String,
           payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // side 0 = right (sorts before left at equal timestamps → a right row
    // AT the left row's time is visible, matching ASOF's <= semantics)
    val taggedRight = right.select(
      (col(key).as(key) +:
        col(rightTime).cast("timestamp").as("__t") +:
        lit(0).as("__side") +:
        payload.map(p => col(p).as(s"__p_$p"))) ++
        leftCols.filterNot(_ == key).map(c => lit(null).cast(
          left.schema(c).dataType).as(c)): _*)
    val taggedLeft = left.select(
      (col(key).as(key) +:
        col(leftTime).cast("timestamp").as("__t") +:
        lit(1).as("__side") +:
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"__p_$p"))) ++
        leftCols.filterNot(_ == key).map(col): _*)

    val w = Window.partitionBy(key).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = taggedRight.unionByName(taggedLeft)
      .select((col(key) +: col("__t").as("__t") +: col("__side").as("__side") +:
        leftCols.filterNot(_ == key).map(col)) ++
        payload.map(p => last(col(s"__p_$p"), ignoreNulls = true).over(w)
          .as(s"asof_$p")): _*)
    carried.where(col("__side") === 1).drop("__t", "__side")
  }
}
