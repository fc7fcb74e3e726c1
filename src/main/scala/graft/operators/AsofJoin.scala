package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward-inclusive as-of join — the reference's central analytic join
  * (`pd.merge_asof` in ais_analysis.py:476, `join_asof` in
  * ais_analysis_polars.py:474): for each left row, attach `rightCols` from
  * the latest right row with `right(on) <= left(on)` and equal `by` keys;
  * unmatched left rows keep nulls (left outer).
  *
  * Implementation: union-and-window, split in two so that callers holding
  * both sides in ONE frame skip the union.
  *  - [[asofTagged]] is the core. It takes a tagged frame whose [[Side]]
  *    column marks right rows 0 and left rows 1 (right=0 sorts before
  *    left=1 on equal `on`, giving backward-INCLUSIVE semantics, matching
  *    merge_asof's default). A running `last(col, ignoreNulls)` over
  *    `Window.partitionBy(by).orderBy(on, side)` carries the most recent
  *    right-side values forward, then only left rows are kept.
  *  - [[asofJoin]] is the two-input join: tag each side, union them, and
  *    run the core.
  *
  * Scale: exactly ONE shuffle (hash by `by`) + an in-partition sort — the
  * same cost as a sort-merge join, with no risk of row explosion on
  * duplicate keys and no range-join quadratic blowup. Skewed `by` keys are
  * handled by AQE; there is no driver-side state. This survives 100 TB:
  * each partition streams sorted rows with O(1) carried state per key.
  *
  * Caveats:
  *  - a right row holding a genuine null in a rightCol is skipped in
  *    favor of an older non-null value (ignoreNulls). Project a sentinel
  *    before the join if null-propagation semantics are needed.
  *  - right rows with a null `on` are DROPPED (merge_asof semantics: a
  *    null timestamp precedes nothing) — without the filter they sort
  *    NULLS FIRST and get carried into left rows that have no true match.
  *  - right rows tied on (by, on) resolve by the greatest rightCols
  *    tuple (appended to the window order), making the pick
  *    deterministic where merge_asof's "last input row" depends on
  *    arrival order; rightCols must therefore be orderable types.
  */
object AsofJoin {

  /** Name of the side tag column [[asofTagged]] reads. */
  val Side = "__asof_side"

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      on: String,
      by: Seq[String],
      rightCols: Seq[String]): DataFrame = {
    require(rightCols.nonEmpty, "rightCols must be non-empty")
    val leftOnly = left.columns.filterNot(c => by.contains(c) || c == on)
    require(rightCols.intersect(left.columns).isEmpty,
      s"rightCols ${rightCols.mkString(",")} must not collide with left columns")

    // single projection per side (a per-column withColumn fold stacks one
    // Project node per added column — real planning cost on wide tables)
    val leftU = left.select(
      left.columns.map(col) ++ (lit(1).as(Side) +:
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
    val rightU = right
      .filter(col(on).isNotNull)
      .select(((by :+ on).map(col) ++ rightCols.map(col)) ++
        (lit(0).as(Side) +:
          leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    asofTagged(leftU.unionByName(rightU), on, by, rightCols)
  }

  /** The as-of core over one tagged frame: every left row (`Side` = 1)
    * with `rightCols` filled from the latest right row (`Side` = 0) of its
    * `by` key at or before its `on`. Rows of any other side value, null
    * included, pass through the window untouched and are dropped with the
    * right rows. The caller guarantees what [[asofJoin]]'s tagging does:
    * right rows have a non-null `on`, and every row that is not a right
    * row holds nulls in `rightCols`. Output: the frame's columns minus
    * `Side`, in order.
    */
  def asofTagged(
      tagged: DataFrame,
      on: String,
      by: Seq[String],
      rightCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(by.map(col): _*)
      .orderBy(col(on).asc +: col(Side).asc +: rightCols.map(c => col(c).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = tagged.select(tagged.columns.map {
      case c if rightCols.contains(c) =>
        last(col(c), ignoreNulls = true).over(w).as(c)
      case c => col(c)
    }: _*)
    filled.filter(col(Side) === 1).drop(Side)
  }
}
