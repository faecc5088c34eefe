package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Ordered / time-series window recipes (SURVEY §2.6 W1-W6).
  *
  * Reference provenance (file:line in /root/reference):
  *  - W1 lag feature: notebooks/01_youbike_analysis.ipynb:1115-1118
  *    (`groupby(station_no)[filling_rate].shift(1)` — the reference's
  *    highest-value feature: M3 R²=0.92 vs M1 0.02 comes from it).
  *  - W3 ffill/bfill: notebooks/04_lstm_prediction.ipynb:237.
  *  - W4 per-group linear interpolation: notebooks/05_multistation_lstm.ipynb:194-196
  *    (`interpolate('linear').ffill().bfill()` cascade).
  *  - W5 sliding-window sequences: 04:71-85, 05:224-252.
  *
  * Scale posture: every recipe is a window over `partitionBy(key)` — one
  * shuffle on the key, then per-partition sorted evaluation. No driver
  * collection, no cross-partition state. Skewed keys would be the only
  * 100 TB risk; station-grain keys are naturally bounded (rows per
  * station ≪ partition size).
  *
  * Frame-complexity rule (BenchScale's w_window leg caught this at
  * 100×): Spark evaluates `rowsBetween(unboundedPreceding, 0)` frames
  * with a RUNNING aggregate — O(n) per partition — but
  * `rowsBetween(0, unboundedFollowing)` frames re-aggregate from each
  * row to the partition end (UnboundedFollowingWindowFunctionFrame),
  * O(n²) per partition: invisible at 66 rows/station (sf0.1), a 30×
  * wall-clock cliff at 6,600, unusable at 100 TB row counts. Every
  * backward-looking fill here is therefore expressed as a running
  * frame over the DESCENDING order (the exact reverse total order, so
  * nulls-first flips to nulls-last and compound ties reverse with it)
  * — same rows, same answer, linear evaluation. The two orderings
  * share one Exchange (same partition keys); the second Sort is
  * n log n, not n².
  */
object Windows {

  /** W1: 1-row lag of `c` per `key` ordered by `order` (01:1115-1118). */
  def lag1(c: Column, key: Column, order: Column*): Column =
    lag(c, 1).over(Window.partitionBy(key).orderBy(order: _*))

  private def byKey(key: Column, order: Seq[Column]): WindowSpec =
    Window.partitionBy(key).orderBy(order: _*)

  /** W3: forward fill — last non-null value at or before the current row. */
  def ffill(c: Column, key: Column, order: Column*): Column =
    last(c, ignoreNulls = true)
      .over(byKey(key, order).rowsBetween(Window.unboundedPreceding, 0))

  private def byKeyDesc(key: Column, order: Seq[Column]): WindowSpec =
    Window.partitionBy(key).orderBy(order.map(_.desc): _*)

  /** W3: backward fill — first non-null value at or after the current
    * row, computed as the last non-null at-or-before in DESCENDING
    * order (running O(n) frame; the naive `(0, unboundedFollowing)`
    * frame is O(n²) per partition — see the object scaladoc). */
  def bfill(c: Column, key: Column, order: Column*): Column =
    last(c, ignoreNulls = true)
      .over(byKeyDesc(key, order).rowsBetween(Window.unboundedPreceding, 0))

  /** W3 composed: pandas `.ffill().bfill()` (04:237) — forward fill, then
    * leading nulls (no predecessor) take the first following value. */
  def ffillThenBfill(c: Column, key: Column, order: Column*): Column =
    coalesce(ffill(c, key, order: _*), bfill(c, key, order: _*))

  /** W4: per-group linear interpolation with the reference's exact
    * `.interpolate('linear').ffill().bfill()` cascade (05:194-196).
    *
    * For a null run between known values a (at row i) and b (at row j):
    * x = a + (b - a) * (rn - i) / (j - i). Leading nulls take the first
    * known value (bfill), trailing nulls the last known (ffill) — same
    * edge handling as the reference chain (SURVEY §7.3 #8).
    */
  def interpolateLinear(c: Column, key: Column, order: Column*): Column = {
    val w = byKey(key, order)
    val before = w.rowsBetween(Window.unboundedPreceding, 0)
    // "first non-null at or after" as a running frame over the reversed
    // order — O(n), not the O(n²) (0, unboundedFollowing) frame
    val after = byKeyDesc(key, order).rowsBetween(Window.unboundedPreceding, 0)
    val rn = row_number().over(w)
    val markedRn = when(c.isNotNull, rn)
    val prevVal = last(c, ignoreNulls = true).over(before)
    val nextVal = last(c, ignoreNulls = true).over(after)
    val prevRn = last(markedRn, ignoreNulls = true).over(before)
    val nextRn = last(markedRn, ignoreNulls = true).over(after)
    when(c.isNotNull, c)
      .when(prevVal.isNotNull && nextVal.isNotNull,
        prevVal + (nextVal - prevVal) * (rn - prevRn) / (nextRn - prevRn))
      .otherwise(coalesce(prevVal, nextVal)) // ffill then bfill edges
  }

  /** W5: sliding sequence of the last `steps` values of `c` (inclusive),
    * per key; pair with [[leadLabel]] and filter `size === steps` to get
    * the reference's (X, y) training pairs (04:71-85, 05:224-252). */
  def slidingSeq(c: Column, steps: Int, key: Column, order: Column*): Column =
    collect_list(c).over(byKey(key, order).rowsBetween(-(steps - 1), 0))

  /** W5: next-row label (`lead(target, 1)`). */
  def leadLabel(c: Column, key: Column, order: Column*): Column =
    lead(c, 1).over(byKey(key, order))

  /** P17: dense 0-based id per distinct key value, ordered (05:182).
    *
    * Two-pass dense rank (r18 — the verdict's single-partition-window
    * fix): the old `row_number() over (orderBy key)` funneled EVERY
    * distinct key through one partition — fine for the registered
    * dimension-sized use, a silent wall for any high-cardinality key.
    * Now the distinct keys are RANGE-partitioned (global sort order
    * across partitions, ascending nulls-first — the same order the
    * global window used), sorted within partitions, and zipped with
    * their global position (zipWithIndex's one extra count pass =
    * the per-partition-offset pass of the classic two-pass rank).
    * Values are identical: id = 0-based position in key order, emitted
    * as the same non-nullable int row_number produced; past
    * `Int.MaxValue` distinct keys the id fails with an
    * ArithmeticException instead of wrapping. */
  def denseId(df: DataFrame, key: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.select(col(key)).distinct()
      .repartitionByRange(col(key))
      .sortWithinPartitions(col(key))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idCol, org.apache.spark.sql.types.IntegerType, nullable = false))
    val rows = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), Math.toIntExact(i))
    }
    spark.createDataFrame(rows, schema)
  }

  /** W7: gap-based SESSIONIZATION — the classic event-analytics
    * operator (the general form of the reference's per-poll grouping):
    * per `keyCol` ordered by `tsCol`, a new session starts where the
    * gap to the previous event exceeds `gapSec`. session_idx is the
    * running count of session starts. Gaps compare in exact
    * MICROSECONDS (unix_micros — second-truncation would misclassify
    * a 1800.5 s gap on both sides differently). The cumulative sum
    * uses the DEFAULT RANGE frame deliberately: rows tied on the
    * timestamp aggregate the boundary flag together, so all ties land
    * in the same session no matter which physical row lag() saw first
    * — sessionization stays layout-invariant even on tied data. One
    * shuffle on the key; both window passes share it. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    df.withColumn("__prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("__new",
        (col("__prev").isNull ||
          unix_micros(col(tsCol)) - col("__prev") > gapSec * 1000000L)
          .cast("long"))
      .withColumn("session_idx", sum(col("__new")).over(w))
      .drop("__prev", "__new")
  }
}
