package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: each left row picks the latest right row for its key with
  * right time at-or-before the left time (deterministic tiebreak via the
  * struct's trailing fields). Left-outer semantics: unmatched left rows
  * keep a NULL `asof`.
  *
  * Two physical strategies with one semantic contract:
  *
  *  - [[packedHistory]] packs each key's right-side history into ONE
  *    sorted array (|keys| rows), joins it onto the left, and takes the
  *    last qualifying element. The left stream never shuffles and the
  *    |left|×|right-per-key| range-join intermediate never materializes
  *    (measured ~2× faster than the join+window form at sf0.1). Valid
  *    while every key's history fits in a row — orders-per-customer
  *    hundreds, not millions.
  *
  *  - [[rangeWindow]] is the unbounded-key fallback: an equi-join on the
  *    key with the range predicate in the join condition, then a
  *    row_number window keeps the latest qualifying match per left row.
  *    Shuffles both sides by key; per-key cost is
  *    |left_k|×|right_k ≤ t| rows before the window prunes — the price
  *    of not bounding history. Plain equi-join, so AQE skew-join
  *    splitting still applies to hot keys.
  *
  *  - [[auto]] measures the largest per-key history (one tiny
  *    aggregate over the right side) and picks the strategy — the
  *    documented row-size-threshold fallback.
  *
  * The right side is passed pre-projected as (key, asof-struct) where the
  * struct's FIRST field is the event time, so array sort order and
  * window descending order agree on (time, tiebreak...) lexicographic
  * struct comparison in both strategies.
  */
object AsOfJoin {

  /** Packed-history strategy. `broadcastHist` broadcasts the packed
    * per-key table (correct when |keys| is dimension-sized; leave false
    * to shuffle-join it at fact-sized key cardinality).
    */
  def packedHistory(
      left: DataFrame,
      leftKey: Column,
      leftTime: Column,
      right: DataFrame,
      rightKey: Column,
      asofStruct: Column,
      timeField: String,
      broadcastHist: Boolean = true): DataFrame = {
    val hist = right
      .groupBy(rightKey.as("__k"))
      .agg(sort_array(collect_list(asofStruct)).as("__hist"))
    val h = if (broadcastHist) broadcast(hist) else hist
    left
      .join(h, leftKey === col("__k"), "left")
      // try_element_at: an empty filtered history yields NULL (ANSI mode
      // makes plain element_at(..., -1) raise on the empty array).
      .withColumn("asof",
        try_element_at(
          filter(col("__hist"), hh => hh.getField(timeField) <= leftTime),
          lit(-1)))
      .drop("__k", "__hist")
  }

  /** Range-join + window fallback; `leftId` must uniquely identify left
    * rows (the window partition key).
    */
  def rangeWindow(
      left: DataFrame,
      leftKey: Column,
      leftTime: Column,
      leftId: Column,
      right: DataFrame,
      rightKey: Column,
      asofStruct: Column,
      timeField: String): DataFrame = {
    val r = right.select(rightKey.as("__k"), asofStruct.as("__a"))
    left
      .join(r, leftKey === col("__k") && col("__a").getField(timeField) <= leftTime, "left")
      .withColumn("__rn",
        row_number().over(Window.partitionBy(leftId).orderBy(col("__a").desc)))
      .filter(col("__rn") === 1)
      .withColumn("asof", col("__a"))
      .drop("__k", "__a", "__rn")
  }

  /** Threshold-selected strategy: packs history while the largest
    * per-key history is at most `maxHistPerKey` rows, else switches to
    * the custom sort-merge operator ([[graft.plans.AsOfMerge]] — one
    * buffered row of state, no packed-row cap, and measured faster
    * than the range-join+window form, which stays available as
    * [[rangeWindow]] for engines without the extension). The probe is
    * one count-per-key aggregate reduced to a single row — O(|right|)
    * scan, tiny shuffle. NOTE: the merge tier compares times with an
    * exact type match — cast left/right time columns to one type
    * upstream.
    */
  def auto(
      left: DataFrame,
      leftKey: Column,
      leftTime: Column,
      leftId: Column,
      right: DataFrame,
      rightKey: Column,
      asofStruct: Column,
      timeField: String,
      maxHistPerKey: Long = 100000L,
      broadcastHist: Boolean = true): DataFrame = {
    // materialize the right side ONCE: the threshold probe is an
    // action, and without this the whole upstream right-side pipeline
    // would execute twice — once for the count, once for the join
    // (the PageRank/BpeTrain/ConnectedComponents auto-probe rationale,
    // previously missing from exactly this operator)
    val rightM = Checkpoints.local(right)
    val maxHist = rightM.groupBy(rightKey).count()
      .agg(max("count")).collect()(0)
    val largest = if (maxHist.isNullAt(0)) 0L else maxHist.getLong(0)
    if (largest <= maxHistPerKey)
      packedHistory(left, leftKey, leftTime, rightM, rightKey, asofStruct, timeField, broadcastHist)
    else {
      val r = rightM.select(rightKey.as("__k"), asofStruct.as("__a"))
      // align the right time's type to the left's: the merge operator
      // requires exact type equality, and without this cast the packed
      // tier would accept (via HOF implicit casts) what the merge tier
      // rejects — a data-dependent planning cliff once a key's history
      // crosses the threshold
      graft.plans.AsOfMerge.join(
          left, leftKey, leftTime,
          r, col("__k"),
          col("__a").getField(timeField)
            .cast(graft.plans.AsOfMerge.resolve(left, leftTime).dataType),
          Seq(col("__a")))
        .withColumn("asof", col("__a"))
        .drop("__k", "__a")
    }
  }
}
