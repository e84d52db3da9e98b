package graft.ops


import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Distributed total-order rank — `row_number() OVER (ORDER BY ...)`
  * without the single-partition window that makes the naive form a
  * one-task bottleneck (Spark plans an empty-partition-spec window as
  * an Exchange to ONE partition: the whole dataset sorts on one core).
  *
  * Classic two-phase form (the same shape as `zipWithIndex`):
  *
  *  1. range-repartition + sort within partitions on the rank key —
  *     partition i holds keys strictly before partition i+1's, so a
  *     global order exists across partition boundaries;
  *  2. count rows per partition (a tiny `numPartitions`-row action),
  *     prefix-sum the counts into per-partition rank offsets, broadcast
  *     the offset map;
  *  3. one narrow `mapPartitions` pass assigns `offset + local index`.
  *
  * Every partition ranks independently; nothing ever concentrates on
  * one task. Cost at 100 TB: the range exchange (which a global sort
  * needs anyway), one scan for the counts, one scan for the ranks —
  * the counts scan reads the localCheckpoint'ed shuffle output, not
  * the upstream pipeline. Ties are the caller's responsibility: pass
  * a total key (suffix a unique id) or accept partition-boundary
  * nondeterminism, same as any distributed sort.
  */
object GlobalRank {

  /** `df` plus a `rankCol` column holding the 1-based global rank in
    * `sortCols` order. Eager: phase 2's sizing action runs here.
    *
    * The partition blocks are taken through [[Checkpoints.local]], so
    * the enclosing [[Checkpoints.scope]] frees them; outside a scope
    * [[Checkpoints.release]] on the result (or on anything derived
    * from it) does, once it is fully materialized. The offset
    * broadcast is left to the ContextCleaner, like every broadcast-join
    * relation.
    *
    * The range-partition id is BAKED INTO the checkpointed rows as a
    * column, not read from `TaskContext` in the rank pass: a downstream
    * `coalesce(n)` (e.g. a single-file write) fuses many range
    * partitions into one task, where the task's partition id no longer
    * identifies the range partition — but each fused parent iterator
    * still runs this op's `mapPartitions` function separately, so the
    * per-iterator local index plus the per-ROW pid lookup stays correct
    * under any downstream coalescing.
    */
  def withRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String,
      numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val pidCol = "__graft_rank_pid"
    // materialize ONCE: the counts action and the rank pass must see
    // identical partitions, and neither should re-run the upstream
    // pipeline
    val ranged = Checkpoints.local(df
      .repartitionByRange(numPartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      // pid evaluated here, inside the checkpointed plan, while one
      // task still == one range partition
      .withColumn(pidCol, spark_partition_id()))
    val counts = ranged
      .groupBy(col(pidCol)).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val entry = (pid, acc); acc += n; entry
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val pidIdx = ranged.schema.fieldIndex(pidCol)
    val outSchema = StructType(
      ranged.schema.fields.patch(pidIdx, Nil, 1)).add(rankCol, LongType, nullable = false)
    ranged.mapPartitions { it =>
      // one invocation per range partition (coalesce concatenates
      // parent iterators, it does not merge them), so the local index
      // restarts exactly at each range-partition boundary
      var i = 0L
      it.map { r =>
        i += 1
        val off = bc.value(r.getInt(pidIdx))
        Row.fromSeq(r.toSeq.patch(pidIdx, Nil, 1) :+ (off + i))
      }
    }(Encoders.row(outSchema))
  }

  /** Per-GROUP 1-based rank — `row_number() OVER (PARTITION BY group
    * ORDER BY ...)` without the per-group window stripe that sorts a
    * dominant group (en ≈ half of any web corpus; a mega-source) in
    * ONE task. The q179 pattern, extracted: rank GLOBALLY in
    * (group..., sort...) order — ranks within a group are contiguous
    * there — then rk_in_group = grk − min_grk(group) + 1 via a
    * broadcast |groups|-row min-rank join. Every range partition ranks
    * independently regardless of how groups skew across them.
    *
    * Contract: the distinct group count must be broadcast-sized (the
    * min-rank frame is |groups| rows); `sortCols` must be a total key
    * within each group (same tie contract as [[withRank]]). Eager,
    * same retention as [[withRank]].
    */
  def withGroupRank(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rankCol: String,
      numPartitions: Int): DataFrame = {
    val grk = "__graft_group_grk"
    val ranked = withRank(
      df, groupCols.map(c => col(c).asc) ++ sortCols, grk, numPartitions)
    // min-rank agg and the final pass both read withRank's checkpointed
    // blocks — identical partitions, no upstream re-run
    val minRk = ranked
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(grk)).as("__graft_min_grk"))
    ranked
      .join(broadcast(minRk), groupCols)
      .withColumn(rankCol, col(grk) - col("__graft_min_grk") + lit(1L))
      .drop(grk, "__graft_min_grk")
  }

  /** Per-GROUP running sum including the current row —
    * `sum(value) OVER (PARTITION BY group ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)` without the group stripe: same two-phase shape as
    * [[withRank]], with per-(range-partition, group) partial sums in
    * place of row counts.
    *
    *  1. range-repartition + sort within partitions on
    *     (group..., sort...) — each group's rows are globally ordered
    *     across partition boundaries and contiguous within a partition;
    *  2. one tiny agg computes each (partition, group) slice's value
    *     sum (≤ numPartitions + |groups| rows: a group spans k
    *     partitions OR shares one — the frame is bounded by both),
    *     prefix-summed per group across partitions on the driver and
    *     broadcast;
    *  3. one narrow `mapPartitions` pass streams each partition once,
    *     resetting a local accumulator at group boundaries (groups are
    *     contiguous — the sort guarantees it) and adding the broadcast
    *     offset.
    *
    * Contract: `valueCol` must be LongType (exact BIGINT algebra — the
    * engine's oracle discipline); `sortCols` must be a total key within
    * each group (ties would make the running sum partition-dependent);
    * distinct group count broadcast-sized. Eager, same retention as
    * [[withRank]].
    */
  def withGroupPrefixSum(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      valueCol: String,
      outCol: String,
      numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(valueCol).dataType == LongType,
      s"withGroupPrefixSum sums exact BIGINTs; $valueCol is " +
        df.schema(valueCol).dataType.simpleString)
    val pidCol = "__graft_psum_pid"
    val orderCols = groupCols.map(c => col(c).asc) ++ sortCols
    val ranged = Checkpoints.local(df
      .repartitionByRange(numPartitions, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn(pidCol, spark_partition_id()))
    val groupIdx = groupCols.map(ranged.schema.fieldIndex)
    // per-(pid, group) slice sums; driver-side per-group prefix over
    // ascending pid → the offset each slice starts from
    val partials = ranged
      .groupBy((col(pidCol) +: groupCols.map(col)): _*)
      .agg(sum(col(valueCol)).as("__s"))
      .collect()
      .map { r =>
        (r.getInt(0), groupIdx.indices.map(i => r.get(i + 1)).toList,
          r.getLong(groupIdx.size + 1))
      }
    val offsets: Map[(Int, List[Any]), Long] = partials
      .groupBy(_._2)
      .flatMap { case (g, slices) =>
        var acc = 0L
        slices.sortBy(_._1).map { case (pid, _, s) =>
          val entry = ((pid, g), acc); acc += s; entry
        }
      }
    val bc = spark.sparkContext.broadcast(offsets)
    val pidIdx = ranged.schema.fieldIndex(pidCol)
    val valIdx = ranged.schema.fieldIndex(valueCol)
    val outSchema = StructType(
      ranged.schema.fields.patch(pidIdx, Nil, 1)).add(outCol, LongType, nullable = false)
    ranged.mapPartitions { it =>
      // groups are contiguous within a sorted range partition, so a
      // group change is exactly where the local accumulator resets;
      // one invocation per range partition survives downstream
      // coalescing for the same reason as withRank (per-row pid lookup)
      var curKey: List[Any] = null
      var acc = 0L
      it.map { r =>
        val key = groupIdx.map(r.get).toList
        if (key != curKey) { curKey = key; acc = 0L }
        acc += r.getLong(valIdx)
        val off = bc.value((r.getInt(pidIdx), key))
        Row.fromSeq(r.toSeq.patch(pidIdx, Nil, 1) :+ (off + acc))
      }
    }(Encoders.row(outSchema))
  }
}
