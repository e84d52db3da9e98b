package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Deterministic release of `localCheckpoint()` storage.
  *
  * `Dataset.unpersist()` is a NO-OP for checkpointed frames: it only
  * uncaches CacheManager entries (`df.cache()`), while localCheckpoint
  * persists the materialized RDD directly — verified on this Spark:
  * after `df.localCheckpoint(); df.unpersist(true)` the RDD still sits
  * in `sc.getPersistentRDDs`, and without this helper every "released"
  * intermediate in the iterative operators actually lingered until a
  * driver GC let ContextCleaner reap it nondeterministically. The
  * checkpointed Dataset's plan is a [[LogicalRDD]] over exactly the
  * persisted RDD, so unpersisting THAT RDD is the real release
  * (CheckpointsSpec pins it against `getPersistentRDDs`).
  */
object Checkpoints {

  /** Free the storage behind a `localCheckpoint()`ed Dataset. Safe on
    * any Dataset — frames with no checkpoint in their plan are left
    * untouched. Walks the WHOLE plan and unpersists every
    * [[LogicalRDD]] leaf, so it also releases frames DERIVED from a
    * checkpoint (`checkpointed.select(...)`), not just the Dataset
    * `localCheckpoint()` returned — a root-only match would silently
    * no-op on those, reverting to the GC-dependent leak this helper
    * exists to fix. Corollary: a frame reading MULTIPLE checkpoints
    * releases all of them; don't pass a join of checkpoints you only
    * half-own.
    */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.logical.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `df` hash-partitioned by `key` into `parts` partitions and
    * localCheckpoint'ed, with that layout still DECLARED on the
    * checkpoint, so a later `groupBy`/`join` whose keys include `key`
    * plans no exchange.
    *
    * A plain `repartition(parts, key).localCheckpoint()` loses the
    * layout under AQE: the checkpoint's [[LogicalRDD]] copies the
    * partitioning of the executed plan, and an `AdaptiveSparkPlanExec`
    * root reports `UnknownPartitioning(0)`, so every consumer
    * re-shuffles the rows the checkpoint already grouped (the same
    * checkpoint taken from a non-adaptive plan reads
    * `hashpartitioning(key, parts)`). The rows ARE laid out by the
    * repartition's hash, so this re-wraps the leaf with the
    * partitioning the exchange produced; stats and the persisted RDD
    * are the checkpoint's own, so broadcast decisions and
    * [[release]] are unchanged. The layout is declared only when the
    * checkpointed RDD has exactly `parts` partitions; otherwise the
    * plain checkpoint is returned.
    */
  def localByKey(df: DataFrame, key: String, parts: Int): DataFrame = {
    val cp = df.repartition(parts, col(key)).localCheckpoint()
    cp.queryExecution.logical match {
      case lr: LogicalRDD if lr.rdd.getNumPartitions == parts =>
        val k = lr.output.filter(_.name == key)
        require(k.size == 1, s"localByKey: no unique column $key in ${lr.output}")
        GraftSqlBridge.ofRows(cp.sparkSession, lr.makeCopy(Array[AnyRef](
          lr.output, lr.rdd, HashPartitioning(k, parts), lr.outputOrdering,
          Boolean.box(lr.isStreaming), lr.stream)))
      case _ => cp
    }
  }
}
