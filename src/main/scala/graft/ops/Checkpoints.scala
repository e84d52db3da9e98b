package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** The one owner of `localCheckpoint` storage: every checkpoint in
  * the engine is taken through [[local]], and freed either by an
  * explicit [[release]] or when the innermost [[scope]] open on the
  * calling thread closes — the way the reference coordinator deletes a
  * job's `temp` data once the job ends, on success or failure.
  *
  * Outside any scope [[local]] registers nothing: the storage lives
  * until a [[release]], or until the ContextCleaner reaps the plan.
  *
  * `Dataset.unpersist()` is a NO-OP for checkpointed frames: it only
  * uncaches CacheManager entries (`df.cache()`), while localCheckpoint
  * persists the materialized RDD directly — verified on this Spark:
  * after a `localCheckpoint` and `unpersist(true)` the RDD still sits
  * in `sc.getPersistentRDDs`, and without this helper every "released"
  * intermediate in the iterative operators actually lingered until a
  * driver GC let ContextCleaner reap it nondeterministically. The
  * checkpointed Dataset's plan is a [[LogicalRDD]] over exactly the
  * persisted RDD, so unpersisting THAT RDD is the real release
  * (CheckpointsSpec pins it against `getPersistentRDDs`).
  */
object Checkpoints {

  /** Open scopes on this thread, innermost first. A plain (not
    * inheritable) ThreadLocal: a pool thread never sees its spawner's
    * scope, so the spawner adopts what it gets back with [[own]].
    */
  private val scopes = new ThreadLocal[List[ArrayBuffer[Dataset[_]]]] {
    override def initialValue(): List[ArrayBuffer[Dataset[_]]] = Nil
  }

  /** `ds` checkpointed locally (eager), registered with the innermost
    * open scope.
    */
  def local[T](ds: Dataset[T]): Dataset[T] = own(ds.localCheckpoint())

  /** Register every checkpoint leaf of `ds`'s plan with the innermost
    * open scope (a no-op outside any scope); returns `ds`.
    */
  def own[T](ds: Dataset[T]): Dataset[T] = {
    scopes.get.headOption.foreach(_ += ds)
    ds
  }

  /** Run `body`; on the way out, success or throw, [[release]] every
    * frame registered in this scope. An enclosing scope keeps its own
    * registrations.
    */
  def scope[A](body: => A): A = {
    val mine = ArrayBuffer.empty[Dataset[_]]
    val outer = scopes.get
    scopes.set(mine :: outer)
    try body
    finally {
      scopes.set(outer)
      mine.foreach(release)
    }
  }

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
    * A plain `local(df.repartition(parts, key))` loses the
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
    val cp = local(df.repartition(parts, col(key)))
    cp.queryExecution.logical match {
      case lr: LogicalRDD if lr.rdd.getNumPartitions == parts =>
        val k = lr.output.filter(_.name == key)
        require(k.size == 1, s"localByKey: no unique column $key in ${lr.output}")
        // the re-wrapped leaf holds the same RDD, so the scope
        // registration above already covers it
        GraftSqlBridge.ofRows(cp.sparkSession, lr.makeCopy(Array[AnyRef](
          lr.output, lr.rdd, HashPartitioning(k, parts), lr.outputOrdering,
          Boolean.box(lr.isStreaming), lr.stream)))
      case _ => cp
    }
  }
}
