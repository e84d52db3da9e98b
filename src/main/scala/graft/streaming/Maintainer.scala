package graft.streaming

import graft.ops.{Checkpoints, Layouts}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The exactly-once trigger skeleton every streaming maintainer runs
  * on — the one place that knows the protocol.
  *
  * foreachBatch is AT-LEAST-once on restart: the sink checkpoint
  * replays the last uncommitted trigger. A maintainer makes that
  * replay safe by committing outputs LAST, the all-or-nothing move of
  * the reference's straggler race:
  *
  *  1. every write of a trigger is an idempotent OVERWRITE of that
  *     batch's own `b<id>` child, and reads during the trigger exclude
  *     children at or above the id
  *     ([[Layouts.liveChildrenBefore]]) — so a replay after a crash
  *     anywhere mid-batch sees exactly the pre-crash state view and
  *     rewrites bit-identical children;
  *  2. a batch-id commit marker (`guard + "__commits"`, a sidecar
  *     BESIDE the guarded root so a fold or republish of the root
  *     cannot drop it) advances LAST — [[once]] skips any batch id at
  *     or below it, and advances it on empty batches too (a replayed
  *     empty trigger must not block later ids behind a stale marker);
  *  3. compaction folds only children below `committed + 1`
  *     ([[foldCommitted]]) — a crashed attempt's own child must stay
  *     unfolded, or the replay's own-batch exclusion cannot see it
  *     inside a `fold_` name and the batch is judged against itself;
  *  4. each guarded trigger body runs inside one
  *     [[Checkpoints.scope]]: every checkpoint the trigger takes
  *     ([[Checkpoints.local]], its ops' own included) is released
  *     when the trigger ends, on success AND failure — a retrying
  *     trigger that failed would otherwise leak one batch of blocks
  *     per attempt.
  *
  * Maintainers whose state merge is idempotent (HLL max, CMS sums
  * over per-batch children, skyline, lexical postings, decontam
  * reports) need no marker and use only [[start]] and
  * [[Checkpoints.scope]].
  *
  * Append-only layouts (the IVF / IVF-PQ cells [[StreamIndex]] and
  * [[StreamSemDedup]] maintain) cannot overwrite a per-batch child, so
  * a crash BETWEEN the append and the marker write replays one batch's
  * files — run [[graft.ops.Layouts.dedupPartitioned]] to reconcile, or
  * use a transactional table format in production.
  */
object Maintainer {

  /** Wire `source` to `trigger` through foreachBatch, the sink
    * checkpoint at `checkpoint`.
    */
  def start(source: DataFrame, checkpoint: String)(
      trigger: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) => trigger(batch.toDF(), id) }
      .start()

  /** One guarded trigger: skip a replay at or below the marker at
    * `guard`, advance the marker on an empty batch, otherwise run
    * `body` inside a [[Checkpoints.scope]] and write the marker LAST.
    * Returns whether `body` ran.
    */
  def once(batch: DataFrame, guard: String, batchId: Long)(
      body: => Unit): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, guard)) return false
    val wrote = !batch.isEmpty
    if (wrote) Checkpoints.scope(body)
    writeCommitted(spark, guard, batchId)
    wrote
  }

  /** The fold bound for roots guarded by the marker at `guard`:
    * `committed + 1`, UNCONDITIONALLY (`Some(0)` before the first
    * commit — a first-trigger crash can leave `b0` written with no
    * marker yet).
    */
  def foldBound(spark: SparkSession, guard: String): Option[Long] =
    Some(committedBatch(spark, guard) + 1)

  /** Fold each root's per-batch children below [[foldBound]] with
    * [[Layouts.foldChildren]]'s crash-safe protocol.
    */
  def foldCommitted(spark: SparkSession, guard: String, roots: String*): Unit = {
    val bound = foldBound(spark, guard)
    roots.foreach(r => Layouts.foldChildren(spark, r, beforeBatch = bound))
  }

  private def markerPath(guard: String) = new Path(guard + "__commits")

  /** The last committed batch id at `guard`, −1 before the first. */
  def committedBatch(spark: SparkSession, guard: String): Long = {
    val p = markerPath(guard)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layouts.readSidecar(fs, p).map(_.trim.toLong).getOrElse(-1L)
  }

  /** Record `id` as the last committed batch at `guard` — an atomic
    * temp+rename ([[Layouts.writeSidecar]]): a torn in-place overwrite
    * would wedge every later trigger behind a NumberFormatException,
    * or invite a manual delete that resets the marker to −1 and lets
    * the replayed batch write twice.
    */
  def writeCommitted(spark: SparkSession, guard: String, id: Long): Unit = {
    val p = markerPath(guard)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layouts.writeSidecar(fs, p, s"$id\n")
  }
}
