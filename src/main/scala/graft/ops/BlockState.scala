package graft.ops

import graft.queries.Curation
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental repeated-passage (boilerplate) removal — q110 in the
  * daily-drop posture, completing the incremental family
  * ([[Lsh.saveBands]] = near-dup, [[WinnowState]] = ExactSubstr,
  * [[ConnectedComponents.updateLabels]] = clusters, this = passage
  * index): persist the corpus's per-block-hash distinct-doc counts
  * ONCE, then clean each new batch against corpus ∪ batch without
  * re-reading corpus text.
  *
  * State: a [[Layouts.liveChildren]] child-dir layout of (bh, ndocs)
  * partial counts — `blocks/base` from [[save]], `blocks/b<id>` per
  * drop (summed at read; [[compact]] folds them) — plus a sidecar
  * freezing the BLOCK GEOMETRY (blockTokens): a probe under a
  * different alignment hashes different passages, so a mismatch
  * fails loudly instead of silently missing boilerplate. The
  * per-drop child OVERWRITE makes a retried drop idempotent (the
  * round-9 review found the original flat append double-counted a
  * replayed batch's blocks, pushing them over minDocs spuriously —
  * the same fix as [[WinnowState.probe]]'s batchId mode), and a
  * probe's state read excludes children at/above its own batch id
  * (a crashed attempt's commit must not count the batch against
  * itself).
  *
  * Probe scale shape: corpus state is only ever SCANNED — the batch's
  * block-hash set broadcasts into a left-semi that restricts state
  * scan-side, the per-bh sum then runs on a batch-sized frame, and
  * reconstruction is the batch's own blocks. O(|batch| tokens) work
  * + one state scan per drop.
  *
  * Equivalence contract (BlockStateSpec): probe(batch) is
  * row-identical to [[Curation.removeBoilerplateBlocks]] over
  * corpus ∪ batch restricted to the batch's documents. Caveat shared
  * with every incremental apply here: corpus documents already
  * emitted are not retroactively re-cleaned when a batch pushes a
  * block over the threshold — re-apply on the usual rebuild cadence.
  */
object BlockState {

  /** Build the state from the current corpus. */
  def save(docs: DataFrame, dir: String, blockTokens: Int = 10): Unit = {
    val spark = docs.sparkSession
    Curation.blockFrame(docs, blockTokens)
      .groupBy(col("bh")).agg(countDistinct(col("doc_id")).as("ndocs"))
      .write.mode("overwrite").parquet(s"$dir/blocks/base")
    writeGeometry(spark, dir, blockTokens)
  }

  /** Clean a batch against corpus ∪ batch; when `commit`, fold the
    * batch's block counts into the state (decisions first, commit
    * after). `batchId` switches the commit from a flat append into an
    * idempotent OVERWRITE of `blocks/b<id>` AND excludes children at
    * or above the id from the probed state (replay hygiene). Output
    * is q110's exact schema (doc_id, n_blocks, n_rm, clean_text),
    * batch rows only, checkpointed into the caller's
    * [[Checkpoints.scope]].
    */
  def probe(
      batch: DataFrame,
      dir: String,
      minDocs: Int = 3,
      blockTokens: Int = 10,
      commit: Boolean = true,
      batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val frozen = readGeometry(spark, dir)
    require(frozen == blockTokens,
      s"probe at blockTokens=$blockTokens against state frozen at $frozen — " +
        "a different alignment hashes different passages; rebuild with " +
        "BlockState.save or probe at the frozen geometry")
    val blocks = Checkpoints.local(Curation.blockFrame(batch, blockTokens))
    val batchNd = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("bdocs"))
    val stateNd = relevantState(spark, dir,
        blocks.select(col("bh")).distinct(), beforeBatch = batchId)
      .groupBy(col("bh")).agg(sum(col("ndocs")).as("cdocs"))
    val totals = batchNd.join(stateNd, Seq("bh"), "left")
      .select(col("bh"),
        (col("bdocs") + coalesce(col("cdocs"), lit(0L))).as("ndocs"))
    val out = Checkpoints.local(Curation.reconstructClean(blocks.join(totals, "bh"), minDocs))
    if (commit) {
      val nd = batchNd.select(col("bh"), col("bdocs").as("ndocs"))
      batchId match {
        case Some(id) => nd.write.mode("overwrite").parquet(s"$dir/blocks/b$id")
        case None => nd.write.mode("append").parquet(s"$dir/blocks/base")
      }
    }
    Checkpoints.release(blocks)
    out
  }

  /** Fold the accumulated children back to one, merging partial
    * counts by sum — [[Layouts.foldChildren]]'s crash-safe protocol.
    * `beforeBatch` bounds the fold for stream-maintained state (see
    * foldChildren's contract).
    */
  def compact(spark: SparkSession, dir: String,
      beforeBatch: Option[Long] = None): Unit =
    Layouts.foldChildren(spark, s"$dir/blocks",
      _.groupBy(col("bh")).agg(sum(col("ndocs")).as("ndocs")),
      beforeBatch = beforeBatch)

  /** State rows for the probed block hashes — broadcast left-semi,
    * corpus state never shuffles. Package-private for the spec's plan
    * assertion.
    */
  private[graft] def relevantState(
      spark: SparkSession, dir: String, probeBhs: DataFrame,
      beforeBatch: Option[Long] = None): DataFrame =
    Layouts.readChildren(spark, s"$dir/blocks", "bh BIGINT, ndocs BIGINT",
        beforeBatch)
      .join(broadcast(probeBhs), Seq("bh"), "left_semi")

  private def geomPath(dir: String) = new Path(s"$dir/_geometry")

  private def writeGeometry(spark: SparkSession, dir: String, blockTokens: Int): Unit = {
    val p = geomPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layouts.writeSidecar(fs, p, s"$blockTokens\n")
  }

  private[graft] def readGeometry(spark: SparkSession, dir: String): Int = {
    val p = geomPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layouts.readSidecar(fs, p).getOrElse(
      throw new IllegalArgumentException(
        s"no block state at $dir — run BlockState.save first")).trim.toInt
  }
}
