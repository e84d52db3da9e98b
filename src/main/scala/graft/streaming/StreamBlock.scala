package graft.streaming

import graft.ops.BlockState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING boilerplate removal — [[BlockState.probe]] driven by a
  * stream of document micro-batches: the passage-index family's
  * streaming twin, completing the symmetry that every
  * batch-incremental operator in the repo has a stream form
  * ([[StreamCuration]] near-dups, [[StreamWinnow]] substrings,
  * [[StreamIndex]] ANN layouts, [[StreamLexIndex]] postings,
  * [[StreamSemDedup]] cells, the sketch maintainers). Each trigger
  * cleans its documents against corpus ∪ batch under the state's
  * frozen block geometry and folds the batch's block counts in, so a
  * passage that becomes boilerplate ACROSS drops starts being removed
  * the moment its count crosses the threshold — ordered drops ≡ the
  * same sequence of batch-mode `probe(commit = true)` calls row for
  * row (StreamBlockSpec), which BlockStateSpec in turn proves ≡ the
  * full q110 recompute restricted to each batch.
  *
  * Exactly-once: [[Maintainer]], guarded beside the blocks dir.
  * Cleaned output overwrites `outDir/batch_<id>`, the state commit
  * overwrites the per-batch child `blocks/b<id>` ([[BlockState.probe]]'s
  * batchId mode, which also excludes children at/above the id from the
  * probed state).
  *
  * Maintenance: [[compactStream]] folds the per-batch children below
  * [[Maintainer.foldBound]].
  */
object StreamBlock {

  /** Start cleaning a streaming (doc_id, text) document frame against
    * the [[BlockState.save]]d state at `stateDir`; per-batch cleaned
    * docs land under `outDir/batch_<id>` with a `batch_id` column.
    */
  def start(
      source: DataFrame,
      stateDir: String,
      outDir: String,
      checkpoint: String,
      minDocs: Int = 3,
      blockTokens: Int = 10): StreamingQuery =
    Maintainer.start(source, checkpoint) { (batch, id) =>
      cleanBatch(batch, stateDir, outDir, id, minDocs, blockTokens)
    }

  /** One micro-batch: clean + commit unless `batchId` is already
    * committed. Returns whether the batch was processed (false =
    * replay skipped or empty batch).
    */
  private[graft] def cleanBatch(
      batch: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long,
      minDocs: Int = 3,
      blockTokens: Int = 10): Boolean =
    Maintainer.once(batch, s"$stateDir/blocks", batchId) {
      BlockState.probe(batch, stateDir,
          minDocs = minDocs, blockTokens = blockTokens,
          commit = true, batchId = Some(batchId))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }

  /** Fold the accumulated per-batch state children below the commit
    * marker ([[Maintainer.foldBound]]).
    */
  def compactStream(spark: SparkSession, stateDir: String): Unit =
    BlockState.compact(spark, stateDir,
      beforeBatch = Maintainer.foldBound(spark, s"$stateDir/blocks"))

  /** All cleaned batches as one frame (the read side of `outDir`). */
  def cleaned(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/batch_*")
}
