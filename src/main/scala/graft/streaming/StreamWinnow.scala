package graft.streaming

import graft.ops.WinnowState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING ExactSubstr scoring — [[WinnowState.probe]] driven by a
  * stream of document micro-batches: the winnow family's streaming
  * twin, completing the triad ([[StreamCuration]] for the LSH dedup
  * state, [[StreamIndex]] for the ANN layouts). Each trigger scores
  * its documents against corpus ∪ batch under the state's frozen pos
  * ladder and folds the batch's fingerprints in, so later batches see
  * earlier ones — ordered drops ≡ the same sequence of batch-mode
  * `probe(commit = true)` calls row for row (StreamWinnowSpec), which
  * WinnowStateSpec in turn proves ≡ a full q102 recompute.
  *
  * Exactly-once: [[Maintainer]], guarded beside the fps dir. Scores
  * overwrite `outDir/batch_<id>` and the state commit overwrites the
  * per-batch dir `fps/b<id>` ([[WinnowState.probe]]'s batchId mode)
  * instead of appending flat files — the winnow state has no
  * partitionBy layout to interleave batches into, so per-batch
  * directories come free and StreamIndex's append crash window does
  * not apply.
  *
  * Maintenance: the per-batch dirs are the small-file tax;
  * [[WinnowState.compactStream]] folds them into the flat fps dir on
  * the usual schedule with a token-guarded two-directory protocol
  * (crash-safe at every step — see its doc).
  */
object StreamWinnow {

  /** Start scoring a streaming (doc_id, t) document frame against the
    * [[WinnowState.save]]d state at `stateDir`; per-batch scores land
    * under `outDir/batch_<id>` with a `batch_id` column.
    */
  def start(
      source: DataFrame,
      stateDir: String,
      outDir: String,
      checkpoint: String,
      w: Int = 8): StreamingQuery =
    Maintainer.start(source, checkpoint) { (batch, id) =>
      scoreBatch(batch, stateDir, outDir, id, w)
    }

  /** One micro-batch: score + commit unless `batchId` is already
    * committed. Returns whether the batch was processed (false =
    * replay skipped or empty batch).
    */
  private[graft] def scoreBatch(
      batch: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long,
      w: Int): Boolean =
    Maintainer.once(batch, s"$stateDir/fps", batchId) {
      WinnowState.probe(batch, stateDir, w, commit = true,
        batchId = Some(batchId),
        sink = out => out.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId"))
    }

  /** All scored batches as one frame (the read side of `outDir`). */
  def scores(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/batch_*")
}
