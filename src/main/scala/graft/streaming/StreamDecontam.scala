package graft.streaming

import graft.ops.Decontam
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING benchmark decontamination — [[Decontam.probe]] driven by
  * a stream of document micro-batches: every incoming drop is
  * screened against the persisted evaluation-gram state at ingest,
  * completing the stream-twin symmetry for the decontamination family
  * (every batch-incremental operator in the repo has a stream form —
  * [[StreamCuration]] near-dups, [[StreamWinnow]] substrings,
  * [[StreamBlock]] passages, [[StreamIndex]]/[[StreamLexIndex]]
  * retrieval layouts, [[StreamSemDedup]] cells, the sketch
  * maintainers).
  *
  * Deliberately SIMPLER than the other maintainers: the benchmark
  * state is READ-ONLY at probe time (a new benchmark version is a
  * fresh [[Decontam.save]], the ANN-retrain posture), so there are no
  * per-batch state children to commit, no commit marker, and no
  * own-batch-exclusion hazard. Exactly-once needs only the output
  * protocol: each trigger OVERWRITES `outDir/batch_<id>`, so a
  * replayed batch id rewrites the identical report (the gram probe is
  * deterministic) and a crashed partial write is clobbered by the
  * replay. The gram-width geometry guard is [[Decontam.probe]]'s own:
  * probing at a width other than the frozen one fails loudly before
  * any output is written.
  *
  * Scale shape per trigger = the batch probe's: the benchmark gram
  * table broadcasts, the batch's gram stream flows scan-side, and the
  * only exchange is the contamination-sized per-doc aggregation.
  */
object StreamDecontam {

  /** Start screening a streaming (doc_id, text) document frame
    * against the [[Decontam.save]]d benchmark at `stateDir`;
    * per-batch flagged docs land under `outDir/batch_<id>` with a
    * `batch_id` column (q137's output schema: doc_id, n_hit_grams,
    * n_eval_docs).
    */
  def start(
      source: DataFrame,
      stateDir: String,
      outDir: String,
      checkpoint: String,
      gramTokens: Int = 8): StreamingQuery =
    Maintainer.start(source, checkpoint) { (batch, id) =>
      probeBatch(batch, stateDir, outDir, id, gramTokens)
    }

  /** One micro-batch: probe + overwrite the per-batch report.
    * Returns whether a report was written (false = empty batch; an
    * empty batch writes nothing, and a replayed non-empty batch
    * overwrites its own report idempotently).
    */
  private[graft] def probeBatch(
      batch: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long,
      gramTokens: Int = 8): Boolean = {
    if (batch.isEmpty) return false
    Decontam.probe(batch, stateDir, gramTokens)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    true
  }

  /** All flagged batches as one frame (the read side of `outDir`). */
  def flagged(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/batch_*")
}
