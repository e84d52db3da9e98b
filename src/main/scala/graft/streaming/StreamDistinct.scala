package graft.streaming

import graft.ops.HllState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING distinct counting — [[HllState.add]] driven by document
  * micro-batches: the fourth streaming maintainer (curation state →
  * [[StreamCuration]], ANN layouts → [[StreamIndex]], winnow
  * fingerprints → [[StreamWinnow]], heavy hitters → [[StreamTopK]]),
  * and the simplest: HLL max-merge is IDEMPOTENT, so each trigger's
  * per-batch child overwrite is exactly-once with no commit marker,
  * no own-child exclusion, and no crash window at all — a replayed
  * trigger rewrites the identical child and the merged registers
  * cannot move (HllStateSpec pins the idempotence; the spec here
  * pins the plumbing: streamed drops ≡ a full rebuild bit-for-bit).
  *
  * Requires [[HllState.save]] to have frozen the precision first
  * (an empty corpus save is fine for a from-scratch stream).
  */
object StreamDistinct {

  /** Start folding a streaming frame's (`keyCol`, `valCol`) pairs
    * into the register state at `stateDir`.
    */
  def start(
      source: DataFrame,
      stateDir: String,
      keyCol: String,
      valCol: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      if (!batch.isEmpty)
        HllState.add(batch, stateDir, keyCol, valCol, batchId = Some(id))
    }

  /** Current per-key estimates (the read side). */
  def estimates(spark: SparkSession, stateDir: String): DataFrame =
    HllState.estimate(spark, stateDir)
}
