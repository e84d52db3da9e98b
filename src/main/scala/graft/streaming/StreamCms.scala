package graft.streaming

import graft.ops.CmsState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING point-frequency counting — [[CmsState.add]] driven by
  * micro-batches: the sixth streaming maintainer, completing the
  * sketch pair with [[StreamDistinct]]. CMS sum-merge is NOT
  * idempotent (a re-summed batch double-counts), but exactly-once
  * still needs no commit marker here: each trigger overwrites its
  * own batch-id child, a replayed trigger rewrites the identical
  * child, and the read-side SUM over children cannot move — replay
  * safety carried entirely by the [[graft.ops.Layouts]] child-dir
  * layout (CmsStateSpec pins the layout property; the spec here pins
  * the plumbing: streamed drops ≡ a full rebuild bit-for-bit across
  * a checkpoint restart).
  *
  * Requires [[CmsState.save]] to have frozen (d, w) first (an empty
  * corpus save is fine for a from-scratch stream).
  */
object StreamCms {

  /** Start folding a streaming frame's (`keyCol`, `valCol`) pairs
    * into the counter state at `stateDir`.
    */
  def start(
      source: DataFrame,
      stateDir: String,
      keyCol: String,
      valCol: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      if (!batch.isEmpty)
        CmsState.add(batch, stateDir, keyCol, valCol, batchId = Some(id))
    }

  /** Current point estimates for `items` (key, v) — the read side. */
  def estimates(spark: SparkSession, stateDir: String, items: DataFrame): DataFrame =
    CmsState.pointEstimate(spark, stateDir, items)
}
