package graft.streaming

import graft.ops.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING index maintenance — [[IvfIndex.appendSaved]] driven by a
  * stream of embedding micro-batches: the ingest half of a production
  * vector index (new documents are embedded upstream and must become
  * searchable within a trigger, not at the next nightly rebuild).
  *
  * Shape: `readStream → foreachBatch(append)`. Each micro-batch
  * assigns + appends under the FROZEN centroids (cost O(|batch|), the
  * q74/appendSaved posture); probes of the live layout see every
  * committed batch with partition pruning intact (IndexAppendSpec's
  * contract — append ≡ rebuild under the same model).
  *
  * Exactly-once: [[Maintainer.once]] with the marker beside the
  * layout (`path + "__commits"`, the [[graft.ops.IndexDrift.statsPath]]
  * sidecar convention, so an [[IvfIndex.compactSaved]] republish
  * cannot drop it), including its append-layout crash-window caveat.
  *
  * Maintenance cadence composes with the batch operators unchanged:
  * [[IvfIndex.compactSaved]] for the small-file tax,
  * [[graft.ops.IndexDrift.probeIvf]] on a schedule for the frozen
  * model's drift verdict (StreamIndexSpec runs the full loop).
  */
object StreamIndex {

  /** Start maintaining a [[IvfIndex.save]]d float layout from a
    * streaming (vec_id, embedding) frame.
    */
  def start(
      source: DataFrame,
      centroids: Array[Array[Float]],
      path: String,
      checkpoint: String): StreamingQuery =
    startWith(source, path, checkpoint,
      b => IvfIndex.appendSaved(b, centroids, path))

  /** Same maintenance loop over the compressed [[graft.ops.IvfPq]]
    * layout — the frozen model is the IVF-PQ pair, the appends are
    * residual-encoded codes; marker semantics identical.
    */
  def startPq(
      source: DataFrame,
      model: graft.ops.IvfPq.IvfPqModel,
      codesPath: String,
      checkpoint: String): StreamingQuery =
    startWith(source, codesPath, checkpoint,
      b => graft.ops.IvfPq.appendSaved(b, model, codesPath))

  private def startWith(
      source: DataFrame,
      path: String,
      checkpoint: String,
      append: DataFrame => Unit): StreamingQuery =
    Maintainer.start(source, checkpoint) { (batch, id) =>
      Maintainer.once(batch, path, id)(append(batch))
    }
}
