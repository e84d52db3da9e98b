package graft.streaming

import graft.ops.{IvfIndex, SemDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING semantic dedup — [[SemDedup.pruneIncremental]] driven by
  * embedding micro-batches, the seventh streaming maintainer: each
  * trigger scores the batch against the LIVE curated layout (touched
  * cell directories only) and appends ONLY the semantically novel
  * survivors back into it, so the corpus grows curated — the drop
  * posture running continuously.
  *
  * SEMANTICS — sequential-survivor, deliberately different from
  * [[SemDedup.prune]]'s one-pass rule: the layout holds survivors
  * only, so a batch vector is compared against PRIOR SURVIVORS (plus
  * its own batch's lower ids, one-pass within the trigger), not
  * against every prior vector. A vector whose only near-duplicate
  * was itself dropped earlier therefore SURVIVES here — this is what
  * a production curation loop does (dropped content is gone; it
  * cannot veto future content), and it is the fixpoint the batch
  * pipeline converges to under repeated apply. StreamSemDedupSpec
  * pins streamed ≡ the sequential batch replica, NOT ≡ the global
  * one-pass prune — the difference is the documented contract, not
  * drift.
  *
  * Exactly-once: [[Maintainer.once]] guarded at the layout path, the
  * [[StreamIndex]] arrangement (same append-layout crash window).
  */
object StreamSemDedup {

  /** Start curating a streaming (vec_id, embedding) frame into the
    * [[SemDedup.saveAssigned]]-shaped layout at `path` under the
    * frozen refined `model`.
    */
  def start(
      source: DataFrame,
      model: IvfIndex.IvfModel,
      path: String,
      checkpoint: String,
      tau: Double): StreamingQuery =
    Maintainer.start(source, checkpoint) { (batch, id) =>
      Maintainer.once(batch, path, id)(appendSurvivors(batch, model, path, tau))
    }

  /** One trigger's work: verdicts against the live layout, survivors
    * appended into their cell directories. The verdict frame already
    * carries the cell assignment — no second assignment pass.
    */
  private[graft] def appendSurvivors(
      batch: DataFrame,
      model: IvfIndex.IvfModel,
      path: String,
      tau: Double): Unit = {
    val spark = batch.sparkSession
    val verdicts = SemDedup.pruneIncremental(spark, path, model, batch, tau)
    val keep = verdicts
      .filter(col("keep") === 1L)
      .select(col("vec_id"), col("cell"))
    batch.join(keep, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"))
      .write.partitionBy("cell").mode("append").parquet(path)
  }

  /** The curated corpus (the read side). */
  def curated(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
