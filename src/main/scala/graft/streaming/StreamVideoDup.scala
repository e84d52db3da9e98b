package graft.streaming

import graft.ops.{Checkpoints, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING video near-dup dedup — the FIFTEENTH exactly-once
  * maintainer, completing the video family's batch (q199) /
  * incremental (q202) / streaming symmetry. [[StreamPhash]] covers
  * hash-per-blob modalities (image, audio); video is SET-valued (one
  * 60-bit hash per frame, near-dup = frame-set Jaccard ≥ p/q), so it
  * needs its own state layout — postings, not signatures.
  *
  * Per batch:
  *
  *  1. frame-hash every blob ONCE ([[Multimodal.videoFrameHashes]] —
  *     real per-frame dHash for animated GIF, chunk stub otherwise),
  *     reduce to DISTINCT frame-hash sets;
  *  2. candidates = in-batch pairs
  *     ([[graft.queries.Llm.setSimJoinSets]], the exact PPJoin core —
  *     batch-sized, prefix-pruned) ∪ batch-vs-state pairs
  *     ([[graft.queries.Llm.setSimProbePostings]] — the O(batch)
  *     cross-set probe: the state's posting stream is restricted
  *     scan-side to the batch's distinct frame hashes via a broadcast
  *     semi-join before anything shuffles). Both gates are the same
  *     rational p/q integers — no float thresholds;
  *  3. in-batch pairs drop the higher doc_id, cross pairs drop the
  *     batch side — first-wins, the [[StreamCuration]] operating
  *     point (streams cannot retract; the q199 batch run is the
  *     replayable backfill that restores min-id canonically).
  *
  * State: ONE `post/` child-dir root — (doc_id, fhash, n) postings
  * with each video's set cardinality DENORMALIZED onto every row (the
  * probe needs n_a per matched corpus video; storing it beside the
  * posting keeps the probe one join — re-deriving it would be a
  * corpus-wide groupBy per trigger). Every batch blob ingests,
  * dropped dups included (a later copy of a dropped dup must still
  * match through it). Media bytes never enter the state. The root is
  * doc_id-keyed, so [[graft.ops.Forget]] applies verbatim.
  *
  * Exactly-once: [[Maintainer]]; [[compactState]] folds bounded by
  * the marker.
  */
object StreamVideoDup {

  private val postDdl = "doc_id BIGINT, fhash BIGINT, n BIGINT"
  private val outDdl = "doc_id BIGINT, n_frames BIGINT"

  /** Start the stream: micro-batches of `source` (doc_id, media,
    * mime_hint) flow through [[processBatch]]. */
  def start(
      source: DataFrame,
      stateDir: String,
      outDir: String,
      p: Int = 4,
      q: Int = 5,
      chunkBytes: Int = 64): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, outDir, id,
        p, q, chunkBytes)
    }

  /** The kept (first-wins) videos across all committed batches. */
  def kept(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, outDir, outDdl)

  /** One micro-batch through the dedup — directly drivable (the
    * spec's ordered-drop harness). Returns false on replay skip or
    * empty batch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batchMedia: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long,
      p: Int = 4,
      q: Int = 5,
      chunkBytes: Int = 64): Boolean = {
    import spark.implicits._
    Maintainer.once(batchMedia, s"$stateDir/state", batchId) {
      val sets = Checkpoints.local(Multimodal.videoFrameHashes(batchMedia, chunkBytes)
        .groupBy($"doc_id")
        .agg(array_distinct(collect_list($"fhash")).as("gs")))
      val statePosts = graft.ops.Forget.exclude(
        graft.ops.Layouts.readChildren(
          spark, s"$stateDir/post", postDdl, beforeBatch = Some(batchId)),
        spark, stateDir)

      val inBatch = graft.queries.Llm.setSimJoinSets(sets, p, q)
        .select($"d2".as("doc_id")) // drop the higher id
      val cross = graft.queries.Llm.setSimProbePostings(
          statePosts.select($"doc_id", $"n", $"fhash".as("g")), sets, p, q)
        .select($"batch_doc".as("doc_id")) // drop the batch side
      val dropSet = inBatch.unionByName(cross).distinct()

      sets.join(dropSet, Seq("doc_id"), "left_anti")
        .select($"doc_id", size($"gs").cast("long").as("n_frames"))
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")

      // state commits AFTER the decisions — EVERY batch video ingests
      sets.select($"doc_id", explode($"gs").as("fhash"),
          size($"gs").cast("long").as("n"))
        .select($"doc_id", $"fhash", $"n")
        .write.mode("overwrite").parquet(s"$stateDir/post/b$batchId")
    }
  }

  /** Fold the per-batch state children below the commit marker
    * ([[Maintainer.foldCommitted]]). */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Maintainer.foldCommitted(spark, s"$stateDir/state", s"$stateDir/post")
}
