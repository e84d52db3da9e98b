package graft.streaming

import graft.ops.{Checkpoints, Lsh, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING media near-dup dedup — the FOURTEENTH exactly-once
  * maintainer, completing the image family's batch (q195) /
  * incremental (q196) / streaming symmetry exactly as
  * [[StreamCuration]] does for text — and MODALITY-GENERIC via the
  * `fingerprint` hook: the default hashes rasters
  * ([[Multimodal.imagePhash]]) and [[audioFingerprint]] plugs the
  * q198/q201 waveform hash into the identical maintainer (any 60-bit
  * signature rides [[Multimodal.phashBands]]' geometry — hashing is
  * the only modality-specific step, which is the point of the 60-bit
  * convention). Media micro-batches are
  * perceptually hashed (real 60-bit bits where the blob decodes,
  * md5 stub otherwise), first-wins deduped
  * against in-batch AND accumulated-corpus candidates, and the
  * survivors land in per-batch output children while the batch's
  * phashes join the state.
  *
  * Per batch:
  *
  *  1. phash every blob ONCE (the localCheckpoint'ed frame feeds both
  *     candidate passes, the drop decisions, and the state commit);
  *  2. candidates = in-batch [[Lsh.simhashCandidates]] ∪
  *     batch-vs-state [[Lsh.incrementalSimhashCandidates]] — BOTH are
  *     the EXACT sub-banded forms on [[Multimodal.phashBands]]'
  *     geometry, never the hot-bucket-drop cap: coarse hamming bands
  *     have only 1024 buckets per band, so every bucket goes hot once
  *     the accumulated corpus outgrows ~256 × 1024 rows per band and
  *     a capped probe would silently stop deduping (the q38
  *     rationale; a hot MINHASH bucket is degenerate boilerplate, a
  *     hot hamming bucket is just a big corpus). Exactness also keeps
  *     the q195 batch run an equivalent backfill. Every candidate
  *     verifies by exact popcount (hamming ≤ 5) before any drop;
  *  3. in-batch pairs drop the higher doc_id, cross pairs drop the
  *     batch side — first-wins, the [[StreamCuration]] operating
  *     point (streams cannot retract; the batch run is the replayable
  *     backfill that restores min-id canonically).
  *
  * State: ONE `ph/` child-dir root — (doc_id, phash, decoded), one
  * row per blob ever seen; media bytes never enter the state, and no
  * band table is persisted at all (the sub-banded probe re-keys the
  * corpus side per trigger from the 16-byte phash rows, restricted
  * scan-side to the batch's band keys first). The root is
  * doc_id-keyed, so [[graft.ops.Forget]] applies verbatim:
  * tombstoned docs stop matching at the next trigger
  * ([[graft.ops.Forget.exclude]] on the state read) and compact
  * removes them physically — note a dropped dup's phash also
  * ingested (a later copy must match through it), so an RTBF request
  * names the content's copies, not just the canonical.
  *
  * Exactly-once: [[Maintainer]]; [[compactState]] folds bounded by
  * the marker.
  */
object StreamPhash {

  private val outDdl = "doc_id BIGINT, phash BIGINT, decoded BOOLEAN"

  /** Start the stream: micro-batches of `source` (doc_id, media,
    * mime_hint) flow through [[processBatch]].
    *
    * `fingerprint` is the modality hook: any (doc_id, media,
    * mime_hint) → (doc_id, phash, decoded) op whose hash is 60-bit
    * (the [[Multimodal.phashBands]] geometry contract) plugs in —
    * [[Multimodal.imagePhash]] (default) for rasters,
    * [[audioFingerprint]] for waveforms. The maintainer itself is
    * modality-agnostic: hashing is the only modality-specific step.
    */
  def start(
      source: DataFrame,
      stateDir: String,
      outDir: String,
      maxBucket: Int = 256,
      fingerprint: DataFrame => DataFrame = Multimodal.imagePhash): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, outDir, id, maxBucket,
        fingerprint)
    }

  /** [[Multimodal.audioFingerprint]] in [[start]]'s fingerprint
    * contract (the ahash column renamed to the maintainer's phash). */
  def audioFingerprint(df: DataFrame): DataFrame =
    Multimodal.audioFingerprint(df).withColumnRenamed("ahash", "phash")

  /** The kept (first-wins) blobs across all committed batches. */
  def kept(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, outDir, outDdl)

  /** One micro-batch through the dedup — directly drivable (the
    * spec's ordered-drop harness). Returns false on replay skip or
    * empty batch.
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batchMedia: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long,
      maxBucket: Int = 256,
      fingerprint: DataFrame => DataFrame = Multimodal.imagePhash): Boolean = {
    import spark.implicits._
    Maintainer.once(batchMedia, s"$stateDir/state", batchId) {
      val ph = Checkpoints.local(fingerprint(batchMedia))
      // forget tombstones honored at probe time
      val seenPh = graft.ops.Forget.exclude(
        graft.ops.Layouts.readChildren(
          spark, s"$stateDir/ph", outDdl, beforeBatch = Some(batchId)),
        spark, stateDir)

      val inBatch = Lsh.simhashCandidates(
        Multimodal.phashBands(ph),
        bandBits = Multimodal.PhashBandBits,
        subBands = Multimodal.PhashSubBands,
        subBits = Multimodal.PhashSubBits, maxBucket = maxBucket)
      val cross = Lsh.incrementalSimhashCandidates(
        seenPh.select($"doc_id", $"phash".as("simhash")),
        ph.select($"doc_id", $"phash".as("simhash")),
        numBands = Multimodal.PhashNumBands,
        bandBits = Multimodal.PhashBandBits,
        subBands = Multimodal.PhashSubBands,
        subBits = Multimodal.PhashSubBits, maxBucket = maxBucket)
      // exact verify on the candidate-carried signatures; in-batch pairs
      // drop d2 (higher id), cross pairs drop the batch side — both are
      // the pair's second column, so one drop rule covers both streams
      val dropSet = inBatch.select($"d2", $"s1", $"s2")
        .unionByName(cross.select($"batch_doc".as("d2"), $"s1", $"s2"))
        .filter(expr("bit_count(s1 ^ s2) <= 5"))
        .select($"d2".as("doc_id")).distinct()

      ph.join(dropSet, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")

      // state commits AFTER the decisions — EVERY batch blob ingests
      // (a later dup of a dropped dup must still match through it)
      ph.write.mode("overwrite").parquet(s"$stateDir/ph/b$batchId")
    }
  }

  /** Fold the per-batch state children below the commit marker
    * ([[Maintainer.foldCommitted]]). */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Maintainer.foldCommitted(spark, s"$stateDir/state", s"$stateDir/ph")
}
