package graft.streaming

import graft.ops.{Checkpoints, CurationPipeline, Lsh}
import graft.queries.Llm
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING curation — the q100 pipeline (quality gate → exact dedup →
  * capped+verified MinHash-LSH near-dup drop → curated projection)
  * operating on document micro-batches instead of a static corpus,
  * closing the batch/stream parity of the flagship pipeline.
  *
  * Shape: `readStream → foreachBatch(processBatch)` — the production
  * incremental-ingest form (how Delta/Iceberg curation pipelines run),
  * NOT a state-store dedup on raw signatures: q100's near-dup rule
  * requires candidate VERIFICATION (exact Jaccard ≥ 0.35 on shingle
  * sets), which no built-in streaming dedup can express. Per batch:
  *
  *  1. gate + fingerprint ([[CurationPipeline]]'s exact expressions);
  *     batch-local survivors = min doc_id per fp, then an anti-join
  *     against the accumulated fingerprint state;
  *  2. near-dup candidates = in-batch capped pairs
  *     ([[Lsh.expandPairsCapped]]) ∪ batch-vs-state probes
  *     ([[Lsh.incrementalCandidatesFrom]] over the persisted band
  *     state — bucket-keyed, batch side broadcast, q74's posture);
  *     both verified by exact Jaccard against the persisted shingle
  *     sets before any drop;
  *  3. survivors land in the output's per-batch child; the batch's
  *     bands / shingle sets / fingerprints land in the state roots'
  *     per-batch children AFTER the decisions (a batch never
  *     suppresses itself against its own state).
  *
  * Batch-equivalence contract (StreamCurationSpec): feeding the corpus
  * as doc_id-ordered micro-batches yields EXACTLY q100's batch output —
  * under ordered arrival, first-wins across batches coincides with
  * q100's min-doc_id rule, and the in-batch logic IS q100's. For
  * out-of-id-order arrival the operator is first-wins (a later-arriving
  * smaller doc_id is suppressed instead of retracting the already-
  * emitted larger one — streams cannot retract); the batch pipeline is
  * the replayable backfill that restores min-id canonically, same as
  * [[EventStream.dedupNearDup]]'s documented operating point.
  *
  * Scale shape: state is signatures only (bands: 2 rows/doc; sets: one
  * prefix-shingle array/doc; fps: one (32-char hash, doc_id) row per
  * GATED doc) — text never enters the state; the state probes are
  * bucket-keyed equi-joins with
  * the batch side broadcast; per-drop cost is O(|batch|) like
  * [[graft.ops.IvfIndex.appendSaved]]. The hot-bucket cap applies to
  * the population VISIBLE at each drop (corpus-so-far + batch, exactly
  * [[Lsh.incrementalCandidatesFrom]]'s combined-population contract);
  * a bucket that only later exceeds the cap has already emitted its
  * early pairs — the backfill reconciles, the stream never expands a
  * visible-hot bucket.
  *
  * Exactly-once, everywhere: the state roots and the output are
  * [[graft.ops.Layouts.liveChildren]] child-dir layouts under
  * [[Maintainer]]'s protocol. Per-batch children are the small-file
  * tax; [[compactState]] folds them on the same schedule as the index
  * layouts.
  */
object StreamCuration {

  private val survivorsDdl =
    "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, n_tokens BIGINT, text STRING"

  /** Start the stream: every micro-batch of `source` (a streaming
    * documents frame: doc_id, lang, source, text) flows through
    * [[processBatch]] under its trigger's batch id.
    */
  def start(
      source: DataFrame,
      stateDir: String,
      outDir: String,
      maxBucket: Int = Llm.lshMaxBucket): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, outDir, id, maxBucket)
    }

  /** The curated output across all committed batches. */
  def curated(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, outDir, survivorsDdl)

  /** One micro-batch through the full curation — also directly drivable
    * (the spec's deterministic ordered-drop harness). Returns whether
    * the batch was processed (false = replay skipped or empty batch).
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batchDocs: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long,
      maxBucket: Int = Llm.lshMaxBucket): Boolean = {
    import spark.implicits._
    Maintainer.once(batchDocs, s"$stateDir/state", batchId) {
      val docs = Checkpoints.local(batchDocs)
      // in-batch signature frames, each consumed more than once
      val sets = Checkpoints.local(Llm.shingleSets(docs))
      val bands = Checkpoints.local(Llm.bandsOf(sets)
        .withColumn("bkey", concat_ws("|", col("band"), col("bsig"))))

      // 1. gate → fingerprint → exact dedup (batch-local min + state).
      // The fps state carries DOC-LEVEL PROVENANCE — one (fp, doc_id)
      // row per gated doc, including docs the batch itself drops as
      // exact dups — so a deletion request propagates with the same
      // idempotent doc_id anti-join as every other root (Forget.exclude
      // here, Forget.compact physically), and a forgotten doc's
      // fingerprint stops suppressing future identical text IMMEDIATELY
      // while a LIVING doc sharing the fp keeps suppressing through its
      // own row. The refcounted (fp, ndocs) alternative was rejected:
      // negative-delta decrements double-apply under a replayed or
      // duplicated forget request (provenance anti-joins are idempotent
      // by construction) and the live set would need a corpus-wide
      // sum-per-fp aggregation on EVERY batch read, where the
      // provenance rows feed the existing anti-join unchanged — at
      // ~1/(1−duprate)× the rows, signature-sized either way. A
      // PRE-provenance state dir (children holding fp only) fails this
      // read's projection on the first post-upgrade trigger — run
      // Layouts.adoptSchema(s"$stateDir/fps", "fp STRING, doc_id
      // BIGINT") once to migrate; its null-doc_id rows keep suppressing
      // duplicates but cannot be selectively forgotten (rebuild the
      // root for full forget coverage of pre-upgrade docs).
      val fp = Checkpoints.local(CurationPipeline.qualityGate(docs)
        .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " ")))))
      val seenFps = graft.ops.Forget.exclude(
        readState(spark, s"$stateDir/fps", "fp STRING, doc_id BIGINT", batchId),
        spark, stateDir)
      val keep = fp.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      val exact = fp
        .join(keep, Seq("fp", "doc_id"), "left_semi")
        .join(seenFps.select($"fp"), Seq("fp"), "left_anti")

      // 2. near-dup: candidates from both sides, then exact verify
      val inBatch = Lsh.expandPairsCapped(bands, Seq("band", "bsig"), "doc_id", maxBucket)
        .select($"d1", $"d2")
      // forget tombstones are honored AT PROBE TIME: a deletion request
      // (ops.Forget.tombstone) stops the near-dup pass — and, via the
      // provenance-carrying fps layout above, the exact-dup pass — from
      // matching against the forgotten docs immediately; physical
      // removal waits for Forget.compact's cadence over all THREE roots
      // (bands, sets, fps).
      val seenBands = graft.ops.Forget.exclude(
        readState(spark, s"$stateDir/bands",
          "bkey STRING, doc_id BIGINT", batchId), spark, stateDir)
      val cross = Lsh.incrementalCandidatesFrom(spark, seenBands, bands, maxBucket)
        .select(col("corpus_doc").as("d1"), col("batch_doc").as("d2"))
      val seenSets = graft.ops.Forget.exclude(
        readState(spark, s"$stateDir/sets",
          "doc_id BIGINT, gs ARRAY<STRING>", batchId), spark, stateDir)
      val verified = inBatch.union(cross).distinct()
        .join(seenSets.union(sets).select($"doc_id".as("d1"), $"gs".as("gs1")), "d1")
        .join(sets.select($"doc_id".as("d2"), $"gs".as("gs2")), "d2")
        .withColumn("inter", size(array_intersect($"gs1", $"gs2")))
        .withColumn("jac",
          $"inter".cast("double") / (size($"gs1") + size($"gs2") - $"inter"))
        .filter($"jac" >= 0.35)
      // in-batch pairs drop the higher id (q100's rule); cross pairs drop
      // the batch side — first-wins, ≡ q100 under ordered arrival
      val dropSet = verified.select($"d2".as("doc_id")).distinct()

      val survivors = exact.join(dropSet, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"),
          size(filter(split(col("text"), "[ \\t\\n\\x0B\\f\\r]+"), x => x =!= "")).cast("long").as("n_tokens"),
          col("text"))
      survivors.write.mode("overwrite").parquet(s"$outDir/b$batchId")

      // 3. state commits AFTER the decisions, each an idempotent
      // overwrite of this batch's child. Bands/sets ingest EVERY batch
      // doc (q100 computes pairs on the pre-gate corpus); fps ingest
      // gated docs (q100's exact-dedup domain).
      bands.select($"bkey", $"doc_id")
        .write.mode("overwrite").parquet(s"$stateDir/bands/b$batchId")
      sets.write.mode("overwrite").parquet(s"$stateDir/sets/b$batchId")
      fp.select($"fp", $"doc_id")
        .write.mode("overwrite").parquet(s"$stateDir/fps/b$batchId")
    }
  }

  /** Fold each state root's per-batch children (one lands per batch)
    * below the commit marker ([[Maintainer.foldCommitted]]) — run on
    * the same schedule as the index layouts' compaction; decisions are
    * state-CONTENT functions, so a fold never changes them
    * (StreamCurationSpec).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Maintainer.foldCommitted(spark, s"$stateDir/state",
      Seq("bands", "sets", "fps").map(d => s"$stateDir/$d"): _*)

  /** Accumulated state below the current batch id, or a typed empty
    * frame on first batch.
    */
  private def readState(
      spark: SparkSession, path: String, ddl: String, batchId: Long): DataFrame =
    graft.ops.Layouts.readChildren(spark, path, ddl, beforeBatch = Some(batchId))
}
