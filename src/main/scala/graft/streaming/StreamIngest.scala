package graft.streaming

import graft.ops.{Checkpoints, Html, Warc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING WARC ingestion — the SIXTEENTH exactly-once maintainer,
  * putting q211's web front door on the streaming tier: micro-batches
  * of raw crawl files (file, bytes) are record-framed ([[Warc]]),
  * HTTP-stripped, content-extracted ([[Html.mainContent]]) and the
  * clean per-page rows land in per-batch output children — the feed
  * [[StreamCuration]] (gates + dedup) consumes downstream. This
  * maintainer is deliberately STATELESS per batch: ingestion owns
  * parse + extract; identity (dedup, first-wins) is the downstream
  * maintainers' contract, so nothing here ever grows with the corpus.
  *
  * Per batch:
  *  1. frame every file's records (byte-counted Content-Length
  *     framing, gzip-aware, one record in flight — the [[Warc]]
  *     contract);
  *  2. files that yield ZERO records but carry bytes, AND files whose
  *     tail the parser had to drop (truncated mid-record — partial
  *     parses would otherwise under-ingest silently, the round-14
  *     advice), are QUARANTINED — (file, n_bytes, n_records,
  *     truncated) rows from [[Warc.fileAudit]] in their own child-dir
  *     root, the loud counterpart of [[Warc]]'s
  *     stop-at-last-whole-record rule (a production run routes these
  *     to re-fetch);
  *  3. response records strip their HTTP envelope and flow through
  *     the q208 extractor; the output child carries
  *     (file, uri, http_status, title, n_lines, n_content,
  *     content_chars, content).
  *
  * Batch-equivalence contract (StreamIngestSpec): the union of all
  * committed output children ≡ the one-shot batch parse+extract of
  * the same files — ingestion is embarrassingly per-file, so
  * micro-batching cannot change the answer, and the spec pins that.
  *
  * Exactly-once: [[Maintainer]] — output and quarantine children are
  * both deterministic functions of the batch.
  */
object StreamIngest {

  private val outDdl =
    "file STRING, uri STRING, http_status STRING, title STRING, " +
      "n_lines BIGINT, n_content BIGINT, content_chars BIGINT, content STRING"
  private val quarDdl =
    "file STRING, n_bytes BIGINT, n_records BIGINT, truncated BIGINT"

  /** Start the stream: micro-batches of `source` (file, bytes) flow
    * through [[processBatch]]. */
  def start(source: DataFrame, stateDir: String, outDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, outDir, id)
    }

  /** Clean pages across all committed batches. */
  def pages(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, s"$outDir/pages", outDdl)

  /** Quarantined (unparseable) files across all committed batches. */
  def quarantined(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, s"$outDir/quar", quarDdl)

  /** The batch parse+extract — ONE shape shared by the per-trigger
    * path and the spec's one-shot equivalence run. Returns (pages,
    * quarantine) for the given (file, bytes) corpus; both read the
    * one-pass parse, checkpointed into the caller's scope.
    */
  private[graft] def ingest(batch: DataFrame): (DataFrame, DataFrame) = {
    val s = batch.sparkSession
    import s.implicits._
    // ONE decompress+frame pass for both consumers: records and the
    // per-file audit trailers come out of the SAME cursor
    // (Warc.recordsAudited) — on gzipped crawls inflation dominates,
    // so a separate audit pass would double ingest CPU. The combined
    // frame is materialized once.
    val combined = Checkpoints.local(Warc.recordsAudited(batch))
    // envelope strip via Warc.http*Col — the guarded form (a record
    // body without an HTTP envelope passes through whole; a naked
    // locate()+substring drops its first 3 chars on no-match)
    val pages = Html.mainContent(
        combined.filter($"is_audit" === 0 && $"wtype" === "response")
          .withColumn("http_status", Warc.httpStatusCol($"body"))
          .withColumn("html", Warc.httpBodyCol($"body")))
      .select($"file", $"uri", $"http_status", $"title",
        $"n_lines", $"n_content", $"content_chars", $"content")
    // quarantine BOTH failure shapes: nothing parsed, and a partial
    // parse whose tail was dropped (records were emitted but the file
    // under-ingested)
    val quarantine = combined.filter($"is_audit" === 1)
      .filter($"n_bytes" > 0L && ($"n_records" === 0L || $"truncated" === 1L))
      .select($"file", $"n_bytes", $"n_records", $"truncated")
    (pages, quarantine)
  }

  /** One micro-batch through ingestion — directly drivable (the
    * spec's harness). Returns false on replay skip or empty batch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batchFiles: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long): Boolean = {
    Maintainer.once(batchFiles, s"$stateDir/state", batchId) {
      val (pages, quarantine) = ingest(Checkpoints.local(batchFiles))
      pages.write.mode("overwrite").parquet(s"$outDir/pages/b$batchId")
      quarantine.write.mode("overwrite").parquet(s"$outDir/quar/b$batchId")
    }
  }
}
