package graft.streaming

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING frontier dedup — the SEVENTEENTH exactly-once maintainer,
  * q215's canonical-URL dedup made incremental: micro-batches of
  * discovered URLs canonicalize ([[graft.queries.Mining.withCanonUrl]]
  * — the SAME chain the oracle-checked batch query runs), collapse
  * within the batch (exactly ONE row per canonical key: first by url,
  * then doc_id — a row_number pick, so even the same url discovered
  * twice in one batch enters once), and
  * anti-join the SEEN state, so each canonical page enters the
  * frontier EXACTLY ONCE across the whole stream — the property a
  * crawler cannot run without (every leaked duplicate is a wasted
  * fetch plus a politeness-budget slot, q219's scarce unit).
  * First-wins is BATCH order then (url, doc_id): a page discovered in
  * batch 3 under an alias and again in batch 7 canonically emits only
  * the batch-3 row.
  *
  * State = the seen canonical keys as child-dir parquet
  * (`stateDir/seen/b<id>` — [[graft.ops.Layouts]] child-dir layout):
  * grows with DISTINCT pages, which is the operator's information
  * floor (the probabilistic shrink — a Bloom/quotient filter — trades
  * false-positive drops for space and layers on top without changing
  * this protocol). Compaction is [[graft.ops.Layouts.foldChildren]]'s
  * job on the usual schedule.
  *
  * Exactly-once: [[Maintainer]] — the in-flight batch reads state via
  * own-child EXCLUSION (`readChildren(beforeBatch)`), so a replay
  * cannot suppress its own rows.
  *
  * Scale shape per trigger: canonicalization in-row; ONE exchange for
  * the within-batch window (batch-sized); the anti-join against seen
  * state is hash-equi on the canonical key — at real frontier scale
  * the seen side is the big relation, so the join shuffles batch +
  * state partitions that AQE sizes, never a broadcast of the corpus.
  */
object StreamFrontier {

  private val newDdl = "doc_id BIGINT, url STRING, canon_url STRING"
  private val seenDdl = "canon_url STRING"

  /** Start the stream: micro-batches of `source` (doc_id, url) flow
    * through [[processBatch]]. */
  def start(source: DataFrame, stateDir: String, outDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, outDir, id)
    }

  /** Frontier entries across all committed batches — one row per
    * canonical page, ever. */
  def newUrls(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, s"$outDir/new", newDdl)

  /** The seen canonical-key state (the read side of `stateDir`). */
  def seen(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, s"$stateDir/seen", seenDdl)

  /** One micro-batch through the frontier — directly drivable (the
    * spec's harness). Returns false on replay skip or empty batch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batchUrls: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long): Boolean = {
    val guard = s"$stateDir/seen"
    import spark.implicits._
    Maintainer.once(batchUrls, guard, batchId) {
      // within-batch alias collapse: ONE row per canonical key — a
      // row_number, not a min-url filter, because the same url string
      // discovered twice in one batch (two referrer pages) would pass
      // a min filter twice and enter the frontier twice (the r15
      // self-review catch); (url, doc_id) makes the pick deterministic
      val kept = graft.queries.Mining.withCanonUrl(Checkpoints.local(batchUrls))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"canon_url").orderBy($"url".asc, $"doc_id".asc)))
        .filter($"rn" === 1)
        .select($"doc_id", $"url", $"canon_url")
      // own-child exclusion: a crashed replay may already have written
      // b<id> — reading it would suppress this batch's own rows
      val seenBefore = graft.ops.Layouts.readChildren(
        spark, guard, seenDdl, beforeBatch = Some(batchId))
      // fresh is consumed twice (output + state) — materialize once
      val fresh = Checkpoints.local(kept.join(seenBefore, Seq("canon_url"), "left_anti")
        .select($"doc_id", $"url", $"canon_url"))
      fresh.write.mode("overwrite").parquet(s"$outDir/new/b$batchId")
      fresh.select($"canon_url")
        .write.mode("overwrite").parquet(s"$guard/b$batchId")
    }
  }
}
