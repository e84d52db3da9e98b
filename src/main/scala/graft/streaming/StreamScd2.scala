package graft.streaming

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING SCD type-2 maintenance — the thirteenth exactly-once
  * maintainer: q189's merged history table kept at rest while CDC
  * micro-batches (upserts + deletes) arrive, without ever rewriting
  * history.
  *
  * The at-rest shape is the LSM answer to "SCD-2 closes old rows":
  * closing a row in place would rewrite corpus-sized state per
  * trigger, so the state is an APPEND-ONLY record log — one (doc_id,
  * column digests, ver, op) row per accepted change, one `b<id>`
  * child per batch — and validity intervals are DERIVED at read time:
  * a record's `ver_to` is the NEXT record's `ver` for the same doc
  * (a per-doc `lead()` over version counts, never a corpus-wide
  * window partition), `is_current` iff no successor and the record is
  * an upsert. A delete record contributes no history row itself; it
  * exists to close its predecessor.
  *
  * Per batch: upserts are CONTENT-COMPARED against the current state
  * (digest equality) so a no-op upsert writes nothing — the record
  * log grows with CHANGE volume, not ingest volume; deletes are
  * accepted only for docs with a live current row. Exactly-once:
  * [[Maintainer]]. Deletion propagation: the record log is
  * doc_id-keyed, so [[graft.ops.Forget]]'s tombstone/exclude/compact
  * apply verbatim ([[history]]'s `excludeForgotten` wires the probe-
  * time exclusion).
  *
  * Batch-equivalence contract (StreamScd2Spec): feeding q189's carved
  * v1 as batch 1 and the v1→v2 delta (changed+added upserts, removed
  * deletes) as batch 2 reproduces q189's history EXACTLY.
  */
object StreamScd2 {

  private[graft] val recordsDdl =
    "doc_id BIGINT, text_md5 STRING, lang_md5 STRING, source_md5 STRING, ver BIGINT, op STRING"

  /** Start the stream: each micro-batch carries (doc_id, text, lang,
    * source, op) rows, op ∈ {upsert, delete}; the batch id is the
    * version stamp.
    */
  def start(source: DataFrame, stateDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, id)
    }

  /** One CDC micro-batch; returns false when the replay guard or an
    * empty batch skipped it. Contract: at most ONE operation per doc
    * per batch (compact upstream CDC first) — violated batches fail
    * loudly rather than record a nondeterministic winner.
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      stateDir: String,
      batchId: Long): Boolean = {
    import spark.implicits._
    Maintainer.once(batch, s"$stateDir/state", batchId) {
      val b = Checkpoints.local(batch)
      require(b.groupBy($"doc_id").count().filter($"count" > 1).isEmpty,
        s"StreamScd2 batch $batchId carries multiple operations for one " +
          "doc_id — compact the CDC feed to one op per doc per batch, or " +
          "the surviving record would be nondeterministic")
      val cur = current(spark, stateDir, beforeBatch = Some(batchId))
      val up = b.filter($"op" === "upsert")
        .select($"doc_id", md5($"text").as("text_md5"),
          md5($"lang").as("lang_md5"), md5($"source").as("source_md5"))
      val changedOrNew = up.as("u")
        .join(cur.as("c"), Seq("doc_id"), "left")
        .filter(col("c.text_md5").isNull ||
          col("u.text_md5") =!= col("c.text_md5") ||
          col("u.lang_md5") =!= col("c.lang_md5") ||
          col("u.source_md5") =!= col("c.source_md5"))
        .select($"doc_id", col("u.text_md5").as("text_md5"),
          col("u.lang_md5").as("lang_md5"), col("u.source_md5").as("source_md5"),
          lit(batchId).as("ver"), lit("upsert").as("op"))
      val dels = b.filter($"op" === "delete")
        .join(cur, Seq("doc_id"), "left_semi")
        .select($"doc_id",
          lit(null).cast("string").as("text_md5"),
          lit(null).cast("string").as("lang_md5"),
          lit(null).cast("string").as("source_md5"),
          lit(batchId).as("ver"), lit("delete").as("op"))
      changedOrNew.unionAll(dels)
        .write.mode("overwrite").parquet(s"$stateDir/records/b$batchId")
    }
  }

  /** The raw change log (all committed records below `beforeBatch`). */
  private[graft] def records(
      spark: SparkSession, stateDir: String,
      beforeBatch: Option[Long] = None): DataFrame =
    graft.ops.Layouts.readChildren(
      spark, s"$stateDir/records", recordsDdl, beforeBatch)

  /** Current rows: each doc's latest record, upserts only. One
    * map-side-combined max(struct) per doc — version counts per doc,
    * never corpus-wide sorts.
    */
  private[graft] def current(
      spark: SparkSession, stateDir: String,
      beforeBatch: Option[Long] = None): DataFrame =
    records(spark, stateDir, beforeBatch)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("ver"), col("op"), col("text_md5"),
        col("lang_md5"), col("source_md5"))).as("last"))
      .filter(col("last.op") === "upsert")
      .select(col("doc_id"), col("last.text_md5").as("text_md5"),
        col("last.lang_md5").as("lang_md5"),
        col("last.source_md5").as("source_md5"),
        col("last.ver").as("ver"))

  /** The materialized SCD-2 history — q189's shape: one row per
    * version interval with ver_from/ver_to/is_current. The lead()
    * window partitions by doc_id (hash-partitioned; each partition
    * holds that doc's few records, never a corpus-proportional
    * stripe). `excludeForgotten` routes the record log through
    * [[graft.ops.Forget.exclude]] first.
    */
  def history(
      spark: SparkSession, stateDir: String,
      excludeForgotten: Boolean = false): DataFrame = {
    val recs0 = records(spark, stateDir)
    val recs =
      if (excludeForgotten) graft.ops.Forget.exclude(recs0, spark, stateDir)
      else recs0
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ver").asc)
    recs
      .withColumn("ver_to", lead(col("ver"), 1).over(w))
      .filter(col("op") === "upsert")
      .select(col("doc_id"), col("text_md5"), col("lang_md5"),
        col("source_md5"), col("ver").as("ver_from"), col("ver_to"),
        when(col("ver_to").isNull, 1L).otherwise(0L).as("is_current"))
  }

  /** Fold the per-batch record children below the commit marker
    * ([[Maintainer.foldCommitted]]). Records are append-only facts: the
    * fold is a pure union, no merge transform.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Maintainer.foldCommitted(spark, s"$stateDir/state", s"$stateDir/records")
}
