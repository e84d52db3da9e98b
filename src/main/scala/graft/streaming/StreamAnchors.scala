package graft.streaming

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING anchor-text aggregation — the EIGHTEENTH exactly-once
  * maintainer, q224 made incremental: each micro-batch of fetched
  * pages runs the in-row outlink pass
  * ([[graft.queries.Crawl.withOutlinks]] — the SAME oracle-checked
  * chain as the batch query), aggregates the batch's links per
  * canonical target, and appends the per-batch DELTA to child-dir
  * state. The live anchor table is the MERGE of committed deltas —
  * counts sum exactly (BIGINT), host/anchor sets union
  * deterministically (flatten → distinct → sort) — so the signal a
  * frontier ranks by (how the web describes each page) stays current
  * without ever rescanning fetched pages.
  *
  * Delta-append is the right state shape here because every
  * aggregate component is MERGEABLE: n_links / n_nofollow are sums,
  * the host and anchor sets are bounded unions (anchor vocabulary and
  * linking-host sets per target are in-degree-bounded and tiny in
  * practice). n_docs rides the crawl's arrival contract — a page's
  * outlinks arrive in exactly ONE batch (the fetch that produced
  * them), so per-batch distinct-doc counts sum to the global distinct
  * count; a re-fetch pipeline that violates this must route through a
  * dedup (StreamFrontier) first, which is how the stage-zero arc is
  * composed anyway.
  *
  * Exactly-once: [[Maintainer]], the delta landing in
  * `stateDir/agg/b<id>`. No state READ happens inside the trigger at
  * all (pure delta append), so there is no own-child exclusion to get
  * wrong.
  *
  * Scale shape per trigger: the in-row extraction pass, then ONE
  * map-side-combinable aggregation keyed by dst_url — batch-sized
  * work, state never shuffles. The merged read is one hash agg over
  * the children; [[graft.ops.Layouts.foldChildren]] compacts on the
  * usual schedule.
  */
object StreamAnchors {

  private val aggDdl = "dst_url STRING, n_links BIGINT, n_docs BIGINT, " +
    "n_nofollow BIGINT, hosts ARRAY<STRING>, anchors ARRAY<STRING>"

  /** Start the stream: micro-batches of `source` (doc_id, lang,
    * source) — fetched pages — flow through [[processBatch]]. */
  def start(source: DataFrame, stateDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, id)
    }

  /** The live anchor table: committed deltas merged — one row per
    * canonical target, counts exact, sets sorted-distinct. */
  def anchorTable(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.Layouts.readChildren(spark, s"$stateDir/agg", aggDdl)
      .groupBy(col("dst_url"))
      .agg(
        sum(col("n_links")).cast("long").as("n_links"),
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_nofollow")).cast("long").as("n_nofollow"),
        expr("array_sort(array_distinct(flatten(collect_list(hosts))))")
          .as("hosts"),
        expr("array_sort(array_distinct(flatten(collect_list(anchors))))")
          .as("anchors"))

  /** One micro-batch of fetched pages — directly drivable (the spec's
    * harness). Returns false on replay skip or empty batch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batchDocs: DataFrame,
      stateDir: String,
      batchId: Long): Boolean = {
    val guard = s"$stateDir/agg"
    Maintainer.once(batchDocs, guard, batchId) {
      val delta = graft.queries.Crawl.withOutlinks(Checkpoints.local(batchDocs))
        .filter(col("kind") =!= "skip")
        .withColumn("src_host",
          expr("regexp_extract(src_url, '^https?://([^/]+)', 1)"))
        .groupBy(col("dst_url"))
        .agg(
          count(lit(1)).cast("long").as("n_links"),
          countDistinct(col("doc_id")).cast("long").as("n_docs"),
          sum(col("nofollow")).cast("long").as("n_nofollow"),
          expr("array_sort(collect_set(src_host))").as("hosts"),
          expr("array_sort(collect_set(anchor))").as("anchors"))
      delta.write.mode("overwrite").parquet(s"$guard/b$batchId")
    }
  }
}
