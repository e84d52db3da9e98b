package graft.streaming

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING robots-compliance audit — the TWENTIETH exactly-once
  * maintainer: q234 made incremental. A compliance report is only
  * useful while the violation is still happening, so it must track the
  * fetch stream, not a quarterly batch job. The whole q234 aggregate
  * is delta-mergeable once the state is keyed at (domain, url) grain:
  * a URL's robots verdict is CONSTANT (rule-table evaluation, no
  * cross-batch dependency at all — simpler than [[StreamRecrawl]]'s
  * boundary), so each micro-batch folds to per-(domain, url) event
  * deltas judged in-row against the broadcast verdict frame, and the
  * read side merges with plain sums: distinct-URL counts fall out of
  * the state's own key (count rows, not count-distinct — the grain IS
  * the distinct), and the smallest violating URL is a mergeable min.
  *
  * Batches carry fetch events as (url, day, fp) — the same wire shape
  * [[StreamRecrawl]] ingests, so one fetch stream fans to both
  * maintainers. Events whose url is OUTSIDE the verdict universe are
  * counted per batch and surfaced loudly in the child (`n_unjudged` on
  * an audit row with domain='') rather than silently dropped — an
  * unjudgeable fetch is itself a compliance finding.
  *
  * Exactly-once: [[Maintainer]]. No own-child exclusion read is
  * needed on the write path (the delta depends only on the batch +
  * the static verdict frame), which
  * makes this the catalog's simplest maintainer — the demonstration
  * that state DESIGN (grain choice) is what buys exactly-once, not
  * protocol complexity.
  *
  * Scale shape per trigger: one broadcast/hash join of the batch
  * against the verdict frame, ONE (domain, url)-keyed batch-sized agg.
  * State grows with distinct (domain, url) pairs touched — the
  * information floor for distinct-URL reporting — and compacts via
  * [[graft.ops.Layouts.foldChildren]] (children merge by re-summing).
  */
object StreamCompliance {

  private val deltaDdl =
    "domain STRING, url STRING, n_add BIGINT, allowed BIGINT, n_unjudged BIGINT"

  /** Start the stream: micro-batches of `source` (url, day, fp) flow
    * through [[processBatch]] judged against `verdicts` (the q214
    * frame: url, domain, allowed). */
  def start(
      source: DataFrame,
      verdicts: DataFrame,
      stateDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, verdicts, stateDir, id)
    }

  /** The merged per-domain report across all committed batches —
    * q234's columns plus the unjudged-event count. */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val st = graft.ops.Layouts.readChildren(spark, s"$stateDir/audit", deltaDdl)
    st.filter(col("domain") =!= "")
      .groupBy(col("domain"), col("url"), col("allowed"))
      .agg(sum(col("n_add")).cast("long").as("n_events"))
      .groupBy(col("domain"))
      .agg(
        sum(col("n_events")).cast("long").as("n_fetch_events"),
        count(lit(1)).cast("long").as("n_urls"),
        sum(expr("CASE WHEN allowed = 0 THEN n_events ELSE 0 END"))
          .cast("long").as("n_violation_events"),
        sum(expr("CASE WHEN allowed = 0 THEN 1 ELSE 0 END"))
          .cast("long").as("n_violation_urls"),
        coalesce(min(expr("CASE WHEN allowed = 0 THEN url END")), lit(""))
          .as("sample_violation"))
      .withColumn("violation_pct",
        expr("CAST(n_violation_events * 100 div n_fetch_events AS BIGINT)"))
  }

  /** Total fetch events that matched no verdict row — the loud
    * counterpart of silently dropping them. */
  def unjudged(spark: SparkSession, stateDir: String): Long =
    graft.ops.Layouts.readChildren(spark, s"$stateDir/audit", deltaDdl)
      .agg(coalesce(sum(col("n_unjudged")), lit(0L)).cast("long"))
      .head().getLong(0)

  /** One micro-batch of fetches through the audit — directly drivable
    * (the spec's harness). Returns false on replay skip or empty
    * batch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batchFetches: DataFrame,
      verdicts: DataFrame,
      stateDir: String,
      batchId: Long): Boolean = {
    val guard = s"$stateDir/audit"
    import spark.implicits._
    Maintainer.once(batchFetches, guard, batchId) {
      val b = Checkpoints.local(batchFetches)
      // judged feeds two aggregates (delta + unjudged trailer) —
      // materialize once
      val j = Checkpoints.local(b.join(
        verdicts.select($"url", $"domain", $"allowed"), Seq("url"), "left"))
      val delta = j.filter($"domain".isNotNull)
        .groupBy($"domain", $"url", $"allowed")
        .agg(count(lit(1)).cast("long").as("n_add"))
        .select($"domain", $"url", $"n_add", $"allowed".cast("long"),
          lit(0L).as("n_unjudged"))
      val unj = j.filter($"domain".isNull)
        .agg(count(lit(1)).cast("long").as("n"))
        .select(lit("").as("domain"), lit("").as("url"), lit(0L).as("n_add"),
          lit(1L).as("allowed"), $"n".as("n_unjudged"))
        .filter($"n_unjudged" > 0)
      delta.unionByName(unj)
        .write.mode("overwrite").parquet(s"$guard/b$batchId")
    }
  }
}
