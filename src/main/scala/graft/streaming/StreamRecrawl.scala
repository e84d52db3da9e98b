package graft.streaming

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING re-crawl scheduling — the NINETEENTH exactly-once
  * maintainer: q229's change-rate estimation made incremental. A
  * crawler never sees its fetch log at rest — each revisit lands one
  * (url, day, fp) observation, and the scheduler must fold it into the
  * URL's running history WITHOUT replaying that history. The trick is
  * that q229's whole aggregate is mergeable once the cross-batch
  * boundary is captured at write time: within a batch the change count
  * is a LAG over the batch's own rows, and the ONE comparison that
  * spans batches (this batch's first fingerprint vs the state's last)
  * resolves against the merged prior state — so the state can stay
  * pure DELTA-APPEND. Per URL per batch the child carries
  * (n_add, chg_add, first_day, last_day, last_fp); the read side
  * re-aggregates with plain sums/min/max plus a max_by for the latest
  * fingerprint, then applies [[graft.queries.Maintenance.scheduleCols]]
  * — literally the oracle-checked batch estimator, so
  * incremental ≡ batch is an algebraic identity the spec pins.
  *
  * Arrival contract: per-url days must be STRICTLY increasing — both
  * across batches (forward of the committed last_day) and within a
  * batch (no two fetches of one url on the same day; a same-day pair
  * would make the LAG order nondeterministic). A violating batch
  * fails LOUDLY before any write (the q38 guard discipline): silently
  * merging ambiguous days would corrupt the boundary comparison, and
  * quiet corruption is the one thing a maintainer may never do.
  *
  * Exactly-once: [[Maintainer]] over two children per batch (state
  * delta + schedule output); the in-flight batch reads state via
  * own-child EXCLUSION.
  *
  * Scale shape per trigger: ONE url-keyed window over the batch, one
  * batch-sized agg, one hash join against the state restricted to the
  * batch's urls (state is url-bucketed; the join is batch-sided), and
  * in-row schedule arithmetic. State grows by touched-urls per batch —
  * the information floor — and compacts via
  * [[graft.ops.Layouts.foldChildren]] on the usual schedule.
  */
object StreamRecrawl {

  private val deltaDdl =
    "url STRING, n_add BIGINT, chg_add BIGINT, first_day BIGINT," +
      " last_day BIGINT, last_fp STRING"

  /** Start the stream: micro-batches of `source` (url, day, fp) flow
    * through [[processBatch]]. */
  def start(source: DataFrame, stateDir: String, outDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, outDir, id)
    }

  /** The merged per-URL fetch state across all committed batches —
    * q229's aggregate columns (url, n_fetches, n_changes, span_days,
    * last_day) plus the boundary fingerprint. */
  def state(spark: SparkSession, stateDir: String): DataFrame =
    mergeDeltas(graft.ops.Layouts.readChildren(
      spark, s"$stateDir/fetch", deltaDdl))

  /** The current schedule — [[graft.queries.Maintenance.scheduleCols]]
    * over [[state]]: bit-identical to the oracle-checked q229 output
    * when fed the same fetch history. */
  def schedule(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Maintenance.scheduleCols(
      state(spark, stateDir).drop("last_fp"))

  /** Delta-append merge: every component is order-free (sums, min,
    * max) except the latest fingerprint, which max_by's on last_day —
    * unambiguous because days move strictly forward per url across
    * batches (the guarded arrival contract). */
  private def mergeDeltas(deltas: DataFrame): DataFrame =
    deltas
      .groupBy(col("url"))
      .agg(
        sum(col("n_add")).cast("long").as("n_fetches"),
        sum(col("chg_add")).cast("long").as("n_changes"),
        (max(col("last_day")) - min(col("first_day"))).cast("long")
          .as("span_days"),
        max(col("last_day")).cast("long").as("last_day"),
        expr("max_by(last_fp, last_day)").as("last_fp"))

  /** One micro-batch of fetches through the scheduler — directly
    * drivable (the spec's harness). Returns false on replay skip or
    * empty batch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batchFetches: DataFrame,
      stateDir: String,
      outDir: String,
      batchId: Long): Boolean = {
    val guard = s"$stateDir/fetch"
    import spark.implicits._
    Maintainer.once(batchFetches, guard, batchId) {
      val b = Checkpoints.local(batchFetches)
      // arrival-contract guard, WITHIN-batch leg: two fetches of one
      // url on the same day make the LAG order (and so n_changes /
      // last_fp) nondeterministic and can produce span=0 with
      // changes>0 (a divide-by-zero downstream) — ambiguous input
      // fails loudly before any write (the r15 self-review catch)
      val dupDays = b.groupBy($"url", $"day")
        .agg(count(lit(1)).as("n")).filter($"n" > 1).count()
      if (dupDays > 0) throw new IllegalStateException(
        s"[StreamRecrawl] batch $batchId: $dupDays (url, day) pair(s)" +
          " carry multiple fetches — per-url days must be strictly" +
          " increasing; de-duplicate the fetch log upstream (keep the" +
          " last fetch per day) before ingesting")
      // within-batch fold: LAG over the batch's own per-url day order
      val w = Window.partitionBy($"url").orderBy($"day")
      val bagg = b
        .withColumn("prev_fp", lag($"fp", 1).over(w))
        .groupBy($"url")
        .agg(
          count(lit(1)).cast("long").as("n_add"),
          sum(expr("CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp" +
            " THEN 1 ELSE 0 END")).cast("long").as("internal"),
          min($"day").cast("long").as("first_day"),
          max($"day").cast("long").as("last_day"),
          expr("min_by(fp, day)").as("first_fp"),
          expr("max_by(fp, day)").as("last_fp"))
      // prior state for the batch's urls only — the semi-join runs
      // BEFORE the merge groupBy, so a 1-row batch aggregates a
      // handful of state rows, not the whole state (the r15
      // self-review catch: merging first would make every trigger's
      // cost grow with total state size). Own-child exclusion:
      // a crashed replay may already have written b<id>.
      val prior = mergeDeltas(graft.ops.Layouts.readChildren(
            spark, guard, deltaDdl, beforeBatch = Some(batchId))
          .join(bagg.select($"url"), Seq("url"), "left_semi"))
        .select($"url", $"n_fetches".as("s_n"), $"n_changes".as("s_chg"),
          $"last_day".as("s_last_day"),
          ($"last_day" - $"span_days").as("s_first"),
          $"last_fp".as("s_last_fp"))
      // delta is consumed three times (guard count + state child +
      // schedule output) — materialize once
      val delta = Checkpoints.local(bagg.join(prior, Seq("url"), "left")
        .withColumn("chg_add", expr(
          "CAST(internal + CASE WHEN s_last_fp IS NOT NULL" +
            " AND first_fp <> s_last_fp THEN 1 ELSE 0 END AS BIGINT)")))
      // arrival-contract guard BEFORE any write: out-of-order days
      // would corrupt the boundary comparison — fail loudly instead
      val bad = delta
        .filter($"s_last_day".isNotNull && $"first_day" <= $"s_last_day")
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"[StreamRecrawl] batch $batchId: $bad url(s) arrived with" +
          " day <= committed last_day — fetch days must move forward" +
          " per url across batches; route re-stamped backfills through" +
          " a batch rebuild instead")
      delta
        .select($"url", $"n_add", $"chg_add", $"first_day", $"last_day",
          $"last_fp")
        .write.mode("overwrite").parquet(s"$guard/b$batchId")
      // per-batch output: the UPDATED schedule for touched urls —
      // merged prior + this delta through the oracle-checked q229
      // estimator (downstream sees only what changed)
      val merged = delta.select(
        $"url",
        expr("n_add + coalesce(s_n, 0)").cast("long").as("n_fetches"),
        expr("chg_add + coalesce(s_chg, 0)").cast("long").as("n_changes"),
        expr("last_day - least(first_day, coalesce(s_first, first_day))")
          .cast("long").as("span_days"),
        $"last_day")
      graft.queries.Maintenance.scheduleCols(merged)
        .write.mode("overwrite").parquet(s"$outDir/sched/b$batchId")
    }
  }
}
