package graft.ops

import graft.queries.Mining
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental batch-vs-corpus ExactSubstr dedup — q102's winnowed
  * substring statistic in the daily-drop posture ([[Lsh.saveBands]] /
  * [[ConnectedComponents.updateLabels]]'s counterpart for substring-
  * level duplication): persist the corpus's winnowed fingerprints
  * ONCE, then score each new batch against corpus ∪ batch without
  * ever re-reading corpus text.
  *
  * State: a child-dir layout ([[Layouts.liveChildren]]) of (fp,
  * ndocs) partial counts — `base` from [[save]], one `b<id>` child
  * per streaming drop (idempotent overwrite), folded by
  * [[compactStream]] on the usual schedule; sum per fp at read —
  * plus a sidecar recording the FROZEN pos ladder rung and running
  * max-grams. Freezing the rung is what makes
  * increments comparable: q102 sizes its packed (hash, pos) BIGINT
  * from the corpus max document length, and a batch fingerprinted
  * under a different rung hashes differently. A batch that would
  * widen the rung fails loudly — rebuild the state, exactly like
  * re-training a drifted ANN model ([[IndexDrift]]).
  *
  * Probe scale shape: the corpus-sized state is only ever SCANNED —
  * the batch's fingerprint set broadcasts into a left-semi that
  * restricts state scan-side, the per-fp sum then runs on a
  * batch-sized frame, and the scoring join is batch × batch.
  * O(|batch| · grams) fingerprint work + one state scan per drop.
  *
  * Equivalence contract (WinnowStateSpec): probe(batch) is row-
  * identical to [[Mining.winnowDupCoverage]] over corpus ∪ batch
  * restricted to the batch's documents, as long as the rung holds —
  * the `require` enforces exactly the condition under which the
  * full run would pick the same rung.
  */
object WinnowState {

  final case class Ladder(hashHex: Int, posMod: Long, maxGrams: Long)

  /** Build the state from the current corpus: winnow under the rung
    * the corpus itself sizes, store per-fp distinct-doc counts. The
    * fps dir is a [[Layouts.liveChildren]] child-dir layout (`base`
    * from this build, `b<id>` per streaming batch, `fold_*` from
    * compaction) so streaming commits are idempotent overwrites.
    */
  def save(docs: DataFrame, dir: String, w: Int = 8): Unit = {
    val spark = docs.sparkSession
    val maxGrams = Mining.maxGramsOf(docs)
    val (hashHex, posMod) = Mining.posLadder(maxGrams)
    Mining.selectedFingerprints(docs, w, hashHex, posMod)
      .groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("ndocs"))
      .write.mode("overwrite").parquet(s"$dir/fps/base")
    writeLadder(spark, dir, Ladder(hashHex, posMod, maxGrams))
  }

  /** Score a batch against corpus ∪ batch and, when `commit`, fold the
    * batch's fingerprints into the state (decisions first, append
    * after — a batch never double-counts against itself). Output is
    * q102's exact schema (doc_id, n_fp, n_dup, dup_frac), batch rows
    * only.
    *
    * `sink` (streaming hook) runs with the scored frame BEFORE any
    * state write — so the one fingerprint pass feeds both the output
    * and the commit. `batchId` switches the commit from a flat append
    * into an OVERWRITE of the per-batch child `fps/b<id>` —
    * idempotent, which is what makes
    * [[graft.streaming.StreamWinnow]]'s replays exactly-once for the
    * state (a flat append replayed after a crash would double-count
    * the batch's fingerprints; an overwrite of the same directory
    * cannot) — AND restricts the probed state to children BELOW the
    * batch id: a crashed attempt may have committed this very batch's
    * child before the marker advanced, and a replay that read it
    * would count the batch against itself (every duplicate within
    * the batch would double, inflating n_dup).
    */
  def probe(
      batch: DataFrame,
      dir: String,
      w: Int = 8,
      commit: Boolean = true,
      batchId: Option[Long] = None,
      sink: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val ladder = readLadder(spark, dir)
    val batchMax = Mining.maxGramsOf(batch)
    require(
      Mining.posLadder(math.max(batchMax, ladder.maxGrams)) ==
        ((ladder.hashHex, ladder.posMod)),
      s"batch of $batchMax grams widens the pos ladder beyond the state's " +
        s"frozen rung (posMod=${ladder.posMod}) — rebuild the state with " +
        "WinnowState.save over the full corpus")
    val sel = Checkpoints.local(Mining
      .selectedFingerprints(batch, w, ladder.hashHex, ladder.posMod))
    val batchNd = sel.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("bdocs"))
    // corpus-side counts for exactly the batch's fingerprints: the
    // state streams through its scan, the probe set broadcasts
    val stateNd = relevantState(spark, dir,
        sel.select(col("fp")).distinct(), beforeBatch = batchId)
      .groupBy(col("fp")).agg(sum(col("ndocs")).as("cdocs"))
    val totals = batchNd.join(stateNd, Seq("fp"), "left")
      .select(col("fp"),
        (col("bdocs") + coalesce(col("cdocs"), lit(0L))).as("ndocs"))
    val out = Checkpoints.local(sel.join(totals, "fp")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_fp"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_fp")))
    sink(out)
    if (commit) {
      val nd = batchNd.select(col("fp"), col("bdocs").as("ndocs"))
      batchId match {
        case Some(id) =>
          nd.write.mode("overwrite").parquet(s"$dir/fps/b$id")
        case None =>
          nd.write.mode("append").parquet(s"$dir/fps/base")
      }
      if (batchMax > ladder.maxGrams)
        writeLadder(spark, dir, ladder.copy(maxGrams = batchMax))
    }
    Checkpoints.release(sel)
    out
  }

  /** The state rows for the probed fingerprints — broadcast left-semi,
    * corpus state never shuffles. Package-private for the spec's plan
    * assertion. `beforeBatch` restricts to children committed below
    * that batch id (replay hygiene — see [[probe]]).
    */
  private[graft] def relevantState(
      spark: SparkSession,
      dir: String,
      probeFps: DataFrame,
      beforeBatch: Option[Long] = None): DataFrame =
    stateFps(spark, dir, beforeBatch)
      .join(broadcast(probeFps), Seq("fp"), "left_semi")

  /** The full (fp, ndocs) state frame — the union of the fps root's
    * live children ([[Layouts.liveChildren]]). With `beforeBatch`,
    * per-batch children `b<id>` with id >= that batch are excluded
    * (they can only exist as a crashed attempt of the current or a
    * later trigger).
    */
  private[graft] def stateFps(
      spark: SparkSession,
      dir: String,
      beforeBatch: Option[Long] = None): DataFrame = {
    val live = Layouts.liveChildrenBefore(spark, s"$dir/fps", beforeBatch)
    if (live.isEmpty)
      throw new IllegalArgumentException(
        s"no winnow state at $dir — run WinnowState.save first")
    spark.read.parquet(live.map(_.toString): _*).select(col("fp"), col("ndocs"))
  }

  /** Fold the per-batch streaming children into one — the small-file
    * compaction for stream-maintained state, bounded by the commit
    * marker [[graft.streaming.StreamWinnow]] keeps at this very root
    * ([[graft.streaming.Maintainer.foldCommitted]]).
    */
  def compactStream(spark: SparkSession, dir: String): Unit =
    graft.streaming.Maintainer.foldCommitted(spark, s"$dir/fps", s"$dir/fps")

  private def ladderPath(dir: String) = new Path(s"$dir/_ladder")

  // private[ops]: CdcDedupState widens maxGrams under the same frozen
  // rung when an updated document grows (the probe's own rule)
  private[ops] def writeLadder(spark: SparkSession, dir: String, l: Ladder): Unit = {
    val p = ladderPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layouts.writeSidecar(fs, p, s"${l.hashHex} ${l.posMod} ${l.maxGrams}\n")
  }

  private[graft] def readLadder(spark: SparkSession, dir: String): Ladder = {
    val p = ladderPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Layouts.readSidecar(fs, p).getOrElse(
      throw new IllegalArgumentException(
        s"no winnow state at $dir — run WinnowState.save first"))
      .trim.split(' ')
    Ladder(parts(0).toInt, parts(1).toLong, parts(2).toLong)
  }
}
