package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten deletion propagation for doc_id-keyed state
  * layouts — the operation a 100 TB curation stack cannot answer with
  * "rebuild everything": a deletion request must stop the at-rest
  * dedup/index state from matching against (or resurrecting) the
  * forgotten documents NOW, and physically remove their rows on the
  * normal compaction cadence, without re-shingling the corpus.
  *
  * Design — the LSM tombstone pattern over the existing child-dir
  * state protocol ([[Layouts.liveChildren]]):
  *
  *  - [[tombstone]] records requested doc_ids as an idempotent child
  *    of `$stateDir/forget` (same overwrite-your-own-child commit the
  *    streaming maintainers use — a replayed request rewrites
  *    bit-identical content);
  *  - [[exclude]] is the PROBE-TIME guarantee: an anti-join of any
  *    doc_id-keyed state frame against the tombstone set. Deletion
  *    requests are request-sized, not corpus-sized — AQE broadcasts
  *    the tombstones, the state side is scanned, never shuffled;
  *  - [[compact]] is the PHYSICAL guarantee: each state root folds
  *    through [[Layouts.foldChildren]] with an anti-join transform
  *    (the fold protocol is already crash-safe with one atomic
  *    publish rename; `force` rewrites even a lone `base` child),
  *    and the applied tombstone children are deleted ONLY after
  *    every root folded — a crash anywhere leaves the tombstones
  *    live, probes still excluding, and a re-run convergent.
  *    Tombstoned AFTER the listing (concurrent requests) survive the
  *    clear and apply next cadence. Single-writer contract for the
  *    maintenance window, same as the other compactors.
  *
  * Scope is doc_id-KEYED roots (bands, shingle sets, postings,
  * fingerprint-per-doc layouts). A DISTINCT-set state with no
  * provenance cannot be selectively forgotten — removing a shared fp
  * would re-admit duplicates of LIVING documents. That is why
  * [[graft.streaming.StreamCuration]]'s exact-dup `fps` root carries
  * doc-level provenance (one (fp, doc_id) row per gated doc): it puts
  * the fingerprint state in this object's scope — [[exclude]] stops a
  * forgotten doc's fp from suppressing future identical text
  * immediately while a living doc sharing the fp keeps suppressing
  * through its own row, and [[compact]] removes the rows physically.
  * Provenance was chosen over a refcounted (fp, ndocs) layout because
  * anti-joins are idempotent under replayed or duplicated forget
  * requests where refcount decrements double-apply, and the live set
  * needs no per-read sum-per-fp aggregation (ForgetSpec proves
  * forget ≡ rebuild-without-forgotten including the shared-fp case).
  */
object Forget {

  private def root(stateDir: String) = s"$stateDir/forget"

  /** Record a deletion request: the distinct doc_ids land as child
    * `b<markId>` of `$stateDir/forget` (idempotent overwrite — retry
    * or replay of the same request id converges).
    */
  def tombstone(
      spark: SparkSession,
      stateDir: String,
      ids: DataFrame,
      markId: Long): Unit =
    ids.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .write.mode("overwrite").parquet(s"${root(stateDir)}/b$markId")

  /** The live tombstone set (doc_id BIGINT), empty-typed before the
    * first request.
    */
  def ids(spark: SparkSession, stateDir: String): DataFrame =
    Layouts.readChildren(spark, root(stateDir), "doc_id BIGINT").distinct()

  /** Probe-time exclusion: `state` minus tombstoned doc_ids. The
    * anti-join's build side is the request-sized tombstone set (AQE
    * broadcasts it); the state frame's scan/partitioning is
    * untouched, so callers' no-state-shuffle plans survive.
    */
  def exclude(state: DataFrame, spark: SparkSession, stateDir: String): DataFrame =
    state.join(ids(spark, stateDir), Seq("doc_id"), "left_anti")

  /** Physically remove tombstoned rows from each doc_id-keyed state
    * root under `stateDir`, then clear the applied tombstone children
    * — but ONLY when the fold covered every live data child. With a
    * `beforeBatch` bound (the [[Layouts.foldChildren]] replay-hygiene
    * contract) an uncommitted trigger child keeps its rows; clearing
    * the tombstones then would let those rows resurface with nothing
    * left to hide them, so the tombstones SURVIVE the cadence and
    * apply (and clear) on the next one, [[exclude]] hiding the rows
    * throughout. Returns the number of tombstoned ids applied.
    */
  def compact(
      spark: SparkSession,
      stateDir: String,
      dataRoots: Seq[String],
      beforeBatch: Option[Long] = None): Long = {
    // list BEFORE reading: children tombstoned mid-compact must
    // survive the clear (their ids were not applied to every root);
    // ids arriving between list and read fold in early, harmlessly —
    // the anti-join is idempotent and their children re-apply next
    // cadence
    val applied = Layouts.liveChildren(spark, root(stateDir)).map(_.getName)
    if (applied.isEmpty) return 0L
    val fs = new org.apache.hadoop.fs.Path(root(stateDir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def clearApplied(): Unit = applied.foreach { name =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${root(stateDir)}/$name"), true)
    }
    Checkpoints.scope {
      val t = Checkpoints.local(ids(spark, stateDir))
      val n = t.count()
      // empty requests: nothing to fold, reap below
      if (n > 0) dataRoots.foreach { r =>
        Layouts.foldChildren(spark, s"$stateDir/$r",
          transform = _.join(t, Seq("doc_id"), "left_anti"),
          beforeBatch = beforeBatch, force = true)
      }
      // the commit order IS the safety argument: data rewrites are
      // each individually published (crash ⇒ tombstones still live,
      // exclude() still correct, re-run converges); the clear comes
      // last and ONLY if no data child was excluded from the fold —
      // a skipped (at-or-above-bound) child may hold tombstoned rows
      // that nothing would hide once the tombstones are gone
      val skippedAny = n > 0 && dataRoots.exists { r =>
        val all = Layouts.liveChildren(spark, s"$stateDir/$r").map(_.getName)
        val folded = Layouts.liveChildrenBefore(
          spark, s"$stateDir/$r", beforeBatch).map(_.getName)
        (all.toSet -- folded.toSet).nonEmpty
      }
      if (!skippedAny) clearApplied()
      n
    }
  }
}
