package graft.ops

import graft.queries.{Curation, Llm, Mining}
import graft.streaming.Maintainer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC update propagation through the at-rest dedup states — the step
  * that closes the incremental loop: q112/q178 produce the change
  * manifest (added / removed / changed documents between two corpus
  * snapshots), and the band / winnow-fingerprint / block states
  * support append ([[Lsh.saveBands]]-style children, [[WinnowState]],
  * [[BlockState]]) and forget ([[Forget]]) — but a CHANGED document
  * needs forget(old version) + add(new version) applied TOGETHER, or
  * the state keeps matching retired text (the resurrection failure the
  * forget machinery exists to prevent) while missing the new text.
  * This operator applies one manifest as one idempotent commit unit.
  *
  * State layout (one `dir`, three families, all
  * [[Layouts.liveChildren]] child-dir roots):
  *
  *  - `bands/` — near-dup probe side, (bkey, doc_id, uid) rows (the
  *    [[graft.streaming.StreamCuration]] band-state shape plus the
  *    inserting update's id, probed by
  *    [[Lsh.incrementalCandidatesFrom]]); plus `band_dead/` —
  *    (bkey, doc_id, uid) tombstones. A SET state updates by
  *    symmetric difference: the update child carries only the new
  *    version's bands NOT in the old (additions), the tombstone child
  *    only the old version's bands NOT in the new (removals) — bands
  *    shared by both versions stay untouched in the older children,
  *    so the (bkey, doc_id)-grained exclusion in [[bands]] can never
  *    kill a band the new version still has. (A doc_id-grained
  *    tombstone — [[Forget]]'s unit — would hide the new version's
  *    own rows: updates need the finer grain.) The `uid` column is
  *    PRECEDENCE, not bookkeeping: a tombstone hides a band row only
  *    when the tombstone's update is NEWER (dead.uid > row.uid) — a
  *    document removed by update J and re-added by update K > J gets
  *    its bands back (the re-add child carries uid K, outranking the
  *    J tombstone), where a bare (bkey, doc_id) anti-join would let
  *    the stale tombstone hide the resurrected rows forever. Within
  *    one update the symmetric difference makes adds and removes
  *    disjoint, so equal uids never contend. A band state dir written
  *    by a pre-uid layout fails this DDL's projection loudly —
  *    rebuild via [[save]] (or widen the children with
  *    [[Layouts.adoptSchema]] first to read them; null uids carry no
  *    precedence, so rebuild remains the supported upgrade).
  *  - `fps/` + `_ladder` — [[WinnowState]]'s (fp, ndocs) layout,
  *    summed per fp at read. A COUNT state updates by SIGNED DELTAS:
  *    the update child holds (fp, −1) per old-version fingerprint and
  *    (fp, +1) per new-version fingerprint, net-zero rows dropped;
  *    read-time sums then equal the post-change rebuild exactly.
  *    Deltas are safe here where [[Forget]] rejected refcounting for
  *    deletion REQUESTS: a replayed request is a NEW child that
  *    double-decrements, but a replayed UPDATE overwrites the SAME
  *    `b<updateId>` child — idempotent by the layout, and each
  *    manifest is an exact diff (q112's full-outer reconcile), never
  *    a duplicated ad-hoc request.
  *  - `blocks/` + `_geometry` — [[BlockState]]'s (bh, ndocs) layout,
  *    same signed-delta treatment.
  *
  * Commit protocol: all four children are deterministic functions of
  * (manifest, frozen sidecars) written as idempotent overwrites of
  * `b<updateId>`, and the commit MARKER (guarded at `cdc`, read and
  * written through [[graft.streaming.Maintainer]]) advances LAST — a crash
  * anywhere mid-apply replays to bit-identical children, an updateId
  * at or below the marker skips entirely, and [[compact]] bounds its
  * folds by the marker so a crashed attempt's own child is never
  * absorbed where the replay's overwrite could no longer reach it
  * ([[graft.streaming.Maintainer.foldBound]]). During the
  * crash-to-replay window the state may hold additions without the
  * matching removals — candidate probes are briefly a SUPERSET
  * (callers verify candidates exactly anyway); they never miss new
  * content or resurrect content whose removal committed. Single
  * writer per state dir, same contract as every maintainer here.
  *
  * Equivalence contract (CdcStateSpec): after applyChanges, each
  * family's read view is ROW-IDENTICAL to [[save]] over the
  * post-change corpus — the pruneIncremental ≡ re-prune discipline —
  * and q194 oracle-checks the winnow family end-to-end at corpus
  * scale (per-doc coverage from the updated state ≡ DuckDB's full
  * recompute over the post-change corpus).
  *
  * Scale shape: cost is O(|manifest|) — old/new versions re-shingle
  * and re-fingerprint ONLY the changed documents (never the corpus),
  * every child is change-sized, and reads stay what they were (state
  * scanned, probe sets broadcast; the band_dead anti-join's build
  * side is change-sized until compaction folds it away).
  */
object CdcDedupState {

  private val bandsDdl = "bkey STRING, doc_id BIGINT, uid BIGINT"

  /** State-family selector for [[save]]/[[applyChanges]]. A caller
    * that only READS one family can skip building the others — the
    * corpus-sized band build (shingle + minhash over every document)
    * dominates [[save]]'s cost, and q194's oracle checks the winnow
    * family end-to-end (CdcStateSpec pins bands and blocks under the
    * default All). The commit protocol is unchanged: whatever subset
    * is built, the marker advances LAST over exactly that subset's
    * idempotent children.
    */
  sealed abstract class Family
  object Family {
    case object Bands extends Family
    case object Fps extends Family
    case object Blocks extends Family
    val All: Set[Family] = Set(Bands, Fps, Blocks)
    /** The winnow-fingerprint family alone — q194's timed subset. */
    val WinnowOnly: Set[Family] = Set(Fps)
  }

  /** Build the change manifest from two (doc_id, text) snapshot
    * frames — q112's full-outer reconcile carrying PAYLOADS instead of
    * fingerprints (the update needs the old text to un-fingerprint
    * it): (doc_id, old_text, new_text), null old = added, null new =
    * removed, both = changed; unchanged rows suppressed, so the
    * manifest is sized by the CHANGE.
    */
  def manifestOf(old: DataFrame, cur: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), col("text").as("old_text"))
    val c = cur.select(col("doc_id"), col("text").as("new_text"))
    o.join(c, Seq("doc_id"), "full_outer")
      .filter(col("old_text").isNull || col("new_text").isNull ||
        col("old_text") =!= col("new_text"))
  }

  /** Build all three state families from the current corpus
    * (doc_id, text). Bases land as `base` children; the winnow ladder
    * and block geometry sidecars freeze exactly as their owners do.
    */
  def save(docs: DataFrame, dir: String, w: Int = 8, blockTokens: Int = 10,
      families: Set[Family] = Family.All): Unit = {
    if (families(Family.Bands))
      bandsFor(docs).withColumn("uid", lit(0L))
        .write.mode("overwrite").parquet(s"$dir/bands/base")
    if (families(Family.Fps))
      WinnowState.save(docs.select(col("doc_id"), col("text").as("t")), dir, w)
    if (families(Family.Blocks))
      BlockState.save(docs, dir, blockTokens)
    writeFamilies(docs.sparkSession, dir, families)
  }

  /** Which families this state dir holds — frozen at [[save]] time and
    * REQUIRED to match every [[applyChanges]]: the commit marker is
    * one per state dir, so an update applied for a subset would
    * permanently skip the other families' deltas (a later full-family
    * apply at a higher updateId cannot reach back below the marker).
    * Legacy dirs without the sidecar read as All.
    */
  private def familiesName(f: Family): String = f match {
    case Family.Bands => "bands"
    case Family.Fps => "fps"
    case Family.Blocks => "blocks"
  }

  private def familiesSidecar(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_families")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeFamilies(spark: SparkSession, dir: String, fams: Set[Family]): Unit = {
    val (fs, p) = familiesSidecar(spark, dir)
    Layouts.writeSidecar(fs, p,
      fams.map(familiesName).toSeq.sorted.mkString(",") + "\n")
  }

  private def readFamilies(spark: SparkSession, dir: String): Set[Family] = {
    val (fs, p) = familiesSidecar(spark, dir)
    Layouts.readSidecar(fs, p) match {
      case None => Family.All // pre-sidecar layout: full state
      case Some(s) => s.trim.split(",").filter(_.nonEmpty).map {
        case "bands" => Family.Bands
        case "fps" => Family.Fps
        case "blocks" => Family.Blocks
        case other => throw new IllegalStateException(
          s"unknown family '$other' in $dir/_families")
      }.toSet
    }
  }

  /** Apply one change manifest (see [[manifestOf]]) as update
    * `updateId`. Returns the manifest row count applied, or −1 when
    * the marker says this update already committed (replay skip).
    * `w`/`blockTokens` must match the [[save]] geometry (the sidecar
    * `require`s catch a blockTokens mismatch; `w` follows
    * [[WinnowState.probe]]'s caller contract).
    */
  def applyChanges(
      spark: SparkSession,
      manifest: DataFrame,
      dir: String,
      updateId: Long,
      w: Int = 8,
      blockTokens: Int = 10,
      families: Set[Family] = Family.All): Long = {
    val saved = readFamilies(spark, dir)
    require(families == saved,
      s"applyChanges(families=$families) against a state dir holding $saved — " +
        "the commit marker is per-dir, so a subset apply would permanently " +
        "skip the other families' deltas; rebuild with CdcDedupState.save " +
        "at the geometry you intend to maintain")
    val guard = s"$dir/cdc"
    if (updateId <= Maintainer.committedBatch(spark, guard))
      return -1L
    Checkpoints.scope {
      val m = Checkpoints.local(manifest)
      val n = m.count()
      val oldDocs = m.filter(col("old_text").isNotNull)
        .select(col("doc_id"), col("old_text").as("text"))
      val newDocs = m.filter(col("new_text").isNotNull)
        .select(col("doc_id"), col("new_text").as("text"))

      // ---- bands: symmetric difference (set state). Checkpointed:
      // the two except directions are separate plans that would each
      // re-run BOTH sides' shingle + minhash pipelines otherwise.
      if (families(Family.Bands)) {
        Checkpoints.scope {
          val oldBands = Checkpoints.local(bandsFor(oldDocs))
          val newBands = Checkpoints.local(bandsFor(newDocs))
          newBands.except(oldBands).withColumn("uid", lit(updateId))
            .write.mode("overwrite").parquet(s"$dir/bands/b$updateId")
          oldBands.except(newBands).withColumn("uid", lit(updateId))
            .write.mode("overwrite").parquet(s"$dir/band_dead/b$updateId")
        }
      }

      // ---- winnow fps: signed deltas under the FROZEN ladder rung
      // (the new versions must not widen the rung — same loud failure
      // as WinnowState.probe; a wider maxGrams under the SAME rung
      // just records the new high-water mark)
      if (families(Family.Fps)) {
        val ladder = WinnowState.readLadder(spark, dir)
        val newMax = Mining.maxGramsOf(
          newDocs.select(col("doc_id"), col("text").as("t")))
        require(
          Mining.posLadder(math.max(newMax, ladder.maxGrams)) ==
            ((ladder.hashHex, ladder.posMod)),
          s"update of $newMax grams widens the pos ladder beyond the state's " +
            s"frozen rung (posMod=${ladder.posMod}) — rebuild with " +
            "CdcDedupState.save over the full corpus")
        signedDelta(
          fpsFor(oldDocs, w, ladder), fpsFor(newDocs, w, ladder), "fp")
          .write.mode("overwrite").parquet(s"$dir/fps/b$updateId")
        if (newMax > ladder.maxGrams)
          WinnowState.writeLadder(spark, dir, ladder.copy(maxGrams = newMax))
      }

      // ---- blocks: signed deltas under the frozen geometry
      if (families(Family.Blocks)) {
        val frozen = BlockState.readGeometry(spark, dir)
        require(frozen == blockTokens,
          s"update at blockTokens=$blockTokens against state frozen at $frozen")
        signedDelta(bhsFor(oldDocs, blockTokens), bhsFor(newDocs, blockTokens), "bh")
          .write.mode("overwrite").parquet(s"$dir/blocks/b$updateId")
      }

      // marker LAST — the commit point
      Maintainer.writeCommitted(spark, guard, updateId)
      n
    }
  }

  /** Build-once-per-content CDC state — [[StateCache.ensure]] (the
    * shared per-JVM cache + `_ready` + exit-hook protocol), kept here
    * as the q194 call site's named entry point: `build` (the
    * corpus-sized [[save]] + the change-sized [[applyChanges]]) runs
    * only on a cache MISS for `fingerprint`, so the timed q194 path
    * measures what production measures — READING an at-rest state
    * that some earlier job maintained.
    */
  def ensureState(fingerprint: String)(build: String => Unit): String =
    StateCache.ensure(fingerprint)(build)

  /** The live near-dup band view (bkey, doc_id): all band children
    * minus the tombstones that OUTRANK them (dead.uid > row.uid — see
    * the header's precedence note; a bare anti-join would let a stale
    * tombstone permanently hide a later re-add). The dead side is
    * change-sized until [[compact]] — broadcast join, the band state
    * itself only scans. Feed this to
    * [[Lsh.incrementalCandidatesFrom]] as the corpus side.
    */
  def bands(spark: SparkSession, dir: String): DataFrame =
    liveBands(
      Layouts.readChildren(spark, s"$dir/bands", bandsDdl),
      deadRanks(spark, dir, None))
      .select(col("bkey"), col("doc_id"))

  /** Highest tombstone uid per (bkey, doc_id) — the precedence frame. */
  private def deadRanks(
      spark: SparkSession, dir: String, bound: Option[Long]): DataFrame =
    Layouts.readChildren(spark, s"$dir/band_dead", bandsDdl, bound)
      .groupBy(col("bkey"), col("doc_id"))
      .agg(max(col("uid")).as("__dead_uid"))

  /** Band rows not hidden by an outranking tombstone (uid retained). */
  private def liveBands(rows: DataFrame, dead: DataFrame): DataFrame =
    rows.join(broadcast(dead), Seq("bkey", "doc_id"), "left")
      .filter(col("__dead_uid").isNull || col("uid") > col("__dead_uid"))
      .select(col("bkey"), col("doc_id"), col("uid"))

  /** The summed winnow state (fp, ndocs) — signed deltas folded in. */
  def winnowCounts(spark: SparkSession, dir: String): DataFrame =
    WinnowState.stateFps(spark, dir)
      .groupBy(col("fp")).agg(sum(col("ndocs")).as("ndocs"))
      .filter(col("ndocs") =!= 0L)

  /** The summed block state (bh, ndocs). */
  def blockCounts(spark: SparkSession, dir: String): DataFrame =
    Layouts.readChildren(spark, s"$dir/blocks", "bh BIGINT, ndocs BIGINT")
      .groupBy(col("bh")).agg(sum(col("ndocs")).as("ndocs"))
      .filter(col("ndocs") =!= 0L)

  /** Fold each family's per-update children and physically apply the
    * band tombstones — [[Forget.compact]]'s commit-order argument:
    * the dead children applied are LISTED FIRST (ids tombstoned
    * mid-compact survive for the next cadence), every fold publishes
    * individually through [[Layouts.foldChildren]]'s crash-safe
    * rename, and the applied dead children clear ONLY after the band
    * fold covered every live child — a skipped child may hold rows
    * only the tombstones hide. All folds are BOUNDED by the commit
    * marker (+1): a crashed apply's own `b<id>` children must stay
    * unfolded so the replay's overwrite reaches them.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val bound = Maintainer.foldBound(spark, s"$dir/cdc")
    val deadRoot = s"$dir/band_dead"
    val applied = Layouts.liveChildrenBefore(spark, deadRoot, bound).map(_.getName)
    Checkpoints.scope {
      val dead = Checkpoints.local(deadRanks(spark, dir, bound))
      Layouts.foldChildren(spark, s"$dir/bands",
        transform = liveBands(_, dead),
        beforeBatch = bound, force = true)
      val skipped = {
        val all = Layouts.liveChildren(spark, s"$dir/bands").map(_.getName)
        val folded = Layouts.liveChildrenBefore(spark, s"$dir/bands", bound).map(_.getName)
        (all.toSet -- folded.toSet).nonEmpty
      }
      if (!skipped) {
        val fs = new org.apache.hadoop.fs.Path(deadRoot)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        applied.foreach { name =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$deadRoot/$name"), true)
        }
      }
    }
    Layouts.foldChildren(spark, s"$dir/fps",
      _.groupBy(col("fp")).agg(sum(col("ndocs")).as("ndocs"))
        .filter(col("ndocs") =!= 0L),
      beforeBatch = bound)
    Layouts.foldChildren(spark, s"$dir/blocks",
      _.groupBy(col("bh")).agg(sum(col("ndocs")).as("ndocs"))
        .filter(col("ndocs") =!= 0L),
      beforeBatch = bound)
  }

  /** q21's exact banding of a (doc_id, text) frame, keyed for the
    * at-rest layout — the [[graft.streaming.StreamCuration]] shape.
    */
  private def bandsFor(docs: DataFrame): DataFrame =
    Llm.bandsOf(Llm.shingleSets(docs))
      .select(concat_ws("|", col("band"), col("bsig")).as("bkey"), col("doc_id"))

  /** Per-doc DISTINCT fingerprint presence under the frozen rung. */
  private def fpsFor(docs: DataFrame, w: Int, ladder: WinnowState.Ladder): DataFrame =
    Mining.selectedFingerprints(
        docs.select(col("doc_id"), col("text").as("t")),
        w, ladder.hashHex, ladder.posMod)
      .select(col("doc_id"), col("fp")).distinct()

  /** Per-doc DISTINCT block-hash presence under the frozen geometry. */
  private def bhsFor(docs: DataFrame, blockTokens: Int): DataFrame =
    Curation.blockFrame(docs, blockTokens)
      .select(col("doc_id"), col("bh")).distinct()

  /** (key, −1/+1) presence deltas between two per-doc key frames,
    * net-zero keys dropped — summed at read, the post-change counts.
    */
  private def signedDelta(old: DataFrame, cur: DataFrame, key: String): DataFrame =
    cur.withColumn("ndocs", lit(1L))
      .unionByName(old.withColumn("ndocs", lit(-1L)))
      .groupBy(col(key)).agg(sum(col("ndocs")).as("ndocs"))
      .filter(col("ndocs") =!= 0L)
      .select(col(key), col("ndocs"))
}
