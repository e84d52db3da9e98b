package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Maintenance for partitionBy-at-rest parquet layouts (the
  * [[IvfIndex.save]] / [[IvfPq.save]] form). `appendSaved` writes one
  * parquet file set per append into each partition directory — a daily
  * drop × 365 leaves hundreds of small files per cell, and the
  * listing/open tax lands exactly on the pruned-read path the layout
  * exists for. [[compactPartitioned]] rewrites the layout so each
  * partition directory holds ONE data file again, leaving probe
  * results row-identical (probes are order-insensitive rank queries;
  * only the file count changes).
  */
object Layouts {

  /** Rewrite a partitionBy(`partCol`) parquet layout in place, one
    * data file per partition directory (rows hash-route by `partCol`,
    * so each partition's rows land in exactly one write task). The
    * rewrite stages into a sibling `…__compact_tmp` directory and
    * publishes by directory rename — atomic on HDFS/local filesystems.
    * On an object store (S3A) rename is copy+delete, NOT atomic: a
    * production deployment publishes the compacted layout under a NEW
    * path and flips a manifest/metastore pointer instead; the staging
    * discipline here is the same, only the pointer flip differs.
    * Readers opened mid-compact on a non-atomic store should retry —
    * same caveat as any non-transactional parquet layout.
    */
  def compactPartitioned(spark: SparkSession, path: String, partCol: String): Unit = {
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path)
      .repartition(spark.sparkContext.defaultParallelism, col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    publish(spark, path, tmp)
  }

  /** Staged-rename publish shared by the compactors and
    * [[IndexDrift.retrainAndSwap]]: replace `path` with the staged
    * directory `tmp` by two renames (stage the original aside, rename
    * the staging dir in, delete the original). Atomic per rename on
    * HDFS/local; same object-store caveat as documented on
    * [[compactPartitioned]].
    */
  def publish(spark: SparkSession, path: String, tmp: String): Unit = {
    val bak = path + "__compact_bak"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (p, t, b) = (new Path(path), new Path(tmp), new Path(bak))
    // recover a previous publish that crashed between its two renames
    // (original staged aside, replacement never renamed in): restore
    // the original so this run compacts from a consistent layout —
    // without this, the crash window left NO layout at `path` and
    // both readers and a re-run failed on path-not-found
    if (fs.exists(b) && !fs.exists(p)) {
      require(fs.rename(b, p), s"publish: cannot restore $bak after a crashed publish")
    }
    if (fs.exists(b)) fs.delete(b, true)
    require(fs.rename(p, b), s"publish: cannot stage $path aside")
    require(fs.rename(t, p),
      s"publish: cannot publish $tmp over $path (original preserved at $bak)")
    fs.delete(b, true)
  }

  /** Recover `path` if a previous [[publish]] crashed between its two
    * renames — the read-side twin of publish's own recovery, for
    * callers that open the layout without re-running the compactor.
    * No-op when the layout is intact.
    */
  def recoverPublished(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (p, b) = (new Path(path), new Path(path + "__compact_bak"))
    if (fs.exists(b) && !fs.exists(p)) {
      require(fs.rename(b, p), s"recoverPublished: cannot restore $b")
    }
  }

  /** Repair a partitionBy layout that holds replayed duplicates — the
    * reconcile path for the append-layout crash window
    * [[graft.streaming.Maintainer]] documents (a failure between a
    * batch's data append and its commit-marker write leaves that
    * batch's rows twice). One row per
    * `idCol` survives (duplicates are bit-identical by construction:
    * same frozen model → same cell/code), rewritten one file per
    * partition directory and published by the same staged rename as
    * [[compactPartitioned]] — a reconcile is also a compact. Returns
    * the number of duplicate rows dropped.
    */
  def dedupPartitioned(
      spark: SparkSession, path: String, partCol: String, idCol: String): Long = {
    val before = spark.read.parquet(path).count()
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path)
      .dropDuplicates(idCol)
      .repartition(spark.sparkContext.defaultParallelism, col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    publish(spark, path, tmp)
    before - spark.read.parquet(path).count()
  }

  /** Data-file count per partition directory — the bound
    * IndexAppendSpec asserts after a compact.
    */
  def dataFilesPerPartition(spark: SparkSession, path: String, partCol: String): Map[String, Int] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))
      }.toMap
  }

  /** Compact a FLAT (unpartitioned) parquet directory that accumulates
    * one file set per append — the streaming-curation state dirs'
    * shape — down to `numFiles` files, same staged-rename publish (and
    * the same object-store caveat) as [[compactPartitioned]].
    */
  def compactFlat(spark: SparkSession, path: String, numFiles: Int = 0): Unit = {
    val n = if (numFiles > 0) numFiles else spark.sparkContext.defaultParallelism
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmp)
    publish(spark, path, tmp)
  }

  /** Data-file count of a flat parquet directory. */
  def dataFiles(spark: SparkSession, path: String): Int = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path)).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** CHILD-DIR state layout — the streaming maintainers' exactly-once
    * state shape: a root directory whose immediate children are each a
    * complete parquet dir ("base" from a batch build, "b<id>" per
    * streaming micro-batch, "fold_<token>" from compaction). A
    * micro-batch commits by OVERWRITING its own b<id> child —
    * idempotent, so a replayed trigger rewrites bit-identical content
    * instead of double-appending (the flat-append crash window
    * [[graft.streaming.Maintainer]] documents). Readers take the
    * union of [[liveChildren]]; [[foldChildren]] compacts many
    * children into one with a crash-safe protocol.
    */

  /** The currently-live child dirs of a child-dir state root, fold
    * protocol aware: a pending-fold sidecar whose target child EXISTS
    * means the fold published but its deletions didn't finish — the
    * folded children it names are excluded (their rows live in the
    * fold child). If the target does not exist the fold never
    * published and every child counts. Staging dirs (`__`-prefixed)
    * never count.
    */
  def liveChildren(spark: SparkSession, root: String): Seq[Path] = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Seq.empty
    val folded: Set[String] = readSidecar(fs, foldPending(root)) match {
      case Some(s) =>
        val lines = s.trim.split('\n')
        if (fs.exists(new Path(rootP, lines.head))) lines.tail.toSet
        else Set.empty
      case None => Set.empty
    }
    val all = fs.listStatus(rootP).toSeq
    // A PRE-child-dir-era flat layout (data files directly under the
    // root, e.g. BlockState's original `$dir/blocks/part-*.parquet`)
    // would otherwise read as silently EMPTY state — probes would
    // miss every count and pass duplicates/boilerplate through
    // unflagged. Fail loudly instead; [[adoptFlat]] migrates.
    val flat = all.filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    require(flat.isEmpty,
      s"child-dir state root $root holds flat data files " +
        s"(${flat.map(_.getPath.getName).take(3).mkString(", ")}…) from a " +
        "pre-child-dir layout — reading them as empty state would " +
        "silently miss every count; run Layouts.adoptFlat to migrate " +
        "them into a base child")
    all
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("__") &&
        !folded.contains(st.getPath.getName))
      .map(_.getPath)
  }

  /** Migrate a pre-child-dir-era FLAT state root (data files directly
    * under `root`) into the child-dir layout by moving the files into
    * a `base` child — the repair for [[liveChildren]]'s flat-layout
    * guard. Idempotent: re-running after a crash moves the remaining
    * files; a crash mid-move leaves a root the guard still rejects
    * (some files flat), never silently-empty state.
    */
  def adoptFlat(spark: SparkSession, root: String): Unit = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return
    val base = new Path(rootP, "base")
    if (!fs.exists(base)) fs.mkdirs(base)
    fs.listStatus(rootP).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .foreach { st =>
        require(fs.rename(st.getPath, new Path(base, st.getPath.getName)),
          s"adoptFlat: cannot move ${st.getPath} into $base")
      }
  }

  /** One-shot DDL-upgrade migration for a child-dir root: rewrite
    * every live child whose schema is MISSING columns of `ddl`,
    * filling them with typed NULLs (e.g.
    * [[graft.streaming.StreamCuration]]'s fps root gaining `doc_id`
    * provenance — a pre-upgrade state dir would otherwise fail
    * [[readChildren]]'s projection with an AnalysisException on the
    * first post-upgrade trigger). NULL semantics are the caller's
    * contract; for fps provenance: a null-doc_id row still suppresses
    * future duplicates of its fingerprint but cannot be SELECTIVELY
    * forgotten ([[Forget.exclude]]'s doc_id anti-join never matches
    * null) — rebuild the root for full forget capability over
    * pre-upgrade rows.
    *
    * Crash protocol (idempotent, resumable): each old child renames
    * to a `__adopt_<name>` staging dir (invisible to
    * [[liveChildren]]), the widened child writes under the original
    * name, then the staging dir deletes. THE STAGING DIR IS THE
    * AUTHORITY until it is gone — a re-run that finds one deletes
    * whatever (possibly partial) rewrite sits at the original name
    * and rewrites from staging. Run inside the maintenance window
    * (single writer, no concurrent probes): between rename and
    * rewrite the child is transiently invisible to readers, same
    * exposure as every compactor here.
    */
  def adoptSchema(spark: SparkSession, root: String, ddl: String): Unit = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return
    val want = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    def widen(stage: Path, target: Path): Unit = {
      val have = spark.read.parquet(stage.toString)
      val widened = want.fields.foldLeft(have) { (df, f) =>
        if (df.columns.contains(f.name)) df
        else df.withColumn(f.name, org.apache.spark.sql.functions.lit(null).cast(f.dataType))
      }
      widened.select(want.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
        .write.mode("overwrite").parquet(target.toString)
      require(fs.delete(stage, true), s"adoptSchema: cannot drop staging $stage")
    }
    // resume crashed adoptions first: staging is the authority
    fs.listStatus(rootP).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__adopt_"))
      .foreach { st =>
        val target = new Path(rootP, st.getPath.getName.stripPrefix("__adopt_"))
        if (fs.exists(target)) fs.delete(target, true)
        widen(st.getPath, target)
      }
    liveChildren(spark, root).foreach { child =>
      val have = spark.read.parquet(child.toString).schema.fieldNames.toSet
      if (want.fieldNames.exists(!have.contains(_))) {
        val stage = new Path(rootP, s"__adopt_${child.getName}")
        require(fs.rename(child, stage),
          s"adoptSchema: cannot stage $child for rewrite")
        widen(stage, child)
      }
    }
  }

  /** [[liveChildren]] restricted to children committed BELOW a batch
    * id: per-batch children `b<id'>` with id' >= `beforeBatch` are
    * excluded — replay hygiene for the streaming maintainers (a
    * crashed attempt of the CURRENT trigger may have committed its
    * child before the marker advanced; a replay that read it would
    * judge the batch against itself).
    */
  def liveChildrenBefore(
      spark: SparkSession, root: String, beforeBatch: Option[Long]): Seq[Path] =
    liveChildren(spark, root).filter(p => beforeBatch.forall { id =>
      val n = p.getName
      !n.startsWith("b") || !n.drop(1).forall(_.isDigit) || n.drop(1).toLong < id
    })

  /** Union of the live children as one frame; `ddl` types the empty
    * frame before the first child exists.
    */
  def readChildren(
      spark: SparkSession,
      root: String,
      ddl: String,
      beforeBatch: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val live = liveChildrenBefore(spark, root, beforeBatch)
    if (live.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    else {
      val cols = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        .fieldNames.map(col).toSeq
      spark.read.parquet(live.map(_.toString): _*).select(cols: _*)
    }
  }

  /** Fold all live children into ONE new child and delete them —
    * compaction for the child-dir layout. Crash-safe at every step
    * with ONE atomic publish rename:
    *   1. union of live children → `root/__stage` (overwrite);
    *   2. pending sidecar names the fold child + the folded children;
    *   3. rename __stage → root/fold_<token>  (THE commit point);
    *   4. delete folded children, drop the sidecar.
    * Before 3 readers see the original children (the sidecar's target
    * doesn't exist yet) and a re-run discards the stale sidecar and
    * starts over; after 3 readers exclude the folded children (their
    * rows live in the fold child) and a re-run finishes the
    * deletions. Re-running after any crash converges.
    *
    * `beforeBatch` is REQUIRED CORRECTNESS PLUMBING when the root is
    * maintained by a streaming trigger: a crashed attempt may have
    * committed its own `b<id>` child before its commit marker
    * advanced, and folding that child into a `fold_<token>` name
    * would defeat the replay's own-batch exclusion
    * ([[liveChildrenBefore]] only recognizes `b<digits>` names) — the
    * replayed trigger would then judge the batch against itself AND,
    * for non-idempotent merges (sum counters), double-count it. Pass
    * the maintainer's committed-batch bound (committed + 1) so
    * at-or-above children stay unfolded; None is only safe for
    * batch-built roots or a cleanly-stopped stream.
    *
    * `repartitionOutput = false` leaves the transform's own
    * partitioning/ordering intact (for roots whose probe contract
    * depends on clustering, e.g. [[LexIndex]]'s token-sorted
    * postings); the default round-robins to the session parallelism.
    *
    * `force = true` folds even a SINGLE live child — for callers
    * whose `transform` must rewrite content (e.g. [[Forget.compact]]
    * physically dropping tombstoned rows from a root that holds only
    * `base`); the default skips the no-op single-child fold.
    */
  def foldChildren(
      spark: SparkSession,
      root: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity,
      beforeBatch: Option[Long] = None,
      repartitionOutput: Boolean = true,
      force: Boolean = false): Unit = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return
    // finish (or discard) a previous fold first
    readSidecar(fs, foldPending(root)).foreach { s =>
      val lines = s.trim.split('\n')
      if (fs.exists(new Path(rootP, lines.head)))
        lines.tail.foreach(d => fs.delete(new Path(rootP, d), true))
      fs.delete(foldPending(root), false)
    }
    val live = liveChildrenBefore(spark, root, beforeBatch)
    if (live.isEmpty || (live.length <= 1 && !force)) return
    val token = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(rootP, "__stage")
    val folded = transform(spark.read.parquet(live.map(_.toString): _*))
    (if (repartitionOutput)
      folded.repartition(spark.sparkContext.defaultParallelism)
    else folded)
      .write.mode("overwrite").parquet(stage.toString)
    writeSidecar(fs, foldPending(root),
      (s"fold_$token" +: live.map(_.getName)).mkString("", "\n", "\n"))
    require(fs.rename(stage, new Path(rootP, s"fold_$token")),
      s"foldChildren: cannot publish $stage")
    live.foreach(p => fs.delete(p, true))
    fs.delete(foldPending(root), false)
  }

  private def foldPending(root: String) = new Path(root + "__fold_pending")

  /** Atomically (re)write a tiny text sidecar (commit markers, ladder
    * rungs, file manifests): write to a sibling temp file, then
    * delete-and-rename over the target. A plain `fs.create(p,
    * overwrite = true)` truncates BEFORE writing, so a crash mid-write
    * would leave an empty/torn sidecar that wedges the next reader.
    * The delete→rename pair is NOT itself atomic (Hadoop FileSystem
    * rename cannot overwrite), so [[readSidecar]] closes the
    * remaining window: a crash between the delete and the rename
    * leaves the target absent but the COMPLETE `.tmp` present
    * (written and closed before the delete), and reads fall back to
    * it — a lost marker would otherwise reset commit state (e.g.
    * [[graft.streaming.Maintainer]]'s committedBatch to −1, inviting
    * a double-append) or wedge a ladder-rung reader entirely.
    */
  def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    // The `.tmp` is [[readSidecar]]'s fallback when the target is
    // absent, so it must NEVER be observable torn. On the first-ever
    // write the target doesn't exist yet, so a crash mid-`.tmp`-write
    // would leave a partial `.tmp` as the ONLY file — the fallback
    // would trust it. Stage through a third name first: `.stage` may
    // tear (nobody reads it); `.tmp` only ever appears by rename of a
    // complete, closed file.
    val stage = new Path(p.getParent, p.getName + ".stage")
    val out = fs.create(stage, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    // An orphaned `.tmp` with no target is COMMITTED state (a prior
    // write crashed between its delete(p) and rename(tmp→p); readers
    // have been using the fallback). Promote it before anything is
    // destroyed — deleting it first would, on a crash right after,
    // lose the marker entirely (committedBatch resets to −1 and a
    // replayed batch double-appends).
    if (!fs.exists(p) && fs.exists(tmp)) {
      require(fs.rename(tmp, p), s"sidecar recovery failed: $tmp -> $p")
    }
    if (fs.exists(tmp)) fs.delete(tmp, false)
    require(fs.rename(stage, tmp), s"sidecar stage failed: $stage -> $tmp")
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"sidecar publish failed: $tmp -> $p")
  }

  /** Read a [[writeSidecar]]-maintained text sidecar; None if absent.
    * Falls back to the sibling `.tmp` when the target is missing —
    * the recovery read for a crash between writeSidecar's delete and
    * rename (the `.tmp` is complete by then; see [[writeSidecar]]).
    * A live target always wins: a fresher `.tmp` from an in-flight
    * write is not yet committed.
    */
  def readSidecar(fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[String] = {
    val target =
      if (fs.exists(p)) Some(p)
      else {
        val tmp = new Path(p.getParent, p.getName + ".tmp")
        if (fs.exists(tmp)) Some(tmp) else None
      }
    target.map { t =>
      val in = fs.open(t)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
  }
}
