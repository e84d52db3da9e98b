package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical inverted index AT REST — the exact-search twin of the ANN
  * layouts ([[IvfIndex]]/[[IvfPq]]/[[AnnIndex]]): posting rows
  * (tok, doc_id, tf, dl) persisted sorted by token, probed by term
  * list, scoring the q95 BM25 algebra FROM THE INDEX instead of
  * rescanning the corpus — the Lucene-shaped artifact a production
  * retrieval stack keeps beside its vector index (q115 fuses both
  * legs; this makes the lexical leg index-served).
  *
  * Determinism contract: [[search]] reproduces q95's output
  * BIT-FOR-BIT (same exact-integer tf/df/dl/sum_dl/nd, same
  * fixed-order per-document fold), so q129 reuses q95's oracle SQL
  * verbatim — the index provably changes the ACCESS PATH, not one
  * double of the answer.
  *
  * State shape: ONE [[Layouts.liveChildren]] child-dir root —
  * `chunks/base` from [[save]], `chunks/b<id>` per drop (NEW doc_ids
  * only, the q112 drop contract; postings are disjoint across
  * children so the merged view is plain concatenation). Each child
  * carries BOTH row kinds: its posting rows (kind 'p') AND one
  * kind-'s' row holding the child's (Σdl, n_docs) — so a child is
  * internally CONSISTENT BY CONSTRUCTION and the whole drop has a
  * single commit unit (the round-9 review caught the first design
  * splitting postings and stats across two roots: a crash between
  * the two writes left postings visible with no matching stats and
  * skewed every score; no cross-root pairing rule survives
  * asymmetric compaction, so the pairing moved INSIDE the child).
  * Children write (kind, tok)-sorted, so the pushed kind+tok filters
  * prune the probe to the query terms' row groups. df is NOT stored:
  * it is counted over the pruned probe rows at search time, so
  * appends can never leave it stale; Σdl and n_docs are plain sums
  * of the kind-'s' rows (one per child).
  *
  * 100 TB shape: build is the one (doc, tok) shuffle q95 pays anyway;
  * a probe reads only the query terms' row groups plus one stats row
  * per child; a drop costs O(|batch|) with no corpus rescan and
  * replays are idempotent child overwrites (no marker — the
  * [[graft.streaming.StreamCms]] argument).
  */
object LexIndex {

  private val chunkDdl =
    "kind STRING, tok STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, sum_dl BIGINT, nd BIGINT"

  /** (tok, doc_id, tf, dl) posting rows of a (doc_id, text) frame —
    * q95's exact tokenization and counts.
    */
  def postings(docs: DataFrame): DataFrame = {
    val wc = docs
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dl = wc.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    wc.join(dl, "doc_id").select(col("tok"), col("doc_id"), col("tf"), col("dl"))
  }

  /** Build the index from the current corpus. */
  def save(docs: DataFrame, path: String): Unit =
    writeChild(postings(docs), path, "base")

  /** Fold a drop of NEW documents in — one idempotent child overwrite
    * per `batchId` (postings + their stats row together), O(|batch|).
    */
  def append(batch: DataFrame, path: String, batchId: Long): Unit =
    writeChild(postings(batch), path, s"b$batchId")

  /** One child from a posting frame: kind-'p' rows plus the single
    * kind-'s' stats row, (kind, tok)-clustered. The checkpoint feeds
    * the frame's two consumers (p-rows and the stats agg) and is
    * released once the child is on disk.
    */
  private def writeChild(postRaw: DataFrame, path: String, child: String): Unit = {
    val post = Checkpoints.local(postRaw)
    withStatsRow(post)
      .write.mode("overwrite").parquet(s"$path/chunks/$child")
    Checkpoints.release(post)
  }

  /** kind-'p' rows + the single kind-'s' stats row of a posting
    * frame. Consumes `post` twice — callers checkpoint when the frame
    * is expensive ([[writeChild]]); [[compact]]'s transform passes the
    * children read directly (a second scan of small state beats
    * holding blocks inside foldChildren's write).
    */
  private def withStatsRow(post: DataFrame): DataFrame = {
    val p = post.select(lit("p").as("kind"), col("tok"), col("doc_id"),
      col("tf"), col("dl"), lit(null).cast("long").as("sum_dl"),
      lit(null).cast("long").as("nd"))
    val s = post.select(col("doc_id"), col("dl")).distinct()
      .agg(sum(col("dl")).cast("long").as("sum_dl"),
        count(lit(1)).cast("long").as("nd"))
      .select(lit("s").as("kind"), lit(null).cast("string").as("tok"),
        lit(null).cast("long").as("doc_id"), lit(null).cast("long").as("tf"),
        lit(null).cast("long").as("dl"), col("sum_dl"), col("nd"))
    p.repartition(col("tok")).sortWithinPartitions("kind", "tok", "doc_id")
      .unionAll(s.coalesce(1))
  }

  private def chunks(spark: SparkSession, path: String): DataFrame =
    Layouts.readChildren(spark, s"$path/chunks", chunkDdl)

  /** Record a deletion request against the index ([[Forget]]'s LSM
    * pattern, specialized because BM25 needs more than row exclusion:
    * df, nd and sum_dl must all read as if the docs were never
    * indexed). Each forgotten doc's dl is captured FROM ITS POSTINGS
    * once, here — so every subsequent [[search]] corrects the corpus
    * stats with an O(|requests|) broadcast instead of rescanning the
    * index per query. Idempotent child overwrite per `markId`; docs
    * absent from the index contribute no row and no correction.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame, markId: Long): Unit =
    chunks(spark, path).filter(col("kind") === "p")
      .join(ids.select(col("doc_id").cast("long").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(max(col("dl")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$path/forget/b$markId")

  /** The live tombstone frame (doc_id, dl) — None when no request is
    * pending, so the no-forget [[search]] plan is untouched. Repeated
    * requests for the same doc collapse (max over identical dls).
    */
  private def tombs(spark: SparkSession, path: String): Option[DataFrame] =
    if (Layouts.liveChildren(spark, s"$path/forget").isEmpty) None
    else Some(Layouts.readChildren(spark, s"$path/forget",
        "doc_id BIGINT, dl BIGINT")
      .groupBy(col("doc_id")).agg(max(col("dl")).cast("long").as("dl")))

  /** Physically drop forgotten postings and REBUILD the stats row
    * from the survivors (the fold's [[withStatsRow]] recompute —
    * forget ≡ rebuild-without at rest, not just at probe), then clear
    * the applied tombstone children. Same crash ordering as
    * [[Forget.compact]]: data folds publish first, a crash leaves
    * tombstones live and probes correct. Crash WINDOW, documented:
    * between the fold's publish and the tombstone clear, searches
    * double-subtract the folded docs' stats delta — the DELETION
    * guarantee holds throughout (forgotten docs are physically gone
    * and still tombstoned), survivor scores under-read avgdl until
    * the standard crash protocol (re-run the maintenance job)
    * completes the clear; the re-run's anti-join is a no-op and its
    * fold re-publishes an identical child. Two sharp edges, both from
    * review: the tombstone set is read from EXACTLY the `applied`
    * children (a request landing mid-compact must not be folded in
    * and then survive the clear — the probe-time stats delta is not
    * idempotent, it would double-subtract); and with a `beforeBatch`
    * bound that would SKIP a chunk child, the whole physical
    * application is DEFERRED to the next (quiescent) cadence —
    * unlike [[Forget.compact]]'s roots, a partial fold here is not
    * safe to combine with surviving tombstones (the folded stats
    * rows would already exclude the docs the live delta keeps
    * subtracting); probe-time correction covers the interim.
    */
  def forgetCompact(spark: SparkSession, path: String,
      beforeBatch: Option[Long] = None): Unit = {
    val applied = Layouts.liveChildren(spark, s"$path/forget").map(_.getName)
    if (applied.isEmpty) return
    val all0 = Layouts.liveChildren(spark, s"$path/chunks").map(_.getName)
    val inFold = Layouts.liveChildrenBefore(
      spark, s"$path/chunks", beforeBatch).map(_.getName)
    if ((all0.toSet -- inFold.toSet).nonEmpty) return // defer whole
    Checkpoints.scope {
      val t = Checkpoints.local(spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, dl BIGINT"))
        .parquet(applied.map(n => s"$path/forget/$n"): _*)
        .select(col("doc_id")).distinct())
      Layouts.foldChildren(spark, s"$path/chunks",
        all => withStatsRow(
          all.filter(col("kind") === "p")
            .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
            .join(t, Seq("doc_id"), "left_anti")),
        beforeBatch = beforeBatch, repartitionOutput = false, force = true)
      // TOCTOU re-check (the post-fold twin of [[Forget.compact]]'s
      // skippedAny): a chunk child committed between the pre-fold
      // defer check and the fold's own listing is EXCLUDED from the
      // fold when a beforeBatch bound is set — clearing tombstones
      // then would unhide its forgotten postings. Withholding the
      // clear keeps the documented crash-window state (probes
      // double-subtract the folded docs' stats delta, survivor
      // scores under-read avgdl) until the next quiescent cadence
      // re-runs; the DELETION guarantee holds throughout.
      val allAfter = Layouts.liveChildren(spark, s"$path/chunks")
        .map(_.getName)
      val inFoldAfter = Layouts.liveChildrenBefore(
        spark, s"$path/chunks", beforeBatch).map(_.getName)
      if ((allAfter.toSet -- inFoldAfter.toSet).isEmpty) {
        val fs = new org.apache.hadoop.fs.Path(s"$path/forget")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        applied.foreach { name =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/forget/$name"), true)
        }
      }
    }
  }

  /** BM25 scores for `terms` served from the index — output
    * (doc_id, dl, n_qterms, score), bit-identical to q95's corpus
    * scan. `k > 0` keeps the global top-k (TakeOrderedAndProject);
    * `k = 0` returns every matching document (q95's shape).
    *
    * Pending [[forget]] tombstones are honored TRANSPARENTLY (callers
    * must not have to remember deletion): postings anti-joined, df
    * re-derived from the surviving postings for free, and the corpus
    * stats corrected by the captured (Σdl, count) delta — bit-exact
    * with an index rebuilt without the forgotten docs, because every
    * BM25 input (tf, df, dl, sum_dl, nd) is then identical. With no
    * pending request the plan is byte-for-byte the old one.
    */
  def search(spark: SparkSession, path: String, terms: Seq[String], k: Int = 0): DataFrame = {
    val all = chunks(spark, path)
    val tomb = tombs(spark, path)
    val post0 = all.filter(col("kind") === "p" && col("tok").isin(terms: _*))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    val post = tomb.fold(post0)(t =>
      post0.join(broadcast(t.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    val df = post.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
    val stats0 = all.filter(col("kind") === "s")
      .agg(sum(col("sum_dl")).cast("long").as("sum_dl"),
        sum(col("nd")).cast("long").as("nd"))
    // coalesce: a request whose ids were all absent from the index
    // leaves an EMPTY tombstone child, and sum() over zero rows is
    // NULL — which would null sum_dl and every score downstream
    val stats = tomb.fold(stats0)(t =>
      stats0.crossJoin(broadcast(
          t.agg(coalesce(sum(col("dl")), lit(0L)).cast("long").as("t_dl"),
            count(lit(1)).cast("long").as("t_nd"))))
        .select((col("sum_dl") - col("t_dl")).as("sum_dl"),
          (col("nd") - col("t_nd")).as("nd")))
    val scored = post.join(broadcast(df), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok").as("w"), col("dl"),
        ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") /
              (col("sum_dl").cast("double") / col("nd").cast("double"))))) *
          ((col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))).as("ts"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("dl")).as("dl"),
        count(lit(1)).cast("long").as("n_qterms"),
        sort_array(collect_list(struct(col("w"), col("ts")))).as("xs"))
      .select(col("doc_id"), col("dl"), col("n_qterms"),
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ts)").as("score"))
    if (k > 0) scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    else scored
  }

  /** Fold the accumulated children back to one — postings concatenate
    * (disjoint docs) and RE-CLUSTER by token, the per-child stats
    * rows re-sum into one; the fold child keeps the
    * internally-consistent shape, so [[Layouts.foldChildren]]'s
    * crash-safe protocol carries over unchanged
    * (repartitionOutput = false: the default round-robin would
    * destroy the sorted row-group clustering the pruned probe depends
    * on — round-9 review). `beforeBatch` bounds a fold under a live
    * stream (foldChildren's contract).
    */
  def compact(spark: SparkSession, path: String,
      beforeBatch: Option[Long] = None): Unit =
    Layouts.foldChildren(spark, s"$path/chunks",
      all => withStatsRow(
        all.filter(col("kind") === "p")
          .select(col("tok"), col("doc_id"), col("tf"), col("dl"))),
      beforeBatch = beforeBatch, repartitionOutput = false)
}
