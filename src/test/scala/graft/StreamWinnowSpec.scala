package graft

import graft.ops.{Layouts, WinnowState}
import graft.streaming.{Maintainer, StreamWinnow}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Streaming ExactSubstr scoring: ordered micro-batch drops must equal
  * the same sequence of batch-mode WinnowState probes row for row
  * (which WinnowStateSpec proves ≡ a full recompute), a restart from
  * the checkpoint replays nothing, replayed batch ids are no-ops, and
  * compactStream's token-guarded fold protocol neither under- nor
  * double-counts at either crash point.
  */
class StreamWinnowSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def docs = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text".as("t"))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("doc_id"), col("n_fp"), col("n_dup"), col("dup_frac"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet

  private def stateAgg(dir: String): Map[Long, Long] =
    WinnowState.stateFps(spark, dir)
      .groupBy(col("fp")).agg(sum(col("ndocs")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ordered streamed drops ≡ sequential batch probes; restart replays nothing") {
    import spark.implicits._
    import java.nio.file.Files
    val corpus = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val streamState = Files.createTempDirectory("sw-state").toString
    val refState = Files.createTempDirectory("sw-ref").toString
    WinnowState.save(corpus, streamState, w = 8)
    WinnowState.save(corpus, refState, w = 8)

    val srcDir = Files.createTempDirectory("sw-src").toString
    val ckpt = Files.createTempDirectory("sw-ckpt").toString
    val outDir = Files.createTempDirectory("sw-out").toString

    def runOnce(): Unit = {
      val src = spark.readStream.schema(docs.schema).parquet(srcDir)
      val q = StreamWinnow.start(src, streamState, outDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    // drop 1, run, STOP — then drop 2 and restart from the checkpoint
    b1.write.mode("append").parquet(srcDir)
    runOnce()
    b2.write.mode("append").parquet(srcDir)
    runOnce()

    // batch-mode reference: the same two probes in the same order
    val ref1 = rowsOf(WinnowState.probe(b1, refState, w = 8, commit = true))
    val ref2 = rowsOf(WinnowState.probe(b2, refState, w = 8, commit = true))
    assert(rowsOf(spark.read.parquet(s"$outDir/batch_0")) == ref1,
      "first streamed drop diverges from the batch probe")
    assert(rowsOf(spark.read.parquet(s"$outDir/batch_1")) == ref2,
      "second streamed drop diverges from the batch probe (state fold broken?)")

    // folded state content ≡ the flat-append reference state
    assert(stateAgg(streamState) == stateAgg(refState))

    // a replayed batch id is a no-op even with data aboard
    assert(!StreamWinnow.scoreBatch(b2, streamState, outDir, batchId = 1L, w = 8))
    assert(stateAgg(streamState) == stateAgg(refState),
      "replayed batch id mutated the state")

    // the combined read side covers both drops exactly once
    val all = StreamWinnow.scores(spark, outDir)
    assert(all.count() == b1.filter(length($"t") >= 27).count() +
      b2.filter(length($"t") >= 27).count())
    assert(all.select("batch_id").distinct().count() == 2)
  }

  test("a replay after a crashed state commit scores identically (no self-count)") {
    import spark.implicits._
    import java.nio.file.Files
    val corpus = docs.filter($"doc_id" < 100)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 160)
    val dir = Files.createTempDirectory("sw-replay").toString
    val refDir = Files.createTempDirectory("sw-replay-ref").toString
    val outDir = Files.createTempDirectory("sw-replay-out").toString
    WinnowState.save(corpus, dir, w = 8)
    WinnowState.save(corpus, refDir, w = 8)
    // crashed attempt: the batch's state child committed, but the
    // marker never advanced
    val crashed = rowsOf(
      WinnowState.probe(batch, dir, w = 8, commit = true, batchId = Some(0L)))
    assert(rowsOf(WinnowState.probe(batch, refDir, w = 8, commit = false)) == crashed)
    // the replayed trigger must NOT see the crashed commit as corpus
    // state (it would count the batch against itself and inflate
    // n_dup for every within-batch duplicate)
    assert(StreamWinnow.scoreBatch(batch, dir, outDir, batchId = 0L, w = 8))
    assert(rowsOf(spark.read.parquet(s"$outDir/batch_0")
      .drop("batch_id")) == crashed,
      "replayed trigger scored against its own crashed state commit")
  }

  test("compactStream: fold preserves counts and survives both crash points") {
    import spark.implicits._
    import java.nio.file.Files
    val corpus = docs.filter($"doc_id" < 100)
    val b1 = docs.filter($"doc_id" >= 100 && $"doc_id" < 150)
    val b2 = docs.filter($"doc_id" >= 150 && $"doc_id" < 200)
    val dir = Files.createTempDirectory("sw-compact").toString
    WinnowState.save(corpus, dir, w = 8)
    WinnowState.probe(b1, dir, w = 8, commit = true, batchId = Some(0L))
    WinnowState.probe(b2, dir, w = 8, commit = true, batchId = Some(1L))
    // advance the commit marker as scoreBatch would: compactStream
    // bounds its fold by it, and an uncommitted child must never fold
    // (first-trigger-crash hygiene)
    Maintainer.writeCommitted(spark, s"$dir/fps", 1L)
    val before = stateAgg(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // crash point A — pending sidecar written, the fold child was
    // never published (rename didn't happen): readers must still
    // include every child (no undercount), and the next compactStream
    // discards the stale sidecar and folds for real
    Layouts.writeSidecar(fs, new Path(s"$dir/fps__fold_pending"),
      "fold_deadbeef\nb0\nb1\n")
    assert(stateAgg(dir) == before, "unpublished fold made readers undercount")
    WinnowState.compactStream(spark, dir)
    assert(stateAgg(dir) == before, "fold changed the state contents")
    assert(!fs.exists(new Path(s"$dir/fps/b0")) &&
      !fs.exists(new Path(s"$dir/fps/b1")), "folded children not deleted")
    assert(!fs.exists(new Path(s"$dir/fps/base")), "base child survived the fold")

    // crash point B — fold child published (the rename happened) but
    // the deletions didn't finish: replay the protocol by hand up to
    // the crash — readers must EXCLUDE the folded child (no double
    // count), and recovery finishes the deletions
    val b3 = docs.filter($"doc_id" >= 200 && $"doc_id" < 250)
    WinnowState.probe(b3, dir, w = 8, commit = true, batchId = Some(2L))
    Maintainer.writeCommitted(spark, s"$dir/fps", 2L)
    val withB3 = stateAgg(dir)
    val stage = s"$dir/fps/__stage"
    WinnowState.stateFps(spark, dir).write.mode("overwrite").parquet(stage)
    Layouts.writeSidecar(fs, new Path(s"$dir/fps__fold_pending"),
      Layouts.liveChildren(spark, s"$dir/fps").map(_.getName)
        .mkString("fold_crash\n", "\n", "\n"))
    assert(fs.rename(new Path(stage), new Path(s"$dir/fps/fold_crash")))
    // CRASH here: b2 (and the earlier fold child) still on disk beside
    // the published fold_crash child
    assert(fs.exists(new Path(s"$dir/fps/b2")))
    assert(stateAgg(dir) == withB3, "published fold double-counts the folded children")
    WinnowState.compactStream(spark, dir)
    assert(stateAgg(dir) == withB3)
    assert(!fs.exists(new Path(s"$dir/fps/b2")))
    assert(!fs.exists(new Path(s"$dir/fps__fold_pending")))

    // probes read identically through fold and recovery
    val probe = WinnowState.probe(docs.filter($"doc_id" >= 250 && $"doc_id" < 260),
      dir, w = 8, commit = false)
    assert(probe.count() > 0)
  }

  test("compactStream never folds an uncommitted child (first-trigger crash)") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("sw-uncommitted").toString
    WinnowState.save(docs.filter($"doc_id" < 100), dir, w = 8)
    // model a first-trigger crash: b0 committed, marker never written
    WinnowState.probe(docs.filter($"doc_id" >= 100 && $"doc_id" < 150),
      dir, w = 8, commit = true, batchId = Some(0L))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    WinnowState.compactStream(spark, dir)
    assert(fs.exists(new Path(s"$dir/fps/b0")),
      "uncommitted b0 was folded — the replayed trigger's own-batch " +
        "exclusion can no longer see it inside a fold_ child")
    // once the trigger's replay commits the marker, the child folds
    Maintainer.writeCommitted(spark, s"$dir/fps", 0L)
    val before = stateAgg(dir)
    WinnowState.compactStream(spark, dir)
    assert(!fs.exists(new Path(s"$dir/fps/b0")))
    assert(stateAgg(dir) == before)
  }
}
