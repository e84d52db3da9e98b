package graft

import graft.ops.BlockState
import graft.streaming.{Maintainer, StreamBlock}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Streaming boilerplate removal: ordered micro-batch drops must equal
  * the same sequence of batch-mode BlockState probes row for row
  * (which BlockStateSpec proves ≡ the full q110 recompute), a restart
  * from the checkpoint replays nothing, replayed batch ids are no-ops,
  * a replay after a crashed state commit cleans identically, and
  * compactStream is bounded by the commit marker.
  */
class StreamBlockSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def docs = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"text")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.select(col("doc_id"), col("n_blocks"), col("n_rm"), col("clean_text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  private def stateAgg(dir: String): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.Layouts.readChildren(spark, s"$dir/blocks", "bh BIGINT, ndocs BIGINT")
      .groupBy($"bh").agg(sum($"ndocs").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ordered streamed drops ≡ sequential batch probes; restart replays nothing") {
    import spark.implicits._
    import java.nio.file.Files
    val corpus = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val streamState = Files.createTempDirectory("sb-state").toString
    val refState = Files.createTempDirectory("sb-ref").toString
    BlockState.save(corpus, streamState)
    BlockState.save(corpus, refState)

    val srcDir = Files.createTempDirectory("sb-src").toString
    val ckpt = Files.createTempDirectory("sb-ckpt").toString
    val outDir = Files.createTempDirectory("sb-out").toString

    def runOnce(): Unit = {
      val src = spark.readStream.schema(docs.schema).parquet(srcDir)
      val q = StreamBlock.start(src, streamState, outDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    // drop 1, run, STOP — then drop 2 and restart from the checkpoint
    b1.write.mode("append").parquet(srcDir)
    runOnce()
    b2.write.mode("append").parquet(srcDir)
    runOnce()

    val ref1 = rowsOf(BlockState.probe(b1, refState, commit = true))
    val ref2 = rowsOf(BlockState.probe(b2, refState, commit = true))
    assert(rowsOf(spark.read.parquet(s"$outDir/batch_0")) == ref1,
      "first streamed drop diverges from the batch probe")
    assert(rowsOf(spark.read.parquet(s"$outDir/batch_1")) == ref2,
      "second streamed drop diverges from the batch probe (state fold broken?)")

    // state content ≡ the batch-mode reference state
    assert(stateAgg(streamState) == stateAgg(refState))

    // a replayed batch id is a no-op even with data aboard
    assert(!StreamBlock.cleanBatch(b2, streamState, outDir, batchId = 1L))
    assert(stateAgg(streamState) == stateAgg(refState),
      "replayed batch id mutated the state")

    // the combined read side covers both drops exactly once
    val all = StreamBlock.cleaned(spark, outDir)
    assert(all.count() == b1.count() + b2.count())
    assert(all.select("batch_id").distinct().count() == 2)
  }

  test("a replay after a crashed state commit cleans identically (no self-count)") {
    import spark.implicits._
    import java.nio.file.Files
    val corpus = docs.filter($"doc_id" < 100)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 160)
    val dir = Files.createTempDirectory("sb-replay").toString
    val refDir = Files.createTempDirectory("sb-replay-ref").toString
    val outDir = Files.createTempDirectory("sb-replay-out").toString
    BlockState.save(corpus, dir)
    BlockState.save(corpus, refDir)
    // crashed attempt: the batch's state child committed, the marker
    // never advanced — the replay must not count the batch against
    // itself (its blocks would spuriously cross minDocs)
    val crashed = rowsOf(
      BlockState.probe(batch, dir, commit = true, batchId = Some(0L)))
    assert(rowsOf(BlockState.probe(batch, refDir, commit = false)) == crashed)
    assert(StreamBlock.cleanBatch(batch, dir, outDir, batchId = 0L))
    assert(rowsOf(spark.read.parquet(s"$outDir/batch_0").drop("batch_id")) == crashed,
      "replayed trigger cleaned against its own crashed state commit")
  }

  test("compactStream folds only committed children") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("sb-compact").toString
    val outDir = Files.createTempDirectory("sb-compact-out").toString
    BlockState.save(docs.filter($"doc_id" < 100), dir)
    assert(StreamBlock.cleanBatch(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 150), dir, outDir, batchId = 0L))
    // an uncommitted b1 (crashed trigger) must survive the fold
    BlockState.probe(docs.filter($"doc_id" >= 150 && $"doc_id" < 200),
      dir, commit = true, batchId = Some(1L))
    val before = stateAgg(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamBlock.compactStream(spark, dir)
    assert(fs.exists(new Path(s"$dir/blocks/b1")),
      "uncommitted b1 was folded — replay exclusion defeated")
    assert(!fs.exists(new Path(s"$dir/blocks/b0")), "committed b0 must fold")
    assert(stateAgg(dir) == before, "fold changed state contents")
    // once committed, the next compact folds it too
    Maintainer.writeCommitted(spark, s"$dir/blocks", 1L)
    StreamBlock.compactStream(spark, dir)
    assert(!fs.exists(new Path(s"$dir/blocks/b1")))
    assert(stateAgg(dir) == before)
  }
}
