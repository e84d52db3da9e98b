package graft

import graft.streaming.StreamCuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming curation must agree with q100's batch pipeline on the
  * shared corpus: the whole corpus fed as doc_id-ordered micro-batches
  * (the daily-drop shape) and as one batch through the real
  * readStream → foreachBatch plumbing both reproduce the batch
  * survivors row for row.
  */
class StreamCurationSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[(Long, String, String, Long, Long, String)] =
    df.select("doc_id", "lang", "source", "n_chars", "n_tokens", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
      .toSet

  test("ordered micro-batches reproduce q100 exactly (4 daily drops)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"text")
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))
    val stateDir = java.nio.file.Files.createTempDirectory("scur-state").toString
    val outDir = java.nio.file.Files.createTempDirectory("scur-out").toString + "/data"
    val slices = Seq(
      docs.filter($"doc_id" <= cuts(0)),
      docs.filter($"doc_id" > cuts(0) && $"doc_id" <= cuts(1)),
      docs.filter($"doc_id" > cuts(1) && $"doc_id" <= cuts(2)),
      docs.filter($"doc_id" > cuts(2)))
    slices.take(2).zipWithIndex.foreach { case (b, i) =>
      assert(StreamCuration.processBatch(spark, b, stateDir, outDir, batchId = i.toLong))
    }
    // state compaction mid-stream: decisions are state-content
    // functions, so the remaining drops see identical state — and the
    // per-batch child accumulation is squashed to one fold child
    assert(graft.ops.Layouts.liveChildren(spark, s"$stateDir/fps").size == 2)
    StreamCuration.compactState(spark, stateDir)
    val childrenAfter = graft.ops.Layouts.liveChildren(spark, s"$stateDir/fps")
    assert(childrenAfter.size == 1,
      s"fps state not folded: ${childrenAfter.map(_.getName)}")
    slices.drop(2).zipWithIndex.foreach { case (b, i) =>
      assert(StreamCuration.processBatch(spark, b, stateDir, outDir, batchId = 2L + i))
    }
    // a replayed batch id is a no-op even with data aboard
    assert(!StreamCuration.processBatch(spark, slices.last, stateDir, outDir, batchId = 3L))

    val streamed = rows(StreamCuration.curated(spark, outDir))
    val batch = rows(SparkEntry.queries("q100_curation_pipeline")(spark, sf))
    assert(streamed == batch,
      s"streamed != q100: only-streamed=${(streamed -- batch).map(_._1)} only-batch=${(batch -- streamed).map(_._1)}")
    // the drops must span batches: at least one near-dup/exact-dup pair
    // is split across slices, so cross-batch state did real work
    assert(streamed.nonEmpty && streamed.size < docs.count())
  }

  test("readStream → foreachBatch plumbing yields q100 on a single trigger") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"text")
    val srcDir = java.nio.file.Files.createTempDirectory("scur-src").toString
    docs.write.mode("overwrite").parquet(srcDir)
    val stateDir = java.nio.file.Files.createTempDirectory("scur-state2").toString
    val outDir = java.nio.file.Files.createTempDirectory("scur-out2").toString + "/data"

    val src = spark.readStream.schema(docs.schema).parquet(srcDir)
    val q = StreamCuration.start(src, stateDir, outDir)
    q.processAllAvailable()
    q.stop()

    val streamed = rows(StreamCuration.curated(spark, outDir))
    val batch = rows(SparkEntry.queries("q100_curation_pipeline")(spark, sf))
    assert(streamed == batch,
      s"single-trigger stream != q100: diff=${(streamed -- batch).map(_._1)} / ${(batch -- streamed).map(_._1)}")
  }

  test("a replay after a crashed state commit decides identically (no self-suppression)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"text")
    val mid = {
      val ids = docs.select($"doc_id").as[Long].collect().sorted
      ids(ids.length / 2)
    }
    val b0 = docs.filter($"doc_id" <= mid)
    val b1 = docs.filter($"doc_id" > mid)
    val crashState = java.nio.file.Files.createTempDirectory("scur-crash").toString
    val crashOut = java.nio.file.Files.createTempDirectory("scur-crash-out").toString + "/data"
    val refState = java.nio.file.Files.createTempDirectory("scur-ref").toString
    val refOut = java.nio.file.Files.createTempDirectory("scur-ref-out").toString + "/data"
    assert(StreamCuration.processBatch(spark, b0, crashState, crashOut, batchId = 0L))
    assert(StreamCuration.processBatch(spark, b0, refState, refOut, batchId = 0L))
    // crashed attempt of batch 1: every state child committed, but the
    // marker never advanced (rewind it to simulate the crash point)
    assert(StreamCuration.processBatch(spark, b1, crashState, crashOut, batchId = 1L))
    graft.streaming.Maintainer.writeCommitted(spark, s"$crashState/state", 0L)
    // the replayed trigger must not anti-join b1 against its own
    // crashed fps/bands commits — that would suppress the whole batch
    assert(StreamCuration.processBatch(spark, b1, crashState, crashOut, batchId = 1L))
    assert(StreamCuration.processBatch(spark, b1, refState, refOut, batchId = 1L))
    assert(rows(StreamCuration.curated(spark, crashOut)) ==
      rows(StreamCuration.curated(spark, refOut)),
      "replayed trigger decided against its own crashed state commit")
  }

  test("restart from the sink checkpoint: a later drop resumes against persisted state") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"text")
    val mid = {
      val ids = docs.select($"doc_id").as[Long].collect().sorted
      ids(ids.length / 2)
    }
    val srcDir = java.nio.file.Files.createTempDirectory("scur-src3").toString
    val stateDir = java.nio.file.Files.createTempDirectory("scur-state3").toString
    val outDir = java.nio.file.Files.createTempDirectory("scur-out3").toString + "/data"

    def runOnce(): Unit = {
      val src = spark.readStream.schema(docs.schema).parquet(srcDir)
      val q = StreamCuration.start(src, stateDir, outDir)
      q.processAllAvailable()
      q.stop()
    }
    // first drop, run, STOP the query entirely — then the second drop
    // lands and a NEW query resumes from the same checkpoint + state
    docs.filter($"doc_id" <= mid).write.mode("append").parquet(srcDir)
    runOnce()
    val afterFirst = rows(StreamCuration.curated(spark, outDir)).size
    docs.filter($"doc_id" > mid).write.mode("append").parquet(srcDir)
    runOnce()

    val streamed = rows(StreamCuration.curated(spark, outDir))
    assert(streamed.size > afterFirst, "second drop produced no survivors")
    val batch = rows(SparkEntry.queries("q100_curation_pipeline")(spark, sf))
    assert(streamed == batch,
      s"restarted stream != q100: diff=${(streamed -- batch).map(_._1)} / ${(batch -- streamed).map(_._1)}")
  }
}
