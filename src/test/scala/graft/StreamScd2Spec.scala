package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** streaming.StreamScd2 (13th maintainer): feeding q189's carved v1
  * as batch 1 and the v1→v2 CDC delta as batch 2 must reproduce
  * q189's materialized history EXACTLY; no-op upserts write nothing;
  * replays decide identically; the forget hook hides a doc's whole
  * history at probe time.
  */
class StreamScd2Spec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"), col("lang"), col("source"))

  // q189's deterministic carving, raw columns (the query compares
  // digests; the stream ingests the text itself)
  private def v1 = docs.filter(col("doc_id") % 11 =!= 3)
  private def v2 = docs.filter(col("doc_id") % 13 =!= 5)
    .select(col("doc_id"),
      when(col("doc_id") % 9 === 2, concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text")).as("text"),
      col("lang"),
      when(col("doc_id") % 17 === 1, lit("migrated")).otherwise(col("source"))
        .as("source"))

  private def up(df: DataFrame) = df.withColumn("op", lit("upsert"))

  private def runBoth(state: String): Unit = {
    assert(graft.streaming.StreamScd2.processBatch(
      spark, up(v1), state, batchId = 1L))
    // the delta: upsert the WHOLE v2 (content compare drops no-ops),
    // delete what vanished
    val dels = v1.select("doc_id").exceptAll(v2.select("doc_id"))
      .select(col("doc_id"), lit("").as("text"), lit("").as("lang"),
        lit("").as("source"), lit("delete").as("op"))
    assert(graft.streaming.StreamScd2.processBatch(
      spark, up(v2).unionByName(dels), state, batchId = 2L))
  }

  private def histSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("two CDC batches reproduce q189's history exactly") {
    val state = java.nio.file.Files.createTempDirectory("scd2").toString
    runBoth(state)
    val got = histSet(graft.streaming.StreamScd2.history(spark, state))
    val want = histSet(SparkEntry.queries("q189_scd2_merge")(spark, dir))
    assert(got == want, s"stream=${got.size} batch=${want.size}")
    assert(got.nonEmpty)

    // no-op batch: re-upserting v2 verbatim at version 3 records NOTHING
    assert(graft.streaming.StreamScd2.processBatch(
      spark, up(v2), state, batchId = 3L))
    assert(spark.read.parquet(s"$state/records/b3").isEmpty,
      "no-op upserts wrote records — the log must grow with change volume")
    assert(histSet(graft.streaming.StreamScd2.history(spark, state)) == want)

    // compaction folds children without changing the derived history
    graft.streaming.StreamScd2.compactState(spark, state)
    assert(graft.ops.Layouts.liveChildren(spark, s"$state/records").size == 1)
    assert(histSet(graft.streaming.StreamScd2.history(spark, state)) == want)
  }

  test("replay after a crash decides identically; guards fire") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("scd2r").toString
    runBoth(state)
    val before = histSet(graft.streaming.StreamScd2.history(spark, state))
    // marker says 2; a replay of batch 2 is skipped outright
    assert(!graft.streaming.StreamScd2.processBatch(
      spark, up(v2), state, batchId = 2L))
    // crash simulation: batch 2's child committed but the marker did
    // not advance — rewind the marker and re-run; the replay must
    // read only pre-batch state (own-child exclusion) and republish
    // bit-identical decisions
    graft.streaming.Maintainer.writeCommitted(spark, s"$state/state", 1L)
    val dels = v1.select("doc_id").exceptAll(v2.select("doc_id"))
      .select(col("doc_id"), lit("").as("text"), lit("").as("lang"),
        lit("").as("source"), lit("delete").as("op"))
    assert(graft.streaming.StreamScd2.processBatch(
      spark, up(v2).unionByName(dels), state, batchId = 2L))
    assert(histSet(graft.streaming.StreamScd2.history(spark, state)) == before)

    // one-op-per-doc contract is loud
    val dup = Seq((1L, "a", "en", "s", "upsert"), (1L, "b", "en", "s", "upsert"))
      .toDF("doc_id", "text", "lang", "source", "op")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamScd2.processBatch(spark, dup, state, batchId = 9L)
    }
  }

  test("readStream → foreachBatch plumbing maintains the history") {
    // real file-source stream: one parquet drop of v1 upserts, one
    // trigger, then a second drop with the CDC delta — the maintained
    // history equals the directly-driven two-batch state
    val srcDir = java.nio.file.Files.createTempDirectory("scd2-src").toString
    val state = java.nio.file.Files.createTempDirectory("scd2-st").toString
    val b1 = up(v1)
    b1.write.mode("overwrite").parquet(s"$srcDir/d1")
    val src = spark.readStream.schema(b1.schema).parquet(s"$srcDir/*")
    val q = graft.streaming.StreamScd2.start(src, state)
    q.processAllAvailable()
    val dels = v1.select("doc_id").exceptAll(v2.select("doc_id"))
      .select(col("doc_id"), lit("").as("text"), lit("").as("lang"),
        lit("").as("source"), lit("delete").as("op"))
    // stage OUTSIDE the watched glob, then publish with one atomic
    // rename: the running stream triggers on its own between the two
    // processAllAvailable calls, and a parquet write is not atomic —
    // a trigger landing mid-write would consume a PARTIAL drop as its
    // own batch and split the CDC delta across two batches (the flake
    // this leg showed once under parallel-suite load)
    val stage = java.nio.file.Files.createTempDirectory("scd2-stage").toString
    up(v2).unionByName(dels).write.mode("overwrite").parquet(s"$stage/d2")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$stage/d2"),
      java.nio.file.Paths.get(s"$srcDir/d2"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
    q.stop()
    val ref = java.nio.file.Files.createTempDirectory("scd2-ref").toString
    // drive the reference state with the STREAM's batch numbering
    // (file source: batch 0 = drop 1, batch 1 = drop 2)
    assert(graft.streaming.StreamScd2.processBatch(
      spark, up(v1), ref, batchId = 0L))
    assert(graft.streaming.StreamScd2.processBatch(
      spark, up(v2).unionByName(dels), ref, batchId = 1L))
    assert(histSet(graft.streaming.StreamScd2.history(spark, state)) ==
      histSet(graft.streaming.StreamScd2.history(spark, ref)))
  }

  test("forget hides a doc's entire history at probe time") {
    val state = java.nio.file.Files.createTempDirectory("scd2f").toString
    runBoth(state)
    val victim = graft.streaming.StreamScd2.history(spark, state)
      .select("doc_id").head().getLong(0)
    graft.ops.Forget.tombstone(spark, state,
      spark.range(victim, victim + 1).select(col("id").as("doc_id")), 0L)
    val h = graft.streaming.StreamScd2.history(spark, state,
      excludeForgotten = true)
    assert(h.filter(col("doc_id") === victim).isEmpty)
    // everything else untouched
    val full = histSet(graft.streaming.StreamScd2.history(spark, state))
    assert(histSet(h) == full.filter(_.head != victim))
    // physical removal through the standard compactor
    assert(graft.ops.Forget.compact(spark, state, Seq("records")) == 1L)
    assert(graft.streaming.StreamScd2.records(spark, state)
      .filter(col("doc_id") === victim).isEmpty)
  }
}
