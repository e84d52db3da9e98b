package graft

import graft.streaming.StreamPhash
import org.apache.spark.sql.functions._

/** StreamPhash (the 14th maintainer — streaming image near-dup dedup):
  * ordered micro-batches reproduce the first-wins replica exactly on
  * a mixed real-raster + stub corpus, a crash replay rewrites
  * bit-identical children, compaction preserves decisions, and a
  * forget tombstone stops the forgotten blob from suppressing its
  * future duplicates.
  */
class StreamPhashSpec extends SparkSuite {

  import TestScenes.scenePng

  // 12 blobs in doc_id arrival order (4-doc batches: {1..4}, {5..8},
  // {9..12}): scene 7 appears at 1 (kept), resized at 4 (IN-batch
  // dup) and off-grid-resized at 9 (CROSS-batch dup vs the state);
  // scene 8 at 2 (kept) and resized at 3 (in-batch dup); stubs with
  // one exact text dup pair (6 kept, 11 cross-batch dup); the rest
  // distinct scenes
  private def blobs: Seq[(Long, Array[Byte], String)] = Seq(
    (1L, scenePng(7, 220, 120), "image/png"),
    (2L, scenePng(8, 220, 120), "image/png"),
    (3L, scenePng(8, 110, 60), "image/png"),
    (4L, scenePng(7, 110, 60), "image/png"),
    (5L, scenePng(9, 220, 120), "image/png"),
    (6L, "stub text one".getBytes("UTF-8"), "text/plain"),
    (7L, "stub text two".getBytes("UTF-8"), "text/plain"),
    (8L, scenePng(10, 220, 120), "image/png"),
    (9L, scenePng(7, 231, 126), "image/png"),
    (10L, "stub text three".getBytes("UTF-8"), "text/plain"),
    (11L, "stub text one".getBytes("UTF-8"), "text/plain"),
    (12L, scenePng(11, 220, 120), "image/png"))

  /** First-wins replica: doc kept iff no earlier doc within hamming 5. */
  private def replicaKept(phashes: Map[Long, Long]): Set[Long] =
    phashes.keys.toSeq.sorted.filter { d =>
      !phashes.keys.exists(d2 =>
        d2 < d && java.lang.Long.bitCount(phashes(d) ^ phashes(d2)) <= 5)
    }.toSet

  private def df(rows: Seq[(Long, Array[Byte], String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "media", "mime_hint")
  }

  private def phashesOf(rows: Seq[(Long, Array[Byte], String)]): Map[Long, Long] =
    graft.ops.Multimodal.imagePhash(df(rows)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def keptIds(outDir: String): Set[Long] =
    StreamPhash.kept(spark, outDir).select("doc_id").collect().map(_.getLong(0)).toSet

  test("ordered drops ≡ first-wins replica; dups cross batches; compaction preserves") {
    val root = java.nio.file.Files.createTempDirectory("sphash").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    val batches = blobs.grouped(4).toSeq // 3 batches in doc_id order
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(StreamPhash.processBatch(spark, df(b), stateDir, outDir, i.toLong))
    }
    val want = replicaKept(phashesOf(blobs))
    assert(keptIds(outDir) === want, s"stream kept ${keptIds(outDir)}, replica $want")
    // the planted structure: originals kept, both resizes + the
    // off-grid resize + the exact stub dup dropped
    assert(Set(1L, 2L, 5L, 6L, 7L, 8L, 10L, 12L).subsetOf(want))
    assert(Set(3L, 4L, 9L, 11L).intersect(want).isEmpty)
    // replayed batch is a no-op; compaction changes nothing
    assert(!StreamPhash.processBatch(spark, df(batches.head), stateDir, outDir, 0L))
    StreamPhash.compactState(spark, stateDir)
    assert(keptIds(outDir) === want)
  }

  test("crash replay rewrites bit-identical children") {
    val root = java.nio.file.Files.createTempDirectory("sphash-crash").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    val batches = blobs.grouped(6).toSeq
    assert(StreamPhash.processBatch(spark, df(batches(0)), stateDir, outDir, 0L))
    assert(StreamPhash.processBatch(spark, df(batches(1)), stateDir, outDir, 1L))
    val want = keptIds(outDir)
    // crash: batch 1's children committed but the marker never
    // advanced — rewind the marker and replay
    graft.streaming.Maintainer.writeCommitted(spark, s"$stateDir/state", 0L)
    assert(StreamPhash.processBatch(spark, df(batches(1)), stateDir, outDir, 1L))
    assert(keptIds(outDir) === want, "replay after crash must converge")
  }

  test("a forgotten blob stops suppressing its future duplicates") {
    val root = java.nio.file.Files.createTempDirectory("sphash-forget").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    val first = Seq((1L, scenePng(7, 220, 120), "image/png"))
    val dup = Seq((50L, scenePng(7, 110, 60), "image/png"))
    assert(StreamPhash.processBatch(spark, df(first), stateDir, outDir, 0L))
    // without a tombstone the resized copy is suppressed
    assert(StreamPhash.processBatch(spark, df(dup), stateDir, outDir, 1L))
    assert(!keptIds(outDir).contains(50L))
    // tombstone the CLUSTER — the original and its dropped copy: a
    // dropped dup's signatures also ingest (a later copy must match
    // through it, the StreamCuration rule), so an RTBF request names
    // the content's copies, not just the canonical
    import spark.implicits._
    graft.ops.Forget.tombstone(spark, stateDir, Seq(1L, 50L).toDF("doc_id"), 0L)
    val dup2 = Seq((60L, scenePng(7, 231, 126), "image/png"))
    assert(StreamPhash.processBatch(spark, df(dup2), stateDir, outDir, 2L))
    assert(keptIds(outDir).contains(60L),
      "forgotten blobs must stop matching at the next trigger")
  }

  test("readStream → foreachBatch plumbing dedups a single trigger") {
    val root = java.nio.file.Files.createTempDirectory("sphash-stream").toString
    val (stateDir, outDir, srcDir) = (s"$root/state", s"$root/out", s"$root/src")
    val data = df(blobs)
    data.write.parquet(srcDir)
    val src = spark.readStream.schema(data.schema).parquet(srcDir)
    val q = StreamPhash.start(src, stateDir, outDir)
    q.processAllAvailable()
    q.stop()
    assert(keptIds(outDir) === replicaKept(phashesOf(blobs)))
  }

  test("audio fingerprint hook: the SAME maintainer dedups waveforms") {
    // real WAV near-dups across batches through the q198 hash — the
    // maintainer is modality-generic, only the fingerprint changes
    def wav(seed: Int, vol: Double = 1.0): Array[Byte] = {
      val n = 61 * 100
      val levels = Array.tabulate(61) { k =>
        var x = (seed * 2654435761L + k * 40503L) & 0x7fffffffL
        x = (x * 48271L) % 2147483647L
        1000 + (x % 15000L).toInt
      }
      val samples = Array.tabulate(n) { i =>
        val env = levels(i * 61 / n)
        val sgn = if ((i / 25) % 2 == 0) 1 else -1
        (sgn * math.min(32767, (env * vol).toInt)).toShort
      }
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(8 + 4 + 24 + 8 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(4 + 24 + 8 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(b.putShort)
      b.array()
    }
    val rows: Seq[(Long, Array[Byte], String)] = Seq(
      (1L, wav(3), "audio/wav"),              // kept
      (2L, wav(4), "audio/wav"),              // kept (distinct recording)
      (3L, wav(3, vol = 0.5), "audio/wav"),   // in-batch near-dup of 1
      (4L, "stub audio payload".getBytes("UTF-8"), "audio/mp3"), // kept (stub)
      (5L, wav(4, vol = 0.7), "audio/wav"),   // CROSS-batch near-dup of 2
      (6L, "stub audio payload".getBytes("UTF-8"), "audio/mp3")) // cross exact stub dup of 4
    val root = java.nio.file.Files.createTempDirectory("sphash-audio").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    rows.grouped(4).zipWithIndex.foreach { case (b, i) =>
      assert(StreamPhash.processBatch(spark, df(b), stateDir, outDir, i.toLong,
        fingerprint = StreamPhash.audioFingerprint))
    }
    val hashes = StreamPhash.audioFingerprint(df(rows)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keptIds(outDir) === replicaKept(hashes))
    assert(keptIds(outDir) === Set(1L, 2L, 4L))
  }
}
