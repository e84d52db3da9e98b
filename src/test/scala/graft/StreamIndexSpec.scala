package graft

import graft.ops.{IndexDrift, IvfIndex}
import graft.streaming.{Maintainer, StreamIndex}
import org.apache.spark.sql.functions._

/** Streaming index maintenance: micro-batch appends into the saved IVF
  * layout equal a from-scratch rebuild under the same centroids, a
  * checkpoint restart replays nothing (batch-id commit marker), and
  * the batch maintenance operators (drift probe) read the maintained
  * layout unchanged.
  */
class StreamIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def topKSet(dir: String, cents: Array[Array[Float]],
      queries: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    IvfIndex.topKFromSaved(spark, dir, cents, queries, k = 10, nprobe = 3)
      .select(col("qid"), col("vec_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed appends ≡ rebuild; restart replays nothing; drift probe composes") {
    import spark.implicits._
    import java.nio.file.Files
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // base layout: first 300 vectors; stream the remaining 200 in drops
    val base = all.filter($"vec_id" < 300)
    val cents = IvfIndex.train(base, k = 8, iters = 3, dim = 64)
    val dir = Files.createTempDirectory("stream-ivf").toString + "/cells"
    IvfIndex.save(base, cents, dir)

    val srcDir = Files.createTempDirectory("stream-ivf-src").toString
    val ckpt = Files.createTempDirectory("stream-ivf-ckpt").toString

    def runOnce(): Unit = {
      val src = spark.readStream.schema(all.schema).parquet(srcDir)
      val q = StreamIndex.start(src, cents, dir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    // first drop, run, stop — then second drop and RESTART from the
    // same checkpoint: the commit marker + sink log must replay nothing
    all.filter($"vec_id" >= 300 && $"vec_id" < 400)
      .write.mode("append").parquet(srcDir)
    runOnce()
    all.filter($"vec_id" >= 400)
      .write.mode("append").parquet(srcDir)
    runOnce()

    // layout contents: every vector exactly once
    val ids = spark.read.parquet(dir).select("vec_id").as[Long].collect()
    assert(ids.length == all.count(), s"rows lost or duplicated: ${ids.length}")
    assert(ids.distinct.length == ids.length, "duplicated vec_ids after restart")

    // probe ≡ from-scratch rebuild under the same centroids
    val rebuilt = Files.createTempDirectory("stream-ivf-rebuild").toString + "/cells"
    IvfIndex.save(all, cents, rebuilt)
    val queries = all.filter($"vec_id" < 5)
    assert(topKSet(dir, cents, queries) == topKSet(rebuilt, cents, queries),
      "maintained layout probes differently from a rebuild")

    // a replayed batch id is a no-op even with data aboard
    val replay = all.filter($"vec_id" >= 400)
    assert(!Maintainer.once(replay, dir, batchId = 0L)(
        IvfIndex.appendSaved(replay, cents, dir)),
      "replayed batch id must be skipped")
    assert(spark.read.parquet(dir).count() == all.count(),
      "replayed batch appended anyway")

    // the batch drift probe reads the maintained layout directly; the
    // streamed drops came from the SAME distribution, so the verdict
    // is healthy against the refreshed snapshot baseline
    IndexDrift.snapshotStats(spark, dir)
    val report = IndexDrift.probeIvf(spark, dir, cents, all,
      k = 10, sampleQueries = 4, nprobe = 8)
    assert(!report.retrain, s"same-distribution stream flagged: $report")
  }

  test("crash-window duplicates reconcile via Layouts.dedupPartitioned") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.ops.Layouts
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = all.filter($"vec_id" < 400)
    val drop = all.filter($"vec_id" >= 400)
    val cents = IvfIndex.train(base, k = 8, iters = 3, dim = 64)
    val dir = Files.createTempDirectory("stream-ivf-crash").toString + "/cells"
    IvfIndex.save(base, cents, dir)
    // simulate the documented crash window: the batch's data landed but
    // its marker write did not, so the restarted trigger appends again
    IvfIndex.appendSaved(drop, cents, dir)
    IvfIndex.appendSaved(drop, cents, dir)
    assert(spark.read.parquet(dir).count() == all.count() + drop.count(),
      "fixture must actually contain the replayed batch twice")

    val removed = Layouts.dedupPartitioned(spark, dir, "cell", "vec_id")
    assert(removed == drop.count(), s"expected ${drop.count()} dropped, got $removed")
    val ids = spark.read.parquet(dir).select("vec_id").as[Long].collect()
    assert(ids.length == all.count() && ids.distinct.length == ids.length)

    // reconciled layout probes exactly like a clean rebuild, with one
    // file per cell (a reconcile is also a compact)
    val rebuilt = Files.createTempDirectory("stream-ivf-crash-rb").toString + "/cells"
    IvfIndex.save(all, cents, rebuilt)
    val queries = all.filter($"vec_id" < 5)
    assert(topKSet(dir, cents, queries) == topKSet(rebuilt, cents, queries))
    assert(Layouts.dataFilesPerPartition(spark, dir, "cell").values.forall(_ == 1))
  }

  test("same maintenance loop on the compressed IVF-PQ layout") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.ops.IvfPq
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = all.filter($"vec_id" < 300)
    val model = IvfPq.train(base, kCells = 4, m = 8, kSub = 8, dim = 64, iters = 2)
    val dir = Files.createTempDirectory("stream-ivfpq").toString + "/codes"
    IvfPq.save(base, model, dir, "si_cells", "si_codebook")

    val srcDir = Files.createTempDirectory("stream-ivfpq-src").toString
    val ckpt = Files.createTempDirectory("stream-ivfpq-ckpt").toString
    all.filter($"vec_id" >= 300).write.mode("append").parquet(srcDir)
    val q = StreamIndex.startPq(
      spark.readStream.schema(all.schema).parquet(srcDir), model, dir, ckpt)
    q.processAllAvailable(); q.stop()

    val ids = spark.read.parquet(dir).select("vec_id").as[Long].collect()
    assert(ids.length == all.count() && ids.distinct.length == ids.length)
    // probe ≡ rebuild under the same model (IndexAppendSpec's contract
    // through the streaming path)
    val rebuilt = Files.createTempDirectory("stream-ivfpq-rb").toString + "/codes"
    IvfPq.save(all, model, rebuilt, "si_cells_rb", "si_codebook_rb")
    val queries = all.filter($"vec_id" < 5)
    def probe(d: String, ct: String, cb: String) =
      IvfPq.topKFromSaved(spark, d, ct, cb, all, queries, k = 10)
        .select($"qid", $"vec_id", $"rk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir, "si_cells", "si_codebook") ==
      probe(rebuilt, "si_cells_rb", "si_codebook_rb"))
  }
}
