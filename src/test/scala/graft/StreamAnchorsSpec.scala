package graft

import graft.streaming.StreamAnchors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** streaming.StreamAnchors: the merged delta state equals a full
  * batch recompute over everything ingested (increment ≡ rebuild,
  * the BlockState discipline), replays skip, and a crash between the
  * delta write and the marker converges to a bit-identical child.
  */
class StreamAnchorsSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def docsSlice(parity: Int): DataFrame =
    graft.Sql.table(spark, dir, "documents")
      .select("doc_id", "lang", "source")
      .filter(col("doc_id") % 2 === parity)

  private def merged(stateDir: String): Map[String, (Long, Long, Long, Seq[String], Seq[String])] =
    StreamAnchors.anchorTable(spark, stateDir).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[String](4), r.getSeq[String](5)))
    }.toMap

  test("increment ≡ rebuild across two batches; replay and crash converge") {
    val root = java.nio.file.Files.createTempDirectory("sanchors").toString
    val state = s"$root/state"

    assert(StreamAnchors.processBatch(spark, docsSlice(0), state, 0L))
    assert(StreamAnchors.processBatch(spark, docsSlice(1), state, 1L))
    val got = merged(state)

    // full batch recompute over corpus = both batches together
    val links = graft.queries.Crawl.withOutlinks(
        graft.Sql.table(spark, dir, "documents"))
      .filter(col("kind") =!= "skip")
      .select("doc_id", "anchor", "nofollow", "src_url", "dst_url")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4)))
    val want = links.groupBy(_._5).map { case (dst, g) =>
      dst -> ((g.length.toLong,
        g.map(_._1).distinct.length.toLong,
        g.map(_._3).sum,
        g.map(t => t._4.replaceAll("^https?://([^/]+).*$", "$1"))
          .distinct.sorted.toSeq,
        g.map(_._2).distinct.sorted.toSeq))
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (dst, w) => assert(got(dst) === w, dst) }

    // replayed batch skips and changes nothing
    assert(!StreamAnchors.processBatch(spark, docsSlice(0), state, 0L))
    assert(merged(state) === got)

    // crash: delta b1 written but the marker never advanced — the
    // replay must overwrite bit-identically
    graft.streaming.Maintainer.writeCommitted(spark, s"$state/agg", 0L)
    assert(StreamAnchors.processBatch(spark, docsSlice(1), state, 1L))
    assert(merged(state) === got, "crash replay must converge")

    // empty batch advances the marker without a child
    assert(!StreamAnchors.processBatch(spark,
      docsSlice(0).limit(0), state, 2L))
    assert(merged(state) === got)
  }
}
