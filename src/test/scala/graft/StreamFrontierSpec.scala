package graft

import graft.streaming.StreamFrontier
import org.apache.spark.sql.DataFrame

/** streaming.StreamFrontier: each canonical page enters the frontier
  * exactly once across the stream (within-batch alias collapse by min
  * url, cross-batch suppression by the seen state), replayed batches
  * skip, crash replay converges to bit-identical children, and the
  * union of committed children equals the batch-mode canonical
  * distinct of everything ingested.
  */
class StreamFrontierSpec extends SparkSuite {

  // key1 aliases: uppercase host vs explicit :443 (same canonical)
  private val u1 = "https://A.Example.org/en/articles/1"
  private val u1b = "https://a.example.org:443/en/articles/1"
  private val u1c = "https://a.example.org/en/articles/1#frag" // batch-1 rediscovery
  // key2: tracking param strips away
  private val u2 = "https://b.example.org/de/articles/2?utm_source=x"
  // key3 aliases within one batch: doubled slash vs %-encoded letter
  private val u3 = "https://c.example.org/fr//articles/3"
  private val u3b = "https://c.example.org/fr/%61rticles/3"

  private val k1 = "https://a.example.org/en/articles/1"
  private val k2 = "https://b.example.org/de/articles/2"
  private val k3 = "https://c.example.org/fr/articles/3"

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "url")
  }

  private val batch0 = Seq((1L, u1), (11L, u1b), (2L, u2))
  private val batch1 = Seq((3L, u1c), (4L, u3), (44L, u3b))

  private def newRows(outDir: String): Set[(Long, String, String)] =
    StreamFrontier.newUrls(spark, outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("exactly-once frontier: alias collapse, cross-batch suppression, replay, crash") {
    val root = java.nio.file.Files.createTempDirectory("sfrontier").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")

    assert(StreamFrontier.processBatch(spark, df(batch0), stateDir, outDir, 0L))
    // within-batch collapse: 'A' < 'a' so the uppercase alias wins k1
    assert(newRows(outDir) === Set((1L, u1, k1), (2L, u2, k2)))

    assert(StreamFrontier.processBatch(spark, df(batch1), stateDir, outDir, 1L))
    // u1c's canonical key is already seen → suppressed; k3's two
    // aliases collapse to the min url ('%' < '/')
    val want = Set((1L, u1, k1), (2L, u2, k2), (44L, u3b, k3))
    assert(newRows(outDir) === want)
    assert(StreamFrontier.seen(spark, stateDir).collect()
      .map(_.getString(0)).toSet === Set(k1, k2, k3))

    // batch-mode equivalence: union of children keys == canonical
    // distinct of everything ingested
    val all = graft.queries.Mining.withCanonUrl(df(batch0 ++ batch1))
    assert(all.select("canon_url").distinct().collect()
      .map(_.getString(0)).toSet === Set(k1, k2, k3))

    // replayed batch is a no-op
    assert(!StreamFrontier.processBatch(spark, df(batch0), stateDir, outDir, 0L))
    assert(newRows(outDir) === want)

    // crash: batch 1's children written but the marker never advanced
    graft.streaming.Maintainer.writeCommitted(spark, s"$stateDir/seen", 0L)
    assert(StreamFrontier.processBatch(spark, df(batch1), stateDir, outDir, 1L))
    assert(newRows(outDir) === want, "crash replay must converge bit-identically")

    // empty batch advances the marker without children
    assert(!StreamFrontier.processBatch(spark, df(Seq.empty), stateDir, outDir, 2L))
    assert(StreamFrontier.processBatch(spark, df(Seq((5L, "https://d.example.org/x"))),
      stateDir, outDir, 3L))
    assert(newRows(outDir).size === 4)

    // the SAME url discovered twice in one batch (two referrer pages)
    // must enter the frontier ONCE — a min-url filter would leak both
    // (r15 self-review catch); lowest doc_id wins the tie
    assert(StreamFrontier.processBatch(spark,
      df(Seq((7L, "https://e.example.org/y"), (8L, "https://e.example.org/y"))),
      stateDir, outDir, 4L))
    val eRows = newRows(outDir).filter(_._3 == "https://e.example.org/y")
    assert(eRows === Set((7L, "https://e.example.org/y", "https://e.example.org/y")))
  }
}
