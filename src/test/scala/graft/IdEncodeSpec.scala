package graft

import graft.ops.{Hits, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rank families' two tiers: graphs past `PageRank.LocalEdgeRows`
  * edges run their loops (PageRank / TrustRank / HITS) on 8-byte UTF-8-
  * rank ids, smaller ones on the driver. The tier may only ever change
  * PLANS — every double must be bit-identical between the id tier and
  * the driver tier, which holds iff the rank ids are order-ISOMORPHIC
  * to the strings (every `sort_array` fold then visits its leaves in
  * the same order the driver sorts them). This suite pins both halves:
  * the isomorphism itself on adversarial strings, and end-to-end
  * bit-equality of each family's id tier against its driver tier.
  */
class IdEncodeSpec extends SparkSuite {

  private def collectRanks(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> java.lang.Double
      .doubleToLongBits(r.getDouble(1))).toMap

  // strings chosen to make rank-order ≡ UTF-8-order non-vacuous:
  // prefix pairs (shorter sorts first), ASCII vs high BMP vs
  // supplementary-plane code points (UTF-16 compareTo DISAGREES with
  // UTF-8 byte order between U+E000-range and surrogate-pair
  // characters — the exact trap PageRank.utf8Order documents), and a
  // multi-byte boundary case
  private val adversarial = Seq(
    "a", "ab", "aé", "a￩", "a😀", "b",
    "é", "￩", "😀", "z~", "z")

  /** Reference UTF-8 byte order (independent of the engine's). */
  private val utf8Ref: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < math.min(x.length, y.length)) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  test("rank ids are order-isomorphic to UTF-8 binary string order") {
    import spark.implicits._
    val nodes = adversarial.toDF("w")
    val ranked = graft.ops.GlobalRank
      .withRank(nodes, Seq(col("w").asc), "id", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // ids ascending must equal UTF-8 byte order ascending
    val byId = ranked.sortBy(_._2).map(_._1)
    val byUtf8 = adversarial.sorted(utf8Ref)
    assert(byId.toSeq == byUtf8.toSeq,
      s"rank order ${byId.toSeq} != utf8 order ${byUtf8.toSeq}")
  }

  /** Adversarial graph over the adversarial vocabulary: hubs, dangling
    * nodes, weighted multi-edges — and enough edges that every fold
    * has non-trivial order-sensitive doubles. */
  private def fixtureEdges: DataFrame = {
    import spark.implicits._
    val ws = adversarial
    val edges = for {
      (a, i) <- ws.zipWithIndex
      (b, j) <- ws.zipWithIndex
      if i != j && (i + 2 * j) % 3 != 0 // irregular, leaves some dangling
    } yield (a, b, ((i * 7 + j * 13) % 5 + 1).toLong)
    edges.toDF("w1", "w2", "c")
  }

  test("PageRank id path is bit-identical to the driver tier") {
    val viaLocal = collectRanks(PageRank.runLocal(fixtureEdges, rounds = 5))
    val viaIds = collectRanks(PageRank.runIds(fixtureEdges, rounds = 5))
    assert(viaIds == viaLocal)
  }

  /** 9000 sources into one hub: exercises the segment tree with
    * non-trivial level-1 buckets, plus a dangling hub. */
  private def hubEdges: DataFrame = {
    import spark.implicits._
    spark.range(9000)
      .select(concat(lit("https://h"), ($"id" % 37).cast("string"),
        lit(".example/p"), $"id").as("w1"), lit("https://hub.example/").as("w2"),
        ($"id" % 3 + 1).as("c"))
  }

  test("PageRank id path is bit-identical to the driver tier on a hub graph") {
    val viaLocal = collectRanks(PageRank.runLocal(hubEdges, rounds = 3))
    val viaIds = collectRanks(PageRank.runIds(hubEdges, rounds = 3))
    assert(viaIds == viaLocal)
  }

  test("TrustRank id path is bit-identical to the driver tier") {
    val seed = "w LIKE 'a%'"
    def trust(df: DataFrame) = df.collect().map(r => (r.getString(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getLong(2))).toSet
    val viaLocal = trust(PageRank.runBiasedLocal(fixtureEdges, rounds = 5, seedCond = seed))
    val viaIds = trust(PageRank.runBiasedIds(fixtureEdges, rounds = 5, seedCond = seed))
    assert(viaIds == viaLocal)
  }

  test("HITS id path is bit-identical to the driver tier") {
    def scores(df: DataFrame) = df.collect().map(r => (r.getString(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val viaLocal = scores(Hits.runLocal(fixtureEdges, rounds = 3))
    val viaIds = scores(Hits.runIds(fixtureEdges, rounds = 3))
    assert(viaIds == viaLocal)
  }

  test("broadcast-regime id rounds do not re-shuffle the edge frame") {
    // the hub graph: ~3.6k distinct (target, seg) level-1 keys
    val edges = hubEdges
    val targetSegs = edges
      .select(col("w2"), expr("CAST(conv(substr(md5(w1), 1, 15), 16, 10) AS BIGINT) % 4096"))
      .distinct().count()
    def written(rounds: Int): Long = ShuffleRecords.written(spark)(
      PageRank.runIds(edges, rounds = rounds).collect())._2.records
    val extra = written(3) - written(1)
    // two more rounds over an edge frame laid out by target id add only
    // node-sized exchanges; re-shuffling the edges on (target, seg)
    // would add at least one record per (target, seg) key each round
    assert(extra < targetSegs,
      s"2 extra rounds wrote $extra shuffle records, >= $targetSegs (target, seg) keys")
  }
}
