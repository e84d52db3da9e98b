package graft

import graft.ops.{Hits, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-16 dictionary encoding: past `idEncodeEdgeRows` the rank
  * loops (PageRank / TrustRank / HITS) shuffle 8-byte UTF-8-rank ids
  * instead of URL strings. The gate may only ever change PLANS — every
  * double must be bit-identical between the id path and the string
  * path, which holds iff the rank ids are order-ISOMORPHIC to the
  * strings (every `sort_array` fold then visits its leaves in the same
  * order). This suite pins both halves: the isomorphism itself on
  * adversarial strings, and end-to-end bit-equality of the forced id
  * path against the unchanged string/driver paths.
  */
class IdEncodeSpec extends SparkSuite {

  /** Run `body` with the id-encode gate forced to 0 (every distributed
    * graph takes the id path), restoring the default afterwards. */
  private def forcedIds[T](body: => T): T = {
    sys.props("graft.idEncodeEdgeRows") = "0"
    try body finally sys.props.remove("graft.idEncodeEdgeRows")
  }

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
    val viaLocal = collectRanks(
      PageRank.run(fixtureEdges, rounds = 5, strategy = "local"))
    val viaIds = forcedIds(collectRanks(
      PageRank.run(fixtureEdges, rounds = 5, strategy = "distributed")))
    assert(viaIds == viaLocal)
  }

  test("PageRank id path is bit-identical to the string path on a hub graph") {
    import spark.implicits._
    // 9000 sources into one hub: exercises the segment tree with
    // non-trivial level-1 buckets, plus a dangling hub
    val edges = spark.range(9000)
      .select(concat(lit("https://h"), ($"id" % 37).cast("string"),
        lit(".example/p"), $"id").as("w1"), lit("https://hub.example/").as("w2"),
        ($"id" % 3 + 1).as("c"))
    val viaStrings = collectRanks(
      PageRank.run(edges, rounds = 3, strategy = "distributed"))
    val viaIds = forcedIds(collectRanks(
      PageRank.run(edges, rounds = 3, strategy = "distributed")))
    assert(viaIds == viaStrings)
  }

  test("TrustRank id path is bit-identical to the string path") {
    val seed = "w LIKE 'a%'"
    val viaStrings = PageRank.runBiased(fixtureEdges, rounds = 5, seedCond = seed)
      .collect().map(r => (r.getString(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getLong(2))).toSet
    val viaIds = forcedIds(
      PageRank.runBiased(fixtureEdges, rounds = 5, seedCond = seed)
        .collect().map(r => (r.getString(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getLong(2))).toSet)
    assert(viaIds == viaStrings)
  }

  test("HITS id path is bit-identical to the string path") {
    def scores(df: DataFrame) = df.collect().map(r => (r.getString(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val viaStrings = scores(Hits.run(fixtureEdges, rounds = 3))
    val viaIds = forcedIds(scores(Hits.run(fixtureEdges, rounds = 3)))
    assert(viaIds == viaStrings)
  }

  test("broadcast-regime id rounds do not re-shuffle the edge frame") {
    import spark.implicits._
    // the hub graph: ~3.6k distinct (target, seg) level-1 keys
    val edges = spark.range(9000)
      .select(concat(lit("https://h"), ($"id" % 37).cast("string"),
        lit(".example/p"), $"id").as("w1"), lit("https://hub.example/").as("w2"),
        ($"id" % 3 + 1).as("c"))
    val targetSegs = edges
      .select($"w2", expr("CAST(conv(substr(md5(w1), 1, 15), 16, 10) AS BIGINT) % 4096"))
      .distinct().count()
    def written(rounds: Int): Long = forcedIds(ShuffleRecords.written(spark)(
      PageRank.run(edges, rounds = rounds, strategy = "distributed").collect())._2.records)
    val extra = written(3) - written(1)
    // two more rounds over an edge frame laid out by target id add only
    // node-sized exchanges; re-shuffling the edges on (target, seg)
    // would add at least one record per (target, seg) key each round
    assert(extra < targetSegs,
      s"2 extra rounds wrote $extra shuffle records, >= $targetSegs (target, seg) keys")
  }
}
