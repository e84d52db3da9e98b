package graft

import graft.ops.{Hits, PageRank}
import org.apache.spark.sql.DataFrame

/** The id tier's broadcast gate (`PageRank.BroadcastNodeRows`): up to
  * that many nodes each round broadcasts the rank frame and the edge
  * frame keeps its setup layout; past it each round shuffles — the
  * `repartition(parts, id2)` of the PageRank/TrustRank loop, HITS's
  * unlaid edge copy and its forced `kid` exchange. Like every
  * broadcast gate in the repo, it may only ever change PLANS — forcing
  * the gate to 0 (shuffle regime everywhere) must produce bit-identical
  * doubles to the default (broadcast regime at fixture scale), because
  * fold order is fixed by sort_array, not arrival order.
  */
class RankLoopShuffleRegimeSpec extends SparkSuite {

  private def fixtureEdges: DataFrame = {
    import spark.implicits._
    val ws = Seq("a", "ab", "aé", "a😀", "b", "é", "😀", "z~", "z", "q1", "q2")
    val edges = for {
      (a, i) <- ws.zipWithIndex
      (b, j) <- ws.zipWithIndex
      if i != j && (i + 2 * j) % 3 != 0
    } yield (a, b, ((i * 7 + j * 13) % 5 + 1).toLong)
    edges.toDF("w1", "w2", "c")
  }

  private def bits(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }).toSet

  /** Runs one id loop in the default regime and with the row gate
    * forced to 0: the results must match bit-for-bit, and the forced
    * run must really have shuffled more (else the check is vacuous).
    */
  private def sameInBothRegimes(loop: Long => DataFrame): Unit = {
    val (bcast, wb) = ShuffleRecords.written(spark)(bits(loop(PageRank.BroadcastNodeRows)))
    val (shuf, ws) = ShuffleRecords.written(spark)(bits(loop(0L)))
    assert(ws.records > wb.records,
      s"the forced shuffle regime wrote ${ws.records} records, broadcast ${wb.records}")
    assert(shuf == bcast)
  }

  test("PageRank shuffle regime is bit-identical to broadcast") {
    sameInBothRegimes(PageRank.runIds(fixtureEdges, rounds = 4, _))
  }

  test("TrustRank shuffle regime is bit-identical to broadcast") {
    sameInBothRegimes(PageRank.runBiasedIds(fixtureEdges, rounds = 4, seedCond = "w LIKE 'a%'", _))
  }

  test("HITS shuffle regime is bit-identical to broadcast") {
    sameInBothRegimes(Hits.runIds(fixtureEdges, rounds = 3, _))
  }
}
