package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted PageRank (Brin & Page 1998) with uniform dangling-mass
  * redistribution — fixed-round, deterministic, and bit-identical
  * across its two execution tiers (the [[ConnectedComponents.auto]]
  * precedent):
  *
  *  - `local`, the driver tier: the edge frame is collected (at most
  *    [[LocalEdgeRows]] rows, or the caller's threshold) and the rounds
  *    run on driver arrays — one tiny job instead of one-plus jobs per
  *    round. Right whenever the graph is dimension-sized (a vocabulary,
  *    a label set, a small link graph).
  *  - `distributed`, the id tier: node keys are dictionary-encoded to
  *    8-byte ids once; each round is one join + a fixed-depth tree-fold
  *    aggregation + a tree-folded dangling aggregate, with
  *    localCheckpoint keeping the lineage linear and every superseded
  *    checkpoint unpersisted (the q45 eager-iteration discipline). The
  *    100 TB-vocabulary path.
  *
  * Both tiers evaluate the SAME IEEE operation sequence — transition
  * weights are single exact-integer divisions; per-node in-sums and
  * the dangling sum fold through the SAME fixed depth-3 reduction tree
  * (below); the update is `(1−d)/n + d·(insum + dsum/n)` with that
  * exact op tree — and both visit nodes in UTF-8 byte order (the
  * driver tier by sorting the strings, the id tier through ids
  * order-isomorphic to them), the binary collation Spark's
  * `sort_array` (and DuckDB ORDER BY) uses, NOT Java's UTF-16
  * `compareTo` (they disagree on supplementary-plane code points). So
  * `auto` never changes results, only plans (PageRankSpec and
  * IdEncodeSpec pin tier equality bit-for-bit). TrustRank
  * ([[runBiased]]) and HITS ([[Hits]]) run on the same two tiers, and
  * the same driver kernel ([[LocalGraph]], [[fold]]).
  *
  * '''The reduction tree''' (the q84 fixed-depth discipline): a
  * single whole-group ordered fold (`sort_array(collect_list)`) would
  * buffer a hub node's ENTIRE in-neighborhood — and the whole dangling
  * set — in one array row, the exact shape
  * [[ConnectedComponents]]'s large-star rationale forbids (a 10⁸
  * in-degree hub or a 10⁸-node dangling set hits the 2 GB single-row
  * limit). Instead every fold runs as a static depth-3 tree keyed by
  * `seg = md5₆₀(source) mod 4096`:
  *
  *  1. level 1 folds each (node, seg) bucket in ascending source
  *     order — expected bucket size in-degree/4096, and the bucketed
  *     groupBy spreads a hub's reduction across 4096 shuffle keys
  *     instead of one;
  *  2. level 2 folds each 64-segment block (`seg div 64`) in seg
  *     order — hard-bounded at 64 partials per list;
  *  3. level 3 folds the ≤64 block partials in blk order.
  *
  * In the id tier, levels 2 and 3 EVALUATE in one pass ([[fold23]]):
  * the per-key level-1 partial list is hard-bounded at 4096 entries,
  * so both levels fold in a single collected-list aggregation whose
  * accumulator replays the identical association grouping — one
  * shuffle cheaper per fold, same bits (optimization round 15). The
  * tree SHAPE (and the oracle SQL) is unchanged.
  *
  * Depth is a STATIC part of the operator's definition, not derived
  * from the data (a data-dependent depth would change the association
  * grouping and with it the rounded result — the q84 rule). The md5
  * segment key is engine-portable: DuckDB computes the identical
  * `conv(substr(md5(w),1,15),16,10) % 4096`, so q96's oracle unrolls
  * the same tree.
  *
  * Input `edges`: (w1, w2, c) — directed, integer-weighted, already
  * aggregated (one row per edge). Output: (w, pr).
  */
object PageRank {

  /** Number of level-1 segments; level-2 blocks are `seg div 64`
    * (≤64 of them), so level-2/3 lists are hard-bounded at 64.
    */
  private[ops] val Segments = 4096

  /** Edge-row gate between the tiers, shared by PageRank, TrustRank
    * and HITS: a graph of at most this many edges runs on the driver
    * (a few MB collected, where the id tier would pay a dictionary
    * build and several jobs per round); a larger one runs in the id
    * tier. [[run]]'s `localThreshold` defaults to it.
    */
  private[ops] val LocalEdgeRows: Long = 100000L

  /** Broadcast budget (rows) for the per-round rank-frame joins
    * (optimization round 15, guide §3.1): each round joins the edge
    * frame against the node-sized rank frame. AQE's broadcast
    * decision reads SIZE ESTIMATES, which for a checkpointed rank
    * frame past ~10 MB never fire — so at 100× (645 k nodes) every
    * round SHUFFLED the multi-million-row edge frame twice. The node
    * COUNT is already measured before the loop (the `n` driver
    * scalar), so the hint is gated on a real count at zero extra
    * jobs: ≤ 2²¹ rows (an id-keyed row is ~16 B, so ≈ 34 MB built,
    * well under the guide's broadcast comfort zone and the 8 GB/512
    * M-row hard cap) → broadcast the rank frame and leave the edge
    * frame unshuffled; beyond → the shuffle join, which a 10⁹-node
    * graph needs anyway. Join strategy never changes results — fold
    * order is fixed by sort_array, not arrival order. The id loops
    * take the gate as their `bcastRows` argument, so specs can force
    * the shuffle regime onto fixture scales.
    */
  private[graft] val BroadcastNodeRows: Long = 1L << 21

  /** Partition count for the id-path frames: enough partitions to use
    * every core (`defaultParallelism` — the scale signal the driver
    * varies via SPARK_GRAFT_CPUS locally and a real cluster sets from
    * its executor count), sized so a partition holds ~1 M edge rows
    * (~tens of MB of fixed-width id structs), capped so the rank's
    * driver-side offset map stays trivially small.
    */
  private[ops] def idParts(edgeRows: Long, df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism.toLong
    math.min(math.max(cores, edgeRows >> 20), 65536L).toInt
  }

  /** The node dictionary: `nodesW` (w, …static per-node cols…) plus
    * `id` = 1-based global rank of `w` in UTF-8 binary order, computed
    * through [[GlobalRank]]'s two-phase rank (no single-partition
    * window) and checkpointed; the rank's internal blocks are
    * released as soon as the dictionary is materialized.
    */
  private[ops] def nodeDict(nodesW: DataFrame, parts: Int): DataFrame = {
    val ranked = GlobalRank.withRank(nodesW, Seq(col("w").asc), "id", parts)
    val dict = Checkpoints.local(ranked)
    Checkpoints.release(ranked)
    dict
  }

  /** UTF-8 binary string order — the canonical fold order both engines
    * and both tiers share.
    */
  private[ops] val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** First 60 bits of md5 as a non-negative long — delegates to the
    * single-sourced [[Md5Hash60]] (the SQL twin of
    * `conv(substr(md5(s),1,15),16,10)`).
    */
  private[ops] def md5hash60(s: String): Long = Md5Hash60.ofString(s)

  /** Segment id of a source word — level-1 key of the reduction tree. */
  private[ops] def seg(s: String): Long = md5hash60(s) % Segments

  /** SQL form of [[seg]] on a string column (Spark side). */
  private[ops] def segCol(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % Segments

  /** Tree levels 2+3 as ONE single-pass ordered fold (optimization
    * round 15: each distributed-tier round previously spent a whole
    * extra shuffle on the level-2 groupBy; levels 2 and 3 together
    * touch a hard-bounded ≤4096-entry list per key, so they fold in
    * one pass over the level-1 partials collected per key).
    *
    * `xs` = sort_array(collect_list(struct(seg, <field>))) — one
    * (seg, partial) entry per non-empty level-1 bucket, seg-ascending,
    * ≤4096 entries (~64 KB of struct rows: nowhere near the single-row
    * limit the tree exists to avoid). The accumulator (tot, cur, blk)
    * replays the EXACT level-2/3 IEEE op sequence: `cur` accumulates
    * partials in seg order within a 64-segment block, starting each
    * block from literal `0.0 + first` (level 2's fold seeds at 0.0);
    * `tot` accumulates finished block sums in blk order starting from
    * 0.0 (level 3's fold). seg-ascending order visits blocks in
    * blk-ascending order (blk = seg div 64 is monotonic in seg), so
    * the association grouping — and therefore every double — is
    * bit-identical to the unrolled two-groupBy form and to the DuckDB
    * oracle's unchanged d/i/s CTE pairs (PageRankSpec/HitsSpec pin
    * this; the cross-engine hash is the second proof).
    */
  private[graft] def fold23(field: String): String =
    "aggregate(xs, " +
      "struct(CAST(0.0 AS DOUBLE) AS tot, CAST(0.0 AS DOUBLE) AS cur, CAST(-1 AS BIGINT) AS blk), " +
      "(a, e) -> IF(a.blk = e.seg div 64, " +
      s"struct(a.tot AS tot, a.cur + e.$field AS cur, a.blk AS blk), " +
      s"struct(a.tot + a.cur AS tot, CAST(0.0 AS DOUBLE) + e.$field AS cur, e.seg div 64 AS blk)), " +
      "a -> a.tot + a.cur)"


  /** DuckDB mirror of the fixed-round iteration — CTE defs (caller
    * splices after its own WITH items) reading CTE `edges` (w1, w2,
    * c BIGINT) and ending with CTE `r<rounds>` = (w, pr).
    *
    * Each round unrolls the fixed depth-3 reduction tree (seg =
    * md5₆₀ % 4096 of the SOURCE node): level 1 folds each (node, seg)
    * bucket in source order, level 2 folds each 64-segment block in
    * seg order, level 3 folds block partials in blk order — the
    * identical association grouping both Spark tiers evaluate, so the
    * doubles hash-match bit-for-bit. r<k> is MATERIALIZED: each round
    * references r<k-1> three times (dangling, in-sum, node join) —
    * inlined, the expansion is 3^rounds and DuckDB takes minutes;
    * materialized it's one tiny node-sized table per round.
    */
  def sqlCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { k =>
      s"""
        d${k}a AS (
          SELECT seg, sum(pr ORDER BY w) AS ssum
          FROM r${k - 1} JOIN nodes USING (w)
          WHERE w NOT IN (SELECT w1 FROM trans) GROUP BY seg),
        d${k}b AS (
          SELECT seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM d${k}a GROUP BY 1),
        d$k AS (
          SELECT coalesce(sum(bsum ORDER BY blk), 0.0) AS dsum FROM d${k}b),
        i${k}a AS (
          SELECT t.w2 AS w, t.seg AS seg, sum(r.pr * t.p ORDER BY t.w1) AS ssum
          FROM trans t JOIN r${k - 1} r ON t.w1 = r.w GROUP BY 1, 2),
        i${k}b AS (
          SELECT w, seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM i${k}a GROUP BY 1, 2),
        i$k AS (
          SELECT w, sum(bsum ORDER BY blk) AS insum FROM i${k}b GROUP BY w),
        r$k AS MATERIALIZED (
          SELECT n.w,
            0.15 / CAST(nn.n AS DOUBLE) + 0.85 *
              (coalesce(i$k.insum, 0.0) + d$k.dsum / CAST(nn.n AS DOUBLE)) AS pr
          FROM nodes n LEFT JOIN i$k ON n.w = i$k.w CROSS JOIN d$k CROSS JOIN nn)"""
    }.mkString(",")
    s"""wo AS (SELECT w1, CAST(sum(c) AS BIGINT) AS wout FROM edges GROUP BY w1),
        trans AS MATERIALIZED (
          SELECT w1, w2, CAST(c AS DOUBLE) / CAST(wout AS DOUBLE) AS p,
            CAST(CAST(concat('0x', substr(md5(w1), 1, 15)) AS UBIGINT) AS BIGINT) % 4096 AS seg
          FROM edges JOIN wo USING (w1)),
        nodes AS MATERIALIZED (
          SELECT w,
            CAST(CAST(concat('0x', substr(md5(w), 1, 15)) AS UBIGINT) AS BIGINT) % 4096 AS seg
          FROM (SELECT DISTINCT w FROM
            (SELECT w1 AS w FROM edges UNION ALL SELECT w2 FROM edges) u) d),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        r0 AS (SELECT w, 1.0 / CAST(nn.n AS DOUBLE) AS pr FROM nodes CROSS JOIN nn),$rs"""
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004, VLDB) —
    * PageRank personalized on a trusted seed set: teleport AND
    * dangling mass redistribute over the normalized seed vector
    * t(v) = 1/|S| for seeds, 0 otherwise (not uniformly), and the
    * walk starts FROM t, so pages unreachable from any seed carry
    * EXACTLY zero trust — the spam-demotion property (uniform
    * PageRank hands every node a (1−d)/n floor; trust withholds it).
    * Update: `0.15·t + 0.85·(insum + dsum·t)` — the same fixed op
    * tree as [[run]] with t in place of 1/n.
    *
    * `seedCond`: a SQL boolean over column `w`, evaluated identically
    * by Spark and DuckDB (the caller keeps it engine-portable —
    * regexp_extract/LIKE, never RLIKE). Runs on the driver tier up to
    * [[LocalEdgeRows]] edges and in the id tier beyond, with the same
    * bits; [[biasedSqlCtes]]'s unrolled oracle is the independent
    * replica. Output: (w, trust, is_seed).
    */
  def runBiased(edges: DataFrame, rounds: Int, seedCond: String): DataFrame =
    tiered(edges, LocalEdgeRows)(runBiasedLocal(_, rounds, seedCond))(
      walkIds(_, rounds, _, BroadcastNodeRows, Some(seedCond)))

  /** [[runBiased]]'s driver tier. `seedCond` is evaluated once, by
    * Spark, over the collected node list (a local relation), so the
    * seed set is exactly the one the id tier and the oracle see.
    */
  private[graft] def runBiasedLocal(edges: DataFrame, rounds: Int, seedCond: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = new LocalGraph(edges)
    val seedOf = g.nodes.toSeq.toDF("w")
      .select(col("w"), expr(s"CAST($seedCond AS BIGINT)"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val seed = g.nodes.map(seedOf)
    val ns = seed.flatten.sum
    require(ns > 0, "TrustRank needs at least one seed node")
    val t = seed.map(s => if (s.contains(1L)) 1.0 / ns.toDouble else 0.0)
    // the walk starts from the seed distribution itself
    val trust = walkLocal(g, rounds, t) { (v, insum, dsum) =>
      0.15 * t(v) + 0.85 * (insum + dsum * t(v))
    }
    g.nodes.indices.map(v => (g.nodes(v), trust(v), seed(v))).toDF("w", "trust", "is_seed")
  }

  /** [[runBiased]]'s id tier, whatever the graph's size; `bcastRows`
    * stands in for [[BroadcastNodeRows]].
    */
  private[graft] def runBiasedIds(
      edges: DataFrame, rounds: Int, seedCond: String,
      bcastRows: Long = BroadcastNodeRows): DataFrame =
    checkpointed(edges)(walkIds(_, rounds, _, bcastRows, Some(seedCond)))

  /** [[runBiased]]'s DuckDB mirror — CTE defs reading CTE `edges`
    * (w1, w2, c), ending with CTE `t$rounds` = (w, trust, is_seed);
    * `seedCond` is the same engine-portable SQL boolean over `w`. */
  def biasedSqlCtes(rounds: Int, seedCond: String): String = {
    val rs = (1 to rounds).map { k =>
      s"""
        td${k}a AS (
          SELECT seg, sum(pr ORDER BY w) AS ssum
          FROM t${k - 1} JOIN tnodes USING (w)
          WHERE w NOT IN (SELECT w1 FROM ttrans) GROUP BY seg),
        td${k}b AS (
          SELECT seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM td${k}a GROUP BY 1),
        td$k AS (
          SELECT coalesce(sum(bsum ORDER BY blk), 0.0) AS dsum FROM td${k}b),
        ti${k}a AS (
          SELECT t.w2 AS w, t.seg AS seg, sum(r.pr * t.p ORDER BY t.w1) AS ssum
          FROM ttrans t JOIN t${k - 1} r ON t.w1 = r.w GROUP BY 1, 2),
        ti${k}b AS (
          SELECT w, seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM ti${k}a GROUP BY 1, 2),
        ti$k AS (
          SELECT w, sum(bsum ORDER BY blk) AS insum FROM ti${k}b GROUP BY w),
        t$k AS MATERIALIZED (
          SELECT n.w,
            0.15 * n.t + 0.85 *
              (coalesce(ti$k.insum, 0.0) + td$k.dsum * n.t) AS pr
          FROM tnodes n LEFT JOIN ti$k ON n.w = ti$k.w CROSS JOIN td$k)"""
    }.mkString(",")
    s"""two AS (SELECT w1, CAST(sum(c) AS BIGINT) AS wout FROM edges GROUP BY w1),
        ttrans AS MATERIALIZED (
          SELECT w1, w2, CAST(c AS DOUBLE) / CAST(wout AS DOUBLE) AS p,
            CAST(CAST(concat('0x', substr(md5(w1), 1, 15)) AS UBIGINT) AS BIGINT) % 4096 AS seg
          FROM edges JOIN two USING (w1)),
        tnodes0 AS (
          SELECT w,
            CAST(CAST(concat('0x', substr(md5(w), 1, 15)) AS UBIGINT) AS BIGINT) % 4096 AS seg,
            CAST(CASE WHEN $seedCond THEN 1 ELSE 0 END AS BIGINT) AS is_seed
          FROM (SELECT DISTINCT w FROM
            (SELECT w1 AS w FROM edges UNION ALL SELECT w2 FROM edges) u) d),
        tns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM tnodes0 WHERE is_seed = 1),
        tnodes AS MATERIALIZED (
          SELECT w, seg, is_seed,
            CASE WHEN is_seed = 1 THEN 1.0 / CAST(tns.ns AS DOUBLE) ELSE 0.0 END AS t
          FROM tnodes0 CROSS JOIN tns),
        t0 AS (SELECT w, t AS pr FROM tnodes),$rs,
        trust$rounds AS (
          SELECT r.w, r.pr AS trust, n.is_seed
          FROM t$rounds r JOIN tnodes n USING (w))"""
  }

  def run(
      edges: DataFrame,
      rounds: Int,
      strategy: String = "auto",
      localThreshold: Long = LocalEdgeRows): DataFrame = strategy match {
    case "local" => iterateLocal(edges, rounds)
    case "distributed" => runIds(edges, rounds)
    case "auto" =>
      tiered(edges, localThreshold)(iterateLocal(_, rounds))(
        walkIds(_, rounds, _, BroadcastNodeRows, None))
    case other => throw new IllegalArgumentException(s"unknown strategy $other")
  }

  /** Driver tier: edge list ≤ threshold rows by contract (vocab²-
    * bounded for word graphs — the q45 dsuLocal shape).
    */
  def runLocal(edges: DataFrame, rounds: Int): DataFrame =
    iterateLocal(edges, rounds)

  /** Id tier: vocab-sized frames, one join + tree-fold agg +
    * tree-folded dangling scalar per round.
    */
  def runDistributed(edges: DataFrame, rounds: Int): DataFrame =
    runIds(edges, rounds)

  /** The id tier with `bcastRows` in place of [[BroadcastNodeRows]]. */
  private[graft] def runIds(
      edges: DataFrame, rounds: Int, bcastRows: Long = BroadcastNodeRows): DataFrame =
    checkpointed(edges)(walkIds(_, rounds, _, bcastRows, None))

  /** Materializes `edges` ONCE and hands the checkpoint and its row
    * count to `f`: the count is an action, and without the checkpoint
    * the whole upstream pipeline (q96's corpus-sized bigram
    * aggregation) would execute twice — once for the count, once for
    * the iteration. The id loops release the checkpoint when done.
    */
  private[ops] def checkpointed(edges: DataFrame)(f: (DataFrame, Long) => DataFrame): DataFrame = {
    val e = Checkpoints.local(edges)
    f(e, e.count())
  }

  /** The tier choice every rank family makes: at most `localRows`
    * edges → `local` on the driver, else `ids` with the measured count
    * (which sizes its partitions).
    */
  private[ops] def tiered(edges: DataFrame, localRows: Long)(
      local: DataFrame => DataFrame)(ids: (DataFrame, Long) => DataFrame): DataFrame =
    checkpointed(edges) { (e, edgeRows) =>
      if (edgeRows <= localRows) {
        val r = local(e)
        Checkpoints.release(e)
        r
      } else ids(e, edgeRows)
    }

  /** A fold tree: blocks (blk asc) of segments (seg asc) of leaves in
    * fold order — the driver-side mirror of the id tier's level-1
    * groupBy plus [[fold23]]. Leaves index the caller's arrays.
    */
  private[ops] type Tree = Array[Array[Array[Int]]]

  /** Group (seg, leaf) `items`, already in leaf order, into the fixed
    * tree shape.
    */
  private def tree(items: Seq[(Long, Int)]): Tree =
    items.groupBy(_._1).toArray.sortBy(_._1)
      .groupBy(_._1 / 64).toArray.sortBy(_._1)
      .map { case (_, segs) => segs.map(_._2.map(_._2).toArray) }

  /** Fold `t` with the id tier's exact association: a 0.0-seeded sum
    * per segment, per block, then over the blocks. An empty tree folds
    * to +0.0, as an absent in-sum coalesces to.
    */
  private[ops] def fold(t: Tree, leaf: Int => Double): Double = {
    var tot = 0.0
    t.foreach { blk =>
      var bsum = 0.0
      blk.foreach { sg =>
        var ssum = 0.0
        sg.foreach(x => ssum += leaf(x))
        bsum += ssum
      }
      tot += bsum
    }
    tot
  }

  /** The driver tier's graph, shared by all three rank families: the
    * edge frame collected once, nodes indexed in UTF-8 order (so index
    * order IS the fold order), edges as (src, dst, c) arrays. The
    * caller builds each fold tree once and reuses it every round.
    */
  private[ops] final class LocalGraph(edges: DataFrame) {
    private val es = edges.select(col("w1"), col("w2"), col("c").cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nodes: Array[String] = (es.map(_._1) ++ es.map(_._2)).distinct.sorted(utf8Order)
    val n: Int = nodes.length
    private val index = nodes.zipWithIndex.toMap
    val src: Array[Int] = es.map(e => index(e._1))
    val dst: Array[Int] = es.map(e => index(e._2))
    val c: Array[Long] = es.map(_._3)
    private val segOf = nodes.map(seg)

    private def flags(ends: Array[Int]): Array[Boolean] = {
      val f = new Array[Boolean](n)
      ends.foreach(f(_) = true)
      f
    }
    val hasOut: Array[Boolean] = flags(src)
    val hasIn: Array[Boolean] = flags(dst)

    /** Per `key` node, its edges in `other` order, segmented by
      * seg(other): (dst, src) gives the in-sum trees, (src, dst)
      * HITS's hub trees.
      */
    def edgeTrees(key: Array[Int], other: Array[Int]): Array[Tree] = {
      val out = Array.fill[Tree](n)(Array.empty)
      src.indices.groupBy(key(_)).foreach { case (k, es) =>
        out(k) = tree(es.sortBy(other(_)).map(e => (segOf(other(e)), e)))
      }
      out
    }

    /** The nodes `keep` accepts, in (seg(w), w) order. */
    def nodeTree(keep: Int => Boolean): Tree =
      tree(nodes.indices.filter(keep).map(v => (segOf(v), v)))
  }

  /** PageRank's and TrustRank's driver rounds from `start`: the
    * dangling sum and each node's in-sum fold through their trees,
    * then `update(v, insum, dsum)` gives the node's next score.
    */
  private def walkLocal(g: LocalGraph, rounds: Int, start: Array[Double])(
      update: (Int, Double, Double) => Double): Array[Double] = {
    val wout = new Array[Long](g.n)
    g.src.indices.foreach(e => wout(g.src(e)) += g.c(e))
    // p = c/wout: the same single exact-BIGINT division the SQL does
    val p = Array.tabulate(g.c.length)(e => g.c(e).toDouble / wout(g.src(e)).toDouble)
    val in = g.edgeTrees(g.dst, g.src)
    val dang = g.nodeTree(v => !g.hasOut(v))
    var pr = start
    for (_ <- 1 to rounds) {
      val cur = pr
      val dsum = fold(dang, cur(_))
      pr = Array.tabulate(g.n)(v => update(v, fold(in(v), e => cur(g.src(e)) * p(e)), dsum))
    }
    pr
  }

  private def iterateLocal(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = new LocalGraph(edges)
    val n = g.n.toDouble
    val pr = walkLocal(g, rounds, Array.fill(g.n)(1.0 / n)) { (_, insum, dsum) =>
      0.15 / n + 0.85 * (insum + dsum / n)
    }
    g.nodes.indices.map(v => (g.nodes(v), pr(v))).toDF("w", "pr")
  }

  /** The id tier of PageRank (`seedCond` None) and TrustRank (Some):
    * the rounds run on 8-byte ids instead of URL strings, with the
    * driver tier's folds and IEEE op sequence (optimization round 16,
    * guide §2.3/§2.4). On a graph too big for the driver the
    * per-round fold exchanges dominate, and every one of them would
    * carry full URL strings (~60 B/key at 100×: 0.7–1.7 GB shuffled per loop
    * query) where an 8-byte id carries the same information. Only the
    * physical plan differs:
    *
    *  - node keys are the ids from [[nodeDict]]: each node's GLOBAL
    *    RANK in UTF-8 binary order ([[GlobalRank]]), which is
    *    order-ISOMORPHIC to the string, so every `sort_array` fold
    *    visits its leaves in the identical order. `seg` and the seed
    *    flag — functions of the STRING — are computed once in the
    *    dictionary and carried, and the last round's frame carries the
    *    strings back, so every double is bit-identical to the driver
    *    tier's (IdEncodeSpec pins it; the cross-engine oracle hash is
    *    the second proof);
    *  - the edge frame is mapped to (id1, id2, p, seg) ONCE at setup
    *    (two dictionary joins) and, when the rank frame broadcasts,
    *    checkpointed through [[Checkpoints.localByKey]] hash-partitioned
    *    by the TARGET id, so both in-sum groupings (level 1 on
    *    (id2, seg), level 2 on id2 — a superset of the partitioning
    *    key, which Spark recognises) stay partition-local: the
    *    per-round edge-sized exchanges disappear outright. A plain
    *    `Checkpoints.local(repartition(parts, id2))` would not do it:
    *    under AQE the checkpoint's LogicalRDD reads the adaptive root's
    *    `UnknownPartitioning`, and every round would shuffle the edge
    *    frame twice, on (id2, seg) and on id2;
    *  - past `bcastRows` nodes the per-round join shuffles, and ONE
    *    forced id2-only exchange feeds both fold levels where the
    *    unhinted plan would pay two.
    *
    * `e0` must already be materialized by the caller; `edgeRows` is its
    * measured row count.
    */
  private def walkIds(
      e0: DataFrame, rounds: Int, edgeRows: Long, bcastRows: Long,
      seedCond: Option[String]): DataFrame = {
    val e = e0.select(col("w1"), col("w2"), col("c").cast("long").as("c"))
    // dangling membership and the seed flag are properties of the
    // STRING graph, static across rounds — resolved here so the
    // dictionary checkpoint is the loop's only per-node setup
    val outW = e.select(col("w1").as("w")).distinct()
    val nodes0 = e.select(col("w1").as("w")).union(e.select(col("w2").as("w"))).distinct()
      .withColumn("seg", segCol(col("w")))
    val nodesW = seedCond.fold(nodes0)(s => nodes0.withColumn("is_seed", expr(s"CAST($s AS BIGINT)")))
      .join(outW.withColumn("has_out", lit(1)), Seq("w"), "left")
      .withColumn("is_dang", col("has_out").isNull).drop("has_out")
    val parts = idParts(edgeRows, e0)
    val dict = nodeDict(nodesW, parts) // (w, seg, [is_seed,] is_dang, id)
    // one aggregate job for both scalars: the node count and the seed count
    val probe = dict.agg(count(lit(1)),
      sum(if (seedCond.isDefined) col("is_seed") else lit(0L))).head()
    val n = probe.getLong(0).toDouble
    val bcastRank = probe.getLong(0) <= bcastRows
    def hinted(df: DataFrame): DataFrame = if (bcastRank) broadcast(df) else df
    val insum = coalesce(col("insum"), lit(0.0))
    // start, update and output columns; uniform 1/n keeps its own op
    // tree (0.15/n is not 0.15·(1/n), so PageRank is not TrustRank
    // with t = 1/n)
    val (nodes, start, update, out) = seedCond match {
      case None =>
        (dict, lit(1.0) / lit(n),
          lit(0.15) / lit(n) + lit(0.85) * (insum + col("dsum") / lit(n)),
          Seq(col("pr")))
      case Some(_) =>
        val ns = if (probe.isNullAt(1)) 0L else probe.getLong(1)
        require(ns > 0, "TrustRank needs at least one seed node")
        // t(v): one exact division for seeds, literal zero otherwise —
        // a pure projection over the dictionary blocks
        (dict.withColumn("t",
          expr(s"CASE WHEN is_seed = 1 THEN 1.0 / CAST($ns AS DOUBLE) ELSE 0.0 END")),
          col("t"),
          lit(0.15) * col("t") + lit(0.85) * (insum + col("dsum") * col("t")),
          Seq(col("pr").as("trust"), col("is_seed")))
    }
    val wout = e.groupBy(col("w1")).agg(sum(col("c")).cast("long").as("wout"))
    val transBase = e.join(wout, "w1")
      .join(hinted(dict.select(col("w").as("w1"), col("id").as("id1"), col("seg"))), "w1")
      .join(hinted(dict.select(col("w").as("w2"), col("id").as("id2"))), "w2")
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / col("wout").cast("double")).as("p"), col("seg"))
    // broadcast regime: pay the target-id exchange ONCE here instead
    // of once per round (the in-sum groupings then never exchange);
    // shuffle regime: the per-round join re-shuffles by id1 anyway, so
    // a setup layout would be dead weight — skip it
    val trans =
      if (bcastRank) Checkpoints.localByKey(transBase, "id2", parts)
      else Checkpoints.local(transBase)
    // the frame after round k; the last one also carries the strings
    // (and seed flags) out, so the dictionary goes with the loop
    def carried(k: Int): Seq[Column] =
      (Seq("id", "seg", "is_dang") ++
        (if (k < rounds) Nil else "w" +: seedCond.map(_ => "is_seed").toSeq)).map(col)
    var pr = Checkpoints.local(nodes.select(carried(0) :+ start.as("pr"): _*))
    for (k <- 1 to rounds) {
      // dangling mass: the depth-3 tree — (seg) buckets fold in id
      // order, then [[fold23]] replays levels 2+3 in one pass over the
      // ≤4096 collected bucket sums
      val dang = pr.filter(col("is_dang"))
        .groupBy(col("seg"))
        .agg(sort_array(collect_list(struct(col("id"), col("pr")))).as("xs"))
        .select(col("seg"), expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.pr)").as("ssum"))
        .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
        .select(expr(fold23("ssum")).as("dsum"))
      val prr = hinted(pr.select(col("id"), col("pr")))
      val joined = trans.join(prr, trans("id1") === prr("id"))
        .select(col("id2"), col("id1"), trans("seg"), (col("pr") * col("p")).as("ct"))
      // shuffle regime: ONE id2-only exchange satisfies both fold
      // levels (id2 ⊂ {id2, seg} and = {id2}); broadcast regime: the
      // checkpointed layout already does
      val shaped = if (bcastRank) joined else joined.repartition(parts, col("id2"))
      // in-sums: level 1 groups on (id2, seg) — a hub's in-neighborhood
      // spreads across 4096 keys — and [[fold23]] folds the ≤4096
      // per-node bucket sums
      val sums = shaped
        .groupBy(col("id2"), col("seg"))
        .agg(sort_array(collect_list(struct(col("id1"), col("ct")))).as("xs"))
        .select(col("id2"), col("seg"), expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
        .groupBy(col("id2"))
        .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
        .select(col("id2").as("id"), expr(fold23("ssum")).as("insum"))
      val next = Checkpoints.local(nodes.join(hinted(sums), Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(carried(k) :+ update.as("pr"): _*))
      // release the superseded round's blocks — R rank-frame copies
      // would otherwise stay cached for the session's lifetime
      Checkpoints.release(pr)
      pr = next
    }
    // only the last rank frame stays cached: the (lazy) result reads it alone
    Seq(e0, trans, dict).foreach(Checkpoints.release)
    pr.select(col("w") +: out: _*)
  }
}
