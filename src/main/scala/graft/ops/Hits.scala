package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999, JACM 46(5)) — fixed-round,
  * weighted, L1-normalized, bit-deterministic across engines:
  *
  *   auth'(v) = Σ_{u→v} c(u,v)·hub(u)      then auth = auth'/Σauth'
  *   hub'(u)  = Σ_{u→v} c(u,v)·auth(v)     then hub  = hub'/Σhub'
  *
  * L1 normalization (any norm yields the same per-round RANKING;
  * Kleinberg's L2 needs a sqrt of an ordered sum — L1 keeps every
  * round to folds plus ONE division per node, the cheaper
  * deterministic form). Zero-in-degree nodes get auth 0.0 exactly
  * (coalesce(0.0)/S — IEEE +0), mirroring hubs.
  *
  * Determinism is [[PageRank]]'s machinery verbatim: every in-sum,
  * out-sum, and norm total folds through the fixed depth-3 segment
  * tree (seg = md5₆₀ % 4096 of the SUMMED side's counterpart — the
  * source word for auth folds, the target word for hub folds, the
  * node itself for norm folds), so a 10⁸-degree hub's reduction
  * spreads over 4096 shuffle keys and no row ever holds more than
  * max(degree/4096, 64) entries. The division by the norm total is a
  * single IEEE op per node. It runs on PageRank's two tiers with the
  * same bits: the driver tier ([[runLocal]], PageRank's shared
  * kernel) up to [[PageRank.LocalEdgeRows]] edges, the id tier
  * ([[runIds]]) beyond — IdEncodeSpec pins their equality. [[sqlCtes]]
  * unrolls the identical association grouping for DuckDB, so the
  * doubles hash-match bit-for-bit: the oracle is the independent
  * evaluation.
  *
  * Input `edges`: (w1, w2, c) — directed, integer-weighted, already
  * aggregated (one row per edge). Output: (w, auth, hub).
  */
object Hits {

  import PageRank.{BroadcastNodeRows, Tree, fold, segCol}

  def run(edges: DataFrame, rounds: Int): DataFrame =
    PageRank.tiered(edges, PageRank.LocalEdgeRows)(runLocal(_, rounds))(
      iterateIds(_, rounds, _, BroadcastNodeRows))

  /** The driver tier: per round, the auth fold keyed by target (leaves
    * in source order), its norm, one division per node; then the same
    * for hubs keyed by source (leaves in target order). Each norm folds
    * the nodes that HAVE a raw score, in (seg(w), w) order — exactly
    * the id tier's raw frame.
    */
  private[graft] def runLocal(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = new PageRank.LocalGraph(edges)
    val cd = g.c.map(_.toDouble)
    val authTrees = g.edgeTrees(g.dst, g.src)
    val hubTrees = g.edgeTrees(g.src, g.dst)
    val authNorm = g.nodeTree(g.hasIn)
    val hubNorm = g.nodeTree(g.hasOut)
    def half(trees: Array[Tree], norm: Tree, other: Array[Int], score: Array[Double]) = {
      val raw = trees.map(t => fold(t, e => score(other(e)) * cd(e)))
      val s = fold(norm, raw(_))
      raw.map(_ / s)
    }
    var hub = Array.fill(g.n)(1.0 / g.n.toDouble)
    var auth = new Array[Double](g.n)
    for (_ <- 1 to rounds) {
      auth = half(authTrees, authNorm, g.src, hub)
      hub = half(hubTrees, hubNorm, g.dst, auth)
    }
    g.nodes.indices.map(v => (g.nodes(v), auth(v), hub(v))).toDF("w", "auth", "hub")
  }

  /** The id tier, whatever the graph's size; `bcastRows` stands in for
    * [[PageRank.BroadcastNodeRows]].
    */
  private[graft] def runIds(
      edges: DataFrame, rounds: Int, bcastRows: Long = BroadcastNodeRows): DataFrame =
    PageRank.checkpointed(edges)(iterateIds(_, rounds, _, bcastRows))

  /** One fold pass over ids (optimization round 16): per `key` node,
    * fold score(`other`)·c over the edge frame in `other` order within
    * md5-segments of `other`; levels 2+3 evaluate through
    * [[PageRank.fold23]]. `kseg` — the KEY node's own md5 segment,
    * already on the edge row — rides both groupBys (functionally
    * dependent on the key: same groups, same fold orders, same bits)
    * so the norm fold downstream needs neither a node-frame join nor
    * an md5 recompute. Returns (id, nseg, raw).
    */
  private def foldEdgesIds(
      e: DataFrame, scores: DataFrame,
      key: String, other: String, segOf: String, ksegOf: String,
      shape: DataFrame => DataFrame): DataFrame = {
    val s = scores.select(col("id").as("sid"), col("score"))
    val joined = e.join(s, e(other) === s("sid"))
      .select(e(key).as("kid"), e(ksegOf).as("kseg"), e(other).as("oid"),
        e(segOf).as("seg"), (col("score") * col("cd")).as("ct"))
    shape(joined)
      .groupBy(col("kid"), col("kseg"), col("seg"))
      .agg(sort_array(collect_list(struct(col("oid"), col("ct")))).as("xs"))
      .select(col("kid"), col("kseg"), col("seg"), expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
      .groupBy(col("kid"), col("kseg"))
      .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
      .select(col("kid").as("id"), col("kseg").as("nseg"),
        expr(PageRank.fold23("ssum")).as("raw"))
  }

  /** The norm total: fold `raw` over its rows in (seg(w), w) order
    * through the same tree — the summed node's segment arrives on the
    * raw frame (carried by [[foldEdgesIds]]), and id order ≡ UTF-8
    * string order. Returns a 1-row (s) frame.
    */
  private def foldNormIds(raw: DataFrame): DataFrame =
    raw.groupBy(col("nseg"))
      .agg(sort_array(collect_list(struct(col("id"), col("raw")))).as("xs"))
      .select(col("nseg"), expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.raw)").as("ssum"))
      .agg(sort_array(collect_list(struct(col("nseg").as("seg"), col("ssum")))).as("xs"))
      .select(expr(PageRank.fold23("ssum")).as("s"))

  /** Normalize: every node of `nodes`, coalesce(raw, 0)/s — one IEEE
    * division — next to `nodes`' own columns.
    */
  private def normalizeIds(nodes: DataFrame, raw: DataFrame, s: DataFrame): DataFrame =
    nodes.join(raw.select(col("id"), col("raw")), Seq("id"), "left")
      .crossJoin(broadcast(s))
      .select(nodes.columns.map(col) :+
        (coalesce(col("raw"), lit(0.0)) / col("s")).as("score"): _*)

  /** The hubs-and-authorities loop over 8-byte rank ids — the
    * [[PageRank]] id tier's treatment. The edge frame is mapped to ids
    * once and checkpointed TWICE through [[Checkpoints.localByKey]],
    * each copy hash-partitioned by one direction's fold key (auth folds
    * group by the target id, hub folds by the source id), so in the
    * broadcast regime every per-round fold grouping is
    * partition-local and the per-round edge-sized exchanges disappear.
    * The helper, not a plain `Checkpoints.local(repartition(...))`, is
    * what keeps the layout: under AQE the plain checkpoint's LogicalRDD
    * declares no partitioning, so each fold would re-shuffle the edge
    * copy. Fold orders and the IEEE op sequence are the driver tier's
    * (id order ≡ UTF-8 string order).
    */
  private def iterateIds(e0: DataFrame, rounds: Int, edgeRows: Long, bcastRows: Long): DataFrame = {
    val nodesW = e0.select(col("w1").as("w")).union(e0.select(col("w2").as("w")))
      .distinct()
      .withColumn("seg", segCol(col("w")))
    val parts = PageRank.idParts(edgeRows, e0)
    val dict = PageRank.nodeDict(nodesW, parts) // (w, seg, id)
    val nRows = dict.count()
    val n = nRows.toDouble
    val bcastRank = nRows <= bcastRows
    def hinted(df: DataFrame): DataFrame = if (bcastRank) broadcast(df) else df
    val eIds = e0
      .join(hinted(dict.select(col("w").as("w1"), col("id").as("id1"),
        col("seg").as("seg1"))), "w1")
      .join(hinted(dict.select(col("w").as("w2"), col("id").as("id2"),
        col("seg").as("seg2"))), "w2")
      .select(col("id1"), col("id2"), col("c").cast("double").as("cd"),
        col("seg1"), col("seg2"))
    // two layouts, one per fold direction; eH reads eA's checkpointed
    // blocks, not the dictionary joins again. In the shuffle regime the
    // per-round join re-shuffles anyway, so one unlaid copy suffices.
    val eA =
      if (bcastRank) Checkpoints.localByKey(eIds, "id2", parts)
      else Checkpoints.local(eIds)
    val eH = if (bcastRank) Checkpoints.localByKey(eA, "id1", parts) else eA
    // shuffle regime: the per-round join re-shuffles the edge frame, so
    // ONE forced kid-only exchange after it satisfies both fold levels
    // (kid ⊂ {kid, kseg, seg} and {kid, kseg}); broadcast regime: the
    // checkpointed layouts already do
    val shape: DataFrame => DataFrame =
      if (bcastRank) (df => df)
      else (df => df.repartition(parts, col("kid")))
    val nodes = dict.select(col("id"))
    // the last auth frame carries the strings out, so the dictionary
    // goes with the loop
    val named = dict.select(col("id"), col("w"))
    var hub = Checkpoints.local(dict.select(col("id"), (lit(1.0) / lit(n)).as("score")))
    var auth: DataFrame = null
    for (k <- 1 to rounds) {
      // auth side: in-sums keyed by the target id, leaves in source-id
      // order, key segment = seg2
      val araw = foldEdgesIds(eA, hinted(hub),
        key = "id2", other = "id1", segOf = "seg1", ksegOf = "seg2", shape)
      val aNew = Checkpoints.local(normalizeIds(if (k == rounds) named else nodes,
        hinted(araw), foldNormIds(araw)))
      if (auth != null) Checkpoints.release(auth)
      auth = aNew
      // hub side: out-sums keyed by the source id, leaves in target-id
      // order, key segment = seg1
      val hraw = foldEdgesIds(eH, hinted(auth),
        key = "id1", other = "id2", segOf = "seg2", ksegOf = "seg1", shape)
      val hNew = Checkpoints.local(normalizeIds(nodes, hinted(hraw), foldNormIds(hraw)))
      Checkpoints.release(hub)
      hub = hNew
    }
    val out = auth.select(col("id"), col("w"), col("score").as("auth"))
      .join(hinted(hub.select(col("id"), col("score").as("hub"))), "id")
      .select(col("w"), col("auth"), col("hub"))
    Seq(e0, eA, eH, dict).foreach(Checkpoints.release)
    out
  }

  /** DuckDB mirror — CTE defs reading CTE `edges` (w1, w2, c BIGINT),
    * ending with CTE `hits<rounds>` = (w, auth, hub); the identical
    * association grouping as [[run]], so doubles hash-match. */
  def sqlCtes(rounds: Int): String = {
    def seg(c: String) =
      s"CAST(CAST(concat('0x', substr(md5($c), 1, 15)) AS UBIGINT) AS BIGINT) % 4096"
    val rs = (1 to rounds).map { k =>
      s"""
        a${k}a AS (
          SELECT e.w2 AS w, e.seg1 AS seg, sum(h.score * e.cd ORDER BY e.w1) AS ssum
          FROM e JOIN h${k - 1} h ON e.w1 = h.w GROUP BY 1, 2),
        a${k}b AS (
          SELECT w, seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM a${k}a GROUP BY 1, 2),
        a${k}r AS (
          SELECT w, sum(bsum ORDER BY blk) AS raw FROM a${k}b GROUP BY w),
        sa${k}a AS (
          SELECT n.seg, sum(r.raw ORDER BY r.w) AS ssum
          FROM a${k}r r JOIN nodes n USING (w) GROUP BY n.seg),
        sa${k}b AS (
          SELECT seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM sa${k}a GROUP BY 1),
        sa$k AS (SELECT sum(bsum ORDER BY blk) AS s FROM sa${k}b),
        a$k AS MATERIALIZED (
          SELECT n.w, coalesce(r.raw, 0.0) / sa$k.s AS score
          FROM nodes n LEFT JOIN a${k}r r USING (w) CROSS JOIN sa$k),
        hr${k}a AS (
          SELECT e.w1 AS w, e.seg2 AS seg, sum(a.score * e.cd ORDER BY e.w2) AS ssum
          FROM e JOIN a$k a ON e.w2 = a.w GROUP BY 1, 2),
        hr${k}b AS (
          SELECT w, seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM hr${k}a GROUP BY 1, 2),
        hr${k}r AS (
          SELECT w, sum(bsum ORDER BY blk) AS raw FROM hr${k}b GROUP BY w),
        sh${k}a AS (
          SELECT n.seg, sum(r.raw ORDER BY r.w) AS ssum
          FROM hr${k}r r JOIN nodes n USING (w) GROUP BY n.seg),
        sh${k}b AS (
          SELECT seg // 64 AS blk, sum(ssum ORDER BY seg) AS bsum
          FROM sh${k}a GROUP BY 1),
        sh$k AS (SELECT sum(bsum ORDER BY blk) AS s FROM sh${k}b),
        h$k AS MATERIALIZED (
          SELECT n.w, coalesce(r.raw, 0.0) / sh$k.s AS score
          FROM nodes n LEFT JOIN hr${k}r r USING (w) CROSS JOIN sh$k)"""
    }.mkString(",")
    s"""nodes AS MATERIALIZED (
          SELECT w, ${seg("w")} AS seg
          FROM (SELECT DISTINCT w FROM
            (SELECT w1 AS w FROM edges UNION ALL SELECT w2 FROM edges) u) d),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        e AS MATERIALIZED (
          SELECT w1, w2, CAST(c AS DOUBLE) AS cd,
            ${seg("w1")} AS seg1, ${seg("w2")} AS seg2
          FROM edges),
        h0 AS (SELECT w, 1.0 / CAST(nn.n AS DOUBLE) AS score
               FROM nodes CROSS JOIN nn),$rs,
        hits$rounds AS (
          SELECT a.w, a.score AS auth, h.score AS hub
          FROM a$rounds a JOIN h$rounds h USING (w))"""
  }
}
