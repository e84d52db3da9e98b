package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
  * single IEEE op per node. [[sqlCtes]] unrolls the identical
  * association grouping for DuckDB, so the doubles hash-match
  * bit-for-bit — the oracle IS the second, independent evaluation
  * (one execution tier here, unlike PageRank's two: HitsSpec pins a
  * hand-solvable fixture exactly and the corpus invariants; the
  * cross-engine hash is the replica).
  *
  * Input `edges`: (w1, w2, c) — directed, integer-weighted, already
  * aggregated (one row per edge). Output: (w, auth, hub).
  */
object Hits {

  import PageRank.segCol

  /** One tree-fold pass: per `key` node, fold score(`other`)·c over
    * the edge frame in `other` order within md5-segments of `other`.
    * Levels 2+3 evaluate through [[PageRank.fold23]] — one shuffle
    * cheaper per pass, bit-identical association (optimization round
    * 15). Returns (w, raw). */
  private def foldEdges(
      e: DataFrame, scores: DataFrame,
      key: String, other: String, segOf: String): DataFrame = {
    val s = scores.select(col("w").as("sw"), col("score"))
    e.join(s, e(other) === s("sw"))
      .select(e(key).as("kw"), e(other).as("ow"), e(segOf).as("seg"),
        (col("score") * col("cd")).as("ct"))
      .groupBy(col("kw"), col("seg"))
      .agg(sort_array(collect_list(struct(col("ow"), col("ct")))).as("xs"))
      .select(col("kw"), col("seg"), expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
      .groupBy(col("kw"))
      .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
      .select(col("kw").as("w"), expr(PageRank.fold23("ssum")).as("raw"))
  }

  /** The norm total: fold `raw` over its rows in (seg(w), w) order
    * through the same tree. seg(w) is recomputed IN-ROW (same md5
    * function of the same strings = same segments) instead of joined
    * from the node frame, and levels 2+3 fold through
    * [[PageRank.fold23]] — a join and a shuffle cheaper per norm,
    * bit-identical (optimization round 15). Returns a 1-row (s)
    * frame. */
  private def foldNorm(raw: DataFrame): DataFrame =
    raw.withColumn("seg", segCol(col("w")))
      .groupBy(col("seg"))
      .agg(sort_array(collect_list(struct(col("w"), col("raw")))).as("xs"))
      .select(col("seg"), expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.raw)").as("ssum"))
      .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
      .select(expr(PageRank.fold23("ssum")).as("s"))

  /** Normalize: every node, coalesce(raw, 0)/s — one IEEE division. */
  private def normalize(nodes: DataFrame, raw: DataFrame, s: DataFrame): DataFrame =
    nodes.join(raw, Seq("w"), "left")
      .crossJoin(broadcast(s))
      .select(col("w"),
        (coalesce(col("raw"), lit(0.0)) / col("s")).as("score"))

  def run(edges: DataFrame, rounds: Int): DataFrame = {
    val e0 = edges.localCheckpoint()
    // the count (one cached-block scan) feeds the id-encode gate — the
    // PageRank.iterateIdsDistributed treatment, same bits (see
    // [[PageRank.idEncodeEdgeRows]])
    val edgeRows = e0.count()
    if (edgeRows >= PageRank.idEncodeEdgeRows) return runIds(e0, rounds, edgeRows)
    val e = e0
      .select(col("w1"), col("w2"), col("c").cast("double").as("cd"),
        segCol(col("w1")).as("seg1"), segCol(col("w2")).as("seg2"))
      .localCheckpoint()
    val nodes = e.select(col("w1").as("w")).union(e.select(col("w2").as("w")))
      .distinct()
      .withColumn("seg", segCol(col("w")))
      .localCheckpoint()
    // one single-pass aggregate measures the node count AND the summed
    // key bytes for the byte-aware broadcast gate (round 16, VERDICT
    // #5) — one job, like the count() it replaces (see
    // [[PageRank.BroadcastNodeRows]]/[[PageRank.broadcastKeyBytes]])
    val probe = nodes.agg(
      count(lit(1)).as("n"),
      coalesce(sum(octet_length(col("w"))), lit(0L)).as("kb")).head()
    val nRows = probe.getLong(0)
    val n = nRows.toDouble
    val bcastRank = nRows <= PageRank.BroadcastNodeRows &&
      probe.getLong(1) <= PageRank.broadcastKeyBytes
    def hinted(df: DataFrame): DataFrame = if (bcastRank) broadcast(df) else df
    var hub = nodes.select(col("w"), (lit(1.0) / lit(n)).as("score"))
      .localCheckpoint()
    var auth: DataFrame = null
    var it = 0
    while (it < rounds) {
      // auth side: in-sums keyed by target, leaves ordered by source
      val araw = foldEdges(e, hinted(hub), key = "w2", other = "w1", segOf = "seg1")
      val aNew = normalize(nodes, hinted(araw), foldNorm(araw)).localCheckpoint()
      if (auth != null) Checkpoints.release(auth)
      auth = aNew
      // hub side: out-sums keyed by source, leaves ordered by target
      val hraw = foldEdges(e, hinted(auth), key = "w1", other = "w2", segOf = "seg2")
      val hNew = normalize(nodes, hinted(hraw), foldNorm(hraw)).localCheckpoint()
      Checkpoints.release(hub)
      hub = hNew
      it += 1
    }
    val out = auth.select(col("w"), col("score").as("auth"))
      .join(hinted(hub.select(col("w"), col("score").as("hub"))), "w")
    Seq(e0, e, nodes).foreach(Checkpoints.release)
    out
  }

  /** [[foldEdges]] over ids (optimization round 16): `kseg` — the KEY
    * node's own md5 segment, already on the edge row — rides both
    * groupBys (functionally dependent on the key: same groups, same
    * fold orders, same bits) so the norm fold downstream needs neither
    * a node-frame join nor an md5 recompute. Returns (id, nseg, raw).
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

  /** [[foldNorm]] over ids: the summed node's segment arrives on the
    * raw frame (carried by [[foldEdgesIds]]) — same segments, same
    * orders (id order ≡ UTF-8 string order), same bits. */
  private def foldNormIds(raw: DataFrame): DataFrame =
    raw.groupBy(col("nseg"))
      .agg(sort_array(collect_list(struct(col("id"), col("raw")))).as("xs"))
      .select(col("nseg"), expr(
        "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.raw)").as("ssum"))
      .agg(sort_array(collect_list(struct(col("nseg").as("seg"), col("ssum")))).as("xs"))
      .select(expr(PageRank.fold23("ssum")).as("s"))

  private def normalizeIds(nodes: DataFrame, raw: DataFrame, s: DataFrame): DataFrame =
    nodes.join(raw.select(col("id"), col("raw")), Seq("id"), "left")
      .crossJoin(broadcast(s))
      .select(col("id"),
        (coalesce(col("raw"), lit(0.0)) / col("s")).as("score"))

  /** [[run]] over 8-byte rank ids — PageRank.iterateIdsDistributed's
    * treatment for the hubs-and-authorities loop. The edge frame is
    * mapped to ids once and checkpointed TWICE through
    * [[Checkpoints.localByKey]], each copy hash-partitioned by one
    * direction's fold key (auth folds group by the target id, hub
    * folds by the source id), so in the broadcast regime every
    * per-round fold grouping is partition-local and the per-round
    * edge-sized exchanges disappear. The helper, not a plain
    * `repartition(...).localCheckpoint()`, is what keeps the layout:
    * under AQE the plain checkpoint's LogicalRDD declares no
    * partitioning, so each fold would re-shuffle the edge copy. Fold
    * orders and the IEEE op sequence are unchanged (id order ≡ UTF-8
    * string order): IdEncodeSpec pins run-vs-runIds bit-equality, and
    * the unrolled DuckDB oracle hash with the gate forced to 0 is the
    * second proof.
    */
  private def runIds(e0: DataFrame, rounds: Int, edgeRows: Long): DataFrame = {
    val nodesW = e0.select(col("w1").as("w")).union(e0.select(col("w2").as("w")))
      .distinct()
      .withColumn("seg", segCol(col("w")))
    val parts = PageRank.idParts(edgeRows, e0)
    val dict = PageRank.nodeDict(nodesW, parts) // (w, seg, id)
    val nRows = dict.count()
    val n = nRows.toDouble
    val bcastRank = nRows <= PageRank.BroadcastNodeRows
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
      else eIds.localCheckpoint()
    val eH = if (bcastRank) Checkpoints.localByKey(eA, "id1", parts) else eA
    // shuffle regime: the per-round join re-shuffles the edge frame, so
    // ONE forced kid-only exchange after it satisfies both fold levels
    // (kid ⊂ {kid, kseg, seg} and {kid, kseg}); broadcast regime: the
    // checkpointed layouts already do
    val shape: DataFrame => DataFrame =
      if (bcastRank) (df => df)
      else (df => df.repartition(parts, col("kid")))
    val nodes = dict.select(col("id"))
    var hub = dict.select(col("id"), (lit(1.0) / lit(n)).as("score"))
      .localCheckpoint()
    var auth: DataFrame = null
    var it = 0
    while (it < rounds) {
      // auth side: in-sums keyed by the target id, leaves in source-id
      // order, key segment = seg2
      val araw = foldEdgesIds(eA, hinted(hub),
        key = "id2", other = "id1", segOf = "seg1", ksegOf = "seg2", shape)
      val aNew = normalizeIds(nodes, hinted(araw), foldNormIds(araw)).localCheckpoint()
      if (auth != null) Checkpoints.release(auth)
      auth = aNew
      // hub side: out-sums keyed by the source id, leaves in target-id
      // order, key segment = seg1
      val hraw = foldEdgesIds(eH, hinted(auth),
        key = "id1", other = "id2", segOf = "seg2", ksegOf = "seg1", shape)
      val hNew = normalizeIds(nodes, hinted(hraw), foldNormIds(hraw)).localCheckpoint()
      Checkpoints.release(hub)
      hub = hNew
      it += 1
    }
    // dict stays checkpointed: the lazy result maps ids back through it
    val out = auth.select(col("id"), col("score").as("auth"))
      .join(hinted(hub.select(col("id"), col("score").as("hub"))), "id")
      .join(hinted(dict.select(col("id"), col("w"))), "id")
      .select(col("w"), col("auth"), col("hub"))
    Seq(e0, eA, eH).foreach(Checkpoints.release)
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
