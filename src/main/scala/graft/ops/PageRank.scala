package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted PageRank (Brin & Page 1998) with uniform dangling-mass
  * redistribution — fixed-round, deterministic, and bit-identical
  * across its two execution tiers (the [[ConnectedComponents.auto]]
  * precedent):
  *
  *  - `local`: the node/edge frames are collected (bounded by the
  *    caller's threshold) and the rounds run on driver arrays — one
  *    tiny job instead of one-plus jobs per round. Right whenever the
  *    graph is dimension-sized (a vocabulary, a label set).
  *  - `distributed`: each round is one hash join + a fixed-depth
  *    tree-fold aggregation + a tree-folded dangling aggregate, with
  *    localCheckpoint keeping the lineage linear and every superseded
  *    checkpoint unpersisted (the q45 eager-iteration discipline). The
  *    100 TB-vocabulary path.
  *
  * Both tiers evaluate the SAME IEEE operation sequence — transition
  * weights are single exact-integer divisions; per-node in-sums and
  * the dangling sum fold through the SAME fixed depth-3 reduction tree
  * (below); the update is `(1−d)/n + d·(insum + dsum/n)` with that
  * exact op tree — and the local tier orders strings by UTF-8 bytes,
  * the binary collation Spark's `sort_array` (and DuckDB ORDER BY)
  * uses, NOT Java's UTF-16 `compareTo` (they disagree on
  * supplementary-plane code points). So `auto` never changes results,
  * only plans (PageRankSpec pins tier equality bit-for-bit).
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
  * In the distributed tier, levels 2 and 3 EVALUATE in one pass
  * ([[fold23]]): the per-key level-1 partial list is hard-bounded at
  * 4096 entries, so both levels fold in a single collected-list
  * aggregation whose accumulator replays the identical association
  * grouping — one shuffle cheaper per fold, same bits (optimization
  * round 15). The tree SHAPE (and the oracle SQL) is unchanged.
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

  /** Broadcast budget (rows) for the per-round rank-frame joins
    * (optimization round 15, guide §3.1): each round joins the edge
    * frame against the node-sized rank frame. AQE's broadcast
    * decision reads SIZE ESTIMATES, which for a checkpointed rank
    * frame past ~10 MB never fire — so at 100× (645 k nodes) every
    * round SHUFFLED the multi-million-row edge frame twice. The node
    * COUNT is already measured before the loop (the `n` driver
    * scalar), so the hint is gated on a real count at zero extra
    * jobs: ≤ 2²¹ rows (≈ a couple hundred MB built, well under the
    * guide's broadcast comfort zone and the 8 GB/512 M-row hard cap)
    * → broadcast the rank frame and leave the edge frame unshuffled;
    * beyond → today's shuffle join, which a 10⁹-node graph needs
    * anyway. Join strategy never changes results — fold order is
    * fixed by sort_array, not arrival order.
    */
  private[ops] val BroadcastNodeRows: Long = 1L << 21

  /** Byte companion to [[BroadcastNodeRows]] (optimization round 16,
    * VERDICT #5): the row gate alone is blind to key width — 2²¹ rows
    * of ~60 B URLs is ~130 MB, but a graph of 1 KB-long URLs near the
    * row boundary would broadcast-build several hundred MB per round ×
    * R rounds. The STRING paths therefore also gate on the summed key
    * bytes (measured in the same single-pass aggregate that already
    * counts the checkpointed node frame — zero extra jobs); the id
    * paths stay row-gated because their per-row width is a known
    * constant (~16 B: 2²¹ rows ≈ 34 MB, nowhere near any budget).
    * 256 MB of raw key bytes keeps the built relation comfortably
    * inside the guide's broadcast comfort zone (§3.1) and far from the
    * 8 GB hard cap; past it the loop takes the shuffle join a graph
    * that big needs anyway. Overridable for specs (forcing the
    * shuffle regime onto oracle-checked scales proves the gate never
    * changes results, only plans).
    */
  private[ops] val BroadcastKeyBytesDefault: Long = 1L << 28

  private[ops] def broadcastKeyBytes: Long =
    sys.props.get("graft.broadcastKeyBytes").map(_.toLong)
      .getOrElse(BroadcastKeyBytesDefault)

  /** Edge-count gate for dictionary-encoding the loop's node keys
    * (optimization round 16, guide §2.3 "narrower types"): past this
    * many edges the per-round fold exchanges dominate and every one of
    * them carries full URL strings (~60 B/key at 100×: 0.7–1.7 GB
    * shuffled per loop query) where an 8-byte id carries the same
    * information. The id is the node's GLOBAL RANK in UTF-8 binary
    * order ([[GlobalRank]]), which is order-ISOMORPHIC to the string —
    * `sort_array` over ids visits leaves in the identical order, the
    * md5 `seg` is computed from the string once and carried, and ids
    * map back to words in one final join — so every IEEE operation
    * sequence is unchanged and the results are bit-identical
    * (IdEncodeSpec pins it; the cross-engine oracle hash with the gate
    * forced to 0 is the second proof). Below the gate the one-time
    * rank + two dictionary joins cost more than the tiny string
    * shuffles they'd save, so small graphs keep the direct string
    * loop. The system property exists for audits/specs (forcing the
    * id path onto oracle-checked scales); it never changes results,
    * only plans.
    */
  private[ops] val IdEncodeEdgeRowsDefault: Long = 1L << 18

  private[ops] def idEncodeEdgeRows: Long =
    sys.props.get("graft.idEncodeEdgeRows").map(_.toLong)
      .getOrElse(IdEncodeEdgeRowsDefault)

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
    * window) and localCheckpoint'ed; the rank's internal blocks are
    * released as soon as the dictionary is materialized.
    */
  private[ops] def nodeDict(nodesW: DataFrame, parts: Int): DataFrame = {
    val (ranked, releaseRank) =
      GlobalRank.withRankManaged(nodesW, Seq(col("w").asc), "id", parts)
    val dict = ranked.localCheckpoint()
    releaseRank()
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
    * regexp_extract/LIKE, never RLIKE). Distributed-only (the Hits
    * posture: one implementation; [[biasedSqlCtes]]'s unrolled oracle
    * is the independent replica). Output: (w, trust, is_seed).
    */
  def runBiased(edges: DataFrame, rounds: Int, seedCond: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val e0 = edges.localCheckpoint()
    // the count (one cached-block scan) feeds the id-encode gate — the
    // same dictionary treatment as iterateDistributed, same bits
    val edgeRows = e0.count()
    if (edgeRows >= idEncodeEdgeRows) return runBiasedIds(e0, rounds, seedCond, edgeRows)
    val e = e0.select(col("w1"), col("w2"), col("c").cast("long").as("c"))
    val wout = e.groupBy(col("w1")).agg(sum(col("c")).cast("long").as("wout"))
    val trans = e.join(wout, "w1")
      .select(col("w1"), col("w2"),
        (col("c").cast("double") / col("wout").cast("double")).as("p"),
        segCol(col("w1")).as("seg"))
      .localCheckpoint()
    // static dangling flag joined ONCE (the iterateDistributed
    // optimization, round 15) — the per-round dangling fold filters
    // the rank frame instead of anti-joining it
    val outW = trans.select(col("w1").as("w")).distinct()
    val nodes0 = e.select(col("w1").as("w")).union(e.select(col("w2").as("w")))
      .distinct()
      .withColumn("seg", segCol(col("w")))
      .withColumn("is_seed", expr(s"CAST($seedCond AS BIGINT)"))
      .join(outW.withColumn("has_out", lit(1)), Seq("w"), "left")
      .select(col("w"), col("seg"), col("is_seed"),
        col("has_out").isNull.as("is_dang"))
      .localCheckpoint()
    // one single-pass aggregate over the checkpointed nodes0 blocks
    // replaces the former seed-count + node-count job pair AND feeds
    // the byte-aware broadcast gate (round 16, VERDICT #5): seed
    // count, node count, summed key bytes — one job instead of two
    val probe = nodes0.agg(
      sum(col("is_seed")).as("ns"), count(lit(1)).as("n"),
      coalesce(sum(octet_length(col("w"))), lit(0L)).as("kb")).head()
    val ns = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    require(ns > 0, "TrustRank needs at least one seed node")
    val bcastRank =
      probe.getLong(1) <= BroadcastNodeRows && probe.getLong(2) <= broadcastKeyBytes
    def hinted(df: DataFrame): DataFrame = if (bcastRank) bcast(df) else df
    // t(v): one exact division for seeds, literal zero otherwise — a
    // pure projection over the checkpointed nodes0 blocks (round 15:
    // the second materialization the old code paid here bought
    // nothing; the CASE re-evaluates per read at in-row cost)
    val nodes = nodes0
      .withColumn("t", expr(s"CASE WHEN is_seed = 1 THEN 1.0 / CAST($ns AS DOUBLE) ELSE 0.0 END"))
    // the walk starts from the seed distribution itself
    var pr = nodes.select(col("w"), col("seg"), col("is_dang"), col("t").as("pr"))
      .localCheckpoint()
    var it = 0
    while (it < rounds) {
      val dang = pr.filter(col("is_dang"))
        .groupBy(col("seg"))
        .agg(sort_array(collect_list(struct(col("w"), col("pr")))).as("xs"))
        .select(col("seg"), expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.pr)").as("ssum"))
        .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
        .select(expr(fold23("ssum")).as("dsum"))
      val prr = hinted(pr.select(col("w"), col("pr")))
      val insum = trans.join(prr, trans("w1") === prr("w"))
        .select(col("w2"), col("w1"), trans("seg"), (col("pr") * col("p")).as("ct"))
        .groupBy(col("w2"), col("seg"))
        .agg(sort_array(collect_list(struct(col("w1"), col("ct")))).as("xs"))
        .select(col("w2"), col("seg"), expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
        .groupBy(col("w2"))
        .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
        .select(col("w2").as("w"), expr(fold23("ssum")).as("insum"))
      val next = nodes.select(col("w"), col("seg"), col("is_dang"), col("t"))
        .join(hinted(insum), Seq("w"), "left")
        .crossJoin(bcast(dang))
        .select(col("w"), col("seg"), col("is_dang"),
          (lit(0.15) * col("t") + lit(0.85) *
            (coalesce(col("insum"), lit(0.0)) + col("dsum") * col("t"))).as("pr"))
        .localCheckpoint()
      Checkpoints.release(pr)
      pr = next
      it += 1
    }
    val out = pr.select(col("w"), col("pr").as("trust"))
      .join(hinted(nodes.select(col("w"), col("is_seed"))), "w")
    // `nodes0` stays checkpointed: the returned (lazy) frame reads it
    // for is_seed — the ContextCleaner reaps it with the result plan
    // (the one-shot convention; releasing it here broke the consumer
    // with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    Seq(e0, trans).foreach(Checkpoints.release)
    out
  }

  /** [[runBiased]] over 8-byte rank ids — the [[iterateIdsDistributed]]
    * treatment applied to the trust iteration: the seed predicate and
    * the md5 segments are evaluated on the STRINGS once, in the
    * dictionary; the rounds run entirely on ids; ids map back in one
    * final join. Same fold orders, same IEEE sequence, same bits.
    */
  private def runBiasedIds(
      e0: DataFrame, rounds: Int, seedCond: String, edgeRows: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val e = e0.select(col("w1"), col("w2"), col("c").cast("long").as("c"))
    val outW = e.select(col("w1").as("w")).distinct()
    val nodesW = e.select(col("w1").as("w")).union(e.select(col("w2").as("w")))
      .distinct()
      .withColumn("seg", segCol(col("w")))
      .withColumn("is_seed", expr(s"CAST($seedCond AS BIGINT)"))
      .join(outW.withColumn("has_out", lit(1)), Seq("w"), "left")
      .select(col("w"), col("seg"), col("is_seed"),
        col("has_out").isNull.as("is_dang"))
    val parts = idParts(edgeRows, e0)
    val dict = nodeDict(nodesW, parts) // (w, seg, is_seed, is_dang, id)
    // one aggregate job for both scalars (round 16 — the node count
    // and the seed count read the same checkpointed blocks)
    val probe = dict.agg(count(lit(1)).as("n"), sum(col("is_seed")).as("ns")).head()
    val nRows = probe.getLong(0)
    val ns = if (probe.isNullAt(1)) 0L else probe.getLong(1)
    require(ns > 0, "TrustRank needs at least one seed node")
    val bcastRank = nRows <= BroadcastNodeRows
    def hinted(df: DataFrame): DataFrame = if (bcastRank) bcast(df) else df
    val wout = e.groupBy(col("w1")).agg(sum(col("c")).cast("long").as("wout"))
    val transBase = e.join(wout, "w1")
      .join(hinted(dict.select(col("w").as("w1"), col("id").as("id1"), col("seg"))), "w1")
      .join(hinted(dict.select(col("w").as("w2"), col("id").as("id2"))), "w2")
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / col("wout").cast("double")).as("p"), col("seg"))
    // broadcast regime: laid out by target id through the checkpoint,
    // as in [[iterateIdsDistributed]]
    val trans =
      if (bcastRank) Checkpoints.localByKey(transBase, "id2", parts)
      else transBase.localCheckpoint()
    // t(v): the same pure projection over the dictionary blocks
    val nodesT = dict
      .withColumn("t", expr(s"CASE WHEN is_seed = 1 THEN 1.0 / CAST($ns AS DOUBLE) ELSE 0.0 END"))
      .select(col("id"), col("seg"), col("is_dang"), col("t"))
    var pr = nodesT.select(col("id"), col("seg"), col("is_dang"), col("t").as("pr"))
      .localCheckpoint()
    var it = 0
    while (it < rounds) {
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
      val shaped = if (bcastRank) joined else joined.repartition(parts, col("id2"))
      val insum = shaped
        .groupBy(col("id2"), col("seg"))
        .agg(sort_array(collect_list(struct(col("id1"), col("ct")))).as("xs"))
        .select(col("id2"), col("seg"), expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
        .groupBy(col("id2"))
        .agg(sort_array(collect_list(struct(col("seg"), col("ssum")))).as("xs"))
        .select(col("id2").as("id"), expr(fold23("ssum")).as("insum"))
      val next = nodesT
        .join(hinted(insum), Seq("id"), "left")
        .crossJoin(bcast(dang))
        .select(col("id"), col("seg"), col("is_dang"),
          (lit(0.15) * col("t") + lit(0.85) *
            (coalesce(col("insum"), lit(0.0)) + col("dsum") * col("t"))).as("pr"))
        .localCheckpoint()
      Checkpoints.release(pr)
      pr = next
      it += 1
    }
    val out = pr.select(col("id"), col("pr").as("trust"))
      .join(hinted(dict.select(col("id"), col("w"), col("is_seed"))), "id")
      .select(col("w"), col("trust"), col("is_seed"))
    // dict stays checkpointed (the lazy result maps ids back through
    // it — the one-shot convention); the rest releases now
    Seq(e0, trans).foreach(Checkpoints.release)
    out
  }

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
      localThreshold: Long = 100000L): DataFrame = strategy match {
    case "local" => iterateLocal(edges, rounds)
    case "distributed" =>
      // the edge count (read off the fresh checkpoint — one tiny
      // cached-block scan) feeds the id-encode gate and its partition
      // sizing, exactly like auto's threshold count does
      val e = edges.localCheckpoint()
      iterateDistributed(e, rounds, e.count())
    case "auto" =>
      // materialize the edge set ONCE: the threshold probe is an
      // action, and without this the whole upstream pipeline (q96's
      // corpus-sized bigram aggregation) would execute twice — once
      // for the count, once for the iteration
      val e = edges.localCheckpoint()
      val edgeRows = e.count()
      if (edgeRows <= localThreshold) {
        val r = iterateLocal(e, rounds)
        Checkpoints.release(e)
        r
      } else iterateDistributed(e, rounds, edgeRows) // releases e when done
    case other => throw new IllegalArgumentException(s"unknown strategy $other")
  }

  /** Driver tier: edge list ≤ threshold rows by contract (vocab²-
    * bounded for word graphs — the q45 dsuLocal shape).
    */
  def runLocal(edges: DataFrame, rounds: Int): DataFrame =
    iterateLocal(edges, rounds)

  /** Distributed tier: vocab-sized frames, one join + tree-fold agg
    * + tree-folded dangling scalar per round.
    */
  def runDistributed(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.localCheckpoint()
    iterateDistributed(e, rounds, e.count())
  }

  /** Group `items` into the fixed tree shape: blocks (blk asc) of
    * segments (seg asc) of in-order leaves — the driver-side mirror of
    * the distributed tiers' three groupBys.
    */
  private def tree[T: scala.reflect.ClassTag](items: Array[(Long, T)]): Array[Array[Array[T]]] =
    items.groupBy(_._1).toArray.sortBy(_._1)
      .groupBy(_._1 / 64).toArray.sortBy(_._1)
      .map { case (_, segs) => segs.map(_._2.map(_._2)) }

  private def iterateLocal(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("w1"), col("w2"), col("c").cast("long"))
      .as[(String, String, Long)].collect()
    val wout = es.groupBy(_._1).map { case (w, g) => w -> g.map(_._3).sum }
    // p = c/wout: the same single exact-BIGINT division the SQL does
    val trans = es.map { case (w1, w2, c) => (w1, w2, c.toDouble / wout(w1).toDouble) }
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted(utf8Order)
    val n = nodes.length.toDouble
    // per-target reduction tree: blocks of segments of (source, p)
    // leaves, leaves sorted by source — the exact distributed shape
    val incoming: Map[String, Array[Array[Array[(String, Double)]]]] =
      trans.groupBy(_._2).map { case (w2, g) =>
        w2 -> tree(g.sortBy(_._1)(utf8Order).map { case (w1, _, p) => (seg(w1), (w1, p)) })
      }
    // dangling-node tree: same shape over (w) leaves
    val dangTree: Array[Array[Array[String]]] =
      tree(nodes.filterNot(wout.contains).map(w => (seg(w), w)))
    var pr = nodes.map(w => w -> (1.0 / n)).toMap
    var it = 0
    while (it < rounds) {
      var dsum = 0.0
      dangTree.foreach { blk =>
        var bsum = 0.0
        blk.foreach { sg =>
          var ssum = 0.0
          sg.foreach { w => ssum += pr(w) }
          bsum += ssum
        }
        dsum += bsum
      }
      pr = nodes.map { w =>
        var insum = 0.0
        incoming.getOrElse(w, Array.empty[Array[Array[(String, Double)]]])
          .foreach { blk =>
            var bsum = 0.0
            blk.foreach { sg =>
              var ssum = 0.0
              sg.foreach { case (w1, p) => ssum += pr(w1) * p }
              bsum += ssum
            }
            insum += bsum
          }
        w -> (0.15 / n + 0.85 * (insum + dsum / n))
      }.toMap
      it += 1
    }
    nodes.map(w => (w, pr(w))).toSeq.toDF("w", "pr")
  }

  /** `e` must already be materialized (localCheckpoint'ed) by the
    * caller — every public entry does. `edgeRows` is its (already
    * measured) row count; past [[idEncodeEdgeRows]] the loop runs on
    * 8-byte rank ids instead of URL strings (bit-identical — see the
    * gate's doc).
    */
  private def iterateDistributed(e0: DataFrame, rounds: Int, edgeRows: Long): DataFrame = {
    if (edgeRows >= idEncodeEdgeRows) return iterateIdsDistributed(e0, rounds, edgeRows)
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.select(col("w1"), col("w2"), col("c").cast("long").as("c"))
    val wout = e.groupBy($"w1").agg(sum($"c").cast("long").as("wout"))
    // seg is a function of the SOURCE word: computed once here, reused
    // every round by both the in-sum tree and (via nodes) the dangling
    // tree
    val trans = e.join(wout, "w1")
      .select($"w1", $"w2", ($"c".cast("double") / $"wout".cast("double")).as("p"),
        segCol($"w1").as("seg"))
      .localCheckpoint()
    // nodes keeps its natural (distinct-shuffle) partitioning: a
    // 10⁸–10⁹-node graph must not funnel the node frame through one
    // task per round, and every per-round reduction already folds
    // through the order-fixed segment tree, so partition count never
    // touches the bits of the result.
    // Dangling membership (no out-edges) is STATIC across rounds, so
    // it is resolved by ONE left join here and carried on the rank
    // frame as `is_dang` — the per-round dangling fold then filters
    // instead of re-running an anti-join every round (optimization
    // round 15: 2 fewer exchanges per round, same fold inputs in the
    // same order, bit-identical).
    val outW = trans.select($"w1".as("w")).distinct()
    val nodes = e.select($"w1".as("w")).union(e.select($"w2".as("w"))).distinct()
      .withColumn("seg", segCol($"w"))
      .join(outW.withColumn("has_out", lit(1)), Seq("w"), "left")
      .select($"w", $"seg", $"has_out".isNull.as("is_dang"))
      .localCheckpoint()
    // |V| as a driver scalar (1-row collect): constant-folds into the
    // round update as the same single divisions the oracle performs.
    // The same single-pass aggregate measures the summed key bytes for
    // the byte-aware broadcast gate (round 16, VERDICT #5) — one job,
    // like the count() it replaces.
    val probe = nodes.agg(
      count(lit(1)).as("n"),
      coalesce(sum(octet_length($"w")), lit(0L)).as("kb")).head()
    val nRows = probe.getLong(0)
    val n = nRows.toDouble
    // the count/bytes that gate the per-round broadcasts are the ones
    // just measured — no extra jobs (see [[BroadcastNodeRows]])
    val bcastRank = nRows <= BroadcastNodeRows && probe.getLong(1) <= broadcastKeyBytes
    def hinted(df: DataFrame): DataFrame = if (bcastRank) broadcast(df) else df
    var pr = nodes.select($"w", $"seg", $"is_dang", (lit(1.0) / lit(n)).as("pr"))
      .localCheckpoint()
    var it = 0
    while (it < rounds) {
      // dangling mass: the depth-3 tree — (seg) buckets fold in w
      // order, then [[fold23]] replays levels 2+3 (blocks in seg
      // order, block partials in blk order) in one pass over the
      // ≤4096 collected bucket sums. No single row ever holds more
      // than max(|dangling|/4096, 4096) entries.
      val dang = pr.filter($"is_dang")
        .groupBy($"seg")
        .agg(sort_array(collect_list(struct($"w", $"pr"))).as("xs"))
        .select($"seg", expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.pr)").as("ssum"))
        .agg(sort_array(collect_list(struct($"seg", $"ssum"))).as("xs"))
        .select(expr(fold23("ssum")).as("dsum"))
      // in-sums: the same tree per target node. Level 1 groups on
      // (w2, seg) — a hub's in-neighborhood spreads across 4096
      // shuffle keys and its level-1 lists hold ~in-degree/4096
      // entries; [[fold23]] folds the ≤4096 per-node bucket sums.
      val prr = hinted(pr.select($"w", $"pr"))
      val insum = trans.join(prr, trans("w1") === prr("w"))
        .select($"w2", $"w1", trans("seg"), ($"pr" * $"p").as("ct"))
        .groupBy($"w2", $"seg")
        .agg(sort_array(collect_list(struct($"w1", $"ct"))).as("xs"))
        .select($"w2", $"seg", expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
        .groupBy($"w2")
        .agg(sort_array(collect_list(struct($"seg", $"ssum"))).as("xs"))
        .select($"w2".as("w"), expr(fold23("ssum")).as("insum"))
      val next = nodes.join(hinted(insum), Seq("w"), "left")
        .crossJoin(broadcast(dang))
        .select($"w", $"seg", $"is_dang",
          (lit(0.15) / lit(n) + lit(0.85) *
            (coalesce($"insum", lit(0.0)) + $"dsum" / lit(n))).as("pr"))
        .localCheckpoint()
      // release the superseded round's blocks — R rank-frame copies
      // would otherwise stay cached for the session's lifetime
      Checkpoints.release(pr)
      pr = next
      it += 1
    }
    // intermediates are no longer read once the final rank frame is
    // materialized; only `pr` (returned) stays cached
    val out = pr.select($"w", $"pr")
    Seq(e0, trans, nodes).foreach(Checkpoints.release)
    out
  }

  /** [[iterateDistributed]] over 8-byte rank ids (optimization round
    * 16, guide §2.3/§2.4): identical rounds, identical folds, identical
    * IEEE op sequence — the ONLY differences are physical:
    *
    *  - node keys are the UTF-8-rank ids from [[nodeDict]] (order-
    *    isomorphic to the strings, so every `sort_array` fold visits
    *    its leaves in the same order; `seg` — a function of the STRING
    *    — is computed once in the dictionary and carried);
    *  - the edge frame is mapped to (id1, id2, p, seg) ONCE at setup
    *    (two dictionary joins) and, when the rank frame broadcasts,
    *    checkpointed through [[Checkpoints.localByKey]] hash-partitioned
    *    by the TARGET id, so both in-sum groupings (level 1 on
    *    (id2, seg), level 2 on id2 — a superset of the partitioning
    *    key, which Spark recognises) stay partition-local: the
    *    per-round edge-sized exchanges disappear outright. A plain
    *    `repartition(parts, id2).localCheckpoint()` would not do it:
    *    under AQE the checkpoint's LogicalRDD reads the adaptive root's
    *    `UnknownPartitioning`, and every round would shuffle the edge
    *    frame twice, on (id2, seg) and on id2;
    *  - when the graph is too big to broadcast the rank frame, the
    *    per-round shuffle join runs as before (on ids — ~4× fewer
    *    bytes), and ONE forced id2-only exchange feeds both fold
    *    levels where the unhinted plan would pay two;
    *  - ids map back to words in one final node-sized join.
    */
  private def iterateIdsDistributed(
      e0: DataFrame, rounds: Int, edgeRows: Long): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.select(col("w1"), col("w2"), col("c").cast("long").as("c"))
    // dangling membership is a property of the STRING graph, static
    // across rounds — resolved here so the dictionary checkpoint is
    // the id path's ONLY per-node materialization (same checkpoint
    // count as the string path)
    val outW = e.select($"w1".as("w")).distinct()
    val nodesW = e.select($"w1".as("w")).union(e.select($"w2".as("w"))).distinct()
      .withColumn("seg", segCol($"w"))
      .join(outW.withColumn("has_out", lit(1)), Seq("w"), "left")
      .select($"w", $"seg", $"has_out".isNull.as("is_dang"))
    val parts = idParts(edgeRows, e0)
    val dict = nodeDict(nodesW, parts) // (w, seg, is_dang, id)
    val nRows = dict.count()
    val n = nRows.toDouble
    val bcastRank = nRows <= BroadcastNodeRows
    def hinted(df: DataFrame): DataFrame = if (bcastRank) broadcast(df) else df
    val wout = e.groupBy($"w1").agg(sum($"c").cast("long").as("wout"))
    val transBase = e.join(wout, "w1")
      .join(hinted(dict.select($"w".as("w1"), $"id".as("id1"), $"seg")), "w1")
      .join(hinted(dict.select($"w".as("w2"), $"id".as("id2"))), "w2")
      .select($"id1", $"id2",
        ($"c".cast("double") / $"wout".cast("double")).as("p"), $"seg")
    // broadcast regime: pay the target-id exchange ONCE here instead
    // of once per round (the in-sum groupings then never exchange);
    // shuffle regime: the per-round join re-shuffles by id1 anyway, so
    // a setup layout would be dead weight — skip it
    val trans =
      if (bcastRank) Checkpoints.localByKey(transBase, "id2", parts)
      else transBase.localCheckpoint()
    val nodes = dict.select($"id", $"seg", $"is_dang")
    var pr = nodes.select($"id", $"seg", $"is_dang", (lit(1.0) / lit(n)).as("pr"))
      .localCheckpoint()
    var it = 0
    while (it < rounds) {
      val dang = pr.filter($"is_dang")
        .groupBy($"seg")
        .agg(sort_array(collect_list(struct($"id", $"pr"))).as("xs"))
        .select($"seg", expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.pr)").as("ssum"))
        .agg(sort_array(collect_list(struct($"seg", $"ssum"))).as("xs"))
        .select(expr(fold23("ssum")).as("dsum"))
      val prr = hinted(pr.select($"id", $"pr"))
      val joined = trans.join(prr, trans("id1") === prr("id"))
        .select($"id2", $"id1", trans("seg"), ($"pr" * $"p").as("ct"))
      // shuffle regime: ONE id2-only exchange satisfies both fold
      // levels (id2 ⊂ {id2, seg} and = {id2}); broadcast regime: the
      // checkpointed layout already does
      val shaped = if (bcastRank) joined else joined.repartition(parts, $"id2")
      val insum = shaped
        .groupBy($"id2", $"seg")
        .agg(sort_array(collect_list(struct($"id1", $"ct"))).as("xs"))
        .select($"id2", $"seg", expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ct)").as("ssum"))
        .groupBy($"id2")
        .agg(sort_array(collect_list(struct($"seg", $"ssum"))).as("xs"))
        .select($"id2".as("id"), expr(fold23("ssum")).as("insum"))
      val next = nodes.join(hinted(insum), Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select($"id", $"seg", $"is_dang",
          (lit(0.15) / lit(n) + lit(0.85) *
            (coalesce($"insum", lit(0.0)) + $"dsum" / lit(n))).as("pr"))
        .localCheckpoint()
      Checkpoints.release(pr)
      pr = next
      it += 1
    }
    // the returned (lazy) frame reads pr AND the dictionary (id → w);
    // both stay checkpointed for the ContextCleaner (the one-shot
    // convention) — everything else releases now
    val out = pr.select($"id", $"pr")
      .join(hinted(dict.select($"id", $"w")), "id")
      .select($"w", $"pr")
    Seq(e0, trans).foreach(Checkpoints.release)
    out
  }
}
