package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.functions._

/** Embedding-column operators beyond similarity search (q24/q25/q33/
  * q52): storage quantization and per-label centroids.
  *
  * Determinism notes (the [[graft.Sql]] rules, applied to vectors):
  *  - float→double casts are exact; abs/max/floor and single
  *    multiply/divide ops are identical IEEE operations on both
  *    engines — only double ACCUMULATION order can diverge;
  *  - therefore every reduction over doubles here is an ORDERED fold:
  *    within a row, `aggregate(...)` walks the array in index order
  *    (DuckDB: `sum(... ORDER BY i)`); across rows, q84 folds in
  *    explicit (seg, vec_id) order on both engines;
  *  - rounding-to-int is floor(x+0.5), never round(): engines disagree
  *    on double round() ties (HALF_UP vs half-even), floor is exact.
  */
object Embeddings {

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q81
    // Symmetric int8 quantization (the embedding-storage form ANN
    // serving uses): per-vector scale = 127/max|x|, q = floor(x*scale
    // + 0.5). Pure scan projection — per-row max is an in-row ordered
    // fold, no shuffle anywhere; at 100 TB this runs at read
    // throughput and cuts the stored index 4x. Zero vectors quantize
    // to zero (scale guard).
    Q(
      "q81_embedding_quantize",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "embeddings")
          .withColumn("maxabs", expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
          .select($"vec_id", $"maxabs", posexplode($"embedding"))
          .select($"vec_id", $"pos".cast("long").as("i"),
            when($"maxabs" === 0.0, 0L)
              .otherwise(floor($"col".cast("double") * (lit(127.0) / $"maxabs") + lit(0.5)))
              .cast("long").as("q"))
      },
      Some("""
        WITH m AS (
          SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
          FROM embeddings),
        u AS (
          SELECT vec_id, maxabs,
            CAST(unnest(embedding) AS DOUBLE) AS x,
            CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i
          FROM m)
        SELECT vec_id, i,
          CASE WHEN maxabs = 0 THEN 0
               ELSE CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT) END AS q
        FROM u""")),

    // ---------------------------------------------------------------- q84
    // Per-label centroids (the k-means/IVF training primitive) via a
    // REPRODUCIBLE fixed-depth sum tree: grouped double sums are
    // order-dependent, and shuffle arrival order is nondeterministic —
    // so level 1 folds each bounded 64-vector segment in vec_id order,
    // level 2 folds each bounded 64-segment block (`seg div 64`) in
    // seg order, and level 3 folds the block sums in blk order. Both
    // engines evaluate the identical fixed reduction tree →
    // bit-identical centroids run-over-run AND engine-over-engine.
    // Depth is a STATIC part of the operator's definition, not derived
    // from the data: a data-dependent depth would change the
    // association grouping and with it the rounded result. At depth 3,
    // levels 1 and 2 are hard-bounded at 64 entries per collect_list
    // and the top list holds ceil(pop / 64²) structs per (label, i) —
    // one per 4096 vectors, so a label needs ≳4×10⁸ vectors (≈100 GB
    // of raw fp32 at d=64) before the top list reaches 10⁵ structs
    // (~2 MB, still comfortably inside one reducer). Past that,
    // extend the SAME pattern by one more `div 64` level — a new
    // operator version, not a runtime adaptation.
    Q(
      "q84_embedding_centroids",
      (s, dir) => labelCentroids(table(s, dir, "embeddings")),
      Some(s"""
        WITH $centroidSqlCtes
        SELECT label, i, n, vsum / CAST(n AS DOUBLE) AS centroid FROM c""")),

    // --------------------------------------------------------------- q120
    // Prototypicality pruning (SSL-prototypes; the second half of
    // Sorscher et al. 2022 / the D4 recipe beside SemDeDup q92): score
    // every embedding by cosine to its cluster's centroid and DROP the
    // most prototypical quarter per cluster — near-centroid points
    // carry the least marginal information, so pruning them beats
    // random subsetting at equal token budget. Clusters here are the
    // table's labels with q84's bit-reproducible centroids (the
    // k-means assignment a production run would use); the cosine is an
    // in-row ORDERED fold over zip_with (index order ≡ the oracle's
    // `ORDER BY i` sums — bit-identical), centroids broadcast, so
    // scoring runs at scan throughput. The per-cluster row_number is a
    // window over one CLUSTER (bounded by the q92 maxCell discipline),
    // never the corpus; pruned = rank ≤ ceil(n/4) in exact integer
    // arithmetic.
    Q(
      "q120_proto_prune",
      (s, dir) => protoPrune(table(s, dir, "embeddings")),
      Some(s"""
        WITH $centroidSqlCtes,
        cent AS (
          SELECT label, i, vsum / CAST(n AS DOUBLE) AS c FROM c),
        u AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
            CAST(unnest(embedding) AS DOUBLE) AS x,
            CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i
          FROM embeddings),
        d AS (
          SELECT u.vec_id, u.label,
            sum(u.x * cent.c ORDER BY u.i) AS dot,
            sum(u.x * u.x ORDER BY u.i) AS na,
            sum(cent.c * cent.c ORDER BY u.i) AS nb
          FROM u JOIN cent ON u.label = cent.label AND u.i = cent.i
          GROUP BY u.vec_id, u.label),
        r AS (
          SELECT vec_id, label, dot / (sqrt(na) * sqrt(nb)) AS sim,
            CAST(row_number() OVER (
              PARTITION BY label
              ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id ASC) AS BIGINT) AS rk,
            CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n
          FROM d)
        SELECT vec_id, label, sim, rk,
          CAST(rk <= (n + 3) // 4 AS BIGINT) AS pruned
        FROM r""")),

    // --------------------------------------------------------------- q130
    // k-NN GRAPH construction — each vector's 5 nearest in-cell
    // neighbors by exact cosine, the neighbor graph that semantic
    // dedup (SemDeDup §3.2), label-propagation communities (q126) and
    // graph-based diversity pruning all consume. Blocked by the coarse
    // cell (label = cluster id, the q24/q92 stand-in for
    // ops.IvfIndex's trained cells): distances only WITHIN a cell,
    // never all-pairs, and the directed pair stream — quadratic in
    // the cell size, the largest intermediate in the whole pipeline —
    // never hits a window sort: per-vector top-k runs through the
    // bounded TopKSimAgg Aggregator (the q114 scale idiom), so each
    // map task contributes at most k rows per vector to the shuffle
    // and no sort ever sees more than k elements. At 100 TB: cells
    // come from the trained quantizer (hot cells sub-split via
    // IvfIndex.refine), cosine is the codegen'd native expression, and
    // both join sides stay partitioned by cell — one exchange each.
    // The oracle replays the same edges through the window
    // formulation, pinning the Aggregator's (sim desc, id asc) heap
    // order row-identical to row_number().
    Q(
      "q130_knn_graph",
      (s, dir) => knnGraph(table(s, dir, "embeddings"), 5),
      Some(s"""
        WITH ranked AS (
          SELECT v1, v2, sim,
            row_number() OVER (PARTITION BY v1 ORDER BY sim DESC, v2) AS rk
          FROM (${Llm.cosineSql(
        """SELECT a.vec_id v1, b.vec_id v2, a.embedding ea, b.embedding eb
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id <> b.vec_id""",
        "")}) sims)
        SELECT v1 AS vec_id, v2 AS nbr, sim, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5""")),

    // ---------------------------------------------------------------- q158
    // Embedding GEOMETRY audit — the data-quality screen run before
    // any ANN index or similarity job trusts an embedding column:
    // per (dimension, squared-norm decile bucket), how many vectors —
    // mixed dims (a concatenation bug), zero vectors (failed encodes,
    // bucket 0 at dim d), and norm drift (an unnormalized model
    // slipped into a normalized corpus) all surface as off-profile
    // cells. Σx² is the per-vector ORDERED array fold (the q115 dot
    // discipline — same IEEE sequence both engines), bucketed by
    // floor(·10): identical doubles floor identically, so the
    // histogram hash-matches. No sqrt anywhere.
    //
    // Scale shape: pure scan — the fold runs inside the row, the
    // only shuffle is the map-side-combined (dim, bucket) cell agg.
    Q(
      "q158_embedding_geometry",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "embeddings")
          // length ≥ 1 on BOTH engines: unnest of an empty list emits
          // no row in DuckDB while Spark's fold would yield sq = 0 —
          // a zero-LENGTH vector is out of domain by contract (an
          // all-zero VALUED vector is in: sq = 0, bucket 0)
          .filter(size($"embedding") >= 1)
          .select(size($"embedding").cast("long").as("dim"),
            // NULL ELEMENTS are themselves a data-quality defect the
            // audit must SURFACE, not fold over — and the engines
            // disagree on folding them (Spark's aggregate propagates
            // NULL, DuckDB's sum skips it), so such vectors take the
            // dedicated sentinel bucket −1 on both engines
            expr("exists(embedding, x -> x IS NULL)").as("has_null"),
            expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                 (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""").as("sq"))
          .select($"dim",
            when($"has_null", lit(-1L))
              .otherwise(expr("CAST(floor(sq * 10) AS BIGINT)"))
              .as("sq_bucket"))
          .groupBy($"dim", $"sq_bucket")
          .agg(count(lit(1)).cast("long").as("n_vecs"))
      },
      Some("""
        WITH hn AS (
          SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
            len(list_filter(embedding, x -> x IS NULL)) > 0 AS has_null
          FROM embeddings WHERE len(embedding) >= 1),
        el AS (
          SELECT vec_id,
            unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE len(embedding) >= 1),
        sq AS (
          SELECT vec_id,
            sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) ORDER BY i) AS sq
          FROM el GROUP BY vec_id),
        b AS (
          SELECT hn.dim,
            CASE WHEN hn.has_null THEN CAST(-1 AS BIGINT)
                 ELSE CAST(floor(sq.sq * 10) AS BIGINT) END AS sq_bucket
          FROM hn JOIN sq ON hn.vec_id = sq.vec_id)
        SELECT dim, sq_bucket, CAST(count(*) AS BIGINT) AS n_vecs
        FROM b GROUP BY dim, sq_bucket""")),

    // ---------------------------------------------------------------- q175
    // MMR DIVERSIFIED RE-RANK (maximal marginal relevance, Carbonell
    // & Goldstein 1998) — the retrieval stack's last stage after
    // q115's RRF fusion: from the exact top-20 cosine candidates of
    // one query vector, greedily select 5 maximizing
    // λ·rel − (1−λ)·max_{s∈Selected} sim(c, s) at λ = 0.7 — high
    // relevance, penalized for redundancy with what's already picked.
    // The greedy is UNROLLED as 5 declarative stages (no driver loop,
    // no collect): each stage is an anti-join + argmax over the
    // k-bounded candidate frame, and the ORACLE is the same unrolled
    // chain as generated CTEs — greedy selection, usually dismissed
    // as "not SQL-expressible", hash-matches end to end because k is
    // a query constant.
    //
    // Scale shape: the corpus is touched ONCE (the top-20 take via
    // per-partition heaps — TakeOrderedAndProject, no global sort);
    // everything after operates on k rows / k² candidate-pair sims.
    // Doubles: CosineSim's in-row ordered fold (q25's bit-equality),
    // one fixed λ-affine per score, max over bit-identical sims.
    Q(
      "q175_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val e = table(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
        val q0 = table(s, dir, "embeddings").filter($"vec_id" === 0)
          .select($"embedding".as("ea"))
        // consumed by the greedy's 5 stages AND the pair sims —
        // materialize the k-bounded frame once
        val cand = Checkpoints.local(e.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q0))
          .select($"vec_id", expr("cosine_sim(ea, embedding)").as("rel"),
            $"embedding")
          .orderBy($"rel".desc, $"vec_id".asc).limit(20))
        val sims = Checkpoints.local(cand.as("a").join(cand.as("b"),
            col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("c1"), col("b.vec_id").as("c2"),
            expr("cosine_sim(a.embedding, b.embedding)").as("sim")))
        mmrGreedy(cand.select($"vec_id", $"rel"), sims, 5)
      },
      Some(mmrOracleSql)),

    // ---------------------------------------------------------------- q184
    // RETRIEVAL EVALUATION SUITE — the harness that scores the
    // engine's own retrieval stack (q25 exact / q33–q99 ANN / q115
    // hybrid) instead of trusting it: per query vector, MRR,
    // precision@10, recall@10 and AP@20 against label-match ground
    // truth (corpus vectors sharing the query's label — the standard
    // proxy relevance of ANN benchmarks). Every metric is a division
    // of exact integers; AP's sum of precision-at-hit terms is an
    // ORDERED rank fold (sort_array + aggregate ≡ the oracle's
    // sum(x ORDER BY rk)), so all doubles hash-match. nDCG is
    // deliberately absent: its log2 discount is transcendental and
    // engines disagree in the last ulp — AP carries the same
    // position-sensitivity with exact rational arithmetic.
    //
    // Scale shape: q25's — the query side broadcasts, the corpus
    // scan stays partition-parallel, and the top-20 take is the q130
    // bounded-heap idiom (TopKSimAgg over (sim desc, vec_id asc), the
    // window's exact total order): partial aggregation caps every map
    // task's contribution at 20 rows per query and NO per-partition
    // sort of the 5×|corpus| pair stream ever runs — the previous
    // rank-window form's WindowGroupLimit kept the SHUFFLE at ~400
    // rows but still sorted each partition's pairs map-side.
    // Everything after the take is 5×20 rows (labels re-attached by a
    // narrow vec_id join — AQE broadcasts the 100-row side).
    // Ground-truth totals are one label-histogram agg joined by label.
    Q(
      "q184_retrieval_eval",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        graft.functions.CosineSim.register(s)
        val e = table(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
        val qs = table(s, dir, "embeddings").filter($"vec_id" < 5)
          .select($"vec_id".as("qid"), $"label".as("qlabel"),
            $"embedding".as("qe"))
        val labelCounts = table(s, dir, "embeddings")
          .groupBy($"label").agg(count(lit(1)).cast("long").as("n_label"))
        val topk = udaf(new graft.functions.TopKSimAgg(20),
          org.apache.spark.sql.Encoders.product[(Long, Double)])
        val ranked = e.crossJoin(broadcast(qs))
          .filter($"vec_id" =!= $"qid")
          .select($"qid", $"qlabel", $"vec_id",
            expr("cosine_sim(qe, embedding)").as("sim"))
          .groupBy($"qid", $"qlabel")
          .agg(topk($"vec_id", $"sim").as("tk"))
          .select($"qid", $"qlabel", posexplode($"tk"))
          // tk is sorted (sim desc, vec_id asc) — the window's order —
          // so pos + 1 IS row_number
          .select($"qid", $"qlabel", ($"pos" + 1).cast("long").as("rk"),
            $"col._2".as("vec_id"))
          .join(table(s, dir, "embeddings").select($"vec_id", $"label"),
            "vec_id")
          .withColumn("rel", ($"label" === $"qlabel").cast("long"))
          .withColumn("cum_rel", sum($"rel").over(
            Window.partitionBy($"qid").orderBy($"rk")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        ranked
          .groupBy($"qid", $"qlabel")
          .agg(
            min(when($"rel" === 1L, $"rk")).as("first_rel_rank0"),
            sum(when($"rk" <= 10L, $"rel").otherwise(0L)).cast("long")
              .as("hits_at_10"),
            sort_array(collect_list(when($"rel" === 1L,
              struct($"rk", ($"cum_rel".cast("double") / $"rk".cast("double"))
                .as("p"))))).as("ps"))
          .join(broadcast(labelCounts.select($"label".as("qlabel"),
            $"n_label")), "qlabel")
          // the query itself is excluded from the candidate corpus,
          // so its own label row overcounts relevant by one
          .withColumn("n_rel_total", ($"n_label" - 1L).cast("long"))
          .select($"qid", $"n_rel_total",
            coalesce($"first_rel_rank0", lit(0L)).as("first_rel_rank"),
            coalesce(lit(1.0) / $"first_rel_rank0".cast("double"), lit(0.0))
              .as("rr"),
            ($"hits_at_10".cast("double") / lit(10.0)).as("p_at_10"),
            // a label-unique query has no ground truth: define its
            // recall/AP as 0 on BOTH engines (unguarded, Spark's
            // 0/0 is NULL while DuckDB's is NaN — a latent oracle
            // divergence on corpora with singleton labels)
            when($"n_rel_total" > 0L,
              $"hits_at_10".cast("double") / $"n_rel_total".cast("double"))
              .otherwise(0.0).as("r_at_10"),
            when($"n_rel_total" > 0L,
              expr("aggregate(ps, CAST(0.0 AS DOUBLE), (a, e) -> a + e.p)") /
                least($"n_rel_total", lit(20L)).cast("double"))
              .otherwise(0.0).as("ap_at_20"))
      },
      Some(s"""
        WITH ranked AS (
          SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id, e.label,
            s.sim,
            CAST(row_number() OVER (PARTITION BY q.vec_id
              ORDER BY s.sim DESC, e.vec_id) AS BIGINT) AS rk
          FROM embeddings q
          JOIN embeddings e ON q.vec_id < 5 AND e.vec_id <> q.vec_id
          JOIN (${Llm.cosineSql(
        """SELECT q.vec_id v1, e.vec_id v2, q.embedding ea, e.embedding eb
           FROM embeddings q JOIN embeddings e
             ON q.vec_id < 5 AND e.vec_id <> q.vec_id""",
        "")}) s ON s.v1 = q.vec_id AND s.v2 = e.vec_id),
        top AS (
          SELECT qid, qlabel, vec_id, label, rk,
            CAST(label = qlabel AS BIGINT) AS rel,
            CAST(sum(CAST(label = qlabel AS BIGINT)) OVER (
              PARTITION BY qid ORDER BY rk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum_rel
          FROM ranked WHERE rk <= 20),
        lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
               FROM embeddings GROUP BY label),
        agg AS (
          SELECT qid, qlabel,
            min(CASE WHEN rel = 1 THEN rk END) AS first_rel_rank0,
            CAST(coalesce(sum(CASE WHEN rk <= 10 THEN rel ELSE 0 END), 0)
              AS BIGINT) AS hits_at_10,
            sum(CASE WHEN rel = 1
                     THEN CAST(cum_rel AS DOUBLE) / CAST(rk AS DOUBLE)
                END ORDER BY rk) AS ap_num
          FROM top GROUP BY qid, qlabel)
        SELECT a.qid,
          CAST(lc.n_label - 1 AS BIGINT) AS n_rel_total,
          CAST(coalesce(a.first_rel_rank0, 0) AS BIGINT) AS first_rel_rank,
          coalesce(1.0 / CAST(a.first_rel_rank0 AS DOUBLE), 0.0) AS rr,
          CAST(a.hits_at_10 AS DOUBLE) / 10.0 AS p_at_10,
          CASE WHEN lc.n_label > 1
               THEN CAST(a.hits_at_10 AS DOUBLE) / CAST(lc.n_label - 1 AS DOUBLE)
               ELSE 0.0 END AS r_at_10,
          CASE WHEN lc.n_label > 1
               THEN coalesce(a.ap_num, 0.0) /
                 CAST(least(lc.n_label - 1, 20) AS DOUBLE)
               ELSE 0.0 END AS ap_at_20
        FROM agg a JOIN lc ON lc.label = a.qlabel""")),

    // --------------------------------------------------------------- q200
    // CLUSTER SEPARATION AUDIT — centroid-based silhouette (Rousseeuw
    // 1987, the medoid-free simplification every large-scale clusterer
    // reports): per vector, a = euclidean distance to its OWN label's
    // q84 centroid, b = distance to the NEAREST OTHER centroid
    // (deterministic argmin: (d², label) struct-min — ties break to
    // the smaller label on both engines), s = (b − a)/max(a, b) ∈
    // [−1, 1]. The audit reports the (label, nearest_other,
    // floor(s·10) bucket) histogram — the q158 bucketize-then-count
    // discipline, so NO cross-row double sums exist anywhere (every
    // per-vector s is a chain of single IEEE ops on bit-identical
    // inputs; counts are integers). Negative buckets = vectors closer
    // to another centroid than their own (misassignment mass);
    // nearest_other says WHICH cluster is absorbing them — the
    // confusion structure a k-means/IVF retrain triages with.
    //
    // Scale shape: centroids broadcast (|labels|·d doubles); the
    // distance expansion is n·|labels| rows of four scalars (the
    // embedding never leaves its scan row — d² folds in-row per
    // centroid) feeding ONE map-side-combinable (vec, label) agg,
    // then the bounded |labels|²·21-cell histogram agg. For large-k
    // clusterings the same operator runs within coarse cells (the
    // q92/q120 discipline): silhouette against all k centroids is
    // O(n·k) by definition; production prunes to the probed cells.
    Q(
      "q200_cluster_silhouette",
      (s, dir) => silhouetteAudit(table(s, dir, "embeddings")),
      Some(s"""
        WITH $centroidSqlCtes,
        cent AS (
          SELECT label AS clabel, i, vsum / CAST(n AS DOUBLE) AS c FROM c),
        u AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
            CAST(unnest(embedding) AS DOUBLE) AS x,
            CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i
          FROM embeddings),
        d AS (
          SELECT u.vec_id, u.label, cent.clabel,
            sum((u.x - cent.c) * (u.x - cent.c) ORDER BY u.i) AS d2
          FROM u JOIN cent ON u.i = cent.i
          GROUP BY u.vec_id, u.label, cent.clabel),
        own AS (SELECT vec_id, label, d2 AS a2 FROM d WHERE clabel = label),
        near AS (
          SELECT vec_id, label, clabel AS nearest, d2 AS b2
          FROM (SELECT d.*, row_number() OVER (
                  PARTITION BY vec_id ORDER BY d2, clabel) AS rn
                FROM d WHERE clabel <> label) t
          WHERE rn = 1),
        sil AS (
          SELECT o.label, n.nearest,
            CASE WHEN greatest(sqrt(o.a2), sqrt(n.b2)) = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor((sqrt(n.b2) - sqrt(o.a2))
                        / greatest(sqrt(o.a2), sqrt(n.b2)) * 10) AS BIGINT)
            END AS s_bucket
          FROM own o JOIN near n ON o.vec_id = n.vec_id)
        SELECT label, nearest, s_bucket, CAST(count(*) AS BIGINT) AS n_vecs
        FROM sil GROUP BY label, nearest, s_bucket""")),

    // --------------------------------------------------------------- q203
    // SIGN RANDOM PROJECTION to 16 dims (Achlioptas 2003's database-
    // friendly JL projection, the ±1 form): y_j = 0.25 · Σᵢ s(i,j)·xᵢ
    // with the sign matrix DERIVED, not stored — s(i,j) = ±1 from one
    // md5 bit of "i|j" (the repo's 60-bit convention), so the plan
    // builder and the DuckDB oracle reproduce the exact same matrix
    // with zero distributed state, and 1/√16 = 0.25 is an exact
    // binary scale. The projection is the storage/sketch half of the
    // ANN stack (q33's hyperplanes hash to bits; this keeps metric
    // geometry for downstream exact re-rank at 4× less I/O than fp32
    // d=64). Per-output sums are in-row ORDERED folds over
    // zip_with(embedding, index) — the q84/q115 discipline, so every
    // double hash-matches.
    //
    // Scale shape: pure scan projection — NO shuffle anywhere, no
    // broadcast, no state; the 256 × 16 sign table is derived once
    // driver-side and rides the plan as a literal the fold indexes
    // (an md5-per-row formulation was measured 5× slower for
    // bit-identical output). At 100 TB this runs at read throughput,
    // which is the point of deriving rather than joining the matrix.
    Q(
      "q203_random_projection",
      (s, dir) => {
        import s.implicits._
        // The sign matrix is ROW-CONSTANT, so it is derived ONCE at
        // plan build (1024 driver-side md5s — the identical bits the
        // oracle derives in SQL) and embedded as a literal the in-row
        // fold indexes: an md5-per-(i,j)-per-ROW formulation measured
        // 2.8 s warm at sf0.1 (2 M codegen md5 calls for 2 k vectors)
        // for the same bit-identical output. Signs cover i < 256; a
        // wider embedding fails loudly (the repo's loud-failure rule —
        // element_at would otherwise null out silently).
        val md = java.security.MessageDigest.getInstance("MD5")
        def sign(i: Int, j: Int): Int = {
          md.reset()
          val h = md.digest(s"$i|$j".getBytes("UTF-8"))
          // Md5Hash60 = the driver-side twin of the oracle's
          // conv(substr(md5, 1, 15), 16, 10); % 2 is the same parity
          if (graft.ops.Md5Hash60.ofDigest(h) % 2 == 0) 1 else -1
        }
        val signs: Seq[Seq[Int]] =
          (0 until 16).map(j => (0 until 256).map(i => sign(i, j)))
        table(s, dir, "embeddings")
          .withColumn("__signs", typedLit(signs))
          .select($"vec_id", posexplode(expr(
            s"""transform(sequence(0, 15), j ->
                  CASE WHEN size(embedding) > 256
                       THEN raise_error('q203: embedding dim > 256 — widen the sign table')
                       ELSE 0.25 * aggregate(
                         zip_with(embedding, sequence(0, size(embedding) - 1),
                           (x, i) -> CASE WHEN element_at(element_at(__signs, j + 1), i + 1) = 1
                                          THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END),
                         CAST(0.0 AS DOUBLE), (a, e) -> a + e) END)""")))
          .select($"vec_id", $"pos".cast("long").as("j"), $"col".as("y"))
      },
      Some("""
        WITH u AS (
          SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS x,
            CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i
          FROM embeddings)
        SELECT u.vec_id, j.j,
          0.25 * sum(CASE WHEN CAST(CAST(concat('0x',
                substr(md5(concat(CAST(u.i AS VARCHAR), '|', CAST(j.j AS VARCHAR))), 1, 15))
                AS UBIGINT) AS BIGINT) % 2 = 0
              THEN u.x ELSE -u.x END ORDER BY u.i) AS y
        FROM u CROSS JOIN generate_series(0, 15) j(j)
        GROUP BY u.vec_id, j.j"""))
  )

  /** Silhouette engine behind q200. Input (vec_id, embedding, label);
    * output the (label, nearest, s_bucket) histogram. Requires ≥ 2
    * distinct labels (with one label there is no "other" centroid and
    * the output is empty — same on both engines). Distances are
    * in-row ordered folds against broadcast q84 centroids; the argmin
    * over other centroids is a (d², label) struct-min, deterministic
    * under ties; s = (b − a)/max(a, b) is a chain of single
    * correctly-rounded IEEE ops, so floor(s·10) buckets identically
    * across engines (the q158 rule: bucketize per row, count — never
    * sum doubles across rows).
    */
  private[graft] def silhouetteAudit(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cvec = labelCentroids(emb)
      .groupBy($"label")
      .agg(sort_array(collect_list(struct($"i", $"centroid"))).as("cs"))
      .select($"label".as("clabel"), expr("transform(cs, e -> e.centroid)").as("cvec"))
    val d = emb
      .select($"vec_id", $"label".cast("long").as("label"), $"embedding")
      .crossJoin(broadcast(cvec))
      .select($"vec_id", $"label", $"clabel",
        expr("""aggregate(zip_with(embedding, cvec,
                  (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
                CAST(0.0 AS DOUBLE), (a, e) -> a + e)""").as("d2"))
    val per = d.groupBy($"vec_id", $"label").agg(
      min(when($"clabel" === $"label", $"d2")).as("a2"),
      // struct-min = (d2 asc, clabel asc): the deterministic argmin
      min(when($"clabel" =!= $"label", struct($"d2", $"clabel"))).as("bst"))
    per
      .filter($"bst".isNotNull)
      .select($"label", $"bst.clabel".as("nearest"),
        sqrt($"a2").as("da"), sqrt($"bst.d2").as("db"))
      .select($"label", $"nearest",
        when(greatest($"da", $"db") === 0.0, 0L)
          .otherwise(floor(($"db" - $"da") / greatest($"da", $"db") * 10)
            .cast("long"))
          .as("s_bucket"))
      .groupBy($"label", $"nearest", $"s_bucket")
      .agg(count(lit(1)).cast("long").as("n_vecs"))
  }

  /** The unrolled MMR greedy behind q175: `cand` = (vec_id, rel)
    * k-bounded candidates, `sims` = (c1, c2, sim) directed candidate
    * pairs; selects `k` rows, step t's score = 0.7·rel − 0.3·max sim
    * to the t−1 already selected. Declarative: each stage is a
    * left_anti + argmax (TakeOrderedAndProject) over the tiny frame,
    * checkpointed so stage t's plan doesn't re-derive stages 1..t−1.
    * MmrSpec pins it against a sequential JVM replica.
    */
  private[graft] def mmrGreedy(
      cand: org.apache.spark.sql.DataFrame,
      sims: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    var sel = Checkpoints.local(cand
      .orderBy($"rel".desc, $"vec_id".asc).limit(1)
      .select($"vec_id", $"rel", lit(1L).as("step"),
        (lit(0.7) * $"rel").as("mmr_score")))
    (2 to k).foreach { t =>
      val ms = sims.join(sel.select($"vec_id".as("c2")), "c2")
        .groupBy($"c1").agg(max($"sim").as("ms"))
        .select($"c1".as("vec_id"), $"ms")
      val next = cand
        .join(sel.select($"vec_id"), Seq("vec_id"), "left_anti")
        .join(ms, Seq("vec_id"), "left")
        .select($"vec_id", $"rel", lit(t.toLong).as("step"),
          (lit(0.7) * $"rel" -
            lit(0.3) * coalesce($"ms", lit(0.0))).as("mmr_score"))
        .orderBy($"mmr_score".desc, $"vec_id".asc).limit(1)
      sel = Checkpoints.local(sel.unionAll(next))
    }
    sel.select($"step", $"vec_id", $"rel", $"mmr_score")
  }

  /** q175's oracle: the same unrolled greedy as generated DuckDB
    * CTEs — selu_t accumulates the selection, sel_t is stage t's
    * anti-join + argmax, scores the identical λ-affine.
    */
  private def mmrOracleSql: String = {
    val candSql = Llm.cosineSql(
      """SELECT q.vec_id v1, e.vec_id v2, q.embedding ea, e.embedding eb
         FROM embeddings q JOIN embeddings e ON q.vec_id = 0 AND e.vec_id <> 0""",
      "")
    // candidate embeddings materialize FIRST (20 rows), then the
    // k² pair join — an IN-subquery on the raw self-join left DuckDB
    // building corpus² pairs before filtering (OOM at sf0.1)
    val simsSql = Llm.cosineSql(
      """SELECT a.vec_id v1, b.vec_id v2, a.embedding ea, b.embedding eb
         FROM ce a JOIN ce b ON a.vec_id <> b.vec_id""",
      "")
    val steps = (2 to 5).map { t =>
      s"""sel$t AS MATERIALIZED (
          SELECT c.vec_id, c.rel, CAST($t AS BIGINT) AS step,
            CAST(0.7 AS DOUBLE) * c.rel -
              CAST(0.3 AS DOUBLE) * coalesce(m.ms, CAST(0.0 AS DOUBLE)) AS mmr_score
          FROM cand c
          LEFT JOIN (SELECT s.c1 AS vec_id, max(s.sim) AS ms
                     FROM simsq s JOIN selu${t - 1} u ON s.c2 = u.vec_id
                     GROUP BY s.c1) m USING (vec_id)
          WHERE c.vec_id NOT IN (SELECT vec_id FROM selu${t - 1})
          ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
        selu$t AS MATERIALIZED (
          SELECT vec_id, rel, step, mmr_score FROM selu${t - 1}
          UNION ALL
          SELECT vec_id, rel, step, mmr_score FROM sel$t)"""
    }.mkString(",\n        ")
    s"""
        WITH cand AS MATERIALIZED (
          SELECT v2 AS vec_id, sim AS rel
          FROM ($candSql) cs
          ORDER BY sim DESC, v2 LIMIT 20),
        ce AS MATERIALIZED (
          SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id),
        simsq AS MATERIALIZED (
          SELECT v1 AS c1, v2 AS c2, sim FROM ($simsSql) ss),
        selu1 AS MATERIALIZED (
          SELECT vec_id, rel, CAST(1 AS BIGINT) AS step,
            CAST(0.7 AS DOUBLE) * rel AS mmr_score
          FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
        $steps
        SELECT step, vec_id, rel, mmr_score FROM selu5"""
  }

  /** Shared DuckDB CTE chain for q84's fixed-depth-3 centroid tree
    * (terminal CTE `c` = (label, i, vsum, n)) — spliced into the q84
    * and q120 oracles so both replay the identical reduction tree.
    */
  // lazy: referenced from `all`'s initializer above — a strict val here
  // would still be null at that point (object-body init order)
  private lazy val centroidSqlCtes = """el AS (
          SELECT CAST(label AS BIGINT) AS label, vec_id,
            CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
            CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        s1 AS (
          SELECT label, i, vec_id // 64 AS seg,
            sum(x ORDER BY vec_id) AS ssum,
            CAST(count(*) AS BIGINT) AS n1
          FROM el GROUP BY label, i, seg),
        s2 AS (
          SELECT label, i, seg // 64 AS blk,
            sum(ssum ORDER BY seg) AS bsum,
            CAST(sum(n1) AS BIGINT) AS n2
          FROM s1 GROUP BY label, i, blk),
        c AS (
          SELECT label, i,
            sum(bsum ORDER BY blk) AS vsum,
            CAST(sum(n2) AS BIGINT) AS n
          FROM s2 GROUP BY label, i)"""

  /** k-NN graph engine behind q130: input (vec_id, embedding, label);
    * output (vec_id, nbr, sim, rk) — each vector's k nearest IN-CELL
    * neighbors by exact cosine under the strict (sim desc, nbr asc)
    * order, ranked 1..k. The quadratic directed pair stream goes
    * through the bounded [[graft.functions.TopKSimAgg]] (never a
    * window sort); KnnGraphSpec pins bit-equality with a sequential
    * JVM replica, and the q130 oracle pins it against the window
    * formulation in DuckDB.
    */
  private[graft] def knnGraph(emb: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    graft.functions.CosineSim.register(s)
    val edges = emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        expr("cosine_sim(a.embedding, b.embedding)").as("sim"))
    val topk = udaf(new graft.functions.TopKSimAgg(k),
      org.apache.spark.sql.Encoders.product[(Long, Double)])
    edges.groupBy($"v1").agg(topk($"v2", $"sim").as("tk"))
      .select($"v1".as("vec_id"), posexplode($"tk"))
      .select($"vec_id", $"col._2".as("nbr"), $"col._1".as("sim"),
        ($"pos" + 1).cast("long").as("rk"))
  }

  /** Centroid engine behind q84 (and q120's model): input
    * (vec_id, embedding, label); output (label, i, n, centroid) via
    * the fixed-depth-3 reproducible sum tree documented on q84.
    */
  private[graft] def labelCentroids(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val el = emb
      .select($"label".cast("long").as("label"), $"vec_id", posexplode($"embedding"))
      .select($"label", $"vec_id", $"pos".cast("long").as("i"),
        $"col".cast("double").as("x"))
    val seg1 = el
      .groupBy($"label", $"i", expr("vec_id div 64").as("seg"))
      .agg(
        sort_array(collect_list(struct($"vec_id", $"x"))).as("xs"),
        count(lit(1)).as("n1"))
      .withColumn("ssum", expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.x)"))
    val seg2 = seg1
      .groupBy($"label", $"i", expr("seg div 64").as("blk"))
      .agg(
        sort_array(collect_list(struct($"seg", $"ssum"))).as("ss"),
        sum($"n1").cast("long").as("n2"))
      .withColumn("bsum", expr("aggregate(ss, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ssum)"))
    seg2
      .groupBy($"label", $"i")
      .agg(
        sort_array(collect_list(struct($"blk", $"bsum"))).as("bs"),
        sum($"n2").cast("long").as("n"))
      .withColumn("vsum", expr("aggregate(bs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.bsum)"))
      .select($"label", $"i", $"n", ($"vsum" / $"n".cast("double")).as("centroid"))
  }

  /** Pruning engine behind q120. Input: (vec_id, embedding, label);
    * output (vec_id, label, sim, rk, pruned) where sim = cosine to the
    * label's q84 centroid and pruned = 1 for the ceil(n/4) most
    * prototypical vectors of each label. Centroid arrays assemble in
    * index order and broadcast; the cosine folds in index order
    * in-row (bit-identical to the oracle's ordered sums). The
    * per-label rank is ops.GlobalRank.withGroupRank, NOT a `partition
    * by label` window: labels are FEW, so each window stripe is
    * corpus-proportional — the grouped rank's range partitions stay
    * corpus/numPartitions-sized under any label skew, and the
    * per-label count is a broadcast |labels|-row join.
    */
  private[graft] def protoPrune(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cvec = labelCentroids(emb)
      .groupBy($"label")
      .agg(sort_array(collect_list(struct($"i", $"centroid"))).as("cs"))
      .select($"label", expr("transform(cs, e -> e.centroid)").as("cvec"))
    val scored = emb.select($"vec_id", $"label".cast("long").as("label"), $"embedding")
      .join(broadcast(cvec), "label")
      .select($"vec_id", $"label",
        (expr("aggregate(zip_with(embedding, cvec, (x, c) -> CAST(x AS DOUBLE) * c), CAST(0.0 AS DOUBLE), (a, e) -> a + e)") /
          (sqrt(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")) *
            sqrt(expr("aggregate(cvec, CAST(0.0 AS DOUBLE), (a, c) -> a + c * c)")))).as("sim"))
    val ranked = graft.ops.GlobalRank.withGroupRank(
      scored, Seq("label"), Seq($"sim".desc, $"vec_id".asc), "rk",
      s.sparkContext.defaultParallelism)
    val nPer = ranked.groupBy($"label").agg(count(lit(1)).cast("long").as("n"))
    ranked.join(broadcast(nPer), "label")
      .select($"vec_id", $"label", $"sim", $"rk",
        ($"rk" <= expr("(n + 3) div 4")).cast("long").as("pruned"))
  }
}
