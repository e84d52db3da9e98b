package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.functions._

/** Data-selection and ranking operators — the passes that decide WHICH
  * documents (and embeddings) a training run keeps, ordered roughly as
  * a curation pipeline would run them: semantic dedup pruning (q92),
  * target-distribution importance weighting (q93), n-gram novelty
  * scoring (q94), retrieval scoring (q95), graph-based keyword
  * ranking (q96), tokenizer training (q97), and the table-profiling
  * pass that sanity-checks a new data drop (q98).
  *
  * Determinism ([[graft.Sql]] rules, same discipline as [[Mining]]):
  * no `ln()` anywhere (not cross-engine bit-stable — the q88
  * precedent); every ratio is ONE division of exactly-representable
  * operands (integer counts and products < 2^53, or sums that are
  * themselves ordered folds); every double SUM is an ordered fold
  * mirrored by DuckDB `sum(x ORDER BY k)`; max over bit-stable doubles
  * is order-independent and therefore safe unordered.
  */
object Selection {

  /** BM25 query terms (fixed, from the corpus vocabulary). */
  private val bm25Terms = Seq("spark", "window", "table")

  /** BM25 per-document scores for [[bm25Terms]] — the (doc_id, dl,
    * n_qterms, score) frame q95 reports directly and q115 consumes as
    * its lexical retrieval leg. Scale shape (q95's): df and avgdl are
    * term-count/2-scalar aggregates of the (doc, word) frame (map-side
    * combined); scoring joins the |terms|-row idf frame and the
    * 2-scalar stats frame broadcast, so after the one (doc_id, w)
    * shuffle everything is scan-local.
    */
  private def bm25Scores(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // the (doc, word, tf) frame feeds both the length stats and the
    // query-term scoring — materialize once (q88 discipline)
    val wc = Checkpoints.local(Llm.docsSpread(s, dir)
      .select($"doc_id", explode(expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).cast("long").as("tf")))
    val dl = wc.groupBy($"doc_id").agg(sum($"tf").cast("long").as("dl"))
    val stats = dl.agg(
      sum($"dl").cast("long").as("sum_dl"),
      count(lit(1)).cast("long").as("nd"))
    val qt = wc.filter($"w".isin(bm25Terms: _*))
    val df = qt.groupBy($"w").agg(count(lit(1)).cast("long").as("df"))
    qt.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"w", $"dl",
        (($"tf".cast("double") * lit(2.2)) /
          ($"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
            ($"dl".cast("double") / ($"sum_dl".cast("double") / $"nd".cast("double"))))) *
          (($"nd".cast("double") - $"df".cast("double") + lit(0.5)) /
            ($"df".cast("double") + lit(0.5)))).as("ts"))
      .groupBy($"doc_id")
      .agg(
        max($"dl").as("dl"),
        count(lit(1)).cast("long").as("n_qterms"),
        sort_array(collect_list(struct($"w", $"ts"))).as("xs"))
      .select($"doc_id", $"dl", $"n_qterms",
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ts)").as("score"))
  }

  /** DuckDB CTE chain producing the same frame as [[bm25Scores]]
    * (terminal CTE `bm25`) — spliced into the q95 and q115 oracles.
    */
  private val bm25SqlCtes = s"""w AS (
          SELECT doc_id,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS w
          FROM documents),
        wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, w),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM wc GROUP BY doc_id),
        stats AS (
          SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, CAST(count(*) AS BIGINT) AS nd FROM dl),
        qt AS (SELECT * FROM wc WHERE w IN (${bm25Terms.map("'" + _ + "'").mkString(",")})),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM qt GROUP BY w),
        ts AS (
          SELECT doc_id, w, dl,
            (CAST(tf AS DOUBLE) * 2.2) /
              (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(nd AS DOUBLE))))) *
              ((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
                (CAST(df AS DOUBLE) + 0.5)) AS ts
          FROM qt JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
        bm25 AS (
          SELECT doc_id, max(dl) AS dl,
            CAST(count(*) AS BIGINT) AS n_qterms,
            sum(ts ORDER BY w) AS score
          FROM ts GROUP BY doc_id)"""

  /** q106's frozen merge ladder (the shipped-tokenizer artifact),
    * applied in order; later merges build on earlier ones ('t'+'h' →
    * 'th', then 'th'+'e' → 'the'). Every merge RESULT must fit the
    * 3-char fixed-width symbol encoding below.
    */
  private[queries] val bpeMerges = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "r", "s" -> "t")

  /** Fixed-width symbol id: '|' + the symbol right-padded to 3 with
    * '_' (symbols are [a-z ]+ here, so '_' cannot collide). Fixed
    * width is what makes a plain replace() chain EXACT BPE apply: '|'
    * occurs only at symbol starts and every symbol occupies exactly 4
    * chars, so a two-symbol pattern can only match two WHOLE adjacent
    * symbols (no prefix/suffix aliasing with longer symbols — the
    * '|s|t'-inside-'|s|th' hazard of delimiter-only encodings), the
    * pattern carries no trailing context so adjacent merges chain in
    * one pass, and replace()'s left-to-right non-overlapping scan IS
    * BPE's greedy pairing (BpeSpec pins all of this against a
    * symbol-list reference).
    */
  private[queries] def bpeSym(s: String): String = {
    require(s.length <= 3, s"symbol '$s' exceeds the fixed width")
    "|" + s.padTo(3, '_')
  }

  /** The replace() chain applying [[bpeMerges]] over `e` — shared
    * verbatim by the Spark plan and the DuckDB oracle.
    */
  private[queries] def bpeApplySql(e: String): String =
    bpeMerges.foldLeft(e) { case (acc, (a, b)) =>
      s"replace($acc, '${bpeSym(a)}${bpeSym(b)}', '${bpeSym(a + b)}')"
    }

  /** Portable 60-bit hash: both engines read the first 15 hex chars of
    * md5 as an integer (the q86 idiom) — Spark side.
    */
  private[graft] def h60(col: String): String =
    s"CAST(conv(substr(md5($col), 1, 15), 16, 10) AS BIGINT)"

  /** Same 60-bit md5 hash, DuckDB side. */
  private[queries] def h60Sql(col: String): String =
    s"CAST(CAST(concat('0x', substr(md5($col), 1, 15)) AS UBIGINT) AS BIGINT)"

  // ------------------------------------------------------------- q101
  // Frozen literal PQ model: m = 4 subspaces × 16 dims, kSub = 4
  // centroids per subspace, each centroid CONSTANT across its 16 dims
  // (value annMu(s)(c)) — so a subvector's distance to centroid c
  // reduces to 16·μ² − 2·μ·Σx + Σx², and the Σx² term cancels in the
  // argmin. The query vector is constant ν(s) per subspace. Every
  // constant below is computed ONCE in Scala and spliced into BOTH
  // engines' texts as decimal literals (Double.toString round-trips
  // exactly), so both evaluate the identical IEEE op tree.
  private val annMu: Array[Array[Double]] = Array(
    Array(-0.06, -0.02, 0.02, 0.06),
    Array(-0.05, -0.015, 0.015, 0.05),
    Array(-0.04, -0.01, 0.02, 0.05),
    Array(-0.06, -0.015, 0.01, 0.04))
  private val annNu: Array[Double] = Array(0.1, -0.08, 0.05, -0.03)

  /** A Scala double as an engine-portable DOUBLE literal. Bare decimal
    * literals parse as DECIMAL in BOTH engines and exact-decimal
    * arithmetic rounds differently from the double-by-double IEEE
    * chain — a 1-ulp mismatch that fails the hash compare.
    */
  private def dlit(x: Double): String = s"CAST($x AS DOUBLE)"

  /** Distance of subspace s's sum-column to centroid c, minus the
    * code-independent Σx² term: `16μ² − 2μ·s{s}` — identical text for
    * both engines.
    */
  private def annD(s: Int, c: Int): String =
    s"((${dlit(16.0 * annMu(s)(c) * annMu(s)(c))}) - ((${dlit(2.0 * annMu(s)(c))}) * s$s))"

  /** Lowest-index argmin over the 4 centroid distances of subspace s. */
  private def annCode(s: Int): String = {
    val d = (0 to 3).map(annD(s, _))
    s"""CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} AND ${d(0)} <= ${d(3)} THEN 0
             WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1
             WHEN ${d(2)} <= ${d(3)} THEN 2
             ELSE 3 END AS code$s"""
  }

  /** ADC lookup: dt[s][c] = 16·(ν_s − μ_{s,c})², spliced as literals. */
  private def annAdc: String = (0 to 3).map { s =>
    val dt = (0 to 3).map(c =>
      dlit(16.0 * (annNu(s) - annMu(s)(c)) * (annNu(s) - annMu(s)(c))))
    s"(CASE code$s WHEN 0 THEN ${dt(0)} WHEN 1 THEN ${dt(1)} WHEN 2 THEN ${dt(2)} ELSE ${dt(3)} END)"
  }.mkString(" + ")

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q92
    // SemDeDup — semantic dedup by cluster-then-prune (Abbas et al.
    // 2023, "SemDeDup: Data-efficient learning at web-scale through
    // semantic deduplication"): assign each embedding to a coarse
    // cluster, compare pairs ONLY within a cluster, and greedily drop
    // any vector whose cosine to a LOWER-id cluster-mate reaches the
    // threshold — the deterministic keep-one-representative rule.
    // Clusters here are the 4 sign bits of the leading dimensions
    // (SQL-expressible, so the whole decision is oracle-checked); the
    // production path plugs [[graft.ops.IvfIndex]] k-means cells into
    // the same pair/prune tail. τ = 0.3 sits at the p99 of the
    // within-cluster cosine distribution of the synthetic corpus
    // (which has no true near-dups — real corpora use ~0.95+).
    //
    // Scale shape: the q24/LSH family — [[graft.ops.SemDedup.prune]]
    // generates pairs by a hash-equi self-join on the cluster id,
    // never all-pairs, and the per-vector verdict is one max-agg +
    // vec_id-keyed left join back (native codegen'd CosineSim). The
    // production path is `SemDedup.pruneIvf` — the same tail under
    // IvfIndex k-means cells with the hot-cell sub-quantizer split
    // (SemDedupSpec pins both against a local greedy replica).
    Q(
      "q92_semdedup",
      (s, dir) => {
        import s.implicits._
        val assigned = table(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
          .withColumn("cell", expr(
            """CAST(element_at(embedding, 1) > 0 AS INT)
               + 2 * CAST(element_at(embedding, 2) > 0 AS INT)
               + 4 * CAST(element_at(embedding, 3) > 0 AS INT)
               + 8 * CAST(element_at(embedding, 4) > 0 AS INT)""").cast("long"))
          .select($"cell", $"vec_id", $"embedding")
        graft.ops.SemDedup.prune(assigned, tau = 0.3)
          .withColumnRenamed("cell", "cid")
          .select($"vec_id", $"cid", $"max_lower_sim", $"keep")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, embedding,
            CAST(CAST(embedding[1] > 0 AS INT)
              + 2 * CAST(embedding[2] > 0 AS INT)
              + 4 * CAST(embedding[3] > 0 AS INT)
              + 8 * CAST(embedding[4] > 0 AS INT) AS BIGINT) AS cid
          FROM embeddings),
        pr AS (
          SELECT a.vec_id AS u, b.vec_id AS v, a.embedding AS ea, b.embedding AS eb
          FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        el AS (
          SELECT u, v, unnest(ea) x, unnest(eb) y, generate_subscripts(ea, 1) i
          FROM pr),
        d AS (
          SELECT v,
            sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) ORDER BY i) AS dot,
            sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) ORDER BY i) AS na,
            sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) ORDER BY i) AS nb
          FROM el GROUP BY u, v),
        w AS (SELECT v, max(dot / (sqrt(na) * sqrt(nb))) AS msim FROM d GROUP BY v)
        SELECT vec_id, cid,
          coalesce(msim, -1.0) AS max_lower_sim,
          CAST(coalesce(msim, -1.0) < 0.3 AS BIGINT) AS keep
        FROM e LEFT JOIN w ON e.vec_id = w.v""")),

    // ---------------------------------------------------------------- q93
    // DSIR importance weighting (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): hashed-unigram
    // bag-of-words LMs for the TARGET distribution (here the `en`
    // slice) and the RAW pool (the whole corpus), each add-1 smoothed
    // over B = 64 buckets; every document scores by its per-token
    // target/source probability ratio. Divergence from the paper,
    // documented: the per-doc statistic is the MEAN ratio, not the sum
    // of log-ratios — `ln` is not cross-engine bit-stable (the q88
    // rule). Each smoothing factor is cast to DOUBLE BEFORE the
    // multiply (BIGINT→DOUBLE is correctly rounded, then ONE rounded
    // multiply, then ONE division — the identical IEEE tree on both
    // engines at ANY corpus size). An exact-BIGINT product would be
    // bit-cheaper but silently wraps past 2^63 (Spark non-ANSI) while
    // DuckDB raises — a 10^13-token corpus crosses it; the double form
    // has no size contract.
    // Selection is the ratio-threshold form (avg_r > 1 ⇔ more
    // target-like than pool-average); a fixed-quota top-N composes
    // with q83's GlobalRank at scale.
    //
    // Scale shape: both LMs are B-row frames (buckets, not vocab) —
    // broadcast onto the token stream, which is scored map-side and
    // reduced per document with the bounded ordered fold (≤ |doc
    // words| structs, the q88 contract). Nothing wider than (doc_id,
    // pos, bucket) ever shuffles.
    Q(
      "q93_dsir_weight",
      (s, dir) => {
        import s.implicits._
        // the token stream feeds three consumers (target LM, source LM,
        // and the scoring join) — materialize it once (q88 discipline)
        val toks = Checkpoints.local(Llm.docsSpread(s, dir)
          .select($"doc_id", $"lang", posexplode(expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")))
          .select($"doc_id", $"lang", ($"pos" + 1).cast("long").as("pos"),
            (expr(h60("col")) % 64).as("bh")))
        val tgt = toks.filter($"lang" === "en")
          .groupBy($"bh").agg(count(lit(1)).cast("long").as("ct"))
        val src = toks.groupBy($"bh").agg(count(lit(1)).cast("long").as("cs"))
        // token totals: exact integer sums over the B-row LM frames
        // (order-free), never a second pass over the stream
        val nt = tgt.agg(sum($"ct").cast("long").as("n_t"))
        val ns = src.agg(sum($"cs").cast("long").as("n_s"))
        val lm = src.join(tgt, Seq("bh"), "left")
          .crossJoin(broadcast(nt)).crossJoin(broadcast(ns))
          .select($"bh",
            (((coalesce($"ct", lit(0L)) + lit(1L)).cast("double") *
              ($"n_s" + lit(64L)).cast("double")) /
              (($"cs" + lit(1L)).cast("double") *
                ($"n_t" + lit(64L)).cast("double"))).as("r"))
        toks.join(broadcast(lm), "bh")
          .groupBy($"doc_id")
          .agg(
            sort_array(collect_list(struct($"pos", $"r"))).as("rs"),
            count(lit(1)).cast("long").as("n_tokens"))
          .select($"doc_id", $"n_tokens",
            (expr("aggregate(rs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.r)") /
              $"n_tokens".cast("double")).as("avg_r"))
          .withColumn("sel", ($"avg_r" > 1.0).cast("long"))
      },
      Some(s"""
        WITH ws AS (
          SELECT doc_id, lang,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS ws
          FROM documents),
        tp AS (
          SELECT doc_id, lang, ws, unnest(generate_series(1, len(ws))) AS pos
          FROM ws WHERE len(ws) >= 1),
        toks AS (
          SELECT doc_id, lang, CAST(pos AS BIGINT) AS pos,
            ${h60Sql("ws[pos]")} % 64 AS bh
          FROM tp),
        tgt AS (SELECT bh, CAST(count(*) AS BIGINT) AS ct FROM toks WHERE lang = 'en' GROUP BY bh),
        src AS (SELECT bh, CAST(count(*) AS BIGINT) AS cs FROM toks GROUP BY bh),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n_t FROM toks WHERE lang = 'en'),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS n_s FROM toks),
        lm AS (
          SELECT bh,
            (CAST(coalesce(ct, 0) + 1 AS DOUBLE) * CAST(n_s + 64 AS DOUBLE)) /
              (CAST(cs + 1 AS DOUBLE) * CAST(n_t + 64 AS DOUBLE)) AS r
          FROM src LEFT JOIN tgt USING (bh) CROSS JOIN nt CROSS JOIN ns),
        sc AS (SELECT doc_id, pos, r FROM toks JOIN lm USING (bh))
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_tokens,
          sum(r ORDER BY pos) / CAST(count(*) AS DOUBLE) AS avg_r,
          CAST((sum(r ORDER BY pos) / CAST(count(*) AS DOUBLE)) > 1.0 AS BIGINT) AS sel
        FROM sc GROUP BY doc_id""")),

    // ---------------------------------------------------------------- q94
    // N-gram novelty scoring — per document, how many of its distinct
    // bigrams appear in NO earlier document (corpus order = doc_id):
    // the "novel n-gram fraction" used to study memorization vs
    // generalization (McCoy et al. 2021, RAVEN) and as a curation
    // signal for redundancy across a corpus. A bigram's first owner is
    // min(doc_id) over the documents containing it.
    //
    // Scale shape: the q86 discipline for the data — bigrams hash to
    // 60-bit longs map-side, so the shuffles carry (doc_id, bh, cnt)
    // rows, never text — but the q88 discipline for reuse: the two
    // consumers (first-owner agg and join back) prune DIFFERENT
    // columns, so a shared exchange cannot canonicalize equal;
    // the per-(doc,bh) frame materializes once (Checkpoints.localByKey:
    // bh-partitioned, layout kept through the checkpoint, so both
    // consumers stay shuffle-local).
    Q(
      "q94_ngram_novelty",
      (s, dir) => {
        import s.implicits._
        val grams = Llm.docsSpread(s, dir)
          .select($"doc_id",
            expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("ws"))
          .filter(size($"ws") >= 2)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(ws)-1), i -> " +
              h60("concat(element_at(ws, i), ' ', element_at(ws, i+1))") + ")")).as("bh"))
          .groupBy($"doc_id", $"bh").agg(count(lit(1)).cast("long").as("cnt"))
        val bgc = Checkpoints.localByKey(
          grams, "bh", s.sparkContext.defaultParallelism)
        val first = bgc.groupBy($"bh").agg(min($"doc_id").as("first_doc"))
        bgc.join(first, "bh")
          .groupBy($"doc_id")
          .agg(
            sum($"cnt").cast("long").as("n_bigrams"),
            count(lit(1)).cast("long").as("n_types"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
              .cast("long").as("n_novel"))
          .withColumn("novel_frac", $"n_novel".cast("double") / $"n_types".cast("double"))
      },
      Some(s"""
        WITH ws AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS ws
          FROM documents),
        bgp AS (
          SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS pos
          FROM ws WHERE len(ws) >= 2),
        bg AS (
          SELECT doc_id, ${h60Sql("concat(ws[pos], ' ', ws[pos + 1])")} AS bh
          FROM bgp),
        bgc AS (SELECT doc_id, bh, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY doc_id, bh),
        f AS (SELECT bh, min(doc_id) AS first_doc FROM bgc GROUP BY bh)
        SELECT doc_id,
          CAST(sum(cnt) AS BIGINT) AS n_bigrams,
          CAST(count(*) AS BIGINT) AS n_types,
          CAST(coalesce(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_novel,
          CAST(coalesce(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END), 0) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS novel_frac
        FROM bgc JOIN f USING (bh) GROUP BY doc_id""")),

    // ---------------------------------------------------------------- q95
    // BM25 retrieval scoring (Robertson & Zaragoza 2009) of every
    // document against a fixed query-term set, k1 = 1.2, b = 0.75.
    // Divergence, documented: idf is the RAW Robertson ratio
    // (N − df + 0.5)/(df + 0.5) without the `ln` — per the q88 rule —
    // so per-term score ordering is preserved (ln is monotone) and
    // every factor stays bit-exact: N, df, tf, dl are exact BIGINTs,
    // n−df+0.5 and df+0.5 are exact, avgdl and dl/avgdl are single
    // divisions, and the k1/b pipeline is a fixed chain of single IEEE
    // ops evaluated in the same order by both engines. Per-doc score =
    // ordered fold over its matched terms.
    //
    // Scale shape: df and avgdl are term-count/2-scalar aggregates of
    // the (doc, word) frame (map-side combined); scoring joins the
    // |terms|-row idf frame and the 2-scalar stats frame broadcast, so
    // after the one (doc_id, w) shuffle everything is scan-local.
    Q(
      "q95_bm25",
      (s, dir) => bm25Scores(s, dir),
      Some(s"""
        WITH $bm25SqlCtes
        SELECT doc_id, dl, n_qterms, score FROM bm25""")),

    // ---------------------------------------------------------------- q96
    // TextRank keyword ranking (Mihalcea & Tarau 2004): weighted
    // PageRank (Brin & Page 1998; damping 0.85, 5 fixed rounds) over
    // the corpus word-adjacency graph — nodes are vocabulary words,
    // directed edge w1→w2 weighted by the corpus bigram count.
    // Dangling mass (nodes with no out-edges) redistributes uniformly
    // each round. Bit-stability: edge transition weights c/wout are
    // single divisions of exact BIGINTs; each round's in-sums and the
    // dangling sum are ordered folds (by source word / by word); the
    // update `0.15/n + 0.85*(insum + dsum/n)` is the same
    // left-to-right chain of single IEEE ops on both engines. The
    // oracle unrolls the 5 rounds as generated CTEs running identical
    // arithmetic.
    //
    // Scale shape: the heavy, corpus-sized work is the ONE bigram-
    // count aggregation (map-side combined, text never shuffles after
    // tokenization); the rank rounds then run on the vocab-sized edge
    // frame through [[graft.ops.PageRank]]'s two-tier `auto` — driver
    // arrays under the edge threshold (this corpus: 31 nodes), the
    // distributed join+ordered-fold loop above it — with BOTH tiers
    // evaluating the identical IEEE op sequence (PageRankSpec pins
    // bit-equality, and the oracle hash-checks whichever tier ran).
    Q(
      "q96_textrank",
      (s, dir) => {
        import s.implicits._
        val bg = Llm.docsSpread(s, dir)
          .select($"doc_id",
            expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("ws"))
          .filter(size($"ws") >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ws)-1), i -> " +
              "struct(element_at(ws, i) AS w1, element_at(ws, i+1) AS w2))")).as("e"))
          .select($"e.w1".as("w1"), $"e.w2".as("w2"))
        val edges = bg.groupBy($"w1", $"w2").agg(count(lit(1)).cast("long").as("c"))
        graft.ops.PageRank.run(edges, rounds = 5)
      },
      // The 5 rounds unroll ops.PageRank's fixed depth-3 reduction
      // tree as generated CTEs — one definition for every PageRank
      // consumer (q96 here, q223's link graph), see PageRank.sqlCtes.
      Some(s"""
        WITH ws AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS ws
          FROM documents),
        bgp AS (
          SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS pos
          FROM ws WHERE len(ws) >= 2),
        edges AS (
          SELECT ws[pos] AS w1, ws[pos + 1] AS w2, CAST(count(*) AS BIGINT) AS c
          FROM bgp GROUP BY 1, 2),
        ${graft.ops.PageRank.sqlCtes(5)}
        SELECT w, pr FROM r5""")),

    // ---------------------------------------------------------------- q97
    // BPE merge training (Sennrich et al. 2016; graft.ops.BpeTrain) —
    // 8 merge rounds over the corpus word-frequency dictionary.
    // Rows-only by design (each round's argmax feeds the next round's
    // rewrite — not expressible as one SQL statement); BpeSpec pins a
    // local greedy replica, run-over-run determinism, and that the
    // trained merges actually compress the training words. The
    // corpus-sized work is the one word-count agg; every round then
    // runs on the |vocab| frame (the q96 posture), through the same
    // two-tier `auto` as PageRank — driver arrays under the dictionary
    // threshold, the distributed agg+TakeOrdered+rewrite loop above
    // (BpeSpec pins tier equality).
    Q(
      "q97_bpe_merges",
      (s, dir) => {
        import s.implicits._
        val wf = Llm.docsSpread(s, dir)
          .select(explode(expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("w"))
          .groupBy($"w").agg(count(lit(1)).cast("long").as("f"))
          .as[(String, Long)]
        graft.ops.BpeTrain.train(wf, rounds = 8)
      },
      None),

    // --------------------------------------------------------------- q106
    // BPE tokenizer APPLY — the other half of q97: a production
    // pipeline trains merges once (a frozen tokenizer artifact) and
    // then applies them to every document at scan scale to measure
    // token counts (cost estimation, packing, length filtering). The
    // merge ladder here is a FIXED literal (exactly how a pretrained
    // tokenizer ships; q97's trained ladder stays rows-only by
    // design), applied in order with all-occurrences left-to-right
    // replacement — exact BPE apply via the fixed-width symbol
    // encoding documented on [[bpeSym]]. The rewrite is a per-row
    // codegen'd expression chain: the whole query is scan → project,
    // no shuffle at all, and the identical SQL string runs in DuckDB.
    Q(
      "q106_bpe_apply",
      (s, dir) => {
        import s.implicits._
        Llm.docsSpread(s, dir)
          .withColumn("__pre",
            expr("regexp_replace(lower(substring(text, 1, 64)), '[^a-z ]', '')"))
          .withColumn("__sym", expr("regexp_replace(__pre, '(.)', '|$1__')"))
          .withColumn("__tok", expr(bpeApplySql("__sym")))
          .select($"doc_id",
            expr("CAST(length(__pre) AS BIGINT)").as("n_chars"),
            expr("CAST(length(__tok) - length(replace(__tok, '|', '')) AS BIGINT)")
              .as("n_tokens"),
            expr("substring(replace(__tok, '_', ''), 1, 40)").as("tok_prefix"))
      },
      Some(s"""
        WITH sym AS (
          SELECT doc_id,
            regexp_replace(lower(substring(text, 1, 64)), '[^a-z ]', '', 'g') AS __pre,
            regexp_replace(regexp_replace(lower(substring(text, 1, 64)),
              '[^a-z ]', '', 'g'), '(.)', '|\\1__', 'g') AS __sym
          FROM documents)
        SELECT doc_id,
          CAST(length(__pre) AS BIGINT) AS n_chars,
          CAST(length(${bpeApplySql("__sym")})
            - length(replace(${bpeApplySql("__sym")}, '|', '')) AS BIGINT)
            AS n_tokens,
          substring(replace(${bpeApplySql("__sym")}, '_', ''), 1, 40) AS tok_prefix
        FROM sym""")),

    // ---------------------------------------------------------------- q98
    // Table profiling — the ANALYZE-style data-quality pass a pipeline
    // runs before trusting a new drop: per numeric column, row count,
    // null count, exact distinct count, min/max, and the exact-decimal
    // sum. ONE scan, ONE narrow shuffle: stack() unpivots (col, value)
    // pairs map-side (2-column rows — NOT the multi-countDistinct
    // Expand, whose per-expanded-row evaluation of every wide agg
    // buffer measured 4× slower), the (col, value) grouping combines
    // map-side to per-partition distinct values, and the per-column
    // rollup reads counts off that frame: n = Σcnt, distinct = group
    // count, sum = Σ value·cnt in exact decimal (a (18,4)×BIGINT
    // product is exact; the graft.Sql rule). Value grouping on raw
    // doubles: this corpus has no -0.0/NaN, the one double class
    // where engines' group-equality could differ.
    Q(
      "q98_table_profile",
      (s, dir) => {
        import s.implicits._
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val stackArgs = cols.map(c => s"'$c', $c").mkString(", ")
        val g = table(s, dir, "lineitem")
          .select(expr(s"stack(${cols.length}, $stackArgs) AS (col_name, v)"))
          .groupBy($"col_name", $"v").agg(count(lit(1)).cast("long").as("cnt"))
        g.groupBy($"col_name")
          .agg(
            sum($"cnt").cast("long").as("n"),
            coalesce(sum(when($"v".isNull, $"cnt")), lit(0L)).cast("long").as("n_null"),
            count(when($"v".isNotNull, lit(1))).cast("long").as("n_distinct"),
            out(min($"v")).as("min_v"),
            out(max($"v")).as("max_v"),
            out(sum(dec($"v") * $"cnt")).as("sum_v"))
      },
      Some {
        val branches = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(c => s"SELECT '$c' AS col_name, $c AS v FROM lineitem")
          .mkString(" UNION ALL ")
        s"""
        WITH x AS ($branches),
        g AS (
          SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt
          FROM x GROUP BY col_name, v)
        SELECT col_name,
          CAST(sum(cnt) AS BIGINT) AS n,
          CAST(coalesce(sum(cnt) FILTER (v IS NULL), 0) AS BIGINT) AS n_null,
          CAST(count(*) FILTER (v IS NOT NULL) AS BIGINT) AS n_distinct,
          CAST(min(v) AS DOUBLE) AS min_v,
          CAST(max(v) AS DOUBLE) AS max_v,
          CAST(sum(CAST(v AS DECIMAL(18,4)) * cnt) AS DOUBLE) AS sum_v
        FROM g GROUP BY col_name"""
      }),

    // ---------------------------------------------------------------- q99
    // IVF-PQ ANN (ops.IvfPq): the production billion-scale layout —
    // IVF cell pruning composed with PQ residual compression (Jégou
    // et al. 2011's IVFADC, the FAISS IVFx,PQy index). Completes the
    // similarity-search ladder: q25 exact → q33 sign-LSH → q52 IVF →
    // q89 PQ → q99 both levers at once. Rows-only by design (two
    // trained quantizers); IvfPqSpec checks recall@10 against the
    // exact q25 baseline and that the probed-cell filter reaches the
    // scan.
    Q(
      "q99_ann_ivfpq",
      (s, dir) => {
        import s.implicits._
        val e = table(s, dir, "embeddings")
        graft.ops.IvfPq.topK(
          s,
          e.select($"vec_id", $"embedding"),
          e.filter($"vec_id" < 5).select($"vec_id", $"embedding"),
          k = 10)
      },
      None),

    // --------------------------------------------------------------- q101
    // ANN probe algebra, ORACLE-CHECKED (closes the verdict's "probe
    // stages are SQL-expressible given a frozen model" item): the
    // exact pipeline q33/q52/q89/q99's saved-index probes execute —
    // encode (per-subspace argmin against a codebook), cell pruning
    // (the literal probed-cell IN-list a coarse quantizer emits),
    // ADC distance-table scoring over the codes, deterministic
    // (adc, vec_id) top-50 shortlist, exact-distance re-rank — but
    // against a FROZEN LITERAL model (constants above), so DuckDB
    // computes the identical doubles and the whole probe hash-matches.
    // The trained-model queries stay rows-only BY DESIGN (k-means/PQ
    // training is iterative argmin); this pins the untrained tail.
    //
    // Scale shape: at 100 TB the codes and cells come precomputed from
    // the PERSISTED index layout (partitionBy(cell) pruning — q99's
    // PersistedIndexSpec posture); here encode runs in the same scan
    // because the model is the query's own text. Per-vector work is
    // four 16-element ordered folds (scan-local, codegen'd
    // HigherOrderFunctions); the only ordering is the k-bounded
    // TakeOrdered top-50 and a 50-row re-rank window — nothing global.
    Q(
      "q101_ann_adc_probe",
      (s, dir) => {
        import s.implicits._
        val base = table(s, dir, "embeddings").selectExpr(
          Seq(
            "vec_id",
            """CAST(CAST(element_at(embedding, 1) > 0 AS INT)
               + 2 * CAST(element_at(embedding, 2) > 0 AS INT) AS BIGINT) AS cell""") ++
          (0 to 3).flatMap { sub =>
            val off = 16 * sub + 1
            Seq(
              s"aggregate(slice(embedding, $off, 16), CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) AS s$sub",
              s"aggregate(slice(embedding, $off, 16), CAST(0.0 AS DOUBLE), (a, x) -> a + (CAST(x AS DOUBLE) - (${dlit(annNu(sub))})) * (CAST(x AS DOUBLE) - (${dlit(annNu(sub))}))) AS e$sub")
          }: _*)
        val coded = base.selectExpr(
          Seq("vec_id", "cell", "e0", "e1", "e2", "e3") ++
            (0 to 3).map(annCode): _*)
        val probe = coded
          // nprobe = 2: the query's own cell (ν₁ > 0, ν₂ > 0 → 3) plus
          // its dim-2 sign-flip neighbor — the literal IN-list a coarse
          // quantizer hands the scan
          .filter($"cell".isin(1L, 3L))
          .selectExpr("vec_id", "cell", "code0", "code1", "code2", "code3",
            s"($annAdc) AS adc",
            "(((e0 + e1) + e2) + e3) AS exact")
          .orderBy($"adc", $"vec_id")
          .limit(50)
        probe.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy($"exact", $"vec_id")).cast("long"))
      },
      Some {
        val nuCase = "CASE CAST((i - 1) // 16 AS INT) " +
          (0 to 3).map(s => s"WHEN $s THEN (${dlit(annNu(s))})").mkString(" ") + " END"
        s"""
        WITH e AS (
          SELECT vec_id, embedding,
            CAST(CAST(embedding[1] > 0 AS INT)
              + 2 * CAST(embedding[2] > 0 AS INT) AS BIGINT) AS cell
          FROM embeddings),
        el AS (
          SELECT vec_id, cell, unnest(embedding) AS x,
            generate_subscripts(embedding, 1) AS i
          FROM e),
        sl AS (
          SELECT vec_id, cell, CAST((i - 1) // 16 AS INT) AS sub,
            sum(CAST(x AS DOUBLE) ORDER BY i) AS ssum,
            sum((CAST(x AS DOUBLE) - ($nuCase)) * (CAST(x AS DOUBLE) - ($nuCase)) ORDER BY i) AS esum
          FROM el GROUP BY 1, 2, 3),
        pv AS (
          SELECT vec_id, cell,
            ${(0 to 3).map(s => s"max(CASE WHEN sub = $s THEN ssum END) AS s$s").mkString(", ")},
            ${(0 to 3).map(s => s"max(CASE WHEN sub = $s THEN esum END) AS e$s").mkString(", ")}
          FROM sl GROUP BY 1, 2),
        coded AS (
          SELECT vec_id, cell, e0, e1, e2, e3,
            ${(0 to 3).map(annCode).mkString(", ")}
          FROM pv),
        probe AS (
          SELECT vec_id, cell, code0, code1, code2, code3,
            ($annAdc) AS adc,
            (((e0 + e1) + e2) + e3) AS exact
          FROM coded WHERE cell IN (1, 3)
          ORDER BY adc, vec_id LIMIT 50)
        SELECT vec_id, cell, code0, code1, code2, code3, adc, exact,
          CAST(row_number() OVER (ORDER BY exact, vec_id) AS BIGINT) AS rank
        FROM probe"""
      }),

    // --------------------------------------------------------------- q109
    // Hashed linear quality classifier (the fastText-style filter of
    // DCLM / CCNet / the LLaMA pipeline: a linear model over hashed
    // bag-of-words features scores every document, the margin gates
    // the corpus). The 'en' slice stands in for the reference corpus
    // (the q93 convention); training is one pass of per-bucket class
    // counts over B = 256 md5 feature buckets, the model is add-one-
    // smoothed bucket positivity in EXACT ppm integers — w_b =
    // ((cp_b + 1)·10⁶) div (c_b + 2) — and a document's margin is
    // Σ w_{b(tok)} − n_tok·prior_ppm, all BIGINT (no ln/exp: a
    // monotone transform of naive-Bayes evidence, cross-engine exact;
    // sigmoid calibration would be presentation only). score is the
    // margin's ONE exact division by n_tok; sel = margin > 0 is the
    // gate bit.
    //
    // Scale shape: ONE (bh) token shuffle trains the 256-row model
    // (map-side combined); the model broadcasts into the scoring join
    // so scoring runs at scan throughput — same posture as q93's LMs.
    // The ppm weights are BIGINT-safe to ~9·10¹² training tokens; past
    // that the ppm multiply moves to DECIMAL(38,0), nothing else
    // changes. Token stream materialized once for its three consumers
    // (q88/q93 discipline).
    Q(
      "q109_quality_classifier",
      (s, dir) => qualityClassifier(Llm.docsSpread(s, dir)),
      Some(s"""
        WITH ws AS (
          SELECT doc_id, lang,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        toks AS (
          SELECT doc_id, lang, ${h60Sql("tok")} % 256 AS bh FROM ws),
        counts AS (
          SELECT bh, CAST(count(*) AS BIGINT) AS c,
            CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp
          FROM toks GROUP BY bh),
        totals AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_all, CAST(sum(cp) AS BIGINT) AS n_pos
          FROM counts),
        lm AS (
          SELECT bh, (cp + 1) * 1000000 // (c + 2) AS w,
            (n_pos + 1) * 1000000 // (n_all + 2) AS prior
          FROM counts CROSS JOIN totals),
        sc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(w) AS BIGINT) AS sw, max(prior) AS prior
          FROM toks JOIN lm USING (bh) GROUP BY doc_id)
        SELECT doc_id, n_tokens,
          CAST(sw - n_tokens * prior AS BIGINT) AS margin,
          CAST(sw - n_tokens * prior AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS score,
          CAST(sw - n_tokens * prior > 0 AS BIGINT) AS sel
        FROM sc""")),

    // --------------------------------------------------------------- q113
    // Triangle counting with DEGREE-ORDERED orientation over the
    // corpus bigram graph (q96's graph; the clustering-coefficient /
    // community-structure primitive beside CC q45 and PageRank q96).
    // The naive wedge join explodes on hubs (a degree-d node emits
    // d² wedges); orienting every edge from its (degree, name)-smaller
    // endpoint bounds out-degree by O(√m) — Schank/Wagner's
    // node-iterator — so the wedge join is O(m^1.5) worst case and
    // each triangle is generated EXACTLY once (its vertices in
    // orientation order). Both the wedge pair and the closing edge
    // use the same total order, so the closing probe is one hash-equi
    // join, no direction disjunction.
    //
    // Scale shape: edges distinct once (one shuffle), degrees are one
    // count over 2m endpoint rows, the oriented frame materializes
    // once (localCheckpoint — three consumers: two wedge sides + the
    // closing probe), and the only non-linear work is the wedge join,
    // whose per-key fanout the orientation caps. No driver state.
    Q(
      "q113_triangle_count",
      (s, dir) => triangleCount(Llm.docsSpread(s, dir)),
      Some("""
        WITH lst AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS l
          FROM documents),
        toks AS (
          SELECT doc_id, unnest(l) AS tok,
            CAST(generate_subscripts(l, 1) AS BIGINT) AS idx
          FROM lst),
        bg AS (
          SELECT doc_id, tok AS w1,
            lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY idx ASC) AS w2
          FROM toks),
        edges AS (
          SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
          FROM bg WHERE w2 IS NOT NULL AND w1 <> w2),
        deg AS (
          SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
          GROUP BY v),
        dirE AS (
          SELECT
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN a ELSE b END AS src,
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN b ELSE a END AS dst,
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN db.deg ELSE da.deg END AS dd
          FROM edges
          JOIN deg da ON da.v = a
          JOIN deg db ON db.v = b),
        wedges AS (
          SELECT e1.dst AS x, e2.dst AS y
          FROM dirE e1 JOIN dirE e2 ON e1.src = e2.src
          WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
        tris AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM wedges w JOIN dirE e ON e.src = w.x AND e.dst = w.y)
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
          (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
          n_triangles
        FROM tris""")),

    // --------------------------------------------------------------- q115
    // HYBRID retrieval with reciprocal-rank fusion (Cormack et al.
    // 2009's RRF, the standard lexical+vector production shape): the
    // BM25 leg ranks documents for the fixed query terms (q95's exact
    // scores), the vector leg ranks the corpus by cosine against one
    // query embedding (q25's exact machinery), and the fused score is
    // Σ 1/(60 + rank) over the legs a document appears in (top-50
    // each), final top-20. Rank determinism: both legs order by a
    // bit-stable double (ordered-fold BM25 score / codegen'd
    // CosineSim ≡ the oracle's ordered sums) with doc_id tie-break,
    // and the RRF sum is two IEEE terms added in a fixed written
    // order — so ranks, fused scores, and the final order hash-match.
    //
    // Scale shape: each leg is a global top-k with BOUNDED k — Spark
    // plans orderBy+limit as TakeOrderedAndProject (per-partition
    // top-50 heaps, merge of 50-row partials; no global sort, no
    // single-partition window over the corpus). The rank windows and
    // the full-outer fusion join then run on ≤50-row frames. The legs
    // themselves keep their own scale shapes (q95's broadcast joins;
    // one broadcast query vector against the embedding scan).
    Q(
      "q115_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        graft.functions.CosineSim.register(s)
        val bm = bm25Scores(s, dir)
          .select($"doc_id", $"score")
          .orderBy($"score".desc, $"doc_id".asc).limit(50)
          .withColumn("br",
            row_number().over(Window.orderBy($"score".desc, $"doc_id".asc)).cast("long"))
          .select($"doc_id", $"br")
        val q0 = table(s, dir, "embeddings").filter($"vec_id" === 0L)
          .select($"embedding".as("ea"))
        val ann = table(s, dir, "embeddings").filter($"vec_id" =!= 0L)
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
          .select($"vec_id", $"embedding".as("eb"))
          .crossJoin(broadcast(q0))
          .select($"vec_id".as("doc_id"), expr("cosine_sim(ea, eb)").as("sim"))
          .orderBy($"sim".desc, $"doc_id".asc).limit(50)
          .withColumn("ar",
            row_number().over(Window.orderBy($"sim".desc, $"doc_id".asc)).cast("long"))
          .select($"doc_id", $"ar")
        bm.join(ann, Seq("doc_id"), "full_outer")
          .select($"doc_id", $"br".as("bm25_rank"), $"ar".as("ann_rank"),
            (coalesce(expr("CAST(1 AS DOUBLE) / (60 + br)"), lit(0.0)) +
              coalesce(expr("CAST(1 AS DOUBLE) / (60 + ar)"), lit(0.0))).as("rrf"))
          .orderBy($"rrf".desc, $"doc_id".asc).limit(20)
          .withColumn("rk",
            row_number().over(Window.orderBy($"rrf".desc, $"doc_id".asc)).cast("long"))
      },
      Some(s"""
        WITH $bm25SqlCtes,
        bmr AS (
          SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS br
          FROM bm25 QUALIFY br <= 50),
        q0 AS (SELECT embedding AS ea FROM embeddings WHERE vec_id = 0),
        el AS (
          SELECT e.vec_id, unnest(q0.ea) x, unnest(e.embedding) y,
            generate_subscripts(e.embedding, 1) i
          FROM embeddings e CROSS JOIN q0 WHERE e.vec_id <> 0),
        d AS (
          SELECT vec_id,
            sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) ORDER BY i) AS dot,
            sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) ORDER BY i) AS na,
            sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) ORDER BY i) AS nb
          FROM el GROUP BY vec_id),
        annr AS (
          SELECT vec_id AS doc_id,
            CAST(row_number() OVER (ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, vec_id) AS BIGINT) AS ar
          FROM d QUALIFY ar <= 50),
        f AS (
          SELECT coalesce(bmr.doc_id, annr.doc_id) AS doc_id, br, ar,
            coalesce(CAST(1 AS DOUBLE) / (60 + br), CAST(0 AS DOUBLE)) +
            coalesce(CAST(1 AS DOUBLE) / (60 + ar), CAST(0 AS DOUBLE)) AS rrf
          FROM bmr FULL OUTER JOIN annr ON bmr.doc_id = annr.doc_id)
        SELECT doc_id, br AS bm25_rank, ar AS ann_rank, rrf,
          CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
        FROM f QUALIFY rk <= 20""")),

    // --------------------------------------------------------------- q117
    // Margin-based bitext mining (Artetxe & Schwenk 2019, the
    // LASER/CCMatrix parallel-corpus miner — the op that produces
    // translation training pairs): for every source-side embedding,
    // the best target-side match by the RATIO MARGIN — cos(x,y)
    // normalized by the mean of both sides' k-NN similarity
    // neighborhoods — which suppresses hubs that plain cosine top-1
    // mining mismatches. Here the two "languages" are the label-parity
    // halves of the embeddings table; candidates are blocked by the
    // q92 sign-bucket cells (deterministic, oracle-replayable — the
    // same blocked-approximation discipline as q22/q92), so the pair
    // space is per-cell src×tgt hash-equi joins, never a cartesian.
    // k-NN averages use k = 4 within the block, as a FIXED-ORDER
    // coalesce chain over the rank-pivoted sims (no unordered double
    // sum), so margins are bit-identical in both engines.
    //
    // Scale shape: blocking bounds candidates per vector; the
    // production path swaps sign-cells for IvfPq.topKFromSaved
    // candidate lists (pruned probes against the persisted layout) —
    // the margin algebra downstream is unchanged. Two windows
    // partition by src/tgt vector over candidate-sized groups.
    Q(
      "q117_bitext_margin",
      (s, dir) => {
        import s.implicits._
        val e = table(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
          .withColumn("cell", expr(
            """CAST(element_at(embedding, 1) > 0 AS INT)
               + 2 * CAST(element_at(embedding, 2) > 0 AS INT)
               + 4 * CAST(element_at(embedding, 3) > 0 AS INT)""").cast("long"))
        bitextMargin(
          e.filter($"label" % 2 === 0)
            .select($"cell", $"vec_id".as("u"), $"embedding".as("ea")),
          e.filter($"label" % 2 === 1)
            .select($"cell", $"vec_id".as("v"), $"embedding".as("eb")))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, embedding,
            CAST(CAST(embedding[1] > 0 AS INT)
              + 2 * CAST(embedding[2] > 0 AS INT)
              + 4 * CAST(embedding[3] > 0 AS INT) AS BIGINT) AS cell
          FROM embeddings),
        pr AS (
          SELECT a.vec_id u, b.vec_id v, a.embedding ea, b.embedding eb
          FROM e a JOIN e b ON a.cell = b.cell
          WHERE a.label % 2 = 0 AND b.label % 2 = 1),
        el AS (
          SELECT u, v, unnest(ea) x, unnest(eb) y, generate_subscripts(ea, 1) i
          FROM pr),
        d AS MATERIALIZED (
          SELECT u, v,
            sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) ORDER BY i) AS dot,
            sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) ORDER BY i) AS na,
            sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) ORDER BY i) AS nb
          FROM el GROUP BY u, v),
        -- r feeds au, av AND m: MATERIALIZED, or DuckDB re-inlines the
        -- whole 8M-row unnest chain three times and exhausts memory
        r AS MATERIALIZED (
          SELECT u, v, dot/(sqrt(na)*sqrt(nb)) AS sim,
            row_number() OVER (PARTITION BY u ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, v) AS ru,
            row_number() OVER (PARTITION BY v ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, u) AS rv
          FROM d),
        au AS (
          SELECT u,
            (coalesce(max(CASE WHEN ru = 1 THEN sim END), CAST(0 AS DOUBLE))
             + coalesce(max(CASE WHEN ru = 2 THEN sim END), CAST(0 AS DOUBLE))
             + coalesce(max(CASE WHEN ru = 3 THEN sim END), CAST(0 AS DOUBLE))
             + coalesce(max(CASE WHEN ru = 4 THEN sim END), CAST(0 AS DOUBLE)))
            / count(*) AS avgu
          FROM r WHERE ru <= 4 GROUP BY u),
        av AS (
          SELECT v,
            (coalesce(max(CASE WHEN rv = 1 THEN sim END), CAST(0 AS DOUBLE))
             + coalesce(max(CASE WHEN rv = 2 THEN sim END), CAST(0 AS DOUBLE))
             + coalesce(max(CASE WHEN rv = 3 THEN sim END), CAST(0 AS DOUBLE))
             + coalesce(max(CASE WHEN rv = 4 THEN sim END), CAST(0 AS DOUBLE)))
            / count(*) AS avgv
          FROM r WHERE rv <= 4 GROUP BY v),
        m AS (
          SELECT r.u, r.v, r.sim,
            r.sim / ((au.avgu + av.avgv) / CAST(2 AS DOUBLE)) AS margin
          FROM r JOIN au ON r.u = au.u JOIN av ON r.v = av.v)
        SELECT u AS src_id, v AS tgt_id, sim, margin,
          CAST(margin > 1.0 AS BIGINT) AS sel
        FROM (SELECT *, row_number() OVER (PARTITION BY u ORDER BY margin DESC, v) AS rm
              FROM m)
        WHERE rm = 1""")),

    // --------------------------------------------------------------- q126
    // Label-propagation communities (Raghavan et al. 2007) over the
    // corpus bigram graph — the fourth graph primitive beside CC
    // (q45), PageRank (q96) and triangles (q113): 4 SYNCHRONOUS
    // rounds, every vertex adopting its neighbors' most frequent
    // label with ties to the smallest (min over struct(−count,
    // label) — one total order, so the notoriously order-dependent
    // LPA becomes bit-deterministic and oracle-replayable; the fixed
    // round count is operator definition, the q96 discipline). The
    // oracle unrolls the identical rounds as generated MATERIALIZED
    // CTEs. Scale shape: each round is one edge-sized hash join plus
    // a map-side-combinable (v, label) count — the Pregel round as
    // two exchanges; the symmetric edge list materializes once for
    // all rounds; no driver state, no windows.
    Q(
      "q126_label_prop",
      (s, dir) => labelProp(bigramEdges(Llm.docsSpread(s, dir)), 4),
      Some {
        val roundCtes = (1 to 4).map { r =>
          s"""n$r AS (
          SELECT e.v, l.lbl, CAST(count(*) AS BIGINT) AS c
          FROM e2 e JOIN l${r - 1} l ON l.v = e.u GROUP BY e.v, l.lbl),
        l$r AS MATERIALIZED (
          SELECT v, lbl FROM (
            SELECT v, lbl,
              row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
            FROM n$r) WHERE rn = 1)"""
        }.mkString(",\n        ")
        s"""
        WITH lst AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS l
          FROM documents),
        toks AS (
          SELECT doc_id, unnest(l) AS tok,
            CAST(generate_subscripts(l, 1) AS BIGINT) AS idx
          FROM lst),
        bg AS (
          SELECT doc_id, tok AS w1,
            lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY idx ASC) AS w2
          FROM toks),
        edges AS (
          SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
          FROM bg WHERE w2 IS NOT NULL AND w1 <> w2),
        e2 AS MATERIALIZED (
          SELECT a AS u, b AS v FROM edges
          UNION ALL SELECT b, a FROM edges),
        l0 AS (SELECT DISTINCT v, v AS lbl FROM e2),
        $roundCtes
        SELECT v, lbl FROM l4"""
      }),

    // --------------------------------------------------------------- q129
    // Index-served BM25 (ops.LexIndex) — the lexical inverted index
    // AT REST, the exact-search twin of the ANN layouts: the corpus
    // builds once into token-sorted posting rows plus one-row stats
    // children, and this query scores q95's fixed terms FROM THE
    // INDEX — term probe pruned by the pushed In(tok, …) filter, df
    // counted over the pruned rows (never stale under appends),
    // corpus scalars read from k tiny stats files. The oracle is
    // q95's SQL VERBATIM: the index changes the access path, not one
    // double of the answer (same exact integers, same fixed-order
    // per-document fold). Incremental drops append O(|batch|)
    // children (LexIndexSpec: increment ≡ rebuild bit-for-bit,
    // replayed drop no-op, pruned probe plan). Eager: the in-query
    // index build is the q107 demo pattern — a probe alone reads
    // only its terms' row groups.
    Q(
      "q129_lex_search",
      (s, dir) => {
        import s.implicits._
        // index built once per corpus content (StateCache); the timed
        // path is the SEARCH — the term-pruned scan a query engine
        // actually pays against the at-rest index
        val srcFp = graft.ops.Smb.sourceFingerprint(s, s"$dir/documents.parquet")
        val path = graft.ops.StateCache.ensure(s"q129_lex_$srcFp") { st =>
          graft.ops.LexIndex.save(
            Llm.docsSpread(s, dir).select($"doc_id", $"text"), st)
        }
        graft.ops.LexIndex.search(s, path, bm25Terms)
      },
      Some(s"""
        WITH $bm25SqlCtes
        SELECT doc_id, dl, n_qterms, score FROM bm25""")),

    // --------------------------------------------------------------- q128
    // Tokenizer fertility by language — the multilingual-fairness
    // metric (tokens per word under a FROZEN tokenizer; high-fertility
    // languages pay more compute per word and fit less context, the
    // XLM-R/NLLB reporting line): q106's exact BPE apply (the frozen
    // merge ladder as a codegen'd replace chain, shared bpeApplySql)
    // counts subword tokens per doc in the scan, whitespace words are
    // counted on the same normalized prefix domain, and one
    // |langs|-row aggregate yields fertility = Σtokens / Σwords as a
    // single division of exact BIGINTs. Wordless docs excluded
    // explicitly (no 0/0). Scan + one tiny map-side-combined agg.
    Q(
      "q128_tokenizer_fertility",
      (s, dir) => {
        import s.implicits._
        Llm.docsSpread(s, dir)
          .withColumn("__pre",
            expr("regexp_replace(lower(substring(text, 1, 64)), '[^a-z ]', '')"))
          .withColumn("__sym", expr("regexp_replace(__pre, '(.)', '|$1__')"))
          .withColumn("__tok", expr(bpeApplySql("__sym")))
          .select($"lang",
            expr("CAST(length(__tok) - length(replace(__tok, '|', '')) AS BIGINT)")
              .as("n_toks"),
            expr("CAST(size(filter(split(__pre, ' '), x -> x <> '')) AS BIGINT)")
              .as("n_words"))
          .filter($"n_words" >= 1L)
          .groupBy($"lang")
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum($"n_words").cast("long").as("n_words"),
            sum($"n_toks").cast("long").as("n_tokens"))
          .select($"lang", $"n_docs", $"n_words", $"n_tokens",
            ($"n_tokens".cast("double") / $"n_words".cast("double")).as("fertility"))
      },
      Some(s"""
        WITH sym AS (
          SELECT lang,
            regexp_replace(lower(substring(text, 1, 64)), '[^a-z ]', '', 'g') AS __pre,
            regexp_replace(regexp_replace(lower(substring(text, 1, 64)),
              '[^a-z ]', '', 'g'), '(.)', '|\\1__', 'g') AS __sym
          FROM documents),
        pd AS (
          SELECT lang,
            CAST(length(${bpeApplySql("__sym")})
              - length(replace(${bpeApplySql("__sym")}, '|', '')) AS BIGINT) AS n_toks,
            CAST(len(list_filter(regexp_split_to_array(__pre, ' '), x -> x <> '')) AS BIGINT) AS n_words
          FROM sym),
        ag AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_words) AS BIGINT) AS n_words,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens
          FROM pd WHERE n_words >= 1 GROUP BY lang)
        SELECT lang, n_docs, n_words, n_tokens,
          CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
        FROM ag""")),

    // --------------------------------------------------------------- q216
    // BYTE-level BPE merge training (ops.ByteBpe — the GPT-2 recipe,
    // Radford et al. 2019 §2.2): q97's two-tier greedy trainer run
    // over UTF-8 BYTE symbols instead of characters, the byte-fallback
    // family member that makes nothing out-of-vocabulary. Every
    // document contributes a ×10-weighted accented suffix alongside
    // its text, so multi-byte UTF-8 pairs (é = C3 A9, ß = C3 9F,
    // ñ = C3 B1) carry 10·n_docs frequency — above the top corpus
    // ASCII pairs — and the trained window PROVABLY fuses
    // byte-fallback pairs, not just ASCII (ByteBpeSpec pins a local
    // greedy replica, tier equality, and the byte round-trip).
    // Rows-only like q97: each round's argmax feeds the next round's
    // rewrite — not one SQL statement.
    //
    // Scale shape: identical to q97 — corpus-sized work is ONE
    // map-side-combined word-count aggregation; every merge round
    // runs on the |vocab| frame through the two-tier auto.
    Q(
      "q216_bytebpe_merges",
      (s, dir) => {
        import s.implicits._
        val wf = Llm.docsSpread(s, dir)
          .select(explode(expr(
            "filter(split(concat(lower(text), repeat(' café straße niño', 10)), '[^a-zéßñ]+'), x -> x <> '')")).as("w"))
          .groupBy($"w").agg(count(lit(1)).cast("long").as("f"))
          .as[(String, Long)]
        graft.ops.ByteBpe.train(wf, rounds = 16)
      },
      None),

    // --------------------------------------------------------------- q217
    // BYTE-level BPE fertility — q128's comparison row for the
    // byte-fallback tokenizer: the FROZEN ByteBpe.DemoLadder applies
    // at scan scale (mapPartitions — the ladder is a tiny closure
    // constant) over the same 64-char snippets plus an accented
    // suffix, so per-language fertility is directly comparable with
    // q128's char-BPE numbers and the byte-fallback cost of non-ASCII
    // text is visible (an unmerged multi-byte char counts one token
    // per BYTE). Rows-only: the ladder apply is the same iterative
    // rewrite as q212's DP — not one SQL statement; ByteBpeSpec pins
    // a driver-side replica on the real corpus.
    //
    // Scale shape: scan → per-row rewrite (zero exchanges until the
    // per-lang agg) — the q106 posture; fertility is ONE exact-count
    // division per lang.
    Q(
      "q217_bytebpe_fertility",
      (s, dir) => {
        import s.implicits._
        val ladder = graft.ops.ByteBpe.DemoLadder
        Llm.docsSpread(s, dir)
          .select($"lang", $"text").as[(String, String)]
          .mapPartitions { it =>
            it.map { case (lang, text) =>
              val snippet = text.substring(0, math.min(64, text.length))
                .toLowerCase + " café straße niño"
              val words = snippet.split("[^\\p{L}]+").filter(_.nonEmpty)
              val toks = words.map(w =>
                graft.ops.ByteBpe.segment(w, ladder).length.toLong).sum
              (lang, words.length.toLong, toks)
            }
          }
          .toDF("lang", "n_words", "n_toks")
          .groupBy($"lang")
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum($"n_words").cast("long").as("n_words"),
            sum($"n_toks").cast("long").as("n_tokens"))
          .select($"lang", $"n_docs", $"n_words", $"n_tokens",
            ($"n_tokens".cast("double") / $"n_words".cast("double")).as("fertility"))
      },
      None),

    // --------------------------------------------------------------- q131
    // CONTRASTIVE TRIPLET mining — the training-pair generator for a
    // dense retriever (DPR / E5 / Contriever recipe): for each anchor
    // document, a POSITIVE (its best verified near-duplicate, the
    // natural-paraphrase signal) and ranked HARD NEGATIVES — the
    // documents BM25 says are most lexically similar to the anchor
    // yet provably NOT duplicates of it (exact-fp and verified-LSH
    // exclusion). Lexically-close-but-distinct is exactly the
    // negative that teaches a bi-encoder more than a random one.
    //
    // Scale shape: anchors are a bounded deterministic sample
    // (doc_id % 25 = 7 — the training-pair budget, not a corpus
    // scan); candidate generation is an inverted-index join on each
    // anchor's 5 most DISCRIMINATIVE terms only (lowest df — the
    // impact-ordered pruning idea: the candidate stream is Σ df over
    // 5 terms per anchor, never |anchors|×|corpus|, and stopwords
    // lose to anything rarer); the anchor term table broadcasts; per-pair
    // scores fold in sorted term order (the q95 discipline — one
    // ordered double fold, ln-free rational idf); and per-anchor
    // top-3 runs through the bounded TopKSimAgg, never a window over
    // the candidate stream. The LSH pair frame is q21's, LSH-bounded.
    Q(
      "q131_contrastive_triplets",
      (s, dir) => contrastiveTriplets(Llm.docsSpread(s, dir)),
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        w AS (
          SELECT doc_id,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS w
          FROM documents),
        wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, w),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM wc GROUP BY doc_id),
        stats AS (
          SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, CAST(count(*) AS BIGINT) AS nd FROM dl),
        dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM wc GROUP BY w),
        aterms AS (
          SELECT anchor_id, w, df FROM (
            SELECT anchor_id, w, df, trk,
              sum(df) OVER (PARTITION BY anchor_id ORDER BY df, w) AS cum
            FROM (
              SELECT wc.doc_id AS anchor_id, wc.w, dfq.df,
                row_number() OVER (PARTITION BY wc.doc_id ORDER BY dfq.df, wc.w) AS trk
              FROM wc JOIN dfq USING (w) WHERE wc.doc_id % 25 = 7)
            WHERE trk <= 5)
          WHERE cum < ${AnchorDfBudget} OR trk = 1),
        ts AS (
          SELECT aterms.anchor_id, wc.doc_id, wc.w,
            (CAST(wc.tf AS DOUBLE) * 2.2) /
              (CAST(wc.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                (CAST(dl.dl AS DOUBLE) / (CAST(stats.sum_dl AS DOUBLE) / CAST(stats.nd AS DOUBLE))))) *
              ((CAST(stats.nd AS DOUBLE) - CAST(aterms.df AS DOUBLE) + 0.5) /
                (CAST(aterms.df AS DOUBLE) + 0.5)) AS ts
          FROM wc
          JOIN aterms ON wc.w = aterms.w AND wc.doc_id <> aterms.anchor_id
          JOIN dl ON dl.doc_id = wc.doc_id
          CROSS JOIN stats),
        sc AS (
          SELECT anchor_id, doc_id, sum(ts ORDER BY w) AS score
          FROM ts GROUP BY anchor_id, doc_id),
        fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
        nd2 AS (
          SELECT d1 AS anchor_id, d2 AS doc_id FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
        ex AS (
          SELECT sc.anchor_id, sc.doc_id, sc.score
          FROM sc
          JOIN fps cf ON cf.doc_id = sc.doc_id
          JOIN fps af ON af.doc_id = sc.anchor_id
          WHERE cf.fp <> af.fp
            AND NOT EXISTS (
              SELECT 1 FROM nd2
              WHERE nd2.anchor_id = sc.anchor_id AND nd2.doc_id = sc.doc_id)),
        rkd AS (
          SELECT anchor_id, doc_id, score,
            row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, doc_id) AS rk
          FROM ex),
        po AS (
          SELECT anchor_id, partner, jac,
            row_number() OVER (PARTITION BY anchor_id ORDER BY jac DESC, partner) AS prk
          FROM (
            SELECT d1 AS anchor_id, d2 AS partner, jac FROM pairs
            UNION ALL SELECT d2, d1, jac FROM pairs)
          WHERE anchor_id % 25 = 7)
        SELECT r.anchor_id, p.partner AS pos_id, p.jac AS pos_jac,
          r.doc_id AS neg_id, r.score AS neg_score, CAST(r.rk AS BIGINT) AS neg_rk
        FROM rkd r
        LEFT JOIN (SELECT * FROM po WHERE prk = 1) p ON p.anchor_id = r.anchor_id
        WHERE r.rk <= 3""")),

    // --------------------------------------------------------------- q135
    // Classifier CALIBRATION against the rule gate — q132's audit
    // idea applied to the quality stack: q109's hashed-linear
    // evidence, banded EXACTLY in integers
    // (band = (Σw·10) div (n_tok·prior) — all-positive BIGINTs, so
    // truncating division floors identically on both engines; band 10
    // is the sel cut), cross-tabulated against q87's Gopher rule
    // verdict. Each (band, gate) cell carries its document count and
    // how many the classifier selects — the table that says whether
    // the cheap learned filter AGREES with the expensive rule gate,
    // where its threshold actually sits, and which band to route to
    // human review before trusting it at corpus scale.
    //
    // Scale shape: both legs are scan-throughput passes the engine
    // already runs (one bh-shuffle + broadcast model; one word
    // shuffle), the join is doc-keyed, and the output is
    // |bands|×2-sized. Nothing new shuffles.
    Q(
      "q135_classifier_calibration",
      (s, dir) => classifierCalibration(Llm.docsSpread(s, dir)),
      Some(s"""
        WITH ws AS (
          SELECT doc_id, lang,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        toks AS (
          SELECT doc_id, lang, ${h60Sql("tok")} % 256 AS bh FROM ws),
        counts AS (
          SELECT bh, CAST(count(*) AS BIGINT) AS c,
            CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp
          FROM toks GROUP BY bh),
        totals AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_all, CAST(sum(cp) AS BIGINT) AS n_pos
          FROM counts),
        lm AS (
          SELECT bh, (cp + 1) * 1000000 // (c + 2) AS w,
            (n_pos + 1) * 1000000 // (n_all + 2) AS prior
          FROM counts CROSS JOIN totals),
        ev AS (
          SELECT doc_id,
            (CAST(sum(w) AS BIGINT) * 10) // (CAST(count(*) AS BIGINT) * max(prior)) AS band,
            CAST(CAST(sum(w) AS BIGINT) > CAST(count(*) AS BIGINT) * max(prior) AS BIGINT) AS sel
          FROM toks JOIN lm USING (bh) GROUP BY doc_id),
        ${graft.queries.Mining.gopherSqlCtes}
        SELECT ev.band, gop.pass AS gate_pass,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(ev.sel) AS BIGINT) AS n_sel
        FROM ev JOIN gop ON ev.doc_id = gop.doc_id
        GROUP BY ev.band, gop.pass"""))
  ,
    // --------------------------------------------------------------- q138
    // Held-out bigram-LM FIT — the perplexity-style in-domain score
    // beside q88's unigram LM and q93's DSIR ratio: an add-one-
    // smoothed bigram transition model trained on the corpus side
    // (doc_id % 10 < 8) scores each held-out document by its MEAN
    // transition probability Σ p(wᵢ|wᵢ₋₁)/n, p = (c(w₁w₂)+1)/(c(w₁·)+V).
    // Mean transition prob instead of log-perplexity DELIBERATELY:
    // it orders documents the same way per length class but uses no
    // transcendental (ln differs between engines in the last ulp —
    // the q78 ratio-idf precedent), so the score hash-matches. Each
    // p is one correctly-rounded double division of exact BIGINTs;
    // the per-doc sum folds in ascending position order on both
    // engines (the tvFold discipline); one final /n.
    //
    // Scale shape: the train side is tokenized ONCE (materialized;
    // both consumers — the bigram counts and the vocabulary count —
    // read the materialized arrays, never the text again); bigram
    // counts c2 map-side-combine to vocab²-bounded rows; c1 derives
    // from c2's OUTPUT; V is a 1-row broadcast.
    // The held-out side (a scoring batch — small by definition)
    // shuffle-joins c2/c1 on bigram/prefix keys (the vocab² table is
    // NOT broadcastable at corpus scale, q131's dfq reasoning) and
    // the ordered fold shuffles held-out rows doc-keyed. The train
    // stream is read once.
    Q(
      "q138_lm_fit",
      (s, dir) => {
        import s.implicits._
        def toksOf(df: org.apache.spark.sql.DataFrame) = df
          .select($"doc_id", expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("toks"))
        def bigrams(tk: org.apache.spark.sql.DataFrame) = tk
          .filter(size($"toks") >= 2)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(toks) - 1), i -> struct(i AS pos, toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
          .select($"doc_id", $"b.pos".cast("long").as("pos"), $"b.w1", $"b.w2")
        val docs = Llm.docsSpread(s, dir)
        // train side tokenized ONCE, materialized for its two
        // consumers (bigram counts AND the vocabulary count) — the
        // q21 localCheckpoint discipline; without this the scale
        // comment's "read once" would be false by a factor of two
        val trainToks = Checkpoints.local(toksOf(docs.filter($"doc_id" % 10 < 8)))
        val c2 = Checkpoints.local(bigrams(trainToks)
          .groupBy($"w1", $"w2").agg(count(lit(1)).cast("long").as("n2"))) // feeds c1 AND the scoring join
        val c1 = c2.groupBy($"w1").agg(sum($"n2").cast("long").as("n1"))
        val v = trainToks
          .select(explode($"toks").as("w"))
          .agg(countDistinct($"w").cast("long").as("v"))
        bigrams(toksOf(docs.filter($"doc_id" % 10 >= 8)))
          .join(c2, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .crossJoin(broadcast(v))
          .select($"doc_id", $"pos",
            ((coalesce($"n2", lit(0L)) + lit(1L)).cast("double") /
              (coalesce($"n1", lit(0L)) + $"v").cast("double")).as("p"))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).cast("long").as("n_bigrams"),
            sort_array(collect_list(struct($"pos", $"p"))).as("ps"))
          .select($"doc_id", $"n_bigrams",
            (expr("aggregate(ps, CAST(0.0 AS DOUBLE), (a, e) -> a + e.p)") /
              $"n_bigrams".cast("double")).as("fit"))
      },
      Some("""
        WITH toks AS (
          -- loud-failure bound guard (see q137's toks CTE)
          SELECT doc_id,
            CASE WHEN len(t0) > 1000
                 THEN error('oracle token bound 1000 exceeded — raise the series bound')
                 ELSE t0 END AS t
          FROM (SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t0
          FROM documents)),
        bg AS (
          SELECT doc_id, CAST(s.i AS BIGINT) AS pos, t[s.i] AS w1, t[s.i + 1] AS w2
          FROM toks CROSS JOIN generate_series(1, 1000) s(i)
          WHERE s.i <= len(t) - 1),
        c2 AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2
          FROM bg WHERE doc_id % 10 < 8 GROUP BY w1, w2),
        c1 AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
        v AS (
          SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 10 < 8)),
        ho AS (
          SELECT b.doc_id, b.pos,
            CAST(coalesce(c2.n2, 0) + 1 AS DOUBLE) /
              CAST(coalesce(c1.n1, 0) + v.v AS DOUBLE) AS p
          FROM bg b
          LEFT JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
          LEFT JOIN c1 ON c1.w1 = b.w1
          CROSS JOIN v
          WHERE b.doc_id % 10 >= 8)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          sum(p ORDER BY pos) / CAST(count(*) AS DOUBLE) AS fit
        FROM ho GROUP BY doc_id""")),

    // --------------------------------------------------------------- q171
    // CLASSIFIER LIFT / GAINS TABLE — the model-eval read behind "is
    // q109's classifier worth its threshold": docs ranked into deciles
    // by the classifier's INTEGER margin (deterministic total order —
    // margin desc, doc_id asc), scored against the INDEPENDENT Gopher
    // verdict (q135's calibration convention: flags consumed from
    // Mining.gopherRules, absent docs cannot pass). Per decile: docs,
    // gopher-passers, pass rate, lift vs the base rate (n_pass·N /
    // (n_docs·N_pass) — exact Long products, one division) and the
    // cumulative gains curve a selection budget reads directly.
    //
    // Scale shape: the classifier and the verdict are each one
    // token-hash scan (their own cost notes); the decile cut over
    // the |docs|-row margin frame is ops.GlobalRank + the
    // (rk−1)·10 div n integer algebra (q169's — no single-task
    // window at any |docs|), the decile agg is 10 rows, and the
    // cumulative window runs over those 10.
    Q(
      "q171_classifier_lift",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Llm.docsSpread(s, dir)
        val cls = qualityClassifier(docs).select($"doc_id", $"margin")
        val gq = Mining.gopherRules(docs).select($"doc_id", $"pass")
        // consumed by the decile frame AND the totals
        val j = Checkpoints.local(cls.join(gq, Seq("doc_id"), "left")
          .select($"doc_id", $"margin", coalesce($"pass", lit(0L)).as("p")))
        val t = j.agg(count(lit(1)).cast("long").as("n"),
          sum($"p").cast("long").as("np"))
        val d = graft.ops.GlobalRank.withRank(
            j, Seq($"margin".desc, $"doc_id".asc), "rk",
            s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(t))
          .withColumn("decile", expr("(rk - 1) * 10 div n + 1"))
          .select($"doc_id", $"p", $"decile")
        d.groupBy($"decile")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum($"p").cast("long").as("n_pass"))
          .crossJoin(broadcast(t))
          .withColumn("cum_pass", sum($"n_pass").over(
              Window.orderBy($"decile")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
          .select($"decile", $"n_docs", $"n_pass",
            ($"n_pass".cast("double") / $"n_docs").as("pass_rate"),
            (($"n_pass" * $"n").cast("double") / ($"n_docs" * $"np"))
              .as("lift"),
            ($"cum_pass".cast("double") / $"np").as("cum_gain"))
      },
      Some(s"""
        WITH ws AS (
          SELECT doc_id, lang,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        toks AS (
          SELECT doc_id, lang, ${h60Sql("tok")} % 256 AS bh FROM ws),
        counts AS (
          SELECT bh, CAST(count(*) AS BIGINT) AS c,
            CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp
          FROM toks GROUP BY bh),
        totals AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_all, CAST(sum(cp) AS BIGINT) AS n_pos
          FROM counts),
        lm AS (
          SELECT bh, (cp + 1) * 1000000 // (c + 2) AS w,
            (n_pos + 1) * 1000000 // (n_all + 2) AS prior
          FROM counts CROSS JOIN totals),
        sc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(w) AS BIGINT) AS sw, max(prior) AS prior
          FROM toks JOIN lm USING (bh) GROUP BY doc_id),
        ${Mining.gopherSqlCtes},
        j AS (
          SELECT sc.doc_id,
            CAST(sc.sw - sc.n_tokens * sc.prior AS BIGINT) AS margin,
            CAST(coalesce(gop.pass, 0) AS BIGINT) AS p
          FROM sc LEFT JOIN gop ON gop.doc_id = sc.doc_id),
        d AS (
          SELECT doc_id, margin, p,
            (CAST(row_number() OVER (ORDER BY margin DESC, doc_id ASC) AS BIGINT) - 1)
              * 10 // CAST(count(*) OVER () AS BIGINT) + 1 AS decile
          FROM j),
        t AS (
          SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS np
          FROM j),
        a AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(p) AS BIGINT) AS n_pass
          FROM d GROUP BY decile)
        SELECT a.decile, a.n_docs, a.n_pass,
          CAST(a.n_pass AS DOUBLE) / a.n_docs AS pass_rate,
          CAST(a.n_pass * t.n AS DOUBLE) / (a.n_docs * t.np) AS lift,
          CAST(sum(a.n_pass) OVER (ORDER BY a.decile
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.np AS cum_gain
        FROM a CROSS JOIN t""")),

    // ---------------------------------------------------------------- q176
    // PARETO-OPTIMAL DOCUMENT SKYLINE — multi-objective selection
    // without scalarizing: the docs for which NO other doc is at
    // least as good on every objective and strictly better on one
    // (here: vocabulary ↑, length ↓ — the information-density
    // frontier; any weighted quality score must pick its optimum
    // from exactly this set, which is why the skyline is the
    // selection primitive, not one more score). Objectives are exact
    // BIGINTs computed IN THE SCAN (in-row array_distinct — no
    // per-token explode, no shuffle for the metrics).
    //
    // Scale shape: ops.Skyline — partition-local block-nested prune
    // (a global skyline member is undominated in every subset, so
    // phase 1 is lossless), then a candidate×candidate anti-join on
    // the domination predicate with the build side broadcast only
    // under a measured row budget. The corpus is touched exactly
    // once; the quadratic runs over the candidate set only.
    Q(
      "q176_doc_skyline",
      (s, dir) => {
        import s.implicits._
        val m = Llm.docsSpread(s, dir)
          .select($"doc_id",
            expr("CAST(size(array_distinct(filter(split(lower(text), '[^a-z]+'), x -> x <> ''))) AS BIGINT)")
              .as("n_uniq"),
            length($"text").cast("long").as("n_chars"))
          .withColumn("neg_chars", -$"n_chars")
        graft.ops.Skyline.of(m, Seq("n_uniq", "neg_chars"))
          .select($"doc_id", $"n_uniq", $"n_chars")
      },
      Some("""
        WITH m AS (
          SELECT doc_id,
            CAST(len(list_distinct(list_filter(
              regexp_split_to_array(lower(text), '[^a-z]+'),
              x -> x <> ''))) AS BIGINT) AS n_uniq,
            CAST(length(text) AS BIGINT) AS n_chars
          FROM documents)
        SELECT a.doc_id, a.n_uniq, a.n_chars
        FROM m a WHERE NOT EXISTS (
          SELECT 1 FROM m b
          WHERE b.n_uniq >= a.n_uniq AND b.n_chars <= a.n_chars
            AND (b.n_uniq > a.n_uniq OR b.n_chars < a.n_chars))""")),

    // --------------------------------------------------------------- q190
    // COHEN'S KAPPA between the learned filter and the rule gate —
    // q135 emits the full band-resolution calibration table; this
    // collapses it to the chance-corrected scalar the go/no-go
    // decision actually reads (raw agreement is inflated whenever
    // both raters mostly say "pass"; kappa subtracts the agreement
    // their marginals would produce by chance). Exact integer
    // algebra: with the 2×2 counts n11/n10/n01/n00 (classifier sel ×
    // gate pass), kappa = (N·agree − a1·b1 − a0·b0) /
    // (N² − a1·b1 − a0·b0) — numerator and denominator are exact
    // DECIMAL(38,0) products of BIGINT marginals, each cast to double
    // ONCE (a single correctly-rounded conversion on both engines)
    // for the one division. A degenerate pe = 1 denominator (both
    // raters constant) is guarded to kappa = 0 on both engines.
    //
    // Scale shape: q135's two scan legs + the doc-keyed join, then a
    // 22-row cell frame collapses to ONE row map-side — the kappa
    // algebra costs nothing beyond the calibration q135 already pays.
    Q(
      "q190_gate_classifier_kappa",
      (s, dir) => {
        import s.implicits._
        classifierCalibration(Llm.docsSpread(s, dir))
          .agg(
            sum(when($"gate_pass" === 1L, $"n_sel").otherwise(0L))
              .cast("long").as("n11"),
            sum(when($"gate_pass" === 0L, $"n_sel").otherwise(0L))
              .cast("long").as("n10"),
            sum(when($"gate_pass" === 1L, $"n_docs" - $"n_sel").otherwise(0L))
              .cast("long").as("n01"),
            sum(when($"gate_pass" === 0L, $"n_docs" - $"n_sel").otherwise(0L))
              .cast("long").as("n00"))
          .select($"n11", $"n10", $"n01", $"n00",
            expr("""
              CAST((CAST(n11 + n00 AS DOUBLE)) /
                   (CAST(n11 + n10 + n01 + n00 AS DOUBLE)) AS DOUBLE)""")
              .as("po"),
            expr("""
              CAST(CAST(CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01) +
                   CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00) AS DOUBLE) /
                   CAST(CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) *
                        (n11 + n10 + n01 + n00) AS DOUBLE) AS DOUBLE)""")
              .as("pe"),
            expr("""
              CASE WHEN CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) *
                        (n11 + n10 + n01 + n00) =
                        CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01) +
                        CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)
                   THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) *
                             (n11 + n00) -
                             (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01) +
                              CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))
                             AS DOUBLE) /
                        CAST(CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) *
                             (n11 + n10 + n01 + n00) -
                             (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01) +
                              CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))
                             AS DOUBLE)
              END""").as("kappa"))
      },
      Some(s"""
        WITH ws AS (
          SELECT doc_id, lang,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        toks AS (
          SELECT doc_id, lang, ${h60Sql("tok")} % 256 AS bh FROM ws),
        counts AS (
          SELECT bh, CAST(count(*) AS BIGINT) AS c,
            CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp
          FROM toks GROUP BY bh),
        totals AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_all, CAST(sum(cp) AS BIGINT) AS n_pos
          FROM counts),
        lm AS (
          SELECT bh, (cp + 1) * 1000000 // (c + 2) AS w,
            (n_pos + 1) * 1000000 // (n_all + 2) AS prior
          FROM counts CROSS JOIN totals),
        ev AS (
          SELECT doc_id,
            CAST(CAST(sum(w) AS BIGINT) > CAST(count(*) AS BIGINT) * max(prior) AS BIGINT) AS sel
          FROM toks JOIN lm USING (bh) GROUP BY doc_id),
        ${graft.queries.Mining.gopherSqlCtes},
        cells AS (
          SELECT
            CAST(coalesce(sum(CASE WHEN gop.pass = 1 THEN ev.sel END), 0) AS BIGINT) AS n11,
            CAST(coalesce(sum(CASE WHEN gop.pass = 0 THEN ev.sel END), 0) AS BIGINT) AS n10,
            CAST(coalesce(sum(CASE WHEN gop.pass = 1 THEN 1 - ev.sel END), 0) AS BIGINT) AS n01,
            CAST(coalesce(sum(CASE WHEN gop.pass = 0 THEN 1 - ev.sel END), 0) AS BIGINT) AS n00
          FROM ev JOIN gop ON ev.doc_id = gop.doc_id)
        SELECT n11, n10, n01, n00,
          CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
          CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
               CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE) /
            CAST(CAST(n11 + n10 + n01 + n00 AS HUGEINT) *
                 (n11 + n10 + n01 + n00) AS DOUBLE) AS pe,
          CASE WHEN CAST(n11 + n10 + n01 + n00 AS HUGEINT) *
                    (n11 + n10 + n01 + n00) =
                    CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
                    CAST(n01 + n00 AS HUGEINT) * (n10 + n00)
               THEN CAST(0.0 AS DOUBLE)
               ELSE CAST(CAST(n11 + n10 + n01 + n00 AS HUGEINT) * (n11 + n00) -
                         (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
                          CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS DOUBLE) /
                    CAST(CAST(n11 + n10 + n01 + n00 AS HUGEINT) *
                         (n11 + n10 + n01 + n00) -
                         (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
                          CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS DOUBLE)
          END AS kappa
        FROM cells""")),

    // --------------------------------------------------------------- q205
    // QUALITY SLICE FINDER (SliceFinder, Polyzotis et al. 2019 / the
    // "problematic slices" audit every curation run should close
    // with): grid the corpus into (lang, source, length-bucket) cells
    // and flag cells whose q87 Gopher pass rate deviates from the
    // GLOBAL rate by ≥ 3/20 at support ≥ 20 docs — a failing slice
    // localizes a quality problem (one crawler, one language, one
    // length band) that the corpus-level rate averages away. The
    // deviation gate is ALL-INTEGER cross-multiplication in
    // DECIMAL(38,0) (the q185/q191 shadow-product discipline:
    // 20·|pass_c·N − pass_tot·n_c| ≥ 3·n_c·N — BIGINT products wrap
    // at ~3×10⁹ docs); the reported rates are single divisions.
    // Domain note: cells count ALL documents; docs with no a–z word
    // (q87's tokenizer emits nothing) count as cannot-pass — the
    // q135/q149 coalesce-0 convention.
    //
    // Scale shape: one doc-keyed join (gopher flags) + ONE
    // map-side-combined cell agg; the cell frame is
    // |langs × sources × buckets|-bounded, and the global totals ride
    // a broadcast 1-row frame. No windows, no per-doc output.
    Q(
      "q205_quality_slices",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents")
          .select($"doc_id", $"lang", $"source",
            expr("n_chars div 100").cast("long").as("len_bucket"))
        val pass = Mining.gopherRules(Llm.docsSpread(s, dir))
          .select($"doc_id", $"pass")
        // localCheckpoint: cells feeds both the tot aggregate and the
        // final projection — without it the documents⋈gopher subtree
        // appears twice in the plan and correctness of the cost rests
        // on exchange reuse, not on the materialize-once discipline
        // the repo's other double-consumed probes use. The frame is
        // |langs × sources × buckets|-bounded, so the checkpoint is
        // tiny; its blocks are reaped with the returned frame (the
        // one-shot convention).
        val cells = Checkpoints.local(docs.join(pass, Seq("doc_id"), "left")
          .groupBy($"lang", $"source", $"len_bucket")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(coalesce($"pass", lit(0L))).cast("long").as("n_pass")))
        val tot = cells.agg(sum($"n").cast("long").as("n_tot"),
          sum($"n_pass").cast("long").as("pass_tot"))
        val d380 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
        cells.crossJoin(broadcast(tot))
          .select($"lang", $"source", $"len_bucket", $"n", $"n_pass",
            ($"n_pass".cast("double") / $"n".cast("double")).as("rate"),
            ($"pass_tot".cast("double") / $"n_tot".cast("double")).as("global_rate"),
            (lit(20).cast(d380) * abs($"n_pass".cast(d380) * $"n_tot".cast(d380) -
                $"pass_tot".cast(d380) * $"n".cast(d380)) >=
              lit(3).cast(d380) * $"n".cast(d380) * $"n_tot".cast(d380) &&
              $"n" >= 20L).cast("long").as("flagged"))
      },
      Some(s"""
        WITH ${graft.queries.Mining.gopherSqlCtes},
        d AS (
          SELECT doc_id, lang, source, n_chars // 100 AS len_bucket
          FROM documents),
        cells AS (
          SELECT d.lang, d.source, d.len_bucket,
            CAST(count(*) AS BIGINT) AS n,
            CAST(coalesce(sum(g.pass), 0) AS BIGINT) AS n_pass
          FROM d LEFT JOIN gop g ON d.doc_id = g.doc_id
          GROUP BY d.lang, d.source, d.len_bucket),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS n_tot,
            CAST(sum(n_pass) AS BIGINT) AS pass_tot
          FROM cells)
        SELECT c.lang, c.source, c.len_bucket, c.n, c.n_pass,
          CAST(c.n_pass AS DOUBLE) / c.n AS rate,
          CAST(t.pass_tot AS DOUBLE) / t.n_tot AS global_rate,
          CAST(CASE WHEN 20 * abs(CAST(c.n_pass AS HUGEINT) * t.n_tot -
                        CAST(t.pass_tot AS HUGEINT) * c.n) >=
                    3 * CAST(c.n AS HUGEINT) * t.n_tot
                 AND c.n >= 20 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        FROM cells c CROSS JOIN tot t""")),

    // --------------------------------------------------------------- q209
    // UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018; graft.ops.UnigramTrain)
    // — q97's sibling for the OTHER tokenizer family modern models
    // actually use (SentencePiece unigram): seed substring vocabulary,
    // EM over the segmentation lattice, expected-count pruning down to
    // the target size. Rows-only by design, same as q97 (each EM
    // round's M-step feeds the next round's lattice — not one SQL
    // statement); UnigramSpec pins a from-scratch EM replica, tier
    // equality, run-over-run determinism, Viterbi compression, and
    // the job-count bound. Determinism under floats comes from
    // per-word quantization to integer micro-units — cross-word sums
    // are exact Longs (the op doc's contract).
    //
    // Scale shape: the corpus-sized work is the ONE word-count agg
    // (map-side combined); seeding is one dictionary-sized substring
    // agg; every EM round is one flatMap+agg job over the dictionary
    // whose vocab-bounded result drives a driver M-step — the q97
    // two-tier posture (driver arrays under the threshold).
    Q(
      "q209_unigram_vocab",
      (s, dir) => {
        import s.implicits._
        val wf = Llm.docsSpread(s, dir)
          .select(explode(expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("w"))
          .groupBy($"w").agg(count(lit(1)).cast("long").as("f"))
          .as[(String, Long)]
        graft.ops.UnigramTrain.train(wf,
          graft.ops.UnigramTrain.Config(
            vocabSize = 96, seedSize = 1024, maxPieceLen = 6,
            emRounds = 2, shrink = 0.5))
      },
      None),

    // --------------------------------------------------------------- q212
    // UNIGRAM tokenizer APPLY at scan scale — q106's role for the
    // q209 family, through a NATIVE codegen'd expression
    // (functions.UnigramTokens): per-document Viterbi token counts
    // under the FROZEN UnigramVocabs.v1 artifact (q209's actual
    // sf0.01 output, pasted as the shipped-tokenizer literal — the
    // q106 frozen-ladder convention), with the production single-char
    // OOV fallback every real tokenizer has. Token counting is THE
    // most-executed pipeline op (cost estimation, packing budgets,
    // length gates), so the expression runs one tight DP per word
    // inside whole-stage codegen — scan → project, zero shuffle.
    // Rows-only by design (iterative DP is not one SQL statement);
    // UnigramTokensSpec pins a segment-based replica, the OOV
    // fallback, and interpreted ≡ codegen.
    Q(
      "q212_unigram_apply",
      (s, dir) => {
        import s.implicits._
        graft.functions.UnigramTokens.register(s)
        // lower() OUTSIDE the expression: Spark's lower is full
        // Unicode folding (the q209 trainer's convention); the
        // expression's own fold is bytewise ASCII by design
        table(s, dir, "documents")
          .select($"doc_id",
            expr("CAST(length(text) AS BIGINT)").as("n_chars"),
            expr("unigram_tokens(lower(text), 'v1')").as("n_tokens"))
          .withColumn("chars_per_token",
            when($"n_tokens" > 0L,
              $"n_chars".cast("double") / $"n_tokens".cast("double")))
      },
      None)
  )

  /** Margin-based bitext mining engine behind q117 (Artetxe &
    * Schwenk 2019's ratio margin, k = 4): src = (cell, u, ea), tgt =
    * (cell, v, eb); candidates are the within-cell src×tgt pairs
    * (blocking is the caller's contract — sign-buckets for the
    * oracle-checked query, ANN candidate lists in production). For
    * each candidate pair, margin = cos / ((avgKnn(u) + avgKnn(v))/2)
    * where avgKnn is the mean of the vector's k best within-block
    * sims, computed as a FIXED-ORDER coalesce chain over the
    * rank-pivoted values (bit-deterministic, oracle-replayable); the
    * output keeps each src's best-margin target with its sim, margin
    * and a margin > 1 selection flag.
    */
  private[graft] def bitextMargin(
      src: org.apache.spark.sql.DataFrame,
      tgt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = src.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSim.register(s)
    val wu = Window.partitionBy($"u").orderBy($"sim".desc, $"v".asc)
    val wv = Window.partitionBy($"v").orderBy($"sim".desc, $"u".asc)
    // one sim frame feeds both rank windows and the margin scoring
    val rk = Checkpoints.local(src.join(tgt, "cell")
      .select($"u", $"v", expr("cosine_sim(ea, eb)").as("sim"))
      .withColumn("ru", row_number().over(wu))
      .withColumn("rv", row_number().over(wv)))
    def knnAvg(key: String, rkCol: String, out: String) =
      rk.filter(col(rkCol) <= 4)
        .groupBy(col(key))
        .agg(((1 to 4).map(i =>
          coalesce(max(when(col(rkCol) === i, $"sim")), lit(0.0)))
          .reduce(_ + _) / count(lit(1)).cast("double")).as(out))
    val wm = Window.partitionBy($"u").orderBy($"margin".desc, $"v".asc)
    rk.join(knnAvg("u", "ru", "avgu"), "u")
      .join(knnAvg("v", "rv", "avgv"), "v")
      .withColumn("margin", $"sim" / (($"avgu" + $"avgv") / lit(2.0)))
      .withColumn("rm", row_number().over(wm))
      .filter($"rm" === 1)
      .select($"u".as("src_id"), $"v".as("tgt_id"), $"sim", $"margin",
        ($"margin" > 1.0).cast("long").as("sel"))
  }

  /** Distinct undirected token-adjacency edges (a < b) of the corpus
    * bigram graph — shared by q113 (triangles) and q126 (label
    * propagation). Materialized once (multiple consumers downstream).
    */
  private[graft] def bigramEdges(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .select($"doc_id",
        posexplode(filter(split(lower($"text"), "[^a-z]+"), x => x =!= "")))
      .toDF("doc_id", "idx", "tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"idx".asc)
    Checkpoints.local(toks.withColumn("w2", lead($"tok", 1).over(w))
      .filter($"w2".isNotNull && $"tok" =!= $"w2")
      .select(least($"tok", $"w2").as("a"), greatest($"tok", $"w2").as("b"))
      .distinct())
  }

  /** Synchronous label propagation (Raghavan et al. 2007) behind
    * q126, made DETERMINISTIC: every vertex simultaneously adopts the
    * most frequent label among its neighbors, ties to the smallest
    * label — expressed as min over struct(−count, label), one total
    * order, no arrival-order dependence (the async/random-order LPA
    * of the paper is irreproducible by construction). Fixed `rounds`
    * is part of the operator definition (the q84/q96 static-shape
    * rule). Each round is one edge-sized join + a map-side-combinable
    * (v, lbl) count — the textbook Pregel round as two exchanges; the
    * symmetric edge list materializes once for all rounds.
    */
  private[graft] def labelProp(edges: org.apache.spark.sql.DataFrame, rounds: Int): org.apache.spark.sql.DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e2 = Checkpoints.local(edges.select($"a".as("u"), $"b".as("v"))
      .unionAll(edges.select($"b".as("u"), $"a".as("v"))))
    var lbl = e2.select($"v").distinct().select($"v", $"v".as("lbl"))
    (1 to rounds).foreach { _ =>
      lbl = e2.join(lbl.select($"v".as("u"), $"lbl"), "u")
        .groupBy($"v", $"lbl").agg(count(lit(1)).cast("long").as("c"))
        .groupBy($"v")
        .agg(min(struct((-$"c").as("nc"), $"lbl".as("l"))).as("m"))
        .select($"v", $"m.l".as("lbl"))
    }
    lbl
  }

  /** Triangle-count engine behind q113. Input: (doc_id, text).
    * Undirected distinct bigram edges → (degree, name)-orientation →
    * wedge join (fanout capped at O(√m) per key) → closing hash-equi
    * probe. Output: ONE row (n_nodes, n_edges, n_triangles); each
    * triangle counted exactly once.
    */
  private[graft] def triangleCount(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val edges = bigramEdges(docs)
    val deg = edges.select($"a".as("v")).unionAll(edges.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).cast("long").as("deg"))
    val dirE = Checkpoints.local(edges
      .join(deg.select($"v".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"v".as("b"), $"deg".as("db")), "b")
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"),
          struct($"a".as("src"), $"b".as("dst"),
            $"da".as("ds"), $"db".as("dd")))
          .otherwise(struct($"b".as("src"), $"a".as("dst"),
            $"db".as("ds"), $"da".as("dd"))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"), $"e.dd".as("dd")))
    val wedges = dirE.select($"src", $"dst".as("x"), $"dd".as("dx"))
      .join(dirE.select($"src", $"dst".as("y"), $"dd".as("dy")), "src")
      .filter($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"))
    val tris = wedges
      .join(dirE.select($"dst".as("y"), $"src".as("x")), Seq("x", "y"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).cast("long").as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(tris)
  }

  /** Classifier engine behind q109. Input: (doc_id, lang, text).
    * Trains the 256-bucket ppm-weight model on the 'en' slice in one
    * token pass, broadcasts it, scores every document with ≥ 1 [a-z]+
    * token. Output: (doc_id, n_tokens, margin, score, sel).
    */
  private[graft] def qualityClassifier(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    classifierEvidence(docs)
      .select($"doc_id", $"n_tokens",
        ($"sw" - $"n_tokens" * $"prior").as("margin"))
      .withColumn("score", $"margin".cast("double") / $"n_tokens".cast("double"))
      .withColumn("sel", ($"margin" > 0L).cast("long"))
  }

  /** The q109 classifier's raw evidence frame
    * (doc_id, n_tokens, sw, prior) — qualityClassifier derives its
    * margin/score/sel from this; the q135 calibration derives its
    * evidence bands from the same numbers.
    */
  private def classifierEvidence(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = Checkpoints.local(docs
      .select($"doc_id", $"lang", explode(expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
      .select($"doc_id", $"lang", (expr(h60("tok")) % 256).as("bh")))
    val counts = toks.groupBy($"bh").agg(
      count(lit(1)).cast("long").as("c"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).cast("long").as("cp"))
    val totals = counts.agg(
      sum($"c").cast("long").as("n_all"),
      sum($"cp").cast("long").as("n_pos"))
    val lm = counts.crossJoin(broadcast(totals))
      .select($"bh",
        expr("(cp + 1) * 1000000L div (c + 2)").as("w"),
        expr("(n_pos + 1) * 1000000L div (n_all + 2)").as("prior"))
    toks.join(broadcast(lm), "bh")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        sum($"w").cast("long").as("sw"),
        max($"prior").as("prior"))
  }

  /** Calibration engine behind q135: input (doc_id, text, lang, …);
    * output one row per (evidence band, gate verdict) cell — see the
    * q135 comment.
    */
  private[graft] def classifierCalibration(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ev = classifierEvidence(docs)
      // all-positive BIGINTs, so truncating div = floor on both
      // engines; band 10 = evidence exactly at the prior (sel cut)
      .select($"doc_id",
        expr("(sw * 10L) div (n_tokens * prior)").as("band"),
        ($"sw" > $"n_tokens" * $"prior").cast("long").as("sel"))
    ev.join(Mining.gopherRules(docs).select($"doc_id", $"pass".as("gate_pass")), "doc_id")
      .groupBy($"band", $"gate_pass")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum($"sel").cast("long").as("n_sel"))
  }

  /** Per-anchor candidate budget: an anchor's query terms are kept
    * (rarest first) only while the cumulative df INCLUDING the
    * current term stays under this bound — the per-term analog of
    * the LSH hot-bucket cap, and the fix the sf1 soak prescribed
    * (evidence/archive/SOAK_r10*.json, SCALING.md): on a vocabulary
    * whose df scales linearly with the corpus, Σ df over 5 terms is
    * Θ(corpus) per anchor and the candidate join goes quadratic; a
    * CONSTANT budget bounds every anchor's candidate stream regardless
    * of vocabulary shape.
    * The gate is INCLUSIVE (cum < budget, not cum − df < budget):
    * an exclusive form would always admit one arbitrarily-hot term
    * per anchor whenever the preceding cumulative were under budget
    * — e.g. a df=1 tracker token followed by a df=Θ(N) stopword —
    * re-opening the quadratic join the budget exists to close. The
    * first (rarest) term always survives regardless (trk = 1), so
    * no anchor ever goes candidate-less; the true bound is
    * max(budget, df of the rarest term). On Zipfian text with rare
    * terms the budget is slack and all 5 terms survive.
    *
    * `lazy` deliberately: the oracle SQL in `all` interpolates this
    * value, and `all` initializes before later object-body vals — a
    * plain val would interpolate 0 (the q133 init-order lesson).
    */
  private[graft] lazy val AnchorDfBudget: Long = 10000L

  /** Triplet-mining engine behind q131: input (doc_id, text, …);
    * output (anchor_id, pos_id, pos_jac, neg_id, neg_score, neg_rk) —
    * see the q131 comment for semantics and scale shape.
    * Package-visible so TripletSpec can replay it against a
    * first-principles replica and pin the exclusion invariants.
    */
  private[graft] def contrastiveTriplets(
      docs: org.apache.spark.sql.DataFrame,
      hintBudgetRows: Long = 1L << 20,
      dfBudget: Long = AnchorDfBudget): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // (doc, word, tf) feeds dl, df, anchor terms AND candidate
    // scoring — materialize once (the q95 discipline)
    val wc = Checkpoints.local(docs
      .select($"doc_id", explode(expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).cast("long").as("tf")))
    val dl = Checkpoints.local(wc.groupBy($"doc_id").agg(sum($"tf").cast("long").as("dl"))) // consumed by stats + the scoring join
    val stats = dl.agg(
      sum($"dl").cast("long").as("sum_dl"),
      count(lit(1)).cast("long").as("nd"))
    val dfq = wc.groupBy($"w").agg(count(lit(1)).cast("long").as("df"))
    // each anchor queries with its 5 most DISCRIMINATIVE terms
    // (lowest df, tie word asc), further clamped by the CONSTANT
    // cumulative-df budget [[AnchorDfBudget]] (the sf1 soak's fix:
    // Σ df over 5 terms is the candidate fan-out, and on a
    // df-degenerate vocabulary it scales with the corpus — the
    // budget bounds every anchor's candidate stream regardless);
    // stopword-shaped terms lose to anything rarer; the window runs
    // over the budget-bounded anchor term lists, never the corpus
    // plain shuffle join against the vocab-sized df table (the
    // anchor side is tiny, but dfq is NOT broadcastable at corpus
    // scale — a billion-term vocabulary must never ship to the
    // driver; AQE may still pick broadcast when it actually fits)
    val aw = Window.partitionBy($"anchor_id").orderBy($"df".asc, $"w".asc)
    val aterms = wc.filter($"doc_id" % 25 === 7)
      .select($"doc_id".as("anchor_id"), $"w")
      .join(dfq, "w")
      .withColumn("trk", row_number().over(aw))
      .filter($"trk" <= 5)
      // [[AnchorDfBudget]]: INCLUSIVE cumulative-df gate over the ≤5
      // survivors (window re-evaluates on the filtered frame; (df, w)
      // is a unique order per anchor so RANGE ≡ ROWS on both engines)
      .withColumn("cum", sum($"df").over(aw))
      .filter($"cum" < dfBudget || $"trk" === 1)
      .select($"anchor_id", $"w", $"df")
    // BUDGET-GATED broadcast hint (graft.Sql.broadcastIfSmall — the
    // one shared gate): aterms is anchors×5 rows — |docs|/5 — which
    // scales linearly with the corpus, so an UNCONDITIONAL hint would
    // override AQE and OOM at 100×, while leaving it entirely to AQE
    // costs a measured 1.9× at bench scale; the helper materializes,
    // counts, and hints only when provably executor-safe
    // (≤ hintBudgetRows ≈ tens of MB).
    val atermsJ = graft.Sql.broadcastIfSmall(aterms, hintBudgetRows)
    val cand = wc.join(atermsJ, "w")
      .filter($"doc_id" =!= $"anchor_id")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"anchor_id", $"doc_id", $"w",
        (($"tf".cast("double") * lit(2.2)) /
          ($"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
            ($"dl".cast("double") / ($"sum_dl".cast("double") / $"nd".cast("double"))))) *
          (($"nd".cast("double") - $"df".cast("double") + lit(0.5)) /
            ($"df".cast("double") + lit(0.5)))).as("ts"))
    val scores = cand.groupBy($"anchor_id", $"doc_id")
      .agg(sort_array(collect_list(struct($"w", $"ts"))).as("xs"))
      .select($"anchor_id", $"doc_id",
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.ts)").as("score"))
    // q21's verified LSH pairs: consumed by the exclusion AND the
    // positive pick — materialize once
    val pairs = Checkpoints.local(Llm.minhashLshPairs(docs, Llm.lshMaxBucket))
    val ndup = pairs.select($"d1".as("anchor_id"), $"d2".as("doc_id"))
      .union(pairs.select($"d2".as("anchor_id"), $"d1".as("doc_id")))
    val fps = docs.select($"doc_id", md5($"text").as("fp"))
    val filtered = scores
      .join(fps.select($"doc_id", $"fp"), "doc_id")
      .join(fps.select($"doc_id".as("anchor_id"), $"fp".as("afp")), "anchor_id")
      .filter($"fp" =!= $"afp")
      .join(ndup, Seq("anchor_id", "doc_id"), "left_anti")
    val topk = udaf(new graft.functions.TopKSimAgg(3),
      org.apache.spark.sql.Encoders.product[(Long, Double)])
    val negs = filtered.groupBy($"anchor_id")
      .agg(topk($"doc_id", $"score").as("tk"))
      .select($"anchor_id", posexplode($"tk"))
      .select($"anchor_id", $"col._2".as("neg_id"), $"col._1".as("neg_score"),
        ($"pos" + 1).cast("long").as("neg_rk"))
    val wpo = Window.partitionBy($"anchor_id").orderBy($"jac".desc, $"partner".asc)
    val po = pairs.select($"d1".as("anchor_id"), $"d2".as("partner"), $"jac")
      .union(pairs.select($"d2".as("anchor_id"), $"d1".as("partner"), $"jac"))
      .filter($"anchor_id" % 25 === 7)
      .withColumn("prk", row_number().over(wpo))
      .filter($"prk" === 1)
      .select($"anchor_id", $"partner".as("pos_id"), $"jac".as("pos_jac"))
    // po is ≤1 row per anchor — also anchor-proportional, same
    // budget gate as aterms
    val poJ = graft.Sql.broadcastIfSmall(po, hintBudgetRows)
    negs.join(poJ, Seq("anchor_id"), "left")
      .select($"anchor_id", $"pos_id", $"pos_jac",
        $"neg_id", $"neg_score", $"neg_rk")
  }
}
