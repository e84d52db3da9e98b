package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: relevance scoring (TF-IDF), PII/term
  * scrubbing, reproducible stratified sampling, n-gram language-model
  * statistics, distributed total-order ranking, and the dedup APPLY
  * step that turns q45's near-dup clusters into a surviving corpus.
  *
  * Cross-engine determinism (see [[graft.Sql]]): scores that mix
  * counts are computed as single IEEE double ops on BIGINT-cast
  * inputs (a/b, a*(b/c)) — identical bit patterns on both engines; no
  * transcendental functions (engines differ in the last ulp of log),
  * no double aggregation (counts aggregate as BIGINT, ratios divide
  * at the end).
  */
object Curation {

  // identical regex source strings feed BOTH engines (Java regex and
  // DuckDB's RE2 agree on this common subset: classes, bounded
  // repetition, \b \d). No capture groups — group 0 is the match.
  private val EmailRe = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  private val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val PhoneRe = """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"""
  private val TermRe = """\bcustomer\b"""

  /** The audit CTE chain replicating [[curationAudit]]'s verdicts
    * (terminal CTE `<p>audit`: doc_id, gate BOOLEAN, exact_dup_of,
    * near_dup_of, drop_reason, keep BIGINT), parameterized by gate
    * thresholds and the pairs CTE name — ONE SQL generator behind
    * every audit oracle (q118/q147/q149/q157 through
    * [[auditSqlCtes]], q183's two configs directly), so no audit
    * consumer can structurally drift from another — the SQL twin of
    * sharing `curationAudit` on the Spark side.
    */
  private[queries] def auditSqlCtesFor(
      p: String, minChars: Int, minStops: Int, pairsCte: String): String =
    s"""${p}gt AS (
          SELECT doc_id,
            (length(text) >= $minChars
             AND len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in)\\b', 0)) >= $minStops) AS gate
          FROM documents),
        ${p}fpx AS (
          SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
          FROM documents
          WHERE length(text) >= $minChars
            AND len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in)\\b', 0)) >= $minStops),
        ${p}canon AS (SELECT fp, min(doc_id) AS canon FROM ${p}fpx GROUP BY fp),
        ${p}eo AS (
          SELECT f.doc_id, c.canon AS exact_dup_of
          FROM ${p}fpx f JOIN ${p}canon c ON f.fp = c.fp WHERE c.canon < f.doc_id),
        ${p}no AS (SELECT d2 AS doc_id, min(d1) AS near_dup_of FROM $pairsCte GROUP BY d2),
        ${p}audit AS (
          SELECT g.doc_id, g.gate, eo.exact_dup_of, no.near_dup_of,
            CASE WHEN NOT g.gate THEN 'quality_gate'
                 WHEN eo.exact_dup_of IS NOT NULL THEN 'exact_dup'
                 WHEN no.near_dup_of IS NOT NULL THEN 'near_dup' END AS drop_reason,
            CAST((g.gate AND eo.exact_dup_of IS NULL AND no.near_dup_of IS NULL) AS BIGINT) AS keep
          FROM ${p}gt g
          LEFT JOIN ${p}eo eo ON g.doc_id = eo.doc_id
          LEFT JOIN ${p}no no ON g.doc_id = no.doc_id)"""

  /** The production-config (30, 1, `pairs`) instance with its
    * terminal CTE renamed to the bare `audit` the q118/q147/q149/q157
    * oracles select from (only the terminal name is surgered — the
    * internal aud_-prefixed CTEs are referenced nowhere else).
    * `lazy` deliberately: `all` interpolates it and initializes first
    * (the q133 init-order lesson).
    */
  private[queries] lazy val auditSqlCtes: String =
    auditSqlCtesFor("aud_", 30, 1, "pairs")
      .replace("aud_audit AS (", "audit AS (")

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q78
    // TF-IDF relevance scoring, ratio-idf variant: score = tf * (N/df).
    // (Ratio instead of log idf deliberately: ln() differs between
    // engines in the last ulp, which the hash-compare oracle cannot
    // tolerate; the ranking structure — two aggregations + vocab join +
    // per-doc top-k — is identical.) At 100 TB: tf is one token-stream
    // shuffle with map-side combine; df aggregates tf's OUTPUT (vocab-
    // sized, not token-sized); N is a 1-row broadcast; the top-k window
    // partitions by doc. Nothing touches the token stream twice.
    Q(
      "q78_tfidf",
      (s, dir) => {
        import s.implicits._
        val toks = Llm.docsSpread(s, dir)
          .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("tok"))
          .filter($"tok" =!= "")
        val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val n = tf.agg(count_distinct($"doc_id").as("n"))
        tf.join(df, "tok")
          .crossJoin(broadcast(n))
          .withColumn("score",
            $"tf".cast("double") * ($"n".cast("double") / $"df".cast("double")))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok".asc)).cast("long"))
          .filter($"rk" <= 3)
          .select($"doc_id", $"tok", $"tf", $"df", $"score", $"rk")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
          FROM toks GROUP BY doc_id, tok),
        df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        sc AS (
          SELECT f.doc_id, f.tok, f.tf, d.df,
            CAST(f.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score
          FROM tf f JOIN df d USING (tok) CROSS JOIN n),
        r AS (
          SELECT doc_id, tok, tf, df, score,
            CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS BIGINT) AS rk
          FROM sc)
        SELECT doc_id, tok, tf, df, score, rk FROM r WHERE rk <= 3""")),

    // ---------------------------------------------------------------- q79
    // PII / blocklist-term scrubbing — the pre-training redaction pass:
    // emails, IPv4s, phone numbers (real patterns; this synthetic corpus
    // contains none, so their counts oracle-check at zero) plus a
    // blocklist term that DOES occur, proving the rewrite end-to-end
    // (redacted-text md5 + length shift). PiiSpec drives the same
    // patterns over a fixture with real PII. Pure scan projection: at
    // 100 TB this is the cheapest kind of operator — no shuffle, and
    // emitting md5 instead of the rewritten payload keeps the output
    // narrow (the real pipeline would write the redacted text column
    // straight back out, still shuffle-free).
    Q(
      "q79_pii_redact",
      (s, dir) => {
        import s.implicits._
        Llm.docsSpread(s, dir)
          .withColumn("red",
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace($"text", EmailRe, "<EMAIL>"),
                  Ipv4Re, "<IP>"),
                PhoneRe, "<PHONE>"),
              TermRe, "<TERM>"))
          .select($"doc_id",
            size(regexp_extract_all($"text", lit(EmailRe), lit(0))).cast("long").as("n_email"),
            size(regexp_extract_all($"text", lit(Ipv4Re), lit(0))).cast("long").as("n_ip"),
            size(regexp_extract_all($"text", lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
            size(regexp_extract_all($"text", lit(TermRe), lit(0))).cast("long").as("n_term"),
            md5($"red").as("red_md5"),
            length($"red").cast("long").as("red_len"))
      },
      Some(s"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ip,
          CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phone,
          CAST(len(regexp_extract_all(text, '$TermRe')) AS BIGINT) AS n_term,
          md5(red) AS red_md5,
          CAST(length(red) AS BIGINT) AS red_len
        FROM (
          SELECT doc_id, text,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
                  '$Ipv4Re', '<IP>', 'g'),
                '$PhoneRe', '<PHONE>', 'g'),
              '$TermRe', '<TERM>', 'g') AS red
          FROM documents) r""")),

    // ---------------------------------------------------------------- q80
    // Stratified sampling: exactly k=25 docs per language stratum,
    // selected by content-addressed hash order (md5(doc_id||salt)) —
    // reproducible across runs, engines, and partitionings, unlike
    // rand()/TABLESAMPLE. One shuffle on the stratum key; each stratum
    // ranks independently (at 100 TB add a shard suffix to the stratum
    // key if a single language dominates — same treatment as q54's
    // packing shards).
    Q(
      "q80_stratified_sample",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .select($"doc_id", $"lang",
            md5(concat($"doc_id".cast("string"), lit("|strat"))).as("hk"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"lang").orderBy($"hk".asc, $"doc_id".asc)).cast("long"))
          .filter($"rk" <= 25)
          .select($"doc_id", $"lang", $"rk")
      },
      Some("""
        WITH h AS (
          SELECT doc_id, lang,
            md5(concat(CAST(doc_id AS VARCHAR), '|strat')) AS hk
          FROM documents),
        r AS (
          SELECT doc_id, lang,
            CAST(row_number() OVER (PARTITION BY lang ORDER BY hk ASC, doc_id ASC) AS BIGINT) AS rk
          FROM h)
        SELECT doc_id, lang, rk FROM r WHERE rk <= 25""")),

    // ---------------------------------------------------------------- q82
    // Bigram language-model statistics: adjacency via a per-doc lead()
    // window over the token stream, then P(w2|w1) = cnt/tot as a single
    // BIGINT->DOUBLE division. docsSpread already hash-partitions on
    // doc_id, so the window's partitionBy(doc_id) reuses that exchange;
    // the only real shuffle is the |bigram-vocab| count (map-side
    // combined). tot aggregates the counted vocab, never the stream.
    Q(
      "q82_bigram_lm",
      (s, dir) => {
        import s.implicits._
        val toks = Llm.docsSpread(s, dir)
          .select($"doc_id",
            posexplode(filter(split(lower($"text"), "[^a-z]+"), x => x =!= "")))
          .toDF("doc_id", "idx", "tok")
        val w = Window.partitionBy($"doc_id").orderBy($"idx".asc)
        val cnts = toks
          .withColumn("w2", lead($"tok", 1).over(w))
          .filter($"w2".isNotNull)
          .groupBy($"tok".as("w1"), $"w2")
          .agg(count(lit(1)).as("cnt"))
        val tots = cnts.groupBy($"w1").agg(sum($"cnt").cast("long").as("tot"))
        cnts.join(tots, "w1")
          .select($"w1", $"w2", $"cnt", $"tot",
            ($"cnt".cast("double") / $"tot".cast("double")).as("p"))
      },
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
          SELECT tok AS w1,
            lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY idx ASC) AS w2
          FROM toks),
        cnts AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
          FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2),
        tots AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts GROUP BY w1)
        SELECT c.w1, c.w2, c.cnt, t.tot,
          CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
        FROM cnts c JOIN tots t USING (w1)""")),

    // ---------------------------------------------------------------- q83
    // Distributed total-order rank (ops.GlobalRank): documents ranked
    // by (n_chars DESC, doc_id) — the scalable form of
    // row_number() OVER (ORDER BY ...), which Spark would otherwise
    // plan as an Exchange to ONE partition sorting the whole dataset on
    // one core. Range-partition + per-partition offsets + narrow local
    // numbering: no task ever sees more than one partition's rows.
    // Necessarily eager (the offset prefix-sum is a numPartitions-row
    // action), same caveat as q45's fixpoint. GlobalRankSpec pins
    // agreement with the single-window form and the multi-partition
    // physical shape.
    Q(
      "q83_global_rank",
      (s, dir) => {
        import s.implicits._
        graft.ops.GlobalRank.withRank(
          table(s, dir, "documents").select($"doc_id", $"n_chars"),
          Seq($"n_chars".desc, $"doc_id".asc),
          "g_rank",
          s.sparkContext.defaultParallelism)
      },
      Some("""
        SELECT doc_id, n_chars,
          CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS g_rank
        FROM documents""")),

    // ---------------------------------------------------------------- q85
    // Dedup APPLY — the step q45 exists for: pick one canonical doc per
    // near-dup cluster (the cluster id IS min doc_id, q45's labeling)
    // and anti-join the drop-set against the corpus. The drop-set is
    // |clustered docs| rows (tiny relative to the corpus), so at 100 TB
    // it broadcasts — or bloom-filters the scan — and the survivors
    // never shuffle. Eager for the same reason as q45 (the cluster
    // fixpoint runs inside).
    Q(
      "q85_dedup_apply",
      (s, dir) => {
        import s.implicits._
        val clusters = Llm.all.find(_.name == "q45_dedup_clusters").get.run(s, dir)
        val drops = clusters
          .filter($"v" =!= $"cluster_id")
          .select($"v".as("doc_id"))
        table(s, dir, "documents")
          .join(broadcast(drops), Seq("doc_id"), "left_anti")
          .select($"doc_id", $"lang", $"source", $"n_chars")
      },
      Some(s"""
        WITH RECURSIVE pairs AS (${Llm.minhashPairsSql}),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION
          SELECT d2, d1 FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        cc AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
        drops AS (SELECT v FROM cc WHERE v <> cluster_id)
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT v FROM drops)""")),

    // --------------------------------------------------------------- q100
    // The END-TO-END curation pipeline (ops.CurationPipeline) as ONE
    // oracle-checked declarative plan: quality gate -> exact dedup
    // (normalized-text md5 fingerprint, keep lowest doc_id) -> near-dup
    // removal (q21's capped MinHash-LSH pairs, drop the higher id of
    // every pair) -> curated projection. The point is COMPOSITION:
    // Catalyst fuses all four stages into one DAG — the gate predicate
    // prunes before any dedup work, the dedup joins shuffle
    // fingerprints and band signatures only (never text), and the
    // near-dup drop-set broadcasts (the q85 shape). The oracle chains
    // the same stages as CTEs over q21's shared pair SQL, so the whole
    // pipeline — not just its pieces — hash-matches DuckDB.
    Q(
      "q100_curation_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = Llm.docsSpread(s, dir)
        val pairs = Llm.minhashLshPairs(docs, Llm.lshMaxBucket)
          .select($"d1", $"d2")
        graft.ops.CurationPipeline.curate(s, docs, pairs)
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        gated AS (
          SELECT * FROM documents
          WHERE length(text) >= 30
            AND len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in)\\b', 0)) >= 1),
        fp AS (
          SELECT *, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
          FROM gated),
        keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
        exact AS (
          SELECT f.* FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
        near AS (
          SELECT e.* FROM exact e
          WHERE e.doc_id NOT IN (SELECT d2 FROM pairs))
        SELECT doc_id, lang, source,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
          text
        FROM near""")),

    // --------------------------------------------------------------- q110
    // Repeated-passage (boilerplate) removal — the MassiveText /
    // RefinedWeb line-level filter (Rae et al. 2021 §A1.2; Penedo et
    // al. 2023 line-wise correction), adapted to a corpus without
    // newline structure: documents split into consecutive 10-token
    // BLOCKS (the passage unit), a block whose 60-bit hash occurs in
    // ≥ 3 distinct documents is boilerplate (nav bars, license
    // headers, templated footers at web scale), and each document is
    // reconstructed from its surviving blocks in order. Differs from
    // q108 on purpose: q108 excises character spans of cross-doc
    // 20-grams with owner-keeps (ExactSubstr dedup); this drops a
    // passage EVERYWHERE once it is frequent enough — boilerplate has
    // no canonical owner.
    //
    // Scale shape: the block stream tokenizes ONCE and shuffles once
    // on bh, then materializes (localCheckpoint, the q88/q93
    // discipline) for its two consumers — the ndocs agg and the join
    // back read the same rows; text rides only to the final per-doc
    // regroup, which re-partitions on doc_id (bounded per-doc state,
    // spillable).
    // The block table IS the passage index: persisting (bh, ndocs)
    // gives the incremental form for daily drops (the q74 posture).
    Q(
      "q110_block_boilerplate",
      (s, dir) => removeBoilerplateBlocks(Llm.docsSpread(s, dir)),
      Some("""
        WITH tk AS (
          SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
          FROM documents WHERE len(list_filter(str_split(text, ' '), x -> x <> '')) >= 1),
        g AS (
          SELECT doc_id, toks,
            unnest(generate_series(0, (len(toks) + 9) // 10 - 1)) AS pos
          FROM tk),
        b AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            array_to_string(toks[CAST(pos * 10 + 1 AS INT):CAST(pos * 10 + 10 AS INT)], ' ') AS blk
          FROM g),
        b2 AS (
          SELECT doc_id, pos, blk,
            CAST(CAST(concat('0x', substr(md5(blk), 1, 15)) AS UBIGINT) AS BIGINT) AS bh
          FROM b),
        c AS (SELECT bh, count(DISTINCT doc_id) AS ndocs FROM b2 GROUP BY bh)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(coalesce(sum(CASE WHEN ndocs >= 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rm,
          coalesce(string_agg(blk, ' ' ORDER BY pos) FILTER (WHERE ndocs < 3), '') AS clean_text
        FROM b2 JOIN c USING (bh) GROUP BY doc_id""")),

    // --------------------------------------------------------------- q118
    // Curation AUDIT manifest — the provenance record a production
    // pipeline keeps beside q100's survivors: one row per INPUT
    // document with every stage verdict (quality gate, exact-dup
    // canonical if any, lowest verified near-dup partner if any), the
    // FIRST failing stage as the drop reason (the q100 stage order:
    // gate → exact → near), and the final keep bit. keep = 1 rows are
    // exactly q100's survivor set (CurationAuditSpec pins the
    // equivalence); the counts-by-reason are the numbers a data-run
    // report quotes. Same machinery as q100 (gate predicate, exact
    // fingerprints over the gated domain, q21's capped+verified LSH
    // pairs) — the audit adds only per-stage LEFT joins, so its cost
    // is q100's plus two |dups|-sized joins; text never shuffles.
    Q(
      "q118_curation_audit",
      (s, dir) => {
        import s.implicits._
        val docs = Llm.docsSpread(s, dir)
        curationAudit(docs,
          Llm.minhashLshPairs(docs, Llm.lshMaxBucket).select($"d1", $"d2"))
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        $auditSqlCtes
        SELECT doc_id,
          CAST(gate AS BIGINT) AS gate_pass,
          exact_dup_of, near_dup_of, drop_reason, keep
        FROM audit""")),

    // --------------------------------------------------------------- q122
    // Bloom-gated batch-vs-corpus membership (ops.BloomGate) — "which
    // incoming documents already exist in the corpus", the exact-dup
    // drop-time gate in its constant-state form. The corpus fp set
    // (here: md5 of the 40-char boilerplate prefix, the signature this
    // corpus demonstrably repeats; any frozen fp works) is folded into
    // a fixed-size bloom sketch in ONE tree-reduced scan; the batch
    // (doc_id % 10 == 3, q112's drop convention) is prefiltered AT THE
    // SCAN by Spark's own codegen'd might_contain over the literal
    // sketch, and only probable members reach the exact-verify semi
    // join that removes the fpp tail. The bloom provably cannot change
    // the answer (no false negatives; FPs verified away) — so this
    // whole query hash-matches a plain EXISTS in DuckDB, sketch and
    // all. At 10⁹ corpus fps the sketch is ~1.2 GB where the exact set
    // is ~16 GB and un-broadcastable; the exact join shuffles |hits| +
    // fpp·|batch| rows instead of the whole batch. Eager (the sketch
    // build is an action — q45/q83 precedent).
    Q(
      "q122_bloom_gate",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents")
        // expectedItems from the parquet footer count (metadata-only,
        // count pushdown — no data scan): sizing the sketch from the
        // table total overestimates the 90% corpus slice by ~11%,
        // which only widens the sketch; skipping the exact count
        // keeps the build at ONE corpus scan (BloomGate's contract)
        graft.ops.BloomGate.membership(
          docs.filter($"doc_id" % 10 =!= 3)
            .select(md5(substring($"text", 1, 40)).as("fp")),
          docs.filter($"doc_id" % 10 === 3)
            .select($"doc_id", md5(substring($"text", 1, 40)).as("fp")),
          expectedItems = Some(table(s, dir, "documents").count()))
      },
      Some("""
        SELECT b.doc_id,
          CAST(EXISTS (
            SELECT 1 FROM documents c
            WHERE c.doc_id % 10 <> 3
              AND md5(substr(c.text, 1, 40)) = md5(substr(b.text, 1, 40))) AS BIGINT) AS hit
        FROM documents b WHERE b.doc_id % 10 = 3"""))
  ,
    // --------------------------------------------------------------- q137
    // Benchmark DECONTAMINATION — the check every training pipeline
    // runs before a corpus ships: which documents share a verbatim
    // 8-token run with the held-out evaluation set (doc_id % 19 = 7
    // stands in for the benchmark)? The GPT-3/PaLM-style n-gram
    // collision rule: any shared W-gram flags the doc; reported per
    // contaminated doc with the distinct colliding grams and the
    // distinct benchmark docs touched (the triage columns: one shared
    // boilerplate gram vs systematic leakage read very differently).
    //
    // Scale shape: the benchmark side is SMALL by definition
    // (benchmarks are MB-scale) — its distinct gram table broadcasts.
    // Corpus grams stream scan-side into the broadcast-hash join and
    // NEVER shuffle (no distinct before the join — the per-doc
    // counts are DISTINCT aggregates, so gram multiplicity cannot
    // change the answer); the only exchange is the doc_id-keyed agg
    // over rows that actually HIT, which is contamination-sized, not
    // corpus-sized. The incremental at-rest twin is [[graft.ops
    // .Decontam]]: eval grams persisted once, each drop probed at
    // ingest (DecontamSpec pins probe ≡ this query).
    Q(
      "q137_decontam",
      (s, dir) => {
        import s.implicits._
        // ONE gram generator, shared with ops.Decontam's persisted
        // state — twin pipelines drift (the shared-shingle-generator
        // convention), and probe ≡ q137 must hold by construction
        def grams(df: org.apache.spark.sql.DataFrame) =
          graft.ops.Decontam.gramHashes(df, 8)
        val docs = Llm.docsSpread(s, dir)
        val ev = grams(docs.filter($"doc_id" % 19 === 7))
          .select($"doc_id".as("eval_doc"), $"gh").distinct()
        grams(docs.filter($"doc_id" % 19 =!= 7))
          .join(broadcast(ev), "gh")
          .groupBy($"doc_id")
          .agg(
            countDistinct($"gh").cast("long").as("n_hit_grams"),
            countDistinct($"eval_doc").cast("long").as("n_eval_docs"))
      },
      Some(s"""
        WITH toks AS (
          -- constant series bound (the minhashCandSql pattern:
          -- DuckDB's generate_series cannot take a lateral column
          -- bound) — the CASE makes a corpus outgrowing the bound a
          -- LOUD oracle error, never a silent divergence
          SELECT doc_id,
            CASE WHEN len(t0) > 1000
                 THEN error('oracle token bound 1000 exceeded — raise the series bound')
                 ELSE t0 END AS t
          FROM (SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t0
          FROM documents)),
        g AS (
          SELECT doc_id, ${Selection.h60Sql("array_to_string(t[i:i+7], ' ')")} AS gh
          FROM toks CROSS JOIN generate_series(1, 1000) s(i)
          WHERE s.i <= len(t) - 7),
        ev AS (SELECT DISTINCT doc_id AS eval_doc, gh FROM g WHERE doc_id % 19 = 7),
        co AS (SELECT doc_id, gh FROM g WHERE doc_id % 19 <> 7)
        SELECT co.doc_id,
          CAST(count(DISTINCT co.gh) AS BIGINT) AS n_hit_grams,
          CAST(count(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
        FROM co JOIN ev ON ev.gh = co.gh
        GROUP BY co.doc_id"""))
  ,
    // --------------------------------------------------------------- q141
    // NEAR-duplicate decontamination — q137 catches verbatim
    // benchmark leakage; this catches the PARAPHRASED kind (the
    // rewritten/reformatted benchmark copies a verbatim n-gram rule
    // provably misses): q21's verified-LSH near-dup machinery, pair
    // stream restricted to eval×corpus cross pairs (the q74 cross-set
    // restriction with the eval set, doc_id % 19 = 7, as the probe
    // side). Per contaminated corpus doc: how many eval docs it
    // near-duplicates and the closest one (jac desc, eval_doc asc —
    // deterministic).
    //
    // Scale shape: q21's — banded signatures shuffle, never text;
    // hot buckets capped; the output windows partition per corpus
    // doc over LSH-bounded partner lists. In the at-rest posture the
    // eval set's bands persist via Lsh.saveBands and each drop
    // probes them (Lsh.incrementalCandidates' two tiers) — the exact
    // same machinery, so no separate state module is needed.
    Q(
      "q141_near_decontam",
      (s, dir) => {
        import s.implicits._
        val pairs = Llm.minhashLshPairs(Llm.docsSpread(s, dir), Llm.lshMaxBucket)
        val cross = pairs.filter(($"d1" % 19 === 7) =!= ($"d2" % 19 === 7))
          .select(
            when($"d1" % 19 === 7, $"d2").otherwise($"d1").as("doc_id"),
            when($"d1" % 19 === 7, $"d1").otherwise($"d2").as("eval_doc"),
            $"jac")
        cross
          .withColumn("rk", row_number().over(
            Window.partitionBy($"doc_id").orderBy($"jac".desc, $"eval_doc".asc)))
          .withColumn("n_eval_partners",
            count(lit(1)).over(Window.partitionBy($"doc_id")).cast("long"))
          .filter($"rk" === 1)
          .select($"doc_id", $"n_eval_partners",
            $"eval_doc".as("best_eval"), $"jac".as("best_jac"))
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        cross_pairs AS (
          SELECT CASE WHEN d1 % 19 = 7 THEN d2 ELSE d1 END AS doc_id,
            CASE WHEN d1 % 19 = 7 THEN d1 ELSE d2 END AS eval_doc,
            jac
          FROM pairs
          WHERE (d1 % 19 = 7) <> (d2 % 19 = 7)),
        ranked AS (
          SELECT doc_id, eval_doc, jac,
            row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, eval_doc ASC) AS rk,
            CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_eval_partners
          FROM cross_pairs)
        SELECT doc_id, n_eval_partners, eval_doc AS best_eval, jac AS best_jac
        FROM ranked WHERE rk = 1"""))
  ,
    // --------------------------------------------------------------- q144
    // Dedup STRATEGY OVERLAP audit — the Venn a curation team reads
    // before picking (or stacking) dedup passes: per document, does
    // the EXACT rule flag it (NORMALIZED md5 fingerprint, keep-lowest
    // — q100/CurationPipeline's production rule, deliberately, not
    // q20's raw-text md5: the audit's whole question is whether
    // near-dup earns its cost over the exact pass the pipeline
    // actually runs, and case/whitespace variants are exactly the
    // docs the two rules disagree on), does the NEAR-dup rule drop
    // it (q45's verified-LSH
    // clusters, non-canonical members — q85's drop set), and does it
    // carry shared BOILERPLATE passages (q110's aligned blocks in ≥3
    // docs)? The three columns answer the standing questions: is
    // near-dup earning its cost over exact (near \ exact), and is
    // the boilerplate pass reaching docs neither dedup drops
    // (boiler \ (exact ∪ near) — usually the bulk, since passages
    // repeat across otherwise-distinct pages)? GROUP BY over the
    // three flags IS the 8-cell Venn.
    //
    // Scale shape: three independent signature shuffles — 16-byte
    // fps, banded minhash signatures, 8-byte block hashes — text
    // never shuffles anywhere; the reconcile joins are doc-keyed
    // with dup-sized sides. Strictly the union of machinery the
    // engine already runs (q20 ∪ q45/q85 ∪ q110) reconciled in one
    // pass.
    Q(
      "q144_dedup_overlap",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents")
        val fp = docs.select($"doc_id",
          md5(trim(regexp_replace(lower($"text"), "[ \\t\\n\\x0B\\f\\r]+", " "))).as("fp"))
        val exact = fp
          .join(fp.groupBy($"fp").agg(min($"doc_id").as("keep")), "fp")
          .select($"doc_id", ($"doc_id" =!= $"keep").cast("long").as("exact_dup"))
        val nearDrops = Llm.all.find(_.name == "q45_dedup_clusters").get.run(s, dir)
          .filter($"v" =!= $"cluster_id").select($"v".as("doc_id"))
          .withColumn("near_dup", lit(1L))
        val blocks = Checkpoints.local(blockFrame(docs, 10))
        val hot = blocks.groupBy($"bh").agg(countDistinct($"doc_id").as("ndocs"))
          .filter($"ndocs" >= 3).select($"bh")
        val boiler = blocks.join(hot, "bh").select($"doc_id").distinct()
          .withColumn("has_boiler", lit(1L))
        exact
          .join(broadcast(nearDrops), Seq("doc_id"), "left")
          .join(boiler, Seq("doc_id"), "left")
          .select($"doc_id", $"exact_dup",
            coalesce($"near_dup", lit(0L)).as("near_dup"),
            coalesce($"has_boiler", lit(0L)).as("has_boiler"))
      },
      Some(s"""
        WITH RECURSIVE pairs AS (${Llm.minhashPairsSql}),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION
          SELECT d2, d1 FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        cc AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
        ndrop AS (SELECT v FROM cc WHERE v <> cluster_id),
        fp AS (
          SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
          FROM documents),
        keepf AS (SELECT fp, min(doc_id) AS keep FROM fp GROUP BY fp),
        tk AS (
          SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
          FROM documents WHERE len(list_filter(str_split(text, ' '), x -> x <> '')) >= 1),
        g AS (
          SELECT doc_id, toks,
            unnest(generate_series(0, (len(toks) + 9) // 10 - 1)) AS pos
          FROM tk),
        b2 AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(array_to_string(toks[CAST(pos * 10 + 1 AS INT):CAST(pos * 10 + 10 AS INT)], ' ')), 1, 15)) AS UBIGINT) AS BIGINT) AS bh
          FROM g),
        hot AS (
          SELECT bh FROM (
            SELECT bh, count(DISTINCT doc_id) AS nd FROM b2 GROUP BY bh)
          WHERE nd >= 3),
        boil AS (SELECT DISTINCT b2.doc_id FROM b2 JOIN hot USING (bh))
        SELECT f.doc_id,
          CAST(f.doc_id <> k.keep AS BIGINT) AS exact_dup,
          CAST(f.doc_id IN (SELECT v FROM ndrop) AS BIGINT) AS near_dup,
          CAST(f.doc_id IN (SELECT doc_id FROM boil) AS BIGINT) AS has_boiler
        FROM fp f JOIN keepf k USING (fp)""")),

    // --------------------------------------------------------------- q147
    // Token FUNNEL — the attrition table a training-data run report
    // leads with: docs AND tokens remaining after each stage of the
    // production stack, in q100/q118's stage order (input → quality
    // gate → exact dedup → near dedup), plus the boilerplate pass
    // (q110's ≥3-doc blocks removed from the SURVIVORS — a within-doc
    // token loss, so its doc count matches the previous stage). Doc
    // counts alone mislead: near-dup drops skew long (boilerplate
    // mirrors), gate drops skew short — only the token column says
    // what the run actually costs in training mass. Verdicts come
    // from the SAME [[curationAudit]] engine as q118 (funnel and
    // manifest can never disagree) and the clean token mass from the
    // SAME [[removeBoilerplateBlocks]] engine as q110.
    //
    // Scale shape: q118's machinery (gate scan, gated fingerprints,
    // capped LSH pairs) + one whitespace-token count in the same
    // scan, all map-side-combined into a 1-row aggregate; the block
    // pass runs q110's shape on the kept slice. Output: 5 rows, all
    // BIGINT.
    Q(
      "q147_token_funnel",
      (s, dir) => {
        import s.implicits._
        val docs = Llm.docsSpread(s, dir)
        val audit = Checkpoints.local(curationAudit(docs,
          Llm.minhashLshPairs(docs, Llm.lshMaxBucket).select($"d1", $"d2"))) // consumed by the stage agg AND the kept slice
        val nt = docs.select($"doc_id",
          size(expr("filter(split(text, ' '), x -> x <> '')"))
            .cast("long").as("nt"))
        val st = audit.join(nt, "doc_id").select(
          $"nt",
          $"gate_pass".as("g"),
          ($"gate_pass" === 1L && $"exact_dup_of".isNull).cast("long").as("e"),
          $"keep".as("k"))
        val kept = docs.join(
          audit.filter($"keep" === 1L).select($"doc_id"), "doc_id")
        val cleanTok = removeBoilerplateBlocks(kept)
          .select(size(expr("filter(split(clean_text, ' '), x -> x <> '')"))
            .cast("long").as("ct"))
          .agg(coalesce(sum($"ct"), lit(0L)).cast("long").as("b_tok"))
        st.agg(
            count(lit(1)).cast("long").as("in_docs"),
            coalesce(sum($"nt"), lit(0L)).cast("long").as("in_tok"),
            coalesce(sum($"g"), lit(0L)).cast("long").as("g_docs"),
            coalesce(sum($"g" * $"nt"), lit(0L)).cast("long").as("g_tok"),
            coalesce(sum($"e"), lit(0L)).cast("long").as("e_docs"),
            coalesce(sum($"e" * $"nt"), lit(0L)).cast("long").as("e_tok"),
            coalesce(sum($"k"), lit(0L)).cast("long").as("k_docs"),
            coalesce(sum($"k" * $"nt"), lit(0L)).cast("long").as("k_tok"))
          .crossJoin(cleanTok)
          .select(expr("""stack(5,
              CAST(0 AS BIGINT), 'input',        in_docs, in_tok,
              CAST(1 AS BIGINT), 'quality_gate', g_docs,  g_tok,
              CAST(2 AS BIGINT), 'exact_dedup',  e_docs,  e_tok,
              CAST(3 AS BIGINT), 'near_dedup',   k_docs,  k_tok,
              CAST(4 AS BIGINT), 'boilerplate',  k_docs,  b_tok)
            AS (stage_id, stage, n_docs, n_tokens)"""))
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        $auditSqlCtes,
        nt AS (
          SELECT doc_id,
            CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
          FROM documents),
        st AS (
          SELECT a.doc_id, a.gate,
            (a.exact_dup_of IS NULL) AS no_exact,
            (a.keep = 1) AS keep,
            nt.nt
          FROM audit a
          JOIN nt ON a.doc_id = nt.doc_id),
        ag AS (
          SELECT
            CAST(count(*) AS BIGINT) AS in_docs,
            CAST(coalesce(sum(nt), 0) AS BIGINT) AS in_tok,
            CAST(coalesce(sum(CASE WHEN gate THEN 1 ELSE 0 END), 0) AS BIGINT) AS g_docs,
            CAST(coalesce(sum(CASE WHEN gate THEN nt ELSE 0 END), 0) AS BIGINT) AS g_tok,
            CAST(coalesce(sum(CASE WHEN gate AND no_exact THEN 1 ELSE 0 END), 0) AS BIGINT) AS e_docs,
            CAST(coalesce(sum(CASE WHEN gate AND no_exact THEN nt ELSE 0 END), 0) AS BIGINT) AS e_tok,
            CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS k_docs,
            CAST(coalesce(sum(CASE WHEN keep THEN nt ELSE 0 END), 0) AS BIGINT) AS k_tok
          FROM st),
        ktk AS (
          SELECT d.doc_id, list_filter(str_split(d.text, ' '), x -> x <> '') AS toks
          FROM documents d JOIN st ON st.doc_id = d.doc_id AND st.keep
          WHERE len(list_filter(str_split(d.text, ' '), x -> x <> '')) >= 1),
        kg AS (
          SELECT doc_id, toks,
            unnest(generate_series(0, (len(toks) + 9) // 10 - 1)) AS pos
          FROM ktk),
        kb AS (
          SELECT doc_id, pos,
            toks[CAST(pos * 10 + 1 AS INT):CAST(pos * 10 + 10 AS INT)] AS bt
          FROM kg),
        kb2 AS (
          SELECT doc_id, pos, CAST(len(bt) AS BIGINT) AS btn,
            CAST(CAST(concat('0x', substr(md5(array_to_string(bt, ' ')), 1, 15)) AS UBIGINT) AS BIGINT) AS bh
          FROM kb),
        kc AS (SELECT bh, count(DISTINCT doc_id) AS ndocs FROM kb2 GROUP BY bh),
        btk AS (
          SELECT CAST(coalesce(sum(CASE WHEN ndocs < 3 THEN btn ELSE 0 END), 0) AS BIGINT) AS b_tok
          FROM kb2 JOIN kc USING (bh))
        SELECT u.stage_id, u.stage, u.n_docs, u.n_tokens
        FROM ag, btk, LATERAL (
          SELECT CAST(0 AS BIGINT) AS stage_id, 'input' AS stage,
            ag.in_docs AS n_docs, ag.in_tok AS n_tokens
          UNION ALL SELECT CAST(1 AS BIGINT), 'quality_gate', ag.g_docs, ag.g_tok
          UNION ALL SELECT CAST(2 AS BIGINT), 'exact_dedup', ag.e_docs, ag.e_tok
          UNION ALL SELECT CAST(3 AS BIGINT), 'near_dedup', ag.k_docs, ag.k_tok
          UNION ALL SELECT CAST(4 AS BIGINT), 'boilerplate', ag.k_docs, btk.b_tok) u""")),

    // --------------------------------------------------------------- q148
    // Cross-source SUBSTRING-flow matrix — q125's sibling one level
    // down: q125 counts whole near-dup DOCS per source pair; q148
    // counts shared PASSAGE mass (q110's aligned 10-token blocks)
    // between each unordered source pair — which "independent"
    // sources are actually serving the same boilerplate/syndicated
    // passages even where no whole document duplicates. Per pair:
    // distinct shared block hashes, and how many docs on each side
    // carry at least one of them (the blast radius if the pair were
    // reconciled). The review surface before mixing sources a
    // doc-level dup matrix calls clean.
    //
    // Scale shape: text never shuffles — the 8-byte block-hash
    // stream (the SAME [[blockFrame]] as q110/q144, so flow and
    // removal can never disagree on alignment) reduces to a distinct
    // (bh, source, doc) frame; the per-block self-join is bounded by
    // |sources| per block (the matrix is |sources|²-sized), and the
    // carrier counts are doc-keyed joins against the same frame.
    Q(
      "q148_substring_flow",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents")
        val bsd = Checkpoints.local(blockFrame(docs, 10)
          .join(docs.select($"doc_id", $"source"), "doc_id")
          .select($"bh", $"source", $"doc_id")
          .distinct()) // consumed by the pair join AND both carrier passes
        val bsrc = Checkpoints.local(bsd.select($"bh", $"source").distinct()) // both sides of the per-block self-join
        val prs = Checkpoints.local(bsrc.as("x")
          .join(bsrc.as("y"),
            col("x.bh") === col("y.bh") && col("x.source") < col("y.source"))
          .select(col("x.bh").as("bh"),
            col("x.source").as("sa"), col("y.source").as("sb"))) // consumed by nsh + the carrier join
        val nsh = prs.groupBy($"sa", $"sb")
          .agg(count(lit(1)).cast("long").as("n_shared"))
        // ONE melt join for both carrier counts (side = which end of
        // the pair the carrier sits on, residual disjunction inside
        // the bh hash join) instead of two copy-paste join+agg passes
        // — halves the carrier-pass shuffle at the billion-block
        // scale this query is pitched at
        val carriers = prs.as("p")
          .join(bsd.as("c"),
            col("p.bh") === col("c.bh") &&
              (col("c.source") === col("p.sa") || col("c.source") === col("p.sb")))
          .select(col("p.sa").as("sa"), col("p.sb").as("sb"),
            when(col("c.source") === col("p.sa"), lit("a")).otherwise(lit("b")).as("side"),
            col("c.doc_id").as("doc_id"))
          .groupBy($"sa", $"sb")
          .agg(
            expr("count(DISTINCT CASE WHEN side = 'a' THEN doc_id END)")
              .cast("long").as("n_docs_a"),
            expr("count(DISTINCT CASE WHEN side = 'b' THEN doc_id END)")
              .cast("long").as("n_docs_b"))
        nsh.join(carriers, Seq("sa", "sb"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
          FROM documents WHERE len(list_filter(str_split(text, ' '), x -> x <> '')) >= 1),
        g AS (
          SELECT doc_id, toks,
            unnest(generate_series(0, (len(toks) + 9) // 10 - 1)) AS pos
          FROM tk),
        b2 AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(array_to_string(toks[CAST(pos * 10 + 1 AS INT):CAST(pos * 10 + 10 AS INT)], ' ')), 1, 15)) AS UBIGINT) AS BIGINT) AS bh
          FROM g),
        bsd AS (
          SELECT DISTINCT b2.bh, d.source, b2.doc_id
          FROM b2 JOIN documents d ON b2.doc_id = d.doc_id),
        bsrc AS (SELECT DISTINCT bh, source FROM bsd),
        prs AS (
          SELECT x.bh, x.source AS sa, y.source AS sb
          FROM bsrc x JOIN bsrc y ON x.bh = y.bh AND x.source < y.source),
        nsh AS (
          SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_shared
          FROM prs GROUP BY sa, sb),
        carriers AS (
          SELECT p.sa, p.sb,
            CAST(count(DISTINCT CASE WHEN c.source = p.sa THEN c.doc_id END) AS BIGINT) AS n_docs_a,
            CAST(count(DISTINCT CASE WHEN c.source = p.sb THEN c.doc_id END) AS BIGINT) AS n_docs_b
          FROM prs p JOIN bsd c
            ON c.bh = p.bh AND (c.source = p.sa OR c.source = p.sb)
          GROUP BY p.sa, p.sb)
        SELECT nsh.sa, nsh.sb, nsh.n_shared, carriers.n_docs_a, carriers.n_docs_b
        FROM nsh
        JOIN carriers USING (sa, sb)""")),

    // --------------------------------------------------------------- q149
    // Drop QUALITY audit — what quality mass is each curation stage
    // deleting? Per drop bucket (q118's drop_reason, plus 'kept'):
    // doc count, docs passing the INDEPENDENT Gopher quality verdict
    // (q87's rules — deliberately not the pipeline's own gate, which
    // by construction fails exactly the quality_gate bucket), token
    // mass, and gopher-passing token mass. The question it answers:
    // is near-dup dedup deleting good documents (mirrors of quality
    // pages — fine, the canonical survives) or documents the quality
    // bar would have killed anyway (then the dedup pass is doing the
    // gate's job at LSH prices)? High pass-rate in 'near_dup' with a
    // low rate in 'kept' would instead flag canonical-selection bias.
    //
    // Scale shape: q118's audit machinery + q87's one tokenize+agg
    // pass + a token count in the audit scan; the reconcile is two
    // doc-keyed joins and one map-side-combined |buckets|-row agg.
    // All counts BIGINT.
    Q(
      "q149_drop_quality",
      (s, dir) => {
        import s.implicits._
        val docs = Llm.docsSpread(s, dir)
        val audit = curationAudit(docs,
          Llm.minhashLshPairs(docs, Llm.lshMaxBucket).select($"d1", $"d2"))
        // gopherRules only emits docs with ≥1 a-z word; absent docs
        // cannot pass (coalesce 0) — same convention as q135
        val gq = Mining.gopherRules(docs).select($"doc_id", $"pass")
        val nt = docs.select($"doc_id",
          size(expr("filter(split(text, ' '), x -> x <> '')"))
            .cast("long").as("nt"))
        audit
          .select($"doc_id", coalesce($"drop_reason", lit("kept")).as("bucket"))
          .join(nt, "doc_id")
          .join(gq, Seq("doc_id"), "left")
          .select($"bucket", $"nt", coalesce($"pass", lit(0L)).as("p"))
          .groupBy($"bucket")
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum($"p").cast("long").as("n_gopher_pass"),
            sum($"nt").cast("long").as("n_tokens"),
            sum($"p" * $"nt").cast("long").as("gopher_pass_tokens"))
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        ${Mining.gopherSqlCtes},
        $auditSqlCtes,
        bk AS (
          SELECT doc_id, coalesce(drop_reason, 'kept') AS bucket
          FROM audit),
        nt AS (
          SELECT doc_id,
            CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
          FROM documents)
        SELECT bk.bucket,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(coalesce(sum(coalesce(gop.pass, 0)), 0) AS BIGINT) AS n_gopher_pass,
          CAST(coalesce(sum(nt.nt), 0) AS BIGINT) AS n_tokens,
          CAST(coalesce(sum(coalesce(gop.pass, 0) * nt.nt), 0) AS BIGINT) AS gopher_pass_tokens
        FROM bk
        JOIN nt ON bk.doc_id = nt.doc_id
        LEFT JOIN gop ON bk.doc_id = gop.doc_id
        GROUP BY bk.bucket"""))
  ,

    // --------------------------------------------------------------- q157
    // Per-SOURCE curation report card — the q149/q147 numbers sliced
    // by provenance: for each source, input docs and tokens, drops by
    // stage (q118's verdicts — gate / exact / near), survivors, and
    // surviving token mass. The first table a curation run report
    // shows per supplier: which source is gate-fodder, which is
    // mirror-heavy (high exact/near share), which delivers the kept
    // mass. Same [[curationAudit]] engine as q118/q147/q149 — the
    // per-source card cannot disagree with the global funnel.
    //
    // Scale shape: q118's machinery + the token count in the same
    // scan, one doc-keyed join to attach source, map-side-combined
    // to |sources| rows.
    Q(
      "q157_source_report",
      (s, dir) => {
        import s.implicits._
        val docs = Llm.docsSpread(s, dir)
        val audit = curationAudit(docs,
          Llm.minhashLshPairs(docs, Llm.lshMaxBucket).select($"d1", $"d2"))
        val meta = docs.select($"doc_id", $"source",
          size(expr("filter(split(text, ' '), x -> x <> '')"))
            .cast("long").as("nt"))
        audit.join(meta, "doc_id")
          .groupBy($"source")
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            // when/otherwise, not a bare comparison cast: drop_reason
            // is NULL for kept docs, and a source with ZERO drops
            // would otherwise sum all-NULLs to NULL (caught by
            // SourceReportSpec's clean source)
            sum(when($"drop_reason" === "quality_gate", 1L).otherwise(0L))
              .cast("long").as("n_gate_drop"),
            sum(when($"drop_reason" === "exact_dup", 1L).otherwise(0L))
              .cast("long").as("n_exact_drop"),
            sum(when($"drop_reason" === "near_dup", 1L).otherwise(0L))
              .cast("long").as("n_near_drop"),
            sum($"keep").cast("long").as("n_kept"),
            sum($"nt").cast("long").as("tokens_total"),
            sum($"keep" * $"nt").cast("long").as("tokens_kept"))
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        $auditSqlCtes,
        a AS (SELECT doc_id, drop_reason, keep FROM audit),
        m AS (
          SELECT doc_id, source,
            CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
          FROM documents)
        SELECT m.source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(coalesce(sum(CASE WHEN a.drop_reason = 'quality_gate' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gate_drop,
          CAST(coalesce(sum(CASE WHEN a.drop_reason = 'exact_dup' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact_drop,
          CAST(coalesce(sum(CASE WHEN a.drop_reason = 'near_dup' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_near_drop,
          CAST(coalesce(sum(a.keep), 0) AS BIGINT) AS n_kept,
          CAST(coalesce(sum(m.nt), 0) AS BIGINT) AS tokens_total,
          CAST(coalesce(sum(a.keep * m.nt), 0) AS BIGINT) AS tokens_kept
        FROM a JOIN m ON a.doc_id = m.doc_id
        GROUP BY m.source""")),

    // ---------------------------------------------------------------- q169
    // EXACT equi-depth histogram — the optimizer-statistics staple
    // (DB NDV histograms, eval-set balance checks) done the
    // distributed-exact way: 10 buckets of equal ROW count over
    // lineitem prices, boundaries from the true global order, not a
    // sample. The rank comes from ops.GlobalRank (range-partition +
    // per-partition offsets — q83's machinery), so no empty-
    // partition-spec window ever concentrates the sort on one task;
    // bucket assignment is pure integer arithmetic ((rk−1)·10 div n)
    // and the per-bucket min/max/mass aggregate map-side. Ties split
    // across boundaries deterministically via the (price, orderkey,
    // linenumber) total key — equi-DEPTH is exact by construction
    // (bucket sizes differ by ≤ 1), which a value-quantile sketch
    // (q72) only approximates.
    Q(
      "q169_equidepth_hist",
      (s, dir) => {
        import s.implicits._
        val li = table(s, dir, "lineitem")
          .select(dec($"l_extendedprice").as("v"),
            $"l_orderkey", $"l_linenumber")
        val ranked = graft.ops.GlobalRank.withRank(
          li, Seq($"v".asc, $"l_orderkey".asc, $"l_linenumber".asc),
          "rk", s.sparkContext.defaultParallelism)
        val total = li.agg(count(lit(1)).cast("long").as("n"))
        ranked.crossJoin(broadcast(total))
          .withColumn("bucket", expr("(rk - 1) * 10 div n"))
          .groupBy($"bucket")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            out(min($"v")).as("lo"), out(max($"v")).as("hi"),
            out(sum($"v")).as("mass"))
      },
      Some("""
        WITH r AS (
          SELECT CAST(l_extendedprice AS DECIMAL(18,4)) AS v,
            CAST(row_number() OVER (
              ORDER BY CAST(l_extendedprice AS DECIMAL(18,4)),
                       l_orderkey, l_linenumber) AS BIGINT) AS rk,
            CAST(count(*) OVER () AS BIGINT) AS n
          FROM lineitem)
        SELECT (rk - 1) * 10 // n AS bucket,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi,
          CAST(sum(v) AS DOUBLE) AS mass
        FROM r GROUP BY (rk - 1) * 10 // n""")),

    // ---------------------------------------------------------------- q178
    // COLUMN-LEVEL CHANGE ATTRIBUTION — the field q112's whole-row
    // fingerprint diff cannot answer: WHICH column changed. q112
    // tells the pipeline "doc 42 changed"; this emits the per-column
    // change mask (text / lang / source) that decides what actually
    // re-triggers — a text change re-shingles and re-indexes, a
    // source-only migration touches provenance tables and nothing
    // else. Versions are carved deterministically from the one
    // documents table (v1 drops doc_id%11=3; v2 drops %13=5, appends
    // a revision marker to text on %9=2 and migrates source on
    // %17=1), so the oracle replays the exact same construction.
    // Unchanged docs are FILTERED OUT: the output is delta-sized,
    // never corpus-sized.
    //
    // Scale shape: each version projects to (doc_id, 16-byte md5 per
    // tracked column) IN THE SCAN — wide text never shuffles, the
    // full-outer join moves |docs| × ~52-byte rows hash-partitioned
    // on the key, and the change mask is pure digest comparison. At
    // 100 TB this is one narrow co-partitioned join; with both
    // versions bucketed on doc_id it degrades to a zero-shuffle
    // sort-merge.
    Q(
      "q178_column_diff",
      (s, dir) => {
        val (v1, v2) = diffVersions(Llm.docsSpread(s, dir))
        columnDiff(v1, v2)
      },
      Some(columnDiffSql)),

    // ---------------------------------------------------------------- q183
    // CURATION CONFIG A/B DIFF — the question a data team actually
    // asks before tightening a pipeline: "if we raise the gate to 60
    // chars / 2 stopwords and the near-dup bar to jac ≥ 0.5, WHICH
    // documents flip, and at which stage?" Both configs run through
    // the ONE q118 audit engine (parameterized this round, so A/B and
    // production cannot drift), joined per doc; output only the docs
    // whose keep bit or drop reason changes, with the FIRST diverging
    // stage. The subtlety this surfaces that no per-config report
    // can: config changes CASCADE — a doc gated out under B changes
    // its fp-group's canonical min(doc_id), which flips OTHER docs'
    // exact-dup verdicts ('exact_dup' divergences on docs that pass
    // both gates).
    //
    // Scale shape: two audit plans over one scan each (the gate is
    // scan-side, fp/canon group on 16-byte digests, near drops reuse
    // the SAME materialized pair frame — the LSH machinery runs
    // ONCE); the diff join is doc-keyed and the output is
    // flip-sized. At 100 TB this is how a config change is costed
    // BEFORE a full re-run: flip counts by stage, not a second
    // corpus pass per candidate config.
    Q(
      "q183_config_ab",
      (s, dir) => {
        import s.implicits._
        val docs = Llm.docsSpread(s, dir)
        // one LSH pass serves both configs (B filters by jac)
        val pairs = Checkpoints.local(Llm.minhashLshPairs(docs, Llm.lshMaxBucket))
        val a = curationAudit(docs, pairs.select($"d1", $"d2"), 30, 1)
          .select($"doc_id", $"gate_pass".as("gate_a"),
            $"exact_dup_of".as("exa"), $"near_dup_of".as("nra"),
            $"drop_reason".as("reason_a"), $"keep".as("in_a"))
        val b = curationAudit(docs,
            pairs.filter($"jac" >= 0.5).select($"d1", $"d2"), 60, 2)
          .select($"doc_id", $"gate_pass".as("gate_b"),
            $"exact_dup_of".as("exb"), $"near_dup_of".as("nrb"),
            $"drop_reason".as("reason_b"), $"keep".as("in_b"))
        a.join(b, "doc_id")
          .filter($"in_a" =!= $"in_b" ||
            coalesce($"reason_a", lit("")) =!= coalesce($"reason_b", lit("")))
          .select($"doc_id", $"in_a", $"in_b",
            coalesce($"reason_a", lit("kept")).as("reason_a"),
            coalesce($"reason_b", lit("kept")).as("reason_b"),
            // explicit nullability compare, NOT a -1 sentinel: doc_id
            // is an unconstrained Long (tests generate negative ids),
            // so a legitimate doc_id of -1 must not mask a divergence
            when($"gate_a" =!= $"gate_b", "quality_gate")
              .when($"exa".isNull =!= $"exb".isNull ||
                ($"exa".isNotNull && $"exb".isNotNull && $"exa" =!= $"exb"),
                "exact_dup")
              .otherwise("near_dup").as("diverged_stage"))
      },
      Some(s"""
        WITH pairs AS (${Llm.minhashPairsSql}),
        pairs_b AS (SELECT d1, d2 FROM pairs WHERE jac >= 0.5),
        ${auditSqlCtesFor("a_", 30, 1, "pairs")},
        ${auditSqlCtesFor("b_", 60, 2, "pairs_b")}
        SELECT a.doc_id,
          a.keep AS in_a, b.keep AS in_b,
          coalesce(a.drop_reason, 'kept') AS reason_a,
          coalesce(b.drop_reason, 'kept') AS reason_b,
          CASE WHEN a.gate <> b.gate THEN 'quality_gate'
               WHEN (a.exact_dup_of IS NULL) <> (b.exact_dup_of IS NULL)
                 OR (a.exact_dup_of IS NOT NULL AND b.exact_dup_of IS NOT NULL
                     AND a.exact_dup_of <> b.exact_dup_of)
                 THEN 'exact_dup'
               ELSE 'near_dup' END AS diverged_stage
        FROM a_audit a JOIN b_audit b ON a.doc_id = b.doc_id
        WHERE a.keep <> b.keep
           OR coalesce(a.drop_reason, '') <> coalesce(b.drop_reason, '')""")),

    // ---------------------------------------------------------------- q186
    // COLUMN DIFF OVER BUCKETED-AT-REST VERSIONS — q178's own comment
    // names this upgrade ("with both versions bucketed on doc_id it
    // degrades to a zero-shuffle sort-merge"): the two version-digest
    // frames are WRITTEN bucketBy(8, doc_id).sortBy(doc_id) once
    // (ops.Smb — the amortizable layout build, cached per JVM+source),
    // and the reconcile full-outer join then executes with ZERO
    // Exchange and ZERO Sort (SmbSpec asserts it on this very query,
    // non-vacuously). Identical output and oracle to q178 — the
    // layout changes the PLAN, never the answer.
    //
    // Scale shape: snapshot diffing is a RECURRING job (every
    // ingestion cycle diffs against the previous version), which is
    // exactly when pay-shuffle-once wins — SMB_BENCH prices the
    // break-even at ~3 joins; a daily reconcile crosses it in three
    // days. Digests are computed in the scan before the write, so the
    // at-rest layout is already narrow (doc_id + 3×16-byte hashes);
    // wide text never shuffles and never lands in the layout either.
    Q(
      "q186_smb_column_diff",
      (s, dir) => {
        val (v1, v2) = diffVersions(Llm.docsSpread(s, dir))
        val h = (dir.hashCode & 0x7fffffff).toString
        val fp = graft.ops.Smb.sourceFingerprint(s, s"$dir/documents.parquet")
        graft.ops.Smb.ensureBucketed(s, "graft_smb", s"diff_v1_$h",
          "doc_id", 8, fp)(v1)
        graft.ops.Smb.ensureBucketed(s, "graft_smb", s"diff_v2_$h",
          "doc_id", 8, fp)(v2)
        columnDiff(
          graft.ops.Smb.read(s, "graft_smb", s"diff_v1_$h"),
          graft.ops.Smb.read(s, "graft_smb", s"diff_v2_$h"))
      },
      Some(columnDiffSql)),

    // ---------------------------------------------------------------- q189
    // SCD TYPE-2 MERGE — the third artifact of the version family,
    // distinct by contract: q112 detects WHICH rows changed, q178
    // attributes WHICH columns — this MATERIALIZES the merged history
    // table a warehouse dimension maintains: one row per (doc_id,
    // version interval) with validity bounds and a current flag.
    // Unchanged docs carry one open v1 row; changed docs close their
    // v1 row at version 2 and open a v2 row; removed docs close at 2
    // with no successor; added docs open at 2. The digests ARE the
    // attribute payload (the at-rest history of a wide-text dimension
    // stores hashes + a pointer, never the text — same discipline as
    // q178).
    //
    // Scale shape: one full-outer join of the two digest projections
    // (the q178 reconcile — scan-side md5s, narrow rows), then the
    // history rows are a scan-side CASE union: ≤ 2 output rows per
    // doc, no second shuffle (the union legs reuse the one joined
    // frame). With bucketed versions the reconcile is the q186
    // zero-exchange plan.
    Q(
      "q189_scd2_merge",
      (s, dir) => {
        import s.implicits._
        val (v1, v2) = diffVersions(Llm.docsSpread(s, dir))
        val j = Checkpoints.local(v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when($"a_text".isNull, "added")
              .when($"b_text".isNull, "removed")
              .when($"a_text" =!= $"b_text" || $"a_lang" =!= $"b_lang" ||
                $"a_source" =!= $"b_source", "changed")
              .otherwise("unchanged")))
        val v1rows = j.filter($"status" =!= "added")
          .select($"doc_id",
            $"a_text".as("text_md5"), $"a_lang".as("lang_md5"),
            $"a_source".as("source_md5"),
            lit(1L).as("ver_from"),
            when($"status" === "unchanged", lit(null).cast("long"))
              .otherwise(2L).as("ver_to"),
            when($"status" === "unchanged", 1L).otherwise(0L)
              .as("is_current"))
        val v2rows = j.filter($"status".isin("added", "changed"))
          .select($"doc_id",
            $"b_text".as("text_md5"), $"b_lang".as("lang_md5"),
            $"b_source".as("source_md5"),
            lit(2L).as("ver_from"),
            lit(null).cast("long").as("ver_to"),
            lit(1L).as("is_current"))
        v1rows.unionAll(v2rows)
      },
      Some("""
        WITH v1 AS (
          SELECT doc_id, md5(text) AS a_text, md5(lang) AS a_lang,
            md5(source) AS a_source
          FROM documents WHERE doc_id % 11 <> 3),
        v2 AS (
          SELECT doc_id,
            md5(CASE WHEN doc_id % 9 = 2 THEN text || ' [rev2]' ELSE text END) AS b_text,
            md5(lang) AS b_lang,
            md5(CASE WHEN doc_id % 17 = 1 THEN 'migrated' ELSE source END) AS b_source
          FROM documents WHERE doc_id % 13 <> 5),
        j AS (
          SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
            a_text, a_lang, a_source, b_text, b_lang, b_source,
            CASE WHEN a_text IS NULL THEN 'added'
                 WHEN b_text IS NULL THEN 'removed'
                 WHEN a_text <> b_text OR a_lang <> b_lang
                      OR a_source <> b_source THEN 'changed'
                 ELSE 'unchanged'
            END AS status
          FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        SELECT doc_id, a_text AS text_md5, a_lang AS lang_md5,
          a_source AS source_md5,
          CAST(1 AS BIGINT) AS ver_from,
          CAST(CASE WHEN status = 'unchanged' THEN NULL ELSE 2 END AS BIGINT)
            AS ver_to,
          CAST(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END AS BIGINT)
            AS is_current
        FROM j WHERE status <> 'added'
        UNION ALL
        SELECT doc_id, b_text, b_lang, b_source,
          CAST(2 AS BIGINT), CAST(NULL AS BIGINT), CAST(1 AS BIGINT)
        FROM j WHERE status IN ('added', 'changed')"""))
  )

  /** q178/q186's two deterministically-carved document versions,
    * projected to (doc_id, 16-byte md5 per tracked column) in the
    * scan — v1 drops doc_id%11=3; v2 drops %13=5, appends a revision
    * marker to text on %9=2 and migrates source on %17=1.
    */
  private[graft] def diffVersions(
      docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    def digests(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.select($"doc_id", md5($"text").as(s"${tag}_text"),
        md5($"lang").as(s"${tag}_lang"), md5($"source").as(s"${tag}_source"))
    (digests(docs.filter($"doc_id" % 11 =!= 3), "a"),
      digests(
        docs.filter($"doc_id" % 13 =!= 5)
          .select($"doc_id",
            when($"doc_id" % 9 === 2, concat($"text", lit(" [rev2]")))
              .otherwise($"text").as("text"),
            $"lang",
            when($"doc_id" % 17 === 1, lit("migrated")).otherwise($"source").as("source")),
        "b"))
  }

  /** The q178/q186 reconcile: full-outer join on doc_id, per-column
    * change mask from digest comparison, unchanged docs filtered out
    * (delta-sized output). Works identically over live frames (q178)
    * and bucketed-at-rest layouts (q186).
    */
  private[graft] def columnDiff(
      v1: org.apache.spark.sql.DataFrame,
      v2: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = v1.sparkSession
    import s.implicits._
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when($"a_text".isNull, "added")
          .when($"b_text".isNull, "removed")
          .when($"a_text" =!= $"b_text" || $"a_lang" =!= $"b_lang" ||
            $"a_source" =!= $"b_source", "changed"))
      .filter($"status".isNotNull)
      .select($"doc_id", $"status",
        when($"status" === "changed" && $"a_text" =!= $"b_text", 1L)
          .otherwise(0L).as("chg_text"),
        when($"status" === "changed" && $"a_lang" =!= $"b_lang", 1L)
          .otherwise(0L).as("chg_lang"),
        when($"status" === "changed" && $"a_source" =!= $"b_source", 1L)
          .otherwise(0L).as("chg_source"))
  }

  private lazy val columnDiffSql = """
        WITH v1 AS (
          SELECT doc_id, md5(text) AS a_text, md5(lang) AS a_lang,
            md5(source) AS a_source
          FROM documents WHERE doc_id % 11 <> 3),
        v2 AS (
          SELECT doc_id,
            md5(CASE WHEN doc_id % 9 = 2 THEN text || ' [rev2]' ELSE text END) AS b_text,
            md5(lang) AS b_lang,
            md5(CASE WHEN doc_id % 17 = 1 THEN 'migrated' ELSE source END) AS b_source
          FROM documents WHERE doc_id % 13 <> 5),
        j AS (
          SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
            a_text, a_lang, a_source, b_text, b_lang, b_source,
            CASE WHEN a_text IS NULL THEN 'added'
                 WHEN b_text IS NULL THEN 'removed'
                 WHEN a_text <> b_text OR a_lang <> b_lang
                      OR a_source <> b_source THEN 'changed'
            END AS status
          FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        SELECT doc_id, status,
          CAST(CASE WHEN status = 'changed' AND a_text <> b_text THEN 1 ELSE 0 END AS BIGINT) AS chg_text,
          CAST(CASE WHEN status = 'changed' AND a_lang <> b_lang THEN 1 ELSE 0 END AS BIGINT) AS chg_lang,
          CAST(CASE WHEN status = 'changed' AND a_source <> b_source THEN 1 ELSE 0 END AS BIGINT) AS chg_source
        FROM j WHERE status IS NOT NULL"""

  /** Passage-removal engine behind q110. Input: (doc_id, text, ...).
    * Blocks of `blockTokens` consecutive whitespace tokens; a block
    * occurring in ≥ `minDocs` distinct documents is dropped from ALL
    * of them; output (doc_id, n_blocks, n_rm, clean_text) for every
    * document with ≥ 1 token.
    */
  private[graft] def removeBoilerplateBlocks(
      docs: org.apache.spark.sql.DataFrame,
      blockTokens: Int = 10,
      minDocs: Int = 3): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // two consumers (ndocs agg, join back): materialize once so the
    // tokenize+block Generate never re-executes (q88/q93 discipline),
    // laid out by bh so neither consumer re-shuffles
    val blocks = Checkpoints.localByKey(
      blockFrame(docs, blockTokens), "bh", s.sparkContext.defaultParallelism)
    val nd = blocks.groupBy($"bh").agg(countDistinct($"doc_id").as("ndocs"))
    reconstructClean(blocks.join(nd, "bh"), minDocs)
  }

  /** The aligned-block frame (doc_id, pos, blk, bh) of a documents
    * frame — ONE implementation shared by the batch pipeline and
    * `ops.BlockState`'s incremental probe, so corpus state and batch
    * blocks can never desynchronize on tokenization or alignment.
    */
  private[graft] def blockFrame(
      docs: org.apache.spark.sql.DataFrame,
      blockTokens: Int): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .filter(size($"toks") >= 1)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, CAST((size(toks) + ${blockTokens - 1}) div $blockTokens AS INT) - 1), " +
          s"j -> array_join(slice(toks, j * $blockTokens + 1, $blockTokens), ' '))")))
      .select($"doc_id", $"pos".cast("long").as("pos"),
        $"col".as("blk"),
        expr("CAST(conv(substr(md5(col), 1, 15), 16, 10) AS BIGINT)").as("bh"))
  }

  /** q118's audit engine: per input document, every stage verdict of
    * the q100 pipeline (gate flag, exact-dup canonical, lowest
    * verified near-dup partner), the first failing stage as the drop
    * reason, and the keep bit — keep = 1 ⟺ the doc survives q100
    * (CurationAuditSpec).
    */
  private[graft] def curationAudit(
      docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      minChars: Int = 30,
      minStops: Int = 1): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val gate = docs.select($"doc_id",
      (length($"text") >= minChars &&
        size(expr("regexp_extract_all(lower(text), '\\\\b(the|a|and|of|to|in)\\\\b', 0)")) >= minStops)
        .as("gate"))
    val fp = graft.ops.CurationPipeline.qualityGate(docs, minChars, minStops)
      .select($"doc_id",
        md5(trim(regexp_replace(lower($"text"), "[ \\t\\n\\x0B\\f\\r]+", " "))).as("fp"))
    val canon = fp.groupBy($"fp").agg(min($"doc_id").as("canon"))
    val exactOf = fp.join(canon, "fp")
      .filter($"canon" < $"doc_id")
      .select($"doc_id", $"canon".as("exact_dup_of"))
    val nearOf = pairs.groupBy($"d2")
      .agg(min($"d1").as("near_dup_of"))
      .select($"d2".as("doc_id"), $"near_dup_of")
    gate.join(exactOf, Seq("doc_id"), "left")
      .join(nearOf, Seq("doc_id"), "left")
      .select($"doc_id",
        $"gate".cast("long").as("gate_pass"),
        $"exact_dup_of", $"near_dup_of",
        when(!$"gate", "quality_gate")
          .when($"exact_dup_of".isNotNull, "exact_dup")
          .when($"near_dup_of".isNotNull, "near_dup")
          .otherwise(lit(null).cast("string")).as("drop_reason"),
        ($"gate" && $"exact_dup_of".isNull && $"near_dup_of".isNull)
          .cast("long").as("keep"))
  }

  /** q110's per-document reconstruction from a block frame carrying
    * `ndocs` — shared with `ops.BlockState` (identical output schema
    * by construction).
    */
  private[graft] def reconstructClean(
      blocksWithNd: org.apache.spark.sql.DataFrame,
      minDocs: Int): org.apache.spark.sql.DataFrame = {
    val s = blocksWithNd.sparkSession
    import s.implicits._
    blocksWithNd
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_blocks"),
        sum(when($"ndocs" >= minDocs, 1L).otherwise(0L)).cast("long").as("n_rm"),
        expr(s"array_join(transform(array_sort(collect_list(" +
          s"CASE WHEN ndocs < $minDocs THEN struct(pos, blk) END)), x -> x.blk), ' ')").as("clean_text"))
  }
}
