package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over the `documents` / `embeddings` /
  * `events` tables: deduplication (exact, MinHash+LSH, SimHash, blocked
  * n-gram Jaccard, embedding-cosine), similarity search (brute-force +
  * IVF-bucketed), text analysis (tokens, quality, language-ID,
  * fingerprint), multimodal byte plumbing, JSON extraction and
  * sessionization.
  *
  * Cross-engine determinism notes (see [[graft.Sql]]):
  *  - MinHash uses the numeric MIN of the first 60 bits of seeded md5s
  *    as the min-wise hash family — engine-neutral (Spark: the native
  *    [[graft.functions.MinHashLongs]] expression; DuckDB:
  *    `CAST('0x' || substr(md5(j || '|' || g), 1, 15) AS UBIGINT)`),
  *    uniform, and non-negative in signed BIGINT on both sides;
  *  - SimHash token hashes come from the first 8 md5 hex digits cast to
  *    an integer (Spark `conv(...,16,10)`, DuckDB `CAST('0x'||h)`);
  *  - every cosine similarity is a LEFT-FOLD over the vector in index
  *    order (`aggregate(zip_with(...))` in Spark, `sum(... ORDER BY i)`
  *    in DuckDB) so double accumulation is bit-identical;
  *  - Jaccard/ratio divisions are single IEEE double ops on identical
  *    inputs → identical outputs.
  *
  * 100 TB design notes are inline per query; the scale paths avoid all
  * O(n²) work via LSH banding / blocking keys (never a cross join).
  */
object Llm {

  /** Exact cosine via the codegen'd native expression
    * ([[graft.functions.CosineSim]]) — bit-identical to an
    * `aggregate(zip_with(...))` fold (same left-to-right accumulation;
    * proven in ExtensionsSpec) and to the DuckDB oracle's ordered sums, but ~10×
    * faster (no per-row array allocation, stays in whole-stage codegen).
    */
  private def cosine(df: DataFrame): DataFrame = {
    graft.functions.CosineSim.register(df.sparkSession)
    df.withColumn("sim", expr("cosine_sim(ea, eb)"))
  }

  /** The exact threshold set-similarity self-join engine behind
    * q161/q187 (All-Pairs/PPJoin family — Bayardo et al. WWW'07,
    * Xiao et al. WWW'08), parameterized on a RATIONAL threshold
    * t = p/q so every gate stays in pure integer arithmetic at any
    * operating point (no cross-engine float threshold drift):
    *
    *  - prefix length: r ≤ n − ⌈p·n/q⌉ + 1 (pigeonhole on the ⌈t·n⌉
    *    overlap the threshold forces against ANY partner);
    *  - size filter: q·n1 ≥ p·n2 ∧ q·n2 ≥ p·n1 (jac ≥ t bounds the
    *    size ratio by t);
    *  - positional filter: for the rarest shared prefix token the
    *    overlap upper bound 1 + min(n1−r1, n2−r2) must reach the
    *    equivalent intersection bound α = ⌈p(n1+n2)/(p+q)⌉
    *    (jac ≥ p/q ⟺ (p+q)·inter ≥ p·(n1+n2));
    *  - verification on full sets with the same integer gate.
    *
    * Output schema: (d1, d2, n_inter, n_a, n_b, jac) — the one double
    * is the final reported jaccard. SetSimSpec pins output ≡ a brute
    * O(n²) replica at BOTH shipped thresholds.
    */
  private[graft] def setSimJoin(docs: DataFrame, p: Int, q: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    setSimJoinSets(
      docs
        .select($"doc_id",
          expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("ta"))
        .filter(size($"ta") >= 3)
        .select($"doc_id", expr(
          """array_distinct(transform(sequence(1, size(ta)-2),
             i -> concat_ws(' ', ta[i-1], ta[i], ta[i+1])))""").as("gs")),
      p, q)
  }

  /** CROSS-SET exact set-similarity probe — [[setSimJoinSets]] in the
    * daily-drop posture (what `incrementalSimhashCandidates` is to the
    * hamming family): batch sets against corpus sets at jac ≥ p/q,
    * output (corpus_doc, batch_doc, n_inter, n_a, n_b, jac).
    *
    * No prefix filter, deliberately: the self-join needs it because
    * both sides are corpus-sized; here the probe is bounded by the
    * BATCH — the corpus element stream is restricted SCAN-SIDE to the
    * batch's distinct elements (a batch-sized broadcast semi-join)
    * before anything shuffles, so the pair stream is
    * O(batch-element df), and the size-ratio gate prunes inside the
    * join condition. Exactness keeps the oracle the simple uncapped
    * cross join. Both inputs are (doc_id, gs) with gs DISTINCT
    * elements; `gs` sizes stand in for the per-doc cardinality
    * sidecar a persisted corpus state would carry.
    */
  private[graft] def setSimProbe(
      corpusSets: DataFrame, batchSets: DataFrame, p: Int, q: Int): DataFrame = {
    val s = corpusSets.sparkSession
    import s.implicits._
    setSimProbePostings(
      corpusSets.select($"doc_id", size($"gs").cast("long").as("n"),
        explode($"gs").as("g")),
      batchSets, p, q)
  }

  /** [[setSimProbe]] with the corpus side in POSTINGS form — (doc_id,
    * n, g), one row per set element with its set's cardinality
    * denormalized onto every row. This is the shape an AT-REST corpus
    * state stores (StreamVideoDup's per-batch children append in it),
    * because re-assembling gs arrays per probe would be a
    * corpus-sized groupBy per trigger — the exact cost an O(batch)
    * probe exists to avoid.
    */
  private[graft] def setSimProbePostings(
      corpusPostings: DataFrame, batchSets: DataFrame, p: Int, q: Int): DataFrame = {
    require(p > 0 && q > p, s"threshold p/q must be in (0,1): $p/$q")
    val s = corpusPostings.sparkSession
    import s.implicits._
    val bs = Checkpoints.local(batchSets)
    val bkeys = broadcast(bs.select(explode($"gs").as("g")).distinct())
    val bsh = bs.select($"doc_id".as("batch_doc"),
      size($"gs").cast("long").as("n_b"), explode($"gs").as("g"))
    // distinct AFTER the batch-key restriction: a duplicated posting
    // (the same doc re-arriving in a later stream batch writes its
    // rows twice) would double-count n_inter and overshoot the gate;
    // deduping the RESTRICTED stream keeps the cost batch-bounded
    // instead of a corpus-wide shuffle
    val csh = corpusPostings.select($"doc_id".as("corpus_doc"),
        $"n".as("n_a"), $"g")
      .join(bkeys, Seq("g"), "left_semi")
      .distinct()
    // bs's checkpoint belongs to the caller's scope (per-trigger
    // callers materialize the result inside their trigger)
    csh.join(bsh,
        csh("g") === bsh("g") &&
          $"n_a" * q >= $"n_b" * p && $"n_b" * q >= $"n_a" * p &&
          $"corpus_doc" =!= $"batch_doc")
      .groupBy($"corpus_doc", $"batch_doc")
      .agg(count(lit(1)).as("n_inter"),
        min($"n_a").as("n_a"), min($"n_b").as("n_b"))
      .filter($"n_inter" * (p + q) >= ($"n_a" + $"n_b") * p)
      .withColumn("jac",
        $"n_inter".cast("double") / ($"n_a" + $"n_b" - $"n_inter"))
  }

  /** The element-type-generic PPJoin core behind [[setSimJoin]] (and
    * q199's frame-hash sets): input (doc_id, gs) where gs is an array
    * of DISTINCT set elements of any orderable type — the prefix rank
    * orders by (df, element), so any type with a deterministic total
    * order works. Same gates, same output schema as [[setSimJoin]].
    */
  private[graft] def setSimJoinSets(sets0: DataFrame, p: Int, q: Int): DataFrame = {
    require(p > 0 && q > p, s"threshold p/q must be in (0,1): $p/$q")
    val s = sets0.sparkSession
    import s.implicits._
    // localCheckpoint: consumed by the element stream (df + ranks)
    // and both sides of the verify join (cf. scoredCandidates).
    val sets = Checkpoints.local(sets0)
    val sh = sets.select($"doc_id", size($"gs").cast("long").as("n"),
      explode($"gs").as("g"))
    val dfreq = sh.groupBy($"g").agg(count(lit(1)).as("df"))
    // localCheckpoint: both sides of the candidate self-join
    // consume the prefix frame — without it each side re-runs
    // the df join + rank window (exchange reuse only covers the
    // window's INPUT, visible as twin Window nodes in the plan)
    val pref = Checkpoints.local(sh.join(dfreq, "g")
      .withColumn("r", row_number()
        .over(Window.partitionBy($"doc_id").orderBy($"df", $"g"))
        .cast("long"))
      .filter($"r" <= $"n" - expr(s"($p * n + $q - 1) DIV $q") + 1))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          col("x.n") * q >= col("y.n") * p && col("y.n") * q >= col("x.n") * p)
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(min(col("x.r")).as("r1"), min(col("y.r")).as("r2"),
        min(col("x.n")).as("n1"), min(col("y.n")).as("n2"))
      .filter(expr(
        s"1 + least(n1 - r1, n2 - r2) >= ($p * (n1 + n2) + ${p + q} - 1) DIV ${p + q}"))
    cand
      .join(sets.select($"doc_id".as("d1"), $"gs".as("gs1")), "d1")
      .join(sets.select($"doc_id".as("d2"), $"gs".as("gs2")), "d2")
      .select($"d1", $"d2",
        size(array_intersect($"gs1", $"gs2")).cast("long").as("n_inter"),
        $"n1".as("n_a"), $"n2".as("n_b"))
      .filter($"n_inter" * (p + q) >= ($"n_a" + $"n_b") * p)
      .withColumn("jac",
        $"n_inter".cast("double") / ($"n_a" + $"n_b" - $"n_inter"))
  }

  /** [[setSimJoin]]'s DuckDB oracle at the same rational threshold —
    * generated from (p, q) so engine and oracle gates cannot drift.
    */
  private[graft] def setSimSql(p: Int, q: Int): String = s"""
        WITH toks AS (
          -- loud-failure bound guard (see q137's toks CTE)
          SELECT doc_id,
            CASE WHEN len(t0) > 100000
                 THEN error('oracle token bound 100000 exceeded — raise the series bound')
                 ELSE t0 END AS ta
          FROM (SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                        x -> x <> '') AS t0
          FROM documents)),
        sh AS (
          SELECT DISTINCT doc_id,
            ta[s.i] || ' ' || ta[s.i+1] || ' ' || ta[s.i+2] AS g
          FROM toks CROSS JOIN generate_series(1, 100000) s(i)
          WHERE s.i <= len(ta) - 2),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                  FROM sh GROUP BY doc_id),
        dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
        ranked AS (
          SELECT sh.doc_id, sh.g, sizes.n,
            CAST(row_number() OVER (PARTITION BY sh.doc_id
                                    ORDER BY dfreq.df, sh.g) AS BIGINT) AS r
          FROM sh JOIN dfreq ON sh.g = dfreq.g
                  JOIN sizes ON sizes.doc_id = sh.doc_id),
        pref AS (
          SELECT doc_id, g, r, n FROM ranked
          WHERE r <= n - ($p * n + $q - 1) // $q + 1),
        cand AS (
          SELECT x.doc_id AS d1, y.doc_id AS d2,
            min(x.r) AS r1, min(y.r) AS r2, min(x.n) AS n1, min(y.n) AS n2
          FROM pref x JOIN pref y
            ON x.g = y.g AND x.doc_id < y.doc_id
           AND x.n * $q >= y.n * $p AND y.n * $q >= x.n * $p
          GROUP BY x.doc_id, y.doc_id
          HAVING 1 + least(min(x.n) - min(x.r), min(y.n) - min(y.r))
                 >= ($p * (min(x.n) + min(y.n)) + ${p + q} - 1) // ${p + q}),
        inter AS (
          SELECT c.d1, c.d2, c.n1, c.n2, count(*) AS ni
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.g = s1.g
          GROUP BY c.d1, c.d2, c.n1, c.n2)
        SELECT d1, d2, CAST(ni AS BIGINT) AS n_inter,
          n1 AS n_a, n2 AS n_b,
          CAST(ni AS DOUBLE) / (n1 + n2 - ni) AS jac
        FROM inter WHERE ni * ${p + q} >= (n1 + n2) * $p"""

  /** documents table spread across all cores. The driver's parquet is a
    * single row group, so the scan is ONE input partition — and these
    * pipelines do heavy per-doc compute (shingling, 8×md5, 32-way bit
    * explodes) that would otherwise serialize on one core. The
    * repartition shuffles only |docs| narrow rows (id + text prefix) —
    * the local-small-file equivalent of the multi-file/multi-row-group
    * split a real 100 TB scan gets for free.
    */
  private[queries] def docsSpread(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // EXPLICIT partition count: a bare repartition($"doc_id") is
    // advisory under AQE, which coalesces the tiny shuffle to ONE
    // partition — and then every downstream groupBy(doc_id) satisfies
    // that partitioning and the whole pipeline runs as a single task
    // (measured 1.6× slower than no repartition at all).
    table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
  }

  /** SimHash signature frame (doc_id, simhash) — shared by q23 and the
    * hamming-band pairing q38.
    */
  private def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docsSpread(s, dir)
      .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("tok"))
      .filter($"tok" =!= "")
    // 32 conditional sums in ONE hash aggregate instead of exploding
    // every token ×32 bit-positions (a 22M-row Generate at sf0.1) into
    // a two-level groupBy: the partial agg sees each token row once and
    // keeps 32 mutable LONG buffers per doc — shuffle is |docs|×32
    // partials either way, but the explode and the second shuffle
    // disappear.
    val bitSums = toks
      .withColumn("h", expr("CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)"))
      .groupBy($"doc_id")
      .agg(
        sum(expr("IF((shiftright(h, 0) & 1) = 1, 1, -1)")).as("s0"),
        (1 to 31).map(b =>
          sum(expr(s"IF((shiftright(h, $b) & 1) = 1, 1, -1)")).as(s"s$b")): _*)
    bitSums.select($"doc_id",
      (0 to 31).map(b => expr(s"IF(s$b > 0, shiftleft(CAST(1 AS BIGINT), $b), CAST(0 AS BIGINT))"))
        .reduce(_ + _).cast("long").as("simhash"))
  }

  /** DuckDB CTEs producing the same (doc_id, simhash) relation. */
  private val simhashSqlCtes = """
        toks AS (
          SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        hs AS (
          SELECT doc_id, CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS h
          FROM toks),
        bits AS (
          SELECT doc_id, b.b, sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
          FROM hs CROSS JOIN generate_series(0, 31) b(b)
          GROUP BY doc_id, b.b),
        sig AS (
          SELECT doc_id,
            CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)"""

  /** DuckDB: per-pair cosine via zipped unnest + ordered sums. */
  private[queries] def cosineSql(pairsSql: String, simFilter: String): String = s"""
        WITH pairs AS ($pairsSql),
        el AS (
          SELECT v1, v2, unnest(ea) x, unnest(eb) y, generate_subscripts(ea, 1) i
          FROM pairs),
        d AS (
          SELECT v1, v2,
            sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) ORDER BY i) AS dot,
            sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) ORDER BY i) AS na,
            sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) ORDER BY i) AS nb
          FROM el GROUP BY v1, v2)
        SELECT v1, v2, dot/(sqrt(na)*sqrt(nb)) AS sim FROM d $simFilter"""

  /** Hot-bucket cap for q21's minhash-LSH banding (ops.Lsh
    * .expandPairsCapped): buckets above this are boilerplate, dropped on
    * BOTH engines. Testdata's largest bucket is 21 docs (sf0.1), so the
    * cap never fires on the oracle corpora — LshSpec's skew fixture is
    * where it engages.
    */
  private[graft] val lshMaxBucket = 64

  /** (doc_id, t200) prefix frame — the shared front of every shingle
    * pipeline (q21/q66/q67/q68): 200-char prefix, docs shorter than
    * one shingle dropped.
    */
  private[queries] def docPrefix(docs: DataFrame, minLen: Int): DataFrame =
    docs.select(col("doc_id"), substring(col("text"), 1, 200).as("t200"))
      .filter(length(col("t200")) >= minLen)

  /** SQL expression producing the width-char shingle stream of `t200` —
    * ONE generator for q21/q66/q67/q68 so prefix length and shingle
    * arithmetic can never desynchronize between the minhash family's
    * "interchangeable signatures" contract and its consumers. Wrap in
    * array_distinct (set semantics) or a hashing transform as needed.
    */
  private[queries] def shingleGen(width: Int): String =
    s"transform(sequence(1, length(t200)-${width - 1}), i -> substring(t200, i, $width))"

  /** Per-doc distinct shingle sets of the 200-char prefix — the q21
    * family's verification domain, shared with the streaming curation
    * path (StreamCuration keeps these at rest as its verify state).
    * Computed map-side (array_distinct in the projection): no DISTINCT
    * shuffle, and the same array feeds candidate verification without
    * a collect_set shuffle.
    */
  private[graft] def shingleSets(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docPrefix(docs, 5).select($"doc_id",
      expr(s"array_distinct(${shingleGen(5)})").as("gs"))
  }

  /** q21's exact banding geometry from a [[shingleSets]] frame:
    * (doc_id, band, bsig), 2 bands × 4 minhashes. One shared
    * implementation so the batch pair pipeline and the streaming
    * near-dup state build IDENTICAL signatures (StreamCurationSpec's
    * equality with q100 rests on it).
    *
    * All 8 hashes in ONE native-expression call per shingle
    * (graft.functions.MinHashLongs: reused digest, no per-hash
    * concat, zero string allocation), min-aggregated per hash in a
    * single partial+final agg — one |docs|-sized shuffle instead
    * of exploding 8× and grouping 7.8M (doc, j) rows. LONG hash
    * values keep the min-agg in HashAggregateExec (min(STRING)
    * falls back to SortAggregate, a full sort of the shingle
    * stream — visible in the round-1 plan).
    *
    * 2 bands × 4 rows: collision prob = jaccard^4 per band — high
    * precision for the near-identical pairs the 0.35 threshold
    * targets, and bounded candidate counts even on low-entropy
    * corpora (wider 4×2 banding floods candidates with word-soup
    * text).
    */
  private[graft] def bandsOf(docSets: DataFrame): DataFrame =
    bandsOfSig(minhashSig(docSets))

  /** The 8-component minhash signature frame (doc_id, mh1..mh8) of a
    * [[shingleSets]] corpus — [[bandsOf]]'s first half, exposed so the
    * q132 calibration audit can join per-pair component agreement
    * without recomputing the hash stream.
    */
  private[graft] def minhashSig(docSets: DataFrame): DataFrame = {
    val s = docSets.sparkSession
    import s.implicits._
    graft.functions.MinHashLongs.register(s)
    val sh = docSets.select($"doc_id", explode($"gs").as("g"))
    val hashed = sh.select($"doc_id", expr("minhash_longs(g, 8)").as("hs"))
    hashed
      .groupBy($"doc_id")
      .agg(min($"hs".getItem(0)).as("mh1"),
        (2 to 8).map(j => min($"hs".getItem(j - 1)).as(s"mh$j")): _*)
  }

  /** [[bandsOf]]'s second half: a [[minhashSig]] frame → the
    * (doc_id, band, bsig) banding geometry (2 bands × 4 minhashes).
    */
  private[graft] def bandsOfSig(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    sig.select($"doc_id",
      explode(expr(
        """array(struct(0L AS band, concat_ws(',', CAST(mh1 AS STRING), CAST(mh2 AS STRING), CAST(mh3 AS STRING), CAST(mh4 AS STRING)) AS bsig),
                 struct(1L AS band, concat_ws(',', CAST(mh5 AS STRING), CAST(mh6 AS STRING), CAST(mh7 AS STRING), CAST(mh8 AS STRING)) AS bsig))""")).as("tb"))
      .select($"doc_id", $"tb.band".as("band"), $"tb.bsig".as("bsig"))
  }

  /** The full q21 pipeline over any (doc_id, text) corpus: distinct
    * 5-char shingles of the 200-char prefix → 8 min-hashes (native
    * [[graft.functions.MinHashLongs]]) → 2 bands of 4 → capped
    * in-bucket pair expansion → exact Jaccard verify on candidates.
    * Package-visible so LshSpec can drive the SHIPPED path on a skewed
    * fixture (one boilerplate prefix shared by 20% of docs).
    */
  /** The candidate-verify core shared by [[minhashLshPairs]] (q21's
    * Jaccard gate) and q160's containment scorer: capped LSH
    * candidates with exact set-overlap counts (d1, d2, inter, na,
    * nb). ONE implementation so a fix to the verify join or the cap
    * can never desynchronize the dedup pass from the scorers built
    * on its candidate stream.
    */
  private[graft] def scoredCandidates(docs: DataFrame, maxBucket: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // localCheckpoint: the set frame is consumed three times (hash
    // stream + both sides of the candidate-verify join); without it
    // each consumer re-runs the shingling projection (~1s each at
    // sf0.1). |docs| rows × ~140-element arrays — megabytes.
    val docSets = Checkpoints.local(shingleSets(docs))
    // Candidates come from a groupBy on (band, bsig) + in-bucket
    // pair expansion, NOT a bands-self-join: the self-join's two
    // identical inputs each re-execute the whole shingle+md5
    // pipeline (AQE does not reuse the exchange), doubling the
    // dominant stage. The groupBy consumes sig exactly once.
    // Hot-bucket cap (ops.Lsh.expandPairsCapped): a band bucket
    // above maxBucket is boilerplate — dropped, never expanded
    // O(|bucket|²); the oracle SQL encodes the same cap.
    val cand = graft.ops.Lsh.expandPairsCapped(
      bandsOf(docSets), Seq("band", "bsig"), "doc_id", maxBucket)
    cand
      .join(docSets.select($"doc_id".as("d1"), $"gs".as("gs1")), "d1")
      .join(docSets.select($"doc_id".as("d2"), $"gs".as("gs2")), "d2")
      .select($"d1", $"d2",
        size(array_intersect($"gs1", $"gs2")).as("inter"),
        size($"gs1").as("na"), size($"gs2").as("nb"))
  }

  private[graft] def minhashLshPairs(docs: DataFrame, maxBucket: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    scoredCandidates(docs, maxBucket)
      .withColumn("jac", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .filter($"jac" >= 0.35)
      .select($"d1", $"d2", $"jac")
  }

  /** Calibration engine behind q132: input (doc_id, text); output one
    * row per signature-agreement level (see the q132 comment).
    * Package-visible so LshCalibrationSpec can replay it against a
    * first-principles JVM replica on a planted-duplicate fixture.
    */
  private[graft] def lshCalibration(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // docSets: verify-side truth (both pair sides); sig: bands +
    // both pair sides — each consumed ≥2× → materialize (the q21
    // localCheckpoint discipline)
    val docSets = Checkpoints.local(shingleSets(docs))
    val sig = Checkpoints.local(minhashSig(docSets))
    val cand = graft.ops.Lsh.expandPairsCapped(
      bandsOfSig(sig), Seq("band", "bsig"), "doc_id", lshMaxBucket)
    val sigArr = sig.select($"doc_id",
      array((1 to 8).map(j => col(s"mh$j")): _*).as("mhs"))
    cand
      .join(sigArr.select($"doc_id".as("d1"), $"mhs".as("m1")), "d1")
      .join(sigArr.select($"doc_id".as("d2"), $"mhs".as("m2")), "d2")
      .withColumn("agree",
        expr("size(filter(zip_with(m1, m2, (x, y) -> x = y), b -> b))").cast("long"))
      .join(docSets.select($"doc_id".as("d1"), $"gs".as("gs1")), "d1")
      .join(docSets.select($"doc_id".as("d2"), $"gs".as("gs2")), "d2")
      .select($"agree",
        size(array_intersect($"gs1", $"gs2")).cast("long").as("ni"),
        (size($"gs1") + size($"gs2")).cast("long").as("nab"))
      .withColumn("un", $"nab" - $"ni")
      .groupBy($"agree")
      .agg(
        count(lit(1)).cast("long").as("n_pairs"),
        sum($"ni").cast("long").as("sum_inter"),
        sum($"un").cast("long").as("sum_union"),
        sum(when($"ni" * 20 >= $"un" * 7, 1L).otherwise(0L)).cast("long").as("n_ge_035"))
      .select($"agree".as("n_agree"),
        ($"agree".cast("double") / 8.0).as("est"),
        $"n_pairs",
        $"sum_inter", $"sum_union",
        ($"sum_inter".cast("double") / $"sum_union".cast("double")).as("pooled_jac"),
        $"n_ge_035")
  }

  /** ½·Σᵢ|ca/na − cb/nb| folded in bucket order — the keyed
    * total-variation tail shared by q133 (source pairs) and q136
    * (drop vs corpus). Input: one row per (key…, i) with both sides'
    * bucket count and total; output: the key group + `tv`. Per-term
    * arithmetic is single IEEE ops over counts that convert to
    * DOUBLE exactly (token counts < 2^53 at any realistic corpus),
    * and the 64-term sum is an ordered fold (DuckDB:
    * `sum(… ORDER BY i)` — see [[tvTermSql]]). The earlier
    * all-BIGINT cross-product form (Σ|ca·nb − cb·na|, one division)
    * was exact but overflows Long once na·nb passes ~2^63 — which is
    * REAL at the 100 TB scale these audits are pitched for
    * (round-9 review finding).
    */
  private def tvFold(joined: DataFrame, keys: Seq[String]): DataFrame =
    joined
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("i"),
        abs(col("ca").cast("double") / col("na").cast("double") -
          col("cb").cast("double") / col("nb").cast("double")).as("d")))).as("ds"))
      .withColumn("tv",
        expr("aggregate(ds, CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.d) / 2.0"))
      .drop("ds")

  /** [[tvFold]]'s per-term expression, DuckDB side — wrap in
    * `sum(… ORDER BY i) / 2.0`. */
  private def tvTermSql(a: String, b: String): String =
    s"abs(CAST($a.c AS DOUBLE)/CAST($a.n AS DOUBLE) - CAST($b.c AS DOUBLE)/CAST($b.n AS DOUBLE))"

  /** q21's oracle SQL, shared with the q45 clustering query and the
    * q85 dedup-apply step (Curation.scala). */
  private[queries] val minhashCandSql: String = s"""sh AS (
          SELECT DISTINCT doc_id, substr(substr(text,1,200), s.i, 5) AS g
          FROM documents CROSS JOIN generate_series(1, 196) s(i)
          WHERE s.i <= length(substr(text,1,200)) - 4),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        sig AS (
          SELECT doc_id, h.j,
            min(CAST(CAST(concat('0x', substr(md5(CAST(h.j AS VARCHAR) || '|' || g), 1, 15)) AS UBIGINT) AS BIGINT)) AS mh
          FROM sh CROSS JOIN generate_series(1, 8) h(j)
          GROUP BY doc_id, h.j),
        bands AS (
          SELECT doc_id, (j-1)//4 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS bsig
          FROM sig GROUP BY doc_id, (j-1)//4),
        bsz AS (SELECT band, bsig, count(*) AS n FROM bands GROUP BY band, bsig),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
          JOIN bsz z ON z.band = a.band AND z.bsig = a.bsig AND z.n <= $lshMaxBucket)"""

  private[queries] val minhashPairsSql: String = s"""
        WITH $minhashCandSql,
        inter AS (
          SELECT c.d1, c.d2, count(*) AS ni
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.g = s1.g
          GROUP BY c.d1, c.d2)
        SELECT i.d1, i.d2, CAST(i.ni AS DOUBLE)/(sa.n + sb.n - i.ni) AS jac
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.d1
        JOIN sizes sb ON sb.doc_id = i.d2
        WHERE CAST(i.ni AS DOUBLE)/(sa.n + sb.n - i.ni) >= 0.35"""

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q20
    // Exact dedup: content-hash groupBy. At 100 TB: hash is computed in
    // the scan projection (tiny shuffle of (hash, id) pairs, never the
    // payload); partial agg collapses per-partition duplicates first.
    Q(
      "q20_dedup_exact",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .groupBy(md5($"text").as("h"))
          .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keep_id"))
      },
      Some("""
        SELECT md5(text) AS h, count(*) AS n_copies, min(doc_id) AS keep_id
        FROM documents GROUP BY md5(text)""")),

    // ---------------------------------------------------------------- q21
    // MinHash + LSH near-dup pairs: distinct 5-char shingles of the doc
    // prefix → 8 min-hashes → 2 bands of 4 → bucket-join on band
    // signature → exact Jaccard verify on candidates only.
    // At 100 TB: cost is O(n·shingles) + O(candidates); the band
    // self-join shuffles on (band, bsig) — never all-pairs; hot buckets
    // (boilerplate prefixes) are capped. Pipeline body in
    // [[minhashLshPairs]], shared with LshSpec's skew fixture.
    Q(
      "q21_minhash_lsh",
      (s, dir) => minhashLshPairs(docsSpread(s, dir), lshMaxBucket),
      Some(minhashPairsSql)),

    // ---------------------------------------------------------------- q22
    // Blocked exact n-gram Jaccard: blocking key (lang, length-bucket)
    // bounds the pair space (classic entity-resolution blocking — the
    // deterministic alternative to LSH). All-pairs only *within* blocks.
    Q(
      "q22_ngram_blocked_jaccard",
      (s, dir) => {
        import s.implicits._
        val t = docsSpread(s, dir)
          .select($"doc_id", $"lang", expr("length(text) div 20").as("lb"),
            substring($"text", 1, 100).as("t100"))
          .filter(length($"t100") >= 3)
        // localCheckpoint: consumed by both sides of the shingle-level
        // self-join plus the sizes frame — materialize the (tiny)
        // per-doc set projection once (cf. q21's docSets)
        val sets = Checkpoints.local(t.select($"doc_id", $"lang", $"lb",
          expr("array_distinct(transform(sequence(1, length(t100)-2), i -> substring(t100, i, 3)))").as("gs")))
        // intersection sizes via a narrow shingle-level join + partial
        // agg: joining the wide shingle arrays onto every candidate pair
        // shuffles ~100-element array rows and dominated the runtime;
        // (block, gram) join rows are 4 small columns instead
        val sh3 = sets.select($"doc_id", $"lang", $"lb", explode($"gs").as("g"))
        val inter = sh3.as("x")
          .join(sh3.as("y"),
            col("x.lang") === col("y.lang") && col("x.lb") === col("y.lb") &&
              col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("inter"))
        val sizes = sets.select($"doc_id", size($"gs").as("n"))
        inter
          .join(sizes.select($"doc_id".as("d1"), $"n".as("na")), "d1")
          .join(sizes.select($"doc_id".as("d2"), $"n".as("nb")), "d2")
          .withColumn("jac", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
          .filter($"jac" >= 0.5)
          .select($"d1", $"d2", $"jac")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang, length(text)//20 AS lb, substr(text,1,100) AS t100
          FROM documents WHERE length(substr(text,1,100)) >= 3),
        sh AS (
          SELECT DISTINCT doc_id, lang, lb, substr(t100, s.i, 3) AS g
          FROM t CROSS JOIN generate_series(1, 98) s(i)
          WHERE s.i <= length(t100) - 2),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS ni
          FROM sh s1 JOIN sh s2
            ON s1.lang = s2.lang AND s1.lb = s2.lb AND s1.g = s2.g
           AND s1.doc_id < s2.doc_id
          GROUP BY s1.doc_id, s2.doc_id)
        SELECT i.d1, i.d2, CAST(i.ni AS DOUBLE)/(sa.n + sb.n - i.ni) AS jac
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.d1
        JOIN sizes sb ON sb.doc_id = i.d2
        WHERE CAST(i.ni AS DOUBLE)/(sa.n + sb.n - i.ni) >= 0.5""")),

    // ---------------------------------------------------------------- q23
    // SimHash document signatures: 32-bit sign-sum sketch over token
    // hashes. Narrow + two aggregations; at 100 TB the signature is 8
    // bytes/doc and near-dup candidates come from hamming-band joins
    // (q38).
    Q(
      "q23_simhash",
      (s, dir) => simhashSignatures(s, dir),
      Some(s"""
        WITH $simhashSqlCtes
        SELECT doc_id, simhash FROM sig""")),

    // ---------------------------------------------------------------- q38
    // SimHash near-dup pairs: pigeonhole hamming-banding (4 bands of 8
    // bits — any pair within hamming distance 3 must agree on at least
    // one band), then exact popcount verify on candidates. The scale
    // form of simhash dedup: candidates come from equality joins on
    // band bytes, never pairwise popcounts over the corpus.
    Q(
      "q38_simhash_pairs",
      (s, dir) => {
        import s.implicits._
        val sig = simhashSignatures(s, dir)
        // Candidate generation via ops.Lsh.simhashCandidates: codegen
        // self-join within buckets (an in-bucket pair expansion via
        // transform/filter HOFs evaluates interpreted and was 3s of the
        // bench on these coarse 1024-bucket groups), with hot buckets
        // (> 256 docs — and at corpus scale EVERY 8-bit bucket is hot)
        // sub-banded exactly: 4 sub-bands of 6 bits over the remaining
        // 24 bits preserve every hamming≤3 pair by recursive pigeonhole
        // while cutting per-bucket pair counts ~64×. Provably identical
        // output, so the oracle SQL stays the uncapped form (equality
        // pinned by LshSpec). The op localCheckpoints the sized band
        // frame so the self-join sides read materialized partitions
        // instead of re-executing the tokenize+simhash pipeline (AQE
        // does not reuse the exchange) — eager inside the builder is
        // deliberate, same as q45's fixpoint.
        val bands = sig
          .select($"doc_id", $"simhash", explode(expr("sequence(0, 3)")).as("b"))
          .withColumn("band", expr("shiftright(simhash, b * 8) & 255"))
        val cand = graft.ops.Lsh.simhashCandidates(
          bands, bandBits = 8, subBands = 4, subBits = 6, maxBucket = 256)
        // OUTPUT BUDGET: "emit ALL radius-3 pairs" is quadratic in
        // dense near-dup neighborhoods BY CONTRACT — a clique of k
        // near-identical docs owes k(k-1)/2 output rows, and the 100×
        // soak measured that going 104 M rows / 28 GB of spill.
        // Candidate generation stays banded (never all-pairs); the
        // unbounded thing is the OUTPUT, so the guard counts the true
        // pairs from a materialized frame (join runs once) and fails
        // loudly over budget instead of silently spilling: production
        // wants q21's verified-gate form (output bounded by true
        // pairs at the Jaccard threshold) or q45/q204's
        // cluster-then-canonicalize, not a pair dump.
        val budget = s.conf.getOption("graft.q38.maxPairs")
          .map(_.toLong).getOrElse(32L << 20)
        val pairs = Checkpoints.local(cand
          .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
          .filter($"hamming" <= 3)
          .select($"d1", $"d2", $"hamming"))
        val n = pairs.count()
        if (n > budget) {
          Checkpoints.release(pairs)
          throw new IllegalStateException(
            s"q38 would emit $n near-dup pairs (budget $budget): the " +
              "pair-materializing form is quadratic on dense corpora. " +
              "Use the verified-gate join (q21) or cluster-then-apply " +
              "(q45/q204), or raise graft.q38.maxPairs explicitly.")
        }
        pairs
      },
      Some(s"""
        WITH $simhashSqlCtes,
        bands AS (
          SELECT doc_id, simhash, b.b, (simhash >> (b.b * 8)) & 255 AS band
          FROM sig CROSS JOIN generate_series(0, 3) b(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                 x.simhash AS s1, y.simhash AS s2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.band = y.band AND x.doc_id < y.doc_id)
        SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(s1, s2)) <= 3""")),

    // ---------------------------------------------------------------- q24
    // Embedding cosine near-dup, IVF-style: pairs only within the same
    // coarse bucket (label = cluster id), never all-pairs. At 100 TB:
    // shuffle on bucket id, per-bucket pairwise; skewed buckets get
    // sub-quantized.
    Q(
      "q24_embedding_dup",
      (s, dir) => {
        import s.implicits._
        val e = table(s, dir, "embeddings")
        val pairs = e.as("a")
          .join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
            col("a.embedding").as("ea"), col("b.embedding").as("eb"))
        cosine(pairs).filter($"sim" >= 0.3).select($"v1", $"v2", $"sim")
      },
      Some(cosineSql(
        """SELECT a.vec_id v1, b.vec_id v2, a.embedding ea, b.embedding eb
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id""",
        "WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.3"))),

    // ---------------------------------------------------------------- q25
    // Brute-force ANN top-k: 5 query vectors against the corpus, top-10
    // by cosine. The exact baseline for the LSH/IVF scale path; the
    // query side broadcasts, the corpus scan stays partition-parallel.
    Q(
      "q25_ann_topk",
      (s, dir) => {
        import s.implicits._
        // spread the single-row-group scan so the 5×|corpus| cosine
        // stream is partition-parallel (cf. docsSpread)
        val e = table(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
        val qs = table(s, dir, "embeddings").filter($"vec_id" < 5)
          .select($"vec_id".as("v1"), $"embedding".as("ea"))
        val pairs = e.crossJoin(broadcast(qs))
          .filter($"vec_id" =!= $"v1")
          .select($"v1", $"vec_id".as("v2"), $"ea", $"embedding".as("eb"))
        val w = Window.partitionBy($"v1").orderBy($"sim".desc, $"v2".asc)
        cosine(pairs)
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter($"rk" <= 10)
          .select($"v1".as("qid"), $"v2".as("vec_id"), $"sim", $"rk")
      },
      Some(s"""
        WITH ranked AS (
          SELECT v1, v2, sim,
            row_number() OVER (PARTITION BY v1 ORDER BY sim DESC, v2) AS rk
          FROM (${cosineSql(
        """SELECT q.vec_id v1, e.vec_id v2, q.embedding ea, e.embedding eb
           FROM embeddings q JOIN embeddings e ON q.vec_id < 5 AND e.vec_id <> q.vec_id""",
        "")}) sims)
        SELECT v1 AS qid, v2 AS vec_id, sim, rk FROM ranked WHERE rk <= 10""")),

    // --------------------------------------------------------------- q104
    // FILTERED ANN, exact tier: top-k cosine among corpus vectors
    // matching a metadata predicate (here: even label) — the standard
    // production shape "nearest neighbors among documents matching P".
    // The filter prunes the corpus BEFORE any distance work, so k fills
    // with matching candidates (post-filtering a generic top-k would
    // under-fill). This is the oracle-checked exact baseline;
    // IvfPq.topKFromSaved(predicate = …) is the same semantics on the
    // compressed layout, recall-pinned against this in FilteredAnnSpec
    // with the predicate in the pruned scan's PushedFilters.
    Q(
      "q104_ann_filtered",
      (s, dir) => {
        import s.implicits._
        val e = table(s, dir, "embeddings").filter($"label" % 2 === 0)
          .repartition(s.sparkContext.defaultParallelism, $"vec_id")
        val qs = table(s, dir, "embeddings").filter($"vec_id" < 5)
          .select($"vec_id".as("v1"), $"embedding".as("ea"))
        val pairs = e.crossJoin(broadcast(qs))
          .filter($"vec_id" =!= $"v1")
          .select($"v1", $"vec_id".as("v2"), $"ea", $"embedding".as("eb"))
        val w = Window.partitionBy($"v1").orderBy($"sim".desc, $"v2".asc)
        cosine(pairs)
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter($"rk" <= 10)
          .select($"v1".as("qid"), $"v2".as("vec_id"), $"sim", $"rk")
      },
      Some(s"""
        WITH ranked AS (
          SELECT v1, v2, sim,
            row_number() OVER (PARTITION BY v1 ORDER BY sim DESC, v2) AS rk
          FROM (${cosineSql(
        """SELECT q.vec_id v1, e.vec_id v2, q.embedding ea, e.embedding eb
           FROM embeddings q JOIN embeddings e
             ON q.vec_id < 5 AND e.vec_id <> q.vec_id AND e.label % 2 = 0""",
        "")}) sims)
        SELECT v1 AS qid, v2 AS vec_id, sim, rk FROM ranked WHERE rk <= 10""")),

    // ---------------------------------------------------------------- q26
    // Token statistics: whitespace tokens, BPE-ish regex tokens, unique
    // word count — all per-row scan work, no shuffle at all.
    Q(
      "q26_token_stats",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents").select(
          $"doc_id",
          length($"text").cast("long").as("len_chars"),
          size(filter(split($"text", "[ \\t\\n\\x0B\\f\\r]+"), x => x =!= "")).cast("long").as("n_ws_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)")).cast("long").as("n_re_tokens"),
          size(array_distinct(filter(split(lower($"text"), "[^a-z]+"), x => x =!= "")))
            .cast("long").as("n_unique_words"))
      },
      Some("""
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS len_chars,
          CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens,
          CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''))) AS BIGINT) AS n_unique_words
        FROM documents""")),

    // ---------------------------------------------------------------- q27
    // Quality scoring: punctuation/uppercase/digit/stopword counts and a
    // categorical grade. Pure scan projection.
    Q(
      "q27_quality_score",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .select(
            $"doc_id",
            length($"text").cast("long").as("n_char"),
            length(regexp_replace($"text", "[^.!?,;]", "")).cast("long").as("n_punct"),
            length(regexp_replace($"text", "[^A-Z]", "")).cast("long").as("n_upper"),
            length(regexp_replace($"text", "[^0-9]", "")).cast("long").as("n_digit"),
            size(expr("regexp_extract_all(lower(text), '\\\\b(the|a|and|of|to|in)\\\\b', 0)"))
              .cast("long").as("stop_hits"))
          .withColumn("punct_ratio",
            $"n_punct".cast("double") / greatest($"n_char", lit(1L)))
          .withColumn("grade",
            when($"n_char" >= 100 && $"stop_hits" >= 3, "good")
              .when($"n_char" >= 30, "ok")
              .otherwise("poor"))
      },
      Some("""
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_char,
          CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS BIGINT) AS n_punct,
          CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper,
          CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
          CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in)\b')) AS BIGINT) AS stop_hits,
          CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
          CASE WHEN length(text) >= 100 AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in)\b')) >= 3 THEN 'good'
               WHEN length(text) >= 30 THEN 'ok'
               ELSE 'poor' END AS grade
        FROM documents""")),

    // ---------------------------------------------------------------- q28
    // Language ID: stopword-marker scoring with a deterministic argmax
    // (CASE order breaks ties). N-gram heuristic, scan-only.
    Q(
      "q28_langid",
      (s, dir) => {
        import s.implicits._
        def hits(pat: String): Column =
          size(expr(s"regexp_extract_all(lower(text), '\\\\b($pat)\\\\b', 0)")).cast("long")
        table(s, dir, "documents")
          .select($"doc_id", $"lang".as("labeled_lang"),
            hits("the|and|of|is").as("s_en"),
            hits("le|la|les|et|est").as("s_fr"),
            hits("el|los|las|es|y").as("s_es"),
            hits("der|die|das|und|ist").as("s_de"))
          .withColumn("best", greatest($"s_en", $"s_fr", $"s_es", $"s_de"))
          .withColumn("pred_lang",
            when($"best" === 0, "unknown")
              .when($"s_en" === $"best", "en")
              .when($"s_fr" === $"best", "fr")
              .when($"s_es" === $"best", "es")
              .otherwise("de"))
          .select($"doc_id", $"labeled_lang", $"s_en", $"s_fr", $"s_es", $"s_de", $"pred_lang")
      },
      Some("""
        WITH s AS (
          SELECT doc_id, lang AS labeled_lang,
            CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS BIGINT) AS s_en,
            CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS BIGINT) AS s_fr,
            CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS BIGINT) AS s_es,
            CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de
          FROM documents)
        SELECT doc_id, labeled_lang, s_en, s_fr, s_es, s_de,
          CASE WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'unknown'
               WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
               WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
               WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
               ELSE 'de' END AS pred_lang
        FROM s""")),

    // ---------------------------------------------------------------- q29
    // Document fingerprinting: whitespace-normalized content hash
    // (md5 prefix) + length bucket. The canonical "group by fingerprint"
    // dedup key at scale.
    Q(
      "q29_fingerprint",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .select($"doc_id",
            trim(regexp_replace(lower($"text"), "[ \\t\\n\\x0B\\f\\r]+", " ")).as("norm"))
          .select($"doc_id",
            substring(md5($"norm"), 1, 16).as("fp"),
            expr("length(norm) div 100").as("len_bucket"))
      },
      Some("""
        SELECT doc_id,
          substr(md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))), 1, 16) AS fp,
          length(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) // 100 AS len_bucket
        FROM documents""")),

    // ---------------------------------------------------------------- q30
    // Multimodal byte plumbing: treat content as an opaque binary column
    // with typed metadata — byte length, magic-header hex, content hash,
    // chunk count. The decode stage itself is the mapPartitions stub in
    // graft.ops.Multimodal (no media libs in this container).
    Q(
      "q30_multimodal_bytes",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .select($"doc_id", encode($"text", "UTF-8").as("media"),
            // header from the first 4 CHARACTERS then encoded, matching
            // the oracle's substr-then-BLOB (a byte-slice of media would
            // diverge on multi-byte UTF-8 leaders)
            encode(substring($"text", 1, 4), "UTF-8").as("header"))
          .select(
            $"doc_id",
            length($"media").cast("long").as("n_bytes"),
            hex($"header").as("header_hex"),
            md5($"media").as("content_md5"),
            expr("length(media) div 256").cast("long").as("n_chunks"))
      },
      Some("""
        SELECT doc_id,
          CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          hex(CAST(substr(text, 1, 4) AS BLOB)) AS header_hex,
          md5(text) AS content_md5,
          CAST(octet_length(CAST(text AS BLOB)) // 256 AS BIGINT) AS n_chunks
        FROM documents""")),

    // ---------------------------------------------------------------- q31
    // Semi-structured extraction: JSON property pull-out from the events
    // props column.
    Q(
      "q31_events_json",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "events").select(
          $"event_id", $"event_type",
          get_json_object($"props", "$.k").as("k_str"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      },
      Some("""
        SELECT event_id, event_type,
          json_extract_string(props, '$.k') AS k_str,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events""")),

    // ---------------------------------------------------------------- q32
    // Sessionization: lag + cumulative-sum session ids per user with a
    // 30-minute inactivity gap, then per-session aggregates. One shuffle
    // on user_id; windows run in-partition.
    Q(
      "q32_sessionize",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ms".asc, $"event_id".asc)
        val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(s, dir, "events")
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"))
          .withColumn("gap", $"ms" - lag($"ms", 1).over(w))
          .withColumn("is_new", when($"gap".isNull || $"gap" > 1800000L, 1L).otherwise(0L))
          .withColumn("session_id", sum($"is_new").over(wc))
          .groupBy($"user_id", $"session_id")
          .agg(count(lit(1)).as("n_events"), min($"ms").as("t_start"), max($"ms").as("t_end"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        g AS (
          SELECT user_id, event_id, ms,
            ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS gap
          FROM e),
        sid AS (
          SELECT user_id, event_id, ms,
            sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ms, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM g)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          count(*) AS n_events, min(ms) AS t_start, max(ms) AS t_end
        FROM sid GROUP BY user_id, session_id""")),

    // ---------------------------------------------------------------- q62
    // Winnowing fingerprints (Schleimer et al., the MOSS scheme): a
    // polynomial rolling hash over character 8-grams of the normalized
    // text, then the minimum hash of every 4-gram window, deduplicated
    // — the copy-detection fingerprint set whose size is ~2/(w+1) of
    // the grams. Every k-gram hash is the same closed-form polynomial
    // sum in both engines (base 31, mod 2^31-1; codes ≤ 'z' keep the
    // weighted sum < 2^42, far from BIGINT overflow), and the window
    // minimum is document-local, so the whole selection runs inside
    // the scan as one native codegen'd expression
    // (functions.WinnowPolyFps — same integers, deque sliding min) —
    // the plan has NO shuffle at all: the gram stream never
    // materializes as rows, only the winnowed distinct fingerprints
    // leave the scan. At 100 TB nothing shuffles here; whatever
    // consumes the fingerprints pays the first exchange.
    Q(
      "q62_winnowing_fingerprint",
      (s, dir) => {
        import s.implicits._
        graft.functions.WinnowPolyFps.register(s)
        // < 11 normalized chars = < 4 grams = no full 4-gram window —
        // same empty selection the old pos >= 4 filter produced
        docsSpread(s, dir)
          .select($"doc_id",
            substring(regexp_replace(lower($"text"), "[^a-z]+", ""), 1, 300).as("s"))
          .filter(length($"s") >= 11)
          .select($"doc_id", explode(expr("winnow_poly_fps(s, 4)")).as("fp"))
      },
      Some {
        val pows = Seq(27512614111L, 887503681L, 28629151L, 923521L, 29791L, 961L, 31L, 1L)
        // CAST each term: ord() is INT32 and DuckDB's INT32×INT32
        // multiply overflow-checks before any promotion
        val poly = pows.zipWithIndex
          .map { case (p, j) => s"CAST(ord(substr(s, i.i + $j, 1)) AS BIGINT) * $p" }
          .mkString(" + ")
        s"""
        WITH t AS (
          SELECT doc_id, substr(regexp_replace(lower(text), '[^a-z]+', '', 'g'), 1, 300) AS s
          FROM documents),
        grams AS (
          SELECT doc_id, i.i AS pos, ($poly) % 2147483647 AS h
          FROM t CROSS JOIN generate_series(1, 293) i(i)
          WHERE length(s) >= 8 AND i.i <= length(s) - 7),
        winnowed AS (
          SELECT doc_id,
            min(h) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
            pos
          FROM grams)
        SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp
        FROM winnowed WHERE pos >= 4"""
      }),

    // ---------------------------------------------------------------- q45
    // Near-dup CLUSTER formation: connected components over the q21 pair
    // graph (cluster id = min doc_id in the component) — the step that
    // turns pairwise matches into dedup groups. ops.ConnectedComponents
    // .auto picks the physical form by edge count: this pair graph is
    // hundreds of edges, so it runs the single-partition hash-min
    // fixpoint (O(diameter) rounds, one task per round); past the
    // threshold it switches to keyed large-star/small-star (O(log n)
    // rounds, no coalesce, no driver-side graph — the 100 TB form;
    // CcSpec proves both agree and pins the round count on a long
    // path graph). Necessarily eager inside Q.run (fixpoint detection
    // needs per-round actions); nothing cached leaks out. NOT the
    // transitive closure (whose frontier is O(Σ component²) rows and
    // was 20s of the round-1 bench). DuckDB oracle: recursive CTE over
    // full reachability — min(reachable) per vertex ≡ component min,
    // so results agree.
    Q(
      "q45_dedup_clusters",
      (s, dir) => {
        import s.implicits._
        val pairs = Llm.all.find(_.name == "q21_minhash_lsh").get
          .run(s, dir).select($"d1", $"d2")
        graft.ops.ConnectedComponents.auto(pairs)
      },
      Some(s"""
        WITH RECURSIVE pairs AS ($minhashPairsSql),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION
          SELECT d2, d1 FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a)
        SELECT v, min(r) AS cluster_id FROM reach GROUP BY v""")),

    // ---------------------------------------------------------------- q105
    // INCREMENTAL cluster maintenance — the daily-drop form of q45:
    // labels computed over an "old" subset of the pair graph, then a
    // new batch of pair edges folded in via ConnectedComponents
    // .updateLabels (endpoints translated to persisted representatives,
    // CC over the batch-sized contracted graph, relabel delta applied
    // as a broadcast map join — the old edge set is never rescanned).
    // The oracle is full reachability over the WHOLE pair graph — i.e.
    // the query asserts update ≡ from-scratch rebuild end-to-end on
    // real pairs, hash-checked. The 2/3-vs-1/3 split is arbitrary by
    // design: any split must produce identical labels.
    Q(
      "q105_incremental_clusters",
      (s, dir) => {
        import s.implicits._
        // one checkpoint, two filter consumers: the shingle+minhash
        // pair pipeline must not execute once per split
        val pairs = Checkpoints.local(Llm.all.find(_.name == "q21_minhash_lsh").get
          .run(s, dir).select($"d1", $"d2"))
        val oldE = pairs.filter(($"d1" + $"d2") % 3 =!= 0)
        val batch = pairs.filter(($"d1" + $"d2") % 3 === 0)
        val labels = graft.ops.ConnectedComponents.auto(oldE)
        val out = graft.ops.ConnectedComponents.updateLabels(labels, batch)
        Checkpoints.release(pairs)
        out
      },
      Some(s"""
        WITH RECURSIVE pairs AS ($minhashPairsSql),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION
          SELECT d2, d1 FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a)
        SELECT v, min(r) AS cluster_id FROM reach GROUP BY v""")),

    // ---------------------------------------------------------------- q67
    // Train/eval decontamination — the canonical pre-training hygiene
    // pass: find training documents sharing any 13-char shingle with
    // the benchmark set (here: doc_id < 20 stands in for the eval
    // suite). Shingles are hashed to 60-bit longs map-side, so the join
    // shuffles (hash, id) pairs, never text; at 100 TB the eval side is
    // benchmark-sized — broadcast it (or bloom-filter the train stream
    // against it) and the train side stays a single scan projection.
    // The two count-distincts expand per standard Spark; at scale the
    // contaminated? bit (n_shared >= 1) is the cheap form.
    Q(
      "q67_decontaminate",
      (s, dir) => {
        import s.implicits._
        val t = docPrefix(docsSpread(s, dir), 13)
        graft.functions.Md5GramHashes.register(s)
        val sh = t.select($"doc_id", explode(expr(
          "array_distinct(md5_gram_hashes(t200, 13, 15))")).as("gh"))
        val eval = sh.filter($"doc_id" < 20).select($"gh", $"doc_id".as("eval_id"))
        sh.filter($"doc_id" >= 20)
          .join(broadcast(eval), "gh")
          .groupBy($"doc_id")
          .agg(
            countDistinct($"gh").as("n_shared_grams"),
            countDistinct($"eval_id").as("n_eval_docs"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, substr(text, 1, 200) AS t200 FROM documents
          WHERE length(substr(text, 1, 200)) >= 13),
        sh AS (
          SELECT DISTINCT doc_id,
            CAST(CAST(concat('0x', substr(md5(substr(t200, s.i, 13)), 1, 15)) AS UBIGINT) AS BIGINT) AS gh
          FROM t CROSS JOIN generate_series(1, 188) s(i)
          WHERE s.i <= length(t200) - 12)
        SELECT tr.doc_id,
          CAST(count(DISTINCT tr.gh) AS BIGINT) AS n_shared_grams,
          CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
        FROM sh tr JOIN sh ev ON tr.gh = ev.gh
        WHERE tr.doc_id >= 20 AND ev.doc_id < 20
        GROUP BY tr.doc_id""")),

    // ---------------------------------------------------------------- q68
    // Within-document repetition quality signal: the duplicated-shingle
    // ratio (1 - distinct/total 5-grams of the prefix) — a standard
    // boilerplate/template detector alongside q27's length/punct
    // ratios. Pure scan projection: no shuffle at any scale. The ratio
    // is two IEEE double ops on identical integers in both engines.
    Q(
      "q68_repetition",
      (s, dir) => {
        import s.implicits._
        docPrefix(docsSpread(s, dir), 5)
          .select($"doc_id",
            (length($"t200") - 4).cast("long").as("n_grams"),
            size(expr(s"array_distinct(${shingleGen(5)})"))
              .cast("long").as("n_distinct"))
          .withColumn("rep_ratio",
            lit(1.0) - $"n_distinct".cast("double") / $"n_grams")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, substr(text, 1, 200) AS t200 FROM documents
          WHERE length(substr(text, 1, 200)) >= 5),
        sh AS (
          SELECT doc_id, substr(t200, s.i, 5) AS g
          FROM t CROSS JOIN generate_series(1, 196) s(i)
          WHERE s.i <= length(t200) - 4)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_grams,
          CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
          1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS rep_ratio
        FROM sh GROUP BY doc_id""")),

    // ---------------------------------------------------------------- q74
    // Incremental dedup: a NEW batch (doc_id % 10 >= 8 stands in for
    // the fresh ingest) deduped against the EXISTING corpus — the pair
    // stream restricted to cross-set pairs. At 100 TB the corpus's
    // band table is precomputed and persisted bucketed (the
    // AnnIndex.save pattern), so each increment hashes only its own
    // docs and probes the corpus buckets it lands in; the corpus is
    // never re-shingled.
    Q(
      "q74_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        minhashLshPairs(docsSpread(s, dir), lshMaxBucket)
          .filter(($"d1" % 10 < 8) =!= ($"d2" % 10 < 8))
          .select(
            when($"d1" % 10 < 8, $"d2").otherwise($"d1").as("batch_doc"),
            when($"d1" % 10 < 8, $"d1").otherwise($"d2").as("corpus_doc"),
            $"jac")
      },
      Some(s"""
        WITH pairs AS ($minhashPairsSql)
        SELECT CASE WHEN d1 % 10 < 8 THEN d2 ELSE d1 END AS batch_doc,
               CASE WHEN d1 % 10 < 8 THEN d1 ELSE d2 END AS corpus_doc,
               jac
        FROM pairs
        WHERE (d1 % 10 < 8) <> (d2 % 10 < 8)""")),

    // ---------------------------------------------------------------- q75
    // Per-language top-k vocabulary: grouped top-k via rank window over
    // a partial+final token count — corpus-level vocab statistics for
    // tokenizer/mixture work. The heavy agg shuffles |lang × vocab|
    // partials (map-side combined); the rank window then sees only the
    // counted vocab, never the token stream. Deterministic tiebreak on
    // the token itself.
    Q(
      "q75_vocab_topk",
      (s, dir) => {
        import s.implicits._
        val toks = docsSpread(s, dir)
          .select($"lang", explode(split(lower($"text"), "[^a-z]+")).as("tok"))
          .filter($"tok" =!= "")
        val counts = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
        counts
          .withColumn("rk", row_number().over(
            Window.partitionBy($"lang").orderBy($"n".desc, $"tok".asc)).cast("long"))
          .filter($"rk" <= 20)
      },
      Some("""
        WITH toks AS (
          SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        c AS (
          SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
          FROM toks GROUP BY lang, tok),
        r AS (
          SELECT lang, tok, n,
            CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS BIGINT) AS rk
          FROM c)
        SELECT lang, tok, n, rk FROM r WHERE rk <= 20""")),

    // --------------------------------------------------------------- q125
    // Cross-source near-dup contamination matrix — the review surface
    // a curation team reads before mixing sources: for every unordered
    // source pair, how many verified near-dup pairs (q21's LSH
    // pipeline, shared body and shared oracle SQL) cross it, and how
    // near. Within-source rows (sa = sb) are boilerplate self-similarity;
    // cross-source rows are contamination/leakage between feeds — the
    // number that decides whether two "independent" sources really are.
    // Scale shape: the pair frame is LSH-bounded (never all-pairs);
    // the two metadata attachments join the pair IDs against the
    // docs scan (pairs side tiny → broadcast at scale), and the
    // matrix is |sources|² rows. max_jac is a max over bit-stable
    // doubles (order-independent — safe unordered, the q84 note).
    Q(
      "q125_dup_source_matrix",
      (s, dir) => {
        import s.implicits._
        val docs = docsSpread(s, dir)
        val meta = docs.select($"doc_id", $"source")
        minhashLshPairs(docs, lshMaxBucket)
          .join(meta.select($"doc_id".as("d1"), $"source".as("s1")), "d1")
          .join(meta.select($"doc_id".as("d2"), $"source".as("s2")), "d2")
          .select(least($"s1", $"s2").as("sa"), greatest($"s1", $"s2").as("sb"), $"jac")
          .groupBy($"sa", $"sb")
          .agg(
            count(lit(1)).cast("long").as("n_pairs"),
            max($"jac").as("max_jac"))
      },
      Some(s"""
        WITH pairs AS ($minhashPairsSql),
        m AS (
          SELECT least(m1.source, m2.source) AS sa,
            greatest(m1.source, m2.source) AS sb, p.jac
          FROM pairs p
          JOIN documents m1 ON m1.doc_id = p.d1
          JOIN documents m2 ON m2.doc_id = p.d2)
        SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_pairs, max(jac) AS max_jac
        FROM m GROUP BY sa, sb""")),

    // --------------------------------------------------------------- q133
    // SOURCE DIVERGENCE matrix — pairwise total-variation distance
    // between per-source hashed-unigram distributions: the
    // distributional-shift audit beside q125's dup matrix (q125 asks
    // "do these sources share documents?", this asks "do they speak
    // the same language?" — the number mixture design and drift
    // review read before reweighting). TV = ½ Σᵢ |pᵢ − qᵢ| over 64
    // hash buckets, computed as an ORDERED double fold (tvFold): the
    // summand is |cᵢ/n_a − dᵢ/n_b| in doubles, folded in ascending
    // bucket order, one final /2.0. The exact BIGINT cross-product
    // form (|cᵢ·n_b − dᵢ·n_a| summed, one division) was abandoned
    // because Σᵢ|cᵢ·n_b − dᵢ·n_a| overflows Long once n_a·n_b nears
    // 2^63 — real at 100 TB token counts — and Spark (non-ANSI)
    // wraps silently where DuckDB errors. Determinism instead comes
    // from fixing the fold ORDER on both engines (sort_array by i /
    // sum(d ORDER BY i)), so the matrix still hash-matches
    // bit-for-bit. Buckets are densified per source (missing bucket
    // = 0) so no |0 − dᵢ/n_b| term is ever dropped.
    //
    // Scale shape: ONE corpus scan map-side-combines to |sources|×64
    // rows; everything after (densify, pair join, fold) is
    // sources²-sized — driver-trivial at any corpus size. The bucket
    // count is the resolution/variance knob, not a cost knob.
    Q(
      "q133_source_divergence",
      (s, dir) => {
        import s.implicits._
        // counts is the one corpus-sized stage and feeds totals AND
        // the densify join; dense feeds both self-join sides — each
        // consumed ≥2× → materialize (the q21 localCheckpoint
        // discipline; both frames are |sources|×64-bounded)
        val counts = Checkpoints.local(docsSpread(s, dir)
          .select($"source", explode(expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
          .groupBy($"source",
            (expr(Selection.h60("tok")) % 64).as("i"))
          .agg(count(lit(1)).cast("long").as("c")))
        val totals = counts.groupBy($"source").agg(sum($"c").cast("long").as("n"))
        val dense = Checkpoints.local(totals
          .crossJoin(broadcast(s.range(0, 64).select($"id".as("i"))))
          .join(counts, Seq("source", "i"), "left")
          .select($"source", $"i", coalesce($"c", lit(0L)).as("c"), $"n"))
        val joined = dense.as("a")
          .join(dense.as("b"),
            col("a.i") === col("b.i") && col("a.source") < col("b.source"))
          .select(col("a.source").as("sa"), col("b.source").as("sb"),
            col("a.n").as("n_a"), col("b.n").as("n_b"), col("a.i").as("i"),
            col("a.c").as("ca"), col("a.n").as("na"),
            col("b.c").as("cb"), col("b.n").as("nb"))
        tvFold(joined, Seq("sa", "sb", "n_a", "n_b"))
          .select($"sa", $"sb", $"n_a", $"n_b", $"tv")
      },
      Some(s"""
        WITH toks AS (
          SELECT source,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        counts AS (
          SELECT source,
            ${Selection.h60Sql("tok")} % 64 AS i,
            CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2),
        totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source),
        dense AS (
          SELECT t.source, g.i, CAST(coalesce(c.c, 0) AS BIGINT) AS c, t.n
          FROM totals t
          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) g
          LEFT JOIN counts c ON c.source = t.source AND c.i = g.i),
        pairs AS (
          SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b,
            a.i AS i, ${tvTermSql("a", "b")} AS d
          FROM dense a JOIN dense b ON a.i = b.i AND a.source < b.source)
        SELECT sa, sb, n_a, n_b,
          sum(d ORDER BY i) / 2.0 AS tv
        FROM pairs GROUP BY sa, sb, n_a, n_b""")),

    // --------------------------------------------------------------- q136
    // DROP DRIFT report — the q133 divergence algebra pointed at the
    // ingestion boundary: an incoming drop (doc_id % 10 = 3, q112's
    // convention) versus the standing corpus, PER LANGUAGE — the
    // check a pipeline runs before folding a drop in ("is today's
    // crawl the same kind of text we already have, or did a source
    // silently change underneath us?"). Per language: doc/token
    // volumes on both sides and the total-variation distance between
    // the drop's and the corpus's hashed-unigram distributions —
    // q133's ordered double-fold (tvFold), densified buckets. The
    // BIGINT cross-product summand is deliberately NOT used here:
    // Σᵢ|cᵢ·n_b − dᵢ·n_a| overflows Long once drop·corpus token
    // counts near 2^63, which is exactly the scale this audit is
    // pitched at. Languages absent from either side have no defined
    // divergence and drop out (the volume columns already tell that
    // story).
    //
    // Scale shape: one corpus scan map-side-combines to
    // |langs|×2×64 rows; the reconcile is langs-sized. The drop
    // predicate is a scan-side filter — at 100 TB the two sides are
    // one partition-pruned read each (drops land partitioned by
    // batch), never a shuffle of text.
    Q(
      "q136_drop_drift",
      (s, dir) => {
        import s.implicits._
        // ONE corpus scan into a |docs|×≤64-bounded per-doc-bucket
        // frame; both rollups (bucket counts AND per-side volumes
        // incl. the distinct doc count) derive from it — materialized
        // for its two consumers, like the densified frame for its
        // self-join sides (the q21/q133 discipline)
        val pdb = Checkpoints.local(docsSpread(s, dir)
          .select(($"doc_id" % 10 === 3).cast("int").as("side"), $"lang", $"doc_id",
            explode(expr(
              "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
          .groupBy($"side", $"lang", $"doc_id",
            (expr(Selection.h60("tok")) % 64).as("i"))
          .agg(count(lit(1)).cast("long").as("c")))
        val counts = pdb.groupBy($"side", $"lang", $"i")
          .agg(sum($"c").cast("long").as("c"))
        val tot = pdb.groupBy($"side", $"lang")
          .agg(sum($"c").cast("long").as("n"),
            expr("count(DISTINCT doc_id)").cast("long").as("n_docs"))
        val dense = Checkpoints.local(tot
          .crossJoin(broadcast(s.range(0, 64).select($"id".as("i"))))
          .join(counts, Seq("side", "lang", "i"), "left")
          .select($"side", $"lang", $"i", coalesce($"c", lit(0L)).as("c"), $"n", $"n_docs"))
        val joined = dense.filter($"side" === 1).as("a")
          .join(dense.filter($"side" === 0).as("b"),
            col("a.lang") === col("b.lang") && col("a.i") === col("b.i"))
          .select(col("a.lang").as("lang"),
            col("a.n_docs").as("drop_docs"), col("a.n").as("drop_tokens"),
            col("b.n_docs").as("corpus_docs"), col("b.n").as("corpus_tokens"),
            col("a.i").as("i"),
            col("a.c").as("ca"), col("a.n").as("na"),
            col("b.c").as("cb"), col("b.n").as("nb"))
        tvFold(joined,
          Seq("lang", "drop_docs", "drop_tokens", "corpus_docs", "corpus_tokens"))
          .select($"lang", $"drop_docs", $"drop_tokens",
            $"corpus_docs", $"corpus_tokens", $"tv")
      },
      Some(s"""
        WITH toks AS (
          SELECT CAST(doc_id % 10 = 3 AS INT) AS side, lang, doc_id,
            unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        counts AS (
          SELECT side, lang,
            ${Selection.h60Sql("tok")} % 64 AS i,
            CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2, 3),
        tot AS (
          SELECT side, lang, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1, 2),
        dc AS (
          SELECT CAST(doc_id % 10 = 3 AS INT) AS side, lang,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM toks GROUP BY 1, 2),
        dense AS (
          SELECT t.side, t.lang, g.i, CAST(coalesce(c.c, 0) AS BIGINT) AS c,
            t.n, dc.n_docs
          FROM tot t
          JOIN dc ON dc.side = t.side AND dc.lang = t.lang
          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) g
          LEFT JOIN counts c ON c.side = t.side AND c.lang = t.lang AND c.i = g.i),
        pairs AS (
          SELECT a.lang AS lang, a.n_docs AS drop_docs, a.n AS drop_tokens,
            b.n_docs AS corpus_docs, b.n AS corpus_tokens,
            a.i AS i, ${tvTermSql("a", "b")} AS d
          FROM dense a JOIN dense b ON a.lang = b.lang AND a.i = b.i
            AND a.side = 1 AND b.side = 0)
        SELECT lang, drop_docs, drop_tokens, corpus_docs, corpus_tokens,
          sum(d ORDER BY i) / 2.0 AS tv
        FROM pairs
        GROUP BY lang, drop_docs, drop_tokens, corpus_docs, corpus_tokens""")),

    // --------------------------------------------------------------- q132
    // LSH estimator CALIBRATION audit — "is the banding geometry
    // earning its keep?": for every band-collision candidate pair,
    // the signature-side Jaccard estimate (fraction of the 8 minhash
    // components agreeing — the textbook unbiased estimator) is
    // compared against GROUND-TRUTH shingle Jaccard, grouped by
    // agreement level. Per level: pair count, pooled true Jaccard
    // (SUM(|∩|)/SUM(|∪|) — one division of exact BIGINTs, never a
    // mean of per-pair doubles), and how many pairs clear the q21
    // production threshold, tested EXACTLY in integers
    // (20·|∩| ≥ 7·|∪| ⟺ jac ≥ 0.35 — no double comparison anywhere).
    // This is the precision table that justifies (or indicts) the
    // 2×4 band choice: candidates collide on ≥1 full band, so
    // agreement starts at 4/8, and the n_ge_035 column IS the
    // measured precision of each estimator bucket. At 100 TB this
    // runs on the candidate stream the dedup pipeline already
    // produces (signatures and shingle sets shuffle, text never
    // does) — or on a doc_id-sampled slice, since it's a statistic,
    // not a transform.
    Q(
      "q132_lsh_calibration",
      (s, dir) => lshCalibration(docsSpread(s, dir)),
      Some(s"""
        WITH $minhashCandSql,
        agr AS (
          SELECT c.d1, c.d2,
            CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
          FROM cand c
          JOIN sig a ON a.doc_id = c.d1
          JOIN sig b ON b.doc_id = c.d2 AND b.j = a.j
          GROUP BY c.d1, c.d2),
        ji AS (
          SELECT c.d1, c.d2,
            CAST(coalesce(i.ni, 0) AS BIGINT) AS ni,
            CAST(sa.n + sb.n - coalesce(i.ni, 0) AS BIGINT) AS un
          FROM cand c
          LEFT JOIN (
            SELECT c2.d1, c2.d2, count(*) AS ni
            FROM cand c2
            JOIN sh s1 ON s1.doc_id = c2.d1
            JOIN sh s2 ON s2.doc_id = c2.d2 AND s2.g = s1.g
            GROUP BY c2.d1, c2.d2) i ON i.d1 = c.d1 AND i.d2 = c.d2
          JOIN sizes sa ON sa.doc_id = c.d1
          JOIN sizes sb ON sb.doc_id = c.d2)
        SELECT agr.agree AS n_agree,
          CAST(agr.agree AS DOUBLE) / 8.0 AS est,
          CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(ji.ni) AS BIGINT) AS sum_inter,
          CAST(sum(ji.un) AS BIGINT) AS sum_union,
          CAST(CAST(sum(ji.ni) AS BIGINT) AS DOUBLE) /
            CAST(CAST(sum(ji.un) AS BIGINT) AS DOUBLE) AS pooled_jac,
          CAST(sum(CASE WHEN ji.ni * 20 >= ji.un * 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_035
        FROM agr JOIN ji ON ji.d1 = agr.d1 AND ji.d2 = agr.d2
        GROUP BY agr.agree"""))
  ,
    // --------------------------------------------------------------- q140
    // Repeated-token RUN detector — the degeneration gate beside
    // q68's distinct-shingle ratio: model-generated and
    // scraper-mangled text shows "the the the …" loops that n-gram
    // ratios dilute away on long documents, but the LONGEST
    // consecutive run of one token catches directly. Classic
    // gaps-and-islands: island id = pos − rank-within-(doc, token),
    // constant along a run; per doc the maximal run wins, tie-broken
    // deterministically (token asc, start pos asc). Every doc
    // reports (runs of length 1 are the clean-text baseline), so the
    // output doubles as a threshold-tunable score column. All-BIGINT
    // throughout — no float anywhere.
    //
    // Scale shape: windows partition by doc_id (then doc_id × token),
    // so this is a per-document scan-throughput pass — the shuffle
    // moves each token once, keyed by doc; no corpus-global window
    // (the q81 GlobalRank anti-pattern) anywhere.
    Q(
      "q140_repeat_runs",
      (s, dir) => {
        import s.implicits._
        val toks = docsSpread(s, dir)
          .select($"doc_id", posexplode(expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")))
          .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"col".as("w"))
        val runs = toks
          .withColumn("isl", $"pos" - row_number().over(
            Window.partitionBy($"doc_id", $"w").orderBy($"pos".asc)))
          .groupBy($"doc_id", $"w", $"isl")
          .agg(count(lit(1)).cast("long").as("run_len"),
            min($"pos").as("start_pos"))
        runs
          .withColumn("rk", row_number().over(
            Window.partitionBy($"doc_id")
              .orderBy($"run_len".desc, $"w".asc, $"start_pos".asc)))
          .filter($"rk" === 1)
          .select($"doc_id", $"w".as("tok"), $"run_len", $"start_pos")
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
        tk AS (
          SELECT doc_id, CAST(s.i AS BIGINT) AS pos, t[s.i] AS w
          FROM toks CROSS JOIN generate_series(1, 1000) s(i)
          WHERE s.i <= len(t)),
        isl AS (
          SELECT doc_id, w, pos,
            pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS isl
          FROM tk),
        runs AS (
          SELECT doc_id, w, isl,
            CAST(count(*) AS BIGINT) AS run_len,
            CAST(min(pos) AS BIGINT) AS start_pos
          FROM isl GROUP BY doc_id, w, isl),
        best AS (
          SELECT doc_id, w, run_len, start_pos,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY run_len DESC, w ASC, start_pos ASC) AS rk
          FROM runs)
        SELECT doc_id, w AS tok, run_len, start_pos FROM best WHERE rk = 1"""))
  ,
    // --------------------------------------------------------------- q143
    // Length-distribution DRIFT (Kolmogorov–Smirnov) — the q136
    // unigram-TV audit's shape-side sibling at the same ingestion
    // boundary: does the incoming drop (doc_id % 10 = 3) have the
    // same DOCUMENT-LENGTH distribution as the standing corpus, or
    // did a feed start truncating/concatenating? KS statistic over
    // 50-char n_chars buckets: per-side cumulative counts via one
    // ordered window over the |buckets|-sized frame, D = max
    // |F_drop − F_corpus|, reported with the bucket where the gap
    // peaks (smallest such bucket — deterministic). Each per-bucket
    // CDF term is one correctly-rounded double division of exact
    // BIGINTs; max over doubles is order-independent, so the row
    // hash-matches (no tvFold needed — max, unlike sum, commutes).
    //
    // Scale shape: ONE metadata-only corpus scan (n_chars, no text)
    // map-side-combines to |buckets|×2 rows; everything after is
    // bucket-sized. The n_chars column means the scan reads a
    // 16-byte column stripe, not text — at 100 TB this audit runs
    // from parquet statistics-adjacent data.
    Q(
      "q143_length_drift",
      (s, dir) => {
        import s.implicits._
        // |buckets|-sized, consumed by the cumulative pass AND the
        // totals — materialize so the corpus scan runs once (q133's
        // counts discipline)
        val sides = Checkpoints.local(table(s, dir, "documents")
          .select(($"doc_id" % 10 === 3).cast("int").as("side"),
            expr("n_chars div 50").as("bkt"))
          .groupBy($"bkt")
          .agg(
            sum(when($"side" === 1, 1L).otherwise(0L)).cast("long").as("cd"),
            sum(when($"side" === 0, 1L).otherwise(0L)).cast("long").as("cc")))
        val w = Window.orderBy($"bkt".asc)
        val cum = sides
          .withColumn("fd", sum($"cd").over(w))
          .withColumn("fc", sum($"cc").over(w))
          .crossJoin(broadcast(sides.agg(
            sum($"cd").cast("long").as("nd"), sum($"cc").cast("long").as("nc"))))
          .withColumn("gap", abs(
            $"fd".cast("double") / $"nd".cast("double") -
              $"fc".cast("double") / $"nc".cast("double")))
        cum
          .withColumn("rk", row_number().over(
            Window.orderBy($"gap".desc, $"bkt".asc)))
          .filter($"rk" === 1)
          .select($"bkt".as("ks_bucket"), $"nd".as("drop_docs"),
            $"nc".as("corpus_docs"), $"gap".as("ks"))
      },
      Some("""
        WITH sides AS (
          SELECT n_chars // 50 AS bkt,
            CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS cd,
            CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE 1 END) AS BIGINT) AS cc
          FROM documents GROUP BY 1),
        tot AS (
          SELECT CAST(sum(cd) AS BIGINT) AS nd, CAST(sum(cc) AS BIGINT) AS nc
          FROM sides),
        cum AS (
          SELECT bkt,
            CAST(sum(cd) OVER (ORDER BY bkt) AS BIGINT) AS fd,
            CAST(sum(cc) OVER (ORDER BY bkt) AS BIGINT) AS fc,
            tot.nd, tot.nc
          FROM sides CROSS JOIN tot),
        gaps AS (
          SELECT bkt, nd, nc,
            abs(CAST(fd AS DOUBLE) / CAST(nd AS DOUBLE) -
                CAST(fc AS DOUBLE) / CAST(nc AS DOUBLE)) AS gap
          FROM cum),
        best AS (
          SELECT bkt, nd, nc, gap,
            row_number() OVER (ORDER BY gap DESC, bkt ASC) AS rk
          FROM gaps)
        SELECT bkt AS ks_bucket, nd AS drop_docs, nc AS corpus_docs, gap AS ks
        FROM best WHERE rk = 1""")),

    // ---------------------------------------------------------------- q145
    // Cluster COHERENCE audit — q45's dedup clusters are the
    // TRANSITIVE closure of the verified pair graph, and transitivity
    // is exactly where near-dup dedup overreaches: A~B and B~C at
    // jac 0.35 do not imply A~C, yet q85 keeps only the canonical doc
    // of {A,B,C}. Per cluster: member/edge counts, the weakest and
    // strongest verified edge, and how many non-canonical members
    // hold a DIRECT verified edge to the canonical (the doc q85
    // keeps) — members reachable only through chains (n_chained) are
    // deleted without any verified similarity to the survivor.
    // n_chained > 0 on a big cluster is the signal to tighten the
    // threshold or re-verify members against the canonical before
    // applying q85.
    //
    // Scale shape: strictly downstream of machinery that already runs
    // at scale — q21's candidate-bounded pair stream (banded
    // signatures shuffle, never text) and q45's CC labels; everything
    // here is pair-stream-sized doc-id joins and cluster-sized
    // aggregates. min/max over the jac doubles are order-free, so
    // the output hash-matches without an ordered fold.
    Q(
      "q145_cluster_coherence",
      (s, dir) => {
        import s.implicits._
        // consumed by CC, the edge-label join, and the direct-edge
        // pass — materialize once (the q21 docSets discipline)
        val pairs = Checkpoints.local(Llm.all.find(_.name == "q21_minhash_lsh").get
          .run(s, dir))
        val labels = graft.ops.ConnectedComponents.auto(
          pairs.select($"d1", $"d2"))
        val e2 = Checkpoints.local(pairs
          .join(labels.select($"v".as("d1"), $"cluster_id"), "d1")) // consumed by eagg AND direct
        val memb = labels.groupBy($"cluster_id")
          .agg(count(lit(1)).cast("long").as("n_members"))
        val eagg = e2.groupBy($"cluster_id").agg(
          count(lit(1)).cast("long").as("n_edges"),
          min($"jac").as("min_jac"),
          max($"jac").as("max_jac"))
        // canonical = cluster_id (the min member, q45's convention);
        // its direct partners are the other endpoint of every edge
        // touching it (robust to either pair orientation)
        val direct = e2
          .filter($"d1" === $"cluster_id" || $"d2" === $"cluster_id")
          .select($"cluster_id",
            when($"d1" === $"cluster_id", $"d2").otherwise($"d1").as("m"))
          .groupBy($"cluster_id")
          .agg(countDistinct($"m").cast("long").as("n_direct"))
        memb
          .join(eagg, "cluster_id")
          .join(direct, Seq("cluster_id"), "left")
          .select($"cluster_id", $"n_members", $"n_edges",
            $"min_jac", $"max_jac",
            coalesce($"n_direct", lit(0L)).as("n_direct"),
            ($"n_members" - lit(1L) - coalesce($"n_direct", lit(0L)))
              .as("n_chained"))
      },
      Some(s"""
        WITH RECURSIVE pairs AS ($minhashPairsSql),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION
          SELECT d2, d1 FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        cc AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
        memb AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
          FROM cc GROUP BY cluster_id),
        e2 AS (
          SELECT cc.cluster_id, p.d1, p.d2, p.jac
          FROM pairs p JOIN cc ON p.d1 = cc.v),
        eagg AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
            min(jac) AS min_jac, max(jac) AS max_jac
          FROM e2 GROUP BY cluster_id),
        direct AS (
          SELECT cluster_id,
            CAST(count(DISTINCT CASE WHEN d1 = cluster_id THEN d2 ELSE d1 END) AS BIGINT) AS n_direct
          FROM e2 WHERE d1 = cluster_id OR d2 = cluster_id
          GROUP BY cluster_id)
        SELECT m.cluster_id, m.n_members, e.n_edges, e.min_jac, e.max_jac,
          CAST(COALESCE(d.n_direct, 0) AS BIGINT) AS n_direct,
          CAST(m.n_members - 1 - COALESCE(d.n_direct, 0) AS BIGINT) AS n_chained
        FROM memb m
        JOIN eagg e USING (cluster_id)
        LEFT JOIN direct d USING (cluster_id)""")),

    // ---------------------------------------------------------------- q155
    // FLESCH READING-EASE scoring — the classic readability signal
    // beside the Gopher shape rules (q87) and the learned classifier
    // (q109): 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    // words), with syllables approximated as vowel groups per word
    // (the standard heuristic) and a ≥1 floor per word and per doc's
    // sentence count. Every count is an exact BIGINT from one scan;
    // the score is three IEEE ops on two exact ratios in a fixed
    // left-associated chain, so it hash-matches bit-for-bit (the q88
    // no-transcendentals discipline — no log, no pow).
    //
    // Scale shape: pure scan projection — the nested lambdas
    // (per-word vowel-group counts) run inside the row, nothing
    // explodes and nothing shuffles; the output is |docs| narrow
    // rows. The cheapest kind of operator at 100 TB.
    Q(
      "q155_readability",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .select($"doc_id",
            greatest(size(expr(
              "filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x <> '')")),
              lit(1)).cast("long").as("n_sentences"),
            expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("ws"))
          .filter(size($"ws") >= 1)
          .select($"doc_id", $"n_sentences",
            size($"ws").cast("long").as("n_words"),
            expr("""aggregate(
                transform(ws, w -> greatest(size(filter(split(w, '[^aeiou]+'), p -> p <> '')), 1)),
                CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))""")
              .as("n_syllables"))
          .withColumn("flesch",
            lit(206.835) -
              lit(1.015) * ($"n_words".cast("double") / $"n_sentences".cast("double")) -
              lit(84.6) * ($"n_syllables".cast("double") / $"n_words".cast("double")))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            greatest(CAST(len(list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'), x -> trim(x)), x -> x <> '')) AS BIGINT), 1) AS n_sentences,
            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS ws
          FROM documents),
        c AS (
          SELECT doc_id, n_sentences,
            CAST(len(ws) AS BIGINT) AS n_words,
            CAST(list_sum(list_transform(ws,
              w -> greatest(len(list_filter(regexp_split_to_array(w, '[^aeiou]+'), p -> p <> '')), 1))) AS BIGINT) AS n_syllables
          FROM t WHERE len(ws) >= 1)
        SELECT doc_id, n_sentences, n_words, n_syllables,
          206.835 -
            1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
            84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
        FROM c""")),

    // ---------------------------------------------------------------- q160
    // Shingle CONTAINMENT scoring — the asymmetric-dup detector
    // Jaccard structurally misses: a short doc quoted whole inside a
    // long one has c1 = |A∩B|/|A| ≈ 1 while jac = |A∩B|/|A∪B| stays
    // far below any dedup threshold (the quote-expansion /
    // article-plus-commentary case). Over q21's capped candidate
    // stream: both directed containments, Jaccard, and the asym flag
    // (containment ≥ 0.8 while jac < 0.35 — exactly the pairs every
    // Jaccard-gated pass lets through). Candidate recall caveat,
    // documented honestly: symmetric minhash bands under-candidate
    // extreme-containment pairs (band collision tracks jac, not
    // containment) — within the 200-char prefix window the sets are
    // size-bounded so the gap is modest, and the EXACT-recall path
    // for substring containment is the q86/q108 gram machinery; this
    // operator prices the candidates the near-dup pass already has.
    //
    // Scale shape: identical to q21 — banded signatures shuffle,
    // verification touches candidates only, text never moves; the
    // two extra divisions are free.
    Q(
      "q160_containment",
      (s, dir) => {
        import s.implicits._
        scoredCandidates(docsSpread(s, dir), lshMaxBucket)
          .withColumn("jac",
            $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
          .withColumn("c1", $"inter".cast("double") / $"na")
          .withColumn("c2", $"inter".cast("double") / $"nb")
          .filter(greatest($"c1", $"c2") >= 0.5)
          .select($"d1", $"d2",
            $"inter".cast("long").as("n_inter"),
            $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
            $"jac", $"c1", $"c2",
            (greatest($"c1", $"c2") >= 0.8 && $"jac" < 0.35)
              .cast("long").as("asym"))
      },
      Some(s"""
        WITH $minhashCandSql,
        inter AS (
          SELECT c.d1, c.d2, count(*) AS ni
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.g = s1.g
          GROUP BY c.d1, c.d2),
        t AS (
          SELECT i.d1, i.d2,
            CAST(i.ni AS BIGINT) AS n_inter,
            CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
            CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) AS jac,
            CAST(i.ni AS DOUBLE) / sa.n AS c1,
            CAST(i.ni AS DOUBLE) / sb.n AS c2
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.d1
          JOIN sizes sb ON sb.doc_id = i.d2)
        SELECT d1, d2, n_inter, n_a, n_b, jac, c1, c2,
          CAST(greatest(c1, c2) >= 0.8 AND jac < 0.35 AS BIGINT) AS asym
        FROM t WHERE greatest(c1, c2) >= 0.5""")),

    // ---------------------------------------------------------------- q161
    // EXACT threshold set-similarity self-join via prefix + positional
    // filtering (the All-Pairs / PPJoin family: Bayardo et al. WWW'07,
    // Xiao et al. WWW'08) — the deterministic, NO-false-negative
    // counterpart of q21's MinHash-LSH: every pair with word-trigram
    // Jaccard ≥ 1/2 is found, with a proof-carrying candidate set
    // instead of a collision probability. Tokens are ordered by
    // ascending global df (rarest first, token string as tiebreak);
    // a doc of n trigrams indexes only its PREFIX of n - ⌈n/2⌉ + 1
    // rarest trigrams (any pair with Jaccard ≥ t must share a prefix
    // token — pigeonhole on the ⌈t·n⌉ overlap the threshold forces),
    // candidates need ≥1 prefix-token collision plus the size filter
    // (2·n1 ≥ n2 ∧ 2·n2 ≥ n1), and the POSITIONAL filter tightens it:
    // for the globally-rarest shared prefix token (per-pair min rank
    // on BOTH sides — ranks are monotone in the shared global order,
    // so min(r1) and min(r2) come from the same token; tokens ranked
    // before it on either side are provably unshared), the overlap
    // upper bound 1 + min(n1−r1, n2−r2) must reach the equivalent
    // intersection bound α = ⌈(n1+n2)/3⌉ (jac ≥ 1/2 ⟺ 3·inter ≥
    // n1+n2). t = 1/2 keeps EVERY gate in pure integer arithmetic —
    // the one double is the final reported jaccard.
    //
    // Word TRIGRAMS, not the q21 family's 5-char shingles: prefix
    // filtering keys on rarity, and this corpus's character-shingle
    // space is tiny (~2k distinct, median df ~3.5% of docs — measured;
    // prefixes pruned only 2× there) while trigrams over the 31-word
    // vocabulary span ~31³ (max df 25 at sf0.1, 40× pruning before
    // the positional gate, another 2.5× after).
    //
    // Scale shape: df and ranks are token-keyed aggs/joins of the
    // trigram stream; the candidate join keys on prefix tokens whose
    // per-token fanout is bounded by df of the RAREST trigrams;
    // verification joins the |cand| pair frame back to the per-doc
    // set arrays (doc-keyed, AQE-broadcast when small). No LSH banding
    // to tune, no cap to document — exactness is the contract.
    Q(
      "q161_setsim_join",
      (s, dir) => setSimJoin(docsSpread(s, dir), 1, 2),
      Some(setSimSql(1, 2))),

    // ---------------------------------------------------------------- q187
    // SECOND PPJOIN OPERATING POINT — the same exact prefix+positional
    // engine at t = 7/10, covering the LSH family's operating
    // thresholds (q21 verifies at jac ≥ 0.35; dedup configs commonly
    // run 0.7–0.8): [[setSimJoin]] generalizes every gate to the
    // rational p/q — prefix length n − ⌈p·n/q⌉ + 1, size filter
    // q·n1 ≥ p·n2 (both ways), positional bound vs the equivalent
    // intersection α = ⌈p(n1+n2)/(p+q)⌉, and verification
    // (p+q)·inter ≥ p·(n1+n2) — so EVERY gate stays in pure integer
    // arithmetic at ANY rational threshold (no float threshold drift
    // between engines), exactly the q161 discipline. Higher t means a
    // SHORTER prefix (n − ⌈0.7n⌉ + 1 vs n − ⌈0.5n⌉ + 1): the candidate
    // join gets cheaper as the bar rises, the opposite of LSH (which
    // would need more bands) — the reason an exact join is the right
    // tool at high thresholds.
    Q(
      "q187_setsim_t07",
      (s, dir) => setSimJoin(docsSpread(s, dir), 7, 10),
      Some(setSimSql(7, 10))),

    // ---------------------------------------------------------------- q192
    // TRAIN/EVAL SPLIT LEAKAGE AUDIT — the internal counterpart of
    // q137/q141's external-benchmark decontamination: a near-dup pair
    // STRADDLING q53's content-addressed split means the val/test
    // member is effectively in the training set (the metric it feeds
    // is contaminated), and no external benchmark check can see it.
    // Output: each val/test document with a verified near-dup partner
    // (jac ≥ 0.35, q21's machinery) in train — the rows an eval owner
    // must either drop from the eval or excise from train. The split
    // is q53's expression verbatim (content-addressed, so this audit
    // is replayable against any corpus snapshot).
    //
    // Scale shape: the pair frame is q21's capped LSH join (banded,
    // never all-pairs), materialized ONCE — both direction legs read
    // the checkpoint, never re-running the candidate-verify pipeline
    // (the q105 one-checkpoint-two-consumers discipline). Split
    // assignment is TrainPrep.splitOf — q53's expression by
    // REFERENCE, a pure function of the id projected onto the
    // pair-sized legs (no corpus join, and the audit structurally
    // cannot drift from the split training actually uses). Output is
    // leak-sized.
    Q(
      "q192_split_leakage",
      (s, dir) => {
        import s.implicits._
        val pairs = Checkpoints.local(minhashLshPairs(docsSpread(s, dir), lshMaxBucket))
        pairs.select($"d1".as("doc_id"), $"d2".as("partner"), $"jac")
          .unionAll(pairs.select($"d2".as("doc_id"), $"d1".as("partner"), $"jac"))
          .withColumn("split", TrainPrep.splitOf($"doc_id"))
          .withColumn("partner_split", TrainPrep.splitOf($"partner"))
          .filter($"split".isin("val", "test") && $"partner_split" === "train")
          .select($"doc_id", $"split", $"partner", $"partner_split", $"jac")
      },
      Some(s"""
        WITH pairs AS (${minhashPairsSql}),
        legs AS (
          SELECT d1 AS doc_id, d2 AS partner, jac FROM pairs
          UNION ALL
          SELECT d2, d1, jac FROM pairs)
        SELECT doc_id, ${TrainPrep.splitSql("doc_id")} AS split,
          partner, ${TrainPrep.splitSql("partner")} AS partner_split, jac
        FROM legs
        WHERE ${TrainPrep.splitSql("doc_id")} IN ('val', 'test')
          AND ${TrainPrep.splitSql("partner")} = 'train'""")),

    // ---------------------------------------------------------------- q165
    // RIGHT-TO-BE-FORGOTTEN probe (ops.Forget): the q74 incremental-
    // dedup posture AFTER a deletion request — corpus band/set state
    // persists at rest (the StreamCuration layout), doc_id % 19 == 3
    // docs are tombstoned, and a batch probes the EXCLUDED state
    // through the real incremental path (Lsh.incrementalCandidatesFrom
    // over Forget.exclude'd frames). The oracle is the full LSH
    // pipeline over the corpus WITHOUT the forgotten docs — i.e. the
    // query asserts forget ≡ rebuild-without, hash-checked end to end
    // (probe-time exclusion must neither match against a forgotten
    // doc nor change any surviving pair's jaccard). Physical removal
    // (Forget.compact — the crash-safe fold with an anti-join
    // transform) is pinned by ForgetSpec; this query pins the
    // decision algebra the compaction must preserve.
    //
    // Scale shape: tombstones are request-sized → broadcast anti-
    // joins; state is scanned, never shuffled (the incremental path's
    // existing contract); the cap measures the EXCLUDED bucket
    // population, exactly what a rebuild would see (cap never fires
    // on these corpora — the lshMaxBucket note — so the oracle's
    // capped form stays exact).
    Q(
      "q165_forget_probe",
      (s, dir) => {
        import s.implicits._
        val docs = docsSpread(s, dir)
        val corpus = docs.filter($"doc_id" % 10 < 8)
        val batch = docs.filter($"doc_id" % 10 >= 8)
        // corpus state + tombstones built once per corpus content
        // (StateCache — production probes a state its maintainer owns
        // and the RTBF request committed earlier); the timed path is
        // the EXCLUDED-state probe, the operator's per-batch cost
        val srcFp = graft.ops.Smb.sourceFingerprint(s, s"$dir/documents.parquet")
        val state = graft.ops.StateCache.ensure(s"q165_forget_$srcFp") { st =>
          Checkpoints.scope {
            val csets = Checkpoints.local(shingleSets(corpus))
            bandsOf(csets)
              .withColumn("bkey", concat_ws("|", $"band", $"bsig"))
              .select($"bkey", $"doc_id")
              .write.mode("overwrite").parquet(s"$st/bands/base")
            csets.write.mode("overwrite").parquet(s"$st/sets/base")
          }
          graft.ops.Forget.tombstone(s, st,
            corpus.filter($"doc_id" % 19 === 3).select($"doc_id"), 0L)
        }
        val bsets = Checkpoints.local(shingleSets(batch))
        val seenBands = graft.ops.Forget.exclude(
          graft.ops.Layouts.readChildren(s, s"$state/bands",
            "bkey STRING, doc_id BIGINT"), s, state)
        // the incremental path's caller contract: the batch band frame
        // is consumed once per tier decision plus once per tier —
        // materialize it (the StreamCuration discipline)
        val bbands = Checkpoints.local(bandsOf(bsets))
        val cand = graft.ops.Lsh.incrementalCandidatesFrom(
          s, seenBands, bbands, lshMaxBucket)
        val seenSets = graft.ops.Forget.exclude(
          graft.ops.Layouts.readChildren(s, s"$state/sets",
            "doc_id BIGINT, gs ARRAY<STRING>"), s, state)
        cand
          .join(seenSets.select($"doc_id".as("corpus_doc"), $"gs".as("gs1")),
            "corpus_doc")
          .join(bsets.select($"doc_id".as("batch_doc"), $"gs".as("gs2")),
            "batch_doc")
          .withColumn("inter", size(array_intersect($"gs1", $"gs2")))
          .withColumn("jac", $"inter".cast("double")
            / (size($"gs1") + size($"gs2") - $"inter"))
          .filter($"jac" >= 0.35)
          .select($"batch_doc", $"corpus_doc", $"jac")
      },
      Some(s"""
        WITH pairs AS ($minhashPairsSql)
        SELECT CASE WHEN d1 % 10 < 8 THEN d2 ELSE d1 END AS batch_doc,
               CASE WHEN d1 % 10 < 8 THEN d1 ELSE d2 END AS corpus_doc,
               jac
        FROM pairs
        WHERE (d1 % 10 < 8) <> (d2 % 10 < 8)
          AND (CASE WHEN d1 % 10 < 8 THEN d1 ELSE d2 END) % 19 <> 3""")),

    // ---------------------------------------------------------------- q168
    // QUALITY-AWARE canonical selection — dedup that keeps the BEST
    // document, not the first: per q45 near-dup cluster, the canonical
    // is the member maximizing an integer quality key (stop-hits
    // dominant, length tiebreak, min doc_id as the final tiebreak —
    // the dedup literature keeps the highest-quality copy; min-id
    // keep, q85's rule, is the order-dependent default this query
    // audits). `differs` counts the clusters where the two policies
    // disagree — the docs min-id dedup throws away that a quality
    // bar would have kept.
    //
    // The argmax is a single max(struct(quality, -doc_id)) partial
    // agg — deterministic (lexicographic struct order, total because
    // doc_id is unique), map-side combinable, no window over members.
    //
    // Scale shape: q45's cluster labels (CC over the LSH pair graph,
    // two-tier) joined doc-keyed to a scan-side quality projection;
    // one |clustered-docs|-row shuffle into the per-cluster agg.
    Q(
      "q168_quality_dedup",
      (s, dir) => {
        import s.implicits._
        val pairs = Llm.all.find(_.name == "q21_minhash_lsh").get
          .run(s, dir).select($"d1", $"d2")
        val labels = graft.ops.ConnectedComponents.auto(pairs)
        val qual = docsSpread(s, dir).select($"doc_id",
          (size(expr(
            "regexp_extract_all(lower(text), '\\\\b(the|a|and|of|to|in)\\\\b', 0)"))
            .cast("long") * 1000000L + length($"text").cast("long"))
            .as("quality"))
        labels.join(qual, labels("v") === qual("doc_id"))
          .groupBy($"cluster_id")
          .agg(count(lit(1)).cast("long").as("n_members"),
            max(struct($"quality", (-$"doc_id").as("nid"))).as("mx"))
          .select($"cluster_id", $"n_members",
            (-$"mx.nid").as("canon_doc"),
            $"mx.quality".as("canon_quality"),
            ($"mx.nid" =!= -$"cluster_id").cast("long").as("differs"))
      },
      Some(s"""
        WITH RECURSIVE pairs AS ($minhashPairsSql),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM pairs
          UNION
          SELECT d2, d1 FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
        qual AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in)\\b')) AS BIGINT) * 1000000
              + CAST(length(text) AS BIGINT) AS quality
          FROM documents),
        j AS (
          SELECT l.cluster_id, l.v AS doc_id, q.quality
          FROM labels l JOIN qual q ON q.doc_id = l.v),
        m AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
            max(quality) AS mq
          FROM j GROUP BY cluster_id),
        c AS (
          SELECT j.cluster_id, min(m.n_members) AS n_members,
            min(j.doc_id) AS canon_doc, min(m.mq) AS canon_quality
          FROM j JOIN m ON j.cluster_id = m.cluster_id AND j.quality = m.mq
          GROUP BY j.cluster_id)
        SELECT cluster_id, n_members, canon_doc, canon_quality,
          CAST(canon_doc <> cluster_id AS BIGINT) AS differs
        FROM c"""))
  )
}
