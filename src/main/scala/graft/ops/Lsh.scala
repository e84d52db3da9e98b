package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hot-bucket-safe LSH candidate generation — the guards against the
  * standard quadratic-bucket failure mode (one boilerplate prefix shared
  * by a large corpus fraction lands every copy in one bucket, and naive
  * in-bucket pair expansion goes O(|bucket|²)).
  *
  * Two treatments, matched to the banding geometry:
  *
  *  - [[expandPairsCapped]] (fine, high-cardinality buckets — minhash
  *    band signatures): buckets larger than `maxBucket` are DROPPED.
  *    A minhash band bucket that big is template/boilerplate text, not
  *    a near-dup cluster worth pairwise scoring — the standard
  *    web-dedup treatment (exact-duplicate floods are already caught by
  *    content-hash dedup, q20). This changes results for hot buckets,
  *    so the cap is part of the operator contract and the q21 oracle
  *    SQL encodes the same rule.
  *
  *  - [[simhashCandidates]] (coarse, few-bucket banding — 8-bit simhash
  *    bands, where EVERY bucket is hot at corpus scale): hot buckets are
  *    sub-banded EXACTLY, not dropped. Recursive pigeonhole: a pair
  *    within hamming distance d that agrees on band b has all ≤ d
  *    differing bits outside b, so re-banding the remaining bits into
  *    ≥ d+1 sub-bands guarantees agreement on some sub-band. Candidates
  *    within a hot bucket then come from equality on
  *    (band, sub-band) — per-bucket pair counts shrink ~|sub-band
  *    alphabet|×, and the final candidate set (after the exact hamming
  *    verify) is provably IDENTICAL to the uncapped plan, so no oracle
  *    change is needed (pinned by LshSpec's equality property).
  */
object Lsh {

  /** Buckets above the cap, for observability/tests: (bucketCols..., n). */
  def hotBuckets(bands: DataFrame, bucketCols: Seq[String], maxBucket: Int): DataFrame =
    bands.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** In-bucket pair expansion with hot buckets (size > maxBucket)
    * dropped as boilerplate BEFORE any per-bucket array forms: a
    * partial-aggregable count gates the buckets, and only the
    * survivors (≤ maxBucket members each) flow into the
    * groupBy-collect pair expansion. The old collect-then-filter order
    * materialized every hot bucket's FULL id list first — a
    * boilerplate bucket holding 10⁸ ids is a multi-GB single array
    * row, the exact shape the cap exists to prevent (and that
    * ConnectedComponents' large-star rationale forbids). Both
    * consumers (the count and the expansion) read ONE explicit
    * bucket-keyed exchange through AQE ReuseExchange — the q86
    * pattern — so the upstream banding pipeline still executes
    * exactly once (no self-join re-execution). Returns distinct
    * (d1, d2), d1 < d2.
    */
  def expandPairsCapped(
      bands: DataFrame,
      bucketCols: Seq[String],
      idCol: String,
      maxBucket: Int): DataFrame = {
    val spark = bands.sparkSession
    // EXPLICIT partition count: a bare repartition is advisory under
    // AQE (the docsSpread trap)
    val b = bands.repartition(
      spark.sparkContext.defaultParallelism, bucketCols.map(col): _*)
    val ok = b.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select(bucketCols.map(col): _*)
    b.join(ok, bucketCols)
      .groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .select(explode(expr(
        "flatten(transform(ids, x -> filter(transform(ids, y -> struct(x AS d1, y AS d2)), p -> p.d1 < p.d2)))")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
  }

  /** Persist a minhash band table bucketed on a combined single-column
    * key (Spark bucket pruning needs a one-column spec) — the at-rest
    * corpus side of incremental dedup: each new batch hashes only its
    * own documents and probes the buckets it lands in; the corpus is
    * never re-shingled.
    */
  def saveBands(bands: DataFrame, tableName: String, numBuckets: Int = 64): Unit =
    bands
      .withColumn("bkey", concat_ws("|", col("band"), col("bsig")))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "bkey").sortBy("bkey")
      .saveAsTable(tableName)

  /** Batch row count at/below which [[incrementalCandidatesFrom]] uses
    * the driver tier (collect + literal IN-keys, enabling static
    * bucket pruning). Above it the batch stays distributed — a
    * realistic daily drop (10⁶–10⁸ docs × bands) is not driver-sized,
    * and collecting it would OOM the driver (the two-tier discipline
    * ConnectedComponents / BpeTrain / PageRank already follow).
    */
  val DriverBatchRows: Long = 100000L

  /** Cross-set candidate pairs of a batch band frame against a
    * [[saveBands]]-persisted corpus; output pairs are
    * (corpus_doc, batch_doc) distinct. The same hot-bucket cap as the
    * batch pipeline applies, on the same measure — the COMBINED bucket
    * population (corpus rows + probing batch rows per band key),
    * exactly what [[expandPairsCapped]] would see if corpus and batch
    * were banded together. A combined bucket above `maxBucket` is
    * boilerplate and emits nothing, so the incremental path keeps
    * [[expandPairsCapped]]'s operator contract (and its corpus×batch
    * fan-out bound) instead of silently reintroducing the quadratic
    * flood. The exact verify stage (Jaccard on shingle sets) stays the
    * caller's job, same as the in-memory pipeline.
    *
    * Two tiers on the batch size (see [[DriverBatchRows]]):
    * driver-sized batches are collected once and probed as literal
    * IN-keys (static bucket pruning: the scan reads only the buckets
    * the batch lands in); larger batches stay distributed — the
    * saved table's bucketing co-locates the semi join and the count
    * without shuffling the corpus side. Both tiers produce the same
    * pairs under the same cap (LshSpec's tier-equality property).
    */
  def incrementalCandidates(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batchBands: DataFrame,
      maxBucket: Int = 64,
      driverMaxRows: Long = DriverBatchRows): DataFrame =
    incrementalCandidatesFrom(spark, spark.table(tableName), batchBands,
      maxBucket, driverMaxRows)

  /** [[incrementalCandidates]] against any (bkey, doc_id) corpus band
    * frame instead of a saved table — the entry the streaming curation
    * path probes its accumulating parquet band state through (same
    * contract and the same two tiers; without table bucketing the
    * distributed tier's joins shuffle batch-bucket-sized frames, the
    * corpus frame is still only scanned).
    *
    * The batch pipeline executes once per tier decision plus once per
    * tier: callers keep their band frames `localCheckpoint`ed (both
    * production callers do), so the extra passes are over materialized
    * partitions.
    */
  def incrementalCandidatesFrom(
      spark: org.apache.spark.sql.SparkSession,
      corpusBands: DataFrame,
      batchBands: DataFrame,
      maxBucket: Int = 64,
      driverMaxRows: Long = DriverBatchRows): DataFrame = {
    val batchK = batchBands
      .withColumn("bkey", concat_ws("|", col("band"), col("bsig")))
      .select(col("bkey"), col("doc_id").as("batch_doc"))
    val probeCap = math.min(driverMaxRows + 1, Int.MaxValue.toLong).toInt
    if (batchK.limit(probeCap).count() <= driverMaxRows)
      incrementalDriverTier(spark, corpusBands, batchK, maxBucket)
    else incrementalDistributedTier(corpusBands, batchK, maxBucket)
  }

  /** Driver tier: collect the (dimension-sized) batch once, rebuild it
    * as a local relation, probe with literal IN-keys so the corpus
    * scan statically prunes to the touched buckets.
    */
  private def incrementalDriverTier(
      spark: org.apache.spark.sql.SparkSession,
      corpusBands: DataFrame,
      batchK: DataFrame,
      maxBucket: Int): DataFrame = {
    val probeRows = batchK.collect()
    val keys = probeRows.map(_.getString(0)).distinct
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bkey", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("batch_doc", org.apache.spark.sql.types.LongType))))
    // per-bkey batch population, counted driver-side from the already-
    // collected probe rows
    val batchN = probeRows.groupBy(_.getString(0)).map { case (k, rs) => (k, rs.length.toLong) }
    val bcounts = spark.createDataFrame(
      java.util.Arrays.asList(batchN.toSeq.map { case (k, n) =>
        org.apache.spark.sql.Row(k, n) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bkey", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__bn", org.apache.spark.sql.types.LongType))))
    val selected = corpusBands.filter(col("bkey").isin(keys.toSeq: _*))
    // cap on corpus + batch rows per bucket — expandPairsCapped's
    // total-bucket-size semantics, not corpus-only
    val coldKeys = selected.groupBy(col("bkey"))
      .agg(count(lit(1)).as("__n"))
      .join(broadcast(bcounts), Seq("bkey"))
      .filter(col("__n") + col("__bn") <= maxBucket)
      .select(col("bkey"))
    selected
      .join(coldKeys, Seq("bkey"), "left_semi")
      .join(broadcast(probes), Seq("bkey"))
      .filter(col("doc_id") =!= col("batch_doc"))
      .select(col("doc_id").as("corpus_doc"), col("batch_doc"))
      .distinct()
  }

  /** Distributed tier: the batch never reaches the driver. The corpus
    * restricts scan-side through a left-semi join on the batch's key
    * set, combined bucket populations come from two map-side-combined
    * counts, and the pair join runs bkey-keyed. Against a [[saveBands]]
    * table the bucketing co-locates every bkey-keyed operator — the
    * corpus side reads its buckets without any exchange (LshSpec's
    * plan assertion); only batch-sized frames shuffle.
    */
  private def incrementalDistributedTier(
      corpusBands: DataFrame,
      batchK: DataFrame,
      maxBucket: Int): DataFrame = {
    val keys = batchK.select(col("bkey")).distinct()
    val selected = corpusBands.join(keys, Seq("bkey"), "left_semi")
    val bcounts = batchK.groupBy(col("bkey")).agg(count(lit(1)).as("__bn"))
    val coldKeys = selected.groupBy(col("bkey"))
      .agg(count(lit(1)).as("__n"))
      .join(bcounts, Seq("bkey"))
      .filter(col("__n") + col("__bn") <= maxBucket)
      .select(col("bkey"))
    selected
      .join(coldKeys, Seq("bkey"), "left_semi")
      .join(batchK, Seq("bkey"))
      .filter(col("doc_id") =!= col("batch_doc"))
      .select(col("doc_id").as("corpus_doc"), col("batch_doc"))
      .distinct()
  }

  /** Exact sub-banded candidate pairs for hamming-banded signatures.
    *
    * `bands`: (doc_id, simhash, b, band) — one row per document per
    * band, `band` = the `bandBits`-bit slice number `b` of `simhash`.
    * Buckets at/below `maxBucket` pair up by codegen self-join on
    * (b, band) as before; hot buckets additionally key on a
    * `subBits`-bit sub-band of the REMAINING signature bits (the bits
    * outside band b, compacted), giving the recursive-pigeonhole
    * guarantee: exact for hamming ≤ subBands-1 as long as
    * subBands × subBits covers the remaining bits. Eager: the sized
    * band frame is localCheckpoint'ed so the self-join sides read
    * materialized partitions instead of re-executing the signature
    * pipeline (AQE does not reuse exchanges across identical self-join
    * inputs). The result reads that checkpoint, which belongs to the
    * caller's [[Checkpoints.scope]].
    *
    * Returns distinct (d1, d2, s1, s2), d1 < d2.
    */
  def simhashCandidates(
      bands: DataFrame,
      bandBits: Int,
      subBands: Int,
      subBits: Int,
      maxBucket: Int): DataFrame = {
    // Exactness precondition. The remaining-bits compaction below relies
    // on Java/Spark shift semantics masking the shift count mod 64: for
    // the TOP band ((b+1)*bandBits == 64 on a 64-bit signature),
    // shiftright(simhash, 64) is a NO-OP, so the "high part" term
    // duplicates low signature bits into the region at/above
    // b*bandBits = 64 - bandBits. Those junk bits are harmless only as
    // long as sub-band extraction never reads past the genuine
    // remaining bits — i.e. subBands*subBits <= 64 - bandBits. A caller
    // violating that would silently LOSE hamming<=subBands-1 pairs, so
    // fail loudly instead.
    require(subBands * subBits <= 64 - bandBits,
      s"sub-banding must cover only the remaining bits: subBands*subBits " +
        s"(${subBands * subBits}) must be <= 64 - bandBits (${64 - bandBits}); " +
        "the top band's compaction leaves junk above that boundary")
    // One fused band stream instead of a cold/hot union of two
    // self-joins: cold-bucket rows carry a single sentinel sub-band key
    // (-1), hot-bucket rows expand to their subBands keys — one
    // self-join on (b, band, __j, __sub) then covers both regimes
    // (sentinel keys only ever match sentinel keys of the same bucket;
    // a bucket is cold or hot for ALL its members).
    // remaining-bits compaction for the hot rows: drop the
    // bandBits-wide slice b out of the signature — high part shifted
    // down into the hole, low part kept (b is a column, so the shifts
    // are per-row expressions).
    // bucket sizes via a partial-aggregable groupBy + equi-join back —
    // NOT count(*) OVER (PARTITION BY b, band): at corpus scale every
    // 8-bit bucket is hot by design (~1/1024 of the corpus each), and
    // the window form concentrates each bucket into ONE task and
    // external-sorts it just to count — the whole-group shape the CC
    // large-star rationale forbids. The hash-agg count shuffles
    // |buckets| partials; the join adds no exchange beyond the one the
    // self-join needs anyway.
    // both consumers (the count and the join probe) read ONE explicit
    // bucket-keyed exchange through AQE ReuseExchange, so the upstream
    // signature pipeline executes once (the q86/expandPairsCapped
    // pattern; explicit count — bare repartition is advisory under AQE)
    val b0 = bands.repartition(
      bands.sparkSession.sparkContext.defaultParallelism, col("b"), col("band"))
    val sizes = b0.groupBy(col("b"), col("band"))
      .agg(count(lit(1)).as("__n"))
    val keyed = Checkpoints.local(subBandKeyed(
      b0.join(sizes, Seq("b", "band")), bandBits, subBands, subBits, maxBucket))
    keyed.as("x").join(keyed.as("y"),
        col("x.b") === col("y.b") && col("x.band") === col("y.band") &&
          col("x.__j") === col("y.__j") && col("x.__sub") === col("y.__sub") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.simhash").as("s1"), col("y.simhash").as("s2"))
      .distinct()
  }

  /** The shared sub-band keying of [[simhashCandidates]]: a sized band
    * frame (doc_id, simhash, b, band, __n) → one sentinel row per
    * cold-bucket member, `subBands` sub-keyed rows per hot-bucket
    * member (remaining-bits compaction, see [[simhashCandidates]]'s
    * comments). Both the self-join and the cross-set form key through
    * THIS function so hot/cold treatment can never diverge.
    */
  private def subBandKeyed(
      sized: DataFrame,
      bandBits: Int,
      subBands: Int,
      subBits: Int,
      maxBucket: Int): DataFrame =
    sized
      .withColumn("__r", expr(
        s"""shiftleft(shiftright(simhash, CAST((b + 1) * $bandBits AS INT)), CAST(b * $bandBits AS INT))
            | (simhash & (shiftleft(CAST(1 AS BIGINT), CAST(b * $bandBits AS INT)) - 1))"""))
      .withColumn("__j", explode(
        when(col("__n") > maxBucket, expr(s"sequence(0, ${subBands - 1})"))
          .otherwise(expr("array(-1)"))))
      .withColumn("__sub",
        when(col("__j") === -1, lit(-1L))
          .otherwise(expr(s"shiftright(__r, CAST(__j * $subBits AS INT)) & ${(1L << subBits) - 1}")))

  /** Cross-set EXACT sub-banded candidates — [[simhashCandidates]]'
    * guarantee in the batch-vs-corpus posture ([[incrementalCandidates]]'
    * role for hamming-banded signatures): pairs within hamming ≤
    * subBands − 1 between a batch and a corpus signature frame, with
    * hot buckets SUB-BANDED EXACTLY rather than dropped. The
    * difference matters precisely where the capped path fails: coarse
    * hamming bands (2^bandBits buckets per band) ALL go hot once the
    * corpus outgrows maxBucket × 2^bandBits rows per band — a capped
    * probe then silently stops matching anything, while sub-banding
    * keeps the recursive-pigeonhole guarantee at any corpus size
    * (the q38 rationale verbatim; LSH-banded minhash buckets are the
    * opposite case — there a hot bucket IS degenerate boilerplate).
    *
    * `corpusSig` / `batchSig`: (doc_id, simhash) frames; `numBands` ×
    * `bandBits` must cover every signature bit and `subBands` ×
    * `subBits` the remaining bits (same preconditions as
    * [[simhashCandidates]], enforced there and here). Hot/cold is ONE
    * decision per bucket from the COMBINED population (corpus rows in
    * the bucket + batch rows — both sides key identically or the
    * pigeonhole breaks).
    *
    * Scale shape: the corpus side restricts scan-side to the batch's
    * band keys FIRST (a broadcast semi-join on the batch-sized key
    * set), so only corpus rows in touched buckets ever reach the
    * sizing agg and the join — the price of exactness is shuffling
    * those restricted (doc_id, simhash, band) rows, never the corpus
    * media/text. Callers keep their signature frames
    * localCheckpoint'ed (both production callers do) — the band
    * expansion re-executes per consumer over materialized rows.
    * Returns distinct (corpus_doc, batch_doc, s1, s2).
    */
  def incrementalSimhashCandidates(
      corpusSig: DataFrame,
      batchSig: DataFrame,
      numBands: Int,
      bandBits: Int,
      subBands: Int,
      subBits: Int,
      maxBucket: Int): DataFrame = {
    require(subBands * subBits <= 64 - bandBits,
      s"sub-banding must cover only the remaining bits: subBands*subBits " +
        s"(${subBands * subBits}) must be <= 64 - bandBits (${64 - bandBits})")
    val mask = (1L << bandBits) - 1
    def toBands(sig: DataFrame): DataFrame = sig
      .select(col("doc_id"), col("simhash"),
        explode(expr(s"sequence(0, ${numBands - 1})")).as("b"))
      .withColumn("band", expr(s"shiftright(simhash, b * $bandBits) & $mask"))
    val bb = toBands(batchSig)
    val cb = toBands(corpusSig)
      .join(broadcast(bb.select(col("b"), col("band")).distinct()),
        Seq("b", "band"), "left_semi")
    val sizes = bb.groupBy(col("b"), col("band")).agg(count(lit(1)).as("__bn"))
      .join(cb.groupBy(col("b"), col("band")).agg(count(lit(1)).as("__cn")),
        Seq("b", "band"), "left")
      .select(col("b"), col("band"),
        (coalesce(col("__cn"), lit(0L)) + col("__bn")).as("__n"))
    val ck = subBandKeyed(cb.join(sizes, Seq("b", "band")),
      bandBits, subBands, subBits, maxBucket)
    val bk = subBandKeyed(bb.join(sizes, Seq("b", "band")),
      bandBits, subBands, subBits, maxBucket)
    ck.as("x").join(bk.as("y"),
        col("x.b") === col("y.b") && col("x.band") === col("y.band") &&
          col("x.__j") === col("y.__j") && col("x.__sub") === col("y.__sub") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("corpus_doc"), col("y.doc_id").as("batch_doc"),
        col("x.simhash").as("s1"), col("y.simhash").as("s2"))
      .distinct()
  }
}
