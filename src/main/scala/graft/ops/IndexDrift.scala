package graft.ops

import graft.functions.CosineSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-drift monitoring for [[IvfPq]]'s append-maintained layout.
  *
  * [[IvfPq.appendSaved]] ingests forever under a FROZEN quantizer. If
  * the data distribution moves (new language, new embedding model
  * version, topical drift), two things decay silently: cell
  * populations skew away from the training-time balance (probes then
  * scan hot cells and miss sparse ones), and the PQ residual codebook
  * stops matching the residual distribution, so ADC shortlists rank
  * wrong vectors in and true neighbours out. Nothing in the probe path
  * fails loudly — recall just erodes.
  *
  * [[probe]] makes drift a measured verdict instead of a guess, with
  * the two cheap signals a production index keeps anyway:
  *
  *  - population drift: per-cell counts of the CURRENT layout versus
  *    the training-time snapshot [[IvfPq.save]] wrote beside the codes
  *    — compared as total-variation distance between the two cell
  *    distributions (0 = identical shares, 1 = disjoint). One
  *    cell-column scan of the code layout; no floats read.
  *  - sampled recall: a deterministic [[TrainSample]] of query vectors
  *    probes the saved layout and is scored against the exact
  *    brute-force top-k (q25's machinery — one corpus scan with the
  *    query batch broadcast).
  *
  * [[retrainAndSwap]] is the documented answer when the verdict says
  * retrain: train a fresh model on the current corpus, stage the
  * re-encoded layout into a sibling directory, publish it over the old
  * one with [[Layouts.publish]]'s staged-rename (same object-store
  * caveat), overwrite the kilobyte model tables, refresh the stats
  * snapshot. Probes in flight keep reading the old directory until the
  * rename lands; DriftSpec drives the full cycle — drift in, flag up,
  * retrain, recall restored, flag down.
  *
  * Scale shape: the probe costs one cell-column scan + one sampled
  * brute-force pass (queries broadcast, corpus scans once); the swap
  * costs one full re-encode — which is exactly the cost it replaces
  * (the alternative is a silently bad index).
  */
object IndexDrift {

  /** The measured verdict. `totalVariation` ∈ [0,1] compares cell
    * population SHARES now vs at training time; `sampledRecall` ∈
    * [0,1] is recall@k of the saved-layout probe against exact
    * brute-force on the sampled queries. `retrain` is true when either
    * signal crosses its threshold; `reason` names which.
    */
  final case class DriftReport(
      trainedCells: Int,
      totalVariation: Double,
      sampledRecall: Double,
      retrain: Boolean,
      reason: String)

  def statsPath(codesPath: String): String = codesPath + "__cellstats"

  /** (cell, n) for the code layout — the cell column is the partition
    * key, so this scans directory metadata plus row counts, never the
    * codes themselves.
    */
  private[graft] def cellCounts(spark: SparkSession, codesPath: String): DataFrame =
    spark.read.parquet(codesPath)
      .groupBy(col("cell").cast("int").as("cell")).agg(count(lit(1)).as("n"))

  /** Write the training-time per-cell population snapshot beside the
    * code layout. [[IvfPq.save]] calls this; [[retrainAndSwap]]
    * refreshes it after publishing the new layout.
    */
  def snapshotStats(spark: SparkSession, codesPath: String): Unit =
    cellCounts(spark, codesPath)
      .coalesce(1) // one row per cell — a kilobyte table
      .write.mode("overwrite").parquet(statsPath(codesPath))

  /** (total-variation distance between the layout's current cell-share
    * distribution and the training-time snapshot, trained cell count).
    */
  private[graft] def populationDrift(
      spark: SparkSession, codesPath: String): (Double, Int) = {
    val sp = new org.apache.hadoop.fs.Path(statsPath(codesPath))
    require(
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sp),
      s"no training-time cell snapshot at ${statsPath(codesPath)} — the layout " +
        "predates drift monitoring; run IndexDrift.snapshotStats to baseline it")
    val trained = spark.read.parquet(statsPath(codesPath))
      .select(col("cell"), col("n").as("n0"))
    val now = cellCounts(spark, codesPath)
    // both frames are kCells rows — the arithmetic is a driver concern
    val joined = trained.join(now, Seq("cell"), "full_outer")
      .select(coalesce(col("n0"), lit(0L)), coalesce(col("n"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (t0, t1) = (joined.map(_._1).sum.toDouble, joined.map(_._2).sum.toDouble)
    val tv =
      if (t0 == 0 || t1 == 0) 1.0
      else joined.map { case (a, b) => math.abs(a / t0 - b / t1) }.sum / 2.0
    (tv, joined.count(_._1 > 0))
  }

  /** The shared verdict assembly of [[probe]] and [[probeIvf]] — one
    * place for thresholds and reason wording, so the layouts' verdicts
    * cannot drift apart.
    */
  private def report(
      trainedCells: Int, tv: Double, recall: Double,
      tvMax: Double, recallMin: Double): DriftReport = {
    val reasons = Seq(
      if (tv > tvMax) Some(f"cell population drifted (tv=$tv%.3f > $tvMax%.2f)") else None,
      if (recall < recallMin) Some(f"sampled recall decayed ($recall%.3f < $recallMin%.2f)") else None
    ).flatten
    DriftReport(trainedCells, tv, recall,
      retrain = reasons.nonEmpty,
      reason = if (reasons.isEmpty) "healthy" else reasons.mkString("; "))
  }

  /** Measure drift of a [[IvfPq.save]]d (and since-appended) layout.
    * `corpus` is the CURRENT float corpus the layout indexes (the same
    * frame [[IvfPq.topKFromSaved]] reranks against). Thresholds:
    * retrain when totalVariation > `tvMax` OR sampledRecall <
    * `recallMin`.
    */
  def probe(
      spark: SparkSession,
      codesPath: String,
      cellsTable: String,
      codebookTable: String,
      corpus: DataFrame,
      k: Int = 10,
      sampleQueries: Int = 8,
      nprobe: Int = 3,
      shortlist: Int = 100,
      tvMax: Double = 0.25,
      recallMin: Double = 0.7): DriftReport = {
    val (tv, trainedCells) = populationDrift(spark, codesPath)
    val recall =
      sampledRecall(spark, codesPath, cellsTable, codebookTable, corpus,
        k, sampleQueries, nprobe, shortlist)
    report(trainedCells, tv, recall, tvMax, recallMin)
  }

  /** [[probe]]'s contract on the float IVF layout ([[IvfIndex.save]]):
    * the population signal is shared (both layouts are cell-
    * partitioned), recall probes through [[IvfIndex.topKFromSaved]].
    * Run [[snapshotStats]] after the save that establishes the
    * baseline.
    */
  def probeIvf(
      spark: SparkSession,
      path: String,
      centroids: Array[Array[Float]],
      corpus: DataFrame,
      k: Int = 10,
      sampleQueries: Int = 8,
      nprobe: Int = 4,
      tvMax: Double = 0.25,
      recallMin: Double = 0.7): DriftReport = {
    val (tv, trainedCells) = populationDrift(spark, path)
    val recall = recallVsExact(spark, corpus, k, sampleQueries,
      qs => IvfIndex.topKFromSaved(spark, path, centroids, qs, k, nprobe))
    report(trainedCells, tv, recall, tvMax, recallMin)
  }

  /** [[retrainAndSwap]] for the float layout: fresh [[IvfIndex.train]]
    * on the current corpus, re-index into a staging dir,
    * [[Layouts.publish]], refresh the snapshot. Returns the new
    * centroids (the float layout carries its model in memory / at the
    * caller's side, not in tables) — probe with the RETURNED centroids
    * from here on; old centroids against the republished layout mix
    * model generations exactly like [[retrainAndSwap]]'s documented
    * window.
    */
  def retrainAndSwapIvf(
      corpus: DataFrame,
      path: String,
      kCells: Int,
      dim: Int,
      iters: Int,
      trainSample: Int = 0,
      metaCols: Seq[String] = Nil): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    val cents = IvfIndex.train(corpus, kCells, iters, dim, trainSample)
    val tmp = path + "__retrain_tmp"
    IvfIndex.index(corpus, cents, metaCols)
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    Layouts.publish(spark, path, tmp)
    snapshotStats(spark, path)
    cents
  }

  /** Recall@k of the saved-layout probe against exact brute-force
    * cosine, on a deterministic [[TrainSample]] of `sampleQueries`
    * corpus vectors.
    */
  private def sampledRecall(
      spark: SparkSession,
      codesPath: String,
      cellsTable: String,
      codebookTable: String,
      corpus: DataFrame,
      k: Int,
      sampleQueries: Int,
      nprobe: Int,
      shortlist: Int): Double =
    recallVsExact(spark, corpus, k, sampleQueries,
      qs => IvfPq.topKFromSaved(spark, codesPath, cellsTable, codebookTable,
        corpus, qs, k, nprobe, shortlist))

  /** Shared recall harness: `probeFn` maps a query frame to (qid,
    * vec_id, …) top-k rows; the exact side is one corpus scan with the
    * query batch broadcast (q25's machinery).
    */
  private def recallVsExact(
      spark: SparkSession,
      corpus: DataFrame,
      k: Int,
      sampleQueries: Int,
      probeFn: DataFrame => DataFrame): Double = {
    val queries = Checkpoints.local(TrainSample.sample(
      corpus.select(col("vec_id"), col("embedding")), sampleQueries))
    val got = probeFn(queries)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CosineSim.register(spark)
    val qs = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    val exact = corpus.select(col("vec_id"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", expr("cosine_sim(embedding, qe)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Checkpoints.release(queries)
    if (exact.isEmpty) 1.0 else got.count(exact.contains).toDouble / exact.size
  }

  /** Retrain on the current corpus and swap the layout in: fresh
    * [[IvfPq.train]], re-encode into `codesPath + "__retrain_tmp"`,
    * overwrite the model tables, then [[Layouts.publish]] staged-rename
    * over the live directory and refresh the stats snapshot. Returns
    * the new model.
    *
    * Consistency: model tables and the code directory cannot flip in
    * ONE atomic step, so a probe racing the swap can pair new model
    * with old codes (or vice versa) and rank garbage for that instant.
    * The tables are written BEFORE the directory publish because the
    * publish is two renames (~ms) while table overwrites are the slow
    * half — the mixed window is the rename, not the table writes.
    * After a crash anywhere in the swap, RE-RUNNING retrainAndSwap
    * heals: training is deterministic, so the rebuilt model matches
    * whichever half already flipped. Deployments that cannot tolerate
    * the instant should quiesce probes around the swap (or publish
    * model+codes under a NEW path pair and flip a pointer — the
    * [[Layouts.compactPartitioned]] object-store posture).
    */
  def retrainAndSwap(
      corpus: DataFrame,
      codesPath: String,
      cellsTable: String,
      codebookTable: String,
      kCells: Int,
      m: Int,
      kSub: Int,
      dim: Int,
      iters: Int,
      trainSample: Int = 0,
      metaCols: Seq[String] = Nil): IvfPq.IvfPqModel = {
    val spark = corpus.sparkSession
    val model = IvfPq.train(corpus, kCells, m, kSub, dim, iters, trainSample)
    val tmp = codesPath + "__retrain_tmp"
    IvfPq.index(corpus, model, metaCols)
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    IvfPq.saveModelTables(spark, model, cellsTable, codebookTable)
    Layouts.publish(spark, codesPath, tmp)
    snapshotStats(spark, codesPath)
    model
  }
}
