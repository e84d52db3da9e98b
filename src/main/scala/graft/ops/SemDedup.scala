package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
  * al. 2023): compare embeddings only WITHIN a cluster and greedily
  * drop every vector whose cosine to a lower-id cluster-mate reaches
  * the threshold, keeping the lowest id of each similar group as the
  * deterministic representative.
  *
  * The prune tail is cluster-source-agnostic: q92 feeds it the
  * SQL-expressible sign-bucket cells (so the whole verdict is
  * oracle-checked), and [[pruneIvf]] is the production path — the
  * [[IvfIndex]] k-means coarse quantizer with its hot-cell
  * sub-quantizer split ([[IvfIndex.refine]]), so no cell's pairwise
  * expansion grows quadratic when the corpus clusters unevenly.
  * SemDedupSpec pins both paths against a local greedy replica.
  *
  * Scale shape (100 TB of vectors): candidate pairs come from ONE
  * hash-equi self-join on the cell id — never all-pairs; the verdict
  * is a max-agg plus a vec_id-keyed left join, so embeddings cross the
  * wire only inside the per-cell pairing, and the kept-set apply is
  * the q85 broadcast anti-join downstream.
  */
object SemDedup {

  /** Greedy within-cell prune. Input: (cell, vec_id, embedding);
    * output: (vec_id, cell, max_lower_sim, keep) with
    * max_lower_sim = −1.0 when no lower-id cluster-mate exists and
    * keep = 1 iff max_lower_sim < tau. Cosines come from the codegen'd
    * native [[graft.functions.CosineSim]].
    */
  def prune(assigned: DataFrame, tau: Double): DataFrame = {
    val spark = assigned.sparkSession
    graft.functions.CosineSim.register(spark)
    // consumed three times (both self-join sides + the verdict join):
    // materialize once — AQE does not reuse exchanges across identical
    // self-join inputs (the Lsh lesson), so a lazy corpus assignment
    // would re-run its argmax scan per consumer.
    val a = Checkpoints.local(assigned.select(col("cell"), col("vec_id"), col("embedding")))
    val pairs = a.as("a")
      .join(a.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("v"),
        expr("cosine_sim(a.embedding, b.embedding)").as("sim"))
    val worst = pairs.groupBy(col("v")).agg(max(col("sim")).as("msim"))
    a.join(worst, a("vec_id") === worst("v"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("msim"), lit(-1.0)).as("max_lower_sim"),
        (coalesce(col("msim"), lit(-1.0)) < tau).cast("long").as("keep"))
  }

  /** Production path: deterministic (sampled) k-means cells with the
    * hot-cell sub-quantizer split, then [[prune]]. `maxCell` bounds
    * every inverted list — and with it the per-cell pairwise expansion
    * — exactly as in the IVF probe path.
    */
  def pruneIvf(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      dim: Int,
      tau: Double,
      maxCell: Long = 10000L,
      subK: Int = 4,
      trainSample: Int = 0): DataFrame = {
    val cents = IvfIndex.train(corpus, k, iters, dim, trainSample)
    val model = IvfIndex.refine(corpus, cents, maxCell, subK, iters, dim, trainSample)
    prune(IvfIndex.indexRefined(corpus, model), tau)
  }

  /** Persist the refined cell assignment as the at-rest
    * `partitionBy(cell)` layout — the same index-at-rest posture as
    * [[IvfIndex]]/[[IvfPq]] saved probes: every inverted list is one
    * partition directory bounded by the refine `maxCell` contract, and
    * a per-cell read (the prune self-join's build side, or an
    * incremental re-prune of ONE cell after an append) prunes to that
    * directory instead of scanning the corpus.
    */
  def saveAssigned(corpus: DataFrame, model: IvfIndex.IvfModel, path: String): Unit =
    IvfIndex.indexRefined(corpus, model)
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** [[prune]] over a [[saveAssigned]] layout. Assignment (the k-means
    * work) runs once at index-build; re-running the prune — after a
    * tau change, say — costs only the within-cell pairing.
    */
  def pruneSaved(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      tau: Double): DataFrame =
    prune(spark.read.parquet(path), tau)

  /** Batch-vs-corpus incremental semantic dedup — the daily-drop
    * posture that completes the incremental family (near-dup
    * [[Lsh.saveBands]], ExactSubstr [[WinnowState]], passages
    * [[BlockState]], clusters
    * [[ConnectedComponents.updateLabels]]; this = embeddings): a new
    * drop assigns to cells under the FROZEN refined model, reads ONLY
    * its touched cell directories from the [[saveAssigned]] layout
    * (partition pruning — the corpus is never scanned), and each
    * batch vector is dropped when any corpus cell-mate or lower-id
    * batch cell-mate reaches tau. Corpus members count as prior
    * regardless of their own keep verdict — exactly [[prune]]'s
    * one-pass max-lower-sim rule, so with batch ids above corpus ids
    * the verdicts EQUAL a full re-prune of corpus ∪ batch restricted
    * to the batch (SemDedupSpec pins the equivalence and the pruned
    * scan). Output: (vec_id, cell, max_prior_sim, keep). O(|batch| ×
    * touched-cell population) — maxCell bounds every cell, the
    * [[IvfIndex.refine]] contract.
    *
    * An absent or row-less layout is the from-scratch bootstrap, not
    * an error: the corpus leg is empty and only the in-batch rule
    * decides (the [[graft.streaming.StreamCms]] convention). The
    * batch assignment is checkpointed into the caller's
    * [[Checkpoints.scope]].
    */
  def pruneIncremental(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      model: IvfIndex.IvfModel,
      batch: DataFrame,
      tau: Double): DataFrame = {
    graft.functions.CosineSim.register(spark)
    // consumed three times (cell list, corpus-pair side, batch-pair
    // sides) — materialize the assignment once
    val b = Checkpoints.local(IvfIndex.indexRefined(batch, model)
      .select(col("cell"), col("vec_id"), col("embedding")))
    val cells = b.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = readLayout(spark, path)
      .filter(col("cell").isin(cells: _*))
      .select(col("cell"), col("embedding").as("ce"))
    val fromCorpus = b.join(corpus, "cell")
      .select(col("vec_id"), expr("cosine_sim(embedding, ce)").as("sim"))
    val fromBatch = b.as("a")
      .join(b.as("x"),
        col("a.cell") === col("x.cell") && col("a.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        expr("cosine_sim(a.embedding, x.embedding)").as("sim"))
    val worst = fromCorpus.unionAll(fromBatch)
      .groupBy(col("vec_id")).agg(max(col("sim")).as("msim"))
    b.join(worst, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("msim"), lit(-1.0)).as("max_prior_sim"),
        (coalesce(col("msim"), lit(-1.0)) < tau).cast("long").as("keep"))
  }

  /** The saved layout, or an empty correctly-typed frame when the
    * path is absent or holds no partition directories yet (a
    * partitionBy write of zero rows leaves only `_SUCCESS`) — the
    * streaming bootstrap case.
    */
  private def readLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) &&
      fs.listStatus(p).exists(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
    if (hasData) spark.read.parquet(path)
    else Seq.empty[(Int, Long, Array[Float])].toDF("cell", "vec_id", "embedding")
  }
}
