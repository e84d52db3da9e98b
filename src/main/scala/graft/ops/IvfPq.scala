package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the production billion-scale ANN layout (Jégou et al.
  * 2011's IVFADC, the FAISS `IVFx,PQy` index): an IVF coarse quantizer
  * partitions the corpus into cells, and each vector stores only the
  * PQ code of its RESIDUAL from its cell centroid. A query probes its
  * `nprobe` nearest cells and ADC-scores the probed cells' codes with
  * a per-(query, cell) lookup table built from the query's residual —
  * so the scan touches `nprobe/k` of the corpus AND reads 4-byte codes
  * instead of `dim` floats: the two scale levers ([[IvfIndex]]'s
  * pruning, [[PqIndex]]'s compression) composed.
  *
  * Cosine geometry: vectors are L2-normalized ONCE up front; residuals
  * and ADC then run in plain L2, where squared distance on unit
  * vectors ranks exactly like descending cosine. Residuals are NOT
  * re-normalized ([[PqIndex.train]]'s `normalizeInput = false` path).
  *
  * Determinism: both trainings are the deterministic fixed-round Lloyd
  * loops of the component indexes (lowest-id seeds, fixed-order
  * partial-sum folds); assignment and ADC ties break toward the lower
  * cell id / vec_id. Same corpus → same index, every run.
  *
  * Scale shape (100 TB of vectors):
  *  - both models are kilobytes (kCells·dim + m·kSub·subDim floats),
  *    closure-broadcast;
  *  - the code frame is (cell, vec_id, code) — written
  *    partitionBy(cell) at rest, probes prune partitions exactly as
  *    [[IvfIndex]] (PersistedIndexSpec's layout); here the probe-cell
  *    filter is an `isin` pushed to the scan;
  *  - scoring keeps a bounded per-query heap per partition
  *    ([[PqIndex]]'s shortlist discipline), so only
  *    partitions × queries × shortlist rows reach the rank shuffle;
  *  - the exact re-rank reads `shortlist` full vectors per query via
  *    a broadcast join — the float corpus never scans.
  */
object IvfPq {

  final case class IvfPqModel(
      cells: Array[Array[Float]],
      pq: PqIndex.PqModel) extends Serializable

  /** Residual of a NORMALIZED vector from a cell centroid. */
  private def residual(v: Array[Float], c: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = v(i) - (if (i < c.length) c(i) else 0f)
      i += 1
    }
    out
  }

  /** Train the coarse quantizer on the normalized corpus, then the PQ
    * codebook on the residuals (both optionally on a deterministic
    * [[TrainSample]]).
    */
  def train(
      corpus: DataFrame,
      kCells: Int,
      m: Int,
      kSub: Int,
      dim: Int,
      iters: Int,
      trainSample: Int = 0): IvfPqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // SAMPLE FIRST (TrainSample keys on md5(vec_id), so sample-then-
    // normalize selects the identical rows as normalize-then-sample):
    // with trainSample set, the checkpointed training frames below are
    // dimension-sized — checkpointing the FULL normalized corpus and
    // the FULL residual corpus to train on a ~256·k sample would
    // materialize two corpus-sized copies for nothing. The component
    // trainers' inner TrainSample.sample over the pre-sampled frame is
    // the identity (same top-n by the same key).
    val trainInput = TrainSample.sample(
      corpus.select(col("vec_id"), col("embedding")), trainSample)
    // materialize both training inputs ONCE: each Lloyd loop runs
    // iters+1 actions over its input (seed collect + one aggregate
    // per round), so an unmaterialized normalize / residual pipeline
    // would re-execute the upstream scan ~2·(iters+1) times per
    // train() (the auto-probe rationale of PageRank/BpeTrain)
    val normed = Checkpoints.local(trainInput
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, PqIndex.normalize(e)) }
      .toDF("vec_id", "embedding"))
    val cells = IvfIndex.train(normed, kCells, iters, dim, trainSample)
    val residuals = Checkpoints.local(normed.as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, residual(v, cells(IvfIndex.nearestCell(v, cells))))
      }
      .toDF("vec_id", "embedding"))
    Checkpoints.release(normed)
    val pq = PqIndex.train(residuals, m, kSub, dim, iters, trainSample,
      normalizeInput = false)
    Checkpoints.release(residuals)
    IvfPqModel(cells, pq)
  }

  /** (cell, vec_id, code[, metaCols…]) index frame — scan-parallel
    * assignment + residual encoding. `metaCols` names corpus columns
    * carried INTO the code layout (language, date, source…): the
    * standard production ANN query is "nearest among vectors matching
    * P", and a predicate can only prune BEFORE ADC scoring if the
    * attributes live next to the codes — joining the corpus to
    * evaluate P would re-read the very floats the compressed layout
    * exists to avoid.
    */
  def index(corpus: DataFrame, model: IvfPqModel, metaCols: Seq[String] = Nil): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (metaCols.isEmpty) {
      corpus
        .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .map { case (id, e) =>
          val v = PqIndex.normalize(e)
          val c = IvfIndex.nearestCell(v, model.cells)
          (c, id, model.pq.encode(residual(v, model.cells(c))))
        }
        .toDF("cell", "vec_id", "code")
    } else {
      // row-shaped variant so arbitrary metadata columns ride along;
      // one udf evaluation computes cell + code together (normalize /
      // residual run once per vector, same as the typed path)
      val enc = udf { (e: Seq[Float]) =>
        val v = PqIndex.normalize(e.toArray)
        val c = IvfIndex.nearestCell(v, model.cells)
        (c, model.pq.encode(residual(v, model.cells(c))))
      }
      corpus
        .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
        .withColumn("__cc", enc(col("embedding")))
        .select(Seq(col("__cc._1").as("cell"), col("vec_id"),
          col("__cc._2").as("code")) ++ metaCols.map(col): _*)
    }
  }

  /** Persist the index at rest: the code frame partitionBy(cell) —
    * probes then prune cell directories exactly like [[IvfIndex]]'s
    * layout — plus the coarse centroids and the PQ codebook as plain
    * kilobyte-sized tables. [[topKFromSaved]] probes this layout with
    * no re-encode and no re-train.
    */
  def save(
      corpus: DataFrame,
      model: IvfPqModel,
      codesPath: String,
      cellsTable: String,
      codebookTable: String,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    index(corpus, model, metaCols)
      .write.mode("overwrite").partitionBy("cell").parquet(codesPath)
    saveModelTables(spark, model, cellsTable, codebookTable)
    // training-time per-cell population snapshot — the baseline
    // [[IndexDrift.probe]] compares appended layouts against
    IndexDrift.snapshotStats(spark, codesPath)
  }

  /** The kilobyte-sized model tables of a [[save]]d layout — shared by
    * [[save]] and [[IndexDrift.retrainAndSwap]].
    */
  private[graft] def saveModelTables(
      spark: SparkSession,
      model: IvfPqModel,
      cellsTable: String,
      codebookTable: String): Unit = {
    import spark.implicits._
    model.cells.indices.map(c => (c, model.cells(c).toSeq))
      .toDF("cell", "vals")
      .write.mode("overwrite").saveAsTable(cellsTable)
    model.pq.centroids.indices.flatMap { mi =>
      model.pq.centroids(mi).indices.map(c => (mi, c, model.pq.centroids(mi)(c).toSeq))
    }.toDF("mi", "cell", "vals")
      .write.mode("overwrite").saveAsTable(codebookTable)
  }

  /** Append a new drop to a [[save]]d layout WITHOUT retraining:
    * assign + residual-encode under the same frozen model and append
    * into the per-cell code directories — the [[IvfIndex.appendSaved]]
    * maintenance contract extended to the compressed production
    * layout (IndexAppendSpec: probe of the appended layout ≡ probe of
    * a from-scratch save of old ∪ new under the same model). The
    * model tables are untouched; whether the frozen quantizer has
    * drifted out from under the accumulated corpus is a MEASURED
    * question — run [[IndexDrift.probe]] on an append cadence and
    * [[IndexDrift.retrainAndSwap]] when it says so (DriftSpec).
    */
  def appendSaved(
      batch: DataFrame,
      model: IvfPqModel,
      codesPath: String,
      metaCols: Seq[String] = Nil): Unit =
    index(batch, model, metaCols)
      .write.mode("append").partitionBy("cell").parquet(codesPath)

  /** Rewrite an append-accumulated code layout to one data file per
    * cell directory — [[IvfIndex.compactSaved]]'s contract on the
    * compressed layout. Model tables are untouched.
    */
  def compactSaved(spark: SparkSession, codesPath: String): Unit =
    Layouts.compactPartitioned(spark, codesPath, "cell")

  /** Rebuild the [[IvfPqModel]] from [[save]]d model tables (the
    * codebook table has [[PqIndex.save]]'s exact schema, so its loader
    * is shared).
    */
  def loadModel(
      spark: SparkSession,
      cellsTable: String,
      codebookTable: String): IvfPqModel = {
    import spark.implicits._
    val cells = spark.table(cellsTable)
      .select(col("cell"), col("vals")).as[(Int, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
    IvfPqModel(cells, PqIndex.loadModel(spark, codebookTable))
  }

  /** Probe a [[save]]d index: the probed-cell isin filter becomes a
    * PartitionFilter on the cell directories (pruned file listing),
    * the saved codes ADC-score as-is (no re-encode), and the exact
    * re-rank reads the float corpus with the shortlist broadcast.
    * Bit-identical to [[topK]] for the same corpus/params (both
    * trainings are deterministic).
    *
    * `predicate` (over the layout's metaCols) implements FILTERED ANN
    * — "top-k among vectors matching P" — by pruning candidates
    * BEFORE the ADC heaps: the filter lands in the same pruned scan
    * as PushedFilters next to the cell PartitionFilters
    * (FilteredAnnSpec), so the shortlist fills with k MATCHING
    * candidates instead of post-filtering a generic top-k and
    * silently under-filling k.
    */
  def topKFromSaved(
      spark: SparkSession,
      codesPath: String,
      cellsTable: String,
      codebookTable: String,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 3,
      shortlist: Int = 100,
      predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val model = loadModel(spark, cellsTable, codebookTable)
    val qvecs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    score(spark, savedCodes(spark, codesPath, predicate), corpus, qvecs,
      model, nprobe, shortlist, k)
  }

  /** The codes-side scan [[topKFromSaved]] feeds to [[score]] —
    * factored out so FilteredAnnSpec can assert the exact plan the
    * probe executes (metadata predicate in PushedFilters, probed
    * cells in PartitionFilters).
    */
  private[graft] def savedCodes(
      spark: SparkSession,
      codesPath: String,
      predicate: Option[org.apache.spark.sql.Column]): DataFrame = {
    val raw = spark.read.parquet(codesPath)
    predicate.fold(raw)(raw.filter)
      .select(col("cell").cast("int"), col("vec_id"), col("code"))
  }

  /** Top-k per query: probe `nprobe` cells, ADC-score their codes with
    * per-(query, cell) residual tables and bounded per-partition
    * heaps, exact-rerank the global shortlist. Output (qid, vec_id,
    * sim, rk) — exact cosine, rk 1-based, self-matches excluded (the
    * q25/q89 contract).
    */
  def topK(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      kCells: Int = 8,
      nprobe: Int = 3,
      m: Int = 8,
      kSub: Int = 16,
      dim: Int = 64,
      iters: Int = 4,
      shortlist: Int = 100): DataFrame = {
    import spark.implicits._
    val model = train(corpus, kCells, m, kSub, dim, iters)
    val codes = index(corpus, model)
    val qvecs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    score(spark, codes, corpus, qvecs, model, nprobe, shortlist, k)
  }

  /** The shared scoring tail of [[topK]] and [[topKFromSaved]]. */
  private def score(
      spark: SparkSession,
      codes: DataFrame,
      corpus: DataFrame,
      qvecs: Array[(Long, Array[Float])],
      model: IvfPqModel,
      nprobe: Int,
      shortlist: Int,
      k: Int): DataFrame = {
    import spark.implicits._
    // query side is batch-small (the q25 contract): nprobe tables of
    // m·kSub doubles per query, broadcast with the probed-cell set
    val tables: Array[(Long, Map[Int, Array[Array[Double]]])] =
      qvecs.map { case (qid, q) =>
        val qn = PqIndex.normalize(q)
        val probed = IvfIndex.nearestCells(qn, model.cells, nprobe)
        qid -> probed.map(c =>
          c -> model.pq.distTable(residual(qn, model.cells(c)))).toMap
      }
    val probedCells = tables.flatMap(_._2.keys).distinct.sorted
    val bc = spark.sparkContext.broadcast(tables)
    val keep = shortlist
    // the isin filter is what partition-prunes a partitionBy(cell)
    // at-rest layout; in-memory it prunes before the heap scan
    val scored = codes.filter(col("cell").isin(probedCells.map(Int.box): _*))
      .as[(Int, Long, Array[Int])]
      .mapPartitions { it =>
        val tabs = bc.value
        val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
        val heaps = Array.fill(tabs.length)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(ord))
        it.foreach { case (cell, vid, code) =>
          var qi = 0
          while (qi < tabs.length) {
            val (qid, byCell) = tabs(qi)
            if (qid != vid) {
              byCell.get(cell) match {
                case Some(tab) =>
                  var d = 0.0
                  var mi = 0
                  while (mi < code.length) { d += tab(mi)(code(mi)); mi += 1 }
                  val h = heaps(qi)
                  if (h.size < keep) h.enqueue((d, vid))
                  else if (ord.lt((d, vid), h.head)) { h.dequeue(); h.enqueue((d, vid)) }
                case None =>
              }
            }
            qi += 1
          }
        }
        tabs.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
          heaps(qi).iterator.map { case (d, vid) => (qid, vid, d) }
        }
      }.toDF("qid", "vec_id", "adist")
    val wa = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("vec_id").asc)
    val cand = scored
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= shortlist)
      .select(col("qid"), col("vec_id"))
    PqIndex.rerankExact(spark, corpus, cand, qvecs, k)
  }
}
