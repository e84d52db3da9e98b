package graft.ops

import graft.functions.CosineSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbour index: a k-means
  * coarse quantizer partitions the corpus into `k` cells; a query
  * probes its `nprobe` nearest cells and exact-reranks only those
  * candidates. The classic FAISS-style IVF-Flat layout, DataFrame-
  * native — the companion scale path to the sign-LSH index
  * ([[AnnIndex]]): LSH needs no training and bounds worst-case recall;
  * IVF adapts to the data distribution and prunes harder when the
  * corpus clusters well.
  *
  * Determinism: centroid init picks the k lowest-id vectors (no RNG),
  * Lloyd iterations are fixed-count, and every reduction is an exact
  * mean over deterministic cell assignments — same inputs, same index,
  * every run (ties broken by cell id).
  *
  * Scale design (100 TB of vectors):
  *  - training runs on a SAMPLE (`train(trainSample = …)` — the
  *    deterministic content-addressed [[TrainSample]]; k-means quality
  *    needs only ~256×k vectors), and the model is k×dim floats —
  *    kilobytes, closure-broadcast to every executor like
  *    [[AnnIndex]]'s plane matrix;
  *  - assignment is a scan-parallel map (argmax cosine over k
  *    centroids per vector — k·dim fused multiply-adds);
  *  - the index is a plain (cell, vec_id, embedding) frame, written
  *    partitionBy(cell)/bucketBy at rest so probes prune partitions;
  *  - the probe join shuffles on cell id only; candidates then
  *    exact-rerank through the codegen'd [[CosineSim]];
  *  - skew (hot cells) is the k-means analog of LSH hot buckets:
  *    re-split oversized cells with a sub-quantizer.
  */
object IvfIndex {

  /** Train k cell centroids with `iters` Lloyd rounds. Returns the
    * centroid matrix (cell id = row index). Cosine geometry: vectors
    * and means are used unnormalized, assignment is argmax cosine —
    * adequate for a coarse quantizer (and deterministic).
    *
    * `trainSample > 0` trains on that many [[TrainSample]]-selected
    * vectors instead of the whole corpus — the 100 TB path.
    */
  def train(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      dim: Int,
      trainSample: Int = 0): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = TrainSample.sample(
      corpus.select(col("vec_id"), col("embedding")), trainSample)
      .as[(Long, Array[Float])]
    // deterministic seed cells: the k lowest-id vectors (TakeOrdered —
    // no assumption that ids are dense from 0)
    var centroids: Array[Array[Float]] =
      vecs.orderBy(col("vec_id")).limit(k).collect().sortBy(_._1).map(_._2)
    var it = 0
    while (it < iters) {
      val cs = centroids
      // assign → per-PARTITION partial (cell, sum[dim], n), collected
      // and folded driver-side in (cell, pid) order — the PqIndex.train
      // pattern. An aggregateByKey here merged Double partials in
      // shuffle-FETCH order: nondeterministic association, an ULP of
      // centroid drift, and a flipped argmax assignment — the latent
      // run-over-run flake the determinism contract above forbids.
      // Within each partition the rows are buffered and folded in
      // vec_id order for the same reason: shuffle-fed inputs (e.g.
      // refine()'s assigned frame) arrive in fetch order, which varies
      // run-over-run even when partition MEMBERSHIP (hash of vec_id)
      // is fixed. Buffering is bounded: partitions are dimension-sized
      // under the trainSample contract. Partial count is ≤
      // |cells|×|partitions| rows of dim doubles.
      val partials = vecs.rdd.mapPartitionsWithIndex { (pid, rows) =>
        val acc = scala.collection.mutable.HashMap.empty[Int, (Array[Double], Array[Long])]
        rows.toArray.sortBy(_._1).foreach { case (_, emb) =>
          val slot = acc.getOrElseUpdate(
            nearestCell(emb, cs), (new Array[Double](dim), new Array[Long](1)))
          var i = 0
          while (i < dim && i < emb.length) { slot._1(i) += emb(i); i += 1 }
          slot._2(0) += 1L
        }
        acc.iterator.map { case (c, (sum, n)) => (c, pid, sum, n(0)) }
      }.collect()
      val byCell = partials.groupBy(_._1).toArray.sortBy(_._1)
      centroids = byCell.map { case (_, ps) =>
        val sum = new Array[Double](dim)
        var n = 0L
        ps.sortBy(_._2).foreach { case (_, _, s, pn) =>
          var i = 0
          while (i < dim) { sum(i) += s(i); i += 1 }
          n += pn
        }
        sum.map(v => (v / n).toFloat)
      }
      // a cell that attracted no vectors simply drops out (the model
      // shrinks to the surviving centroids — standard empty-cluster
      // collapse, deterministic since assignment is)
      it += 1
    }
    centroids
  }

  /** Argmax-cosine cell of one vector (ties → lowest cell id). */
  def nearestCell(emb: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestSim = Double.MinValue
    var c = 0
    while (c < centroids.length) {
      val s = cosine(emb, centroids(c))
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest cells of one vector, best first. */
  def nearestCells(emb: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Array[Int] =
    centroids.indices
      .map(c => (c, cosine(emb, centroids(c))))
      .sortBy { case (c, s) => (-s, c) }
      .take(nprobe)
      .map(_._1)
      .toArray

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Quantizer with hot-cell refinement — the k-means analog of
    * [[Lsh]]'s hot-bucket treatment: a cell whose population exceeds
    * the cap gets its own deterministic sub-quantizer, so no inverted
    * list grows unbounded when the corpus clusters unevenly. Sub-cell
    * ids live in a disjoint range ((c+1)·100000 + j), so the index
    * keeps one integer `cell` column and the probe join is unchanged.
    */
  final case class IvfModel(
      centroids: Array[Array[Float]],
      sub: Map[Int, Array[Array[Float]]]) extends Serializable {

    def cellOf(emb: Array[Float]): Int = {
      val c = nearestCell(emb, centroids)
      sub.get(c) match {
        case Some(scs) => refinedId(c, nearestCell(emb, scs))
        case None => c
      }
    }

    /** nprobe base cells; split cells expand to their subProbe nearest
      * sub-cells. */
    def probeCells(emb: Array[Float], nprobe: Int, subProbe: Int): Array[Int] =
      nearestCells(emb, centroids, nprobe).flatMap { c =>
        sub.get(c) match {
          case Some(scs) => nearestCells(emb, scs, subProbe).map(refinedId(c, _))
          case None => Array(c)
        }
      }
  }

  /** Sub-cell id in a range disjoint from base ids. ID-SPACE CONTRACT
    * (enforced by [[refine]]): base cell count < 100000 and
    * (c+1)·100000 + j must fit an Int — k ≤ 21473 with subK < 100000.
    * A wider quantizer (FAISS-style k = 262144) needs the cell column
    * widened to Long — a deliberate schema change, not a silent wrap:
    * unchecked, (c+1)·100000 overflows Int at c ≥ 21474 and collides
    * with BASE ids once k > 100000, silently merging unrelated
    * inverted lists.
    */
  def refinedId(c: Int, j: Int): Int = {
    val rid = (c.toLong + 1L) * 100000L + j
    require(rid <= Int.MaxValue && c < 99999,
      s"refined cell id overflows the Int id space (c=$c, j=$j): widen the cell column to Long")
    rid.toInt
  }

  /** Split every cell holding more than `maxCell` vectors with a
    * deterministic per-cell sub-quantizer (same seeding rule as
    * [[train]], restricted to the cell's members). The assignment scan
    * and per-cell trainings are data-parallel jobs; the model stays
    * centroid-sized (kilobytes, closure-broadcast). `trainSample > 0`
    * forwards to every hot cell's sub-training — the 100 TB path: a
    * 10⁸-member hot cell trains its sub-quantizer on a
    * [[TrainSample]]-selected sample instead of iters full passes over
    * the whole cell (the same contract as the base [[train]]).
    */
  def refine(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      maxCell: Long,
      subK: Int,
      iters: Int,
      dim: Int,
      trainSample: Int = 0): IvfModel = {
    require(centroids.length < 99999,
      s"base cell count ${centroids.length} exceeds the refined-id space (see refinedId)")
    // materialize the assignment once: the hot-count is one action and
    // every hot cell's training loop re-reads it (seed collect + one
    // pass per Lloyd iteration) — without this the full-corpus argmax
    // scan would re-execute ~H*(iters+1) times
    val assigned = Checkpoints.local(index(corpus, centroids))
    val hot = assigned.groupBy(col("cell")).count()
      .filter(col("count") > maxCell)
      .collect().map(_.getInt(0)).sorted
    val sub = hot.map { c =>
      val members = assigned.filter(col("cell") === c).select(col("vec_id"), col("embedding"))
      c -> train(members, subK, iters, dim, trainSample)
    }.toMap
    Checkpoints.release(assigned)
    IvfModel(centroids, sub)
  }

  /** Index under a refined model: one integer cell id per vector, hot
    * cells already split. */
  def indexRefined(corpus: DataFrame, model: IvfModel): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, emb) => (model.cellOf(emb), id, emb) }
      .toDF("cell", "vec_id", "embedding")
  }

  /** Top-k under a refined model (hot cells split, probes expanded to
    * sub-cells). */
  def topKRefined(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      model: IvfModel,
      k: Int = 10,
      nprobe: Int = 4,
      subProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qe) =>
        model.probeCells(qe, nprobe, subProbe).map(c => (qid, qe, c))
      }
      .toDF("qid", "qe", "cell")
    rerank(spark, indexRefined(corpus, model), probes, k)
  }

  /** (cell, vec_id, embedding[, metaCols…]) index frame — scan-parallel
    * assignment. `metaCols` carries corpus attributes into the layout
    * for filtered probes (same rationale as [[IvfPq.index]]).
    */
  def index(corpus: DataFrame, centroids: Array[Array[Float]], metaCols: Seq[String] = Nil): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (metaCols.isEmpty) {
      corpus
        .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .map { case (id, emb) => (nearestCell(emb, centroids), id, emb) }
        .toDF("cell", "vec_id", "embedding")
    } else {
      val cellOf = udf((e: Seq[Float]) => nearestCell(e.toArray, centroids))
      corpus
        .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
        .select(Seq(cellOf(col("embedding")).as("cell"), col("vec_id"),
          col("embedding")) ++ metaCols.map(col): _*)
    }
  }

  /** Top-k per query via nprobe-cell candidate generation + exact
    * cosine re-rank (codegen'd CosineSim).
    */
  def topK(
      spark: SparkSession,
      corpus: DataFrame,   // (vec_id, embedding)
      queries: DataFrame,  // (vec_id, embedding)
      k: Int = 10,
      numCells: Int = 16,
      nprobe: Int = 4,
      iters: Int = 3,
      dim: Int = 64): DataFrame = {
    val centroids = train(corpus, numCells, iters, dim)
    rerank(spark, index(corpus, centroids), probeFrame(spark, queries, centroids, nprobe), k)
  }

  /** Persist the index partitioned by cell — the at-rest form the
    * scaladoc above promises: one directory per inverted list, so a
    * probe's cell filter becomes partition pruning at the scan (only
    * the nprobe directories are listed/read).
    */
  def save(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      path: String,
      metaCols: Seq[String] = Nil): Unit = {
    index(corpus, centroids, metaCols)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // training-time per-cell population snapshot for IndexDrift.probeIvf
    IndexDrift.snapshotStats(corpus.sparkSession, path)
  }

  /** Append a new drop to a [[save]]d layout WITHOUT retraining: the
    * batch is assigned under the same frozen centroids and appended
    * into the per-cell directories — index maintenance for the daily
    * ingest at 100 TB, cost O(|batch|) with no corpus rescan.
    * Contract (IndexAppendSpec): probing the appended layout is
    * row-identical to probing a from-scratch [[save]] of old ∪ new
    * under the same centroids, and the probe's partition pruning is
    * unchanged. Re-train + re-save only when drift moves the
    * centroids; the assignment is pure argmin, so until then append
    * and rebuild commute.
    */
  def appendSaved(
      batch: DataFrame,
      centroids: Array[Array[Float]],
      path: String,
      metaCols: Seq[String] = Nil): Unit =
    index(batch, centroids, metaCols)
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Rewrite an append-accumulated layout to one data file per cell
    * directory ([[Layouts.compactPartitioned]]) — run after every N
    * appends so the daily-drop story doesn't pay the small-file
    * listing/open tax on the pruned-read path. Probe results are
    * row-identical before and after (IndexAppendSpec).
    */
  def compactSaved(spark: SparkSession, path: String): Unit =
    Layouts.compactPartitioned(spark, path, "cell")

  /** Probe a [[save]]d index. The distinct probe cells (≤ nprobe ×
    * |queries|, dimension-sized by contract) become an IN-filter on the
    * partition column — PartitionFilters in the scan, pruned file
    * listing — then the same broadcast-probe re-rank as the in-memory
    * path. `predicate` (over the layout's metaCols) filters candidates
    * BEFORE the re-rank in the same pruned scan — filtered ANN on the
    * float layout, [[IvfPq.topKFromSaved]]'s contract.
    */
  def topKFromSaved(
      spark: SparkSession,
      path: String,
      centroids: Array[Array[Float]],
      queries: DataFrame,  // (vec_id, embedding)
      k: Int = 10,
      nprobe: Int = 4,
      predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val probes = probeFrame(spark, queries, centroids, nprobe)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
    val raw = spark.read.parquet(path)
    val idx = predicate.fold(raw)(raw.filter)
      .filter(col("cell").isin(cells.map(Int.box): _*))
      .select(col("cell"), col("vec_id"), col("embedding"))
    rerank(spark, idx, probes, k)
  }

  /** (qid, qe, cell) — each query replicated to its nprobe cells. */
  private def probeFrame(
      spark: SparkSession,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      nprobe: Int): DataFrame = {
    import spark.implicits._
    queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qe) =>
        nearestCells(qe, centroids, nprobe).map(c => (qid, qe, c))
      }
      .toDF("qid", "qe", "cell")
  }

  /** Candidate join + exact re-rank, shared by both paths; the probe
    * side is broadcast (dimension-sized), so the index side streams its
    * (possibly partition-pruned) scan without a shuffle.
    */
  private def rerank(spark: SparkSession, idx: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    CosineSim.register(spark)
    val cand = idx.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", expr("cosine_sim(embedding, qe)"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("sim"), col("rk"))
  }
}
