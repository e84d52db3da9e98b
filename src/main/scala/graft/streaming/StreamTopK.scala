package graft.streaming

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming heavy hitters — q111's Misra–Gries sketch in the
  * micro-batch posture (trending tokens over a document stream, the
  * operational companion to the batch sketch): each batch summarizes
  * its own token stream distributedly (`Stats.heavyHitters`, ≤ P·k
  * partials, merge-by-SUM), the batch summary merges into the
  * persisted ≤ k-row state, and the merged summary MG-COMPRESSES back
  * to ≤ k rows by subtracting the (k+1)-th largest count from every
  * counter and dropping the non-positive ones — the Mergeable
  * Summaries construction (Agarwal et al., PODS 2012): the compress
  * step removes ≤ (k+1)·t ≤ (mass so far)/(k+1) of TRUE mass in
  * total, so after ANY number of batches the state never overcounts
  * and undercounts by at most n/(k+1) — the batch sketch's exact
  * guarantee, preserved under streaming (StreamTopKSpec pins it
  * against exact counts of the whole stream).
  *
  * Scale shape: state is ≤ k rows of (tok, est) — it broadcasts into
  * nothing, shuffles nothing, and the only driver materialization is
  * the k+1-row threshold probe (k-bounded by contract). Per batch the
  * corpus-sized work is the batch's own token pass.
  *
  * Exactly-once: the fold-into-state is NOT naturally idempotent (a
  * replayed trigger that re-merged its batch would double that
  * batch's mass and break the no-overcount invariant), so the state
  * is kept as batch-id-named GENERATIONS — `topk/b<id>`, each a
  * complete ≤ k-row summary. A trigger reads the newest generation
  * BELOW its own id and overwrites its own, so a replay recomputes
  * from the same input and rewrites bit-identical rows. Only the two
  * newest generations are retained (a replay can only be of the
  * newest id, which reads the one below).
  */
object StreamTopK {

  /** Start the stream over a streaming documents frame (needs `text`). */
  def start(
      source: DataFrame,
      stateDir: String,
      k: Int = 512): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, id) =>
      processBatch(batch.sparkSession, batch, stateDir, k, id)
    }

  /** One micro-batch: summarize → merge → MG-compress → publish this
    * batch's state generation. Directly drivable (the spec's
    * ordered-drop harness).
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batchDocs: DataFrame,
      stateDir: String,
      k: Int,
      batchId: Long): Unit = {
    import spark.implicits._
    if (batchDocs.isEmpty) return
    val toks = batchDocs
      .select(explode(split(lower($"text"), "[^a-z]+")).as("tok"))
      .filter($"tok" =!= "").as[String]
    val summary = graft.queries.Stats.heavyHitters(toks, k)
    val state = readState(spark, stateDir, beforeBatch = Some(batchId))
    Checkpoints.scope {
      // two consumers (threshold probe, compress filter)
      val merged = Checkpoints.local(state.union(summary)
        .groupBy($"tok").agg(sum($"est").cast("long").as("est")))
      // (k+1)-th largest count = the MG decrement; 0 when ≤ k survivors.
      // k+1 rows to the driver — k-bounded by contract, like probe cell
      // lists.
      val top = merged.orderBy($"est".desc, $"tok".asc).limit(k + 1)
        .select($"est").as[Long].collect()
      val t = if (top.length <= k) 0L else top.last
      val next = merged.filter($"est" > t)
        .select($"tok", ($"est" - t).as("est"))
      // publish as THIS batch's generation — an idempotent overwrite
      next.coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/topk/b$batchId")
    }
    // retain the newest two generations (replay depth is one trigger)
    val gens = generations(spark, stateDir)
    if (gens.length > 2) {
      val root = new org.apache.hadoop.fs.Path(s"$stateDir/topk")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      gens.dropRight(2).foreach(id =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"b$id"), true))
    }
  }

  /** Current top-n estimate (deterministic order: est desc, tok asc). */
  def topN(spark: SparkSession, stateDir: String, n: Int): DataFrame = {
    import spark.implicits._
    readState(spark, stateDir, beforeBatch = None)
      .orderBy($"est".desc, $"tok".asc).limit(n)
  }

  /** Committed generation ids, ascending. */
  private def generations(spark: SparkSession, stateDir: String): Seq[Long] =
    graft.ops.Layouts.liveChildren(spark, s"$stateDir/topk")
      .map(_.getName).filter(n => n.startsWith("b") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).sorted

  /** The newest generation below `beforeBatch` (newest overall when
    * None), or a typed empty frame before the first one.
    */
  private def readState(
      spark: SparkSession, stateDir: String, beforeBatch: Option[Long]): DataFrame =
    generations(spark, stateDir)
      .filter(id => beforeBatch.forall(id < _)).lastOption match {
      case Some(id) => spark.read.parquet(s"$stateDir/topk/b$id")
      case None => spark.createDataFrame(
        new java.util.ArrayList[Row](), StructType.fromDDL("tok STRING, est BIGINT"))
    }
}
