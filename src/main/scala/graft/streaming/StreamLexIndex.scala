package graft.streaming

import graft.ops.LexIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING lexical-index maintenance — [[LexIndex.append]] driven by
  * micro-batches: the eighth streaming maintainer, making the
  * retrieval stack's LEXICAL leg live the way [[StreamIndex]] keeps
  * the vector leg live. Each trigger folds its batch of NEW documents
  * (the q112 drop contract — batches carry disjoint doc_ids) into one
  * batch-id child holding the batch's postings AND their stats row
  * together, so a drop has a single commit unit; a replayed trigger
  * rewrites the identical child and the read side cannot move —
  * replay safety carried entirely by the idempotent child overwrite
  * (the [[StreamCms]] argument; no marker needed). df is never stored,
  * so no append can leave it stale — [[LexIndex.search]] counts it
  * over the pruned probe rows at query time and stays bit-identical
  * to a full rebuild (StreamLexIndexSpec pins streamed ≡ rebuilt
  * including every BM25 double, across a checkpoint restart).
  *
  * Requires a base child first ([[LexIndex.save]]; an empty-corpus
  * save is fine for a from-scratch stream).
  */
object StreamLexIndex {

  /** Start folding a streaming (doc_id, text) frame into the index at
    * `indexPath`.
    */
  def start(source: DataFrame, indexPath: String): StreamingQuery =
    Maintainer.start(source, s"$indexPath/ckpt") { (batch, id) =>
      if (!batch.isEmpty) LexIndex.append(batch, indexPath, id)
    }

  /** Index-served BM25 for `terms` over everything folded so far —
    * the read side, bit-identical to a rebuild over the same corpus.
    */
  def search(spark: SparkSession, indexPath: String, terms: Seq[String], k: Int = 0): DataFrame =
    LexIndex.search(spark, indexPath, terms, k)
}
