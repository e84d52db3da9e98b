package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Distributed skyline (Pareto-optimal set) over BIGINT objective
  * columns, all maximized — callers negate a dimension to minimize
  * it. Row b DOMINATES row a iff b ≥ a on every objective and b > a
  * on at least one; the skyline is the undominated set (ties —
  * identical objective vectors — dominate neither way, so both
  * survive, matching the SQL NOT EXISTS oracle form).
  *
  * Distributed shape (Börzsönyi et al. 2001's block-nested skyline,
  * partitioned):
  *
  *  1. LOCAL PRUNE — one mapPartitions pass keeps each partition's
  *     own skyline. Sound because domination is checked against a
  *     SUBSET: a globally undominated row is undominated in its
  *     partition, so the prune never loses a skyline member; it only
  *     sheds locally-dominated rows.
  *  2. SHRINK ROUNDS — while the candidate set exceeds the broadcast
  *     budget AND more than one partition remains, coalesce into
  *     fewer partitions and re-prune: each round sees bigger subsets,
  *     so it can only shed more. If the set still exceeds the budget
  *     at ONE partition, that final single-partition prune checked
  *     every row against every survivor — it IS the exact skyline,
  *     returned directly. This is the honest fallback: a LeftAnti
  *     join on a pure-inequality predicate has NO shuffled
  *     implementation in Spark (only BroadcastNestedLoopJoin), so
  *     "drop the hint and let AQE decide" would still broadcast an
  *     over-budget frame — the single-task final prune is bounded by
  *     the candidate set, never the corpus, and cannot OOM executors.
  *  3. GLOBAL FILTER — under the budget, candidates anti-join
  *     against themselves on the domination predicate with the
  *     (provably small) build side broadcast. A self-row never
  *     dominates itself (the strict-> clause), so no key exclusion
  *     is needed.
  */
object Skyline {

  /** Run the candidate anti-join only below this row count; above it
    * the shrink rounds converge to the exact single-partition prune.
    */
  val BroadcastCandRows: Long = 1L << 20

  /** The skyline of `df` maximizing every column in `dims` (BIGINT).
    * Returns `df`'s schema unchanged, skyline rows only. The candidate
    * checkpoint belongs to the enclosing [[Checkpoints.scope]] (outside
    * one, [[Checkpoints.release]] the result once materialized).
    * `budgetRows` exists so tests can force the shrink-round path on
    * small fixtures; production callers keep the default.
    */
  def of(
      df: DataFrame,
      dims: Seq[String],
      budgetRows: Long = BroadcastCandRows): DataFrame = {
    require(dims.nonEmpty, "skyline needs at least one objective")
    val schema = df.schema
    val idx = dims.map(schema.fieldIndex)
    var cand = Checkpoints.local(localPrune(df, idx))
    // crash hygiene: if anything below throws (a prune task failure,
    // a count job loss), the frames checkpointed so far must not
    // strand until a driver GC — release and rethrow
    try {
      var n = cand.count()
      var parts = cand.rdd.getNumPartitions
      while (n > budgetRows && parts > 1) {
        parts = math.max(1, parts / 8)
        val next = Checkpoints.local(localPrune(cand.coalesce(parts), idx))
        // the next checkpoint is EAGER, so the previous round's
        // blocks are dead the moment it exists — release round by
        // round instead of pinning sum-of-rounds copies of an
        // over-budget candidate set through the final write
        Checkpoints.release(cand)
        cand = next
        n = cand.count()
      }
      if (n > budgetRows) cand // pruned at ONE partition: exact
      else {
        val other = cand.select(dims.map(d => col(d).as(s"__sky_$d")): _*)
        val geAll = dims.map(d => col(s"__sky_$d") >= col(d)).reduce(_ && _)
        val gtAny = dims.map(d => col(s"__sky_$d") > col(d)).reduce(_ || _)
        cand.join(broadcast(other), geAll && gtAny, "left_anti")
      }
    } catch {
      case t: Throwable => Checkpoints.release(cand); throw t
    }
  }

  /** Block-nested local skyline, O(rows · |local skyline|) per
    * partition: newcomers dominated by a buffered row drop; buffered
    * rows dominated by a newcomer drop (transitivity makes shedding
    * them safe even if the newcomer later drops too).
    */
  private def localPrune(df: DataFrame, idx: Seq[Int]): DataFrame = {
    val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Row)]
      it.foreach { r =>
        val v = idx.map(r.getLong).toArray
        var dominated = false
        var i = 0
        while (i < buf.length && !dominated) {
          val w = buf(i)._1
          var geAll = true; var gtAny = false; var j = 0
          while (j < v.length) {
            if (w(j) < v(j)) geAll = false
            if (w(j) > v(j)) gtAny = true
            j += 1
          }
          if (geAll && gtAny) dominated = true
          else {
            var leAll = true; var ltAny = false; var k = 0
            while (k < v.length) {
              if (w(k) > v(k)) leAll = false
              if (w(k) < v(k)) ltAny = true
              k += 1
            }
            if (leAll && ltAny) { buf.remove(i); i -= 1 }
          }
          i += 1
        }
        if (!dominated) buf += ((v, r))
      }
      buf.iterator.map(_._2)
    }(enc)
  }
}
