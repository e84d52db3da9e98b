package graft.streaming

import graft.ops.SkyState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING Pareto-frontier maintenance — [[SkyState.add]] driven by
  * micro-batches: the twelfth maintainer. Exactly-once comes for free
  * (the [[StreamDistinct]] class of argument): the merge deduplicates
  * by key and the skyline of identical input is the identical frame,
  * so a replayed trigger republishes bit-equal state — no commit
  * marker, no own-child exclusion. The state is frontier-sized; every
  * trigger costs O(|state| + |batch|) local prune plus the
  * candidate-only anti-join, never a corpus rescan.
  *
  * Requires [[SkyState.save]] to have frozen (key, dims) first — an
  * empty-corpus save is fine for a from-scratch stream.
  */
object StreamSkyline {

  def start(source: DataFrame, stateDir: String): StreamingQuery =
    Maintainer.start(source, s"$stateDir/ckpt") { (batch, _) =>
      if (!batch.isEmpty) SkyState.add(batch, stateDir)
    }

  /** The maintained frontier (read side). */
  def frontier(spark: SparkSession, stateDir: String): DataFrame =
    SkyState.skyline(spark, stateDir)
}
