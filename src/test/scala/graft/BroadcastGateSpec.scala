package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** graft.Sql.broadcastIfSmall — the one measured-rowcount broadcast
  * gate (q131's count+hint, Decontam's sidecar count): hint only when
  * the frame is provably under budget; a supplied knownCount must
  * decide with ZERO materialization (no checkpoint in the plan); the
  * measured path must decide off a localCheckpoint the downstream
  * join reuses; the enclosing Checkpoints.scope must release the
  * blocks.
  */
class BroadcastGateSpec extends SparkSuite {

  private def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.nonEmpty
  private def checkpointed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .exists(_.isInstanceOf[LogicalRDD])

  test("measured path: hints under budget, declines over, reuses the checkpoint") {
    import spark.implicits._
    val small = (1L to 50L).toDF("k")
    val under = Sql.broadcastIfSmall(small, budgetRows = 100L)
    assert(hinted(under), "under-budget frame not hinted")
    assert(checkpointed(under), "measured path must decide off a checkpoint")
    val over = Sql.broadcastIfSmall(small, budgetRows = 10L)
    assert(!hinted(over), "over-budget frame hinted — the OOM class")
    assert(checkpointed(over))
    // the gated frame is still the same data
    assert(under.agg(sum($"k")).head().getLong(0) == 1275L)
    assert(over.count() == 50L)
  }

  test("knownCount path: zero materialization, gate on the given count") {
    import spark.implicits._
    val df = (1L to 50L).toDF("k")
    val under = Sql.broadcastIfSmall(df, budgetRows = 100L, knownCount = Some(50L))
    assert(hinted(under))
    assert(!checkpointed(under),
      "knownCount path materialized — the per-probe-job class the sidecar count exists to avoid")
    val over = Sql.broadcastIfSmall(df, budgetRows = 10L, knownCount = Some(50L))
    assert(!hinted(over) && !checkpointed(over))
  }

  test("the enclosing scope releases the measured path's checkpoint blocks") {
    import spark.implicits._
    // track the checkpoint's OWN rdd — global persistent-RDD counts
    // race the ContextCleaner under the shared test session
    val rdd = graft.ops.Checkpoints.scope {
      val df = Sql.broadcastIfSmall((1L to 20L).toDF("k"), 100L)
      assert(df.count() == 20L)
      val rdd = df.queryExecution.analyzed.collectLeaves()
        .collectFirst { case lr: LogicalRDD => lr.rdd }.get
      assert(rdd.getStorageLevel.useMemory || rdd.getStorageLevel.useDisk)
      rdd
    }
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the scope left checkpoint blocks pinned")
    // the knownCount path checkpoints nothing: a scope around it is a
    // harmless no-op
    val known = graft.ops.Checkpoints.scope {
      Sql.broadcastIfSmall((1L to 5L).toDF("k"), 100L, knownCount = Some(5L))
    }
    assert(known.count() == 5L)
  }
}
