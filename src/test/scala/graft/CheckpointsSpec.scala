package graft

import graft.ops.{Checkpoints, PageRank}
import org.apache.spark.sql.functions._

/** ops.Checkpoints: `Dataset.unpersist()` after `localCheckpoint()` is
  * a no-op (it only uncaches CacheManager entries), so every iterative
  * operator's block release goes through [[Checkpoints.release]] —
  * which must actually remove the checkpointed RDD from executor
  * storage, deterministically, not whenever a driver GC lets
  * ContextCleaner get to it.
  */
class CheckpointsSpec extends SparkSuite {

  // Count only ids created AFTER the baseline: ContextCleaner reaps
  // earlier suites' garbage asynchronously, so absolute sizes race.
  private def ids: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Dataset.unpersist after localCheckpoint is a no-op; release is not") {
    import spark.implicits._
    val before = ids
    val df = spark.range(1000).toDF("x").localCheckpoint()
    assert((ids -- before).size == 1)
    df.unpersist(blocking = true)
    assert((ids -- before).size == 1,
      "Dataset.unpersist released checkpoint blocks — helper is obsolete, simplify callers")
    Checkpoints.release(df)
    assert((ids -- before).isEmpty, "release did not free the checkpointed RDD")
  }

  test("release works on typed Datasets and is a no-op on plain frames") {
    import spark.implicits._
    val before = ids
    val ds = spark.range(100).map(i => (Array(i.toString), i)).localCheckpoint()
    assert((ids -- before).size == 1)
    Checkpoints.release(ds)
    assert((ids -- before).isEmpty)
    // not checkpoint-backed: nothing to release, nothing breaks
    Checkpoints.release(spark.range(10).toDF("x"))
    assert((ids -- before).isEmpty)
  }

  test("release frees checkpoints under DERIVED frames, not just roots") {
    import spark.implicits._
    val before = ids
    val root = spark.range(500).toDF("x").localCheckpoint()
    val derived = root.select(($"x" * 2).as("y")).filter($"y" > 10)
    assert((ids -- before).size == 1)
    // a root-only match would silently no-op here — the ADVICE trap:
    // callers handing release a select() over the checkpoint got the
    // nondeterministic GC-dependent leak back
    Checkpoints.release(derived)
    assert((ids -- before).isEmpty,
      "release did not walk the plan to the LogicalRDD leaf")
  }

  test("the distributed PageRank loop leaves only its result frame cached") {
    import spark.implicits._
    val before = ids
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("w1", "w2", "c")
    val pr = PageRank.run(edges, rounds = 4, strategy = "distributed")
    // e0/trans/nodes/outW and the 4 superseded rank frames are all
    // released — exactly one checkpoint (the returned ranks) remains
    val mine = ids -- before
    assert(mine.size == 1, s"expected 1 surviving checkpoint, found ${mine.size}")
    Checkpoints.release(pr)
    assert((ids -- before).isEmpty)
  }

  test("a scope frees what it registered, on success and on throw") {
    val before = ids
    val n = Checkpoints.scope {
      val df = Checkpoints.local(spark.range(300).toDF("x"))
      assert((ids -- before).size == 1)
      df.count()
    }
    assert(n == 300L)
    assert((ids -- before).isEmpty, "the scope kept its checkpoint")
    intercept[IllegalStateException] {
      Checkpoints.scope {
        Checkpoints.local(spark.range(10).toDF("x"))
        assert((ids -- before).size == 1)
        throw new IllegalStateException("query failed")
      }
    }
    assert((ids -- before).isEmpty, "a throwing scope leaked its checkpoint")
  }

  test("a nested scope frees only its own registrations") {
    val before = ids
    Checkpoints.scope {
      val outer = Checkpoints.local(spark.range(20).toDF("x"))
      val outerIds = ids -- before
      Checkpoints.scope {
        Checkpoints.local(spark.range(30).toDF("x"))
        assert((ids -- before).size == 2)
      }
      assert(ids -- before == outerIds, "the inner scope freed its parent's checkpoint")
      assert(outer.count() == 20L)
    }
    assert((ids -- before).isEmpty)
  }

  test("local outside any scope registers nothing; only release frees it") {
    val before = ids
    val df = Checkpoints.local(spark.range(40).toDF("x"))
    // an unrelated scope opened and closed later must not touch it
    Checkpoints.scope { Checkpoints.local(spark.range(5).toDF("x")) }
    assert((ids -- before).size == 1, "a scope freed a checkpoint taken outside it")
    assert(df.count() == 40L)
    Checkpoints.release(df)
    assert((ids -- before).isEmpty)
  }

  test("own adopts a frame checkpointed on another thread") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val before = ids
    Checkpoints.scope {
      // the pool thread sees no scope: its checkpoint is registered
      // nowhere until the spawning thread adopts it
      val df = Await.result(
        Future(Checkpoints.local(spark.range(50).toDF("x"))), 1.minute)
      Checkpoints.scope { () }
      assert((ids -- before).size == 1)
      assert(Checkpoints.own(df).count() == 50L)
    }
    assert((ids -- before).isEmpty, "own did not hand the checkpoint to the scope")
  }

  test("checkpoint-heavy queries leave no storage behind their scopes") {
    val dir = "/root/testdata/sf0.001"
    // q240 is the fan-out site: its rank loops run on pool threads and
    // the query adopts their results with Checkpoints.own
    Seq("q94_ngram_novelty", "q108_exactsubstr_removal", "q110_block_boilerplate",
      "q223_link_pagerank", "q227_link_hits", "q228_trustrank",
      "q240_host_trust_audit").foreach { name =>
      // the snapshot holds its RDDs strongly, so the ContextCleaner
      // cannot drop an older entry mid-query and the sets compare exactly
      val before = spark.sparkContext.getPersistentRDDs
      val rows = Checkpoints.scope(SparkEntry.queries(name)(spark, dir).collect())
      assert(rows.nonEmpty, s"$name returned no rows")
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert(after == before.keySet,
        s"$name: left ${after -- before.keySet}, dropped ${before.keySet -- after}")
    }
  }

  /** Shuffle exchanges of `df`'s executed plan (run an action first). */
  private def exchanges(df: org.apache.spark.sql.DataFrame) =
    executedNodes(df).collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
    }

  test("localByKey keeps the hash layout through the checkpoint under AQE") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the layout loss this helper repairs is AQE's")
    val before = ids
    val base = spark.range(200000)
      .select(($"id" % 9973).as("k"), ($"id" % 7).as("x"), $"id".as("v"))
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k", $"x").agg(sum($"v").as("s"))
        .groupBy($"k").agg(sum($"s").as("s"), count(lit(1)).as("n"))
    val laid = Checkpoints.localByKey(base, "k", 4)
    val got = rollup(laid)
    val rows = got.collect()
    assert(exchanges(got).isEmpty,
      s"groupBy(k, x) / groupBy(k) re-shuffled the laid-out checkpoint:\n" +
        got.queryExecution.executedPlan)
    assert(rows.toSet == rollup(base).collect().toSet)
    // the helper's reason to exist: a plain checkpoint of the same
    // repartition declares no layout under AQE, so its consumers shuffle
    val plain = base.repartition(4, $"k").localCheckpoint()
    val viaPlain = rollup(plain)
    viaPlain.collect()
    assert(exchanges(viaPlain).nonEmpty,
      "a plain checkpoint kept its layout under AQE — localByKey is obsolete")
    // a broadcast join on the key still plans against the declared layout
    val small = spark.range(50).select($"id".as("k"), ($"id" * 2).as("y"))
    val joined = laid.join(broadcast(small), "k")
    assert(joined.collect().toSet == base.join(small, "k").collect().toSet)
    assert(executedNodes(joined).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]))
    Seq(laid, plain).foreach(Checkpoints.release)
    assert((ids -- before).isEmpty, "release left a laid-out checkpoint behind")
  }
}
