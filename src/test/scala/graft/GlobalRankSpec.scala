package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ops.GlobalRank: the distributed two-phase total-order rank must
  * agree exactly with the single-partition window form, while keeping
  * the data spread over many partitions (the point of the op).
  */
class GlobalRankSpec extends SparkSuite {

  test("two-phase rank equals single-window row_number, stays multi-partition") {
    import spark.implicits._
    // keys with heavy ties (v = i % 97) force the doc-id tiebreak; the
    // values are deliberately not in input order
    val df = (0 until 5000).map(i => ((i * 131) % 5000, (i * 7919) % 97)).toDF("id", "v")

    val ranked = graft.ops.GlobalRank.withRank(
      df, Seq($"v".desc, $"id".asc), "g_rank", numPartitions = 8)

    val expected = df
      .withColumn("g_rank", row_number().over(Window.orderBy($"v".desc, $"id".asc)).cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap

    val got = ranked.collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got.size === 5000)
    assert(got === expected)

    // physical shape: the ranked frame must still be spread over the
    // requested partitions — no single-partition concentration
    assert(ranked.rdd.getNumPartitions === 8,
      s"expected 8 partitions, got ${ranked.rdd.getNumPartitions}")
    val perPart = ranked.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.count(_ > 0) >= 4, s"rows concentrated: ${perPart.toSeq}")
  }

  test("q83 survives a coalesced single-file write round-trip") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rank_spec")
    try {
      val df = SparkEntry.queries("q83_global_rank")(spark, "/root/testdata/sf0.01")
      // coalesce(1) fuses every range partition into ONE task — the
      // exact shape the Verify writer produces — so the per-row pid
      // lookup (not TaskContext.partitionId) must keep ranks correct
      val out = tmp.resolve("rank.parquet").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val back = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val expected = graft.Sql.table(spark, "/root/testdata/sf0.01", "documents")
        .select($"doc_id", $"n_chars")
        .withColumn("g_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"n_chars".desc, $"doc_id".asc)).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(back === expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("withGroupRank equals per-group row_number under heavy group skew") {
    import spark.implicits._
    // one dominant group (the en-web-corpus shape the op exists for:
    // 80% of rows in one group), ties on v force the id tiebreak
    val df = (0 until 4000).map { i =>
      val g = if (i % 5 == 0) s"g${i % 3 + 1}" else "g0"
      ((i * 131) % 4000, g, (i * 7919) % 41)
    }.toDF("id", "grp", "v")
    val got = graft.ops.GlobalRank.withGroupRank(
      df, Seq("grp"), Seq($"v".desc, $"id".asc), "rk", numPartitions = 8)
    val expected = df
      .withColumn("rk", row_number().over(
        Window.partitionBy($"grp").orderBy($"v".desc, $"id".asc)).cast("long"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(3))).toMap
    val gotMap = got.collect()
      .map(r => ((r.getAs[Int]("id"), r.getAs[String]("grp")), r.getAs[Long]("rk"))).toMap
    assert(gotMap.size === 4000)
    assert(gotMap === expected)
    // the dominant group must be SPREAD, not concentrated in one task
    val domPerPart = got.filter($"grp" === "g0").rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(domPerPart.count(_ > 0) >= 4,
      s"dominant group concentrated: ${domPerPart.toSeq}")
  }

  test("withGroupPrefixSum equals per-group running sum; survives coalesce(1)") {
    import spark.implicits._
    // groups that SPAN partitions (g0 dominant) and partitions that
    // hold MULTIPLE groups (tiny g1/g2 slot between g0's range blocks)
    val df = (0 until 3000).map { i =>
      val g = if (i % 4 == 0) s"g${i % 3 + 1}" else "g0"
      ((i * 577) % 3000, g, ((i * 31) % 100).toLong)
    }.toDF("id", "grp", "x")
    val got = graft.ops.GlobalRank.withGroupPrefixSum(
      df, Seq("grp"), Seq($"id".asc), "x", "cum", numPartitions = 8)
    val expected = df
      .withColumn("cum", sum($"x").over(
        Window.partitionBy($"grp").orderBy($"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(3))).toMap
    val gotMap = got.collect()
      .map(r => ((r.getAs[Int]("id"), r.getAs[String]("grp")), r.getAs[Long]("cum"))).toMap
    assert(gotMap.size === 3000)
    assert(gotMap === expected)
    // the Verify writer's coalesce(1) fuses every range partition into
    // one task — the per-ROW pid lookup and per-iterator accumulator
    // reset must keep the sums correct under the fusion
    val tmp = java.nio.file.Files.createTempDirectory("graft_psum_spec")
    try {
      val out = tmp.resolve("cum.parquet").toString
      got.coalesce(1).write.mode("overwrite").parquet(out)
      val back = spark.read.parquet(out).collect()
        .map(r => ((r.getAs[Int]("id"), r.getAs[String]("grp")), r.getAs[Long]("cum"))).toMap
      assert(back === expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("grouped ranks free their checkpoint blocks when the scope closes") {
    import spark.implicits._
    val df = (0 until 500).map(i => ((i * 67) % 500, s"g${i % 3}", (i % 13).toLong))
      .toDF("id", "grp", "x")
    val before = persisted
    val added = graft.ops.Checkpoints.scope {
      val ranked = graft.ops.GlobalRank.withGroupRank(
        df, Seq("grp"), Seq($"x".asc, $"id".asc), "rk", numPartitions = 4)
      val summed = graft.ops.GlobalRank.withGroupPrefixSum(
        df, Seq("grp"), Seq($"id".asc), "x", "cum", numPartitions = 4)
      val added = persisted -- before
      assert(added.size >= 2, "each op should register its own checkpoint")
      assert(ranked.collect().length === 500)
      assert(summed.collect().length === 500)
      added
    }
    assert((added & persisted).isEmpty,
      s"checkpoint blocks still registered after the scope: ${added & persisted}")
  }

  test("withRank's blocks are freed by its scope, or by release outside one") {
    import spark.implicits._
    val df = (0 until 1000).map(i => ((i * 67) % 1000, i % 13)).toDF("id", "v")
    def rank() = graft.ops.GlobalRank.withRank(
      df, Seq($"v".asc, $"id".asc), "g_rank", numPartitions = 4)
    val before = persisted
    val added = graft.ops.Checkpoints.scope {
      val ranked = rank()
      val added = persisted -- before
      assert(added.nonEmpty, "localCheckpoint should register a persistent RDD")
      // materialize fully inside the scope
      assert(ranked.collect().length === 1000)
      added
    }
    assert((added & persisted).isEmpty,
      s"checkpoint blocks still registered after the scope: ${added & persisted}")
    // outside a scope, release on the RESULT walks to the rank's leaf
    val ranked = rank()
    val added2 = persisted -- before
    assert(added2.nonEmpty)
    assert(ranked.collect().length === 1000)
    graft.ops.Checkpoints.release(ranked)
    assert((added2 & persisted).isEmpty,
      s"release left checkpoint blocks registered: ${added2 & persisted}")
  }
}
