package graft

import org.apache.spark.sql.functions._

/** ops.Skyline: exact equivalence with an O(n²) brute-force JVM
  * replica on seeded random 3-D data (including duplicated objective
  * vectors, which must BOTH survive — ties dominate neither way),
  * plus partition-count invariance (the local-prune phase must be
  * lossless however the rows are split).
  */
class SkylineSpec extends SparkSuite {

  private def brute(rows: Seq[(Long, Long, Long, Long)]): Set[Long] = {
    def dominated(a: (Long, Long, Long, Long)) = rows.exists { b =>
      b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4 &&
        (b._2 > a._2 || b._3 > a._3 || b._4 > a._4)
    }
    rows.filterNot(dominated).map(_._1).toSet
  }

  private val rnd = new scala.util.Random(77)
  private val rows: Seq[(Long, Long, Long, Long)] =
    (1L to 200L).map(id =>
      (id, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
        rnd.nextInt(40).toLong)) ++
      // a forced exact tie on the objective vector: both must survive
      // if undominated
      Seq((201L, 100L, 100L, 100L), (202L, 100L, 100L, 100L))

  test("skyline ≡ brute-force replica, ties both kept") {
    import spark.implicits._
    val df = rows.toDF("id", "x", "y", "z")
    val got = graft.ops.Skyline.of(df, Seq("x", "y", "z"))
      .select($"id").collect().map(_.getLong(0)).toSet
    val want = brute(rows)
    assert(got == want, s"only-got=${got -- want} only-want=${want -- got}")
    assert(got.contains(201L) && got.contains(202L))
  }

  test("partition-count invariance of the two-phase plan") {
    import spark.implicits._
    val want = brute(rows)
    Seq(1, 3, 16).foreach { p =>
      val df = rows.toDF("id", "x", "y", "z").repartition(p)
      val got = graft.ops.Skyline.of(df, Seq("x", "y", "z"))
        .select($"id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"partitions=$p")
    }
  }

  test("over-budget shrink rounds converge to the exact skyline") {
    import spark.implicits._
    // ANTI-CORRELATED tail forces a large candidate set: x + y = const
    // makes every point mutually undominated in 2-D, but the z spread
    // still prunes; budget 1 forces shrink rounds all the way to the
    // single-partition exact pass on every fixture
    val anti = (500L to 560L).map(id => (id, id - 400L, 260L - id, 1L))
    val all = rows ++ anti
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val got = graft.ops.Checkpoints.scope {
      graft.ops.Skyline.of(
        all.toDF("id", "x", "y", "z").repartition(16),
        Seq("x", "y", "z"), budgetRows = 1L)
        .select($"id").collect().map(_.getLong(0)).toSet
    }
    assert(got == brute(all), s"shrink path diverged")
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "the shrink rounds left a candidate checkpoint behind the scope")
  }
}
