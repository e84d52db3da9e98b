package graft

import org.apache.spark.sql.functions._

/** ops.Hits: hand-solvable fixtures land exactly (the L1-normalized
  * fixed point of a 2-hub/1-authority graph is exact in IEEE — x/x
  * and small dyadic ratios), weights steer hub mass, and the corpus
  * run conserves mass and separates the planted roles. These graphs
  * take the driver tier; IdEncodeSpec pins the id tier to it bit for
  * bit, and q227's oracle hash is the cross-engine evaluation of the
  * same fold tree.
  */
class HitsSpec extends SparkSuite {

  private def edges(rows: Seq[(String, String, Long)]) = {
    import spark.implicits._
    rows.toDF("w1", "w2", "c")
  }

  private def run(rows: Seq[(String, String, Long)], rounds: Int = 3) =
    graft.ops.Hits.run(edges(rows), rounds).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  test("two hubs, one authority: exact fixed point") {
    val got = run(Seq(("A", "C", 1L), ("B", "C", 1L)))
    // a(C) = (1/3 + 1/3)/(2/3) = 1 exactly (x/x); hubs split 1/2 each
    assert(got("C") === ((1.0, 0.0)))
    assert(got("A") === ((0.0, 0.5)))
    assert(got("B") === ((0.0, 0.5)))
  }

  test("edge weights steer hub mass: 3:1 split") {
    val got = run(Seq(("A", "C", 3L), ("B", "C", 1L)))
    assert(got("C") === ((1.0, 0.0)))
    assert(got("A") === ((0.0, 0.75)))
    assert(got("B") === ((0.0, 0.25)))
  }

  test("corpus link graph: mass conserved, roles separated") {
    val links = graft.queries.Crawl.withOutlinks(
      graft.Sql.table(spark, "/root/testdata/sf0.001", "documents"))
    val e = links
      .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
      .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
      .agg(count(lit(1)).cast("long").as("c"))
    val got = graft.ops.Hits.run(e, 3).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // L1 normalization conserves unit mass on both sides
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    // pure targets (hub pages are never sources) carry EXACTLY zero
    // hub mass
    val hubPages = got.filter(_._1.contains("/hub/"))
    assert(hubPages.nonEmpty && hubPages.values.forall(_._2 === 0.0))
    // authority concentrates off the article leaves (in-degree ≤ 2)
    // onto home/hub/partner targets (in-degree ~N/host and ~N/33)
    val artMax = got.filter(_._1.contains("/articles/")).values.map(_._1).max
    val nonArtMax = got.filterNot(_._1.contains("/articles/")).values.map(_._1).max
    assert(nonArtMax > artMax)
    // every fetched page links out → strictly positive hub mass
    val srcUrls = links.select("src_url").distinct().collect().map(_.getString(0))
    srcUrls.foreach(u => assert(got(u)._2 > 0.0, u))
  }
}
