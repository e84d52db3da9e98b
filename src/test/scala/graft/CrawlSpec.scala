package graft

import org.apache.spark.sql.functions._

/** The q222–q225 link-graph family: extraction/resolution legs land
  * exactly as planted (every kind, the entity-decoded partner link's
  * full canonicalization, nofollow detection, skip handling), the
  * PageRank tiers agree bit-for-bit on the real link graph, the
  * anchor aggregation equals a JVM replica, and the sitemap
  * round-trip inverts its synthesis.
  */
class CrawlSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q222 planted page: every extraction and resolution leg") {
    import spark.implicits._
    // doc_id=30: %3=0, %11=8, %5=0, %7=2, %13=4, %4=2; article URL
    val docs = Seq((30L, "en", "src7")).toDF("doc_id", "lang", "source")
    val rows = graft.queries.Crawl.withOutlinks(docs)
      .orderBy("pos").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getString(4),
        r.getLong(5), r.getString(6), r.getString(7)))
    val base = "https://src7.example.org/en/articles/30"
    assert(rows.length === 8)
    assert(rows(0) === ((1L, "/", "Home", "root", 0L, base,
      "https://src7.example.org/")))
    assert(rows(1) === ((2L, "/en/articles/31", "next en story", "root", 0L,
      base, "https://src7.example.org/en/articles/31")))
    assert(rows(2) === ((3L, "https://src0.example.org/hub/8", "hub page 8",
      "abs", 0L, base, "https://src0.example.org/hub/8")))
    // the partner link: &amp; decoded, then the FULL q215 chain —
    // scheme+host lowercased, :443 dropped, // collapsed, utm_ dropped,
    // fragment stripped
    assert(rows(3) === ((4L,
      "HTTPS://SRC0.EXAMPLE.ORG:443/partner//2?utm_source=link&id=2#top",
      "partner site", "abs", 0L, base,
      "https://src0.example.org/partner/2?id=2")))
    assert(rows(4) === ((5L, "//cdn.example.org/asset/4", "asset 4", "proto",
      0L, base, "https://cdn.example.org/asset/4")))
    assert(rows(5) === ((6L, "mailto:editor@src7.example.org",
      "email the editor", "skip", 0L, base, "")))
    assert(rows(6) === ((7L, "javascript:void(0)", "share this", "skip", 0L,
      base, "")))
    assert(rows(7) === ((8L, "https://spam-farm.example.biz/offer/2",
      "sponsored offer", "abs", 1L, base,
      "https://spam-farm.example.biz/offer/2")))
  }

  test("q222 corpus invariants: 8 links per page, fixed kind histogram") {
    val links = SparkEntry.queries("q222_outlink_extract")(spark, dir)
      .localCheckpoint()
    val perDoc = links.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(kind = 'root' AS INT)")).as("roots"),
      sum(expr("CAST(kind = 'abs' AS INT)")).as("abss"),
      sum(expr("CAST(kind = 'proto' AS INT)")).as("protos"),
      sum(expr("CAST(kind = 'skip' AS INT)")).as("skips"),
      sum(col("nofollow")).as("nf"),
      sum(expr("CAST(kind = 'skip' AND dst_url <> '' AS INT)")).as("badskip"),
      sum(expr("CAST(kind <> 'skip' AND dst_url = '' AS INT)")).as("badkeep"))
      .collect()
    assert(perDoc.length === 500)
    perDoc.foreach { r =>
      assert(r.getLong(1) === 8L, s"doc ${r.getLong(0)}")
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
        ((2L, 3L, 1L, 2L)), s"doc ${r.getLong(0)} kind histogram")
      assert(r.getLong(6) === 1L, "exactly the sponsor link is nofollow")
      assert(r.getLong(7) === 0L && r.getLong(8) === 0L,
        "dst_url empty iff skipped")
    }
    graft.ops.Checkpoints.release(links)
  }

  /** (numTasks, read shuffle, wrote shuffle) of every stage `body`'s
    * jobs complete, and the number of jobs it starts. */
  private def stagesOf[T](body: => T): (T, Seq[(Int, Boolean, Boolean)], Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean, Boolean)]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stages.add((e.stageInfo.numTasks, m.shuffleReadMetrics.recordsRead > 0,
          m.shuffleWriteMetrics.recordsWritten > 0))
      }
    }
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      (out, stages.toArray(Array.empty[(Int, Boolean, Boolean)]).toSeq, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("withOutlinks spreads a one-partition scan across every core") {
    val cores = spark.sparkContext.defaultParallelism
    val docs = graft.Sql.table(spark, dir, "documents")
    assert(docs.rdd.getNumPartitions == 1, "fixture: one row group, one scan partition")
    // deciding the spread reads the plan only — no job
    val (links, _, planJobs) = stagesOf(graft.queries.Crawl.withOutlinks(docs))
    assert(planJobs == 0, s"withOutlinks started $planJobs job(s) to size its input")
    // q223's shape: the extraction and the edge count's partial
    // aggregate run in the stage between the spread and the count
    val (_, stages, _) = stagesOf(
      links.groupBy(col("src_url"), col("dst_url")).count().collect())
    assert(stages.exists { case (n, read, wrote) => n == cores && read && wrote },
      s"no $cores-task stage ran the extraction: $stages")
  }

  test("withOutlinks leaves an input that already spans the cores unchanged") {
    val cores = spark.sparkContext.defaultParallelism
    // one small file per core: the scan reads one partition per file
    val path = java.nio.file.Files.createTempDirectory("crawl-wide").resolve("docs").toString
    graft.Sql.table(spark, dir, "documents").repartition(cores).write.parquet(path)
    val wide = spark.read.parquet(path)
    assert(wide.rdd.getNumPartitions >= cores, "fixture: one scan partition per core")
    val (links, _, jobs) = stagesOf(graft.queries.Crawl.withOutlinks(wide))
    assert(jobs == 0)
    links.collect()
    assert(!executedNodes(links).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      s"an exchange was added over a ${wide.rdd.getNumPartitions}-partition input:\n" +
        links.queryExecution.executedPlan)
  }

  test("q223: mass conservation, hub dominance, tier bit-equality") {
    val links = graft.queries.Crawl.withOutlinks(
      graft.Sql.table(spark, dir, "documents"))
    val edges = links
      .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
      .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint()
    val local = graft.ops.PageRank.runLocal(edges, 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = graft.ops.PageRank.runDistributed(edges, 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the two tiers evaluate the identical IEEE op sequence
    assert(local.keySet === dist.keySet)
    local.foreach { case (w, pr) =>
      assert(java.lang.Double.doubleToLongBits(pr) ===
        java.lang.Double.doubleToLongBits(dist(w)), w)
    }
    // PageRank with uniform dangling redistribution conserves mass
    assert(math.abs(local.values.sum - 1.0) < 1e-9)
    // hub pages collect ~N/33 in-links each; a leaf article collects ≤ 2
    val hubs = local.filter(_._1.contains("/hub/")).values
    val arts = local.filter(_._1.contains("/articles/")).values
    assert(hubs.nonEmpty && arts.nonEmpty)
    assert(hubs.min > arts.max,
      s"hub min ${hubs.min} should outrank article max ${arts.max}")
    graft.ops.Checkpoints.release(edges)
  }

  test("q224 anchor aggregation equals a JVM replica") {
    val links = graft.queries.Crawl.withOutlinks(
        graft.Sql.table(spark, dir, "documents"))
      .filter(col("kind") =!= "skip")
      .select("doc_id", "anchor", "nofollow", "src_url", "dst_url")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4)))
    val expected = links.groupBy(_._5).map { case (dst, g) =>
      dst -> ((g.length.toLong,
        g.map(_._1).distinct.length.toLong,
        g.map(t => t._4.replaceAll("^https?://([^/]+).*$", "$1"))
          .distinct.length.toLong,
        g.map(_._3).sum,
        g.map(_._2).distinct.sorted.mkString(" | ")))
    }
    val got = SparkEntry.queries("q224_anchor_agg")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (dst, e) => assert(got(dst) === e, dst) }
  }

  test("q226: Hamilton apportionment — budgets sum to exactly B, replica agrees") {
    val got = SparkEntry.queries("q226_host_budget")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._5).sum === 1000L, "largest-remainder exactness")
    // JVM replica of the apportionment from the (host, mass) frame
    val total = got.map(_._3).sum
    val base = got.map(t => t._1 -> 1000L * t._3 / total).toMap
    val leftover = 1000L - base.values.sum
    val extras = got.map(t => (t._1, 1000L * t._3 % total))
      .sortBy { case (h, r) => (-r, h) }.take(leftover.toInt).map(_._1).toSet
    got.foreach { case (h, _, _, b, budget) =>
      assert(b === base(h), h)
      assert(budget === base(h) + (if (extras(h)) 1L else 0L), h)
    }
    // every host with pages gets ranked; masses are positive (PageRank
    // gives every node ≥ (1-d)/n mass)
    assert(got.forall(_._3 > 0L))
  }

  test("q228: trust withholds mass from pages unreachable from seeds") {
    val trust = SparkEntry.queries("q228_trustrank")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val rank = SparkEntry.queries("q223_link_pagerank")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(trust.keySet === rank.keySet)
    // mass conserved: teleport + dangling both redistribute over t
    assert(math.abs(trust.values.map(_._1).sum - 1.0) < 1e-9)
    // seeds are exactly the article pages on non-blocklisted hosts
    trust.foreach { case (url, (_, isSeed)) =>
      val expect = url.contains("/articles/") && !url.contains("freestuff-mirror")
      assert(isSeed === (if (expect) 1L else 0L), url)
    }
    // the spam-demotion property: mirror and casino pages are
    // unreachable from any seed → trust EXACTLY 0.0, while uniform
    // PageRank hands them its (1-d)/n floor — the divergence IS the
    // spam mass
    val demoted = trust.filter { case (u, _) =>
      u.contains("freestuff-mirror") || u.contains("/casino/") }
    assert(demoted.nonEmpty)
    demoted.foreach { case (u, (t, _)) =>
      assert(t === 0.0, u)
      assert(rank(u) > 0.0, u)
    }
    // trust flows off the seeds onto their link targets — except
    // /hub/0, whose ONLY linkers are casino pages (doc_id % 11 = 0
    // implies the hub residue 0 AND the casino path), non-seeds with
    // zero trust to give: the transitivity property, not a bug
    val hubs = trust.filter(_._1.contains("/hub/"))
    assert(hubs.nonEmpty)
    hubs.foreach { case (u, (t, _)) =>
      if (u.endsWith("/hub/0")) assert(t === 0.0, u)
      else assert(t > 0.0, u)
    }
  }

  test("q225 sitemap round-trip inverts the synthesis") {
    val got = SparkEntry.queries("q225_sitemap_roundtrip")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getDouble(5)))
    // expected straight from documents (the oracle's computation, in JVM)
    val docs = graft.Sql.table(spark, dir, "documents")
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = docs.map { case (id, lang, source) =>
      val url =
        if (id % 13 == 0) s"https://freestuff-mirror.biz/$lang/item/$id"
        else if (id % 11 == 0) s"https://$source.example.org/casino/$lang/$id"
        else if (id % 17 == 0)
          s"https://$source.example.org/a/b/c/d/e/f/g/h/$id?session=$id&ref=$lang" +
            s"&utm_campaign=springsale2020&sort=price&page=${id % 40}"
        else s"https://$source.example.org/$lang/articles/$id"
      val domain = url.replaceAll("^https?://([^/]+)/.*$", "$1")
      val lastmod = f"2020-${1 + id % 12}%02d-${1 + id % 28}%02d"
      (domain, url, lastmod, ("0." + (1 + id % 9)).toDouble)
    }.groupBy(_._1).toSeq.flatMap { case (domain, g) =>
      g.sortBy(_._2).zipWithIndex.map { case ((_, url, lastmod, prio), i) =>
        (domain, (i / 5).toLong, (i % 5 + 1).toLong, url, lastmod, prio)
      }
    }.toSet
    assert(got.length === 500)
    assert(got.toSet === expected)
    // shard occupancy: positions within a shard are contiguous from 1
    got.groupBy(t => (t._1, t._2)).foreach { case (k, g) =>
      val ps = g.map(_._3).sorted
      assert(ps.length <= 5 && ps === (1L to ps.length).toArray.toSeq, s"$k")
    }
  }
}
