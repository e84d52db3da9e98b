package graft

/** Physical-plan audit: the properties SCALING.md claims must actually
  * appear in the executed plans (explain(formatted) inspection, pinned
  * as tests so regressions surface).
  */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q02 filter is pushed to the parquet scan and top-k uses TakeOrderedAndProject") {
    val p = plan("q02_filter_topk")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,48"),
      s"missing pushed filter in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$p")
  }

  test("q02 scan prunes columns to the 4 selected") {
    val p = plan("q02_filter_topk")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"))
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"),
      s"scan reads more columns than projected: $read")
  }

  test("q03 star join broadcasts the dimension tables") {
    val p = plan("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q01 aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial + final pair → the string appears at least twice
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"expected partial+final HashAggregate pair in:\n$p")
  }

  test("q21 minhash min-agg hash-aggregates (LONG hashes keep it out of SortAggregate)") {
    val p = plan("q21_minhash_lsh")
    assert(!p.contains("SortAggregate"),
      s"minhash min-agg fell back to SortAggregate (string buffers?):\n$p")
  }

  test("q48 non-equi band join is a broadcast nested-loop (fact side never shuffles)") {
    val p = plan("q48_range_band_join")
    assert(p.contains("BroadcastNestedLoopJoin"), s"no broadcast NLJ in:\n$p")
  }

  test("no query plans a cartesian product") {
    SparkEntry.allQueries.foreach { q =>
      val p = q.run(spark, sf).queryExecution.executedPlan.toString
      withClue(q.name) {
        assert(!p.contains("CartesianProduct"), s"cartesian product in ${q.name}")
      }
    }
  }

  test("q86 gram stream shares one exchange — the md5 explode runs once") {
    val df = SparkEntry.queries("q86_substring_dup_coverage")(spark, sf)
    df.collect() // finalize AQE — reuse stubs appear in the final plan
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"), s"no exchange reuse in q86:\n$fin")
    assert(fin.sliding("Generate".length).count(_ == "Generate") == 1,
      s"gram explode executes more than once in q86:\n$fin")
  }

  test("q88 bigram stream is checkpointed — the posexplode never re-executes") {
    val df = SparkEntry.queries("q88_lm_doc_score")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    // the explode ran once, in the checkpoint job; the query plan's
    // three consumers all scan the materialized RDD
    assert(!fin.contains("Generate"),
      s"bigram explode re-executes inside q88's plan:\n$fin")
    assert(fin.contains("Scan ExistingRDD"),
      s"q88 does not read the checkpointed bigram stream:\n$fin")
  }

  test("q93 token stream is checkpointed and both LM frames broadcast") {
    val df = SparkEntry.queries("q93_dsir_weight")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    // the posexplode ran once, in the checkpoint job; the three
    // consumers (target LM, source LM, scoring join) scan the RDD
    assert(!fin.contains("Generate"),
      s"token explode re-executes inside q93's plan:\n$fin")
    assert(fin.contains("Scan ExistingRDD"),
      s"q93 does not read the checkpointed token stream:\n$fin")
    assert(fin.contains("BroadcastHashJoin"),
      s"q93's bucket-LM join is not broadcast:\n$fin")
  }

  test("q94 gram stream is checkpointed — the explode+md5 runs once") {
    val df = SparkEntry.queries("q94_ngram_novelty")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("Generate"),
      s"bigram explode re-executes inside q94's plan:\n$fin")
    assert(fin.contains("Scan ExistingRDD"),
      s"q94 does not read the checkpointed gram frame:\n$fin")
    // the checkpoint keeps its bh layout, so neither consumer (the
    // first-owner agg, the join back) re-shuffles on bh
    val onBh = executedNodes(df).collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x.outputPartitioning
    }.collect {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
          if h.references.exists(_.name == "bh") => h
    }
    assert(onBh.isEmpty, s"q94 consumers re-shuffle the gram frame on bh:\n$fin")
  }

  test("q108 gram stream keeps its gh layout — no consumer re-shuffles on gh") {
    // the gh consumers (the ndocs/owner agg and the join back) run
    // eagerly, inside the interval frame's checkpoint, so their plans
    // are read off every execution the query's build makes
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q108_exactsubstr_removal")(spark, sf).collect()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(!plans.isEmpty)
    // the one gh exchange that builds the layout is a REPARTITION_BY_NUM;
    // a consumer's re-shuffle would be an ENSURE_REQUIREMENTS one
    val onGh = plans.asScala.toSeq.flatMap(executedNodes).collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if x.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS =>
        x.outputPartitioning
    }.collect {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
          if h.references.exists(_.name == "gh") => h
    }
    assert(onGh.isEmpty, s"q108 consumers re-shuffle the gram frame on gh: $onGh")
  }

  test("q95 scoring side joins broadcast (terms-row idf + 2-scalar stats)") {
    val df = SparkEntry.queries("q95_bm25")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert(fin.contains("BroadcastHashJoin"),
      s"q95's idf join is not broadcast:\n$fin")
    assert(fin.contains("BroadcastNestedLoopJoin") || fin.contains("BroadcastHashJoin"),
      s"q95's corpus-stats join is not broadcast:\n$fin")
  }

  test("q98 profiles all columns in ONE scan (narrow unpivot, no rescans)") {
    val p = plan("q98_table_profile")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"q98 scans the table more than once:\n$p")
    assert(!p.contains("Expand"),
      s"q98 regressed to the wide multi-distinct Expand plan:\n$p")
  }

  test("runtime bloom filter reaches the fact side of a selective shuffle join") {
    // the at-scale posture for dim-fact joins whose dim side is
    // selective but too big to broadcast: AQE injects a bloom filter
    // from the dim side's filtered build into the fact scan, pruning
    // shuffle input. Locally every dim broadcasts (the thresholds are
    // sized for clusters), so this pins the CONFIGURED behavior:
    // thresholds to zero, broadcast off → the filter must appear.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creationSideThreshold is a MAX (build side must be small
      // enough); applicationSideScanSizeThreshold is a MIN (fact side
      // must be big enough — 10GB default, zeroed for the fixture)
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val dir = sf
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select($"l_orderkey", $"l_quantity")
      val joined = li.join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q119/q121/q124/q126 plan with NO window operator (the scale-defining choice)") {
    // q119: cutoff VALUES broadcast into a CASE, never a per-language
    // rank; q121: ops.GlobalRank, never row_number() over the corpus;
    // q124: five hash joins against count tables; q126: join+agg
    // Pregel rounds. A Window appearing in any of these plans means
    // the corpus-window formulation crept back in.
    Seq("q119_ppl_buckets", "q121_shard_assign",
      "q124_stupid_backoff", "q126_label_prop").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Window"), s"$n regressed to a window plan:\n$p")
    }
  }

  test("q119 assigns buckets through a broadcast of the cutoff frame") {
    val p = plan("q119_ppl_buckets")
    assert(p.contains("BroadcastHashJoin"), s"cutoffs not broadcast:\n$p")
  }

  test("whole-stage codegen covers the scan-side of the hot queries") {
    Seq("q01_pricing_summary", "q15_wordcount", "q26_token_stats").foreach { n =>
      // AQE prints codegen stages only in the finalized plan → execute first
      val df = SparkEntry.queries(n)(spark, sf)
      df.collect() // executes *this* plan, finalizing AQE
      val p = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Operator" in the plan string
      assert(p.contains("*(1)"), s"$n fell out of whole-stage codegen:\n$p")
    }
  }
}
