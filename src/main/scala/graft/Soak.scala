package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale soak: run the named queries ONCE each at a larger scale
  * factor, recording wall seconds, shuffle read/write bytes, and
  * memory/disk spill — the first empirical datapoint behind
  * SCALING.md's extrapolations (round-9 verdict ask #7: any
  * super-linear blowup from sf0.1 must be named with its stage).
  *
  * `runMain graft.Soak <sfDir> <outJson> [q1,q2,...]` — defaults to
  * the round-9 top-10 most expensive operators.
  *
  * Soak data: [[buildScaled]] (`runMain graft.Soak build <srcSf>
  * <destDir> <k>`) replicates a driver-generated documents table k×
  * with doc_id offsets that are multiples of 3800 =
  * lcm(4, 8, 10, 19, 25) — every doc_id-modulus convention in the
  * registry (drop side `% 10`, eval set `% 19`, anchors `% 25`,
  * batch splits `% 4` / `% 8`) keeps its
  * proportions — and a per-replica text salt PREFIX so replicas are
  * near-dup-shaped rather than exact clones (an exact 10-way clone of
  * every document would flood the LSH buckets with degenerate
  * all-pairs mass no real 10× corpus has; a salted prefix shifts
  * winnow positions and minhash prefixes the way fresh text does).
  */
object Soak {

  val Top10: Seq[String] = Seq(
    "q131_contrastive_triplets", "q86_substring_dup_coverage",
    "q107_incremental_winnow", "q108_exactsubstr_removal",
    "q105_incremental_clusters", "q100_curation_pipeline",
    "q129_lex_search", "q85_dedup_apply", "q38_simhash_pairs",
    "q94_ngram_novelty")

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Replicate `srcSf/documents.parquet` k× into
    * `destDir/documents.parquet` (see scaladoc for the salt/offset
    * contract). Other tables are copied by reference only if a soak
    * query needs them — the top-10 set reads documents only.
    */
  def buildScaled(spark: SparkSession, srcSf: String, destDir: String, k: Int): Unit = {
    val docs = spark.read.parquet(s"$srcSf/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    // lcm(4, 8, 10, 25, 19) = 3800: the 19 covers q137/q141's eval-set
    // convention (doc_id % 19 = 7) — an offset that shifts residues
    // mod 19 would turn salted replicas of eval docs into corpus docs
    // and flood the decontam queries with artificial collisions
    val offset = ((maxId / 3800) + 1) * 3800
    val scaled = (0 until k).map { r =>
      if (r == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(r * offset))
        .withColumn("text", concat(lit(s"rep$r salt "), col("text")))
    }.reduce(_ unionByName _)
    scaled.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")
  }

  /** GENERATED soak corpus at a stated, realistic dup density — the
    * answer to the replica corpus's known artifact: replication gives
    * every doc k−1 near-clones, so pair-producing queries inflate
    * output ~k²/2 (a synthetic clique no real 10× corpus has) and
    * their soak ratios measure output explosion, not plan scaling.
    * Here every document is FRESH text from the source corpus's own
    * 31-word vocabulary and 10–100-token length band, with dup
    * structure planted per 20-doc block by deterministic role:
    *
    *  - i%20==1 → exact clone of doc i−1 (one exact pair / block);
    *  - i%20∈{3,4} → one-word edits of the doc at block position 2
    *    (i−1 for role 3, i−2 for role 4 — a near-dup TRIPLE
    *    {pos 2, 3, 4}: 3 pairs);
    *  - i%20==6 → one-word edit of doc i−1, the fresh doc at block
    *    position 5 (one near-dup pair);
    *
    * → 20% of docs sit in a dup cluster, cluster sizes 2–3, ~0.25
    * pairs/doc — LINEAR in corpus size (web-crawl dedup literature
    * reports 20–45% dup membership; the driver corpus's own density
    * is ~0.05 pairs/doc, so this is a deliberately dup-heavy but
    * cluster-bounded operating point, stated so ratios are
    * attributable).
    *
    * Vocabulary follows HEAPS' LAW, the second replica artifact this
    * build removes: a fixed 31-word vocabulary makes every trigram's
    * df grow LINEARLY with the corpus, so prefix-filter candidate
    * fanout goes quadratic and simhash fingerprints collide at
    * random — artifacts of the vocabulary, not the plans (measured on
    * the fixed-vocab variant: q161 shuffle 47× at 10× data, q38 pairs
    * 102×). Real corpora grow vocabulary ~N^0.5, keeping rare-token
    * df bounded; here 75% of tokens draw from the source corpus's own
    * 31 core words and 25% from a deterministic a-z long tail of size
    * ⌈4·√N⌉, so tail-token (and tail-containing-trigram) df stays
    * O(√N)-bounded and the rarest-prefix discipline PPJoin relies on
    * exists, as it does in real text.
    *
    * A dup of doc j is generated WITHOUT reading j:
    * text is a pure function of the root id (hash-seeded RNG), so the
    * variant re-derives the root's tokens and edits one — the build
    * is a single embarrassingly-parallel pass, no joins. lang/source
    * are sampled from the source corpus's own joint (lang, source)
    * distribution — collected WITH counts (|langs| × |sources| driver
    * rows, never one row per source doc) and expanded through the
    * cumulative weights at (i mod |src|) — and sequential doc_ids
    * keep every modulus convention's residue classes uniform.
    */
  def buildGenerated(spark: SparkSession, srcSf: String, destDir: String, k: Int): Unit = {
    import spark.implicits._
    val src = spark.read.parquet(s"$srcSf/documents.parquet")
    val vocab = src
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").distinct().orderBy("w")
      .collect().map(_.getString(0))
    // the joint (lang, source) distribution with COUNTS — bounded by
    // |langs| × |sources| rows in driver memory, NOT one row per
    // source doc (the per-row collect scaled O(|src|) in the driver
    // if pointed at a larger srcSf); the weighted expansion below
    // reproduces the exact distribution deterministically
    val metaCounts = src.groupBy("lang", "source").count()
      .orderBy("lang", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val srcRows = metaCounts.map(_._3).sum
    val metaCum = metaCounts.scanLeft(0L)(_ + _._3).tail
    val n = srcRows * k
    val tailSize = math.max(31, (4.0 * math.sqrt(n.toDouble)).toInt)
    val bcV = spark.sparkContext.broadcast(vocab)
    val bcM = spark.sparkContext.broadcast((metaCounts.map(t => (t._1, t._2)), metaCum))
    // deterministic all-lowercase tail word (every tokenizer in the
    // registry splits on [^a-z]+ — digits would vanish)
    def tailWord(z: Int): String = {
      val sb = new StringBuilder("zz")
      var r = z
      do { sb.append(('a' + r % 26).toChar); r /= 26 } while (r > 0)
      sb.toString
    }
    def freshTokens(id: Long): Array[String] = {
      val v = bcV.value
      val rng = new scala.util.Random(id * 2654435761L + 13L)
      Array.fill(10 + rng.nextInt(91)) {
        if (rng.nextInt(4) > 0) v(rng.nextInt(v.length))
        else tailWord(rng.nextInt(tailSize))
      }
    }
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { i =>
        val role = (i % 20L).toInt
        val toks: Array[String] = role match {
          case 1 => freshTokens(i - 1) // exact clone
          case 3 | 4 | 6 =>
            // one-word edit of the role's base (3,4 → block position
            // 2, the triple; 6 → position 5, the pair); the rotated
            // pick guarantees the replacement differs from the
            // original, so a "near-dup" can never silently be exact
            val t = freshTokens(if (role == 6) i - 1 else i - (role - 2))
            val rng = new scala.util.Random(i * 40503L + 7L)
            val v = bcV.value
            val p = rng.nextInt(t.length)
            t.updated(p,
              v((v.indexOf(t(p)) + 1 + rng.nextInt(v.length - 1)) % v.length))
          case _ => freshTokens(i)
        }
        val text = toks.mkString(" ")
        // weighted pick: position (i mod srcRows) through the
        // cumulative counts ≡ the i-th row of the sorted source
        // distribution — same joint frequencies, |groups|-sized state
        val (pairs, cum) = bcM.value
        val j = i % cum.last
        var lo = 0
        var hi = cum.length - 1
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (j < cum(mid)) hi = mid else lo = mid + 1
        }
        val (lang, source) = pairs(lo)
        (i, text, lang, source, text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")
    // embeddings scale by REPLICATION (vec_id offset; vectors and
    // labels unchanged): the vector queries' soak subjects are the
    // n·k expansion / agg plans, and replicated points change every
    // histogram count by exactly k — ratios stay attributable. (The
    // generated-text trick has no embedding analog: fresh random
    // vectors would move centroids and make 1× vs 10× outputs
    // incomparable.)
    val emb = spark.read.parquet(s"$srcSf/embeddings.parquet")
    val maxVecRow = emb.agg(max(col("vec_id"))).head()
    // max() of an empty table is NULL; getLong on it is an opaque NPE
    require(!maxVecRow.isNullAt(0),
      s"$srcSf/embeddings.parquet is empty — nothing to replicate")
    val vecOff = maxVecRow.getLong(0) + 1
    (0 until k).map { r =>
      if (r == 0) emb
      else emb.withColumn("vec_id", col("vec_id") + lit(r * vecOff))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "build") {
      val spark = session()
      buildScaled(spark, args(1), args(2), args(3).toInt)
      println(s"[soak] built ${args(2)} at ${args(3)}x of ${args(1)}")
      spark.stop()
      return
    }
    if (args.nonEmpty && args(0) == "gen") {
      val spark = session()
      buildGenerated(spark, args(1), args(2), args(3).toInt)
      println(s"[soak] generated ${args(2)} at ${args(3)}x scale of ${args(1)}")
      spark.stop()
      return
    }
    val sfDir = args(0)
    val outJson = args(1)
    val names = if (args.length > 2) args(2).split(",").toSeq else Top10
    val spark = session()
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    def drain(): Unit = org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)

    // warm scan planning once so the first query doesn't absorb it
    spark.read.parquet(s"$sfDir/documents.parquet").count()

    val rows = names.map { n =>
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      drain()
      val (sr0, sw0, ms0, ds0) =
        (shufRead.get(), shufWrite.get(), memSpill.get(), diskSpill.get())
      val t0 = System.nanoTime()
      // FULL-plan consumption (toRdd.count, not Dataset.count): a bare
      // count() lets Catalyst prune every output column — a map-only
      // verdict frame or a window-bearing dedup (q215) would soak a
      // plan with its actual work optimized away and read as
      // zero-shuffle. toRdd materializes every output column through
      // every operator, so the recorded sec/shuffle/spill are the
      // numbers the real consumer (a writer) would pay. NOTE: r15+
      // soak absolutes are therefore NOT comparable with ≤r14 soak
      // artifacts (which were count-pruned).
      val outcome =
        try {
          Right(graft.ops.Checkpoints.scope(
            SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()))
        }
        catch { case e: Throwable => Left(e.toString.take(200)) }
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      // full JSON string escaping: Spark exception messages routinely
      // carry newlines and backslashes (multi-line plan fragments) —
      // a raw embed would corrupt the artifact exactly when the error
      // field matters
      def jstr(s: String): String =
        "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      val m = Map(
        "sec" -> Bench.fmt(sec, "%.3f"),
        "shuffle_read_b" -> (shufRead.get() - sr0).toString,
        "shuffle_write_b" -> (shufWrite.get() - sw0).toString,
        "mem_spill_b" -> (memSpill.get() - ms0).toString,
        "disk_spill_b" -> (diskSpill.get() - ds0).toString,
        "rows" -> outcome.fold(_ => "null", _.toString),
        "error" -> outcome.fold(e => jstr(e), _ => "null"))
      System.err.println(s"[soak] $n: ${m("sec")}s rows=${m("rows")} " +
        s"shufW=${m("shuffle_write_b")} spillD=${m("disk_spill_b")}")
      n -> m
    }
    val json = rows.map { case (n, m) =>
      "\"" + n + "\":{" + m.map { case (k, v) =>
        "\"" + k + "\":" + v
      }.mkString(",") + "}"
    }.mkString(s"""{"sf":"$sfDir","queries":{""", ",", "}}")
    Files.writeString(Paths.get(outJson), json + "\n")
    println(s"[soak] wrote $outJson")
    spark.stop()
  }
}
