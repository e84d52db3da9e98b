package graft

import graft.streaming.StreamRecrawl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** streaming.StreamRecrawl: the incremental schedule equals the
  * oracle-checked q229 batch estimator over the full history
  * (including changes landing exactly on batch boundaries), replayed
  * batches skip, crash replay converges bit-identically, empty batches
  * advance the marker, and an out-of-order day fails loudly before any
  * write.
  */
class StreamRecrawlSpec extends SparkSuite {

  private def df(rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "day", "fp")
  }

  /** The batch-mode q229 aggregate over a full history — literally
    * the production fold ([[graft.queries.Maintenance
    * .scheduleFromFetches]]), so the equivalence target can never
    * drift from it. */
  private def batchSchedule(rows: Seq[(String, Long, String)]): Set[Row8] =
    graft.queries.Maintenance.scheduleFromFetches(df(rows))
      .collect().map(Row8.of).toSet

  private type Row8 = (String, Long, Long, Long, Long, Long, Long, Long)
  private object Row8 {
    def of(r: org.apache.spark.sql.Row): Row8 =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
  }

  // u: changes at the b0→b1 boundary AND inside b1; v: never changes;
  // x: appears only in b1 (new url mid-stream)
  private val b0 = Seq(("u", 0L, "A"), ("u", 2L, "A"), ("v", 0L, "K"))
  private val b1 = Seq(("u", 5L, "B"), ("u", 9L, "C"), ("v", 7L, "K"),
    ("x", 6L, "P"))
  private val b2 = Seq(("v", 30L, "K"), ("x", 8L, "Q"))

  test("incremental ≡ batch estimator, incl. boundary changes; replay; crash; empty") {
    val root = java.nio.file.Files.createTempDirectory("srecrawl").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")

    assert(StreamRecrawl.processBatch(spark, df(b0), stateDir, outDir, 0L))
    assert(StreamRecrawl.processBatch(spark, df(b1), stateDir, outDir, 1L))
    assert(StreamRecrawl.processBatch(spark, df(b2), stateDir, outDir, 2L))

    val want = batchSchedule(b0 ++ b1 ++ b2)
    def got(): Set[Row8] =
      StreamRecrawl.schedule(spark, stateDir).collect().map(Row8.of).toSet
    assert(got() === want)
    // the boundary change (u: A@2 in b0 → B@5 in b1) counted exactly once
    val u = want.find(_._1 == "u").get
    assert(u._3 === 2L, "u has exactly two changes: A→B (boundary), B→C")
    assert(want.find(_._1 == "v").get._3 === 0L)

    // replayed batch is a no-op
    assert(!StreamRecrawl.processBatch(spark, df(b1), stateDir, outDir, 1L))
    assert(got() === want)

    // crash: batch 2's children written but the marker never advanced —
    // the replay must converge bit-identically
    graft.streaming.Maintainer.writeCommitted(spark, s"$stateDir/fetch", 1L)
    assert(StreamRecrawl.processBatch(spark, df(b2), stateDir, outDir, 2L))
    assert(got() === want)

    // empty batch advances the marker without children
    assert(!StreamRecrawl.processBatch(spark, df(Seq.empty), stateDir, outDir, 3L))
    assert(StreamRecrawl.processBatch(spark,
      df(Seq(("u", 11L, "C"))), stateDir, outDir, 4L))
    assert(got() === batchSchedule(b0 ++ b1 ++ b2 ++ Seq(("u", 11L, "C"))))

    // per-batch output child carries the updated schedule for touched urls
    val sched4 = spark.read.parquet(s"$outDir/sched/b4").collect().map(Row8.of)
    assert(sched4.map(_._1).toSet === Set("u"))
    assert(sched4.toSet.subsetOf(got()))
  }

  test("out-of-order arrival fails loudly before any write") {
    val root = java.nio.file.Files.createTempDirectory("srecrawl2").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    assert(StreamRecrawl.processBatch(spark,
      df(Seq(("u", 10L, "A"))), stateDir, outDir, 0L))
    val ex = intercept[IllegalStateException] {
      StreamRecrawl.processBatch(spark,
        df(Seq(("u", 9L, "B"))), stateDir, outDir, 1L)
    }
    assert(ex.getMessage.contains("day <= committed last_day"))
    // nothing was written: state and schedule are unchanged
    assert(StreamRecrawl.state(spark, stateDir).count() === 1)
    assert(!new java.io.File(s"$outDir/sched/b1").exists())
  }

  test("same-day fetches of one url within a batch fail loudly before any write") {
    val root = java.nio.file.Files.createTempDirectory("srecrawl3").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    val ex = intercept[IllegalStateException] {
      StreamRecrawl.processBatch(spark,
        df(Seq(("u", 5L, "A"), ("u", 5L, "B"), ("v", 1L, "K"))),
        stateDir, outDir, 0L)
    }
    assert(ex.getMessage.contains("multiple fetches"))
    assert(StreamRecrawl.state(spark, stateDir).count() === 0)
    assert(!new java.io.File(s"$outDir/sched/b0").exists())
  }
}
