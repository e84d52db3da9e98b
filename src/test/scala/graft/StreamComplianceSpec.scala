package graft

import graft.streaming.StreamCompliance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** streaming.StreamCompliance: the incremental per-domain report
  * equals the oracle-checked q234 batch audit over the same fetch
  * history, unjudgeable fetches are counted loudly instead of dropped,
  * replayed batches skip, crash replay converges, and empty batches
  * advance the marker.
  */
class StreamComplianceSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private type Row7 = (String, Long, Long, Long, Long, String, Long)
  private def row7(r: org.apache.spark.sql.Row): Row7 =
    (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getString(5), r.getLong(6))

  test("incremental ≡ q234 batch audit; unjudged counted; replay; crash; empty") {
    val root = java.nio.file.Files.createTempDirectory("scompliance").toString
    val stateDir = s"$root/state"
    val docs = graft.Sql.table(spark, dir, "documents")
    val verdicts = graft.queries.Mining.robotsVerdicts(spark, dir)
      .localCheckpoint()
    val fetches = graft.queries.Maintenance.fetchSynth(docs).localCheckpoint()

    // three day-sliced batches cover the whole history exactly once
    val b0 = fetches.filter("day <= 2")
    val b1 = fetches.filter("day > 2 AND day <= 9")
    val b2 = fetches.filter("day > 9")
    assert(StreamCompliance.processBatch(spark, b0, verdicts, stateDir, 0L))
    assert(StreamCompliance.processBatch(spark, b1, verdicts, stateDir, 1L))
    assert(StreamCompliance.processBatch(spark, b2, verdicts, stateDir, 2L))

    val want = SparkEntry.queries("q234_compliance_audit")(spark, dir)
      .collect().map(row7).toSet
    def got(): Set[Row7] =
      StreamCompliance.report(spark, stateDir).collect().map(row7).toSet
    assert(got() === want)
    assert(StreamCompliance.unjudged(spark, stateDir) === 0L)

    // replayed batch is a no-op
    assert(!StreamCompliance.processBatch(spark, b1, verdicts, stateDir, 1L))
    assert(got() === want)

    // crash: batch 2's child written but the marker never advanced —
    // the replay must converge bit-identically (idempotent overwrite)
    graft.streaming.Maintainer.writeCommitted(spark, s"$stateDir/audit", 1L)
    assert(StreamCompliance.processBatch(spark, b2, verdicts, stateDir, 2L))
    assert(got() === want)

    // a fetch outside the verdict universe is COUNTED, never dropped,
    // and leaves the per-domain report untouched
    import spark.implicits._
    val alien = Seq(("https://unknown.example.nowhere/x", 99L, "Z"))
      .toDF("url", "day", "fp")
    assert(StreamCompliance.processBatch(spark, alien, verdicts, stateDir, 3L))
    assert(StreamCompliance.unjudged(spark, stateDir) === 1L)
    assert(got() === want)

    // empty batch advances the marker without children
    assert(!StreamCompliance.processBatch(spark,
      fetches.filter("day < 0"), verdicts, stateDir, 4L))
    assert(!StreamCompliance.processBatch(spark, b0, verdicts, stateDir, 4L))

    verdicts.unpersist(); fetches.unpersist()
  }
}
