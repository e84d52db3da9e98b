package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.ops.{BlockState, Checkpoints, WinnowState}
import graft.streaming._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The exactly-once trigger skeleton ([[Maintainer]]) on its own, then
  * a crash-replay table over the maintainers that ingest document rows:
  * two triggers, rewind the marker, replay — every state and output
  * child must come back with the same sorted rows.
  */
class MaintainerSpec extends SparkSuite {

  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** No persisted RDD beyond `before` — compared as "nothing added"
    * because the ContextCleaner may drop an older suite's entry at any
    * time, never add one.
    */
  private def assertNoneAdded(before: Set[Int], clue: String): Unit =
    assert((persisted -- before).isEmpty, clue)

  private def checkpointIds(ds: Dataset[_]): Seq[Int] =
    ds.queryExecution.logical.collectLeaves().collect { case lr: LogicalRDD => lr.rdd.id }

  private def md5(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  /** A child's part files by content — names carry a per-write UUID. */
  private def partDigests(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map((p: JPath) => md5(Files.readAllBytes(p))).toSeq.sorted

  private def rowDigest(df: DataFrame): String =
    md5(df.collect().map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))

  /** Sorted-row digest of every child directory under `roots`. */
  private def children(roots: Seq[String]): Map[String, String] = {
    val fs = new Path(roots.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    roots.flatMap { root =>
      fs.listStatus(new Path(root)).filter(_.isDirectory).map { st =>
        s"$root/${st.getPath.getName}" -> rowDigest(spark.read.parquet(st.getPath.toString))
      }
    }.toMap
  }

  test("once: replays skip, empty batches advance, failures release, replays rewrite") {
    val root = Files.createTempDirectory("maintainer").toString
    val guard = s"$root/state"
    val batch = spark.range(0, 40).toDF("id").withColumn("v", col("id") * 3)
    var runs = 0
    def child(id: Long): Unit = {
      runs += 1
      Checkpoints.local(batch).write.mode("overwrite").parquet(s"$root/out/b$id")
    }

    assert(Maintainer.committedBatch(spark, guard) === -1L)
    assert(Maintainer.once(batch, guard, 0L)(child(0L)))
    assert(Maintainer.committedBatch(spark, guard) === 0L)

    // a replay at the marker is a no-op: the body never runs
    assert(!Maintainer.once(batch, guard, 0L)(child(0L)))
    assert(runs === 1)

    // an empty batch advances the marker without running the body
    val empty = batch.filter(lit(false))
    assert(!Maintainer.once(empty, guard, 1L)(child(1L)))
    assert(runs === 1)
    assert(Maintainer.committedBatch(spark, guard) === 1L)

    // a body that throws releases what it checkpointed, and the marker stays
    val before = persisted
    var pinned = Seq.empty[Int]
    intercept[IllegalStateException] {
      Maintainer.once(batch, guard, 2L) {
        pinned = Seq(Checkpoints.local(batch), Checkpoints.local(batch.filter(col("id") > 3)))
          .flatMap(checkpointIds)
        assert(pinned.forall(persisted.contains), "local must register its checkpoint")
        throw new IllegalStateException("trigger failed")
      }
    }
    assert(pinned.size === 2)
    assertNoneAdded(before, "a failed trigger leaked its checkpoints")
    assert(Maintainer.committedBatch(spark, guard) === 1L)
    assert(!Files.exists(Paths.get(s"$root/out/b2")))

    // rewinding the marker and replaying rewrites a bit-identical child
    assert(Maintainer.once(batch, guard, 2L)(child(2L)))
    val first = partDigests(s"$root/out/b2")
    assert(first.nonEmpty)
    Maintainer.writeCommitted(spark, guard, 1L)
    assert(Maintainer.once(batch, guard, 2L)(child(2L)))
    assert(partDigests(s"$root/out/b2") === first)
    assert(Maintainer.committedBatch(spark, guard) === 2L)
    assertNoneAdded(before, "a successful trigger kept its checkpoints")
  }

  test("a failing StreamScd2 trigger releases its checkpoints and keeps the marker") {
    import spark.implicits._
    val state = Files.createTempDirectory("maintainer-scd2").toString
    val ok = Seq((1L, "a", "en", "s", "upsert")).toDF("doc_id", "text", "lang", "source", "op")
    assert(StreamScd2.processBatch(spark, ok, state, batchId = 0L))
    val dup = Seq((1L, "a", "en", "s", "upsert"), (1L, "b", "en", "s", "upsert"))
      .toDF("doc_id", "text", "lang", "source", "op")
    val before = persisted
    intercept[IllegalArgumentException] {
      StreamScd2.processBatch(spark, dup, state, batchId = 1L)
    }
    assertNoneAdded(before, "the failed trigger leaked its pinned batch")
    assert(Maintainer.committedBatch(spark, s"$state/state") === 0L)
  }

  /** One document-fed maintainer: its trigger, marker and child roots. */
  private case class Case(
      name: String,
      setup: String => Unit,
      trigger: (String, DataFrame, Long) => Boolean,
      guard: String => String,
      roots: String => Seq[String])

  private def docs = spark.read.parquet(docsPath)
    .select(col("doc_id"), col("text"), col("lang"), col("source"))

  private val corpus = col("doc_id") < 200
  private val batches = Seq(
    col("doc_id") >= 200 && col("doc_id") < 350,
    col("doc_id") >= 350)

  private val cases = Seq(
    Case("StreamCuration", _ => (),
      (d, b, id) => StreamCuration.processBatch(spark, b, s"$d/state", s"$d/out", id),
      d => s"$d/state/state",
      d => Seq(s"$d/state/bands", s"$d/state/sets", s"$d/state/fps", s"$d/out")),
    Case("StreamAnchors", _ => (),
      (d, b, id) => StreamAnchors.processBatch(spark,
        b.select("doc_id", "lang", "source"), d, id),
      d => s"$d/agg",
      d => Seq(s"$d/agg")),
    Case("StreamBlock",
      d => BlockState.save(docs.filter(corpus).select("doc_id", "text"), s"$d/state"),
      (d, b, id) => StreamBlock.cleanBatch(b.select("doc_id", "text"),
        s"$d/state", s"$d/out", id),
      d => s"$d/state/blocks",
      d => Seq(s"$d/state/blocks", s"$d/out")),
    Case("StreamWinnow",
      d => WinnowState.save(docs.filter(corpus).select(col("doc_id"), col("text").as("t")),
        s"$d/state", w = 8),
      (d, b, id) => StreamWinnow.scoreBatch(
        b.select(col("doc_id"), col("text").as("t")), s"$d/state", s"$d/out", id, 8),
      d => s"$d/state/fps",
      d => Seq(s"$d/state/fps", s"$d/out")),
    Case("StreamScd2", _ => (),
      (d, b, id) => StreamScd2.processBatch(spark, b.withColumn("op", lit("upsert")), d, id),
      d => s"$d/state",
      d => Seq(s"$d/records")))

  cases.foreach { c =>
    test(s"${c.name}: rewind the marker after two triggers, replay, children unchanged") {
      val d = Files.createTempDirectory(s"maintainer-${c.name}").toString
      c.setup(d)
      batches.zipWithIndex.foreach { case (f, i) =>
        assert(c.trigger(d, docs.filter(f), i.toLong), s"trigger $i did not run")
      }
      val want = children(c.roots(d))
      assert(want.size >= c.roots(d).size, s"no children written: $want")
      Maintainer.writeCommitted(spark, c.guard(d), 0L)
      assert(c.trigger(d, docs.filter(batches(1)), 1L), "replay did not run")
      assert(Maintainer.committedBatch(spark, c.guard(d)) === 1L)
      assert(children(c.roots(d)) === want)
    }
  }
}
