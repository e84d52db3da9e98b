package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's single data abstraction: an untyped key-value pair
  * (`common/src/lib.rs:58-64`). Values are raw bytes; every workload
  * parses them itself (schema-on-read).
  */
final case class KeyValue(key: Array[Byte], value: Array[Byte]) {
  def keyString: String = new String(key, UTF_8)
  def valueString: String = new String(value, UTF_8)
}

object KeyValue {
  def utf8(key: String, value: String): KeyValue =
    KeyValue(key.getBytes(UTF_8), value.getBytes(UTF_8))
}

/** A user program: a map function (1 record → n records, lazy iterator —
  * `common/src/lib.rs:21-34`) and a reduce function (key + value iterator
  * → one output blob — `common/src/lib.rs:39-43`). `aux` carries the
  * CLI's trailing `-- args` (`mrl-ctl/src/args.rs:50-52`).
  *
  * `combineFn`, when set, folds two values of one key into one on the
  * map side before the shuffle (Dean & Ghemawat §4.3). It must be
  * associative and commutative, and `reduceFn(k, vs)` must equal
  * `reduceFn(k, vs')` where `vs'` is `vs` combined in any grouping:
  * the runtime folds an arbitrary subset of a key's values per map
  * task, in arbitrary order, and may leave several partial values.
  */
final case class Workload(
    mapFn: (KeyValue, Seq[String]) => Iterator[KeyValue],
    reduceFn: (Array[Byte], Iterator[Array[Byte]], Seq[String]) => Array[Byte],
    combineFn: Option[(Array[Byte], Array[Byte]) => Array[Byte]] = None)

/** Spark-native MapReduce runtime with the reference's dataflow
  * (`source → map → hash-partition → group-by-key → reduce → sink`,
  * SURVEY.md §2.2) expressed as a typed Dataset pipeline:
  *
  *   wholetext scan → flatMap(mapFn) → [per-task combine] →
  *   groupByKey(key bytes) → mapGroups(reduceFn) → text sink
  *
  * The combine step runs only for workloads that declare a
  * `combineFn`. It diverges from the reference, whose map side ships
  * every mapped record uncombined (`mrl-worker/src/map.rs:119-130`);
  * the reduce output is the same by the combiner's contract, only
  * fewer records cross the shuffle. Its per-task table is flushed at a
  * fixed byte ceiling, so it never holds more than that much of a
  * task's output in memory.
  *
  * Spark supplies everything the reference hand-rolls: hash shuffle
  * (F2-F3), external sort + spill (F4), streaming per-key grouping (F5),
  * straggler speculation (F10), heartbeats/retries (F11-F13), temp
  * cleanup (F14). Unlike the reference's map side (an unbounded
  * in-memory DashMap, `mrl-worker/src/map.rs:105-130`), Spark's shuffle
  * spills — this surface survives inputs ≫ RAM.
  */
object MapReduce {

  implicit val kvEncoder: Encoder[KeyValue] = Encoders.product[KeyValue]
  implicit val bytesEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  private implicit val pairEncoder: Encoder[(Array[Byte], Array[Byte])] =
    Encoders.tuple(Encoders.BINARY, Encoders.BINARY)

  /** Key plus value bytes the per-task combine table may hold before it
    * is emitted and cleared. A memory bound, not a speed setting: it
    * keeps the map side within a fixed footprint on inputs ≫ RAM, and
    * a table that never reaches it is emitted once, at the end of the
    * task.
    */
  private val CombineCeilingBytes = 32L << 20

  /** Folds one map task's records per key bytes (`ByteBuffer` compares
    * contents), emitting the table at the ceiling and at the end.
    */
  private def combineTask(
      records: Iterator[KeyValue],
      combine: (Array[Byte], Array[Byte]) => Array[Byte]): Iterator[KeyValue] =
    Iterator.continually(records).takeWhile(_.hasNext).flatMap { rs =>
      val table = new java.util.HashMap[ByteBuffer, Array[Byte]]()
      var bytes = 0L
      while (rs.hasNext && bytes < CombineCeilingBytes) {
        val kv = rs.next()
        val k = ByteBuffer.wrap(kv.key)
        val prev = table.get(k)
        val v = if (prev == null) kv.value else combine(prev, kv.value)
        table.put(k, v)
        bytes += (if (prev == null) kv.key.length + v.length else v.length - prev.length)
      }
      table.asScala.iterator.map { case (k, v) => KeyValue(k.array, v) }
    }

  /** Whole-file record framing: one KeyValue per file, key = file name,
    * value = file bytes (`mrl-worker/src/map.rs:113-118`,
    * `standalone/src/engine.rs:36-39`).
    */
  def wholeFileRecords(spark: SparkSession, inputGlob: String): Dataset[KeyValue] = {
    import spark.implicits._
    spark.read.format("text").option("wholetext", "true")
      .load(inputGlob)
      .select(input_file_name().as("file"), $"value")
      .as[(String, String)]
      .map { case (file, content) =>
        val base = file.substring(file.lastIndexOf('/') + 1)
        KeyValue.utf8(base, content)
      }
  }

  /** The core dataflow on an arbitrary KeyValue dataset. Grouping
    * compares key *bytes* (the typed encoder makes Array[Byte] a
    * BinaryType column, so the shuffle groups by value, not reference).
    *
    * `numPartitions` plays the reference's `n_reduce` role for the
    * OUTPUT partition/file count; the grouping shuffle itself is sized
    * by spark.sql.shuffle.partitions / AQE. (Repartitioning the map
    * output by key before groupByKey would not be recognized by the
    * grouping's own requirement — lambda-derived key attribute — and
    * just paid an extra full shuffle of every mapped record.)
    */
  def run(
      w: Workload,
      input: Dataset[KeyValue],
      aux: Seq[String] = Nil,
      numPartitions: Int = 0): Dataset[Array[Byte]] = {
    val mapped = w.combineFn match {
      case Some(c) => input.mapPartitions(p => combineTask(p.flatMap(w.mapFn(_, aux)), c))
      case None => input.flatMap(kv => w.mapFn(kv, aux))
    }
    val reduced = mapped
      .groupByKey(_.key)
      .mapGroups((key, kvs) => w.reduceFn(key, kvs.map(_.value), aux))
    if (numPartitions > 0) reduced.repartition(numPartitions) else reduced
  }

  /** Full job: glob → map/reduce → newline-text sink (the reference's
    * output is always newline-delimited text composed by the reduce
    * function, e.g. `workload/src/wc.rs:41`).
    */
  def runWorkload(
      spark: SparkSession,
      workloadName: String,
      inputGlob: String,
      outputDir: String,
      aux: Seq[String] = Nil,
      numPartitions: Int = 0): Unit = {
    val w = WorkloadRegistry.named.getOrElse(
      workloadName,
      throw new IllegalArgumentException(
        s"unknown workload '$workloadName'; known: ${WorkloadRegistry.named.keys.mkString(", ")}"))
    val out = run(w, wholeFileRecords(spark, inputGlob), aux, numPartitions)
    writeText(out, outputDir)
  }

  /** Reduce outputs are byte blobs that are text lines by convention;
    * strip one trailing newline so the text sink's own newline doesn't
    * double it.
    */
  def writeText(ds: Dataset[Array[Byte]], outputDir: String): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(b => new String(b, UTF_8).stripSuffix("\n"))
      .filter(_.nonEmpty)
      .write.mode("overwrite").text(outputDir)
  }
}
