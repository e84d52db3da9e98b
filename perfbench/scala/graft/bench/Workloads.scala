package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Sql}
import graft.core.MapReduce
import graft.ops.{Hits, PageRank}
import graft.queries.Crawl
import graft.streaming.StreamCuration

/** One timed operation. `run` is the timed part and returns the
  * untimed check, which digests the operation's output. */
final case class Op(name: String, run: Ctx => (() => Digest))

/** What an operation body may use: the session and the span recorder
  * (a no-op when tracing is off). */
final class Ctx(val spark: SparkSession, trace: Option[Trace], val opId: Int) {
  def span[A](name: String)(f: => A): A = trace match {
    case Some(t) => t.span(name, opId)(f)
    case None => f
  }
}

/** A workload: the operations of one pass, in order. */
trait Workload {
  def ops(pass: Int): Seq[Op]
  /** Untimed work before a pass (clearing the previous pass's dirs). */
  def beforePass(): Unit = ()
  /** Per-pass facts read after the pass, traced runs only. */
  def passFacts(pass: Int): Map[String, Double] = Map.empty
  /** The rank loops to call directly, with the directory holding the
    * `documents` table their edge frame comes from (traced runs only). */
  def rankProbe: Option[(String, Set[String])] = None
}

object Workloads {

  def apply(name: String, data: String, work: String, opts: Map[String, String]): Workload =
    name match {
      case "mr_reference" => new MrReference(data, work)
      case "query_mix" | "graph_rank" =>
        def list(key: String) = opts(key).split(",").filter(_.nonEmpty).toSeq
        new QueryList(
          list("queries").map(q => (q, q, data))
            ++ list("mid-queries").map(q => (s"$q@mid", q, opts("mid-data"))),
          data, list("rank-ops").toSet)
      case "stream_curation" =>
        new StreamCurationLoad(data, work, opts("batches").toInt, opts("compact-every").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }

  def fileCount(p: Path): Int = files(p).size

  /** Lines of a text sink's part files. */
  def textLines(dir: String): Iterator[String] =
    files(Paths.get(dir)).filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString).iterator
      .flatMap(f => new String(Files.readAllBytes(f), UTF_8).split("\n").iterator)
      .filter(_.nonEmpty)

  def queryOp(name: String, run: (SparkSession, String) => DataFrame, dir: String): Op =
    Op(name, ctx => {
      val df = ctx.span("queries.build")(run(ctx.spark, dir))
      val rows = ctx.span("queries.action")(df.collect())
      () => Digest.ofRows(df.columns.toSeq, rows)
    })

  /** q223's edge frame: followed links of the extracted link graph. */
  def linkEdges(spark: SparkSession, dir: String): DataFrame =
    Crawl.withOutlinks(Sql.table(spark, dir, "documents"))
      .filter(col("kind") =!= "skip" && col("nofollow") === 0L)
      .groupBy(col("src_url").as("w1"), col("dst_url").as("w2"))
      .agg(count(lit(1)).cast("long").as("c"))

  /** Direct calls into graft.ops, with the parameters q223, q227 and q228
    * use; each output is checked against that query's expected result.
    * `names` picks among pagerank, hits and trustrank. Each entry is the
    * loop's round count and the op over a given edge frame. */
  def rankOps(names: Set[String]): Seq[(Int, DataFrame => Op)] = {
    def op(name: String, rounds: Int)(f: DataFrame => DataFrame) =
      (rounds, (edges: DataFrame) => Op(s"ops.$name", ctx => {
        val (cols, rows) = ctx.span(s"ops.$name") {
          val df = f(edges); (df.columns.toSeq, df.collect())
        }
        () => Digest.ofRows(cols, rows)
      }))
    Seq(
      "pagerank" -> op("pagerank", 5)(e => PageRank.run(e, rounds = 5, localThreshold = 5000L)
        .select(col("w").as("url"), col("pr"))),
      "hits" -> op("hits", 3)(e => Hits.run(e, rounds = 3)
        .select(col("w").as("url"), col("auth"), col("hub"))),
      "trustrank" -> op("trustrank", 5)(e =>
        PageRank.runBiased(e, rounds = 5, seedCond = Crawl.TrustSeedCond)
          .select(col("w").as("url"), col("trust"), col("is_seed"))))
      .collect { case (n, o) if names(n) => o }
  }
}

/** The reference's five programs through MapReduce.runWorkload. */
final class MrReference(data: String, work: String) extends Workload {
  private val params: Map[String, String] =
    new String(Files.readAllBytes(Paths.get(data, "params.txt")), UTF_8)
      .split("\n").filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  private val out = s"$work/mr"

  private def program(name: String, workload: String, input: String, aux: Seq[String]): Op =
    Op(name, ctx => {
      val dir = s"$out/$name"
      ctx.span("core.run")(MapReduce.runWorkload(ctx.spark, workload, input, dir, aux))
      () => Digest.ofLines(Workloads.textLines(dir))
    })

  def ops(pass: Int): Seq[Op] = Seq(
    program("wc", "wc", s"$data/text/*.txt", Nil),
    program("grep", "grep", s"$data/text/*.txt", Seq(params("grep_term"))),
    program("vertex_degree", "vertex-degree", s"$data/edges/*.txt", Nil),
    program("matrix_multiply_1", "matrix-multiply-1", s"$data/mm/*.txt", Nil),
    program("matrix_multiply_2", "matrix-multiply-2", s"$out/matrix_multiply_1/part-*", Nil))
}

/** Registered queries, each `(op name, query name, table directory)`;
  * the rank probe reads the `documents` table in `data`. */
final class QueryList(queries: Seq[(String, String, String)], data: String,
    rankOps: Set[String]) extends Workload {
  private val registry = SparkEntry.queries
  queries.foreach { case (_, q, _) => require(registry.contains(q), s"unknown query $q") }

  def ops(pass: Int): Seq[Op] =
    queries.map { case (name, q, dir) => Workloads.queryOp(name, registry(q), dir) }

  override def rankProbe: Option[(String, Set[String])] =
    if (rankOps.isEmpty) None else Some((data, rankOps))
}

/** A document stream through StreamCuration.processBatch, one trigger per
  * batch file, compactState after every `compactEvery` triggers. Every
  * pass starts from empty state and output directories. */
final class StreamCurationLoad(data: String, work: String, batches: Int, compactEvery: Int)
    extends Workload {
  private def dir(pass: Int) = Paths.get(work, "stream", s"p$pass")
  private def batchFile(b: Int) = f"$data/b$b%03d.parquet"
  private var bytesAtStart = 0L

  private def localBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  override def beforePass(): Unit = {
    Workloads.deleteTree(Paths.get(work, "stream"))
    bytesAtStart = localBytesWritten()
  }

  def ops(pass: Int): Seq[Op] = {
    val state = dir(pass).resolve("state").toString
    val out = dir(pass).resolve("out").toString
    (0 until batches).map { b =>
      Op(s"trigger_$b", ctx => {
        ctx.span("streaming.process_batch") {
          StreamCuration.processBatch(ctx.spark, ctx.spark.read.parquet(batchFile(b)),
            state, out, b.toLong)
        }
        if ((b + 1) % compactEvery == 0)
          ctx.span("streaming.compact")(StreamCuration.compactState(ctx.spark, state))
        () => {
          val df = ctx.spark.read.parquet(s"$out/b$b")
          Digest.ofRows(df.columns.toSeq, df.collect())
        }
      })
    }
  }

  override def passFacts(pass: Int): Map[String, Double] = {
    val inputBytes = (0 until batches).map(b => new File(batchFile(b)).length).sum
    Map(
      "state_files" -> Workloads.fileCount(dir(pass).resolve("state")).toDouble,
      "write_amp" -> (localBytesWritten() - bytesAtStart).toDouble / inputBytes)
  }
}
