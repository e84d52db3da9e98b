package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.core.{KeyValue, MapReduce, WorkloadRegistry}

/** Byte-level workload parity over seeded corpora in the shapes of the
  * reference's test corpora ([[ReferenceFixtures]]; the reference ships
  * no golden outputs, so expectations are computed independently here:
  * SURVEY.md §5).
  */
class MapReduceParitySpec extends SparkSuite {

  private val testcases = ReferenceFixtures.root

  private def readFiles(dir: Path): Map[String, String] =
    Files.list(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), UTF_8))
      .toMap

  /** Every word token of the books, lowercased: an independent count. */
  private def bookWords: Seq[String] =
    readFiles(testcases.resolve("books")).values.toSeq
      .flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty)
      .map(_.toLowerCase)

  private def runNamed(name: String, glob: String, aux: Seq[String] = Nil): Seq[String] = {
    import MapReduce._
    val out = MapReduce.run(
      WorkloadRegistry.named(name),
      MapReduce.wholeFileRecords(spark, glob),
      aux)
    out.collect().toSeq
      .map(new String(_, UTF_8))
      .flatMap(_.split("\n"))
      .filter(_.nonEmpty)
  }

  test("wc over books matches an independent single-threaded count") {
    val lines = runNamed("wc", testcases.resolve("books").toString + "/*.txt")
    val got = lines.map { l =>
      val i = l.lastIndexOf(' '); l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap

    val expected = bookWords
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("grep matches line-level contains filter, ordered by line number") {
    val term = "whale"
    val lines = runNamed("grep", testcases.resolve("books").toString + "/*.txt", Seq(term))
    // every emitted line really contains the term and is formatted file:no:: text
    val fmt = "([^:]+):(\\d+):: (.*)".r
    val parsed = lines.map { case fmt(f, no, text) => (f, no.toLong, text) }
    assert(parsed.nonEmpty)
    assert(parsed.forall(_._3.contains(term)))

    val expected = readFiles(testcases.resolve("books")).toSeq.flatMap {
      case (file, content) =>
        content.split("\n", -1).zipWithIndex.collect {
          case (line, i) if line.contains(term) => (file, i + 1L, line)
        }
    }
    assert(parsed.sortBy(p => (p._1, p._2)) === expected.sortBy(p => (p._1, p._2)))
  }

  test("grep CRLF parity: \\r of CRLF pairs stripped, bare trailing \\r kept (Rust lines())") {
    import graft.core.{KeyValue, WorkloadRegistry}
    val kv = KeyValue.utf8("f.txt", "foo\r\nbar data\r\nbaz data\r")
    val out = WorkloadRegistry.grep.mapFn(kv, Seq("data")).toSeq
      .map(o => (java.nio.ByteBuffer.wrap(o.value, 0, 8).getLong,
        new String(o.value, 8, o.value.length - 8, java.nio.charset.StandardCharsets.UTF_8)))
    // line 2: CRLF line ending stripped; line 3: the final '\r' has no
    // following '\n', so Rust lines() keeps it as content
    assert(out === Seq((2L, "bar data"), (3L, "baz data\r")))
  }

  test("vertex-degree: degree sum equals 2x edge count") {
    val lines = runNamed("vertex-degree", testcases.resolve("graph-edges").toString + "/*.txt")
    val degs = lines.map { l =>
      val Array(v, d) = l.split(", deg="); v.toLong -> d.toLong
    }.toMap
    val edges = readFiles(testcases.resolve("graph-edges")).values
      .flatMap(_.split("\n")).count(_.trim.nonEmpty)
    assert(degs.values.sum === 2L * edges)
    // independent spot check on vertex 0's degree
    val expected0 = readFiles(testcases.resolve("graph-edges")).values
      .flatMap(_.split("\n")).filter(_.trim.nonEmpty)
      .map(_.trim.split("\\s+"))
      .count(p => p(0) == "0" || p(1) == "0")
    assert(degs(0L) === expected0.toLong)
  }

  test("matrix-multiply two-phase chain matches dense multiply on mm testcase") {
    val tmp = Files.createTempDirectory("graft-mm").toString
    // phase 1 writes partial products; phase 2 reads them back (job
    // chaining parity, SURVEY.md §2.2 F7 / workload_test.sh:24-29)
    MapReduce.runWorkload(spark, "matrix-multiply-1",
      testcases.resolve("mm").toString + "/input", s"$tmp/phase1")
    MapReduce.runWorkload(spark, "matrix-multiply-2",
      s"$tmp/phase1/part-*", s"$tmp/phase2")

    val got = spark.read.text(s"$tmp/phase2").collect()
      .map(_.getString(0)).filter(_.nonEmpty)
      .map { l =>
        val f = l.split(" "); ((f(0).toInt, f(1).toInt), f(2).toDouble)
      }.toMap

    // independent dense multiply
    val entries = new String(
      Files.readAllBytes(testcases.resolve("mm").resolve("input")), UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.split(" "))
    val a = entries.filter(_(3) == "A").map(e => ((e(0).toInt, e(1).toInt), e(2).toDouble)).toMap
    val b = entries.filter(_(3) == "B").map(e => ((e(0).toInt, e(1).toInt), e(2).toDouble)).toMap
    val expected = (for {
      ((i, k), va) <- a.toSeq
      ((k2, j), vb) <- b.toSeq if k2 == k
    } yield ((i, j), va * vb))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

    assert(got.keySet === expected.keySet)
    got.foreach { case (ij, v) => assert(math.abs(v - expected(ij)) < 1e-9, s"cell $ij") }
  }

  test("wc result is invariant to reduce partition count (1 vs 7)") {
    import MapReduce._
    val input = MapReduce.wholeFileRecords(
      spark, testcases.resolve("books").toString + "/p.txt")
    def counts(n: Int): Map[String, Long] =
      MapReduce.run(WorkloadRegistry.wc, input, Nil, n).collect().toSeq
        .map(new String(_, UTF_8).trim)
        .map { l => val i = l.lastIndexOf(' '); l.substring(0, i) -> l.substring(i + 1).toLong }
        .toMap
    assert(counts(1) === counts(7))
  }

  test("wc shuffle records: at most distinct words × map tasks combined, every token without") {
    import MapReduce._
    val input = MapReduce.wholeFileRecords(spark, testcases.resolve("books").toString + "/*.txt")
    def written(w: graft.core.Workload) =
      ShuffleRecords.written(spark)(MapReduce.run(w, input).collect())._2
    val words = bookWords
    val combined = written(WorkloadRegistry.wc)
    assert(combined.mapTasks > 0)
    assert(combined.records <= words.distinct.size.toLong * combined.mapTasks)
    assert(written(WorkloadRegistry.wc.copy(combineFn = None)).records === words.size.toLong)
  }
}
