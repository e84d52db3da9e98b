package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.{KeyValue, MapReduce, Workload, WorkloadRegistry}
import org.apache.spark.sql.Dataset
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants of the generic MapReduce surface, driven by
  * ScalaCheck generators with fixed seeds (the scalatest/scalacheck
  * bridge artifact isn't available offline, so samples are drawn
  * directly).
  */
class MapReducePropertySpec extends SparkSuite {

  import MapReduce._

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val docGen = Gen.listOf(wordGen).map(_.mkString(" "))
  private val corpusGen = Gen.listOfN(5, docGen)

  private val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 50L)))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def lines(w: Workload, input: Dataset[KeyValue]): Seq[String] =
    MapReduce.run(w, input).collect().toSeq.map(new String(_, UTF_8)).sorted

  /** Each combining workload with its sampled inputs: the wc corpora,
    * and the vertex-degree edge lists split over five files.
    */
  private def combinedCases: Seq[(Workload, Seq[KeyValue])] =
    samples(corpusGen, 5).map { docs =>
      WorkloadRegistry.wc -> docs.zipWithIndex.map { case (d, i) => KeyValue.utf8(s"f$i", d) }
    } ++ samples(edgeGen, 5).map { edges =>
      val files = edges.map { case (a, b) => s"$a $b" }
        .grouped(edges.length / 5 + 1).toSeq
      WorkloadRegistry.vertexDegree -> files.zipWithIndex.map { case (f, i) =>
        KeyValue.utf8(s"e$i", f.mkString("\n"))
      }
    }

  test("wc totals equal input token count and are partition-invariant") {
    samples(corpusGen, 5).foreach { docs =>
      val input = spark.createDataset(
        docs.zipWithIndex.map { case (d, i) => KeyValue.utf8(s"f$i", d) })(kvEncoder)

      def run(n: Int): Map[String, Long] =
        MapReduce.run(WorkloadRegistry.wc, input, Nil, n)
          .collect().toSeq.map(new String(_, UTF_8).trim)
          .filter(_.nonEmpty)
          .map { l => val i = l.lastIndexOf(' '); l.substring(0, i) -> l.substring(i + 1).toLong }
          .toMap

      val r1 = run(1)
      val r3 = run(3)
      assert(r1 === r3)

      val expectedTotal = docs.flatMap(_.split("[^\\p{L}]+")).count(_.nonEmpty).toLong
      assert(r1.values.sum === expectedTotal)
    }
  }

  test("map emission count is preserved through the shuffle (vertex-degree)") {
    samples(edgeGen, 5).foreach { edges =>
      val content = edges.map { case (a, b) => s"$a $b" }.mkString("\n")
      val input = spark.createDataset(Seq(KeyValue.utf8("edges", content)))(kvEncoder)
      val out = MapReduce.run(WorkloadRegistry.vertexDegree, input)
        .collect().toSeq.map(new String(_, UTF_8).trim).filter(_.nonEmpty)
      val degSum = out.map(_.split(", deg=")(1).toLong).sum
      assert(degSum === 2L * edges.length)
    }
  }

  test("combiner on and off give identical output at 1, 3 and 7 input partitions") {
    combinedCases.foreach { case (w, kvs) =>
      assert(w.combineFn.isDefined)
      val ds = spark.createDataset(kvs)(kvEncoder)
      Seq(1, 3, 7).foreach { n =>
        val input = ds.repartition(n)
        assert(lines(w, input) === lines(w.copy(combineFn = None), input), s"$n partitions")
      }
    }
  }

  test("combiner laws on sampled values: associative, commutative, reduce-invariant") {
    val counts = samples(Gen.listOfN(6, Gen.choose(0L, 1L << 40)), 20)
    val encoded: Seq[(Workload, Seq[Array[Byte]])] = counts.flatMap { ns =>
      Seq(
        WorkloadRegistry.wc -> ns.map(n => ByteBuffer.allocate(8).putLong(n).array()),
        WorkloadRegistry.vertexDegree -> ns.map(_.toString.getBytes(UTF_8)))
    }
    val key = "k".getBytes(UTF_8)
    encoded.foreach { case (w, vs) =>
      val c = w.combineFn.get
      val Seq(a, b, d) = vs.take(3)
      assert(c(c(a, b), d).sameElements(c(a, c(b, d))))
      assert(c(a, b).sameElements(c(b, a)))
      val whole = w.reduceFn(key, vs.iterator, Nil)
      assert(whole.sameElements(w.reduceFn(key, Iterator(vs.reduce(c)), Nil)))
      val (left, right) = vs.splitAt(vs.length / 2)
      assert(whole.sameElements(
        w.reduceFn(key, Iterator(right.reduce(c), left.reverse.reduce(c)), Nil)))
    }
  }

  test("a map task whose distinct keys pass the combine ceiling flushes and still " +
    "equals the combiner-free run") {
    import MapReducePropertySpec._
    // one partition, every key twice at random positions: 600k keys ×
    // (64 key + 8 value bytes) ≈ 43 MB passes the 32 MiB ceiling. An
    // empty second partition keeps the grouping shuffle in the plan (a
    // single-partition child already satisfies it).
    val input = spark.range(0L, Tokens / TokensPerDoc, 1L, 1).map(flushDoc(_))(kvEncoder)
      .union(spark.createDataset(Seq(KeyValue.utf8("empty", "")))(kvEncoder))
    val w = WorkloadRegistry.wc
    val (on, written) = ShuffleRecords.written(spark)(lines(w, input))
    val off = lines(w.copy(combineFn = None), input)
    assert(written.mapTasks === 2)
    // one table for the whole task would write each key once, no
    // combining at all each token once
    assert(written.records > DistinctKeys && written.records < Tokens)
    assert(on.length === DistinctKeys)
    assert(on.forall(_.endsWith(" 2\n")))
    assert(on === off)
  }
}

object MapReducePropertySpec {
  val DistinctKeys = 600000
  val Tokens = 2 * DistinctKeys
  val TokensPerDoc = 1000

  /** Every key id twice, in a seeded random order. */
  private lazy val order: Array[Int] = {
    val a = Array.tabulate(Tokens)(_ % DistinctKeys)
    val rnd = new java.util.SplittableRandom(7L)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** A 64-letter word per key id: its base-26 digits, left-padded. */
  private def word(id: Int): String = {
    val sb = new StringBuilder
    var n = id
    while (sb.length < 64) { sb.append(('a' + n % 26).toChar); n /= 26 }
    sb.reverse.toString
  }

  /** Document `doc` of the flush input: the next [[TokensPerDoc]] words
    * of `order`.
    */
  def flushDoc(doc: java.lang.Long): KeyValue = {
    val first = doc.toInt * TokensPerDoc
    KeyValue.utf8(s"d$doc",
      (first until first + TokensPerDoc).map(t => word(order(t))).mkString(" "))
  }
}
