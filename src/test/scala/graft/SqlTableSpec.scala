package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Sql.table`'s per-session schema memo: the first read of a table
  * infers its schema (a Spark job), later reads in the same session
  * start none; a rewrite in place, a different session or a missing
  * path is never served from the memo; each call is a fresh relation.
  */
class SqlTableSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Jobs started on this thread by `body`, counted after the listener
    * bus drained. A job group set for `body` alone keeps other work in
    * the shared context out of the count. */
  private def jobs[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val group = s"sql-table-${UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counting Sql.table jobs")
    try {
      val out = body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sql-table").toString

  test("the first read infers the schema; a second read and a frame over it start no job") {
    val s = spark.newSession()
    val dir = tempDir()
    s.range(10).selectExpr("id", "id * 2 AS v").write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobs(s)(Sql.table(s, dir, "t"))
    assert(inferJobs >= 1, "the first read must infer (this spec would pass vacuously)")
    val (second, memoJobs) = jobs(s) {
      val df = Sql.table(s, dir, "t")
      df.filter(col("v") > 4).select(col("id"))
      df
    }
    assert(memoJobs === 0)
    assert(second.schema === first.schema)
    assert(second.filter(col("v") > 4).count() === 7L)
  }

  test("a table rewritten in place with an added column is inferred again") {
    val s = spark.newSession()
    val dir = tempDir()
    s.range(5).selectExpr("id").write.parquet(s"$dir/t.parquet")
    assert(Sql.table(s, dir, "t").columns.toSeq === Seq("id"))
    s.range(5).selectExpr("id", "id + 1 AS extra")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Sql.table(s, dir, "t")
    assert(again.columns.toSeq === Seq("id", "extra"))
    assert(again.agg(sum("extra")).head().getLong(0) === 15L)
  }

  test("two reads of one table self-join on explicit columns like two uncached reads") {
    val s = spark.newSession()
    Sql.table(s, sf, "lineitem") // fill the memo so both reads below use it
    val a = Sql.table(s, sf, "lineitem")
    val b = Sql.table(s, sf, "lineitem")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty, "each call must be a fresh relation")
    def pairs(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      l.join(r, l("l_orderkey") === r("l_orderkey") &&
        l("l_linenumber") < r("l_linenumber")).count()
    val path = s"$sf/lineitem.parquet"
    val want = pairs(s.read.parquet(path), s.read.parquet(path))
    assert(want > 0L)
    assert(pairs(a, b) === want)
  }

  test("events comes back with ts: timestamp from the memo too") {
    val s = spark.newSession()
    val (first, inferJobs) = jobs(s)(Sql.table(s, sf, "events"))
    val (second, memoJobs) = jobs(s)(Sql.table(s, sf, "events"))
    assert(inferJobs >= 1 && memoJobs === 0)
    for (df <- Seq(first, second)) assert(df.schema("ts").dataType === TimestampType)
    assert(second.filter(col("ts").isNotNull).count() === first.count())
  }

  test("a new session does not read another session's entries") {
    val dir = tempDir()
    val s1 = spark.newSession()
    s1.range(3).write.parquet(s"$dir/t.parquet")
    assert(jobs(s1)(Sql.table(s1, dir, "t"))._2 >= 1)
    assert(jobs(s1)(Sql.table(s1, dir, "t"))._2 === 0)
    val s2 = s1.newSession()
    assert(jobs(s2)(Sql.table(s2, dir, "t"))._2 >= 1)
  }

  test("a schema inferred before nanosAsLong is on serves later reads; a NANOS column never") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val s = spark.newSession()
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    assert(s.conf.get(nanosConf) === "false")
    val dir = tempDir()
    s.range(3).write.parquet(s"$dir/t.parquet")
    // a column Spark cannot write: INT64 TIMESTAMP(NANOS)
    val nanos = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/n.parquet"))
      .withType(nanos).withConf(s.sparkContext.hadoopConfiguration).build()
    w.write(new SimpleGroupFactory(nanos).newGroup().append("ts", 1700000000123456789L))
    w.close()

    assert(jobs(s)(Sql.table(s, dir, "t"))._2 >= 1)
    val e = intercept[Exception](Sql.table(s, dir, "n"))
    assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    s.conf.set(nanosConf, "true")
    val (t, tJobs) = jobs(s)(Sql.table(s, dir, "t"))
    assert(tJobs === 0 && t.count() === 3L)
    val (n, nJobs) = jobs(s)(Sql.table(s, dir, "n"))
    assert(nJobs >= 1)
    assert(n.schema("ts").dataType === org.apache.spark.sql.types.LongType)
    assert(n.head().getLong(0) === 1700000000123456789L)
  }

  test("a missing path throws on every call and caches nothing") {
    val s = spark.newSession()
    val dir = tempDir()
    val e1 = intercept[AnalysisException](Sql.table(s, dir, "t"))
    val e2 = intercept[AnalysisException](Sql.table(s, dir, "t"))
    assert(e1.getMessage === e2.getMessage)
    s.range(4).write.parquet(s"$dir/t.parquet")
    assert(Sql.table(s, dir, "t").count() === 4L)
  }
}
