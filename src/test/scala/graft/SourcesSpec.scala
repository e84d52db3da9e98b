package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source/sink breadth (SURVEY.md §2.1): beyond the parquet tables the
  * engine reads/writes csv, json, text and binaryFile through the same
  * DataFrame surface — the reference supports only whole-file text over
  * S3 prefix listing.
  */
class SourcesSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("csv and json round-trip a table sample with schema intact") {
    import spark.implicits._
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val tmp = Files.createTempDirectory("graft-src").toString

    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$tmp/nation_csv")
    assert(csv.count() === src.count())
    assert(csv.columns.toSeq === src.columns.toSeq)

    src.write.mode("overwrite").json(s"$tmp/nation_json")
    val json = spark.read.json(s"$tmp/nation_json")
    assert(json.count() === src.count())
    assert(json.columns.sorted.toSeq === src.columns.sorted.toSeq)
  }

  test("binaryFile source frames whole files as records (reference S4 parity)") {
    val books = spark.read.format("binaryFile")
      .load(s"${ReferenceFixtures.books}/*.txt")
      .select(col("path"), col("length"), col("content"))
    val rows = books.collect()
    assert(rows.length === 6)
    // content length matches the reported file length (payload intact)
    rows.foreach(r => assert(r.getAs[Array[Byte]]("content").length.toLong === r.getLong(1)))
  }

  test("orc round-trip with predicate pushdown (the other builtin columnar format)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-orc").toString
    val src = spark.read.parquet(s"$sf/part.parquet")
    src.write.mode("overwrite").orc(s"$tmp/part_orc")
    val back = spark.read.orc(s"$tmp/part_orc")
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    val filtered = back.filter($"p_size" >= 40).select($"p_partkey", $"p_size")
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size,40"),
      s"no ORC pushdown:\n$plan")
  }

  test("partitioned parquet write + partition pruning on read") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-part").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("y", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("y").parquet(s"$tmp/orders_by_year")
    val pruned = spark.read.parquet(s"$tmp/orders_by_year").filter($"y" === 1995)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(y"), s"no partition pruning:\n$plan")
  }
}
