package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/** `Mining.withCanonUrl`'s output shape and values: the input's columns
  * in their order plus `canon_url`, values frozen from the step-wise
  * `withColumn` chain it replaced, and a bounded number of analysed
  * `Project` levels (the step-wise chain added 13 plus a drop).
  */
class CanonUrlShapeSpec extends SparkSuite {

  /** url → canon_url as the step-wise chain computed them */
  private val Cases = Seq(
    "https://Example.COM/a/b#frag" -> "https://example.com/a/b",
    "HTTP://WWW.Example.org:80/index.html" -> "http://www.example.org/index.html",
    "https://secure.example.com:443/login?b=2&a=1" -> "https://secure.example.com/login?a=1&b=2",
    "http://example.com:8080//a///b//c" -> "http://example.com:8080/a/b/c",
    "https://example.com:80/x" -> "https://example.com:80/x",
    "http://example.com" -> "http://example.com/",
    "https://shop.example.com/p?utm_source=x&z=9&fbclid=abc&a=1&gclid=q" ->
      "https://shop.example.com/p?a=1&z=9",
    "https://example.com/%61rticles/%7Euser/%2Fslash%3Fq" ->
      "https://example.com/articles/~user/%2Fslash%3Fq",
    "http://Example.com:443/path?" -> "http://example.com:443/path",
    "https://example.com/a%2d%2E%5f/?&&b=1&&a=2#x" -> "https://example.com/a-._/?a=2&b=1",
    "ftp://files.example.net:21/pub//file.txt" -> "ftp://files.example.net:21/pub/file.txt",
    "https://example.com?utm_medium=email" -> "https://example.com/",
    "not a url" -> ":///")

  private def input = {
    import spark.implicits._
    Cases.zipWithIndex.map { case ((u, _), i) => (i.toLong, s"p$i", u, i * 10) }
      .toDF("id", "pre", "url", "post")
  }

  private def projects(p: LogicalPlan): Int = p.collect { case x: Project => x }.size

  test("output is the input's columns in order, then canon_url, with frozen values") {
    val in = input
    val out = graft.queries.Mining.withCanonUrl(in)
    assert(out.columns.toSeq === in.columns.toSeq :+ "canon_url")
    val got = out.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4))).toSeq
    val want = Cases.zipWithIndex.map { case ((u, c), i) => (i.toLong, s"p$i", u, i * 10, c) }
    assert(got === want)
  }

  test("the analysed plan adds at most 6 Project levels over the input") {
    val in = input
    val out = graft.queries.Mining.withCanonUrl(in)
    val added = projects(out.queryExecution.analyzed) - projects(in.queryExecution.analyzed)
    assert(added <= 6, out.queryExecution.analyzed.treeString)
  }
}
