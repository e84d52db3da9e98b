package graft

import graft.streaming.StreamIngest
import org.apache.spark.sql.DataFrame

/** streaming.StreamIngest: micro-batched WARC ingestion ≡ the one-shot
  * batch parse+extract (ingestion is per-file, so batching cannot
  * change the answer), replayed batches skip, crash replay converges,
  * and unparseable files land in quarantine instead of vanishing.
  */
class StreamIngestSpec extends SparkSuite {

  private def rec(wtype: String, uri: String, payload: String): String = {
    val n = payload.getBytes("UTF-8").length
    s"WARC/1.0\r\nWARC-Type: $wtype\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: $n\r\n\r\n$payload\r\n\r\n"
  }

  private def page(i: Int): String =
    "<html><head><title>Page " + i + "</title></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
      s"<p>Article $i body with clearly more than ten whole words of honest prose.</p>" +
      "</body></html>"

  private def warcFile(i: Int): (String, Array[Byte]) = {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + page(i)
    (s"crawl-$i.warc",
      (rec("response", s"https://x/$i", http) +
        rec("metadata", s"https://x/$i", "fetch-ms: 7\r\n")).getBytes("UTF-8"))
  }

  private val files: Seq[(String, Array[Byte])] =
    (0 until 9).map(warcFile) :+
      ("broken.warc", "WARC/1.0\r\nWARC-Type: response\r\n\r\nno length".getBytes("UTF-8")) :+
      // a PARTIAL file: one whole record then a truncated tail — its
      // page must still extract AND the file must land in quarantine
      // (under-ingestion is loud, not silent)
      ("partial.warc", (new String(warcFile(9)._2, "UTF-8") +
        rec("response", "https://x/99", "lost tail").take(30)).getBytes("UTF-8"))

  private def df(rows: Seq[(String, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("file", "bytes")
  }

  private def pageRows(outDir: String): Set[(String, String, String, Long)] =
    StreamIngest.pages(spark, outDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3), r.getLong(5))).toSet

  test("micro-batched ingestion ≡ one-shot batch; replay skips; quarantine fills") {
    val root = java.nio.file.Files.createTempDirectory("singest").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    val batches = files.grouped(4).toSeq // 3 batches
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(StreamIngest.processBatch(spark, df(b), stateDir, outDir, i.toLong))
    }
    // one-shot equivalence
    // the one-shot parse is checkpointed into its own scope
    val want = graft.ops.Checkpoints.scope {
      val (wantPages, wantQuar) = StreamIngest.ingest(df(files))
      val want = wantPages.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(3), r.getLong(5))).toSet
      assert(pageRows(outDir) === want)
      assert(want.size === 10,
        "every wellformed page extracts exactly once (incl. the partial file's whole record)")
      // extraction really ran: titles decoded, prose kept, nav dropped
      val sample = StreamIngest.pages(spark, outDir)
        .filter(org.apache.spark.sql.functions.col("file") === "crawl-3.warc")
        .collect().head
      assert(sample.getAs[String]("title") === "Page 3")
      assert(sample.getAs[String]("content").startsWith("Article 3 body"))
      assert(sample.getAs[String]("http_status") === "HTTP/1.1 200 OK")
      // the broken file AND the partially-parsed file are quarantined,
      // not silently dropped/shortened
      val quar = StreamIngest.quarantined(spark, outDir).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
      assert(quar === Set(("broken.warc", 0L, 1L), ("partial.warc", 2L, 1L)))
      assert(wantQuar.collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet === quar)
      want
    }
    // replayed batch is a no-op
    assert(!StreamIngest.processBatch(spark, df(batches.head), stateDir, outDir, 0L))
    assert(pageRows(outDir) === want)
  }

  test("crash replay rewrites bit-identical children") {
    val root = java.nio.file.Files.createTempDirectory("singest-crash").toString
    val (stateDir, outDir) = (s"$root/state", s"$root/out")
    val batches = files.grouped(5).toSeq
    assert(StreamIngest.processBatch(spark, df(batches(0)), stateDir, outDir, 0L))
    assert(StreamIngest.processBatch(spark, df(batches(1)), stateDir, outDir, 1L))
    val want = pageRows(outDir)
    // crash: batch 1's children written but the marker never advanced
    graft.streaming.Maintainer.writeCommitted(spark, s"$stateDir/state", 0L)
    assert(StreamIngest.processBatch(spark, df(batches(1)), stateDir, outDir, 1L))
    assert(pageRows(outDir) === want, "replay after crash must converge")
  }
}
