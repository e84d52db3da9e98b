package graft

import java.nio.file.Files

import graft.core.MrlCtl

/** The submit CLI analog end-to-end: args parsing (incl. trailing aux
  * after `--`), named-workload lookup, run, text sink.
  */
class MrlCtlSpec extends SparkSuite {

  test("submit runs grep with aux args and writes matching lines") {
    spark // force shared session so MrlCtl reuses instead of owning it
    val out = Files.createTempDirectory("graft-ctl").toString + "/out"
    MrlCtl.main(Array(
      "submit",
      "--workload", "grep",
      "--input", ReferenceFixtures.books.resolve("t.txt").toString,
      "--output", out,
      "--", "whale"))
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.nonEmpty)
    assert(lines.forall(_.contains("whale")))
    assert(lines.forall(_.startsWith("t.txt:")))
  }

  test("unknown workload fails with the registry message") {
    val out = Files.createTempDirectory("graft-ctl2").toString + "/out"
    val e = intercept[IllegalArgumentException] {
      MrlCtl.main(Array("submit", "--workload", "nope",
        "--input", ReferenceFixtures.books.resolve("p.txt").toString, "--output", out))
    }
    assert(e.getMessage.contains("unknown workload"))
    assert(e.getMessage.contains("wc"))
  }
}
