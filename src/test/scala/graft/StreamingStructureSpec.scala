package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Only `graft.streaming.Maintainer` may know the exactly-once protocol:
  * no other file under the streaming package checkpoints, releases,
  * wires foreachBatch or touches the commit marker itself.
  */
class StreamingStructureSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/streaming")

  private val protocol =
    """\.localCheckpoint\(|Checkpoints\.release|committedBatch|writeCommitted|__commits|foreachBatch""".r

  /** Source text with comments removed (docs may name the protocol). */
  private def code(file: java.nio.file.Path): String =
    new String(Files.readAllBytes(file), UTF_8)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)^\\s*//.*$", "")

  test("the exactly-once protocol lives in Maintainer.scala alone") {
    assert(Files.isDirectory(dir), s"run from the repository root: $dir")
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toSeq
    val (owner, others) = files.partition(_.getFileName.toString == "Maintainer.scala")
    assert(owner.size === 1)
    // the pattern matches the owner, so a clean result below is not vacuous
    assert(protocol.findAllIn(code(owner.head)).toSet.size >= 5)
    assert(others.size >= 19)
    val offenders = for {
      f <- others
      m <- protocol.findAllIn(code(f))
    } yield s"${f.getFileName}: $m"
    assert(offenders.isEmpty,
      s"protocol copied out of Maintainer:\n${offenders.mkString("\n")}")
  }
}
