package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Only `graft.streaming.Maintainer` may know the exactly-once protocol:
  * no other file under the streaming package releases a checkpoint,
  * wires foreachBatch or touches the commit marker itself. And only
  * `graft.ops.Checkpoints` takes a checkpoint: every other site goes
  * through `Checkpoints.local`, and no `*Managed` cleanup-closure
  * variant may grow back.
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
    // (its checkpoints go through Checkpoints.scope, guarded below)
    assert(protocol.findAllIn(code(owner.head)).toSet.size >= 4)
    assert(others.size >= 19)
    val offenders = for {
      f <- others
      m <- protocol.findAllIn(code(f))
    } yield s"${f.getFileName}: $m"
    assert(offenders.isEmpty,
      s"protocol copied out of Maintainer:\n${offenders.mkString("\n")}")
  }

  /** `src/main` code lines: comment lines and trailing `//` comments dropped. */
  private def codeLines(file: java.nio.file.Path): Seq[String] =
    Files.readAllLines(file, UTF_8).asScala.toSeq
      .map(l => l.indexOf("//") match { case -1 => l; case i => l.take(i) })
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))

  test("checkpoints have one owner: graft.ops.Checkpoints") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val walk = Files.walk(main)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val raw = "\\.localCheckpoint\\(".r
    val managed = """def\s+\w*Managed\b""".r
    val (owner, others) = files.partition(_.getFileName.toString == "Checkpoints.scala")
    assert(owner.size === 1)
    assert(owner.flatMap(codeLines).count(l => raw.findFirstIn(l).nonEmpty) === 1,
      "Checkpoints.local should hold the one raw localCheckpoint call")
    val offenders = for {
      f <- files
      l <- codeLines(f)
      if (others.contains(f) && raw.findFirstIn(l).nonEmpty) || managed.findFirstIn(l).nonEmpty
    } yield s"${main.relativize(f)}: ${l.trim}"
    assert(offenders.isEmpty,
      s"checkpoint ownership forked from Checkpoints.local/scope:\n${offenders.mkString("\n")}")
  }
}
