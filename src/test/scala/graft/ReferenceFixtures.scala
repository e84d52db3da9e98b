package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded test corpora in the shapes of the reference's `testcases/`
  * (FIXTURES.md §1–3), written once per JVM to a temp directory with
  * the same layout:
  *
  *  - `books/{p,q,r,s,t,u}.txt`: multi-script UTF-8 prose; every file
  *    carries [[GrepTerm]] on some lines (and near-misses like
  *    "Whale" or "whal" on others);
  *  - `graph-edges/0{0..4}.txt`: whitespace-separated u64 edge lists,
  *    no self-loops, vertex 0 present;
  *  - `mm/input`: a 3×3 A/B pair of "row col value tag" triples
  *    (A: 7 entries, B: 4 entries, integer values).
  *
  * Expected results are computed by the specs from these files
  * directly, never from the engine.
  */
object ReferenceFixtures {

  val GrepTerm = "whale"

  private val vocabulary = Array(
    "the", "sea", "ship", "captain", "harpoon", "voyage", "whales", "Whale",
    "whal", "ocean", "Ishmael", "café", "naïve", "über", "Straße", "façade",
    "θάλασσα", "καράβι", "море", "корабль", "кит", "海", "船", "鯨",
    "クジラ", "바다", "mañana", "ångström", "Ærø", "łódź", "ça", "don't",
    "well-known", "1851", "x2", "Moby", "Dick", "pequod")

  lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-testcases")
    val rnd = new Random(20240917L)
    writeBooks(Files.createDirectories(dir.resolve("books")), rnd)
    writeEdges(Files.createDirectories(dir.resolve("graph-edges")), rnd)
    writeMatrices(Files.createDirectories(dir.resolve("mm")), rnd)
    dir
  }

  def books: Path = root.resolve("books")

  private def write(p: Path, text: String): Unit = Files.write(p, text.getBytes(UTF_8))

  private def writeBooks(dir: Path, rnd: Random): Unit =
    Seq("p", "q", "r", "s", "t", "u").foreach { name =>
      val lines = (0 until 1200 + rnd.nextInt(400)).map { i =>
        if (i % 50 == 49) "" // paragraph breaks
        else {
          val words = Seq.fill(3 + rnd.nextInt(10))(vocabulary(rnd.nextInt(vocabulary.length)))
          val line = words.mkString(if (rnd.nextInt(7) == 0) ", " else " ")
          if (rnd.nextInt(9) == 0) s"$line the $GrepTerm." else line
        }
      }
      write(dir.resolve(s"$name.txt"), lines.mkString("", "\n", "\n"))
    }

  private def writeEdges(dir: Path, rnd: Random): Unit =
    (0 until 5).foreach { f =>
      val edges = (if (f == 0) Seq((0L, 1L), (0L, 14L)) else Nil) ++
        Seq.fill(2000) {
          val a = rnd.nextInt(1500).toLong
          (a, (a + 1 + rnd.nextInt(1499)) % 1500)
        }
      val sep = if (f % 2 == 0) "\t" else " "
      write(dir.resolve(f"$f%02d.txt"),
        edges.map { case (a, b) => s"$a$sep$b" }.mkString("", "\n", "\n"))
    }

  private def writeMatrices(dir: Path, rnd: Random): Unit = {
    val cells = for (i <- 1 to 3; j <- 1 to 3) yield (i, j)
    def entries(n: Int, tag: String) =
      rnd.shuffle(cells).take(n).sorted.map { case (i, j) =>
        s"$i $j ${rnd.nextInt(21) - 10} $tag"
      }
    write(dir.resolve("input"), (entries(7, "A") ++ entries(4, "B")).mkString("", "\n", "\n"))
  }
}
