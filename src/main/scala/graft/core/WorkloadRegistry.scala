package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** The five named workload programs of the reference
  * (`workload/src/lib.rs:31-55`), re-implemented against the typed
  * [[Workload]] surface with byte-level value-encoding parity:
  *
  *  - wc: big-endian u64 counts (`workload/src/wc.rs:22,37`)
  *  - grep: u64 line number + raw line bytes (`workload/src/grep.rs:36-37`)
  *  - vertex-degree: decimal strings (`workload/src/vertex_degree.rs:31-42`)
  *  - matrix-multiply-{1,2}: space-separated text triples
  *    (`workload/src/matrix_multiply.rs:30-51,105-110`)
  */
object WorkloadRegistry {

  private def u64be(n: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(n).array()
  private def readU64be(b: Array[Byte]): Long =
    ByteBuffer.wrap(b, 0, 8).getLong
  private def decimal(b: Array[Byte]): Long = new String(b, UTF_8).toLong

  /** Rust `str::lines()` parity (the reference iterates lines with it,
    * e.g. `workload/src/grep.rs:25`): split on '\n', strip the '\r' of
    * each CRLF pair, and no phantom empty line after a trailing
    * newline. A '\r' NOT followed by '\n' is ordinary line content in
    * Rust — so only segments that had a following '\n' (every raw
    * segment except the last) get their trailing '\r' stripped. A
    * plain `split("\n", -1)` keeps the '\r' and the trailing empty —
    * both diverge from the reference on CRLF files.
    */
  private def lines(s: String): Iterator[String] = {
    val raw = s.split("\n", -1)
    val lastIdx = raw.length - 1
    val keep = if (raw(lastIdx).isEmpty) lastIdx else raw.length
    raw.iterator.take(keep).zipWithIndex.map { case (l, i) =>
      if (i < lastIdx && l.endsWith("\r")) l.dropRight(1) else l
    }
  }

  /** Word count: split on non-letters (Unicode `\p{L}`; Rust
    * `char::is_alphabetic` at `workload/src/wc.rs:12` is slightly wider
    * — it also includes Nl and Other_Alphabetic code points — a
    * documented divergence that only shows on exotic scripts),
    * lowercase (Locale.ROOT: locale-sensitive lowercasing would diverge
    * from both the reference and the SQL `lower()` under e.g. tr-TR),
    * drop empties; value = big-endian u64 1; reduce sums; output
    * "word count\n" (`wc.rs:41`). The combiner sums on the map side
    * (the reference has none; see [[MapReduce]]).
    */
  val wc: Workload = Workload(
    mapFn = (kv, _) =>
      kv.valueString
        .split("[^\\p{L}]+")
        .iterator
        .filter(_.nonEmpty)
        .map(w => KeyValue(
          w.toLowerCase(java.util.Locale.ROOT).getBytes(UTF_8), u64be(1L))),
    reduceFn = (key, values, _) => {
      val count = values.map(readU64be).sum
      s"${new String(key, UTF_8)} $count\n".getBytes(UTF_8)
    },
    combineFn = Some((a, b) => u64be(readU64be(a) + readU64be(b))))

  /** Grep: keep lines containing the literal term (aux head); key = file
    * name, value = u64 1-based line number + line bytes
    * (`workload/src/grep.rs:25-45`); reduce sorts by line number and
    * formats "file:line:: text\n" (`grep.rs:47-63`).
    */
  val grep: Workload = Workload(
    mapFn = (kv, aux) => {
      // fail fast like the reference's clap parse (grep.rs:19-21): a
      // missing term would otherwise match every line via contains("")
      val term = aux.headOption.getOrElse(
        throw new IllegalArgumentException("grep requires a search term (aux args)"))
      lines(kv.valueString).zipWithIndex
        .filter { case (line, _) => line.contains(term) }
        .map { case (line, i) =>
          val lineBytes = line.getBytes(UTF_8)
          val buf = ByteBuffer.allocate(8 + lineBytes.length)
            .putLong(i + 1L).put(lineBytes)
          KeyValue(kv.key, buf.array())
        }
    },
    reduceFn = (key, values, _) => {
      val file = new String(key, UTF_8)
      val sb = new StringBuilder
      values.toSeq
        .map(v => (readU64be(v), new String(v, 8, v.length - 8, UTF_8)))
        .sortBy(_._1)
        .foreach { case (lineNo, line) => sb.append(s"$file:$lineNo:: $line\n") }
      sb.toString.getBytes(UTF_8)
    })

  /** Vertex degree: each whitespace-separated edge "a b" contributes 1 to
    * both endpoints (`workload/src/vertex_degree.rs:24-42`); reduce sums
    * decimal-string counts; output "v, deg=n\n" (`vertex_degree.rs:46-61`).
    * The combiner sums decimal strings on the map side. grep and the
    * matrix phases declare none: grep's reduce is not a fold, and
    * mm2's would re-parse and re-format its strings for no gain and
    * reassociate its f64 sums.
    */
  val vertexDegree: Workload = Workload(
    mapFn = (kv, _) =>
      lines(kv.valueString)
        .filter(_.trim.nonEmpty)
        .flatMap { line =>
          val parts = line.trim.split("\\s+", 3)
          require(parts.length >= 2, s"Invalid input file format: '$line'")
          val one = "1".getBytes(UTF_8)
          Iterator(
            KeyValue(parts(0).getBytes(UTF_8), one),
            KeyValue(parts(1).getBytes(UTF_8), one))
        },
    reduceFn = (key, values, _) => {
      val count = values.map(decimal).sum
      s"${new String(key, UTF_8)}, deg=$count\n".getBytes(UTF_8)
    },
    combineFn = Some((a, b) => (decimal(a) + decimal(b)).toString.getBytes(UTF_8)))

  /** Matrix multiply phase 1: lines "row col val tag"; A keyed by column,
    * B keyed by row (`workload/src/matrix_multiply.rs:18-51`); reduce
    * cross-multiplies the A-side and B-side of each contraction index
    * and emits partial products "i j p C\n" (`matrix_multiply.rs:54-96`).
    */
  val matrixMultiply1: Workload = Workload(
    mapFn = (kv, _) =>
      lines(kv.valueString)
        .filter(_.nonEmpty)
        .map { line =>
          val f = line.split(" ")
          require(f.length == 4, s"input was not in the expected format: '$line'")
          f(3) match {
            case "A" => KeyValue.utf8(f(1), s"${f(0)} ${f(2)} A")
            case "B" => KeyValue.utf8(f(0), s"${f(1)} ${f(2)} B")
            case t => throw new IllegalArgumentException(s"unexpected matrix name '$t'")
          }
        },
    reduceFn = (_, values, _) => {
      val rows = values.map(v => new String(v, UTF_8).split(" ")).toSeq
      val aSide = rows.filter(_.last == "A")
      val bSide = rows.filter(_.last == "B")
      val sb = new StringBuilder
      for (a <- aSide; b <- bSide)
        sb.append(s"${a(0)} ${b(0)} ${fmtF64(a(1).toDouble * b(1).toDouble)} C\n")
      sb.toString.getBytes(UTF_8)
    })

  /** Rust `f64` Display parity for workload output: integral values
    * print without a fractional part ("6", not "6.0") and without
    * scientific notation; non-integral values use shortest repr (which
    * can still differ from Rust in edge cases — SURVEY.md §7.5.3 says
    * compare numerically, not textually).
    */
  private def fmtF64(v: Double): String =
    if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Matrix multiply phase 2: key = "i j", sum partial products, emit
    * "i j sum C\n" (`workload/src/matrix_multiply.rs:98-152`).
    */
  val matrixMultiply2: Workload = Workload(
    mapFn = (kv, _) =>
      lines(kv.valueString)
        .filter(_.nonEmpty)
        .map { line =>
          val f = line.split(" ")
          KeyValue.utf8(s"${f(0)} ${f(1)}", s"${f(2)} ${f(3)}")
        },
    reduceFn = (key, values, _) => {
      val sum = values.map(v => new String(v, UTF_8).split(" ")(0).toDouble).sum
      s"${new String(key, UTF_8)} ${fmtF64(sum)} C\n".getBytes(UTF_8)
    })

  /** Name registry ≈ `workload/src/lib.rs:31-55`. */
  val named: Map[String, Workload] = Map(
    "wc" -> wc,
    "grep" -> grep,
    "vertex-degree" -> vertexDegree,
    "matrix-multiply-1" -> matrixMultiply1,
    "matrix-multiply-2" -> matrixMultiply2)
}
