package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: one workload in a fresh JVM, driven as a
  * closed loop by a single client (each operation starts when the
  * previous one has returned).
  *
  * Sequence: set up (session + untimed warm-up); one cold pass; warm
  * passes until `--seconds` have been spent and at least `--min-warm`
  * warm passes ran; in a traced run, direct rank-loop calls. Set-up time
  * runs from the JVM's launch (`--launch-ms`, taken by the launcher just
  * before it starts the JVM) until the warm-up has returned. Every operation is
  * timed from outside, then (untimed) its output is digested, a full GC
  * measures the heap it left live, and leftover cached blocks are
  * counted and cleared. Raw samples go to `--out` as JSON; the Python
  * side (perfbench/run.py) checks digests and computes the metrics.
  *
  * A traced run (`--trace 1`) records spans and Spark job, stage and task
  * events, and alternates traced and untraced warm passes so that the
  * tracing overhead can be read off the same run.
  *
  * `--oracle-sql <names>` instead writes the named queries' DuckDB oracle
  * SQL (from SparkEntry.oracleSql) to `--out` and exits.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("oracle-sql")) {
      val all = SparkEntry.oracleSql
      val names = opts("oracle-sql").split(",").toSeq
      Files.writeString(Paths.get(opts("out")), Json.obj(names.map(n => n -> Json.str(all(n)))))
      return
    }
    new Harness(opts).run()
  }
}

final class Harness(opts: Map[String, String]) {
  private val workloadName = opts("workload")
  private val data = opts("data")
  private val work = opts("work")
  private val cores = opts("cores").toInt
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val minWarm = math.max(opts("min-warm").toInt, if (traced) 2 else 1)
  private val launchMs = opts("launch-ms").toLong

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // graft.Bench's setting: keeps every pass's generated code cached
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session plus the untimed warm-up: one small shuffle job. */
  private def setUp(): (SparkSession, Workload) = {
    val s = newSession()
    s.range(0L, 100000L, 1L, cores).selectExpr("id % 101 AS k").groupBy("k").count().collect()
    (s, Workloads(workloadName, data, work, opts))
  }

  private def heapUsedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(): Unit = {
    val (spark, workload) = setUp()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    val trace = if (traced) Some(new Trace(spark)) else None
    val records = mutable.ArrayBuffer.empty[String]
    val passRecords = mutable.ArrayBuffer.empty[String]
    var opId = 0

    def runOp(op: Op, pass: Int, tracedPass: Boolean): Double = {
      val t = if (tracedPass) trace else None
      t.foreach(_.drain())
      val before = t.map(_.jvmCounters())
      val ctx = new Ctx(spark, t, opId)
      val t0 = System.nanoTime()
      val result =
        try Right(t.fold(op.run(ctx))(_.span("op", opId)(op.run(ctx))))
        catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val digest = result.flatMap { check =>
        try Right(check()) catch { case e: Throwable => Left(e) }
      }
      t.foreach(_.drain())
      val counters = (before, t.map(_.jvmCounters())) match {
        case (Some(b), Some(a)) => a.map { case (k, v) => k -> (v - b(k)) }
        case _ => Map.empty[String, Double]
      }
      val heap = heapUsedMb()
      val left = spark.sparkContext.getPersistentRDDs.size
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      digest.left.foreach { e =>
        System.err.println(s"[perfbench] ${op.name} (pass $pass) failed: $e")
      }
      records += Json.obj(Seq(
        "id" -> opId.toString, "pass" -> pass.toString, "name" -> Json.str(op.name),
        "traced" -> tracedPass.toString, "wall_s" -> Json.num(wall),
        "heap_mb" -> Json.num(heap), "ckpt_left" -> left.toString,
        "rows" -> digest.map(_.rows.toString).getOrElse("null"),
        "sha" -> digest.map(d => Json.str(d.sha)).getOrElse("null"),
        "error" -> digest.fold(e => Json.str(e.toString), _ => "null"),
        "counters" -> Json.obj(counters.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
      opId += 1
      wall
    }

    def runPass(pass: Int, tracedPass: Boolean): Double = {
      workload.beforePass()
      val wall = workload.ops(pass).map(runOp(_, pass, tracedPass)).sum
      val facts = if (tracedPass) workload.passFacts(pass) else Map.empty[String, Double]
      passRecords += Json.obj(Seq("pass" -> pass.toString, "traced" -> tracedPass.toString,
        "wall_s" -> Json.num(wall)) ++ facts.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
      wall
    }

    // closed loop: cold pass, then warm passes; a traced run alternates
    // traced and untraced warm passes, starting traced
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var pass = 0
    while (pass == 0 || pass <= minWarm || elapsed < seconds) {
      runPass(pass, traced && (pass == 0 || pass % 2 == 1))
      pass += 1
    }

    // direct rank-loop calls (traced only), each on an edge frame
    // materialized before its timed window
    val probe = mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- trace; (dir, names) <- workload.rankProbe) {
      var edgeRows = 0L
      val rounds = Workloads.rankOps(names).map { case (r, op) =>
        val edges = Workloads.linkEdges(spark, dir).localCheckpoint()
        edgeRows = edges.count()
        runOp(op(edges), -1, tracedPass = true)
        graft.ops.Checkpoints.release(edges)
        r
      }
      probe += "edge_rows" -> edgeRows.toString
      probe += "rounds" -> rounds.sum.toString
    }

    trace.foreach(_.detach())
    val traceJson = trace.map { t =>
      Seq(
        "spans" -> Json.arr(t.spans.toSeq.map(s => Json.arr(Seq(s.id.toString, s.parent.toString,
          Json.str(s.name), s.op.toString, Json.num(s.startMs), Json.num(s.endMs))))),
        "jobs" -> Json.arr(t.jobs.values.toSeq.map(j => Json.arr(Seq(j.id.toString,
          j.op.toString, j.span.toString, Json.num(j.startMs), Json.num(j.endMs))))),
        "stages" -> Json.arr(t.stages.values.toSeq.map(s => Json.obj(Seq(
          "id" -> s.id.toString, "op" -> s.op.toString, "tasks" -> s.tasks.toString,
          "busy_ms" -> s.busyMs.toString, "shuffle_read" -> s.shuffleRead.toString,
          "shuffle_write" -> s.shuffleWrite.toString,
          "shuffle_records" -> s.shuffleRecords.toString, "spill" -> s.spill.toString,
          "output_records" -> s.outputRecords.toString,
          "task_reads" -> Json.arr(s.taskReads.toSeq.map(_.toString)))))))
    }.getOrElse(Nil)
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> Json.str(workloadName), "cores" -> cores.toString,
      "setup_s" -> Json.num(setupS),
      "ops" -> Json.arr(records.toSeq), "passes" -> Json.arr(passRecords.toSeq),
      "probe" -> Json.obj(probe.toSeq)) ++ traceJson)
    Files.write(Paths.get(opts("out")), out.getBytes(UTF_8))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
