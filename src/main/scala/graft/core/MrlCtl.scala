package graft.core

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** CLI analog of the reference control plane (`mrl-ctl`, SURVEY.md
  * §2.12): `submit` runs a named workload as a Spark job; `status`
  * prints the worker (executor) registry and `jobs` the job states —
  * both read from `SparkStatusTracker`, the scheduler's public query
  * surface (the reference answers the same questions from its
  * coordinator's worker registry `mrl-coordinator/src/core.rs:76-103`
  * and job queue `core.rs:106-125`).
  *
  * Usage:
  *   submit --workload wc --input "/data/books/&#42;" --output /out [--partitions 8] [-- aux args...]
  *   status | jobs        (against the session this process owns)
  *
  * `submit` prints the status + jobs report after the run (a one-shot
  * CLI has no long-lived coordinator to query later — the Spark UI /
  * history server is the durable equivalent). The reference's
  * queueing/straggler/heartbeat machinery (mrl-coordinator) is Spark's
  * driver: speculation, task retry and barrier scheduling are config,
  * not code (enable with spark.speculation=true on a real cluster).
  */
object MrlCtl {

  /** "N workers, each state" ≈ reference `status` (core.rs:76-103). */
  def statusReport(spark: SparkSession): String = {
    val execs = spark.sparkContext.statusTracker.getExecutorInfos
    val lines = execs.zipWithIndex.map { case (e, i) =>
      s"  worker $i @ ${e.host}: ${e.numRunningTasks()} running tasks"
    }
    s"${execs.length} workers\n" + lines.mkString("\n")
  }

  /** Listener-backed job registry ≈ the reference's job queue states
    * (Pending→Mapping/Reducing→Completed/Failed,
    * `mrl-coordinator/src/jobs.rs:6-23`) mapped onto Spark's job
    * events. A listener, not statusTracker job groups: AQE materializes
    * shuffle stages from its own thread pool, where the submitting
    * thread's job-group local property does not reach.
    */
  final class JobRegistry extends SparkListener {
    private val states = scala.collection.concurrent.TrieMap.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      states(e.jobId) = "RUNNING"
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      states(e.jobId) = if (e.jobResult == JobSucceeded) "SUCCEEDED" else "FAILED"
    def jobCount: Int = states.size
    def runningCount: Int = states.valuesIterator.count(_ == "RUNNING")
    def report: String = {
      val s = states.toSeq.sortBy(_._1)
      s"${s.length} jobs\n" + s.map { case (id, st) => s"  job $id: $st" }.mkString("\n")
    }
  }

  /** Attach a registry to the session's listener bus. */
  def trackJobs(spark: SparkSession): JobRegistry = {
    val reg = new JobRegistry
    spark.sparkContext.addSparkListener(reg)
    reg
  }

  /** FIFO multi-job queue ≈ the reference coordinator's job queue
    * (`mrl-coordinator/src/jobs.rs:165-268` states
    * Pending→Mapping→Reducing→Completed/Failed;
    * `job_queue.rs:79-119` FIFO drain + failure-triggered cleanup).
    * Spark fuses the map/reduce halves into scheduler stages, so the
    * queue tracks QUEUED→RUNNING→COMPLETED/FAILED; a failing job's
    * partial output is deleted (the reference deletes its temp/output
    * objects) and the queue KEEPS DRAINING — one bad job never wedges
    * the queue.
    */
  final class JobQueue(spark: SparkSession) {
    private case class Entry(
        id: Int, workload: String, input: String, output: String,
        timeoutSec: Option[Long], run: () => Unit)
    private val entries = scala.collection.mutable.ListBuffer.empty[Entry]
    private val states = scala.collection.concurrent.TrieMap.empty[Int, String]
    private val causes = scala.collection.concurrent.TrieMap.empty[Int, Throwable]
    // unique per queue instance so a late watchdog firing can never
    // cancel a job group of ANOTHER queue that reused entry ids
    private val qid = java.util.UUID.randomUUID().toString.take(8)

    /** Enqueue; returns the job's queue id (submit order). `timeoutSec`
      * is the reference's per-job `--timeout` analog
      * (`mrl-ctl/src/args.rs:28-53`, default `TIMEOUT`
      * `mrl-ctl/src/core.rs:13,50`; consumed by `monitor_workers`,
      * `mrl-coordinator/src/job_queue.rs:363-385`): the job's Spark
      * work is aborted once the deadline passes, the entry goes FAILED,
      * its partial output is cleaned, and the queue keeps draining.
      */
    def submit(
        workload: String, input: String, output: String,
        aux: Seq[String] = Nil, partitions: Int = 0,
        timeoutSec: Option[Long] = None): Int =
      submitBody(workload, input, output, timeoutSec)(
        () => MapReduce.runWorkload(spark, workload, input, output, aux, partitions))

    /** The queue seam the named-workload submit wraps: any job body
      * whose Spark work should run under the queue's state machine,
      * failure cleanup (scoped to `output`), and timeout watchdog.
      */
    private[graft] def submitBody(
        workload: String, input: String, output: String,
        timeoutSec: Option[Long])(body: () => Unit): Int = this.synchronized {
      val id = entries.length
      entries += Entry(id, workload, input, output, timeoutSec, body)
      states(id) = "QUEUED"
      id
    }

    def state(id: Int): String = states.getOrElse(id, "UNKNOWN")

    /** The exception that FAILED a job — callers who need the original
      * failure (an embedded submit rethrows it with its real type)
      * rather than the stderr line.
      */
    def failure(id: Int): Option[Throwable] = causes.get(id)

    /** Drain the queue in submit order. The snapshot is taken under the
      * lock but the (long) Spark jobs run outside it, so submit/report
      * stay responsive while a drain is in flight. Each entry is then
      * CLAIMED atomically (QUEUED→RUNNING compare-and-set) before it
      * runs, so two concurrent `runAll()` callers that both snapshot
      * the same QUEUED job cannot execute it twice — the loser of the
      * race skips the entry.
      *
      * Timeout mechanics: a timed entry runs inside its OWN Spark job
      * group (interruptOnCancel) with a daemon watchdog timer that
      * `cancelJobGroup`s at the deadline — the cancelled action throws,
      * landing in the existing FAILED + cleanup path, and the DRAIN
      * LOOP CONTINUES to the next entry. Group ids are unique per
      * (queue, entry), so a watchdog that fires after its job finished
      * cancels nothing that is still running. The deadline bounds the
      * job's SPARK work (tasks are interrupted mid-flight); driver-side
      * code between actions is not interruptible this way, same as the
      * reference's worker-level monitor.
      */
    def runAll(): Unit = {
      val queued = this.synchronized {
        entries.filter(e => states(e.id) == "QUEUED").toList
      }
      queued.foreach { e =>
        if (states.replace(e.id, "QUEUED", "RUNNING")) {
          val path = new org.apache.hadoop.fs.Path(e.output)
          val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // cleanup scope: only what THIS job creates. If the output path
          // pre-exists, failure cleanup must not touch it (the reference
          // deletes a failed job's own objects, never the destination).
          val existedBefore = fs.exists(path)
          val watchdog = e.timeoutSec.map { sec =>
            val groupId = s"mrl-ctl-$qid-job-${e.id}"
            spark.sparkContext.setJobGroup(groupId,
              s"mrl-ctl job ${e.id} (${e.workload}, timeout ${sec}s)",
              interruptOnCancel = true)
            val t = new java.util.Timer(s"mrl-ctl-timeout-$qid-${e.id}", true)
            t.schedule(new java.util.TimerTask {
              override def run(): Unit = {
                System.err.println(
                  s"[mrl-ctl] job ${e.id} (${e.workload}) exceeded ${sec}s — cancelling")
                // the AndFutureJobs variant is load-bearing: plain
                // cancelJobGroup cancels only currently-RUNNING jobs,
                // so a deadline firing in a driver-side gap between a
                // multi-action body's Spark jobs would be silently
                // lost and the entry would run unbounded; the sticky
                // form also fails every job the body submits after
                // the deadline (group ids are per-entry unique, so
                // nothing else is ever affected)
                spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
              }
            }, sec * 1000)
            t
          }
          try {
            e.run()
            states(e.id) = "COMPLETED"
          } catch {
            case ex: Exception =>
              states(e.id) = "FAILED"
              causes(e.id) = ex
              if (!existedBefore && fs.exists(path)) fs.delete(path, true)
              System.err.println(s"[mrl-ctl] job ${e.id} (${e.workload}) FAILED: ${ex.getMessage}")
          } finally {
            watchdog.foreach(_.cancel())
            if (e.timeoutSec.isDefined) spark.sparkContext.clearJobGroup()
          }
        }
      }
    }

    /** Submit-order report, reference `jobs` shape. */
    def report: String = this.synchronized {
      s"${entries.length} jobs\n" + entries.map { e =>
        s"  job ${e.id}: ${states(e.id)} (${e.workload} -> ${e.output})"
      }.mkString("\n")
    }
  }

  /** Job states ≈ reference `jobs` (core.rs:106-125). Waits (bounded)
    * for the async listener bus to deliver the run's events — not just
    * the first JobStart but the matching JobEnds too, so a completed
    * run never reports a stale RUNNING (the bus delivers events on its
    * own thread after the action returns). Polls the registry rather
    * than `listenerBus.waitUntilEmpty`, which is private[spark].
    */
  def jobsReport(spark: SparkSession, reg: JobRegistry): String = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while ((reg.jobCount == 0 || reg.runningCount > 0) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    reg.report
  }

  def main(args: Array[String]): Unit = {
    val (flags, aux) = args.indexOf("--") match {
      case -1 => (args.toSeq, Nil)
      case i => (args.take(i).toSeq, args.drop(i + 1).toSeq)
    }
    val opts = flags.drop(1).grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def session(): (SparkSession, Boolean) = {
      val preexisting =
        SparkSession.getActiveSession.isDefined ||
        SparkSession.getDefaultSession.isDefined
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-mrl-ctl")
        // one reduce task per core local[*] uses, not a fixed count
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS",
            Runtime.getRuntime.availableProcessors.toString))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      (spark, preexisting)
    }
    flags.headOption match {
      case Some("status") =>
        val (spark, preexisting) = session()
        println(statusReport(spark))
        if (!preexisting) spark.stop()
      case Some("jobs") =>
        // a fresh one-shot session has run nothing yet — the report is
        // the (empty) registry; embedded callers use trackJobs+submit
        val (spark, preexisting) = session()
        println(trackJobs(spark).report)
        if (!preexisting) spark.stop()
      case Some("submit") =>
        // reuse a live session when embedded (tests/driver); only own —
        // and only stop — a session this invocation created. Check the
        // default session too: getActiveSession is thread-local and
        // would miss a session created on another thread.
        val (spark, preexisting) = session()
        val reg = trackJobs(spark)
        // one-entry queue: the submit path and the queue share ONE
        // state machine (timeout watchdog, failure cleanup, states)
        val queue = new JobQueue(spark)
        val id = queue.submit(
          opts("workload"), opts("input"), opts("output"), aux,
          opts.getOrElse("partitions", "0").toInt,
          opts.get("timeout").map(_.toLong))
        queue.runAll()
        val st = queue.state(id)
        println(s"job ${st.toLowerCase}: ${opts("workload")} -> ${opts("output")}")
        println(statusReport(spark))
        println(jobsReport(spark, reg))
        if (!preexisting) spark.stop()
        if (st != "COMPLETED") {
          // embedded callers (a live session we did not create) get the
          // ORIGINAL failure rethrown with its real type — sys.exit
          // would kill the HOST JVM (test runner / driver) on a job
          // failure it used to be able to catch, and a wrapper type
          // would break callers matching on the cause (MrlCtlSpec
          // expects the registry's IllegalArgumentException); only a
          // CLI-owned process exits nonzero
          if (preexisting)
            throw queue.failure(id).getOrElse(new RuntimeException(
              s"mrl-ctl job $st: ${opts("workload")} -> ${opts("output")}"))
          sys.exit(1)
        }
      case other =>
        System.err.println(
          s"unknown command $other; usage: submit|status|jobs; submit --workload W " +
            "--input GLOB --output DIR [--partitions N] [--timeout SEC] [-- aux...]")
        sys.exit(2)
    }
  }
}
