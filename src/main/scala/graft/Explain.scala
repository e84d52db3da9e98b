package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps explain("formatted") for every registered query to
  * EXPLAINS.md — the plan-shape evidence behind SCALING.md (pushdown,
  * pruning, broadcast, partial aggregation, top-k operators).
  *
  * Each query is EXECUTED first (collect at sf0.001) so the dump shows
  * the AQE FINAL plan, not the initial one: multi-consumer queries
  * (q86/q88/q93/q94) get their `ReusedExchange` from AQE at runtime,
  * and the round-6 review caught the initial-plan dump contradicting
  * the SCALING.md reuse claims the specs actually pin.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "EXPLAINS.md"
    // optional 3rd arg: comma-separated query-name filter (the Verify/
    // Bench convention) — lets a plan capture target a handful of
    // queries at a LARGER sf (where e.g. the two-tier graph operators
    // take their distributed tier) without executing all of them there.
    // Unknown names fail loudly, same rule as Bench.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").filter(_.nonEmpty).toSet) else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.allQueries.map(_.name).toSet
      if (unknown.nonEmpty) {
        System.err.println(s"[explain] unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
      }
    }
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.allQueries.map(_.name)
      .filter(n => only.forall(_.contains(n)))
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted plans of every registered query\n\n")
    sb.append(s"Generated by `graft.Explain` at $sfDir (all ${names.length}\n")
    sb.append("`SparkEntry.queries`), POST-EXECUTION: every query is run\n")
    sb.append("first, so AQE-final plans are shown (`isFinalPlan=true` on\n")
    sb.append("adaptive subtrees). The properties SCALING.md claims are\n")
    sb.append("visible here: `PushedFilters`/`ReadSchema` on every scan,\n")
    sb.append("broadcast exchanges only on dimensions, partial+final\n")
    sb.append("HashAggregate pairs, TakeOrderedAndProject for top-k, shuffles\n")
    sb.append("only at the declared keys, and `ReusedExchange`/`Scan\n")
    sb.append("ExistingRDD` where a multi-consumer stream is shared\n")
    sb.append("(q86/q88/q93/q94).\n")
    names.foreach { name =>
      // one scope per query: its checkpoints are freed before the next
      val (executed, plan) = graft.ops.Checkpoints.scope {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // execute THIS QueryExecution (collect, not count — count wraps
        // the plan in a fresh aggregate and leaves this one un-run) so
        // the explain below reflects the adaptive final plan
        val executed =
          try { df.collect(); true }
          catch { case e: Throwable =>
            System.err.println(s"[explain] $name failed to execute: $e")
            false
          }
        (executed, df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      // a failed execution falls back to the INITIAL plan — mark it,
      // or a reader audits pre-AQE artifacts under a header promising
      // final plans
      val marker = if (executed) "" else " (FAILED to execute — INITIAL plan, not AQE-final)"
      sb.append(s"\n## $name$marker\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
