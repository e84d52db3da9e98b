package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Every node of `df`'s EXECUTED plan, unwrapping the AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec / ReusedExchange). Run an
    * action on `df` FIRST — assertions on the pre-execution sparkPlan
    * are vacuous (EnsureRequirements adds exchanges and AQE finalizes
    * stages only at execution; the LshSpec lesson).
    */
  def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    executedNodes(df.queryExecution.executedPlan)

  /** [[executedNodes]] of an executed physical plan. */
  def executedNodes(plan: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    all(plan)
  }

  /** Asserts `df`'s executed plan contains no WindowExec — the
    * group-stripe-free contract of the GlobalRank migrations (q54,
    * q120, q172, q179). Non-vacuous by construction: callers run an
    * action first and `executedNodes` traverses the finalized AQE plan.
    */
  def assertNoWindowExec(df: org.apache.spark.sql.DataFrame): Unit =
    assert(!executedNodes(df)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "corpus-proportional window survived the GlobalRank migration:\n" +
        df.queryExecution.executedPlan)
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
