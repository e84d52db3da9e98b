package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) over an
  * undirected weighted graph — community detection for the host graph:
  * mirror rings, syndication networks, and link farms surface as
  * label-coherent clusters without any seed list.
  *
  * Semantics (fully deterministic, exact — no floats anywhere):
  * every node starts labeled with itself; each synchronized round
  * relabels every node to the label carrying the MOST edge weight
  * among its neighbors' current labels, breaking weight ties by the
  * SMALLEST label string; a node with no neighbors keeps its label.
  * Fixed round count (the engine's fixed-iteration discipline —
  * PageRank/HITS run the same way) rather than convergence detection:
  * LPA oscillates on bipartite structures under synchronous update, so
  * production runs bound rounds anyway.
  *
  * The argmax is engine-portable the q214 way: Spark evaluates
  * `min(struct(-weight, label))` (lexicographic struct order = highest
  * weight, then smallest label), the DuckDB mirror ([[sqlCtes]]) an
  * independent `ROW_NUMBER ... ORDER BY w DESC, label ASC` — two
  * evaluations of the same total order, so the oracle hash is a real
  * cross-check, not an echo.
  *
  * Scale shape per round: ONE hash join (edge frame × label frame on
  * the neighbor key) and TWO map-side-combinable aggs ((node, label)
  * weight sum, then the per-node argmax) — the q223 per-round shape.
  * On the HOST graph (the granularity community detection wants —
  * millions of nodes at web scale, not billions of pages) every frame
  * is hosts-sized.
  */
object LabelProp {

  /** `edges`: (a STRING, b STRING, w BIGINT) — directed input; the op
    * symmetrizes internally (weight of {u,v} = w(u→v) + w(v→u)) and
    * drops self-loops. Returns (host, community) after `rounds`. */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    // the loop frames checkpoint once and each round's label frame
    // supersedes its predecessor (the PageRank id loop's
    // discipline) — without this, round r's lineage would re-run the
    // upstream extraction scan r times per join side
    val e0 = Checkpoints.local(edges)
    val noLoops = e0.filter(col("a") =!= col("b"))
    val sym = Checkpoints.local(noLoops
      .select(col("a"), col("b"), col("w"))
      .unionAll(noLoops.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("w")).cast("long").as("w")))
    val nodes = e0.select(col("a").as("host"))
      .unionAll(e0.select(col("b").as("host")))
      .distinct()
    var lab = Checkpoints.local(nodes.withColumn("label", col("host")))
    Checkpoints.release(e0)
    for (_ <- 1 to rounds) {
      val contrib = sym
        .join(lab.select(col("host").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label"))
        .agg(sum(col("w")).cast("long").as("s"))
      val best = contrib
        .groupBy(col("a").as("host"))
        .agg(min(struct((-col("s")).as("ns"), col("label").as("l"))).as("win"))
        .select(col("host"), col("win.l").as("new_label"))
      val next = Checkpoints.local(lab.join(best, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("new_label"), col("label")).as("label")))
      Checkpoints.release(lab)
      lab = next
    }
    Checkpoints.release(sym)
    lab.select(col("host"), col("label").as("community"))
  }

  /** The DuckDB mirror: expects a CTE `hedges`(a, b, w) in scope;
    * emits CTE defs ending in `lpafin`(host, community). */
  def sqlCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("""
        sym AS (
          SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
            SELECT a, b, w FROM hedges WHERE a <> b
            UNION ALL
            SELECT b AS a, a AS b, w FROM hedges WHERE a <> b) x
          GROUP BY a, b),
        lnodes AS (
          SELECT DISTINCT host FROM (
            SELECT a AS host FROM hedges UNION ALL SELECT b FROM hedges) x),
        lpa0 AS (SELECT host, host AS label FROM lnodes)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
        lc$r AS (
          SELECT s.a, l.label, CAST(sum(s.w) AS BIGINT) AS s
          FROM sym s JOIN lpa${r - 1} l ON s.b = l.host
          GROUP BY 1, 2),
        lw$r AS (
          SELECT a, label, ROW_NUMBER() OVER (
            PARTITION BY a ORDER BY s DESC, label ASC) AS rn
          FROM lc$r),
        lpa$r AS (
          SELECT p.host, coalesce(w.label, p.label) AS label
          FROM lpa${r - 1} p
          LEFT JOIN (SELECT a, label FROM lw$r WHERE rn = 1) w
            ON p.host = w.a)""")
    }
    sb.append(s""",
        lpafin AS (
          SELECT host, label AS community FROM lpa$rounds)""")
    sb.toString
  }
}
