package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the cluster-formation step
  * that turns pairwise near-dup matches into dedup groups
  * (cluster id = min vertex id in the component).
  *
  * Two forms behind [[auto]]'s edge-count threshold:
  *
  *  - [[hashMinLocal]]: hash-min label propagation (each round every
  *    vertex takes the min label over its neighborhood ∪ itself),
  *    O(diameter) rounds, with the edge list collapsed to ONE partition
  *    so each round is a single task instead of shuffle-partition
  *    scheduler overhead. Right when the pair graph is
  *    driver-small (the common case: near-dup graphs are orders of
  *    magnitude smaller than the corpus).
  *
  *  - [[largeStarSmallStar]]: the alternating large-star/small-star
  *    algorithm (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", SoCC'14 — public algorithm, reimplemented on DataFrame
  *    windows). Each phase is one window-aggregate shuffle keyed by
  *    vertex + a distinct; converges in O(log n) rounds on any graph
  *    (vs O(diameter) for hash-min — a 1000-hop chain of boilerplate
  *    docs needs ~10 rounds, not ~1000). No coalesce, no driver-side
  *    graph: this is the 100 TB path.
  *
  * Both return (v, cluster_id) for every vertex incident to an edge.
  * Eager by necessity (fixpoint detection needs per-round actions);
  * every intermediate is localCheckpoint'ed/unpersisted so no cached
  * state leaks out.
  */
object ConnectedComponents {

  /** Pick the form by edge count. The threshold applies to the
    * SYMMETRIZED, deduplicated edge list (≈ 2× the input pair count —
    * that is what [[dsuLocal]] collects, so the driver-memory sizing
    * reasons about exactly this number); a graph at or below
    * `localThreshold` such edges runs the driver-local union-find,
    * bigger graphs run keyed large-star/small-star.
    */
  def auto(pairs: DataFrame, localThreshold: Long = 1000000L): DataFrame = {
    // materialize the edge set ONCE: the threshold probe is an action,
    // and without this the whole upstream pair pipeline (e.g. q21's
    // shingle+minhash run) would execute twice — once for the count,
    // once for the iteration
    val e = Checkpoints.local(symCanonical(pairs))
    // both branches eagerly materialize their own working copy as
    // their first step, so the probe frame can be released afterwards
    val result =
      if (e.count() <= localThreshold) dsuLocal(e)
      else largeStarSmallStar(e)._1
    Checkpoints.release(e)
    result
  }

  /** Union-find over the COLLECTED edge list — the right physical form
    * when the pair graph is driver-small: even a 100 TB corpus's
    * near-dup pair graph is typically orders of magnitude smaller than
    * the corpus, and one O(E α(V)) in-memory pass replaces a Spark job
    * per propagation round (each round of the distributed forms costs
    * scheduling + a checkpoint — more than the whole DSU on small
    * graphs). This is deliberately NOT the distributed operator: it is
    * the under-threshold branch of [[auto]], which switches to keyed
    * [[largeStarSmallStar]] past `localThreshold` (1M edges collected
    * as specialized primitive tuples ≈ 40 MB of driver heap including
    * object headers — comfortably driver-safe). Union-by-min keeps the
    * invariant root(x) = min(component(x)), so labels agree exactly
    * with both distributed forms (CcSpec pins the three-way agreement).
    * Vertex ids must be integral (cast to long).
    */
  def dsuLocal(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = pairs.toDF("a", "b")
      .select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // union by MIN root (not by rank): the root stays the component
      // minimum, which IS the cluster-id contract
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    // snapshot the key set before labeling: find() path-compresses into
    // the same map, and iterating a mutable map under mutation is
    // formally undefined even when only values change
    val ks = parent.keys.toArray
    val labels = ks.map(v => (v, find(v))).toSeq
    s.createDataFrame(labels).toDF("v", "cluster_id")
  }

  /** Incremental label maintenance — the dedup family's batch-vs-corpus
    * posture ([[Lsh.incrementalCandidates]]' counterpart for cluster
    * formation): fold a NEW batch of pair edges into PERSISTED labels
    * without rescanning the old edge set.
    *
    * Correctness rests on labels being a CONTRACTION of the old graph:
    * two old vertices are connected iff they share a cluster_id, so
    * CC(E_old ∪ E_batch) on old vertices is decided by
    * CC(star(labels) ∪ E_batch) — and after translating every labeled
    * batch endpoint to its representative (the cluster_id, which is
    * itself the component-minimum member id), the whole computation
    * collapses to CC over a BATCH-SIZED graph of representatives and
    * never-seen vertices. Merged components keep the min-id contract:
    * each representative IS its old component's minimum, so the min
    * over merged representatives/new ids is the true global minimum.
    *
    * Scale shape: the corpus-sized labels frame is only ever SCANNED,
    * never shuffled — every join against it puts a batch-sized frame on
    * a broadcast side: the endpoint restriction is a broadcast
    * left-semi (labels filtered scan-side to the batch's endpoints),
    * the translate joins broadcast the resulting batch-sized rep map,
    * the re-rooted-cluster delta and the fresh-vertex anti-join work
    * entirely off that same rep map, and the final relabel broadcasts
    * the delta into a scan of labels. The CC iteration runs on the
    * translated batch graph. O(|batch|) shuffled bytes per drop, like
    * [[IvfIndex.appendSaved]] (CcIncrementalSpec pins the plan: no
    * shuffle or sort-merge join touches the labels frame).
    *
    * Returns (v, cluster_id) for every previously-labeled vertex plus
    * every batch vertex — row-identical to a from-scratch [[auto]]
    * over the merged edge set (CcIncrementalSpec).
    */
  def updateLabels(
      labels: DataFrame,
      batch: DataFrame,
      localThreshold: Long = 1000000L): DataFrame = {
    // labels is scanned twice (endpoint semi-filter + final relabel).
    // If it is already a materialized/at-rest frame (checkpoint RDD,
    // local rows, parquet table — possibly under projections), caching
    // a corpus-sized COPY to save one re-scan is exactly backwards at
    // 100 TB: the two scans are pruned columnar reads, the cache is a
    // full-table materialization. Only checkpoint a labels frame with
    // real compute in its lineage (e.g. a fresh CC run piped straight
    // in).
    val cheapLabels = isRescanCheap(labels)
    val l =
      if (cheapLabels) labels.toDF("v", "cluster_id")
      else Checkpoints.local(labels.toDF("v", "cluster_id"))
    val e = Checkpoints.local(symCanonical(batch))
    // materialize the batch-sized rep map ONCE (it feeds both translate
    // joins plus the rep probe below); labels streams through its scan
    val repMap = Checkpoints.local(batchRepMap(l, e))
    val translated = translateWith(repMap, e)
    // CC over the contracted batch graph: vertices are old
    // representatives and never-labeled ids (the id spaces cannot
    // collide — every cluster_id is itself a labeled vertex)
    // auto()'s distributed tier returns an ALREADY-checkpointed frame;
    // checkpointing again and releasing only the outer copy would leak
    // the inner blocks forever (round-9 review) — materialize the
    // outer copy first, then release every checkpoint in the inner
    // plan (Checkpoints.release walks all LogicalRDD leaves)
    val ccRaw = auto(translated, localThreshold)
    val cc = Checkpoints.local(ccRaw)
    Checkpoints.release(ccRaw)
    // the only representatives that can appear in cc are those of the
    // batch's labeled endpoints — i.e. repMap's cluster_ids — so the
    // rep probe is batch-sized (a distinct over repMap, NOT over the
    // corpus labels)
    val repSet = repMap.select(col("cluster_id").as("rep")).distinct()
    // old clusters the batch re-rooted → a batch-sized relabel delta
    val delta = cc.join(broadcast(repSet), cc("v") === repSet("rep"))
      .filter(cc("v") =!= cc("cluster_id"))
      .select(cc("v").as("old_root"), cc("cluster_id").as("new_root"))
    val updatedOld = l
      .join(broadcast(delta), l("cluster_id") === delta("old_root"), "left")
      .select(l("v"), coalesce(col("new_root"), l("cluster_id")).as("cluster_id"))
    // never-labeled batch vertices take their CC label directly: a cc
    // vertex is labeled iff it is one of repMap's representatives
    // (cluster_ids are themselves labeled vertices, so an id absent
    // from labels cannot equal any cluster_id)
    val fresh = cc
      .join(broadcast(repSet.select(col("rep").as("v"))), Seq("v"), "left_anti")
      .select(col("v"), col("cluster_id"))
    val result = Checkpoints.local(updatedOld.union(fresh))
    (if (cheapLabels) Seq(e, cc, repMap) else Seq(l, e, cc, repMap))
      .foreach(Checkpoints.release)
    result
  }

  /** A frame whose re-scan costs no recompute: leaf data (checkpoint
    * RDD, local rows, file/table relation) under any chain of pure
    * column-level ops (project/filter/alias). Anything with a join,
    * aggregate, or other multi-child/blocking node in the lineage
    * re-executes on each consumer and is worth materializing.
    */
  private[graft] def isRescanCheap(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def cheap(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case u: UnaryNode =>
        (u.isInstanceOf[Project] || u.isInstanceOf[Filter] ||
          u.isInstanceOf[SubqueryAlias]) && cheap(u.child)
      case _ => false
    }
    cheap(df.queryExecution.analyzed)
  }

  /** Labels restricted to the batch's endpoint set via a broadcast
    * LEFT-SEMI: the corpus-sized labels frame streams through its scan
    * (the only shuffle in this plan is the batch-sized endpoint
    * distinct, and it sits UNDER the broadcast exchange). Output is
    * batch-sized. Package-private so CcIncrementalSpec can assert the
    * physical plan.
    */
  private[graft] def batchRepMap(l: DataFrame, e: DataFrame): DataFrame = {
    val endpoints = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v"))).distinct()
    l.join(broadcast(endpoints), Seq("v"), "left_semi")
  }

  /** Map each edge endpoint to its representative by broadcasting the
    * batch-sized rep map twice (once per endpoint). With a materialized
    * rep map and edge list this plan is shuffle-free. Package-private
    * for CcIncrementalSpec's plan assertion.
    */
  private[graft] def translateWith(repMap: DataFrame, e: DataFrame): DataFrame =
    e.join(broadcast(repMap.select(col("v").as("a"), col("cluster_id").as("rep_a"))),
        Seq("a"), "left")
      .join(broadcast(repMap.select(col("v").as("b"), col("cluster_id").as("rep_b"))),
        Seq("b"), "left")
      .select(
        coalesce(col("rep_a"), col("a")).as("a"),
        coalesce(col("rep_b"), col("b")).as("b"))

  /** (a, b) both directions, self-loops dropped, distinct. */
  private def symCanonical(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("a", "b")
    p.union(p.select(col("b"), col("a")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Hash-min label propagation on one partition — O(diameter) rounds,
    * single task per round. The labels-only-decrease invariant makes
    * sum(lbl) a cheap fixpoint check (no diff join); sum over an EMPTY
    * frame is NULL-coalesced to 0 so a pairless input converges
    * immediately. Each round localCheckpoints: `labels` feeds the next
    * round TWICE (directly + through the propagation join), so without
    * lineage truncation the logical plan doubles per round —
    * exponential planning cost on long-diameter graphs.
    */
  def hashMinLocal(pairs: DataFrame): DataFrame =
    hashMinEdges(symCanonical(pairs).coalesce(1))

  private def hashMinEdges(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = Checkpoints.local(edges0)
    // init = hash-min round 1 fused into the vertex dedup: lbl(v) =
    // min(v, min over neighbors) — one groupBy instead of a distinct
    // plus a full first iteration
    var labels = Checkpoints.local(edges.groupBy($"a")
      .agg(least($"a", min($"b")).as("lbl"))
      .select($"a".as("v"), $"lbl"))
    var sum0 = labels.agg(coalesce(sum($"lbl"), lit(0L))).first().getLong(0)
    var done = false
    while (!done) {
      val prop = edges.join(labels, $"b" === $"v")
        .select($"a".as("v"), $"lbl")
      val next = Checkpoints.local(labels.union(prop)
        .groupBy($"v").agg(min($"lbl").as("lbl")))
      val sum1 = next.agg(coalesce(sum($"lbl"), lit(0L))).first().getLong(0)
      Checkpoints.release(labels)
      labels = next
      done = sum1 == sum0
      sum0 = sum1
    }
    val result = Checkpoints.local(labels.select($"v", $"lbl".as("cluster_id")))
    Checkpoints.release(labels)
    Checkpoints.release(edges)
    result
  }

  /** Large-star: every vertex connects its strictly-larger neighbors to
    * the minimum of its closed neighborhood. Neighborhood minima come
    * from a partial-aggregable groupBy + an equi-join back on the
    * vertex — NOT a window: a window partition holds a vertex's whole
    * neighborhood and sorts it (a 10^8-degree hub breaks that task),
    * while the hash-agg min is combined map-side and the join is
    * AQE-skew-splittable.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val d = e.union(e.select(col("b"), col("a"))).toDF("u", "v")
    val mins = d.groupBy("u").agg(least(col("u"), min("v")).as("m"))
    d.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Small-star: every vertex connects its smaller-or-equal neighbors
    * (and itself) to the minimum among them. Same groupBy+join shape as
    * [[largeStar]] for the same skew reason.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val d = e.toDF("x", "y")
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = d.groupBy("u").agg(min("v").as("m"))
    val withM = d.join(mins, "u")
    withM.select(col("v").as("a"), col("m").as("b"))
      .union(withM.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Alternate large-star/small-star until the edge set is a fixed star
    * forest, then read labels off the stars. Returns (labels, rounds).
    * Per-round localCheckpoint keeps the plan from compounding across
    * iterations; the fixpoint check is an exact set comparison (count +
    * except), never a hashed fingerprint that could collide into a
    * premature stop.
    */
  def largeStarSmallStar(pairs: DataFrame, maxRounds: Int = 64): (DataFrame, Int) = {
    val s = pairs.sparkSession
    import s.implicits._
    var e = Checkpoints.local(symCanonical(pairs)
      .select(greatest($"a", $"b").as("a"), least($"a", $"b").as("b"))
      .distinct())
    var n = e.count()
    var rounds = 0
    var done = n == 0
    while (!done && rounds < maxRounds) {
      val next = Checkpoints.local(smallStar(largeStar(e)))
      val n1 = next.count()
      done = n1 == n && next.except(e).limit(1).count() == 0
      // release the superseded round's checkpoint blocks — up to
      // maxRounds edge-list copies would otherwise stay cached for the
      // session's lifetime
      Checkpoints.release(e)
      e = next
      n = n1
      rounds += 1
    }
    // materialize the labels so the final edge frame can be released too
    val labels = Checkpoints.local(e.select($"a".as("v"), $"b".as("lbl"))
      .union(e.select($"b".as("v"), $"b".as("lbl")))
      .groupBy($"v").agg(min($"lbl").as("cluster_id")))
    Checkpoints.release(e)
    (labels, rounds)
  }
}
