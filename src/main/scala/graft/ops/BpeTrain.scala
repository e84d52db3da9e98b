package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich, Haddow, Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-training pass of an LLM data pipeline, distributed.
  *
  * Classic BPE trains on the WORD-FREQUENCY dictionary, not the raw
  * corpus: a word contributes its adjacent-pair counts weighted by its
  * corpus frequency. That makes the scale shape the q96 posture — the
  * corpus-sized work is ONE tokenize+count aggregation (map-side
  * combined, text never shuffles past it); every merge round then runs
  * on the |vocab| frame. localCheckpoint per rewrite keeps the lineage
  * linear across rounds, with every superseded checkpoint unpersisted
  * (the q45/q96 eager-iteration discipline — thousands of real merge
  * rounds must not accumulate thousands of cached vocab copies).
  *
  * '''Batched rounds''' (the driver-round-trip amortization a real
  * 30k-merge tokenizer needs): strict greedy BPE costs one candidate
  * collect + one rewrite per merge — 2 driver round-trips × rounds.
  * [[trainBatched]] instead takes, per JOB round, the longest prefix
  * of the (count desc, left asc, right asc)-sorted candidate list
  * whose pairs are pairwise SYMBOL-DISJOINT (capped at `batchK`), and
  * applies the whole prefix in ONE rewrite — O(rounds/batchK) jobs
  * when the candidate stream stays disjoint (BpeSpec's 256-merge demo
  * pins the job count via a listener). Disjointness PLUS the
  * merged-string aliasing guard (see [[disjointPrefix]]) make the
  * batch WELL-DEFINED (no element changes another's count, so the
  * recorded pair_counts are the pre-batch counts greedy would have
  * seen), but
  * batch ≡ strict greedy only when no merge in the batch creates a
  * NEW pair that outranks a later batch element — a merged pair (x,
  * a+b) inherits count ≤ count(a,b), so well-separated count tiers
  * are safe (BpeSpec pins bit-equality with the greedy replica on
  * such a fixture) while adversarial ties can reorder. [[train]]
  * (q97's path) is `batchK = 1`, which IS strict greedy.
  *
  * Determinism: pair counts are exact integer sums; the candidate
  * order is (count desc, left asc, right asc) with strings compared
  * as UTF-8 bytes in BOTH tiers (Spark's binary collation — Java's
  * UTF-16 compareTo disagrees on supplementary-plane code points); no
  * RNG anywhere. Rewrites apply each merge left-to-right (so "aaa"
  * under merge (a,a) becomes ["aa","a"], the published greedy
  * semantics) and batch merges in candidate order; words split into
  * CODE-POINT symbols — a surrogate-pair character is one symbol,
  * never two lone surrogates. Same corpus → bit-identical merge
  * table, every run and every tier (BpeSpec pins run-over-run and
  * tier equality plus a local-replica agreement).
  */
object BpeTrain {

  /** End-of-word marker (kept distinct from every real character). */
  val EndOfWord = "</w>"

  /** Code-point symbol split (surrogate-pair safe) + end marker. */
  def symbols(word: String): Array[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp))) :+ EndOfWord

  /** Apply one merge rule left-to-right to a symbol sequence. */
  def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Longest prefix of the sorted candidate list whose pairs are
    * pairwise symbol-disjoint AND free of merged-symbol aliasing,
    * capped at `batchK` — the batch selection rule, shared verbatim by
    * both tiers. Stops at the FIRST conflicting candidate (a
    * conflicting pair's count would change under an earlier batch
    * element, so taking it — or anything after it out of order — would
    * not be greedy).
    *
    * The aliasing guard: applying (a, b) creates symbols whose STRING
    * is a+b; if a later candidate names a symbol with that exact
    * string (possible when an identical symbol already exists in the
    * vocab — e.g. batch ("a","bc") with an existing "abc" symbol and
    * candidate ("abc", x)), the earlier merge changes the later
    * candidate's true count even though the symbol OBJECTS are
    * disjoint. Rejecting candidates that mention any earlier batch
    * element's merged string restores the invariant the batch relies
    * on: every recorded pair_count is exactly the count sequential
    * greedy would have seen.
    */
  private[graft] def disjointPrefix(
      sorted: Seq[(String, String, Long)],
      batchK: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val merged = scala.collection.mutable.HashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = sorted.iterator
    var stop = false
    while (!stop && out.length < batchK && it.hasNext) {
      val c @ (a, b, _) = it.next()
      if (used.contains(a) || used.contains(b) ||
        merged.contains(a) || merged.contains(b)) stop = true
      else { out += c; used += a; used += b; merged += (a + b) }
    }
    out.toSeq
  }

  /** Top-`k` candidates under the (count desc, left asc, right asc)
    * UTF-8 total order via a bounded heap — one linear pass, no full
    * sort of the distinct-pair set (at batchK = 1 this is the plain
    * argmax the strict-greedy path needs).
    */
  private def topCandidates(
      counts: scala.collection.Map[(String, String), Long],
      k: Int): Seq[(String, String, Long)] = {
    val ord = PageRank.utf8Order
    // "better" = earlier in the candidate order
    def better(x: (String, String, Long), y: (String, String, Long)): Boolean = {
      if (x._3 != y._3) x._3 > y._3
      else {
        val l = ord.compare(x._1, y._1)
        if (l != 0) l < 0 else ord.compare(x._2, y._2) < 0
      }
    }
    // max-heap on "worse": head = worst of the kept k
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, String, Long)](
      Ordering.fromLessThan[(String, String, Long)]((x, y) => better(x, y)))
    counts.foreach { case ((a, b), c) =>
      val cand = (a, b, c)
      if (heap.size < k) heap.enqueue(cand)
      else if (better(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
    }
    heap.toSeq.sortWith(better)
  }

  /** Train `rounds` merges over a (word, freq) dictionary — strict
    * greedy (one merge per job round; `batchK = 1`). Returns the merge
    * table (rank, left, right, merged, pair_count) in merge order —
    * rank 1 is the first (highest-count) merge.
    *
    * Two execution tiers (the [[PageRank]]/[[ConnectedComponents]]
    * `auto` pattern), bit-identical by construction — pair counts are
    * exact integer sums (order-free) and the argmax is the same total
    * order in both:
    *  - `local`: dictionary ≤ threshold rows → collect once, run the
    *    rounds on driver arrays (one job instead of 2·rounds);
    *  - `distributed`: per round one explode+agg, a 1-row TakeOrdered
    *    collect, and a scan-parallel rewrite — the path for web-scale
    *    vocabularies (use [[trainBatched]] for web-scale MERGE COUNTS).
    */
  def train(
      wordFreq: Dataset[(String, Long)],
      rounds: Int,
      strategy: String = "auto",
      localThreshold: Long = 1000000L): DataFrame =
    trainBatched(wordFreq, rounds, 1, strategy, localThreshold)

  /** [[trainBatched]] with a caller-supplied word→symbols splitter —
    * the hook [[ByteBpe]] uses to train the SAME two-tier greedy over
    * byte-level symbol sequences (the splitter must be deterministic
    * and serializable; everything downstream — counts, candidate
    * order, rewrites — is symbol-agnostic). */
  def trainWith(
      wordFreq: Dataset[(String, Long)],
      rounds: Int,
      symbolize: String => Array[String],
      batchK: Int = 1,
      strategy: String = "auto",
      localThreshold: Long = 1000000L): DataFrame =
    trainImpl(wordFreq, rounds, batchK, strategy, localThreshold, symbolize)

  /** [[train]] with up to `batchK` disjoint merges per job round — the
    * O(rounds/batchK)-jobs path for real (30k-merge) tokenizers. See
    * the object doc for the exact selection rule and the greedy-
    * equivalence condition.
    */
  def trainBatched(
      wordFreq: Dataset[(String, Long)],
      rounds: Int,
      batchK: Int,
      strategy: String = "auto",
      localThreshold: Long = 1000000L): DataFrame =
    trainImpl(wordFreq, rounds, batchK, strategy, localThreshold, symbols)

  private def trainImpl(
      wordFreq: Dataset[(String, Long)],
      rounds: Int,
      batchK: Int,
      strategy: String,
      localThreshold: Long,
      symbolize: String => Array[String]): DataFrame = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    strategy match {
      case "local" => trainLocal(wordFreq, rounds, batchK, symbolize)
      case "distributed" =>
        trainDistributed(Checkpoints.local(wordFreq), rounds, batchK, symbolize)
      case "auto" =>
        // materialize the dictionary ONCE: the threshold probe is an
        // action, and without this the upstream corpus-sized word-count
        // aggregation would execute twice (the ConnectedComponents.auto
        // rationale)
        val wf = Checkpoints.local(wordFreq)
        if (wf.count() <= localThreshold) {
          val r = trainLocal(wf, rounds, batchK, symbolize)
          Checkpoints.release(wf)
          r
        } else trainDistributed(wf, rounds, batchK, symbolize) // releases wf when done
      case other => throw new IllegalArgumentException(s"unknown strategy $other")
    }
  }

  /** Driver tier: the greedy/batched loop over a collected dictionary
    * (vocab-bounded by the caller's threshold).
    */
  def trainLocal(
      wordFreq: Dataset[(String, Long)],
      rounds: Int,
      batchK: Int = 1,
      symbolize: String => Array[String] = symbols): DataFrame = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    var vocab = wordFreq.collect().map { case (w, f) => (symbolize(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var dry = false
    while (merges.length < rounds && !dry) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) dry = true
      else {
        // candidate order: (count desc, left asc, right asc) under
        // UTF-8 byte order — the order the distributed tier's orderBy
        // uses. Only the top batchK can survive the prefix rule, so a
        // bounded-heap top-k (linear in |pairs|) replaces a full sort.
        val k = math.min(batchK, rounds - merges.length)
        val batch = disjointPrefix(topCandidates(counts, k), k)
        batch.foreach { case (a, b, c) =>
          merges += ((merges.length + 1, a, b, a + b, c))
        }
        vocab = vocab.map { case (syms, f) =>
          (batch.foldLeft(syms) { case (s, (a, b, _)) => applyMerge(s, a, b) }, f)
        }
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Distributed tier: vocab frame stays on executors; one agg + a
    * k-row TakeOrdered + ONE rewrite per batch round. `wordFreq` must
    * already be materialized (every public entry localCheckpoints it);
    * it is released before the rounds start.
    */
  private def trainDistributed(
      wordFreq: Dataset[(String, Long)],
      rounds: Int,
      batchK: Int,
      symbolize: String => Array[String] = symbols): DataFrame = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Array[String], Long)] = Checkpoints.local(wordFreq
      .map { case (w, f) => (symbolize(w), f) })
    Checkpoints.release(wordFreq)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var dry = false
    while (merges.length < rounds && !dry) {
      val k = math.min(batchK, rounds - merges.length)
      val top = vocab.flatMap { case (syms, f) =>
        (0 until syms.length - 1).map(i => ((syms(i), syms(i + 1)), f))
      }
        .groupByKey(_._1)
        .mapValues(_._2)
        .reduceGroups(_ + _)
        .map { case ((a, b), c) => (a, b, c) }
        .orderBy(col("_3").desc, col("_1").asc, col("_2").asc)
        .limit(k)
        .collect()
      val batch = disjointPrefix(top.toSeq, k)
      if (batch.isEmpty) dry = true
      else {
        batch.foreach { case (a, b, c) =>
          merges += ((merges.length + 1, a, b, a + b, c))
        }
        // ≤ batchK (left, right) strings travel in the closure — a
        // broadcast here would accumulate one TorrentBroadcast per
        // round with only GC-dependent cleanup, the exact lifecycle
        // the checkpoint discipline above exists to avoid
        val rules = batch.map { case (a, b, _) => (a, b) }
        val next = Checkpoints.local(vocab
          .map { case (syms, f) =>
            (rules.foldLeft(syms) { case (s, (a, b)) => applyMerge(s, a, b) }, f)
          })
        // release the superseded round's vocab blocks
        Checkpoints.release(vocab)
        vocab = next
      }
    }
    Checkpoints.release(vocab)
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Segment a word with a trained merge list (applied in rank order)
    * — the tokenizer-apply side, used by BpeSpec to check that trained
    * merges actually compress the training corpus.
    */
  def segment(word: String, merges: Seq[(String, String)]): Array[String] = {
    var syms = symbols(word)
    merges.foreach { case (a, b) => syms = applyMerge(syms, a, b) }
    syms
  }
}
