package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", §3.2 — the SentencePiece `unigram` algorithm, which is
  * what several modern tokenizers actually train) — [[BpeTrain]]'s
  * sibling on the same two-tier template: the corpus-sized work is the
  * ONE word-frequency aggregation the caller provides; everything
  * after runs on the dictionary/vocab frames.
  *
  * Shape of the algorithm: seed a large candidate-piece vocabulary
  * (all ≤ `maxPieceLen`-code-point substrings of dictionary words,
  * frequency-weighted, top `seedSize` multi-char pieces + EVERY single
  * code point for coverage), then alternate EM over the segmentation
  * lattice with vocabulary pruning until ≤ `vocabSize` pieces remain:
  *  - E: per (word, freq), forward–backward over the lattice of
  *    in-vocab substrings (log-space, fixed loop order) gives each
  *    piece's expected count under the current piece distribution;
  *  - M: piece probability = expected count / total;
  *  - prune: keep the top `ceil(shrink · multi)` multi-char pieces by
  *    expected count (single code points never prune — they are the
  *    coverage floor that keeps every word segmentable).
  * Pruning by expected count is the first-order simplification of
  * SentencePiece's loss-delta ranking (documented deviation; the
  * count IS the piece's likelihood mass, and the fixture spec pins
  * the behavior this implementation promises, not sentencepiece's).
  *
  * '''Determinism (the [[BpeTrain]] contract, made float-safe).''' EM
  * marginals are doubles, and summing doubles across a distributed
  * aggregation is order-dependent — the one thing the repo's
  * determinism discipline forbids. The fix: each word's expected
  * counts are QUANTIZED to integer micro-units (`rint(x / 1e-6)`,
  * a per-word, fixed-order, pure-double computation that is identical
  * on every JVM) and the cross-word aggregation sums LONGS — exact,
  * associative, order-free. Both tiers share the per-word function,
  * so local and distributed produce bit-identical vocabularies
  * (UnigramSpec pins tier equality, run-over-run determinism, and a
  * from-scratch EM replica). M-step probabilities and the output
  * logprobs are derived from the long sums alone.
  *
  * '''Job count.''' One driver round-trip per EM round (the E-step
  * aggregation collects the vocab-bounded count frame), never per
  * piece: `emRounds` rounds per prune step × O(log(seed/vocab) /
  * log(1/shrink)) prune steps — UnigramSpec bounds the job total via
  * a job group, the BpeSpec discipline.
  */
object UnigramTrain {

  /** Expected-count quantum: counts accumulate as `rint(x / Quantum)`
    * micro-units. 1e-6 keeps three orders of magnitude of headroom
    * under any realistic per-word posterior while word freqs up to
    * ~10¹² still fit a Long. */
  val Quantum = 1e-6

  final case class Config(
      vocabSize: Int = 512,
      seedSize: Int = 4096,
      maxPieceLen: Int = 8,
      emRounds: Int = 2,
      shrink: Double = 0.75) {
    require(vocabSize >= 1 && seedSize >= 1 && maxPieceLen >= 2 && emRounds >= 1,
      s"invalid unigram config: $this")
    require(shrink > 0.0 && shrink < 1.0,
      s"shrink must be in (0, 1): $shrink — 1.0 would never converge")
  }

  /** Code-point split (surrogate-pair safe — [[BpeTrain.symbols]]'
    * rule without the end marker; unigram LMs segment the bare word).
    */
  def codePoints(word: String): Array[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** All (piece, weightedCount) substrings of one word — the seed
    * counting rule, shared by both tiers. */
  private def substrings(word: String, freq: Long, maxLen: Int): Iterator[(String, Long)] = {
    val cps = codePoints(word)
    for {
      i <- (0 until cps.length).iterator
      j <- (i + 1) to math.min(i + maxLen, cps.length)
    } yield (cps.slice(i, j).mkString, freq)
  }

  /** log(sum(exp(xs))) with a fixed accumulation order. */
  private def logSumExp(xs: Array[Double], n: Int): Double = {
    var m = Double.NegativeInfinity
    var i = 0
    while (i < n) { if (xs(i) > m) m = xs(i); i += 1 }
    if (m == Double.NegativeInfinity) m
    else {
      var s = 0.0
      i = 0
      while (i < n) { s += StrictMath.exp(xs(i) - m); i += 1 }
      m + StrictMath.log(s)
    }
  }

  /** One word's QUANTIZED expected piece counts under the current
    * piece log-probabilities — the E-step kernel both tiers share
    * verbatim (per-word doubles in a fixed loop order, Long out).
    * Returns empty when the word is unsegmentable (a char outside the
    * vocab — cannot happen for words whose alphabet seeded the vocab,
    * since single code points never prune).
    */
  private[graft] def wordExpectedCounts(
      word: String,
      freq: Long,
      logp: scala.collection.Map[String, Double],
      maxLen: Int): Iterator[(String, Long)] = {
    val cps = codePoints(word)
    val n = cps.length
    if (n == 0) return Iterator.empty
    // lattice edges (i, j, piece, lp), enumerated in fixed (i, j) order
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, Double)]
    var i = 0
    while (i < n) {
      var j = i + 1
      val hi = math.min(i + maxLen, n)
      while (j <= hi) {
        val piece = cps.slice(i, j).mkString
        logp.get(piece).foreach(lp => edges += ((i, j, piece, lp)))
        j += 1
      }
      i += 1
    }
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    val buf = new Array[Double](n + 1)
    alpha(0) = 0.0
    var pos = 1
    while (pos <= n) {
      var k = 0
      edges.foreach { case (a, b, _, lp) =>
        if (b == pos && alpha(a) != Double.NegativeInfinity) { buf(k) = alpha(a) + lp; k += 1 }
      }
      alpha(pos) = logSumExp(buf, k)
      pos += 1
    }
    beta(n) = 0.0
    pos = n - 1
    while (pos >= 0) {
      var k = 0
      edges.foreach { case (a, b, _, lp) =>
        if (a == pos && beta(b) != Double.NegativeInfinity) { buf(k) = lp + beta(b); k += 1 }
      }
      beta(pos) = logSumExp(buf, k)
      pos -= 1
    }
    val z = alpha(n)
    if (z == Double.NegativeInfinity) Iterator.empty // unsegmentable
    else {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      edges.foreach { case (a, b, piece, lp) =>
        val post = StrictMath.exp(alpha(a) + lp + beta(b) - z)
        if (post > 0.0) acc(piece) = acc.getOrElse(piece, 0.0) + post
      }
      acc.iterator.map { case (p, e) =>
        (p, math.rint(freq * e / Quantum).toLong)
      }.filter(_._2 > 0L)
    }
  }

  /** UTF-8 (count desc, piece asc) candidate order — [[BpeTrain]]'s
    * tie-break rule on the unigram count frame. */
  private def better(x: (String, Long), y: (String, Long)): Boolean =
    if (x._2 != y._2) x._2 > y._2
    else PageRank.utf8Order.compare(x._1, y._1) < 0

  /** M-step + prune on driver arrays: new logprobs from the exact
    * long sums; multi-char pieces ranked and cut to `keepMulti`;
    * single code points always survive (with a one-quantum floor so
    * their logprob stays finite). Shared by both tiers — the counts
    * frame is vocab-bounded wherever it was computed.
    */
  private def mStep(
      counts: Map[String, Long],
      vocab: Set[String],
      keepMulti: Int): Map[String, Double] = {
    val single = vocab.filter(p => p.codePointCount(0, p.length) == 1)
    val multi = vocab.filter(p => p.codePointCount(0, p.length) > 1)
      .map(p => (p, counts.getOrElse(p, 0L)))
      .toSeq.filter(_._2 > 0L).sortWith(better).take(keepMulti)
    val kept = single.map(p => (p, math.max(counts.getOrElse(p, 0L), 1L))) ++ multi
    val total = kept.iterator.map(_._2).sum
    val logTotal = StrictMath.log(total.toDouble)
    kept.iterator.map { case (p, c) => p -> (StrictMath.log(c.toDouble) - logTotal) }.toMap
  }

  /** Train a unigram vocabulary over a (word, freq) dictionary.
    * Returns (rank, piece, logprob, q_count): rank 1 = highest
    * expected count under the final EM round, q_count the exact
    * quantized count the rank is derived from, logprob the final
    * model probability. Strategy/threshold: the [[BpeTrain.train]]
    * two-tier `auto` contract.
    */
  def train(
      wordFreq: Dataset[(String, Long)],
      config: Config = Config(),
      strategy: String = "auto",
      localThreshold: Long = 1000000L): DataFrame = {
    strategy match {
      case "local" => trainLocal(wordFreq.collect(), config, wordFreq)
      case "distributed" => trainDistributed(Checkpoints.local(wordFreq), config)
      case "auto" =>
        // materialize ONCE: the threshold probe is an action, and
        // trainDistributed takes the already-checkpointed frame (and
        // releases it) — re-checkpointing would double-persist the
        // dictionary and leak the outer copy (the BpeTrain contract)
        val wf = Checkpoints.local(wordFreq)
        if (wf.count() <= localThreshold) {
          val r = trainLocal(wf.collect(), config, wf)
          Checkpoints.release(wf)
          r
        } else trainDistributed(wf, config) // releases wf when done
      case other => throw new IllegalArgumentException(s"unknown strategy $other")
    }
  }

  /** Driver tier: seed + EM + prune entirely on collected arrays
    * (dictionary-bounded by the caller's threshold). `session` only
    * carries the SparkSession for the output frame.
    */
  private def trainLocal(
      dict: Array[(String, Long)],
      config: Config,
      session: Dataset[_]): DataFrame = {
    val spark = session.sparkSession
    import spark.implicits._
    // ---- seed
    val seedCounts = scala.collection.mutable.HashMap.empty[String, Long]
    dict.foreach { case (w, f) =>
      substrings(w, f, config.maxPieceLen).foreach { case (p, c) =>
        seedCounts(p) = seedCounts.getOrElse(p, 0L) + c
      }
    }
    var logp = seedVocab(seedCounts.toMap, config)
    // ---- EM + prune loop (shared driver logic)
    def eStep(): Map[String, Long] = {
      val acc = scala.collection.mutable.HashMap.empty[String, Long]
      dict.foreach { case (w, f) =>
        wordExpectedCounts(w, f, logp, config.maxPieceLen).foreach { case (p, c) =>
          acc(p) = acc.getOrElse(p, 0L) + c
        }
      }
      acc.toMap
    }
    var lastCounts = Map.empty[String, Long]
    emPruneSchedule(config, nMulti(logp.keySet)).foreach { keepMulti =>
      lastCounts = eStep()
      logp = mStep(lastCounts, logp.keySet, keepMulti)
    }
    toFrame(spark, logp, lastCounts)
  }

  /** Distributed tier: the dictionary stays on executors; each EM
    * round is ONE flatMap+agg job whose result (vocab-bounded) comes
    * to the driver for the M-step — never a per-piece round-trip.
    * The current piece table travels in the task closure (vocab-sized,
    * same rationale as [[BpeTrain]]'s rules closure: no
    * TorrentBroadcast lifecycle across rounds). `wordFreq` must
    * already be materialized (every public entry localCheckpoints
    * it); its blocks are released before the output frame returns.
    */
  private def trainDistributed(
      wordFreq: Dataset[(String, Long)],
      config: Config): DataFrame = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val wf = wordFreq
    val maxLen = config.maxPieceLen
    // ---- seed: one substring-count aggregation
    val seedCounts = wf.flatMap { case (w, f) => substrings(w, f, maxLen) }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .collect().toMap
    var logp = seedVocab(seedCounts, config)
    var lastCounts = Map.empty[String, Long]
    emPruneSchedule(config, nMulti(logp.keySet)).foreach { keepMulti =>
      val cur = logp // stable closure capture
      lastCounts = wf
        .flatMap { case (w, f) => wordExpectedCounts(w, f, cur, maxLen) }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .collect().toMap
      logp = mStep(lastCounts, logp.keySet, keepMulti)
    }
    Checkpoints.release(wf)
    toFrame(spark, logp, lastCounts)
  }

  /** Initial vocabulary from the seed counts: every single code
    * point, plus the top `seedSize` multi-char substrings. */
  private def seedVocab(counts: Map[String, Long], config: Config): Map[String, Double] = {
    val single = counts.keysIterator.filter(p => p.codePointCount(0, p.length) == 1).toSet
    val multi = counts.iterator
      .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
      .toSeq.sortWith(better).take(config.seedSize).map(_._1)
    val vocab = single ++ multi
    val total = vocab.iterator.map(counts).sum
    val logTotal = StrictMath.log(total.toDouble)
    vocab.iterator.map(p => p -> (StrictMath.log(counts(p).toDouble) - logTotal)).toMap
  }

  private def nMulti(vocab: Set[String]): Int =
    vocab.count(p => p.codePointCount(0, p.length) > 1)

  /** The keepMulti target per EM round: `emRounds` rounds at each
    * plateau, shrinking by `shrink` between plateaus until the
    * multi-char budget is inside `vocabSize`, then one final plateau
    * at the target. The schedule is a pure function of (config,
    * initial multi count) — both tiers walk the identical ladder.
    */
  private def emPruneSchedule(config: Config, startMulti: Int): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var m = startMulti
    val target = math.max(config.vocabSize, 1)
    while (m > target) {
      // min(m - 1, …): ceil(m·shrink) == m for small m (ceil(3·0.75)=3)
      // — without the strict decrease the ladder never reaches target
      m = math.max(target, math.min(m - 1, math.ceil(m * config.shrink).toInt))
      (0 until config.emRounds).foreach(_ => out += m)
    }
    (0 until config.emRounds).foreach(_ => out += target)
    out.toSeq
  }

  private def toFrame(
      spark: org.apache.spark.sql.SparkSession,
      logp: Map[String, Double],
      counts: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val rows = logp.toSeq
      .map { case (p, lp) => (p, lp, math.max(counts.getOrElse(p, 0L), 1L)) }
      .sortWith((x, y) => better((x._1, x._3), (y._1, y._3)))
      .zipWithIndex
      .map { case ((p, lp, c), i) => (i + 1, p, lp, c) }
    rows.toDF("rank", "piece", "logprob", "q_count")
  }

  /** Viterbi segmentation under a trained vocabulary — the apply side
    * (and the compression contract's measuring stick). Deterministic
    * tie-break: higher score, then LONGER last piece, then UTF-8. */
  def segment(word: String, logp: scala.collection.Map[String, Double],
      maxPieceLen: Int = 8): Array[String] = {
    val cps = codePoints(word)
    val n = cps.length
    if (n == 0) return Array.empty
    val score = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    score(0) = 0.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (score(i) != Double.NegativeInfinity) {
          logp.get(cps.slice(i, j).mkString).foreach { lp =>
            val s = score(i) + lp
            if (s > score(j) || (s == score(j) && i < back(j))) {
              score(j) = s; back(j) = i
            }
          }
        }
        i += 1
      }
      j += 1
    }
    require(score(n) != Double.NegativeInfinity,
      s"word not segmentable under vocab (missing single chars?): $word")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      val i = back(pos)
      out += cps.slice(i, pos).mkString
      pos = i
    }
    out.reverseIterator.toArray
  }
}
