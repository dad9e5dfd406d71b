package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.UnigramKernel

/** SentencePiece-style unigram-LM tokenizer (Kudo 2018): training and
  * corpus-scale token counting — the second production tokenizer family
  * next to [[Bpe]] (reference scope: the LLM-pipeline budget operators,
  * SURVEY.md §2.3; half the tokenizers users measure budgets against
  * are unigram, not BPE).
  *
  * Same corpus-scale architecture as [[Bpe.trainMerges]]: the ONLY
  * distributed pass is word counting, the one pass both trainers share
  * ([[Bpe.wordCounts]]: two-level partial aggregation over
  * Zipf-compressed distinct words), and everything iterative happens
  * driver-side over that bounded table. Inference is the native count
  * expression BPE uses, [[graft.plans.TokenCount]], over a broadcast
  * piece table with a per-task pre-token memo — zero shuffles,
  * scan-stage work like every other text kernel.
  *
  * Training = hard EM (Viterbi counts), the k-means-style variant:
  *
  *  1. '''Seed''': every substring of every counted word up to
  *     `maxPieceLen` chars, scored by occurrence mass (count × 1),
  *     top `seedMult × vocabSize` kept, plus ALL single characters
  *     (guarantees every word stays segmentable).
  *  2. '''E-step''': Viterbi-best segmentation of each distinct word
  *     under current piece log-probs (`UnigramKernel.viterbi`, the DP
  *     the count runs too: over end positions, max piece length bounds
  *     the inner loop).
  *  3. '''M-step''': piece probabilities ← normalized Viterbi counts
  *     (+ smoothing ε so a piece never hits -∞ between rounds).
  *     The hard-EM objective Σ_w c_w · logP(bestseg(w)) is
  *     non-decreasing: E maximizes it over segmentations for fixed
  *     probs, M maximizes it over probs for fixed segmentations —
  *     spec-pinned (UnigramSpec).
  *  4. '''Prune''': drop the pieces with the smallest Viterbi count
  *     mass (never single chars) down to `shrinkFactor` × current
  *     size, re-run EM, repeat until ≤ `vocabSize`.
  *
  * Determinism: the word cut orders by (count desc, word); seed and
  * prune cuts order by (score desc, piece); EM is exact arithmetic on
  * a sorted piece array — the same corpus always yields the same
  * vocabulary on any cluster (spec-pinned).
  */
object Unigram {

  /** Collect a (piece, logp) table from a DataFrame (e.g. a persisted
    * tokenizer read back from parquet). Bounded + loud like
    * [[Bpe.mergesFrom]]. */
  def piecesFrom(df: DataFrame, pieceCol: String = "piece",
      logpCol: String = "logp", maxPieces: Int = 1000000): Seq[(String, Double)] = {
    val rows = df.select(col(pieceCol), col(logpCol))
      .orderBy(col(pieceCol))
      .limit(maxPieces + 1)
      .collect()
    require(rows.length <= maxPieces,
      s"piece table exceeds maxPieces=$maxPieces rows — is this really a tokenizer vocab?")
    rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  /** The trained vocabulary as a (rank, piece, logp) DataFrame for
    * persisting to parquet — rank is the deterministic (logp desc,
    * piece) order, so a round-tripped tokenizer is bit-identical. */
  def piecesDf(spark: SparkSession, pieces: Seq[(String, Double)]): DataFrame = {
    import spark.implicits._
    pieces.sortBy { case (p, lp) => (-lp, p) }.zipWithIndex
      .map { case ((p, lp), r) => (r, p, lp) }
      .toDF("rank", "piece", "logp")
  }

  /** Train a unigram vocabulary; returns (piece, logp) with logp the
    * final normalized log-probability. `vocabSize` counts pieces
    * INCLUDING the mandatory single characters. */
  def train(
      docs: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxPieceLen: Int = 8,
      emIters: Int = 2,
      seedMult: Int = 4,
      shrinkFactor: Double = 0.75,
      byteLevel: Boolean = true,
      maxWords: Int = 1000000): Seq[(String, Double)] = {
    require(vocabSize > 0, "vocabSize must be positive")
    require(emIters >= 1, "emIters must be >= 1 (EM is what normalizes after pruning)")
    require(shrinkFactor > 0 && shrinkFactor < 1, "shrinkFactor in (0,1)")
    val wc = Bpe.wordCounts(docs, textCol, byteLevel, maxWords)

    // mandatory coverage: every single code point seen in training
    val chars = scala.collection.mutable.LinkedHashSet.empty[String]
    wc.foreach { case (w, _) =>
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        chars += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
    }

    // seed: substring mass (count × occurrences), top seedMult·vocabSize;
    // substrings on code-point boundaries only
    val seedScore = new java.util.HashMap[String, java.lang.Long]()
    wc.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        if (!Character.isLowSurrogate(w.charAt(i))) {
          var j = i + 1
          while (j <= math.min(w.length, i + maxPieceLen)) {
            val endsMidPair = j < w.length &&
              Character.isHighSurrogate(w.charAt(j - 1)) &&
              Character.isLowSurrogate(w.charAt(j))
            if (!endsMidPair) {
              val s = w.substring(i, j)
              val prev = seedScore.get(s)
              seedScore.put(s, java.lang.Long.valueOf(if (prev == null) c else prev.longValue + c))
            }
            j += 1
          }
        }
        i += 1
      }
    }
    val multi = {
      import scala.jdk.CollectionConverters._
      seedScore.entrySet().asScala.toArray
        .filter(e => e.getKey.length > 1 || !chars.contains(e.getKey))
        .map(e => (e.getKey, e.getValue.longValue))
        .sortBy { case (p, s) => (-s, p) }
        .take(math.max(0, seedMult * vocabSize - chars.size))
        .map(_._1)
    }
    var vocab: Array[String] = (chars.toArray ++ multi).distinct

    // uniform init, then hard-EM rounds with pruning until target size
    var logp = new java.util.HashMap[String, java.lang.Double](vocab.length * 2)
    val init = -math.log(vocab.length.toDouble)
    vocab.foreach(p => logp.put(p, java.lang.Double.valueOf(init)))

    // the best segmentation under the current table; every char of a
    // training word is a piece, so no unk price
    def segment(w: String): List[String] = {
      val (lp, back) = UnigramKernel.viterbi(w, logp, maxPieceLen, Double.NegativeInfinity)
      if (lp == Double.NegativeInfinity) Nil else UnigramKernel.pieces(w, back)
    }

    def emRound(): java.util.HashMap[String, java.lang.Double] = {
      val counts = new java.util.HashMap[String, java.lang.Double]()
      var total = 0.0
      wc.foreach { case (w, c) =>
        segment(w).foreach { p =>
          val prev = counts.get(p)
          counts.put(p, java.lang.Double.valueOf(
            if (prev == null) c.toDouble else prev.doubleValue + c))
          total += c
        }
      }
      // ε-smoothing: unused pieces survive a round with tiny mass so
      // pruning (not -∞ collapse) decides their fate
      val eps = 1e-6
      val denom = total + eps * vocab.length
      val next = new java.util.HashMap[String, java.lang.Double](vocab.length * 2)
      vocab.foreach { p =>
        val c = counts.get(p)
        val m = (if (c == null) 0.0 else c.doubleValue) + eps
        next.put(p, java.lang.Double.valueOf(math.log(m / denom)))
      }
      next
    }

    var continue = true
    while (continue) {
      var it = 0
      while (it < emIters) { logp = emRound(); it += 1 }
      if (vocab.length <= vocabSize) continue = false
      else {
        // prune by Viterbi count mass, single chars immune
        val counts = new java.util.HashMap[String, java.lang.Double]()
        wc.foreach { case (w, c) =>
          segment(w).foreach { p =>
            val prev = counts.get(p)
            counts.put(p, java.lang.Double.valueOf(
              if (prev == null) c.toDouble else prev.doubleValue + c))
          }
        }
        val target = math.max(vocabSize, (vocab.length * shrinkFactor).toInt)
        val (mandatory, prunable) = vocab.partition(chars.contains)
        val kept = prunable
          .map(p => (p, Option(counts.get(p)).map(_.doubleValue).getOrElse(0.0)))
          .sortBy { case (p, s) => (-s, p) }
          .take(math.max(0, target - mandatory.length))
          .map(_._1)
        vocab = mandatory ++ kept
        val next = new java.util.HashMap[String, java.lang.Double](vocab.length * 2)
        vocab.foreach(p => next.put(p, logp.get(p)))
        logp = next
        // renormalization happens in the next round's M-step
      }
    }
    // final normalized table, deterministic order
    vocab.sorted.toSeq.map(p => (p, logp.get(p).doubleValue))
  }

  /** (id, n_sp) per document: the Viterbi piece count under the
    * vocabulary, through the native [[graft.plans.TokenCount]]
    * expression — broadcast piece table, per-task pre-token memo, zero
    * shuffles, the [[Bpe.tokenCounts]] shape. Null text counts 0. */
  def tokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[(String, Double)],
      byteLevel: Boolean = true): DataFrame =
    docs.select(col(idCol), UnigramKernel.count(col(textCol), pieces, byteLevel).as("n_sp"))

  /** Hard-EM objective Σ_w c_w · logP(bestseg(w)) for a vocabulary over
    * the counted-word table of `docs` — exposed for the monotonicity
    * spec. */
  def corpusObjective(docs: DataFrame, textCol: String,
      pieces: Seq[(String, Double)], maxPieceLen: Int = 8,
      byteLevel: Boolean = true, maxWords: Int = 1000000): Double = {
    val wc = Bpe.wordCounts(docs, textCol, byteLevel, maxWords)
    val table = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    pieces.foreach { case (p, lp) => table.put(p, java.lang.Double.valueOf(lp)) }
    wc.iterator.map { case (w, c) =>
      val (lp, _) = UnigramKernel.viterbi(w, table, maxPieceLen, Double.NegativeInfinity)
      c * lp
    }.sum
  }
}
