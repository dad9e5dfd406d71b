package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** SentencePiece-style unigram-LM tokenizer (Kudo 2018): training and
  * corpus-scale token counting — the second production tokenizer family
  * next to [[Bpe]] (reference scope: the LLM-pipeline budget operators,
  * SURVEY.md §2.3; half the tokenizers users measure budgets against
  * are unigram, not BPE).
  *
  * Same corpus-scale architecture as [[Bpe.trainMerges]]: the ONLY
  * distributed pass is word counting (two-level partial aggregation
  * over Zipf-compressed distinct words), everything iterative happens
  * driver-side over that bounded table, and inference is a broadcast
  * piece table applied per partition with a distinct-word memo — zero
  * shuffles, scan-stage work like every other text kernel.
  *
  * Training = hard EM (Viterbi counts), the k-means-style variant:
  *
  *  1. '''Seed''': every substring of every counted word up to
  *     `maxPieceLen` chars, scored by occurrence mass (count × 1),
  *     top `seedMult × vocabSize` kept, plus ALL single characters
  *     (guarantees every word stays segmentable).
  *  2. '''E-step''': Viterbi-best segmentation of each distinct word
  *     under current piece log-probs (dp over end positions, max
  *     piece length bounds the inner loop).
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

  /** Distributed word-count pass shared with BPE training: byte-level
    * GPT-2 pretokens with whitespace marker mapping (so a piece can
    * span a leading space exactly like a BPE symbol), or legacy
    * lowercase-alnum words. */
  private def wordCounts(docs: DataFrame, textCol: String,
      byteLevel: Boolean, maxWords: Int): Array[(String, Long)] = {
    import graft.functions.{TextFunctions => TF}
    val words =
      if (byteLevel)
        docs.select(explode(transform(TF.gpt2Pretokens(col(textCol)),
          w => translate(w, TF.WsFrom, TF.WsTo))).as("w"))
      else
        docs.select(explode(TF.alnumWords(col(textCol))).as("w"))
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords + 1)
      .collect()
    require(wc.length <= maxWords,
      s"distinct-word table exceeds maxWords=$maxWords — raise the cap explicitly " +
        "if the corpus vocabulary is really this large")
    wc.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Viterbi-best segmentation of `w` under `logp` (pieces absent from
    * the map are unusable; single chars are guaranteed present for
    * training words). Returns (total logp, piece count); `unkLogp`
    * prices characters never seen in training (inference only). */
  private def viterbi(w: String, logp: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int, unkLogp: Double): (Double, Int) = {
    val n = w.length
    val bestLp = new Array[Double](n + 1)
    val bestN = new Array[Int](n + 1)
    java.util.Arrays.fill(bestLp, Double.NegativeInfinity)
    bestLp(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        if (bestLp(start) != Double.NegativeInfinity) {
          // avoid splitting a surrogate pair: a piece must end on a
          // code-point boundary
          val boundaryOk = !(end < n && Character.isHighSurrogate(w.charAt(end - 1)) &&
            Character.isLowSurrogate(w.charAt(end)))
          if (boundaryOk) {
            val lpObj = logp.get(w.substring(start, end))
            val lp =
              if (lpObj != null) lpObj.doubleValue
              else if (end - start <= 2 && (end - start == 1 ||
                Character.isSurrogatePair(w.charAt(start), w.charAt(start + 1))))
                unkLogp // unseen single code point: priced, never stuck
              else Double.NegativeInfinity
            if (lp != Double.NegativeInfinity) {
              val cand = bestLp(start) + lp
              // strict > : ties resolve to the LONGEST last piece
              // (smallest start is examined first), deterministic
              if (cand > bestLp(end)) {
                bestLp(end) = cand
                bestN(end) = bestN(start) + 1
              }
            }
          }
        }
        start += 1
      }
      end += 1
    }
    (bestLp(n), bestN(n))
  }

  /** Backtrace variant: the actual best piece sequence (training M-step
    * needs the pieces, not just the count). */
  private def viterbiPieces(w: String, logp: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int): Seq[String] = {
    val n = w.length
    val bestLp = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(bestLp, Double.NegativeInfinity)
    bestLp(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        if (bestLp(start) != Double.NegativeInfinity) {
          val lpObj = logp.get(w.substring(start, end))
          if (lpObj != null) {
            val cand = bestLp(start) + lpObj.doubleValue
            if (cand > bestLp(end)) { bestLp(end) = cand; back(end) = start }
          }
        }
        start += 1
      }
      end += 1
    }
    if (bestLp(n) == Double.NegativeInfinity) Seq.empty
    else {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var p = n
      while (p > 0) { out.prepend(w.substring(back(p), p)); p = back(p) }
      out.toSeq
    }
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
    val wc = wordCounts(docs, textCol, byteLevel, maxWords)

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

    def emRound(): java.util.HashMap[String, java.lang.Double] = {
      val counts = new java.util.HashMap[String, java.lang.Double]()
      var total = 0.0
      wc.foreach { case (w, c) =>
        viterbiPieces(w, logp, maxPieceLen).foreach { p =>
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
          viterbiPieces(w, logp, maxPieceLen).foreach { p =>
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

  /** (id, n_sp) per document: Viterbi piece count under the trained
    * vocabulary — broadcast table, per-partition distinct-pretoken
    * memo, zero shuffles. */
  def tokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[(String, Double)],
      byteLevel: Boolean = true): DataFrame = {
    val table = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var maxLen = 1
    pieces.foreach { case (p, lp) =>
      table.put(p, java.lang.Double.valueOf(lp))
      if (p.length > maxLen) maxLen = p.length
    }
    // unseen chars priced below every real piece: floor - 10 nats
    val unkLogp = (pieces.iterator.map(_._2).foldLeft(0.0)(math.min)) - 10.0
    val bc = docs.sparkSession.sparkContext.broadcast((table, maxLen, unkLogp))
    val outSchema = StructType(Seq(
      StructField("id", docs.schema(idCol).dataType),
      StructField("n_sp", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = docs.schema.fieldIndex(idCol)
    val textIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { rows =>
      val (tbl, mLen, unk) = bc.value
      val gpt2 = java.util.regex.Pattern.compile(TextFunctions.Gpt2Pattern)
      val memo = new java.util.HashMap[String, java.lang.Long](1 << 16)
      val MaxMemo = 1 << 20

      def countWord(w0: String): Long = {
        val hit = memo.get(w0)
        if (hit != null) return hit.longValue()
        val w =
          new String(w0.flatMap {
            case ' '  => "Ġ"
            case '\n' => "Ċ"
            case '\t' => "ĉ"
            case '\r' => "č"
            case c    => c.toString
          })
        val c = viterbi(w, tbl, mLen, unk)._2.toLong
        if (memo.size < MaxMemo) memo.put(w0, c)
        c
      }

      def countLegacy(w: String): Long = {
        val hit = memo.get(w)
        if (hit != null) return hit.longValue()
        val c = viterbi(w, tbl, mLen, unk)._2.toLong
        if (memo.size < MaxMemo) memo.put(w, c)
        c
      }

      rows.map { r =>
        val text = r.getString(textIdx)
        var total = 0L
        if (text != null) {
          if (byteLevel) {
            val m = gpt2.matcher(text)
            while (m.find()) total += countWord(m.group())
          } else {
            val words = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
            var i = 0
            while (i < words.length) {
              if (words(i).nonEmpty) total += countLegacy(words(i))
              i += 1
            }
          }
        }
        Row(r.get(idIdx), total)
      }
    }(enc).withColumnRenamed("id", idCol)
  }

  /** Hard-EM objective Σ_w c_w · logP(bestseg(w)) for a vocabulary over
    * the counted-word table of `docs` — exposed for the monotonicity
    * spec. */
  def corpusObjective(docs: DataFrame, textCol: String,
      pieces: Seq[(String, Double)], maxPieceLen: Int = 8,
      byteLevel: Boolean = true, maxWords: Int = 1000000): Double = {
    val wc = wordCounts(docs, textCol, byteLevel, maxWords)
    val table = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    pieces.foreach { case (p, lp) => table.put(p, java.lang.Double.valueOf(lp)) }
    wc.iterator.map { case (w, c) =>
      val (lp, _) = viterbi(w, table, maxPieceLen, Double.NegativeInfinity)
      c * lp
    }.sum
  }
}
