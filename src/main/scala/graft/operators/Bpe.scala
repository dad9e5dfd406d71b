package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.{BpeKernel, PreTokens}

/** Tokenizer-faithful BPE token counting at corpus scale
  * (SURVEY.md §2.3): the budget operators (pack / per-language budgets /
  * chunking) are only as accurate as their token counts, and real
  * curation budgets are measured in BPE tokens against a fixed merge
  * table, not whitespace splits.
  *
  * Every BPE count — [[tokenCounts]], `TextFunctions.bpeTokenCountGpt2`,
  * `TextFunctions.bpeTokenCountMerges` and the `graft_bpe_count` SQL
  * function — is the native count expression [[graft.plans.TokenCount]]
  * under a BPE model (the one [[Unigram.tokenCounts]] runs under a
  * piece table), at one of two fidelity levels:
  *
  *  - '''byte-level (default)''' — GPT-2-style: pre-tokens from
  *    [[TextFunctions.Gpt2Pattern]] (case, punctuation and whitespace
  *    preserved; contractions split), whitespace chars remapped to the
  *    GPT-2 marker chars (' '→Ġ …, [[TextFunctions.WsTo]]) so a space
  *    can live inside a merged symbol, and a byte fallback: every
  *    non-ASCII char contributes its extra UTF-8 bytes as unmerged
  *    byte symbols.
  *  - '''legacy''' (`byteLevel = false`) — lowercase-alnum words only.
  *
  * The merge application is RANK-PRIORITY adjacent-pair merging
  * (Sennrich et al. 2016): repeatedly merge the lowest-rank pair
  * present in the word, all its leftmost-non-overlapping occurrences
  * at once, against a broadcast rank map — per-word cost is
  * O(len² · pairs-applied), INDEPENDENT of merge-table size, and a
  * per-task pre-token memo runs the merge once per distinct pre-token.
  *
  * The DuckDB oracle replays a literal replace chain instead: each
  * word as sentinel-spaced symbols, one leftmost-non-overlapping
  * `replace(" a b " → " ab ")` per merge in rank order. It scans all
  * |merges| entries per word, and it agrees with rank-priority merging
  * only when (a) the table is consistent — each pair's parts are base
  * chars or earlier merge outputs, no pair listed twice (the kernel
  * keeps a duplicate's FIRST rank; the chain applies it again) — and
  * (b) no word holds a pair twice in a row ("banana", "0000"): two
  * adjacent occurrences share one sentinel space, so the chain merges
  * only the first where rank-priority merges both. The committed
  * corpora hold no such word; a reference-chain spec pins both the
  * agreement and the divergence.
  *
  * No shuffle — token counting stays inside the scan stage like every
  * other text kernel.
  */
object Bpe {

  /** Collect an ordered merge table from a (rank, left, right)
    * DataFrame (e.g. `spark.read.parquet(vocabPath)`). Merge tables are
    * small by construction (50k rows for GPT-2), so the collect is
    * bounded by the vocabulary — and guarded by `maxMerges` so pointing
    * this at a corpus table by mistake fails the DRIVER with a clear
    * message instead of collecting it. */
  def mergesFrom(df: DataFrame, rankCol: String = "rank",
      leftCol: String = "left", rightCol: String = "right",
      maxMerges: Int = 200000): Seq[(String, String)] = {
    val rows = df.select(col(rankCol), col(leftCol), col(rightCol))
      .orderBy(col(rankCol))
      .limit(maxMerges + 1)
      .collect()
    require(rows.length <= maxMerges,
      s"merge table exceeds maxMerges=$maxMerges rows — is this really a vocab table?")
    rows.map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Train a BPE merge table from the corpus (Sennrich et al. 2016) —
    * the tokenizer-TRAINING half of the kernel family; its output
    * feeds [[tokenCounts]] / `TextFunctions.bpeTokenCountGpt2`
    * unchanged.
    *
    * Architecture is the standard one for corpus-scale tokenizer
    * training: the ONLY distributed pass is word counting
    * ([[wordCounts]]; two-level partial aggregation — by Zipf the
    * distinct-word table is orders of magnitude smaller than the
    * corpus), and merge learning
    * iterates driver-side over that bounded table. `maxWords` caps the
    * collect LOUDLY (like [[mergesFrom]]) — the top-`maxWords` words
    * by count carry virtually all pair mass, the dropped tail is
    * hapax noise.
    *
    * Determinism: the word cut orders by (count desc, word), each
    * round merges the max-count pair with a lexicographic (left,
    * right) tie-break, and training stops early when no pair repeats
    * (count < 2) — the same corpus always yields the same table, on
    * any cluster. Symbols are marker-mapped code points, exactly the
    * representation [[tokenCounts]] merges over, so a trained table
    * and the counting kernel agree on what a symbol is. */
  def trainMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      byteLevel: Boolean = true,
      maxWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    // driver-side: words as code-point symbol arrays + counts
    val syms = wordCounts(docs, textCol, byteLevel, maxWords).map { case (w, c) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        buf += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      (buf, c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < numMerges) {
      val pairCounts = new java.util.HashMap[(String, String), java.lang.Long]()
      syms.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          val prev = pairCounts.get(k)
          pairCounts.put(k, java.lang.Long.valueOf(if (prev == null) c else prev.longValue + c))
          i += 1
        }
      }
      var best: (String, String) = null
      var bestC = 1L // require count >= 2: merging a hapax pair is noise
      val it = pairCounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.longValue
        if (c > bestC || (c == bestC && best != null &&
            implicitly[Ordering[(String, String)]].lt(e.getKey, best))) {
          best = e.getKey; bestC = c
        }
      }
      if (best == null) continue = false
      else {
        merges += best
        val (a, b) = best
        syms.foreach { case (s, _) =>
          var read = 0
          var write = 0
          while (read < s.length) {
            if (read < s.length - 1 && s(read) == a && s(read + 1) == b) {
              s(write) = a + b; read += 2
            } else {
              s(write) = s(read); read += 1
            }
            write += 1
          }
          s.takeInPlace(write)
        }
      }
    }
    merges.toSeq
  }

  /** The one distributed pass of tokenizer training, shared by
    * [[trainMerges]] and [[Unigram.train]]: (word, count) by count desc,
    * then word. Words are byte-level GPT-2 pre-tokens with whitespace
    * mapped to the marker chars (so a merge or a piece can span a
    * leading space), or the legacy lowercase-alnum words: the
    * pre-tokenizer the counts run ([[PreTokens]]), one native kernel
    * per document. At most `maxWords` words are collected, and more
    * fails loudly. */
  private[operators] def wordCounts(docs: DataFrame, textCol: String,
      byteLevel: Boolean, maxWords: Int): Array[(String, Long)] = {
    val words = docs.select(explode(PreTokens.trainingWords(col(textCol), byteLevel)).as("w"))
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords + 1)
      .collect()
    require(wc.length <= maxWords,
      s"distinct-word table exceeds maxWords=$maxWords — raise the cap explicitly " +
        "if the corpus vocabulary is really this large")
    wc.map(r => (r.getString(0), r.getLong(1)))
  }

  /** The trained table as a (rank, left, right) DataFrame — the shape
    * [[mergesFrom]] reads back, for persisting a tokenizer to parquet. */
  def mergesDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right")
  }

  /** (id, n_bpe) per document. */
  def tokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      byteLevel: Boolean = true): DataFrame =
    docs.select(col(idCol), BpeKernel.count(col(textCol), merges, byteLevel).as("n_bpe"))
}
