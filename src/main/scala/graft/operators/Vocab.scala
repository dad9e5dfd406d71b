package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{TextFunctions => TF}
import graft.plans.TextHashColumns.tokenNgrams

/** Corpus vocabulary statistics — the token-frequency table a
  * training-data pipeline builds before tokenizer training or
  * stopword/quality analysis.
  *
  * Shape: tokenize → explode → two-level aggregation. The first
  * groupBy((token, doc)) collapses within-document repeats, the second
  * folds to (term frequency, document frequency) — both levels get
  * map-side partial aggregation, so the token-key shuffle carries one
  * row per distinct (token, doc) per mapper, never one per occurrence.
  * `count_distinct` would instead expand every row through the shuffle.
  * Top-k lands in TakeOrderedAndProject (per-partition heaps + driver
  * merge of k rows), not a global sort.
  */
object Vocab {

  /** Top-`k` tokens by corpus term frequency (ties broken by token, so
    * the cut at rank k is deterministic), with document frequency.
    * Tokenization is the engine-wide ASCII-whitespace split (see
    * TextFunctions.tokenCount / graft-oracle notes on `\s`). */
  def topK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = docs.select(
      col(idCol).as("id"),
      explode(TF.tokens(col(textCol))).as("token"))
    toks
      .groupBy(col("token"), col("id")).agg(count(lit(1)).as("c"))
      .groupBy(col("token")).agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(k)
  }

  /** Top-`k` keywords per document by tf-idf (tf · ln(N/df)) — the
    * keyword-extraction / topic-tagging pass. One corpus count job for
    * N, then the same two-level aggregation as [[topK]]; the per-doc
    * top-k ranks over the ROUNDED score (4dp) with a token tie-break,
    * so the cut is deterministic and engine-independent (raw-double
    * ordering would let a ulp of libm `ln` reorder near-ties). */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val n = docs.count()
    val toks = docs.select(
      col(idCol).as("id"),
      explode(TF.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
    // df = rows per token in the (id, token) table — already distinct
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("token"))
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
    val w = Window.partitionBy(col("id")).orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id"), col("token"), col("tfidf"))
  }

  /** Per-document average token log-likelihood under a unigram
    * language model — the CCNet-recipe perplexity-proxy quality signal
    * (docs whose tokens are globally rare score low; boilerplate of
    * common tokens scores high). `lm_score` = Σ ln(tf/T) / n over the
    * doc's n token occurrences (tf = model count of the token, T =
    * model token total); perplexity = exp(−lm_score).
    *
    * By default the corpus models itself: the vocabulary is one
    * partial-agg'd token shuffle of this corpus. To score against a
    * REFERENCE corpus's model (the actual CCNet setup — e.g. Wikipedia
    * as the target distribution), pass its vocabulary (token, tf) as
    * `model`; duplicate token rows in a supplied model (e.g. a union of
    * shards) are merged by summing their counts, so the join cannot
    * fan occurrences out.
    *
    * Shape: FLAT occurrence form — the (id, token) occurrence stream
    * joins the vocabulary on token and partial-aggregates to one row
    * per doc, with no per-doc (id, token) pre-aggregate (it saves the
    * vocabulary's corpus scan but adds an occurrence-sized shuffle,
    * and measured slower end to end). T rides IN-PLAN as a 1-row
    * aggregate of the vocabulary broadcast-cross-joined onto the vocab
    * side (the q_value_props idiom) — no eager driver job. Inner join:
    * under a reference model, out-of-vocabulary tokens drop out of the
    * average (CCNet scores known tokens; a smoothing variant would
    * left-join + coalesce to a floor logprob). Zero-token docs drop
    * out (nothing to score). */
  def lmScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Option[DataFrame] = None): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(TF.tokens(col(textCol))).as("token"))
    val vocab = model
      .map(_.groupBy(col("token")).agg(sum(col("tf")).as("tf")))
      .getOrElse(toks.groupBy(col("token")).agg(count(lit(1)).as("tf")))
    val totalT = vocab.agg(sum(col("tf")).cast("double").as("__T"))
    toks.join(vocab.crossJoin(broadcast(totalT)), Seq("token"))
      .groupBy(col("id"))
      .agg((round(
        sum(log(col("tf").cast("double") / col("__T"))) /
          count(lit(1)), 4) + lit(0.0)).as("lm_score"))
  }

  /** Bigram extension of [[lmScore]]: per-doc average transition
    * log-likelihood Σ ln(c₂(p,w)/c₁(p)) / n over the doc's n adjacent
    * token pairs, with counts from the corpus itself — the
    * higher-fidelity CCNet-style signal (word-salad docs score low
    * even when every individual token is common).
    *
    * Shape: bigrams are built SCAN-SIDE by the native adjacent-n-gram
    * kernel ([[graft.plans.TextHashColumns.tokenNgrams]]: one loop per row over the
    * doc's tokens — no posexplode + per-token window shuffle, no
    * interpreted lambdas) and scored in the [[lmScore]] flat occurrence
    * form: the pair stream joins the distinct-bigram table (c₁ attached
    * model-side) and partial-aggregates per doc. Docs with < 2 tokens have no
    * transitions and drop out. */
  def lmScoreBigram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = docs.select(col(idCol).as("id"),
        explode(tokenNgrams(col(textCol), "p", "w")).as("z"))
      .select(col("id"), col("z.p").as("p"), col("z.w").as("w"))
    val c2 = bg.groupBy(col("p"), col("w")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("p")).agg(sum(col("c2")).as("c1"))
    bg.join(c2.join(c1, Seq("p")), Seq("p", "w"))
      .groupBy(col("id"))
      .agg(
        // + 0.0 normalizes IEEE signed zero on the (≤0) score — a
        // tiny-negative mean rounds to -0.0 in DuckDB, +0.0 in Spark
        (round(sum(log(col("c2").cast("double") / col("c1"))) /
          count(lit(1)), 4) + lit(0.0)).as("lm2_score"),
        count(lit(1)).as("n_transitions"))
  }

  /** Interpolated trigram extension of [[lmScoreBigram]] — the
    * standard CCNet-adjacent word-salad catcher: per-doc average
    * Σ ln(λ₃·P₃ + λ₂·P₂ + λ₁·P₁) / n over the doc's n adjacent token
    * triples (u,v,w), with P₃ = c₃(u,v,w)/c₁₂(u,v),
    * P₂ = c₂₃(v,w)/c₂(v), P₁ = c(w)/T — every count a marginal of the
    * ONE corpus trigram table, so the model is self-consistent and
    * any SQL engine can replicate it exactly. Interpolation means a
    * never-seen trigram still scores via its bigram/unigram mass
    * instead of −∞, which is what separates fluent-but-novel text
    * from actual word salad.
    *
    * Shape: the [[lmScore]] flat occurrence form. The triple stream
    * ([[trigrams]]) joins the distinct-trigram table ONCE on (u,v,w)
    * and partial-aggregates per doc; the four marginal joins
    * ([[trigramMarginals]]) move model-sized tables only, and T rides
    * the model side as a 1-row IN-PLAN aggregate broadcast-cross-
    * joined on (the q_value_props idiom) — no eager driver scalar.
    * Docs with < 3 tokens have no transitions and drop out; a
    * zero-trigram corpus yields an empty result rather than an
    * error. */
  def lmScoreTrigram(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      l3: Double = 0.6,
      l2: Double = 0.3,
      l1: Double = 0.1): DataFrame = {
    requireWeights(l3, l2, l1)
    val tg = trigrams(docs, idCol, textCol)
    val c3 = tg.groupBy(col("u"), col("v"), col("w")).agg(count(lit(1)).as("c3"))
    val totalT = c3.agg(sum(col("c3")).cast("double").as("__T"))
    val (c12, c23, c2m, cw) = trigramMarginals(c3)
    val model = c3.join(c12, Seq("u", "v")).join(c23, Seq("v", "w"))
      .join(c2m, Seq("v")).join(cw, Seq("w"))
    // the λ-mix AST is parenthesized exactly like the DuckDB oracle so
    // the doubles agree bit-for-bit before the 4dp round
    val p = lit(l3) * (col("c3").cast("double") / col("c12")) +
      lit(l2) * (col("c23").cast("double") / col("c2m")) +
      lit(l1) * (col("cw").cast("double") / col("__T"))
    tg.join(model.crossJoin(broadcast(totalT)), Seq("u", "v", "w"))
      .groupBy(col("id"))
      .agg(
        (round(sum(log(p)) / count(lit(1)), 4) + lit(0.0)).as("lm3_score"),
        count(lit(1)).as("n_transitions"))
  }

  private def requireWeights(l3: Double, l2: Double, l1: Double): Unit =
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9 && l3 >= 0 && l2 >= 0 && l1 >= 0,
      s"interpolation weights ($l3, $l2, $l1) must be non-negative and sum to 1")

  /** The flat trigram occurrence stream (id, u, v, w): one row per
    * adjacent token triple of each doc, built SCAN-SIDE by the native
    * adjacent-n-gram kernel ([[graft.plans.TextHashColumns.tokenNgrams]],
    * no posexplode + window). Docs with < 3 tokens yield no rows. */
  private def trigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(tokenNgrams(col(textCol), "u", "v", "w")).as("z"))
      .select(col("id"), col("z.u").as("u"), col("z.v").as("v"), col("z.w").as("w"))

  /** The lower-order marginals of a (u, v, w, c3) trigram table that
    * the interpolated score needs: c12(u,v), c23(v,w), c2m(v) and
    * cw(w). All four are aggregations of the model-sized table. */
  private def trigramMarginals(c3: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c12 = c3.groupBy(col("u"), col("v")).agg(sum(col("c3")).as("c12"))
    val c23 = c3.groupBy(col("v"), col("w")).agg(sum(col("c3")).as("c23"))
    val c2m = c23.groupBy(col("v")).agg(sum(col("c23")).as("c2m"))
    val cw = c23.groupBy(col("w")).agg(sum(col("c23")).as("cw"))
    (c12, c23, c2m, cw)
  }

  /** The persistable state of [[lmScoreTrigramWith]]: the corpus
    * trigram table (u, v, w, c3). Every lower-order count the
    * interpolated score needs is a marginal of this one table, so one
    * parquet write freezes the whole model — train on a reference
    * corpus once (Wikipedia, a held-out clean slice), score every
    * ingest batch against it without rescanning the reference. */
  def trigramModel(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    trigrams(docs, idCol, textCol)
      .groupBy(col("u"), col("v"), col("w")).agg(count(lit(1)).as("c3"))

  /** Score docs against a FROZEN trigram model ([[trigramModel]],
    * typically read back from parquet) — the incremental twin of
    * [[lmScoreTrigram]], which models the scored corpus itself. Batch
    * cost scales with the batch: the model's marginals are four
    * aggregations of the (already small) model table, never a corpus
    * rescan. Out-of-model mass backs off: an unseen trigram keeps its
    * bigram/unigram terms (LEFT joins, null terms contribute zero),
    * and a transition with NO known term at any order has zero
    * probability and is excluded from the average (the [[lmScore]]
    * OOV convention) rather than scoring −∞; `n_transitions` counts
    * the scored transitions. Scoring a corpus against its own model
    * reproduces [[lmScoreTrigram]] exactly (spec-pinned). */
  def lmScoreTrigramWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      l3: Double = 0.6,
      l2: Double = 0.3,
      l1: Double = 0.1): DataFrame = {
    requireWeights(l3, l2, l1)
    // duplicate trigram rows in a supplied model (e.g. a union of
    // shard models) merge by summing counts — otherwise the doc-sized
    // join below would fan occurrences out and inflate every average
    val c3 = model.select(col("u"), col("v"), col("w"), col("c3"))
      // a caller-supplied model (e.g. read back from parquet) may hold
      // null n-gram fields, which would count into the marginals
      .filter(col("u").isNotNull && col("v").isNotNull && col("w").isNotNull)
      .groupBy(col("u"), col("v"), col("w")).agg(sum(col("c3")).as("c3"))
    val (c12, c23, c2m, cw) = trigramMarginals(c3)
    // model total rides IN-PLAN as a broadcast 1-row aggregate (the
    // lmScoreTrigram idiom) — no eager job, so the frozen-model scorer
    // composes into one fully lazy plan. It attaches to the model-sized
    // cw table, never in a doc-sized join. An EMPTY model yields a NULL
    // total, every backoff term coalesces to zero, and the result is
    // empty — the zero-trigram convention, not an error.
    val totalT = c3.agg(sum(col("c3")).cast("double").as("__T"))
    val p =
      coalesce(lit(l3) * (col("c3").cast("double") / col("c12")), lit(0.0)) +
      coalesce(lit(l2) * (col("c23").cast("double") / col("c2m")), lit(0.0)) +
      coalesce(lit(l1) * (col("cw").cast("double") / col("__T")), lit(0.0))
    // FLAT occurrence stream through three LEFT joins, one per backoff
    // level — the minimum that preserves backoff (a lower order can be
    // known when the higher one isn't). Denominators ride their
    // numerators: c12 only matters when the trigram exists, c2m only
    // when the bigram does, so both attach model-side, never in a
    // doc-sized join
    trigrams(docs, idCol, textCol)
      .join(c3.join(c12, Seq("u", "v")), Seq("u", "v", "w"), "left")
      .join(c23.join(c2m, Seq("v")), Seq("v", "w"), "left")
      .join(cw.crossJoin(broadcast(totalT)), Seq("w"), "left")
      .withColumn("__p", p)
      .filter(col("__p") > 0)
      .groupBy(col("id"))
      .agg(
        (round(sum(log(col("__p"))) / count(lit(1)), 4) + lit(0.0))
          .as("lm3_score"),
        count(lit(1)).as("n_transitions"))
  }

  /** N-gram novelty against a frozen [[trigramModel]]: the fraction
    * of each doc's trigram transitions absent from the reference
    * table. Low novelty against a training-corpus model flags likely
    * memorization/duplication of training text; high novelty against
    * a clean reference flags out-of-distribution or garbled text.
    * One LEFT join of the trigram occurrence stream against the model
    * on (u,v,w) — the [[lmScoreTrigramWith]] cost shape minus the
    * backoff levels. Docs with < 3 tokens drop out. */
  def noveltyRate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame = {
    val novel = sum(when(col("c3").isNull, lit(1L)).otherwise(lit(0L)))
    // membership probe only — dedup the model keys so duplicate rows
    // in a supplied table can't fan the occurrence stream out
    trigrams(docs, idCol, textCol)
      .join(model.select(col("u"), col("v"), col("w"), col("c3"))
          .dropDuplicates("u", "v", "w"),
        Seq("u", "v", "w"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_transitions"),
        novel.as("n_novel"),
        round(novel.cast("double") / count(lit(1)), 4).as("novelty"))
  }

  /** Tokenizer-vocabulary coverage QA: per-doc out-of-vocabulary
    * token count and fraction against a vocabulary — either supplied
    * (a real tokenizer's piece table, one `token` column) or the
    * corpus's own top-`vocabSize` tokens under a deterministic
    * (count desc, token asc) tie-break. The pre-training question
    * this answers: how much of each document would a tokenizer
    * shatter into unknowns/bytes — a high OOV rate flags encoding
    * damage, the wrong language, or a vocab trained on the wrong
    * distribution. Same flat occurrence shape as [[lmScore]]; the
    * vocab side is one TakeOrdered (never a global
    * sort) and joins by token equality. */
  def oovRate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: Option[DataFrame] = None,
      vocabSize: Int = 1000): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(TF.tokens(col(textCol))).as("token"))
    // distinct() so a supplied piece table with duplicate rows can't
    // fan occurrences out and inflate n_tokens/n_oov
    val v = vocab.map(_.select(col("token")).distinct()).getOrElse(
      toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token"))
        .limit(vocabSize)
        .select(col("token")))
    // flat occurrence form — no (id, token) dedup shuffle; the small
    // vocab side broadcasts under AQE so the membership probe is
    // effectively scan-side
    val oov = sum(when(col("__in").isNull, lit(1L)).otherwise(lit(0L)))
    toks.join(v.withColumn("__in", lit(1)), Seq("token"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        oov.as("n_oov"),
        round(oov.cast("double") / count(lit(1)), 4).as("oov_rate"))
  }

  /** Per-document word-repetition signals (the Gopher repetition
    * filters): `dup_ratio` = fraction of tokens that are repeats of an
    * earlier token, `top_frac` = share of the single most frequent
    * token. Same two-level (id, token) aggregation as [[topK]] — both
    * shuffles stay partial-agg friendly, nothing is per-occurrence
    * past the first groupBy. Docs with zero tokens drop out (no tokens
    * to measure). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(TF.tokens(col(textCol))).as("token"))
    toks
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(
        col("id"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double"), 4)
          .as("dup_ratio"),
        round(col("top_c").cast("double") / col("n_words").cast("double"), 4)
          .as("top_frac"))
  }

  /** Raw corpus token counts (token, c) — the persistable input to the
    * drift family: freeze a reference snapshot's counts to parquet
    * ONCE, then monitor every later snapshot or micro-batch against
    * them without rescanning the reference corpus (the
    * [[trigramModel]] freeze pattern at unigram granularity). One
    * partial-agg'd token shuffle; never per-occurrence past it. */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TF.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))

  /** Vocabulary coverage curve: for each coverage level `p` in
    * `levels`, the number of most-frequent token types needed to cover
    * `p` of the corpus token mass (the tokenizer-vocabulary sizing
    * question: "how big must the vocab be to cover 99% of tokens?").
    *
    * Scale shape: the per-token cumulative sum is NOT computed as a
    * global window over the vocabulary (a single-partition sort funnel
    * at 1e8+ types). Instead counts collapse to COUNT CLASSES —
    * (c, types at c, mass at c) — a table bounded by the number of
    * distinct frequencies (O(√total) under any Zipf-ish law, a few
    * thousand even at 100 TB), and the boundary inside the crossing
    * class is recovered arithmetically: all tokens in a class are
    * interchangeable, so the minimal type count is
    * `types above + ⌈(target − mass above) / c⌉`. One token-keyed
    * partial-agg'd shuffle, one tiny class aggregation, a window over
    * the class table only; the total rides in-plan as a broadcast
    * 1-row aggregate.
    *
    * The ⌈·⌉ is evaluated as "smallest integer k with
    * (massAbove + k·c : double) ≥ p·T" via a guarded floor probe, NOT
    * a bare ceil of the double quotient — the quotient can round
    * across an exact boundary, and the probe keeps the comparison
    * bit-identical to a per-token cumulative-sum formulation (the
    * DuckDB oracle's shape). Returns (level, n_types,
    * covered_tokens). */
  def coverage(
      docs: DataFrame, textCol: String,
      levels: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    coverageFromCounts(tokenCounts(docs, textCol), levels)

  /** [[coverage]] over an existing (token, c) count table — the form
    * that composes with the MAINTAINED counts the drift monitors fold
    * per micro-batch ([[mergeTokenCounts]] state): live
    * vocabulary-coverage tracking costs one tiny class aggregation
    * over state, never a corpus rescan. Duplicate token rows (a union
    * of shards) merge by summing first, so they cannot skew the
    * curve. */
  def coverageFromCounts(
      counts: DataFrame,
      levels: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(levels.nonEmpty && levels.forall(p => p > 0 && p <= 1),
      s"coverage levels must be in (0, 1]: ${levels.mkString(", ")}")
    val classes = counts
      .groupBy(col("token")).agg(sum(col("c")).as("c"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("types"))
      .select(col("c"), col("types"), (col("c") * col("types")).as("mass"))
    // deliberate single-partition window over the COUNT-CLASS table
    // (≤ distinct-frequency rows, thousands at any corpus size, never
    // corpus-sized) — whitelisted in PlanAuditSpec's empty-partition-
    // window audit, which is the guard that lets the driver mains
    // silence WindowExec's per-execution warning flood
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = classes.select(
      col("c"), col("types"), col("mass"),
      sum(col("types")).over(w).as("cum_types"),
      sum(col("mass")).over(w).as("cum_mass"))
    val total = classes.agg(sum(col("mass")).cast("double").as("__t"))
    val target = col("level") * col("__t")
    val prevMass = col("cum_mass") - col("mass")
    val prevTypes = col("cum_types") - col("types")
    // boundary class = the qualifying class with max c (first crossing
    // in descending-frequency order); max_by keeps the window tiny
    val guess = floor((target - prevMass) / col("c")).cast("long")
    val k = greatest(lit(1L),
      when((prevMass + (guess - 1) * col("c")).cast("double") >= target, guess - 1)
        .when((prevMass + guess * col("c")).cast("double") >= target, guess)
        .otherwise(guess + 1))
    cum
      .crossJoin(broadcast(total))
      .select(col("c"), col("types"), col("mass"), col("cum_types"),
        col("cum_mass"), col("__t"),
        explode(array(levels.map(lit(_)): _*)).as("level"))
      .filter(col("cum_mass").cast("double") >= target)
      .select(col("level"), col("c"),
        (prevTypes + k).as("n_types_here"),
        (prevMass + k * col("c")).as("covered_here"))
      .groupBy(col("level"))
      .agg(
        max_by(col("n_types_here"), col("c")).as("n_types"),
        max_by(col("covered_here"), col("c")).as("covered_tokens"))
  }

  /** Zipf rank–frequency fit over the top-`k` token types: OLS slope /
    * intercept of ln(count) on ln(rank), ranks assigned by (count
    * desc, token asc). A healthy natural-language corpus sits near
    * slope −1; a flatter/steeper fit flags boilerplate floods or
    * truncation. Top-k lands in TakeOrderedAndProject (per-partition
    * heaps, k rows to the driver side of the exchange — never a global
    * sort); the k-row window and the closed-form moment fold are
    * bounded by k. The slope is computed from explicit raw moments
    * with fixed parenthesization (cf. q_skew_kurt) so an oracle can
    * replay it bit-for-bit. */
  /** Tokenizer fertility per stratum (usually language): how many
    * subword tokens the tokenizer spends per whitespace word
    * (`fertility`) and how many characters each token carries
    * (`chars_per_token`) — the standard vocab-health diagnostic for a
    * multilingual corpus (a language with fertility ≫ its peers is
    * being shredded into bytes and will be under-trained at equal
    * document counts; the mT5/XLM-R capacity-allocation argument).
    * Uses the BPE-ish pre-tokenizer ([[TF.bpeTokenCount]]) as the
    * subword proxy; swap in real BPE counts via
    * [[graft.operators.Bpe]] for a trained vocab.
    *
    * 100 TB shape: all three counters are scan-local expressions; the
    * only exchange is the stratum-keyed partial aggregate — one row
    * per (mapper, stratum). Ratios divide exact integer sums, so the
    * 4dp round is engine- and order-independent. */
  def tokenizerFertility(docs: DataFrame, textCol: String, byCol: String): DataFrame =
    docs.groupBy(col(byCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col(textCol))).as("n_words"),
        sum(TF.bpeTokenCount(col(textCol))).as("n_tokens"),
        sum(length(col(textCol))).as("n_chars"))
      .select(col(byCol), col("n_docs"), col("n_words"), col("n_tokens"),
        // zero-sum guards: a stratum whose texts tokenize to nothing
        // (all-punctuation, empty strings) must yield NULL in BOTH
        // engines — an unguarded x/0 is null in Spark but inf in
        // DuckDB (the zipfSlope n>1 lesson); the oracle mirrors these
        // as CASE WHEN
        when(col("n_words") > 0,
          round(col("n_tokens").cast("double") / col("n_words"), 4))
          .as("fertility"),
        when(col("n_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_tokens"), 4))
          .as("chars_per_token"))

  def zipfSlope(docs: DataFrame, textCol: String, k: Int = 1000): DataFrame = {
    require(k > 1, "zipfSlope needs at least 2 ranks")
    val top = tokenCounts(docs, textCol)
      .orderBy(col("c").desc, col("token").asc)
      .limit(k)
    // deliberate global window over the TakeOrdered-k frame (≤ k rows
    // by the limit above) — whitelisted in PlanAuditSpec's
    // empty-partition-window audit
    val ranked = top.withColumn("r",
      row_number().over(Window.orderBy(col("c").desc, col("token").asc)))
    val x = log(col("r").cast("double"))
    val y = log(col("c").cast("double"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    ranked
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .select(
        col("n").cast("long").as("n_ranks"),
        // n > 1 guards the degenerate single-type corpus: with one
        // rank the OLS denominator n*sxx - sx*sx is exactly 0 and a
        // bare divide returns null in Spark but inf/error in DuckDB —
        // null out BOTH stats (mirrored in the oracle SQL). + 0.0
        // normalizes signed zero on the signed slope/intercept.
        when(col("n") > 1, round(slope, 4) + lit(0.0)).as("zipf_slope"),
        when(col("n") > 1,
          round((col("sy") - slope * col("sx")) / col("n"), 4) + lit(0.0))
          .as("zipf_intercept"))
  }

  /** Fold two (token, c) count tables into one — the incremental-update
    * step of a maintained running count (full join + summed overlap). */
  def mergeTokenCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("token"), col("c").as("__ca"))
      .join(b.select(col("token"), col("c").as("__cb")), Seq("token"), "full")
      .select(col("token"),
        (coalesce(col("__ca"), lit(0L)) + coalesce(col("__cb"), lit(0L))).as("c"))

  /** The joined (token, c_old, c_new) count table of two corpora plus
    * the broadcast 1-row totals (__v = union vocab size, __no/__nn =
    * old/new token totals) — shared spine of the drift family. Counts
    * are vocab-sized (≪ corpus), the join is token-keyed on the
    * counts' own grouping exchanges (reused, not rebuilt), and the
    * totals ride the q_value_props broadcast idiom — no eager driver
    * job anywhere. Supplied count tables with duplicate token rows
    * (e.g. a union of shards) merge by summing, so they cannot skew
    * the probabilities. */
  private def driftSpine(oldCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    def merged(counts: DataFrame, as: String) = counts
      .groupBy(col("token")).agg(sum(col("c")).as(as))
    val j = merged(oldCounts, "c_old").join(merged(curCounts, "c_new"), Seq("token"), "full")
      .select(col("token"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val tot = j.agg(
      count(lit(1)).as("__v"),
      sum(col("c_old")).as("__no"),
      sum(col("c_new")).as("__nn"))
    j.crossJoin(broadcast(tot))
  }

  private def pCol(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (c + lit(1.0)) / (n + v) // Laplace: every union token has finite mass

  /** Per-token distribution drift between two corpora — the ingest
    * monitor that says WHAT changed when a recrawl or a new source
    * shifts the token distribution: each union-vocabulary token's
    * contribution p_new·ln(p_new/p_old) to KL(new ‖ old), with
    * Laplace-smoothed probabilities so tokens present in only one
    * corpus contribute finite mass instead of ±∞. Positive terms are
    * tokens the new corpus over-represents; the magnitude ranks the
    * drivers of the drift. Rounded at 8 decimals — term magnitudes
    * are O(1/vocab), so this keeps 4-5 significant digits while
    * absorbing engine ulp differences in ln (the [[lmScore]]
    * convention scaled to the term size).
    *
    * Scale shape: one partial-agg'd token shuffle per corpus, a
    * token-keyed full join that REUSES those grouping exchanges, and
    * totals folded in as a broadcast 1-row aggregate. Nothing is
    * per-occurrence past the first groupBy; nothing touches the
    * driver. */
  def tokenDrift(old: DataFrame, cur: DataFrame, textCol: String): DataFrame =
    tokenDriftCounts(tokenCounts(old, textCol), tokenCounts(cur, textCol))

  /** [[tokenDrift]] from pre-built (token, c) count tables — the form
    * a standing monitor uses against a FROZEN reference snapshot's
    * persisted counts. */
  def tokenDriftCounts(oldCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val j = driftSpine(oldCounts, curCounts)
    val pNew = pCol(col("c_new"), col("__nn"), col("__v"))
    val pOld = pCol(col("c_old"), col("__no"), col("__v"))
    j.select(col("token"), col("c_old"), col("c_new"),
      // + 0.0: a tiny-negative term (p_new < p_old) that rounds to
      // zero must not split into -0.0 (duck) vs +0.0 (spark)
      (round(pNew * log(pNew / pOld), 8) + lit(0.0)).as("kl_term"))
  }

  /** One-row drift dashboard: both KL directions plus the bounded,
    * symmetric Jensen–Shannon divergence (nats) over the same smoothed
    * distributions — the alert threshold number, where [[tokenDrift]]
    * is the drill-down. Same plan spine; the three sums fold in ONE
    * aggregate pass over the vocab-sized count table. */
  def driftSummary(old: DataFrame, cur: DataFrame, textCol: String): DataFrame =
    driftSummaryCounts(tokenCounts(old, textCol), tokenCounts(cur, textCol))

  /** Per-stratum drift — WHICH language/source drifted: one KL(new ‖
    * old) + JSD row per stratum, each computed over that stratum's own
    * union vocabulary with the same Laplace smoothing as the global
    * [[driftSummary]]. A stratum present in only one corpus still
    * reports (its other side is all-smoothing-mass). Scale shape: one
    * (stratum, token)-keyed partial-agg'd shuffle per corpus, a
    * same-key full join on the reused count exchanges, per-stratum
    * totals attached via a broadcast join of the stratum-count table
    * (rows = #strata — config-sized), and one final per-stratum
    * aggregation. Nothing driver-side. */
  def driftByStratum(
      old: DataFrame, cur: DataFrame, stratumCol: String, textCol: String): DataFrame =
    driftByStratumCounts(
      stratumTokenCounts(old, stratumCol, textCol),
      stratumTokenCounts(cur, stratumCol, textCol))

  /** (stratum, token, c) counts — the persistable/foldable input of
    * the per-stratum drift family (the [[tokenCounts]] shape with the
    * stratum riding the key). */
  def stratumTokenCounts(
      docs: DataFrame, stratumCol: String, textCol: String): DataFrame =
    docs.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        explode(TF.tokens(col(textCol))).as("token"))
      .groupBy(col("stratum"), col("token")).agg(count(lit(1)).as("c"))

  /** Fold two (stratum, token, c) tables — the incremental-update step
    * of a maintained per-stratum running count. */
  def mergeStratumTokenCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("stratum"), col("token"), col("c").as("__ca"))
      .join(b.select(col("stratum"), col("token"), col("c").as("__cb")),
        Seq("stratum", "token"), "full")
      .select(col("stratum"), col("token"),
        (coalesce(col("__ca"), lit(0L)) + coalesce(col("__cb"), lit(0L))).as("c"))

  /** [[driftByStratum]] from pre-built (stratum, token, c) tables —
    * the standing-monitor form; duplicate key rows merge by summing. */
  def driftByStratumCounts(oldCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    def merged(counts: DataFrame, as: String) = counts
      .groupBy(col("stratum"), col("token")).agg(sum(col("c")).as(as))
    val j = merged(oldCounts, "c_old")
      .join(merged(curCounts, "c_new"), Seq("stratum", "token"), "full")
      .select(col("stratum"), col("token"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val tot = j.groupBy(col("stratum")).agg(
      count(lit(1)).as("__v"),
      sum(col("c_old")).as("__no"),
      sum(col("c_new")).as("__nn"))
    val withT = j.join(broadcast(tot), Seq("stratum"))
    val pNew = pCol(col("c_new"), col("__nn"), col("__v"))
    val pOld = pCol(col("c_old"), col("__no"), col("__v"))
    val m = (pNew + pOld) / 2
    withT.groupBy(col("stratum")).agg(
      // + 0.0: KL is ≥0 mathematically but its float sum can land a
      // hair below zero — normalize signed zero after the round
      (round(sum(pNew * log(pNew / pOld)), 6) + lit(0.0)).as("kl_new_vs_old"),
      (round(sum(pOld * log(pOld / pNew)), 6) + lit(0.0)).as("kl_old_vs_new"),
      (round(sum(pNew * log(pNew / m) / 2 + pOld * log(pOld / m) / 2), 6)
        + lit(0.0)).as("jsd"))
  }

  /** [[driftSummary]] from pre-built (token, c) count tables. */
  def driftSummaryCounts(oldCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val j = driftSpine(oldCounts, curCounts)
    val pNew = pCol(col("c_new"), col("__nn"), col("__v"))
    val pOld = pCol(col("c_old"), col("__no"), col("__v"))
    val m = (pNew + pOld) / 2
    j.agg(
      (round(sum(pNew * log(pNew / pOld)), 6) + lit(0.0)).as("kl_new_vs_old"),
      (round(sum(pOld * log(pOld / pNew)), 6) + lit(0.0)).as("kl_old_vs_new"),
      (round(sum(pNew * log(pNew / m) / 2 + pOld * log(pOld / m) / 2), 6)
        + lit(0.0)).as("jsd"))
  }

  /** Corpus PMI of adjacent bigrams: for every bigram seen at least
    * `minCount` times, `pmi = ln(P(a,b) / (P(a)·P(b)))` with
    * P(a,b) = c_ab/T_bigrams and P(a) = c_a/T_unigrams — the collocation
    * table (named entities, fixed phrases) vocabulary/tokenizer work
    * reads before merging multi-word units.
    *
    * 100 TB shape: two token-keyed aggregations (unigrams, adjacent
    * bigrams from the native n-gram kernel
    * [[graft.plans.TextHashColumns.tokenNgrams]]),
    * both map-side partial — the shuffles carry one row per
    * distinct token/pair per mapper, never per occurrence. The bigram
    * table then joins the vocabulary-sized unigram table twice (AQE
    * broadcasts it when it fits) and both totals ride in-plan as
    * broadcast 1-row aggregates — no eager driver job, the whole thing
    * is ONE lazy plan. The λ-free AST is parenthesized exactly like
    * the DuckDB oracle so the doubles agree bit-for-bit before the
    * 4dp round. */
  def pmi(docs: DataFrame, idCol: String, textCol: String, minCount: Long = 5): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val uni = docs.select(explode(TF.tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val bg = docs.select(explode(tokenNgrams(col(textCol), "p", "w")).as("z"))
      .select(col("z.p").as("p"), col("z.w").as("w"))
      .groupBy(col("p"), col("w")).agg(count(lit(1)).as("c_ab"))
    val t1 = uni.agg(sum(col("c1")).cast("double").as("__T1"))
    val t2 = bg.agg(sum(col("c_ab")).cast("double").as("__T2"))
    bg.filter(col("c_ab") >= minCount)
      .join(uni.select(col("tok").as("p"), col("c1").as("c_a")), Seq("p"))
      .join(uni.select(col("tok").as("w"), col("c1").as("c_b")), Seq("w"))
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select(col("p"), col("w"), col("c_ab"),
        // + 0.0 normalizes IEEE signed zero: when a pmi lands exactly
        // on 0 after the 4dp round, DuckDB's round(ln(x<1),4) emits
        // -0.0 while Spark emits +0.0 and the stringified compare
        // diverges; -0.0 + 0.0 = +0.0 makes both engines agree
        // bit-for-bit (mirrored as `+ 0` in the oracle SQL)
        (round(log(col("c_ab").cast("double") * col("__T1") * col("__T1") /
          (col("__T2") * col("c_a") * col("c_b"))), 4) + lit(0.0)).as("pmi"))
  }

  /** Per-document lexical diversity: token count, distinct-token count
    * (types), hapax count (types occurring exactly once), type-token
    * ratio, and hapax fraction — the cheap scan-side signals that
    * separate natural prose from keyword-stuffed or templated text.
    *
    * 100 TB shape: ENTIRELY scan-local, zero exchanges — all three
    * counters come from ONE native hash-count pass per row
    * ([[graft.plans.TextHash.lexicalStatsKernel]], inside whole-stage
    * codegen; the HOF sorted-run formulation benched 10 s at sf0.1),
    * no explode, no token shuffle. Documents with no tokens are
    * dropped (ratios undefined). */
  def lexicalDiversity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.plans.TextHashColumns.lexicalStats(col(textCol))
    docs
      .select(col(idCol), st.as("__lx"))
      .select(col(idCol),
        col("__lx.n_tokens").as("n_tokens"),
        col("__lx.n_types").as("n_types"),
        col("__lx.n_hapax").as("n_hapax"))
      .filter(col("n_tokens") > 0)
      .select(col(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_types").cast("long").as("n_types"),
        col("n_hapax").cast("long").as("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 4).as("hapax_ratio"))
  }
}
