package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Model-based quality scoring — the "quality classifier" stage of a
  * production curation pipeline (the LLaMA/RefinedWeb recipes train a
  * small linear classifier on rule-labeled or reference-labeled seed
  * docs, then rank the whole corpus by its score): a logistic
  * regression over the engine's own scan-local quality signals,
  * trained driver-side on a BOUNDED, deterministically-ordered sample
  * (the SemDeDup/IVF bounded-collect pattern), applied corpus-wide as
  * a pure Column expression.
  *
  * 100 TB shape: training cost is fixed by `maxSample` (one bounded
  * collect of 6 doubles per row); scoring is closed-form arithmetic
  * over scan-local signals — five of the six features read the one
  * native text-signal pass the rule gate reads
  * ([[graft.plans.TextSignals]]) — whole-stage codegen, zero shuffles, and
  * bit-reproducible anywhere because the weights are plain doubles
  * computed by a fixed-iteration, full-batch gradient loop (no RNG,
  * no data-order dependence).
  */
object QualityModel {

  /** The fixed feature set, in weight order after the intercept:
    * length score (words / 200, capped at 1), punctuation ratio,
    * stopword ratio, symbol ratio, mean word length / 10, compression
    * ratio. All scan-local.
    *
    * The first five are Column arithmetic over ONE native code-point
    * pass ([[graft.plans.TextSignals]]), the counts the quality gate
    * and score read too: subexpression elimination (and the kernel's
    * per-row memo) runs the pass once per document however many
    * features read it. */
  def featureColumns(text: Column): Seq[Column] = {
    val words = graft.plans.TextSignals.columns(text).words
    // `least` skips nulls: gated, so null text keeps a null length score
    when(words.isNotNull, least(words.cast("double") / lit(200.0), lit(1.0))) +: Seq(
      TF.punctRatio(text),
      TF.stopwordRatio(text),
      TF.symbolRatio(text),
      TF.meanWordLen(text) / lit(10.0),
      TF.compressionRatio(text))
  }

  val NumFeatures: Int = 6

  /** Full-batch logistic-regression training on the first `maxSample`
    * docs in `orderCol` order (an explicit total order — distributed
    * frames have no implicit one, and determinism is the contract).
    * `labelCol` must be 0/1-valued (castable to double). Fixed `iters`
    * gradient steps at rate `lr`; returns `NumFeatures + 1` weights,
    * intercept first. */
  def train(
      docs: DataFrame,
      labelCol: String,
      textCol: String,
      orderCol: String,
      maxSample: Int = 4096,
      iters: Int = 300,
      lr: Double = 0.5): Array[Double] = {
    require(maxSample > 0 && iters > 0 && lr > 0, "maxSample, iters, lr must be positive")
    val sample = docs
      .filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .orderBy(col(orderCol))
      .limit(maxSample)
      .select((col(labelCol).cast("double") +: featureColumns(col(textCol))): _*)
      .collect()
      .map(r => (r.getDouble(0), Array.tabulate(NumFeatures)(i => r.getDouble(i + 1))))
    require(sample.nonEmpty, "training sample is empty")
    val labels = sample.map(_._1)
    require(labels.forall(l => l == 0.0 || l == 1.0),
      "labelCol must be 0/1-valued")
    require(labels.distinct.length == 2,
      "training sample needs both positive and negative labels")
    val n = sample.length
    val w = new Array[Double](NumFeatures + 1)
    var it = 0
    while (it < iters) {
      val grad = new Array[Double](NumFeatures + 1)
      var r = 0
      while (r < n) {
        val (y, f) = sample(r)
        var z = w(0)
        var j = 0
        while (j < NumFeatures) { z += w(j + 1) * f(j); j += 1 }
        val err = 1.0 / (1.0 + math.exp(-z)) - y
        grad(0) += err
        j = 0
        while (j < NumFeatures) { grad(j + 1) += err * f(j); j += 1 }
        r += 1
      }
      var j = 0
      while (j <= NumFeatures) { w(j) -= lr * grad(j) / n; j += 1 }
      it += 1
    }
    require(w.forall(v => !v.isNaN && !v.isInfinite),
      "training diverged — lower lr or check feature ranges")
    w
  }

  /** Corpus-wide score in (0, 1): sigmoid of the trained linear form
    * over the same scan-local features — closed-form Column
    * arithmetic, no model object, no shuffle. */
  def score(weights: Array[Double], text: Column): Column = {
    require(weights.length == NumFeatures + 1,
      s"expected ${NumFeatures + 1} weights (intercept first), got ${weights.length}")
    val z = featureColumns(text).zipWithIndex.foldLeft(lit(weights(0)): Column) {
      case (acc, (f, i)) => acc + f * lit(weights(i + 1))
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }
}
