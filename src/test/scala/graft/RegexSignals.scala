package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** The regexp/split/`filter` formulations of the text signals that the
  * native one-pass counts ([[graft.plans.TextSignals]]) replaced, kept
  * as references: each signal re-scans the document with its own regex
  * or token split, and every stopword count is an interpreted `filter`
  * lambda over the tokens. The DuckDB oracle SQL replays these. */
object RegexSignals {

  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val wordArr = array(words.map(lit): _*)
    size(filter(TF.tokens(text), t => array_contains(wordArr, t)))
  }

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Fraction of tokens that are (any-language) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val all = TF.Stopwords.flatMap(_._2)
    stopwordHits(text, all).cast("double") /
      greatest(TF.tokenCount(text), lit(1)).cast("double")
  }

  /** Language-ID heuristic: argmax of per-language stopword hits with a
    * fixed tie-break order (the declaration order of `TF.Stopwords`). */
  def langId(text: Column): Column = {
    val hits = TF.Stopwords.map { case (lang, words) => lang -> stopwordHits(text, words) }
    val preds = hits.zipWithIndex.map { case ((lang, h), i) =>
      val cond = hits.drop(i + 1).map { case (_, other) => h >= other }
        .foldLeft(lit(true))(_ && _)
      (cond, lit(lang))
    }
    preds.init.foldRight(preds.last._2: Column) { case ((cond, lang), acc) =>
      when(cond, lang).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]: length + punctuation + stopword. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(TF.tokenCount(text).cast("double") / lit(200.0), lit(1.0))
    val punct = punctRatio(text)
    val punctScore = when(punct > 0.2, lit(0.0)).otherwise(lit(1.0) - punct * 2.5)
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    round((lenScore + punctScore + stopScore) / lit(3.0), 4)
  }

  /** Fraction of characters that are neither alphanumeric nor whitespace. */
  def symbolRatio(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Mean word length over non-whitespace chars. */
  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(TF.tokenCount(text), lit(1)).cast("double")

  /** The quality gate. Unlike the native gate, null text falls through
    * every rule to "ok" here (the CASE has an ELSE). */
  def filterReasonHof(
      text: Column,
      minWords: Int = 5,
      maxWords: Int = 1000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.1): Column = {
    val nw = TF.tokenCount(text)
    val mwl = meanWordLen(text)
    when(nw < minWords, "too_short")
      .when(nw > maxWords, "too_long")
      .when(mwl < minMeanWordLen || mwl > maxMeanWordLen, "word_len")
      .when(symbolRatio(text) > maxSymbolRatio, "symbols")
      .when(stopwordHits(text, TF.Stopwords.flatMap(_._2)) === 0, "no_stopwords")
      .otherwise("ok")
  }

  /** The `QualityModel.featureColumns` vector. */
  def featureColumnsRef(text: Column): Seq[Column] = Seq(
    least(TF.tokenCount(text).cast("double") / lit(200.0), lit(1.0)),
    punctRatio(text),
    stopwordRatio(text),
    symbolRatio(text),
    meanWordLen(text) / lit(10.0),
    TF.compressionRatio(text))
}
