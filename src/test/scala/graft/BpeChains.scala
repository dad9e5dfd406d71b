package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** BPE references in column form. The replace-chain counters the
  * native `BpeCount` kernel replaced (they are also what the DuckDB
  * oracle SQL replays): each pre-token as sentinel-spaced symbols, one
  * leftmost-non-overlapping `replace(" a b " → " ab ")` per merge in
  * rank order, inside interpreted `transform`/`aggregate` lambdas; null
  * text → 0. And the pre-tokenizer columns tokenizer training read its
  * words from before [[graft.plans.PreTokens]]. */
object BpeChains {

  /** The GPT-2 pre-tokens as a column: every match of
    * `TF.Gpt2Pattern`. */
  def gpt2Pretokens(text: Column): Column =
    regexp_extract_all(text, lit(TF.Gpt2Pattern), lit(0))

  /** Lowercased alphanumeric words — the legacy pre-tokenization. */
  def alnumWords(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " "), w => w =!= "")

  /** A document's training words: GPT-2 pre-tokens with whitespace
    * mapped to the marker chars, or the lowercase-alnum words. */
  def trainingWords(text: Column, byteLevel: Boolean): Column =
    if (byteLevel) transform(gpt2Pretokens(text), w => translate(w, TF.WsFrom, TF.WsTo))
    else alnumWords(text)

  private def chain(word: Column, merges: Seq[(String, String)]): Column = {
    val base = concat(lit(" "), regexp_replace(word, "(.)", "$1 "))
    val merged = merges.foldLeft(base) { case (s, (a, b)) =>
      replace(s, lit(s" $a $b "), lit(s" $a$b "))
    }
    size(split(trim(merged), " ")).cast("long")
  }

  private def total(counts: Column): Column =
    coalesce(aggregate(counts, lit(0L), (acc, c) => acc + c), lit(0L))

  /** Byte-level (GPT-2) chain: [[gpt2Pretokens]], whitespace → marker
    * chars, plus the UTF-8 byte surplus octet_length − length. */
  def gpt2(text: Column, merges: Seq[(String, String)] = TF.DefaultMerges): Column =
    total(transform(gpt2Pretokens(text), w0 =>
      chain(translate(w0, TF.WsFrom, TF.WsTo), merges) +
        (octet_length(w0) - length(w0)).cast("long")))

  /** Legacy chain over the lowercase-alnum words. */
  def legacy(text: Column, merges: Seq[(String, String)] = TF.DefaultMerges): Column =
    total(transform(alnumWords(text), w => chain(w, merges)))
}
