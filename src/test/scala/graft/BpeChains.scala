package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** The replace-chain BPE counters the native `BpeCount` kernel
  * replaced, kept as references (they are also what the DuckDB oracle
  * SQL replays): each pre-token as sentinel-spaced symbols, one
  * leftmost-non-overlapping `replace(" a b " → " ab ")` per merge in
  * rank order, inside interpreted `transform`/`aggregate` lambdas.
  * Null text → 0. */
object BpeChains {

  private def chain(word: Column, merges: Seq[(String, String)]): Column = {
    val base = concat(lit(" "), regexp_replace(word, "(.)", "$1 "))
    val merged = merges.foldLeft(base) { case (s, (a, b)) =>
      replace(s, lit(s" $a $b "), lit(s" $a$b "))
    }
    size(split(trim(merged), " ")).cast("long")
  }

  private def total(counts: Column): Column =
    coalesce(aggregate(counts, lit(0L), (acc, c) => acc + c), lit(0L))

  /** Byte-level (GPT-2) chain: `TF.gpt2Pretokens`, whitespace → marker
    * chars, plus the UTF-8 byte surplus octet_length − length. */
  def gpt2(text: Column, merges: Seq[(String, String)] = TF.DefaultMerges): Column =
    total(transform(TF.gpt2Pretokens(text), w0 =>
      chain(translate(w0, TF.WsFrom, TF.WsTo), merges) +
        (octet_length(w0) - length(w0)).cast("long")))

  /** Legacy chain over the lowercase-alnum words. */
  def legacy(text: Column, merges: Seq[(String, String)] = TF.DefaultMerges): Column =
    total(transform(TF.alnumWords(text), w => chain(w, merges)))
}
