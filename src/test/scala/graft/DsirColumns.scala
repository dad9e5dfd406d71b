package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** The DSIR Column forms that the native kernels
  * ([[graft.plans.TextHashColumns.md5Buckets]], `dsirScore`,
  * `dsirDomainScores`) replaced, kept as references: the token bucket
  * as md5-hex string arithmetic per exploded token, and the frozen
  * scorers as `aggregate`/`transform`/`zip_with` lambdas over a
  * `typedLit` map of the fitted table, interpreted per token. The
  * DuckDB oracle SQL replays the same arithmetic. */
object DsirColumns {

  /** A token's bucket: md5(t)'s first 13 hex chars as a long, mod B. */
  def bucketOf(t: Column, buckets: Int): Column =
    pmod(conv(substring(md5(t.cast("binary")), 1, 13), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Each whitespace token's bucket, in token order. */
  def tokenBuckets(text: Column, buckets: Int): Column =
    transform(TF.tokens(text), t => bucketOf(t, buckets))

  /** The frozen DSIR log-weight: a left fold over the tokens from 0.0,
    * 0.0 for a bucket the table lacks, rounded to 4 dp. */
  def scoreFrozen(ratios: Array[(Long, Double)], text: Column, buckets: Int): Column = {
    val lrMap = typedLit(ratios.toMap)
    val toks = TF.tokens(coalesce(text, lit("")))
    round(aggregate(toks, lit(0.0),
      (acc, t) => acc + coalesce(element_at(lrMap, bucketOf(t, buckets)), lit(0.0))), 4) +
      lit(0.0)
  }

  /** The frozen by-domain log-weights: one length-D accumulator folded
    * over the tokens (`zip_with` add per token), then one
    * struct<domain, logw> per domain, rounded to 4 dp. */
  def scoreFrozenByDomain(
      grid: Array[(String, Long, Double)], text: Column, buckets: Int): Column = {
    val domains = grid.map(_._1).distinct.sorted.toSeq
    val byBucket: Map[Long, Seq[Double]] = grid.groupBy(_._2).view
      .mapValues { rows =>
        val m = rows.map(e => e._1 -> e._3).toMap
        domains.map(d => m.getOrElse(d, 0.0))
      }.toMap
    val lrsLit = typedLit(byBucket)
    val zeros = typedLit(Seq.fill(domains.length)(0.0))
    val bs = tokenBuckets(coalesce(text, lit("")), buckets)
    val sums = aggregate(bs, zeros, (acc, b) =>
      zip_with(acc, coalesce(element_at(lrsLit, b), zeros), (x, y) => x + y))
    zip_with(typedLit(domains), sums, (d, s) =>
      struct(d.as("domain"), (round(s, 4) + lit(0.0)).as("logw")))
  }
}
