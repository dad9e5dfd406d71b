package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact interpolated per-group quantiles, distributed (SURVEY.md §2.2).
  *
  * The textbook formulation — `row_number().over(partitionBy(group)
  * .orderBy(value))` — puts every group in ONE task, so parallelism
  * equals the number of groups: fatal when groups are few and large
  * (3 return-flags × 33 B rows at 100 TB). Here every within-group
  * position comes from the two-pass rank core ([[Ranks.positions]]):
  * range partitioning on (group…, value), a local sort per task, and
  * per-(partition, group) offsets stitched into exact global
  * positions — parallelism is the shuffle partition count regardless
  * of the group count, and nothing data-sized funnels through a task.
  *
  * The core gets one of two inputs: the raw non-null rows (each row's
  * position range is its own rank, lo = hi), or, for a bounded value
  * domain, the (group, value) counts table (one row per distinct pair,
  * lo..hi spanning its ties). One interpolation expression serves
  * both, and both give bit-identical results.
  *
  * The interpolation arithmetic (floor/ceil ranks + linear weights) is
  * spelled out so an external engine (the DuckDB oracle) executes
  * bit-identical math. Ties share a value, so their arbitrary relative
  * rank order cannot change any interpolated result.
  */
object Quantiles {

  /** Interpolation strategies (the polars `quantile(interpolation=)`
    * surface): how a percentile landing between two ranks resolves.
    * All five pick/blend the same two neighbor ranks, so they share one
    * range shuffle regardless of how many strategies a call mixes. */
  val Strategies: Set[String] = Set("linear", "lower", "higher", "nearest", "midpoint")

  /** One row per group with a column per requested percentile.
    *
    * @param ps (output column name, p in [0,1]) pairs — linear interpolation
    */
  def exactQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      ps: Seq[(String, Double)]): DataFrame =
    exactQuantilesStrategy(df, groupCols, valCol,
      ps.map { case (name, p) => (name, p, "linear") })

  /** As [[exactQuantiles]] but with a per-output interpolation strategy.
    *
    * @param ps (output column name, p in [0,1], strategy) triples
    */
  def exactQuantilesStrategy(
      df: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      ps: Seq[(String, Double, String)]): DataFrame =
    quantilesAndGroups(df, groupCols, valCol, ps, counts = false)._1

  /** [[exactQuantilesStrategy]] for BOUNDED value domains (enum-like
    * columns: quantities, flags, bucket ids): the rank core runs over
    * the (group, value) counts table instead of the raw rows. The only
    * data-sized shuffle is then a map-side-partial (group, value)
    * count — one row per distinct pair per mapper — and the range
    * shuffle moves the counts table, whose size is the DOMAIN size
    * (corpus-independent). The r15 A/B at the 10× stress scale:
    * 2.3 s (range over rows) → 0.7 s (counts) for the quantity median,
    * values bit-equal. On a continuous column the counts table is as
    * large as the data and the extra hash aggregation buys nothing —
    * results stay exact, only the speed is lost. */
  def exactQuantilesCounts(
      df: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      ps: Seq[(String, Double, String)]): DataFrame =
    quantilesAndGroups(df, groupCols, valCol, ps, counts = true)._1

  /** [[exactQuantilesStrategy]] (or, with `counts`,
    * [[exactQuantilesCounts]]) and its EXACT group count — the result's
    * row count, which pass 1 of the rank core already knows. A caller
    * joining the result back onto its data sizes that join by it (the
    * planner sees an ExistingRDD with no size estimate). */
  private[graft] def quantilesAndGroups(
      df: DataFrame,
      groupCols: Seq[String],
      valCol: String,
      ps: Seq[(String, Double, String)],
      counts: Boolean): (DataFrame, Long) = {
    require(ps.nonEmpty && ps.forall { case (_, p, _) => p >= 0 && p <= 1 })
    ps.foreach { case (_, _, s) =>
      require(Strategies.contains(s), s"unknown quantile strategy '$s' (${Strategies.mkString("/")})")
    }
    // Null values are excluded up front (SQL/DuckDB quantile semantics:
    // quantiles are over the non-null values; a null would take a rank
    // and shift every position after it)
    val rows = df.select((groupCols :+ valCol).map(col): _*)
      .filter(col(valCol).isNotNull)
    val ranked =
      if (counts) Ranks.positions(
        rows.groupBy((groupCols :+ valCol).map(col): _*).agg(count(lit(1)).as("__w")),
        groupCols, valCol, Some("__w"))
      else Ranks.positions(rows, groupCols, valCol, None)

    // Each strategy is a different pick/blend of the same two neighbor
    // ranks floor(idx)/ceil(idx): a row contributes the value for each
    // neighbor rank inside its position range [lo, hi]. Spelled out as
    // explicit arithmetic so an external engine computes bit-identical
    // results; on raw rows (lo = hi = the row's rank) this is the
    // per-row textbook expression. Only two terms are ever non-zero and
    // two-term FP addition is commutative, so the sum does not depend
    // on row order or on which input fed the core. `nearest` rounds
    // half-up (round() is half-away-from-zero in both Spark's
    // BigDecimal HALF_UP and DuckDB's std::round for the non-negative
    // idx). `midpoint` sums two half-weights, which collapse to 1.0
    // when idx is integral and floor == ceil.
    def q(p: Double, strategy: String): Column = {
      val idx = (col("__n").cast("double") - 1) * p
      val v = col(valCol)
      val fl = floor(idx)
      val ce = ceil(idx)
      def at(rank: Column, x: Column): Column =
        when(rank >= col("__lo") && rank <= col("__hi"), x).otherwise(lit(0.0))
      sum(strategy match {
        case "linear" =>
          // ceil counts only when it differs from floor: at an integral
          // idx the floor term already carries the whole weight
          at(fl, v * (lit(1.0) - abs(fl - idx))) +
            at(when(ce =!= fl, ce), v * (lit(1.0) - abs(ce - idx)))
        case "lower" => at(fl, v)
        case "higher" => at(ce, v)
        case "nearest" => at(round(idx, 0), v)
        case "midpoint" => at(fl, v * 0.5) + at(ce, v * 0.5)
      })
    }
    val out = ranked.table
      .groupBy(groupCols.map(col): _*)
      .agg(ps.head match { case (name, p, s) => q(p, s).as(name) },
        ps.tail.map { case (name, p, s) => q(p, s).as(name) }: _*)
    (out, ranked.groups.length.toLong)
  }
}
