package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized binning — the library form of polars `cut` / `qcut`
  * (reference: polars_dataset.py:74-78 forwards the full polars
  * expression surface, which includes Expr.cut(breaks, labels=,
  * left_closed=) and Expr.qcut(quantiles, labels=, left_closed=)).
  *
  * Scale shape: `cut` is a pure codegen'd when-chain — scan-local,
  * zero shuffles, whole-stage-codegen friendly. `qcut` computes its
  * breaks with the distributed exact quantiles
  * ([[Quantiles.exactQuantiles]] — the two-pass rank core, never a
  * global sort funnel) and joins the one-row-per-group break table
  * back as a broadcast, so the data stream pays one map-side join and
  * the binning itself is again a scan-local when-chain. `cut` is
  * lazy; `qcut` runs the rank core's bounded pass-1 job when it is
  * built.
  */
object Binning {

  private def fmt(d: Double): String =
    if (d.isNegInfinity) "-inf"
    else if (d.isPosInfinity) "inf"
    else if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** polars' default interval labels for `cut`: right-closed
    * `(-inf, b1], (b1, b2], …, (bk, inf]`; left-closed
    * `[-inf, b1), [b1, b2), …, [bk, inf)`. */
  def defaultCutLabels(breaks: Seq[Double], leftClosed: Boolean): Seq[String] = {
    val pts = Double.NegativeInfinity +: breaks :+ Double.PositiveInfinity
    pts.sliding(2).map { case Seq(a, b) =>
      if (leftClosed) s"[${fmt(a)}, ${fmt(b)})" else s"(${fmt(a)}, ${fmt(b)}]"
    }.toSeq
  }

  /** The when-chain core shared by cut and qcut: `bounds` are the k
    * upper boundaries (literals for cut, broadcast-joined columns for
    * qcut), `labels` the k+1 category names. Right-closed (`v <= b`)
    * by default, `leftClosed` flips to `v < b`. Null in → null out
    * (the final branch guards on isNotNull instead of an otherwise). */
  private[operators] def binExpr(
      v: Column, bounds: Seq[Column], labels: Seq[Column],
      leftClosed: Boolean): Column = {
    require(bounds.nonEmpty, "cut/qcut needs at least one break")
    require(labels.size == bounds.size + 1,
      s"labels must have ${bounds.size + 1} entries for ${bounds.size} breaks")
    val chain = bounds.zip(labels).map { case (b, l) =>
      (if (leftClosed) v < b else v <= b, l)
    }
    chain.tail
      .foldLeft(when(chain.head._1, chain.head._2)) { case (acc, (c, l)) => acc.when(c, l) }
      .otherwise(when(v.isNotNull, labels.last))
  }

  /** Fixed-break binning (polars `cut`): appends `out` labelling each
    * row's `c` value by the interval it falls in. `breaks` must be
    * strictly increasing; `labels` (optional) must have
    * `breaks.size + 1` entries, defaulting to polars' interval
    * notation. `leftClosed=false` (default) bins right-closed
    * `(a, b]`; `true` bins `[a, b)`. Nulls stay null. */
  def cut(
      df: DataFrame, c: String, breaks: Seq[Double],
      labels: Seq[String] = Nil, leftClosed: Boolean = false,
      out: String = "bin"): DataFrame = {
    require(breaks.nonEmpty && breaks.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      s"breaks must be strictly increasing: ${breaks.mkString(", ")}")
    val labs = if (labels.nonEmpty) labels else defaultCutLabels(breaks, leftClosed)
    val v = col(c)
    df.withColumn(out,
      binExpr(v, breaks.map(lit(_)), labs.map(lit(_)), leftClosed))
  }

  /** Quantile binning (polars `qcut`): breaks are the exact
    * (linear-interpolated) quantiles of `c` at `quantiles` — computed
    * per group when `groupCols` is non-empty, globally otherwise —
    * and each row is labelled by the interval it falls in. Default
    * labels are `q1..q{k+1}` (polars embeds the computed break values
    * in the labels; a data-dependent label is an anti-join-key at
    * scale, so the positional names are the default here and callers
    * who want interval strings pass them explicitly). The break table
    * is one row per group and broadcasts; equal adjacent quantiles
    * (heavy ties) simply make the lower interval empty rather than
    * erroring. Nulls stay null. */
  def qcut(
      df: DataFrame, c: String, quantiles: Seq[Double],
      labels: Seq[String] = Nil, leftClosed: Boolean = false,
      groupCols: Seq[String] = Nil, out: String = "bin"): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.sliding(2).forall(w => w.size < 2 || w(0) < w(1)) &&
      quantiles.forall(q => q > 0 && q < 1),
      s"quantiles must be strictly increasing in (0,1): ${quantiles.mkString(", ")}")
    val labs: Seq[String] =
      if (labels.nonEmpty) labels
      else (1 to quantiles.size + 1).map(i => s"q$i")
    val bcols = quantiles.indices.map(i => s"__qcut_b$i")
    val breaks = Quantiles.exactQuantiles(
      if (groupCols.isEmpty) df.select(col(c)) else df.select((groupCols :+ c).map(col): _*),
      groupCols, c, bcols.zip(quantiles))
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(breaks))
      else df.join(broadcast(breaks), groupCols, "left")
    joined
      .withColumn(out,
        binExpr(col(c), bcols.map(col), labs.map(lit(_)), leftClosed))
      .drop(bcols: _*)
  }

  /** Elementwise bound (polars `Expr.clip(lower_bound=, upper_bound=)`):
    * values below `lower` / above `upper` are pulled to the bound; an
    * absent bound leaves that side open. Null VALUES stay null (polars
    * clip is null-preserving — Spark's bare `greatest` would replace a
    * null value with the bound, so the result is gated on isNotNull);
    * a null BOUND element (column bounds) skips clipping on that side
    * for that row, matching polars. Pure scan-local codegen'd
    * arithmetic — zero shuffles, pushdown-transparent. */
  def clip(
      c: Column, lower: Option[Column] = None,
      upper: Option[Column] = None): Column = {
    require(lower.nonEmpty || upper.nonEmpty, "clip needs at least one bound")
    val floored = lower.map(b => greatest(c, b)).getOrElse(c)
    val bounded = upper.map(b => least(floored, b)).getOrElse(floored)
    when(c.isNotNull, bounded)
  }
}
