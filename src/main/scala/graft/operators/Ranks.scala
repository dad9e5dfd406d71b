package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, RowOrdering}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Global ranks and exact quantiles from ONE two-pass rank core — the
  * distributed form of polars `rank(method=)`, `quantile`, `qcut` and
  * `fill_null(strategy="median")`, none of which may funnel a group
  * (or the whole frame) through one window task.
  *
  * The core ([[positions]]) takes a frame of (prefix…, value, weight):
  * the prefix names independent groups (quantile group columns, or the
  * column id of several melted rank columns), the weight is 1 per raw
  * row or a count per distinct value. It
  *
  *  1. range-partitions on (prefix…, value) and sorts each partition:
  *     a group's rows are ordered ACROSS partitions, every task sorts
  *     its own key range, and parallelism is the shuffle partition
  *     count whatever the group count;
  *  2. finalizes the physical plan (AQE included) ONCE with
  *     `queryExecution.toRdd`;
  *  3. pass 1 collects, per (partition, group), the weight sum and the
  *     distinct-value count — at most partitions × groups entries,
  *     bounded by cluster config, never by data;
  *  4. pass 2 runs over the SAME RDD object, so it reads the same
  *     range-shuffle map output and sees exactly the layout pass 1
  *     described; per row it emits the running position range
  *     [lo, hi] (0-based, hi − lo + 1 = weight), the 1-based dense
  *     index of the value within its group, and the group total n,
  *     from the broadcast per-partition offsets.
  *
  * Building the frame runs eager jobs (like `GDataset.withRowIndex`):
  * the range partitioner's sample, the shuffle map stages AQE
  * materializes while finalizing (the range shuffle, plus the counts
  * aggregation's on a counts input), and the pass-1 collect — 3 jobs
  * on raw rows, 4 on a counts table. Pass 2 runs with the caller's
  * action, and nothing is cached. The in-plan alternative (a
  * `monotonically_increasing_id` per-partition skeleton, a window
  * over it and a broadcast join back) was correct and scale-flat but
  * paid ~6 extra AQE stage-materialization jobs of coordination
  * latency per call (the r10 bench's q_rank_global 2.5× regression
  * was almost entirely inter-job gap). The frame that feeds the range
  * exchange is deliberately NOT persisted although the partitioner
  * samples it (its work since the last exchange runs twice): the
  * transient MEMORY_AND_DISK cache measured slower (q_rank_global
  * 1.65 → 1.12 s at sf0.1, the spearman matrix 2.81 → 2.30 s without
  * it) — a column-pruned scan plus a map-side partial recomputes
  * cheaper than a cache round trip.
  */
object Ranks {

  /** [[positions]]' result: the ranked rows, and per group (in key
    * order) the group's first sorted row and its distinct-value count. */
  private[operators] final case class Positions(
      table: DataFrame, groups: Seq[(InternalRow, Long)])

  /** The two-pass rank core (see the object doc). `df` holds `prefix`,
    * `value` and, when `weight` is given, a non-null long weight
    * column with one row per distinct (prefix…, value); without it
    * every row weighs 1. `value` must be non-null.
    * Output: (prefix…, value, __lo, __hi, __dense, __n), one row per
    * input row. */
  private[operators] def positions(
      df: DataFrame, prefix: Seq[String], value: String,
      weight: Option[String]): Positions = {
    val spark = df.sparkSession
    val keys = (prefix :+ value).map(col)
    val sorted = df.select(keys ++ weight.map(col): _*)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
    val keyFields = sorted.schema.fields.take(keys.length).toSeq
    val types = keyFields.map(_.dataType)
    val weighted = weight.isDefined
    val rdd = sorted.queryExecution.toRdd

    // pass 1: (group's first row, weight sum, distinct values) per
    // group run of each partition, in partition order
    val runs = rdd.mapPartitions { it =>
      val c = new Cursor(types, weighted)
      val out = scala.collection.mutable.ArrayBuffer.empty[(InternalRow, Long, Long)]
      var first: InternalRow = null
      var w = 0L
      var d = 0L
      it.foreach { r =>
        val rw = c.step(r)
        if (c.newGroup) {
          if (first != null) out += ((first, w, d))
          first = c.first
          w = 0L
          d = 0L
        }
        w += rw
        if (c.newValue) d += 1
      }
      if (first != null) out += ((first, w, d))
      Iterator.single(out.toArray)
    }.collect()

    // a group's runs sit in consecutive partitions (range partitioning
    // orders partitions by key), so one walk in partition order turns
    // the runs into per-group offsets
    val prefixOrd = RowOrdering.createNaturalAscendingOrdering(types.init)
    val groups = scala.collection.mutable.ArrayBuffer.empty[(InternalRow, Long, Long)]
    val runOffsets = runs.map(_.map { case (first, w, d) =>
      if (groups.isEmpty || prefixOrd.compare(groups.last._1, first) != 0)
        groups += ((first, 0L, 0L))
      val (g, gw, gd) = groups.last
      groups(groups.length - 1) = (g, gw + w, gd + d)
      (gw, gd, groups.length - 1)
    })
    val bOff = spark.sparkContext.broadcast(runOffsets.map(_.map {
      case (ow, od, g) => Array(ow, od, groups(g)._2) }))

    // pass 2: the same RDD object, the same run split
    val nKey = keys.length
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      val c = new Cursor(types, weighted)
      val offs = bOff.value(pid)
      var g = -1
      var pos = 0L
      var dense = 0L
      var n = 0L
      it.map { r =>
        val w = c.step(r)
        if (c.newGroup) {
          g += 1
          pos = offs(g)(0)
          dense = offs(g)(1)
          n = offs(g)(2)
        }
        if (c.newValue) dense += 1
        val vals = new Array[Any](nKey + 4)
        var i = 0
        while (i < nKey) {
          // unsafe rows are reused per input batch: copy what points into one
          vals(i) = InternalRow.copyValue(r.get(i, types(i)))
          i += 1
        }
        vals(nKey) = pos
        vals(nKey + 1) = pos + w - 1
        vals(nKey + 2) = dense
        vals(nKey + 3) = n
        pos += w
        new GenericInternalRow(vals): InternalRow
      }
    }
    val schema = StructType(keyFields ++
      Seq("__lo", "__hi", "__dense", "__n").map(StructField(_, LongType, nullable = false)))
    Positions(GraftShim.internalCreateDataFrame(spark, ranked, schema),
      groups.map { case (first, _, d) => (first, d) }.toSeq)
  }

  /** Steps through one sorted partition of the core's input: per row,
    * whether it opens a new group (prefix) or a new value, and its
    * weight. Both passes split a partition with it, so they agree on
    * the runs. Equality is Spark's own ordering (the one the sort
    * used), so -0.0/0.0 and NaNs group as the sort placed them. A
    * weighted row is a distinct value by construction (one counts row
    * per value), so only raw rows compare values. */
  private final class Cursor(types: Seq[DataType], weighted: Boolean) {
    private val prefixOrd = RowOrdering.createNaturalAscendingOrdering(types.init)
    private val keyOrd = RowOrdering.createNaturalAscendingOrdering(types)
    var first: InternalRow = null // a copy of the current group's first row
    private var valueFirst: InternalRow = null // raw rows: the current value's
    var newGroup = false
    var newValue = false

    def step(r: InternalRow): Long = {
      newGroup = first == null || prefixOrd.compare(first, r) != 0
      if (newGroup) first = r.copy()
      if (weighted) {
        newValue = true
        r.getLong(types.length)
      } else {
        newValue = newGroup || keyOrd.compare(valueFirst, r) != 0
        if (newValue) valueFirst = if (newGroup) first else r.copy()
        1L
      }
    }
  }

  /** Global average-tie rank of `c` appended as column `out` — the
    * distributed form of polars `Series.rank("average")`. NO global
    * single-partition window: one (value, count) row per distinct
    * value goes through the rank core, and the (value → rank) table
    * joins back on the value. Cost: one column-pruned scan, one
    * hash-agg exchange, one counts-sized range shuffle, one
    * value-keyed join back. Rows with a null value keep a null rank. */
  def avgRank(df: DataFrame, c: String, out: String): DataFrame =
    df.join(avgRankTable(df, c, out), Seq(c), "left")

  /** The (value → rank) table behind [[avgRank]]: one row per distinct
    * value of `c` in `df`, rank in column `out`. Exposed so callers
    * ranking SEVERAL columns of the same frame can compute each table
    * from the BASE frame and attach them with independent joins —
    * computing column k's table from the already-joined accumulator
    * would make each eager pass-1 job recompute every previous join. */
  def avgRankTable(df: DataFrame, c: String, out: String): DataFrame =
    rankTables(df, Seq(c), Seq(Seq(out -> "average"))).head

  /** [[avgRankTable]] for SEVERAL same-typed columns of one frame in
    * ONE core call: the columns melt to (cid, value) rows, so one
    * counts aggregation and one (cid, value) range shuffle rank all k
    * columns, and pass 1 runs once. vs k [[avgRankTable]] calls: one
    * corpus scan instead of k, one set of eager jobs instead of k.
    * Requires a shared column type (the melt array is homogeneous).
    * Returns one (value-named-as-col, out) table per column, all
    * slices of the SAME ranked plan. */
  def avgRankTables(df: DataFrame, cols: Seq[String], outs: Seq[String]): Seq[DataFrame] = {
    require(cols.nonEmpty && cols.length == outs.length,
      "avgRankTables needs one output name per column")
    val types = cols.map(c => df.schema(c).dataType).distinct
    require(types.length == 1, s"avgRankTables needs one shared column type, got $types")
    rankTables(df, cols, outs.map(o => Seq(o -> "average")))
  }

  /** polars Series.rank for every tie method with a distributed form —
    * "average"/"min"/"max"/"dense" — appended in one core call
    * (`outs` is (output column, method)*). All four are arithmetic on
    * the core's (lo, hi, dense), so several methods cost ONE counts
    * shuffle. "ordinal" is deliberately absent: it ranks by arrival
    * order within ties, which is row-level (withRowIndex over a sort),
    * not a property of the value CDF. */
  def rankGlobal(df: DataFrame, c: String, outs: Seq[(String, String)]): DataFrame =
    df.join(rankTables(df, Seq(c), Seq(outs)).head, Seq(c), "left")

  /** One (value, rank…) table per column of `cols`, with the (output
    * column, method) pairs of `outs(i)` for column i: average is a
    * double (tie midpoint), min/max/dense are longs. One column ranks
    * its counts table alone; several melt under a `__cid` prefix. */
  private def rankTables(
      df: DataFrame, cols: Seq[String], outs: Seq[Seq[(String, String)]]): Seq[DataFrame] = {
    val methods = Set("average", "min", "max", "dense")
    require(outs.forall(o => o.nonEmpty && o.forall(m => methods.contains(m._2))),
      s"rank methods must be among ${methods.mkString("/")}: $outs")
    val (prefix, melted) =
      if (cols.length == 1) (Nil, df.select(col(cols.head).as("__v")))
      else (Seq("__cid"),
        df.select(posexplode(array(cols.map(col): _*)).as(Seq("__cid", "__v"))))
    val counts = melted.filter(col("__v").isNotNull)
      .groupBy((prefix :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__w"))
    val ranked = positions(counts, prefix, "__v", Some("__w"))
    val distinct: Map[Int, Long] = ranked.groups.map { case (first, d) =>
      (if (prefix.isEmpty) 0 else first.getInt(0)) -> d }.toMap
    val (lo, hi) = (col("__lo"), col("__hi"))
    cols.indices.map { i =>
      val slice =
        if (prefix.isEmpty) ranked.table else ranked.table.filter(col("__cid") === i)
      val table = slice.select(col("__v").as(cols(i)) +: outs(i).map { case (name, m) =>
        (m match {
          // avg rank of a tie group = (count ≤ v) − (n_eq − 1)/2
          case "average" => hi + 1 - (hi - lo) / 2.0
          case "min" => lo + 1
          case "max" => hi + 1
          case "dense" => col("__dense")
        }).as(name)
      }: _*)
      // pass 1 already knows the EXACT distinct-value count: a small
      // rank table gets a broadcast hint, so the caller's value-keyed
      // attach join stops shuffling the data side (the planner sees an
      // ExistingRDD with no stats and would pick a sort-merge join —
      // two exchanges and sorts of the full frame for an 11-row
      // discount table). A continuous column at scale exceeds the
      // bound and keeps the sort-merge join.
      if (distinct.getOrElse(i, 0L) <= BroadcastRankRows) broadcast(table) else table
    }
  }

  /** Rank attach tables, and quantile results where a caller joins
    * them back, at or under this EXACT row count get a broadcast hint. Honest sizing: the (value, rank) payload is
    * ~16 B/row, but a built broadcast HashedRelation costs several
    * times that (UnsafeRow framing + hash-map slots + pointer array —
    * realistically ~70–100 B/row), so the 1M cap is ≤ ~100 MB built
    * per table, and [[avgRankTables]] can hold one such broadcast per
    * rank column in a single plan (3 columns in the corr-matrix
    * family → worst case ~300 MB per executor). That is inside the
    * "few hundred MB is usually fine" broadcast envelope and far
    * under the 8 GB / 512M-row hard cap at any executor count —
    * broadcasts replicate per executor, not per task. A caller
    * ranking MANY columns at once should lower the bound
    * proportionally; the enum-like domains (flags, quantities,
    * buckets) this exists for sit orders of magnitude below it. */
  private[graft] val BroadcastRankRows = 1000000L
}
