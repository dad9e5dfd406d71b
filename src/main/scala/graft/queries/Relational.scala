package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.t
import graft.queries.Pipeline.TokSql

/** Relational core of the engine (SURVEY.md §2.2): the polars
  * DataFrame surface the reference forwards to, re-expressed as lazy
  * Catalyst plans. Every query here has an exact DuckDB oracle.
  *
  * Scale notes: dims are broadcast explicitly; aggregations are
  * partial-agg friendly; top-k goes through TakeOrderedAndProject
  * (orderBy.limit), never a global sort of the full input; doubles
  * that cross an order-dependent reduction are rounded to 2dp on BOTH
  * engines so summation order cannot flip the comparison.
  */
object Relational {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style scan+agg: partial aggregation map-side, 6 groups.
    // money sums run on SCALED LONGS: prices/discounts are 2-dp
    // values, so round(x*100) recovers the exact cents and the long
    // sum is exact and ORDER-INDEPENDENT — a double sum at billions
    // of rows walks ~sqrt(n)·ulp(total) (the r11 sf1 stress measured
    // ~1e-2 on sum_disc, straddling the 2-dp rounding boundary
    // between engines and between Spark's own merge orders). Long
    // sums stay codegen'd-cheap where a decimal aggregate is 2-3×
    // slower; headroom: cents×cents products are ≤ ~5e8, so the
    // per-group running sum overflows 2^63 only past ~1.8e10 rows —
    // switch to decimal(38,4) beyond that
    "q1_agg" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val disc1c = round((lit(1) - col("l_discount")) * 100).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(cents).cast("double") / 100.0, 2).as("sum_base"),
          round(sum(cents * disc1c).cast("double") / 10000.0, 2).as("sum_disc"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          count(lit(1)).as("cnt"))
    }),

    // TPC-H Q6-style: selective filter fully pushed to parquet scan.
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1999-01-01")
            && col("l_discount") >= 0.02 && col("l_discount") <= 0.09
            && col("l_quantity") < 24)
        .agg(round(sum(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).cast("double") / 10000.0, 2)
          .as("revenue"))
    }),

    // TPC-H Q5-style multi-join: nation/region broadcast, fact join shuffles once.
    "q_join_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      val c  = t(s, dir, "customer")
      val n  = t(s, dir, "nation")
      val r  = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(round(col("l_extendedprice") * 100).cast("long") *
              round((lit(1) - col("l_discount")) * 100).cast("long"))
            .cast("double") / 10000.0, 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // EXISTS via left_semi — no row multiplication, no dedup needed.
    "q_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // NOT EXISTS via left_anti: customers with no large order.
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Window functions: rank within key + running sum, deterministic tiebreaks.
    "q_window" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val wRank = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wRun = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.withColumn("rn", row_number().over(wRank))
        .withColumn("running", round(sum(col("o_totalprice")).over(wRun), 2))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("running"))
    }),

    // Top-k: TakeOrderedAndProject (per-partition heap), not a global sort.
    "q_topn" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // distinct → partial-agg dedup before shuffle.
    "q_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
    }),

    // polars unique(keep="last"/"none") — whole-row winners over an
    // explicit total order; one window pass per variant, no self-join.
    "q_distinct_keep" -> ((s, dir) => {
      val ds = graft.core.GDataset(
        t(s, dir, "orders").select(
          // output as NTZ wall-clock: the harness renders DuckDB's
          // date/timestamp as datetime64 while parquet date32 reads
          // back as datetime.date — the NTZ form is the one both
          // engines stringify identically
          col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          col("o_totalprice")),
        "o_orderkey", Seq("o_custkey"))
      val last = ds.unique(Seq("o_custkey"), "last",
        Seq(col("o_orderdate"), col("o_orderkey"))).df
        .withColumn("variant", lit("last"))
      val none = ds.unique(Seq("o_custkey"), "none").df
        .withColumn("variant", lit("none"))
      last.unionByName(none)
    }),

    // str.to_date / str.to_datetime / dt.to_string with chrono format
    // strings (graft.functions.Temporal translates %-directives to
    // Spark patterns at plan time) — render → reparse round trips.
    "q_str_parse" -> ((s, dir) => {
      import graft.functions.Temporal
      t(s, dir, "orders").select(
        col("o_orderkey"),
        Temporal.dtToString(col("o_orderdate"), "%d/%m/%Y").as("s_date"))
        .select(
          col("o_orderkey"),
          col("s_date"),
          // NTZ-cast for the compare only: a DATE column round-trips
          // through pandas as midnight-timestamp on the oracle side
          Temporal.strToDate(col("s_date"), "%d/%m/%Y")
            .cast("timestamp_ntz").as("d_parsed"),
          Temporal.strToTimestamp(
            concat(Temporal.dtToString(
              Temporal.strToDate(col("s_date"), "%d/%m/%Y"), "%Y-%m-%d"),
              lit(" 08:30:45")),
            "%Y-%m-%d %H:%M:%S").as("ts_parsed"),
          Temporal.dtToString(
            Temporal.strToDate(col("s_date"), "%d/%m/%Y"), "%b %d, %Y").as("s_named"))
    }),

    // time-zone namespace across the 1992-1998 US DST boundaries:
    // noon NY wall clocks → instant / Tokyo wall / round-trip / zone
    // offset (−18000 EST vs −14400 EDT flips prove real tz rules, not
    // a constant shift). All scan-local codegen'd tz conversions.
    "q_dt_tz" -> ((s, dir) => {
      import graft.functions.Temporal
      val wall = col("o_orderdate").cast("timestamp_ntz") +
        make_dt_interval(lit(0), lit(12), lit(0), lit(0.0))
      val nyInstant = Temporal.replaceTimeZone(wall, "America/New_York")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        nyInstant.as("ny_instant"),
        Temporal.convertTimeZone(wall, "America/New_York", "Asia/Tokyo")
          .as("tokyo_wall"),
        Temporal.toLocal(nyInstant, "America/New_York").as("back_local"),
        (wall.cast("timestamp").cast("long") -
          nyInstant.cast("timestamp").cast("long")).as("offset_s"))
    }),

    // pivot with explicit value list (no extra distinct scan at scale).
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(round(sum(col("l_quantity")), 2))
    }),

    // unpivot / melt: wide → long without shuffles.
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "var", "val")
    }),

    // explode of a split list column + re-agg.
    "q_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_distinct"))
    }),

    // fill_null after an outer join (null-producing path).
    "q_fill_null" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(coalesce(round(sum(col("o_totalprice")), 2), lit(0.0)).as("total"),
          count(col("o_orderkey")).as("n_orders"))
    }),

    // fill_null(strategy="mean") per group (polars fill_null): a
    // deterministic null mask, then the group mean coalesced in. The
    // mask keeps the oracle exact — l_quantity is integer-valued, so
    // group means carry no float merge-order drift
    "q_fill_mean" -> ((s, dir) => {
      val masked = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        when(col("l_discount") > 0.05, lit(null))
          .otherwise(col("l_quantity")).as("qty"))
      fillNullStrategy(masked, "qty", "mean", Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("qty"), 4).as("qty_filled"))
    }),

    // fill_null(strategy="median") per group: the exact interpolated
    // median via the distributed quantile machinery, joined back and
    // coalesced — bit-identical to the oracle's q_quantile formula
    "q_fill_median" -> ((s, dir) => {
      val masked = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        when(col("l_discount") > 0.05, lit(null))
          .otherwise(col("l_quantity")).as("qty"))
      // boundedDomain: l_quantity is 1..50 by construction — the
      // median comes from a 150-row counts table, not a range
      // exchange of the 600k-row (6 B-row at 100 TB) projection
      fillNullStrategy(masked, "qty", "median", Seq("l_returnflag"),
        boundedDomain = true)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("qty"), 4).as("qty_filled"))
    }),

    // list.eval (polars generic element-wise list expression): map,
    // filter, and fold lambdas over the embedding list — all scan-local
    // HOFs. The map is raw double arithmetic (float→double cast exact,
    // *2+1 the same IEEE ops on both engines) and the fold is a left
    // fold in element order on both engines, so the pre-round sums are
    // bit-identical; rounding happens ONCE on the outputs (a per-
    // element round would let the engines' decimal-rounding ulps
    // accumulate through the fold)
    "q_list_eval" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
      val tx = listEval(base, "embedding", "tx")(
        x => x.cast("double") * 2 + 1)
      val fl = listEvalFilter(tx, "embedding", "pos")(x => x > 0)
      listEvalReduce(fl, "tx", "tot", lit(0.0))((a, x) => a + x)
        .select(col("vec_id"),
          round(element_at(col("tx"), 1), 6).as("e1"),
          size(col("pos")).as("n_pos"),
          round(col("tot"), 4).as("tot"))
    }),

    // value_counts.
    "q_value_counts" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("value"))
        .agg(count(lit(1)).as("count"))
    }),

    // exact interpolated percentiles per group, distributed via range
    // partitioning (graft.operators.Quantiles: a per-group window sort
    // would cap parallelism at the 3 return-flag groups). No rounding:
    // the floor/ceil + linear-weight arithmetic is bit-identical to the
    // oracle — builtin `percentile` vs `quantile_cont` differ in the
    // last ulp and can flip the rounding.
    "q_quantile" -> ((s, dir) =>
      graft.operators.Quantiles.exactQuantiles(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))),

    // sketch quantiles — the 100 TB path when the exact family's
    // range shuffle is too expensive: Greenwald–Khanna partial-aggs
    // map-side, rank error bounded by 1/accuracy. Rows-only (DuckDB's
    // approx_quantile is a different sketch); rank-error envelope vs
    // the exact path is spec-pinned (QuantilesSpec)
    "q_quantile_approx" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("p99"),
          count(lit(1)).as("n"))),

    // the polars interpolation-strategy surface: all four non-linear
    // strategies resolve the same two neighbor ranks, so mixing them in
    // one call still costs ONE range shuffle (same plan as q_quantile).
    "q_quantile_nearest" -> ((s, dir) =>
      graft.operators.Quantiles.exactQuantilesStrategy(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice",
        Seq(("p30_nearest", 0.3, "nearest"), ("p30_lower", 0.3, "lower"),
          ("p30_higher", 0.3, "higher"), ("p30_midpoint", 0.3, "midpoint"),
          ("p85_nearest", 0.85, "nearest")))),

    // time-bucketed aggregation (polars group_by_dynamic analogue).
    "q_time_bucket" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }),

    // group_by_dynamic `offset` parity: 1-hour windows anchored 15 min
    // off the epoch grid. Pure integer epoch-µs floor-mod arithmetic
    // (Temporal.dynamicBucket) — identical in any engine, scan-local
    "q_time_bucket_offset" -> ((s, dir) => {
      import graft.functions.Temporal
      t(s, dir, "events")
        .groupBy(Temporal.dynamicBucket(col("ts"), 3600, 900).as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }),

    // group_by_dynamic `closed="right"` parity: (start, end] windows —
    // a timestamp exactly on a boundary belongs to the window ENDING
    // there (bucket of ts − 1µs), vs the closed-left default
    "q_time_bucket_closed" -> ((s, dir) => {
      import graft.functions.Temporal
      t(s, dir, "events")
        .groupBy(Temporal.dynamicBucket(col("ts"), 3600, 0, "right").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    }),

    // overlapping sliding windows (polars group_by_dynamic with
    // every < period): 2-hour windows sliding by 1 hour, so each event
    // lands in two buckets. Spark's window() is epoch-aligned, hence
    // equivalent to unioning the two shifted hour-truncations.
    "q_window_sliding" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("total"))
    }),

    // rows-based rolling mean per key (polars rolling analogue).
    "q_rolling" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "events")
        .withColumn("rmean", round(avg(col("value")).over(w), 4))
        .select(col("user_id"), col("event_id"), col("rmean"))
    }),

    // value-RANGE rolling window (polars rolling_*_by over a numeric
    // key): frame = quantity within 5 units. The naive per-row range
    // frame re-aggregates ~frame-size rows per row (heavy ties make
    // that quadratic); the scale form aggregates per (group, key)
    // FIRST — 50 distinct quantities — windows over that tiny table,
    // and broadcast-joins the frame stats back onto the facts
    "q_rolling_range" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // scaled-long cents (README "Scale lesson of record"): the
      // pre-agg sum folds per-row doubles in engine/run-dependent
      // order, so round(__avg, 4) flips on half-ulp boundaries against
      // the oracle; summing exact integer cents makes the fold
      // order-free and the final double division deterministic
      val g = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rangeBetween(-5, Window.currentRow)
      val frames = g.select(col("l_returnflag"), col("l_quantity"),
        (sum(col("__s")).over(w).cast("double") / 100.0 / sum(col("__n")).over(w))
          .as("__avg"),
        sum(col("__n")).over(w).as("rng_n"))
      li.join(broadcast(frames), Seq("l_returnflag", "l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("__avg"), 4).as("rng_avg"), col("rng_n"))
    }),

    // str strip namespace (polars strip_chars / strip_chars_start /
    // strip_chars_end / strip_prefix / strip_suffix): set-based trims
    // map to Spark trim(col, set) = DuckDB trim(s, set); prefix/suffix
    // removal is an explicit guarded substring — all scan-local
    "q_str_strip" -> ((s, dir) => {
      val s40 = substring(col("text"), 1, 40)
      t(s, dir, "documents").select(
        col("doc_id"),
        trim(s40, "aeiou .").as("s_chars"),
        ltrim(s40, "aeiou .").as("s_start"),
        rtrim(s40, "aeiou .").as("s_end"),
        when(s40.startsWith("The "), s40.substr(lit(5), length(s40)))
          .otherwise(s40).as("s_prefix"),
        when(s40.endsWith("s"), s40.substr(lit(1), length(s40) - 1))
          .otherwise(s40).as("s_suffix"))
    }),

    // rolling_map (polars rolling_map): the GENERIC windowed kernel —
    // here a rolling midrange, a kernel no named rolling op covers,
    // oracle-checked against DuckDB's min/max window composition
    "q_rolling_map" -> ((s, dir) =>
      rollingMap(
        t(s, dir, "events"), Seq(col("user_id")), Seq(col("ts"), col("event_id")),
        "value", 4, "midrange")(a =>
          round((array_min(a) + array_max(a)) / 2, 4))
        .select(col("user_id"), col("event_id"), col("midrange"))),

    // rolling min/max (polars rolling_min/rolling_max): exact values,
    // no float accumulation, one window pass over the shared key sort
    "q_rolling_minmax" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        min(col("value")).over(w).as("roll_min"),
        max(col("value")).over(w).as("roll_max"))
    }),

    // numeric namespace: abs / clip / sqrt (sqrt is IEEE
    // correctly-rounded, so it compares bit-exact across engines;
    // log/pow are not and stay out of the oracle surface)
    "q_numeric_ops" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("dev"),
        least(greatest(col("l_quantity"), lit(5.0)), lit(45.0)).as("qty_clip"),
        sqrt(col("l_quantity")).as("sqrt_qty"))
    }),

    // rank family: rank/dense_rank over a tied ordering (deterministic
    // under ties), percent_rank, ntile over a unique total order (ntile
    // depends on physical order, so ties would be nondeterministic)
    "q_rank" -> ((s, dir) => {
      val wp = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
      val wu = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(wp).as("rnk"),
        dense_rank().over(wp).as("drnk"),
        percent_rank().over(wp).as("prnk"),
        ntile(4).over(wu).as("quartile"))
    }),

    // shift/diff per key (polars shift + arithmetic)
    "q_shift_diff" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("dv"))
    }),

    // string namespace: upper/substr/contains/regex-strip/trim
    "q_str_ops" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        upper(substring(col("text"), 1, 20)).as("head_upper"),
        col("text").contains("the").cast("int").as("has_the"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("novowel_len"),
        trim(substring(col("text"), 1, 30)).as("head_trim"))
    }),

    // str padding/slicing family (polars zfill / pad_start / pad_end /
    // reverse / head+tail slices) — all codegen'd builtins
    "q_str_pad" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lpad(col("o_orderkey").cast("string"), 12, "0").as("key_zfill"),
        rpad(col("o_orderpriority"), 16, ".").as("prio_pad"),
        reverse(col("o_orderpriority")).as("prio_rev"),
        substring(col("o_orderpriority"), 1, 3).as("prio_head"),
        substring(col("o_orderpriority"), -3, 3).as("prio_tail"))),

    // str splitn / split_exact (remainder in the last field, the
    // polars semantics — split_part would clip it) + strip_chars and
    // strip_prefix: regex and trim primitives both engines execute
    // byte-identically (no-match extract = '' on both, probed)
    "q_str_split" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "^(\\S+)", 1).as("w0"),
        regexp_extract(col("text"), "^\\S+\\s+(\\S+)", 1).as("w1"),
        regexp_extract(col("text"), "^\\S+\\s+\\S+\\s+(.*)$", 1).as("rest"),
        btrim(col("text"), lit("aeiou ")).as("stripped"),
        when(col("text").startsWith("the "), expr("substring(text, 5)"))
          .otherwise(col("text")).as("noprefix"))),

    // dt offset/boundary family (polars offset_by / month_start /
    // month_end / truncate to week): exact calendar arithmetic in both
    // engines; DATE values compared in ISO string form (the parquet
    // date32 / DuckDB datetime64 renderings differ at the harness)
    "q_dt_offset" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 1).cast("string").as("plus_1mo"),
        date_add(col("o_orderdate"), 90).cast("string").as("plus_90d"),
        trunc(col("o_orderdate"), "month").cast("string").as("month_start"),
        last_day(col("o_orderdate")).cast("string").as("month_end"),
        trunc(col("o_orderdate"), "week").cast("string").as("week_start"))),

    // vector namespace over the embedding column: L2 norm and max
    // magnitude. Elements cast to double BEFORE any arithmetic (the
    // same rule the cosine oracles use), so both engines square and
    // accumulate the identical doubles in the identical order
    "q_vector_norms" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x)), 4).as("l2_norm"),
        round(array_max(transform(v, x => abs(x))), 4).as("max_abs"))
    }),

    // string namespace, regex side (polars str.extract / replace /
    // pad_start / split.first): capture-group extract and padding are
    // RE2/Java-common syntax, same as the redaction rules
    "q_str_extract" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "\\b(\\w{7,})\\b", 1).as("first_long_word"),
        regexp_replace(col("text"), "\\d+", "#").as("digits_masked"),
        lpad(col("lang"), 5, "_").as("lang_padded"),
        split(col("text"), " ", 2).getItem(0).as("first_token"))
    }),

    // datetime namespace: year/month/day/weekday/quarter
    "q_dt_ops" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        weekday(col("o_orderdate")).as("dow"), // Monday = 0
        quarter(col("o_orderdate")).as("qtr"))
    }),

    // list aggregation: per-group sorted list (string form — array
    // renderings differ between engines, the joined string does not)
    "q_list_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("l_linenumber")))).as("lines"),
          count(lit(1)).as("n"))
    }),

    // time-based rolling window: 3-day RANGE over epoch seconds per key
    // (polars rolling by duration). min/max/count — exact aggregates, so
    // the oracle compare has no float-rounding boundary (a rolling MEAN
    // at 4dp hit an exact .5 midpoint where Spark's binary-faithful
    // HALF_UP and DuckDB's decimal round disagree).
    "q_rolling_time" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("es"))
        .rangeBetween(-259200, 0)
      t(s, dir, "events")
        .withColumn("es", col("ts").cast("timestamp").cast("long"))
        .select(col("user_id"), col("event_id"),
          min(col("value")).over(w).as("rmin3d"),
          max(col("value")).over(w).as("rmax3d"),
          count(lit(1)).over(w).as("rn3d"))
    }),

    // cast / schema ops: numeric → integral (explicit floor — Spark
    // truncates, DuckDB rounds, so neither engine's bare cast is used),
    // timestamp → date, string concat.
    "q_cast" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).cast("bigint").as("price_int"),
          // cast to date, then to string: pandas/duckdb render bare DATE
          // columns differently, so the comparison runs on the string form
          col("l_shipdate").cast("date").cast("string").as("ship_date"),
          concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("flag_status"))
    }),

    // JSON string column → typed value.
    "q_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
    }),

    // skew-salted fact-dim join, aggregated after the join (the shape
    // AQE's skew rewrite does not cover): the salt routes rows only, so
    // the result — and the oracle — is the plain join + agg
    "q_salted_join" -> ((s, dir) =>
      graft.operators.Salt.saltedJoin(
        t(s, dir, "lineitem").select(col("l_suppkey"), col("l_quantity")),
        t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"), col("s_nationkey")),
        Seq("l_suppkey"), factor = 8)
        .groupBy(col("s_nationkey"))
        // scaled-long hundredths: l_quantity happens to be
        // integer-valued (sum exact in any order), but that is a data
        // accident — the scaled form keeps the 2dp round stable if the
        // column ever carries fractional quantities
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("l_quantity") * 100).cast("long"))
            .cast("double") / 100.0, 2).as("qty"))),

    // pct_change per key (polars pct_change): one lag window, a single
    // divide — no rounding needed, one float op is bit-identical. A
    // zero base yields NULL (NULLIF convention on both sides): under
    // ANSI mode a bare divide would instead kill the whole job the
    // first time the data contains an exact 0 (sf0.1 does).
    "q_pct_change" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("value"), 1).over(w)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        when(prev =!= 0, col("value") / prev - 1).as("pct"))
    }),

    // cumulative namespace (polars cum_sum / cum_max / cum_count) per
    // key in index order; the float running sum is rounded at 2dp (both
    // engines accumulate in the same ORDER BY sequence)
    "q_cumulative" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 2).as("csum"),
        min(col("value")).over(w).as("cmin"),
        max(col("value")).over(w).as("cmax"),
        count(lit(1)).over(w).as("ccnt"))
    }),

    // cut: fixed-break binning (polars cut(breaks, labels=,
    // left_closed=)) through the parameterized Binning.cut API — a
    // codegen'd when-chain, boundaries on exact integral values so
    // both engines compare alike
    "q_cut" -> ((s, dir) =>
      graft.operators.Binning.cut(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        "l_quantity", Seq(10, 25, 40),
        Seq("q00_10", "q10_25", "q25_40", "q40_up"), out = "qty_bin")
        .drop("l_quantity")),

    // qcut: quantile binning (polars qcut) through Binning.qcut — the
    // DISTRIBUTED exact quantiles (a global ntile would put the whole
    // table in one window task); per-group breaks join back as a
    // 3-row-per-group broadcast
    "q_qcut" -> ((s, dir) =>
      graft.operators.Binning.qcut(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_extendedprice", Seq(0.25, 0.5, 0.75),
        Seq("q1", "q2", "q3", "q4"), groupCols = Seq("l_returnflag"),
        out = "price_quartile")
        .drop("l_returnflag", "l_extendedprice")),

    // clip (polars Expr.clip): two-sided, floor-only and cap-only —
    // all three through Binning.clip; scan-local, no shuffle
    "q_clip" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        graft.operators.Binning.clip(col("l_extendedprice"),
          Some(lit(5000.0)), Some(lit(50000.0))).as("price_clip"),
        graft.operators.Binning.clip(col("l_quantity"),
          Some(lit(10.0)), None).as("qty_floor"),
        graft.operators.Binning.clip(col("l_tax"),
          None, Some(lit(0.05))).as("tax_cap"))),

    // cross join (polars join(how="cross")): only sane when one side is
    // tiny — Spark picks BroadcastNestedLoopJoin, so the big side never
    // shuffles; a big×big cross is an error by construction at 100 TB
    "q_cross_join" -> ((s, dir) =>
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .crossJoin(
          t(s, dir, "nation").select(col("n_nationkey"), col("n_name")))),

    // product aggregate (polars Expr.product) — Spark has no builtin;
    // AggFunctions.product reuses the internal Product
    // DeclarativeAggregate (partials merge multiplicatively, one double
    // per group crosses the shuffle). l_quantity is small ints with ≤7
    // lines/order, so every product stays < 2^53 and is order-exact
    "q_product" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          graft.functions.AggFunctions.product(col("l_quantity")).as("qty_product"),
          count(lit(1)).as("n"))),

    // to_dummies: one-hot over the fixed TPC-H category set
    "q_dummies" -> ((s, dir) => {
      val f = col("l_returnflag")
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (f === "A").cast("int").as("flag_a"),
        (f === "N").cast("int").as("flag_n"),
        (f === "R").cast("int").as("flag_r"))
    }),

    // per-group Pearson correlation (polars corr); 4dp absorbs the
    // merge-order float drift between the engines' one-pass co-moments
    "q_corr" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg((round(corr(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0))
          .as("qp_corr"),
          count(lit(1)).as("n"))),

    // exponentially weighted mean (polars ewm_mean, adjust=true):
    // y_t = Σ w^(t-k) x_k / Σ w^(t-k) computed from two running sums of
    // x_k·w^(-k) and w^(-k) — the w^t factor cancels in the ratio, both
    // engines sum in the same ORDER BY sequence, 4dp absorbs pow ulps.
    // Bound: w^(-rn) overflows past ~6500 rows/group at decay 0.9 (the
    // events-per-user unit here is far below it); an unbounded series
    // belongs in a perGroupSeries recurrence, not a window sum
    "q_ewm" -> ((s, dir) => {
      val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val decay = 0.9
      t(s, dir, "events")
        .withColumn("rn", row_number().over(wSeq).cast("double") - 1)
        .select(col("user_id"), col("event_id"),
          round(
            sum(col("value") * pow(lit(decay), -col("rn"))).over(wRun) /
              sum(pow(lit(decay), -col("rn"))).over(wRun),
            4).as("ewm"))
    }),

    // exponentially weighted std (polars ewm_std, adjust=true,
    // bias=false): four running window sums — a0/a1/a2 weight sums and
    // b = Σw^(2(t-k)) for the a0²/(a0²−b) debias — in the same ORDER BY
    // sequence on both engines; first row NULL (ddof=1 undefined).
    // Same w^(-rn) overflow bound as q_ewm (tighter: 0.81^(-rn), ~3200
    // rows/group); unbounded series use the GDataset.ewmStd recurrence.
    "q_ewm_std" -> ((s, dir) => {
      val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m = col("a1") / col("a0")
      t(s, dir, "events")
        .withColumn("rn", row_number().over(wSeq).cast("double") - 1)
        .withColumn("a0", sum(pow(lit(0.9), -col("rn"))).over(wRun))
        .withColumn("a1", sum(col("value") * pow(lit(0.9), -col("rn"))).over(wRun))
        .withColumn("a2", sum(col("value") * col("value") * pow(lit(0.9), -col("rn"))).over(wRun))
        .withColumn("b", sum(pow(lit(0.81), -col("rn"))).over(wRun))
        .select(col("user_id"), col("event_id"),
          when(col("rn") === 0, lit(null).cast("double")).otherwise(
            round(sqrt(greatest(
              (col("a2") / col("a0") - m * m) *
                col("a0") * col("a0") / (col("a0") * col("a0") - col("b")),
              lit(0.0))), 4) + 0.0).as("ewm_std"))
    }),

    // time-decayed ewm (polars ewm_mean_by, adjust=true window-sum
    // form): weights 0.5^(Δt/1d) over exact integer µs epochs
    // relativized to each group's min — exponents stay ≤ the 29-day
    // event span, so pow can't overflow in the bounded check; unbounded
    // series use the GDataset.ewmMeanBy recurrence
    "q_ewm_by" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val wAll = Window.partitionBy(col("user_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("u", pow(lit(0.5),
          -((us - min(us).over(wAll)) / lit(86400000000.0))))
        .withColumn("a1", sum(col("value") * col("u")).over(wRun))
        .withColumn("a0", sum(col("u")).over(wRun))
        .select(col("user_id"), col("event_id"),
          (round(col("a1") / col("a0"), 4) + 0.0).as("ewm_by"))
    }),

    // dt.round (polars round-to-duration, half up): pure integer µs
    // arithmetic — add half the bucket, floor-divide, scale back — so
    // both engines land identical µs instants, no float boundary
    "q_dt_round" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .select(col("event_id"),
          expr("((us + 450000000) div 900000000) * 900000000").as("r15m_us"),
          expr("((us + 1800000000) div 3600000000) * 3600000000").as("r1h_us"))),

    // approximate namespace — the sketches that replace exact
    // distinct/quantile at 100 TB (HyperLogLog++, KLL-style quantile):
    // constant memory per group vs O(distinct) / O(n). Rows-only:
    // sketch internals differ across engines; the error bound vs the
    // exact answers is spec-pinned (ApproxSpec).
    "q_approx" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.01).as("approx_cust"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("approx_med"))),

    // full outer join with exclusive keys on both sides (filters keep
    // deterministic key subsets so both null directions are exercised)
    "q_full_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val ord = t(s, dir, "orders")
        .filter(col("o_custkey") % 5 =!= 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_acctbal"), col("n_orders"))
    }),

    // per-group head (polars group_by.head): first 2 events per user in
    // index order — compiles to WindowGroupLimit, not a full rank pass
    "q_group_head" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("user_id"), col("event_id"), col("rn"))
    }),

    // value_counts(normalize=true): proportions against the grand total.
    // The total is a separately-aggregated 1-row frame broadcast back
    // onto the per-value counts (the winsorize broadcast-back idiom) —
    // an unpartitioned window here would funnel every group through one
    // task, which is a scale-killer when the value domain is wide
    "q_value_props" -> ((s, dir) => {
      val counts = t(s, dir, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("count"))
      val total = counts.agg(sum(col("count")).as("__total"))
      counts.crossJoin(broadcast(total)).select(
        col("o_orderpriority").as("value"), col("count"),
        (col("count").cast("double") / col("__total")).as("prop"))
    }),

    // horizontal namespace (polars min/max/sum/mean_horizontal):
    // row-wise folds over columns — single float ops, no rounding needed
    "q_horizontal" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        greatest(col("l_tax"), col("l_discount")).as("hmax"),
        least(col("l_tax"), col("l_discount")).as("hmin"),
        (col("l_tax") + col("l_discount")).as("hsum"),
        ((col("l_tax") + col("l_discount")) / 2).as("hmean"))),

    // generic horizontal fold / reduce / cum_reduce (polars pl.fold /
    // pl.reduce / pl.cum_reduce): arbitrary-expression accumulators
    // composed at plan time into one fused codegen'd row expression.
    // Float association is identical in both engines: the fold seeds
    // (0.0 + x) / (1.0 * x), which are bit-exact identities
    "q_h_fold" -> ((s, dir) => {
      import graft.functions.Horizontal
      val cum = Horizontal.cumReduce(
        (a, x) => greatest(a, x),
        Seq(col("l_tax"), col("l_discount")), Seq("r_tax", "r_td"))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(Horizontal.fold(lit(0.0), (a, x) => a + x * x,
          Seq(col("l_tax"), col("l_discount"), col("l_quantity"))), 6).as("sumsq"),
        round(Horizontal.fold(lit(1.0), (a, x) => a * (lit(1.0) + x),
          Seq(col("l_tax"), col("l_discount"))), 6).as("chain"),
        Horizontal.reduce((a, x) => least(a, x),
          Seq(col("l_tax"), col("l_discount"))).as("hleast"),
        cum.getField("r_tax").as("r_tax"),
        cum.getField("r_td").as("r_td"))
    }),

    // list namespace over the embedding array: len / element / min / max
    // (comparisons only — no float arithmetic to diverge on)
    "q_list_ops" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        element_at(col("embedding"), 1).cast("double").as("first_dim"),
        array_max(col("embedding")).cast("double").as("vmax"),
        array_min(col("embedding")).cast("double").as("vmin"))),

    // n_unique / null_count per group (polars n_unique, null_count)
    "q_nunique" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").isNull.cast("long")).as("null_price"))),

    // is_duplicated / is_unique (polars): does this row's content occur
    // more than once — one window count over the content hash
    "q_is_duplicated" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      t(s, dir, "documents").select(
        col("doc_id"),
        (count(lit(1)).over(w) > 1).cast("int").as("is_dup"))
    }),

    // mode per group (polars mode): most frequent value, ties to the
    // smallest — count-per-value, then a 1-row-per-group window pick
    "q_mode" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("c").desc, col("l_quantity"))
      counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("c").as("freq"))
    }),

    // rolling median over the trailing 4 rows per key (polars
    // rolling_median): sort the tiny frame list, take the interpolated
    // middle — identical scalar steps in both engines
    "q_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      val sorted = sort_array(collect_list(col("value")).over(w))
      val n = size(sorted)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        when(n % 2 === 1, element_at(sorted, ((n + 1) / 2).cast("int")))
          .otherwise((element_at(sorted, (n / 2).cast("int"))
            + element_at(sorted, (n / 2).cast("int") + 1)) / 2)
          .as("rmed"))
    }),

    // rolling quantile (polars rolling_quantile, linear interpolation)
    // over the trailing 4 rows: pos = (n-1)·q with q = 0.25, so the
    // fraction is an exact binary value in both engines and the lerp
    // is bit-identical — no rounding needed
    "q_rolling_quantile" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      val sorted = sort_array(collect_list(col("value")).over(w))
      val pos = (size(sorted) - 1).cast("double") * 0.25
      val lo = floor(pos).cast("int")
      val frac = pos - lo
      val base = element_at(sorted, lo + 1)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        when(frac === 0, base)
          .otherwise(base + (element_at(sorted, lo + 2) - base) * frac)
          .as("rq25"))
    }),

    // banded range join (graft.operators.RangeJoin): interval
    // containment as a band-key EQUALITY join, not a nested loop
    "q_range_join" -> ((s, dir) =>
      graft.operators.RangeJoin.pointInInterval(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
        t(s, dir, "part").select(col("p_partkey"),
          (col("p_retailprice") - 1).as("lo"), (col("p_retailprice") + 1).as("hi")),
        "l_extendedprice", "lo", "hi", bandWidth = 2.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("l_extendedprice"))),

    // generic join_where (polars): arbitrary inequality conjuncts; the
    // two-sided acctbal band drives a banded equi-join, the nationkey
    // disequality rides as a residual filter — never a nested loop
    "q_join_where" -> ((s, dir) =>
      graft.operators.RangeJoin.joinWhere(
        t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"), col("c_nationkey")),
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey")),
        Seq(
          col("c_acctbal") >= col("s_acctbal") - 100,
          col("c_acctbal") <= col("s_acctbal"),
          col("c_nationkey") =!= col("s_nationkey")),
        bandWidth = 100.0)
        .select(col("c_custkey"), col("s_suppkey"), col("c_acctbal"), col("s_acctbal"))),

    // rle_id (polars): run-length id per key — a new run whenever the
    // value changes; one lag pass + one running sum over the same
    // window order, so the key shuffles once
    "q_rle" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag(col("event_type"), 1).over(w)
      t(s, dir, "events")
        .withColumn("brk",
          when(prev.isNull || prev =!= col("event_type"), 1).otherwise(0))
        .select(col("user_id"), col("event_id"),
          sum(col("brk")).over(wRun).cast("long").as("run_id"))
    }),

    // replace_strict (polars): value remap through a broadcast-joined
    // literal mapping table — the at-scale form of a when-chain once the
    // dictionary stops being tiny; unmapped values fall to the default
    "q_replace_strict" -> ((s, dir) => {
      val mapping = s.createDataFrame(Seq(
        ("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3), ("5-LOW", 5)))
        .toDF("o_orderpriority", "prio_rank")
      t(s, dir, "orders")
        .join(broadcast(mapping), Seq("o_orderpriority"), "left")
        .select(col("o_orderkey"), col("o_orderpriority"),
          coalesce(col("prio_rank"), lit(0)).as("prio_rank"))
    }),

    // polars `replace` (non-strict): mapped values substitute, the
    // rest PASS THROUGH unchanged (replace_strict above defaults them)
    // — broadcast map + coalesce to the original column
    "q_replace" -> ((s, dir) => {
      val mapping = s.createDataFrame(Seq(
        ("1-URGENT", "P1"), ("2-HIGH", "P2")))
        .toDF("o_orderpriority", "mapped")
      t(s, dir, "orders")
        .join(broadcast(mapping), Seq("o_orderpriority"), "left")
        .select(col("o_orderkey"),
          coalesce(col("mapped"), col("o_orderpriority")).as("prio"))
    }),

    // URL namespace: host / path / query-param extraction — the domain
    // side of blocklist filtering. The corpus carries no URLs, so the
    // query builds one deterministically per doc and both engines rip
    // it apart with the same anchored regexes
    "q_url_parse" -> ((s, dir) => {
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id").cast("string"), lit("?lang="), col("lang"))
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(url, "^https?://([^/]+)", 1).as("host"),
        regexp_extract(url, "^https?://[^/]+([^?]*)", 1).as("path"),
        regexp_extract(url, "[?&]lang=([^&]*)", 1).as("lang_param"),
        regexp_extract(url, "^https?://(?:[^/.]+\\.)*([^/.]+\\.[^/.]+)(?:[/?]|$)", 1)
          .as("registered_domain"))
    }),

    // hist (polars Series.hist): fixed-width value binning + count —
    // single partial-agg pass, bins derived arithmetically (no
    // per-row table lookup)
    "q_hist" -> ((s, dir) =>
      t(s, dir, "documents")
        .select((floor(col("n_chars") / lit(100.0)).cast("long") * 100).as("bin_lo"))
        .groupBy(col("bin_lo"))
        .agg(count(lit(1)).as("n"))),

    // gather_every (polars): every 3rd row per key in index order —
    // positional semantics stay distributed because the position is
    // per-group, never a global row number
    "q_gather_every" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter((col("rn") - 1) % 3 === 0)
        .select(col("user_id"), col("event_id"), col("rn"))
    }),

    // arg_max / arg_min (polars): the key attaining the extreme value,
    // via min/max over a (value, key) struct — partial-agg friendly
    // (no window pass over the whole table), ties resolve to the
    // extreme key deterministically
    "q_arg_minmax" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          max(struct(col("l_extendedprice"), col("l_orderkey")))
            .getField("l_orderkey").as("argmax_key"),
          min(struct(col("l_extendedprice"), col("l_orderkey")))
            .getField("l_orderkey").as("argmin_key"),
          max(col("l_extendedprice")).as("max_price"))),

    // datetime namespace, arithmetic side (polars dt.truncate /
    // offset_by / month_end): codegen'd date math; date outputs cross
    // the oracle as strings (bare DATE columns render differently)
    "q_dt_arith" -> ((s, dir) => {
      val d = col("o_orderdate").cast("date")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_trunc("week", col("o_orderdate")).cast("date").cast("string").as("week_start"),
        add_months(d, 1).cast("string").as("next_month"),
        last_day(d).cast("string").as("month_end"),
        datediff(d, lit("1995-01-01").cast("date")).cast("long").as("days_since"))
    }),

    // business-day count (polars business_day_count, Mon-Fri mask):
    // order placement → line shipment lead time in working days, pure
    // integer closed form — no per-day expansion at any scale
    "q_business_days" -> ((s, dir) => {
      import graft.functions.Temporal
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_shipdate").cast("date").as("ship"))
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderdate").cast("date").as("ord"))
      // fact-fact equi-join: shuffles on the order key, AQE picks the
      // physical strategy (orders is corpus-sized — never broadcast)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("ship") >= col("ord"))
        .select(col("l_orderkey"), col("l_linenumber"),
          Temporal.businessDayCount(col("ord"), col("ship")).as("bdays"))
    }),

    // list namespace over a real list value (split tokens): distinct
    // count / contains / slice+join — all codegen'd array builtins over
    // the text-pipeline tokenizer's token array
    "q_list_words" -> ((s, dir) => {
      val words = graft.functions.TextFunctions.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct"),
        array_contains(words, "the").cast("int").as("has_the"),
        concat_ws("|", slice(words, 1, 3)).as("first3"))
    }),

    // list set algebra (polars list.set_intersection/union/difference/
    // symmetric_difference): two overlapping token-window slices per
    // doc; every result sorted before the string join so both engines'
    // set-op orderings (appearance vs hash) cancel out
    "q_list_sets" -> ((s, dir) => {
      val words = graft.functions.TextFunctions.tokens(col("text"))
      val a = slice(words, 1, 8)
      val b = slice(words, 5, 8)
      t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("|", sort_array(array_intersect(a, b))).as("inter"),
        concat_ws("|", sort_array(array_union(a, b))).as("uni"),
        concat_ws("|", sort_array(array_except(a, b))).as("a_minus_b"),
        concat_ws("|", sort_array(array_union(
          array_except(a, b), array_except(b, a)))).as("symdiff"),
        size(array_intersect(a, b)).as("n_inter"),
        size(array_union(a, b)).as("n_union"))
    }),

    // list namespace, ordering side (polars list.sort/reverse/
    // index_of/eval-sum): binary string order matches DuckDB's default
    // collation, so sorted prefixes compare exactly
    "q_list_sort" -> ((s, dir) => {
      // tokenized once per row, in its own projection: inlined, the
      // kernel would run once per use, and interpreted under the lambdas
      val words = col("words")
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("words"))
        .select(
        col("doc_id"),
        concat_ws("|", slice(sort_array(words), 1, 5)).as("sorted5"),
        concat_ws("|", slice(reverse(words), 1, 3)).as("rev3"),
        array_position(words, "the").as("the_pos"),
        aggregate(transform(words, w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("chars_sum"))
    }),

    // windowed cum_prod (polars rolling product): fold over the
    // trailing-5 frame list — both engines multiply the same doubles in
    // the same frame order, so the product is bit-identical before the
    // rounding; an unbounded product belongs in ln/exp space
    "q_cum_prod" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      val factors = collect_list(lit(1.0) + col("value") / 1000.0).over(w)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          round(aggregate(factors, lit(1.0), (acc, x) => acc * x), 6).as("prod5"))
    }),

    // peak_max (polars): strict local maxima per key — one lag + one
    // lead over a single window order, edges are not peaks
    "q_peaks" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("value"), 1).over(w)
      val nxt = lead(col("value"), 1).over(w)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        (prev.isNotNull && nxt.isNotNull &&
          col("value") > prev && col("value") > nxt).cast("int").as("is_peak"))
    }),

    // group first/last in index order (polars group_by agg first/last):
    // min_by/max_by over the (ts, event_id) struct — partial-agg
    // friendly, no window pass; (ts, event_id) is unique per user
    "q_first_last" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("first_type"),
          max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"),
          count(lit(1)).as("n"))),

    // binary namespace (polars bin): byte length / base64 — binary
    // payloads measured and re-encoded without leaving codegen
    "q_binary_ops" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        bit_length(col("text").cast("binary")).as("n_bits"),
        base64(substring(col("text"), 1, 9).cast("binary")).as("head_b64"))),

    // per-group z-score normalization: unordered group window (one
    // shuffle, no sort); zero-variance groups yield NULL via the
    // nullif convention, 4dp absorbs the engines' variance merge order
    "q_zscore" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val sd = stddev_samp(col("value")).over(w)
      // + 0.0 normalizes a −0.0 (a rounded ulp-negative residual when
      // value ≈ the group mean) to 0.0 — the engines' co-moment merge
      // orders can put the residual on opposite sides of zero
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        (round((col("value") - avg(col("value")).over(w)) /
          when(sd =!= 0, sd), 4) + lit(0.0)).as("z"))
    }),

    // winsorize: clip at per-group exact p05/p95 — composes the
    // distributed range-partition quantiles with a tiny broadcast
    // join back onto the fact (same machinery as qcut)
    "q_winsorize" -> ((s, dir) => {
      val breaks = graft.operators.Quantiles.exactQuantiles(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice",
        Seq("p05" -> 0.05, "p95" -> 0.95))
      t(s, dir, "lineitem")
        .join(broadcast(breaks), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          least(greatest(col("l_extendedprice"), col("p05")), col("p95"))
            .as("price_w"))
    }),

    // skewness / kurtosis per group from explicit raw moments — engine
    // builtins disagree on bias correction (Spark population vs DuckDB
    // sample), so BOTH sides compute the same population formula; the
    // small integer domain (quantity 1..50) keeps the moment sums
    // exact, and σ powers come from sqrt (IEEE correctly-rounded, so
    // bit-identical) rather than libm pow (which is not)
    "q_skew_kurt" -> ((s, dir) => {
      val x = col("l_quantity")
      val v = col("m2") - col("m1") * col("m1")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          avg(x).as("m1"), avg(x * x).as("m2"),
          avg(x * x * x).as("m3"), avg(x * x * x * x).as("m4"))
        .select(
          col("l_returnflag"),
          // + 0.0 normalizes IEEE negative zero (round can emit -0.0,
          // and the engines disagree on which zero they produce)
          (round((col("m3") - lit(3) * col("m1") * col("m2")
            + lit(2) * col("m1") * col("m1") * col("m1"))
            / (v * sqrt(v)), 4) + 0.0).as("skew"),
          (round((col("m4") - lit(4) * col("m1") * col("m3")
            + lit(6) * col("m1") * col("m1") * col("m2")
            - lit(3) * col("m1") * col("m1") * col("m1") * col("m1"))
            / (v * v) - 3, 4) + 0.0).as("kurt"))
    }),

    // search_sorted (polars): left insertion index of each probe into
    // the sorted corpus — one scan with a conditional sum per probe,
    // no join (graft.operators.SearchSorted)
    "q_search_sorted" -> ((s, dir) =>
      graft.operators.SearchSorted.insertionIndexes(
        t(s, dir, "lineitem"), "l_extendedprice",
        Seq(1000.0, 10000.0, 30000.0, 60000.0))),

    // side="right" (polars search_sorted(side='right')): insert after
    // the tie run — count of <= values; probes chosen to HIT real
    // prices so the two sides genuinely differ
    "q_search_sorted_right" -> ((s, dir) =>
      graft.operators.SearchSorted.insertionIndexes(
        t(s, dir, "lineitem"), "l_quantity",
        Seq(1.0, 25.0, 50.0), side = "right")),

    // Shannon entropy of the per-key categorical distribution (polars
    // entropy): counts → window total → -Σ p·ln p; the window reuses
    // the groupBy's hash clustering, so the key shuffles once
    "q_entropy" -> ((s, dir) => {
      val tot = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
        .withColumn("p", col("c").cast("double") / sum(col("c")).over(tot).cast("double"))
        .groupBy(col("user_id"))
        // + 0.0 canonicalizes IEEE -0.0 (a single event type yields
        // -sum(+0.0)) — same normalization as q_skew_kurt
        .agg((round(-sum(col("p") * log(col("p"))), 4) + lit(0.0)).as("entropy"))
    }),

    // rank methods (polars rank: average/min/max): min = SQL rank();
    // average/max derive from the tie-group size — one extra unordered
    // window over the same key, no second sort
    "q_rank_avg" -> ((s, dir) => {
      val wp = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
      val ties = Window.partitionBy(col("o_custkey"), col("o_orderpriority"))
      val rmin = rank().over(wp)
      val nt = count(lit(1)).over(ties)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rmin.cast("long").as("rank_min"),
        (rmin + nt - 1).cast("long").as("rank_max"),
        (rmin + (nt - 1) / lit(2.0)).as("rank_avg"))
    }),

    // duration namespace (polars dt duration components): inter-event
    // gap per key in exact integer microseconds/seconds (µs epochs are
    // integers in both engines — no float time math)
    "q_duration" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts").cast("timestamp"))
      val gap = us - lag(us, 1).over(w)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        gap.as("gap_us"),
        floor(gap / lit(1000000.0)).cast("long").as("gap_s"))
    }),

    // per-group tail (polars group_by.tail): last 2 events per user in
    // index order — rank from the reversed order, WindowGroupLimit
    // prunes like group_head
    "q_group_tail" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn_back", row_number().over(w))
        .filter(col("rn_back") <= 2)
        .select(col("user_id"), col("event_id"), col("rn_back"))
    }),

    // rolling sample stddev over the trailing 4 rows (polars
    // rolling_std); 4dp absorbs the engines' summation strategies on
    // the tiny frame
    "q_rolling_std" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        round(stddev_samp(col("value")).over(w), 4).as("rstd"))
    }),

    // rolling skewness (polars rolling_skew, population moments): the
    // three power sums over the same 7-row frame in both engines; null
    // until the window is full (polars min_periods) or on zero variance
    "q_rolling_skew" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      val n = count(lit(1)).over(w)
      val mu = sum(col("value")).over(w) / lit(7.0)
      val e2 = sum(col("value") * col("value")).over(w) / lit(7.0)
      val e3 = sum(col("value") * col("value") * col("value")).over(w) / lit(7.0)
      val m2 = e2 - mu * mu
      val m3 = e3 - lit(3.0) * mu * e2 + lit(2.0) * mu * mu * mu
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        when(n === 7 && m2 > 0,
          round(m3 / pow(m2, 1.5), 4) + 0.0).as("rskew"))
    }),

    // rolling correlation (polars rolling_corr): quantity vs price over
    // a trailing 8-row frame per supplier, from the five explicit power
    // sums — builtins disagree on bias handling, the raw-moment formula
    // is engine-independent; null until the window fills or on a
    // degenerate (zero-variance) side
    "q_rolling_corr" -> ((s, dir) => {
      // (orderkey, linenumber) ties EXIST within a supplier (one order
      // line per part) — l_partkey completes the total order, without
      // which the trailing frames are tie-order-dependent
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .rowsBetween(-7, Window.currentRow)
      val n = count(lit(1)).over(w)
      val sx = sum(col("l_quantity")).over(w)
      val sy = sum(col("l_extendedprice")).over(w)
      val sxx = sum(col("l_quantity") * col("l_quantity")).over(w)
      val syy = sum(col("l_extendedprice") * col("l_extendedprice")).over(w)
      val sxy = sum(col("l_quantity") * col("l_extendedprice")).over(w)
      val vx = lit(8.0) * sxx - sx * sx
      val vy = lit(8.0) * syy - sy * sy
      t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        when(n === 8 && vx > 0 && vy > 0,
          round((lit(8.0) * sxy - sx * sy) / sqrt(vx * vy), 4) + 0.0).as("rcorr"))
    }),

    // conditional aggregation (polars col().filter() inside agg, SQL
    // FILTER clause): per-predicate partial aggregates in one groupBy
    // pass — no self-joins, no second scan
    "q_agg_filter" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_discount") > 0.05, col("l_quantity")))
            .cast("long").as("qty_discounted"),
          count(when(col("l_tax") > 0.04, lit(1))).as("n_taxed"),
          (round(avg(when(col("l_linestatus") === "F", col("l_extendedprice"))), 4) + 0.0)
            .as("avg_f_price"))),

    // str.extract_all (every regex match as a list): long lowercase
    // runs per document, joined for the oracle; count + first matches
    "q_str_extract_all" -> ((s, dir) => {
      val ms = regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(ms).as("n_matches"),
        concat_ws("|", slice(ms, 1, 5)).as("first5"))
    }),

    // transpose (polars df.transpose): legitimate ONLY on a small
    // aggregated frame — metrics unpivot to rows, group keys pivot to
    // columns. The aggregation is distributed; the transpose itself
    // touches #metrics × #groups cells, never raw data
    "q_transpose" -> ((s, dir) => {
      val agg = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          // scaled-long cents: ~2M doubles per group at sf1 is inside
          // the ~6M-row territory where an order-dependent double sum
          // flips the 2dp round (README "Scale lesson of record")
          round(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100.0, 2).as("sum_price"),
          count(lit(1)).cast("double").as("n"))
      agg
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n")), "metric", "value")
        .groupBy(col("metric"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(first(col("value")))
    }),

    // SQL face (the pl.SQLContext counterpart): the same engine surface
    // through spark.sql text over registered views — proves every
    // Catalyst path (join reorder, pushdown, partial agg) is reachable
    // from SQL, not just the DataFrame DSL
    "q_sql" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      // scaled-long cents: ~300k 2-dp doubles per segment at sf1 —
      // the order-dependent raw double sum is flip territory
      s.sql("""SELECT c_mktsegment, count(*) AS n,
                      round(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
                            AS DOUBLE)/100.0, 2) AS total
               FROM v_orders JOIN v_customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment""")
    }),

    // cume_dist over a tied ordering — exact rational p/n in both
    // engines, no rounding needed
    "q_cume_dist" -> ((s, dir) => {
      val wp = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        cume_dist().over(wp).as("cd"))
    }),

    // null-safe equi-join (polars join nulls_equal): <=> hashes NULL as
    // a join key value — still a hash join, NOT a fallback to
    // nested-loop; null keys are synthesized on both sides
    "q_null_safe_join" -> ((s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_custkey") % 7 =!= 0, col("o_custkey")).as("k"))
      val b = t(s, dir, "customer")
        .select(when(col("c_custkey") % 7 =!= 0, col("c_custkey")).as("k"),
          col("c_custkey"))
        .groupBy(col("k")).agg(count(lit(1)).as("nb"))
      a.join(b, a("k") <=> b("k"))
        .select(col("o_orderkey"), a("k").as("k"), col("nb"))
    }),

    // per-group sample covariance (polars cov); 4dp absorbs the
    // engines' co-moment merge order, same as q_corr; + 0.0
    // canonicalizes a near-zero covariance rounding to IEEE -0.0
    "q_cov" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg((round(covar_samp(col("l_quantity"), col("l_discount")), 4) + lit(0.0)).as("qd_cov"),
          count(lit(1)).as("n"))),

    // unique_counts (polars: counts per distinct value in
    // first-appearance order) — the maintain-order twist rides a
    // min-position aggregate, same trick as coord
    "q_unique_counts" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("value"))
        .agg(count(lit(1)).as("count"), min(col("o_orderkey")).as("first_at"))),

    // str.count_matches (polars): regex occurrence count per row
    "q_str_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\bthe\\b")).as("n_the"),
        regexp_count(col("text"), lit("[.!?]")).as("n_sentences"))),

    // update (polars DataFrame.update): overwrite matching rows from a
    // delta frame, keep the rest — a left join + coalesce, so the fact
    // side shuffles once and the delta can be broadcast when small
    "q_update" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val delta = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("u_key"),
          (col("o_totalprice") + 1000.0).as("u_price"))
      o.join(delta, col("o_orderkey") === col("u_key"), "left")
        .select(col("o_orderkey"),
          coalesce(col("u_price"), col("o_totalprice")).as("price_new"))
    }),

    // join(validate="m:1") (polars): the uniqueness check is one
    // bounded aggregate action (dup keys, limit 1) — metadata-small at
    // any scale — and the join plan itself is untouched
    "q_join_validate" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      joinValidated(o, c, Seq("c_custkey"), "m:1")
        .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"))
    }),

    // explode over multiple columns in lockstep (polars
    // df.explode("a","b")): arrays_zip pairs the lists positionally,
    // ONE generator pass — not a cross product of two explodes
    "q_explode_multi" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          explode(arrays_zip(
            sequence(lit(1L), lit(3L)).as("idx"),
            slice(col("embedding"), 1, 3).as("v"))).as("z"))
        .select(col("vec_id"), col("z.idx").as("idx"),
          col("z.v").cast("double").as("val"))),

    // str.extract_groups (polars): one regex pass builds the group
    // struct, fields projected out as atomic columns
    "q_str_extract_groups" -> ((s, dir) => {
      val pat = "^(\\S+)\\s+(\\S+)$"
      t(s, dir, "part")
        .select(col("p_partkey"),
          struct(
            regexp_extract(col("p_name"), pat, 1).as("adj"),
            regexp_extract(col("p_name"), pat, 2).as("noun"),
            regexp_extract(col("p_brand"), "#(\\d+)$", 1).as("brand_num")).as("g"))
        .select(col("p_partkey"), col("g.adj").as("adj"),
          col("g.noun").as("noun"), col("g.brand_num").as("brand_num"))
    }),

    // rank(method="ordinal") (polars): row_number with a stable key
    // tiebreak — deterministic unlike polars' arrival-order ordinal
    "q_rank_ordinal" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        row_number().over(w).as("rk_ordinal"))
    }),

    // int_range / date_range generation (polars pl.int_range,
    // pl.date_range): sequence() is a leaf generator — no driver-side
    // materialization, splittable like spark.range
    "q_range_gen" -> ((s, dir) => {
      val _ = dir
      s.range(0, 1)
        .select(explode(expr(
          "sequence(DATE'1995-01-01', DATE'1996-12-01', INTERVAL 1 MONTH)")).as("m"))
        .select(
          date_format(col("m"), "yyyy-MM-dd").as("month_start"),
          datediff(add_months(col("m"), 1), col("m")).cast("long").as("n_days"),
          months_between(col("m"), lit("1995-01-01").cast("date"))
            .cast("long").as("i"))
    }),

    // list.slice / reverse-first / arg-max position / contains
    // (polars list namespace) — all scan-local, no shuffle
    "q_list_slice" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        element_at(slice(col("embedding"), 2, 2), 1).cast("double").as("s1"),
        element_at(reverse(col("embedding")), 1).cast("double").as("rev1"),
        array_position(col("embedding"), array_max(col("embedding")))
          .cast("long").as("argmax_pos"))),

    // pairwise correlation matrix over numeric columns (polars
    // DataFrame.corr): every co-moment partial-aggregates in ONE scan
    // regardless of pair count; the long shape explodes a 1-row array
    "q_corr_matrix" -> ((s, dir) =>
      corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),

    // per-group Spearman rank correlation (polars corr
    // method="spearman"): average-tie ranks within each group (one
    // exchange on the group key, two sorts over it), Pearson on the
    // ranks — ranks are exact integers/halves, so only the final
    // co-moment merge needs the 4dp round
    "q_corr_spearman" -> ((s, dir) => {
      val g = col("l_returnflag")
      val rq = rank().over(Window.partitionBy(g).orderBy(col("l_quantity"))) +
        (count(lit(1)).over(Window.partitionBy(g, col("l_quantity"))) - 1) / lit(2.0)
      val rp = rank().over(Window.partitionBy(g).orderBy(col("l_extendedprice"))) +
        (count(lit(1)).over(Window.partitionBy(g, col("l_extendedprice"))) - 1) / lit(2.0)
      t(s, dir, "lineitem")
        .select(g, rq.as("rq"), rp.as("rp"))
        .groupBy(g)
        .agg((round(corr(col("rq"), col("rp")), 4) + lit(0.0)).as("rho"),
          count(lit(1)).as("n"))
    }),

    // whole-frame Spearman matrix: global average-tie ranks from the
    // two-pass rank core (Ranks — no single-partition window), then
    // the one-pass co-moment matrix over the ranks
    "q_corr_matrix_spearman" -> ((s, dir) =>
      corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        method = "spearman")),

    // global Series.rank("average") as a query: the two-pass rank
    // core over per-value counts — what a naive Window.orderBy(price)
    // would funnel through one task
    "q_rank_global" -> ((s, dir) =>
      graft.operators.Ranks.avgRank(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", "price_rank")
        .select(col("o_orderkey"), col("price_rank"))),

    // the remaining polars tie methods (min/max/dense) — all three in
    // ONE rank-core call over the same counts table, oracle-checked
    // against DuckDB's global rank()/dense_rank() windows (single-node
    // there; the Spark side never builds a global window)
    "q_rank_global_methods" -> ((s, dir) =>
      graft.operators.Ranks.rankGlobal(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice",
        Seq("rank_min" -> "min", "rank_max" -> "max", "rank_dense" -> "dense"))
        .select(col("o_orderkey"), col("rank_min"), col("rank_max"),
          col("rank_dense"))),

    // dt parts beyond q_dt_ops: day-of-year, ISO week, days-in-month,
    // leap year (shared integer formula — neither engine's builtin)
    "q_dt_parts" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        dayofyear(col("o_orderdate")).as("yr_day"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        dayofmonth(last_day(col("o_orderdate"))).as("days_in_mo"),
        (((year(col("o_orderdate")) % 4 === 0) &&
          (year(col("o_orderdate")) % 100 =!= 0)) ||
          (year(col("o_orderdate")) % 400 === 0)).cast("int").as("leap"))),

    // list.unique / n_unique over a computed list (polars list
    // namespace): dedup + sort scan-local, joined string render so
    // array formatting differences can't leak into the compare
    "q_list_unique" -> ((s, dir) => {
      val words = split(col("text"), " ")
      t(s, dir, "documents").select(
        col("doc_id"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_unique"),
        array_join(slice(sort_array(array_distinct(words)), 1, 5), "|").as("uniq_head"))
    }),

    // struct ops (polars struct namespace / with_fields): pack, extend
    // with a computed field via withField, project fields back out
    "q_struct_ops" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"),
            col("o_orderpriority").as("prio")).as("o"))
        .withColumn("o", col("o").withField("price_eur",
          round(col("o.price") * 0.92, 2)))
        .select(col("o_orderkey"), col("o.prio").as("prio"),
          col("o.price_eur").as("price_eur")))
  )

  /** polars rolling_map — the generic bounded-window kernel the named
    * rolling family doesn't cover: the last `n` values of `c` (per
    * group, in `order` order) materialize as an array column and
    * `kernel` — any Column expression over that array (HOF
    * aggregate/transform/array_* arithmetic) — produces the output.
    * Keeping the kernel a Column keeps the whole pass inside
    * whole-stage codegen; a Scala-closure kernel would be a UDF (a
    * per-row deserialization wall, the engine-wide anti-pattern).
    * Window state is ≤ n values per row — bounded by the window,
    * never data-sized; one shuffle on the group key, shared with any
    * other window over the same key sort. Rows before a full window
    * see the partial prefix (polars min_periods=1 shape); gate on
    * size(arr) inside the kernel for a min_periods cut. collect_list
    * skips nulls — null-ignoring kernels (min/max/avg) match SQL
    * window semantics by construction. */
  def rollingMap(df: DataFrame, groupCols: Seq[Column], order: Seq[Column],
      c: String, n: Int, out: String)(kernel: Column => Column): DataFrame = {
    require(n >= 1, "rolling_map window must be at least 1 row")
    val w = Window.partitionBy(groupCols: _*).orderBy(order: _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    df.withColumn(out, kernel(collect_list(col(c)).over(w)))
  }

  /** polars fill_null(strategy="mean"/"median"), optionally per group —
    * the statistical fill strategies (forward/backward/literal live on
    * the query surface already). `mean` fills nulls with the group's
    * average of the non-null values; `median` with the linear-
    * interpolated exact median (the [[graft.operators.Quantiles]]
    * machinery — distributed range partitioning, never a per-group
    * sort funnel, and bit-identical across engines).
    *
    * Scale shape: grouped mean is one window over one group exchange;
    * GLOBAL mean is a broadcast 1-row aggregate cross-joined in (the
    * q_value_props idiom — an unpartitioned window would funnel the
    * data through one task). Median joins one row per group back by
    * group key. A group whose values are ALL null has no statistic —
    * its nulls stay null (polars semantics: fill value is NaN-free
    * only where defined). */
  def fillNullStrategy(
      df: DataFrame, c: String, strategy: String,
      groupCols: Seq[String] = Nil,
      boundedDomain: Boolean = false): DataFrame = {
    val filled = strategy match {
      case "mean" if groupCols.isEmpty =>
        df.crossJoin(broadcast(df.agg(avg(col(c)).as("__fill"))))
      case "mean" =>
        df.withColumn("__fill",
          avg(col(c)).over(Window.partitionBy(groupCols.map(col): _*)))
      case "median" =>
        // boundedDomain: the caller vouches the value domain is
        // enum-like (e.g. quantity 1..50), so the rank core gets the
        // (group, value) counts table — the only data-sized shuffle is
        // a map-side-partial count instead of a range exchange of
        // every row (bit-identical results; see
        // Quantiles.exactQuantilesCounts and the r15 stress A/B)
        val (med, groups) = graft.operators.Quantiles.quantilesAndGroups(
          df, groupCols, c, Seq(("__fill", 0.5, "linear")), counts = boundedDomain)
        if (groupCols.isEmpty) df.crossJoin(broadcast(med))
        // one row per group: a small result broadcasts, so the data
        // side does not shuffle
        else if (groups <= graft.operators.Ranks.BroadcastRankRows)
          df.join(broadcast(med), groupCols, "left")
        else df.join(med, groupCols, "left")
      case other => throw new IllegalArgumentException(
        s"unknown fill_null strategy '$other' (mean/median)")
    }
    filled.withColumn(c, coalesce(col(c), col("__fill"))).drop("__fill")
  }

  /** polars list.eval(expr): apply an arbitrary element-wise expression
    * to every element of a list column — the generic surface behind
    * the specific list ops (q_list_ops/sort/sets/slice/unique). Wraps
    * Spark's `transform` HOF, so `f` runs scan-local inside codegen:
    * zero shuffles, and the lambda composes any Column expression
    * (`x => round(x * 2 + 1, 4)` is polars
    * `pl.element().mul(2).add(1).round(4)`). */
  def listEval(df: DataFrame, listCol: String, out: String)(
      f: Column => Column): DataFrame =
    df.withColumn(out, transform(col(listCol), f))

  /** polars list.eval with a boolean expression + drop of non-matching
    * elements (`.list.eval(...).list.drop_nulls()` shape): keep the
    * elements where `p` holds. Spark's `filter` HOF — scan-local. */
  def listEvalFilter(df: DataFrame, listCol: String, out: String)(
      p: Column => Column): DataFrame =
    df.withColumn(out, filter(col(listCol), p))

  /** Fold a list column to a scalar with an arbitrary combine
    * expression (polars list.eval over an aggregating expression) —
    * Spark's `aggregate` HOF. Left fold in element order, scan-local:
    * deterministic on any engine that folds left (the DuckDB
    * list_reduce contract the oracle uses). */
  def listEvalReduce(
      df: DataFrame, listCol: String, out: String, zero: Column)(
      merge: (Column, Column) => Column): DataFrame =
    df.withColumn(out, aggregate(col(listCol), zero, merge))

  /** Pairwise correlation matrix in ONE scan: all n·(n−1)/2 corr()
    * co-moments live in the same Aggregate, so the input is read once
    * and partial-merged once however many pairs there are; the long
    * (col_a, col_b, r) shape explodes a single-row struct array —
    * never a per-pair re-scan. 4dp absorbs the engines' co-moment
    * merge order (the q_corr convention).
    *
    * `method = "spearman"` (polars corr(method="spearman")) replaces
    * each column with its global average-tie rank before the same
    * one-pass co-moment aggregate: one [[graft.operators.Ranks]] core
    * call per distinct column type (the columns of a type melt into
    * one counts table) and k value-keyed joins, all distributed; the
    * ranks themselves are exact integers/halves so the rank transform
    * contributes no float drift. */
  def corrMatrix(df: DataFrame, cols: Seq[String], dp: Int = 4,
      method: String = "pearson"): DataFrame = {
    require(cols.length >= 2, "corrMatrix needs at least two columns")
    val base = method match {
      case "pearson" => df
      case "spearman" =>
        val base0 = df.select(cols.map(col): _*)
        val typeOf = cols.map(c => c -> base0.schema(c).dataType).toMap
        val tables = cols.map(typeOf).distinct.flatMap { t =>
          val same = cols.filter(typeOf(_) == t)
          same.zip(graft.operators.Ranks.avgRankTables(base0, same, same.map(c => s"__r_$c")))
        }.toMap
        cols.foldLeft(base0)((acc, c) => acc.join(tables(c), Seq(c), "left"))
          .select(cols.map(c => col(s"__r_$c").as(c)): _*)
      case other =>
        throw new IllegalArgumentException(s"unknown corr method '$other'")
    }
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.map { case ((a, b), k) =>
      // + 0.0 normalizes signed zero — a correlation can round to -0.0
      (round(corr(col(a), col(b)), dp) + lit(0.0)).as(s"__c$k") }
    base.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.zipWithIndex.map { case ((a, b), k) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"), col(s"__c$k").as("r"))
      }: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.r").as("r"))
  }

  /** polars join(validate=...): assert key multiplicity before joining.
    * The check is a bounded aggregate action (first duplicate key,
    * limit 1) — the join plan itself is unchanged, so Catalyst still
    * picks broadcast/shuffle freely. At 100 TB the check costs one
    * partial-agg pass over the key columns only.
    *
    * Semantics note: the check runs EAGERLY at DataFrame-construction
    * time, not inside the join's own execution (polars validates
    * during the join). If the underlying source mutates — or is
    * non-deterministic — between building the returned join and
    * executing it, the validation is stale and the join runs
    * unchecked. Fine for immutable snapshots (parquet paths, frozen
    * tables); for tables that can change underneath, re-validate at
    * execution time by calling this right before the action.
    */
  def joinValidated(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], validate: String): DataFrame = {
    def hasDupKeys(df: DataFrame): Boolean =
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .limit(1).count() > 0
    validate match {
      case "m:m" => ()
      case "m:1" =>
        require(!hasDupKeys(right), s"join validate=m:1 violated: right side not unique on ${keys.mkString(", ")}")
      case "1:m" =>
        require(!hasDupKeys(left), s"join validate=1:m violated: left side not unique on ${keys.mkString(", ")}")
      case "1:1" =>
        require(!hasDupKeys(left), s"join validate=1:1 violated: left side not unique on ${keys.mkString(", ")}")
        require(!hasDupKeys(right), s"join validate=1:1 violated: right side not unique on ${keys.mkString(", ")}")
      case other => throw new IllegalArgumentException(s"unknown join validation '$other'")
    }
    left.join(right, keys)
  }

  val oracleSql: Map[String, String] = Map(
    // money sums on the same scaled-long cents — exact and
    // order-independent, so the 2-dp round can never straddle
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0,2) AS sum_base,
         round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * CAST(round((1-l_discount)*100) AS BIGINT)) AS DOUBLE)/10000.0,2) AS sum_disc,
         round(avg(l_quantity),2) AS avg_qty,
         count(*) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q_filter_project" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                              * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/10000.0,2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
           AND l_discount BETWEEN 0.02 AND 0.09 AND l_quantity < 24""",
    "q_join_agg" ->
      """SELECT r_name, n_name,
         round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * CAST(round((1-l_discount)*100) AS BIGINT)) AS DOUBLE)/10000.0,2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
    "q_window" ->
      """SELECT o_custkey, o_orderkey, rn, running FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey
                                ROWS UNBOUNDED PRECEDING),2) AS running
           FROM orders) WHERE rn <= 3""",
    "q_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_distinct_keep" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders)
         SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, 'last' AS variant
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM base)
         WHERE rn = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, 'none' AS variant
         FROM (SELECT *, count(*) OVER (PARTITION BY o_custkey) AS n FROM base)
         WHERE n = 1""",
    // DuckDB's strftime/strptime consume the same chrono directives the
    // Spark side translates — the round trip exercises parse + format
    "q_str_parse" ->
      """SELECT o_orderkey,
           strftime(o_orderdate, '%d/%m/%Y') AS s_date,
           strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y') AS d_parsed,
           strptime(strftime(o_orderdate, '%Y-%m-%d') || ' 08:30:45',
                    '%Y-%m-%d %H:%M:%S') AS ts_parsed,
           strftime(o_orderdate, '%b %d, %Y') AS s_named
         FROM orders""",
    "q_dt_tz" ->
      """SELECT o_orderkey,
           ((o_orderdate::timestamp + INTERVAL 12 HOUR) AT TIME ZONE 'America/New_York')
             AT TIME ZONE 'UTC' AS ny_instant,
           ((o_orderdate::timestamp + INTERVAL 12 HOUR) AT TIME ZONE 'America/New_York')
             AT TIME ZONE 'Asia/Tokyo' AS tokyo_wall,
           ((o_orderdate::timestamp + INTERVAL 12 HOUR) AT TIME ZONE 'America/New_York')
             AT TIME ZONE 'America/New_York' AS back_local,
           (epoch(o_orderdate::timestamp + INTERVAL 12 HOUR) -
            epoch(((o_orderdate::timestamp + INTERVAL 12 HOUR) AT TIME ZONE 'America/New_York')
                  AT TIME ZONE 'UTC'))::bigint AS offset_s
         FROM orders""",
    "q_pivot" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus='O' THEN l_quantity END),2) AS O,
         round(sum(CASE WHEN l_linestatus='F' THEN l_quantity END),2) AS F
         FROM lineitem GROUP BY l_returnflag""",
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS var, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",
    "q_explode" ->
      """SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
         WHERE tok <> '' GROUP BY lang""",
    "q_fill_null" ->
      """SELECT c_custkey,
         coalesce(round(sum(o_totalprice),2), 0.0) AS total,
         count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",
    "q_fill_mean" ->
      """WITH m AS (
           SELECT l_orderkey, l_linenumber, l_returnflag,
             CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity END AS qty
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           round(coalesce(qty, avg(qty) OVER (PARTITION BY l_returnflag)), 4) AS qty_filled
         FROM m""",
    "q_fill_median" ->
      """WITH m AS (
           SELECT l_orderkey, l_linenumber, l_returnflag,
             CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity END AS qty
           FROM lineitem),
         b AS (
           SELECT l_returnflag, qty AS v,
             CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY qty) AS DOUBLE) - 1 AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
           FROM m WHERE qty IS NOT NULL),
         med AS (
           SELECT l_returnflag,
             sum(CASE WHEN rn = floor((n-1)*0.5) OR rn = ceil((n-1)*0.5)
                      THEN v * (1.0 - abs(rn - (n-1)*0.5)) ELSE 0.0 END) AS p50
           FROM b GROUP BY l_returnflag)
         SELECT m.l_orderkey, m.l_linenumber,
           round(coalesce(m.qty, med.p50), 4) AS qty_filled
         FROM m JOIN med USING (l_returnflag)""",
    "q_list_eval" ->
      """SELECT vec_id,
         round(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2 + 1)[1], 6) AS e1,
         len(list_filter(embedding, x -> x > 0)) AS n_pos,
         round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2 + 1),
                           (a, b) -> a + b), 4) AS tot
         FROM embeddings""",
    "q_value_counts" ->
      """SELECT o_orderpriority AS value, count(*) AS count
         FROM orders GROUP BY o_orderpriority""",
    "q_quantile" ->
      """WITH b AS (
           SELECT l_returnflag, l_extendedprice AS v,
             CAST(row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS DOUBLE) - 1 AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
           FROM lineitem)
         SELECT l_returnflag,
           sum(CASE WHEN rn = floor((n-1)*0.25) OR rn = ceil((n-1)*0.25)
                    THEN v * (1.0 - abs(rn - (n-1)*0.25)) ELSE 0.0 END) AS p25,
           sum(CASE WHEN rn = floor((n-1)*0.5) OR rn = ceil((n-1)*0.5)
                    THEN v * (1.0 - abs(rn - (n-1)*0.5)) ELSE 0.0 END) AS p50,
           sum(CASE WHEN rn = floor((n-1)*0.75) OR rn = ceil((n-1)*0.75)
                    THEN v * (1.0 - abs(rn - (n-1)*0.75)) ELSE 0.0 END) AS p75
         FROM b GROUP BY l_returnflag""",
    // strategy arithmetic spelled out on the same ranked CTE as
    // q_quantile: round() is half-away-from-zero on non-negative idx in
    // both engines, so the picked ranks agree exactly
    "q_quantile_nearest" ->
      """WITH b AS (
           SELECT l_returnflag, l_extendedprice AS v,
             CAST(row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS DOUBLE) - 1 AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
           FROM lineitem)
         SELECT l_returnflag,
           sum(CASE WHEN rn = round((n-1)*0.3) THEN v ELSE 0.0 END) AS p30_nearest,
           sum(CASE WHEN rn = floor((n-1)*0.3) THEN v ELSE 0.0 END) AS p30_lower,
           sum(CASE WHEN rn = ceil((n-1)*0.3) THEN v ELSE 0.0 END) AS p30_higher,
           sum((CASE WHEN rn = floor((n-1)*0.3) THEN v * 0.5 ELSE 0.0 END)
             + (CASE WHEN rn = ceil((n-1)*0.3) THEN v * 0.5 ELSE 0.0 END)) AS p30_midpoint,
           sum(CASE WHEN rn = round((n-1)*0.85) THEN v ELSE 0.0 END) AS p85_nearest
         FROM b GROUP BY l_returnflag""",
    "q_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
         count(*) AS n, round(sum(value),2) AS total
         FROM events GROUP BY 1, 2""",
    // same integer floor-mod epoch-µs arithmetic as Temporal.dynamicBucket
    "q_time_bucket_offset" ->
      """SELECT make_timestamp(r - (((r - 900000000) % 3600000000
             + 3600000000) % 3600000000) ) AS bucket,
         event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM (SELECT epoch_us(ts) AS r, event_type, value FROM events)
         GROUP BY 1, 2""",
    "q_time_bucket_closed" ->
      """SELECT make_timestamp(r - ((r % 3600000000 + 3600000000) % 3600000000)) AS bucket,
         event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM (SELECT epoch_us(ts) - 1 AS r, event_type, value FROM events)
         GROUP BY 1, 2""",
    "q_window_sliding" ->
      """SELECT bucket, event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM (
           SELECT date_trunc('hour', ts) AS bucket, event_type, value FROM events
           UNION ALL
           SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS bucket, event_type, value
           FROM events)
         GROUP BY bucket, event_type""",
    "q_rolling_map" ->
      """SELECT user_id, event_id,
         round((min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
              + max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) / 2, 4) AS midrange
         FROM events""",
    "q_rolling" ->
      """SELECT user_id, event_id,
         round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),4) AS rmean
         FROM events""",
    "q_rolling_minmax" ->
      """SELECT user_id, event_id,
         min(value) OVER w AS roll_min,
         max(value) OVER w AS roll_max
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",
    "q_json_props" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events""",
    // the same two-level (group, key) pre-aggregation as the Spark
    // side, summing exact scaled-long CENTS so the fold is order-free
    // (a raw double sum flips the 4dp round on half-ulp boundaries)
    "q_rolling_range" ->
      """WITH g AS (
           SELECT l_returnflag, l_quantity,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s,
             count(*) AS n
           FROM lineitem GROUP BY 1, 2),
         f AS (
           SELECT l_returnflag, l_quantity,
             CAST(sum(s) OVER w AS DOUBLE) / 100.0 / sum(n) OVER w AS a,
             CAST(sum(n) OVER w AS BIGINT) AS rng_n
           FROM g
           WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
                        RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
         SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           round(f.a, 4) AS rng_avg, f.rng_n
         FROM lineitem l JOIN f USING (l_returnflag, l_quantity)""",
    "q_str_strip" ->
      """SELECT doc_id,
         trim(substr(text, 1, 40), 'aeiou .') AS s_chars,
         ltrim(substr(text, 1, 40), 'aeiou .') AS s_start,
         rtrim(substr(text, 1, 40), 'aeiou .') AS s_end,
         CASE WHEN starts_with(substr(text, 1, 40), 'The ')
              THEN substr(substr(text, 1, 40), 5)
              ELSE substr(text, 1, 40) END AS s_prefix,
         CASE WHEN substr(text, 1, 40) LIKE '%s'
              THEN substr(substr(text, 1, 40), 1, length(substr(text, 1, 40)) - 1)
              ELSE substr(text, 1, 40) END AS s_suffix
         FROM documents""",
    "q_salted_join" ->
      """SELECT s_nationkey, count(*) AS n,
         round(CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0, 2)
           AS qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey""",
    "q_pct_change" ->
      """SELECT user_id, event_id,
         value / nullif(lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) - 1 AS pct
         FROM events""",
    "q_cumulative" ->
      """SELECT user_id, event_id,
         round(sum(value) OVER w, 2) AS csum,
         min(value) OVER w AS cmin,
         max(value) OVER w AS cmax,
         count(*) OVER w AS ccnt
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "q_cut" ->
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_quantity <= 10 THEN 'q00_10'
              WHEN l_quantity <= 25 THEN 'q10_25'
              WHEN l_quantity <= 40 THEN 'q25_40'
              ELSE 'q40_up' END AS qty_bin
         FROM lineitem""",
    // breaks CTE = the q_quantile oracle verbatim, so the bin edges are
    // bit-identical to the Spark side's Quantiles.exactQuantiles output
    "q_qcut" ->
      """WITH b AS (
           SELECT l_returnflag, l_extendedprice AS v,
             CAST(row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS DOUBLE) - 1 AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
           FROM lineitem),
         breaks AS (
           SELECT l_returnflag,
             sum(CASE WHEN rn = floor((n-1)*0.25) OR rn = ceil((n-1)*0.25)
                      THEN v * (1.0 - abs(rn - (n-1)*0.25)) ELSE 0.0 END) AS p25,
             sum(CASE WHEN rn = floor((n-1)*0.5) OR rn = ceil((n-1)*0.5)
                      THEN v * (1.0 - abs(rn - (n-1)*0.5)) ELSE 0.0 END) AS p50,
             sum(CASE WHEN rn = floor((n-1)*0.75) OR rn = ceil((n-1)*0.75)
                      THEN v * (1.0 - abs(rn - (n-1)*0.75)) ELSE 0.0 END) AS p75
           FROM b GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber,
           CASE WHEN l_extendedprice <= p25 THEN 'q1'
                WHEN l_extendedprice <= p50 THEN 'q2'
                WHEN l_extendedprice <= p75 THEN 'q3'
                ELSE 'q4' END AS price_quartile
         FROM lineitem JOIN breaks USING (l_returnflag)""",
    "q_clip" ->
      """SELECT l_orderkey, l_linenumber,
         least(greatest(l_extendedprice, 5000.0), 50000.0) AS price_clip,
         greatest(l_quantity, 10.0) AS qty_floor,
         least(l_tax, 0.05) AS tax_cap
         FROM lineitem""",
    "q_cross_join" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region CROSS JOIN nation""",
    "q_product" ->
      """SELECT l_orderkey, product(l_quantity) AS qty_product,
         count(*) AS n
         FROM lineitem GROUP BY l_orderkey""",
    "q_dummies" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(l_returnflag = 'A' AS INT) AS flag_a,
         CAST(l_returnflag = 'N' AS INT) AS flag_n,
         CAST(l_returnflag = 'R' AS INT) AS flag_r
         FROM lineitem""",
    "q_corr" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 4) + 0 AS qp_corr,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q_ewm" ->
      """SELECT user_id, event_id,
         round(sum(value * pow(0.9, -rn)) OVER w / sum(pow(0.9, -rn)) OVER w, 4) AS ewm
         FROM (
           SELECT user_id, event_id, ts, value,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS DOUBLE) - 1 AS rn
           FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "q_ewm_std" ->
      """SELECT user_id, event_id,
         CASE WHEN rn = 0 THEN NULL ELSE
           round(sqrt(greatest(
             (a2/a0 - (a1/a0)*(a1/a0)) * a0*a0 / (a0*a0 - b), 0)), 4) + 0.0
         END AS ewm_std
         FROM (
           SELECT user_id, event_id, rn,
             sum(pow(0.9, -rn)) OVER w AS a0,
             sum(value * pow(0.9, -rn)) OVER w AS a1,
             sum(value * value * pow(0.9, -rn)) OVER w AS a2,
             sum(pow(0.81, -rn)) OVER w AS b
           FROM (
             SELECT user_id, event_id, ts, value,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS DOUBLE) - 1 AS rn
             FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""",
    "q_ewm_by" ->
      """SELECT user_id, event_id, round(a1 / a0, 4) + 0.0 AS ewm_by
         FROM (
           SELECT user_id, event_id,
             sum(value * u) OVER w AS a1,
             sum(u) OVER w AS a0
           FROM (
             SELECT user_id, event_id, ts, value,
               pow(0.5, -((epoch_us(CAST(ts AS TIMESTAMP))
                 - min(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id)) / 86400000000.0)) AS u
             FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""",
    "q_transpose" ->
      """SELECT metric,
         max(CASE WHEN l_returnflag = 'A' THEN v END) AS A,
         max(CASE WHEN l_returnflag = 'N' THEN v END) AS N,
         max(CASE WHEN l_returnflag = 'R' THEN v END) AS R
         FROM (
           SELECT l_returnflag, 'sum_qty' AS metric,
                  round(sum(l_quantity), 2) AS v
           FROM lineitem GROUP BY l_returnflag
           UNION ALL
           SELECT l_returnflag, 'sum_price',
                  round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                        AS DOUBLE)/100.0, 2)
           FROM lineitem GROUP BY l_returnflag
           UNION ALL
           SELECT l_returnflag, 'n', CAST(count(*) AS DOUBLE)
           FROM lineitem GROUP BY l_returnflag)
         GROUP BY metric""",
    "q_sql" ->
      """SELECT c_mktsegment, count(*) AS n,
         round(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
               AS DOUBLE)/100.0, 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q_rolling_skew" ->
      """SELECT user_id, event_id,
         CASE WHEN n = 7 AND (e2 - mu*mu) > 0
           THEN round((e3 - 3.0*mu*e2 + 2.0*mu*mu*mu)
                      / pow(e2 - mu*mu, 1.5), 4) + 0.0
         END AS rskew
         FROM (
           SELECT user_id, event_id,
             count(*) OVER w AS n,
             sum(value) OVER w / 7.0 AS mu,
             sum(value*value) OVER w / 7.0 AS e2,
             sum(value*value*value) OVER w / 7.0 AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))""",
    // business-day replica: identical integer closed form — full weeks
    // ×5 plus the remainder window's weekday positions; isodow−1 is
    // Spark's weekday() (0 = Monday)
    "q_business_days" ->
      """SELECT l_orderkey, l_linenumber,
         (n - r) // 7 * 5
           + greatest(0, least(5, d + r) - least(5, d))
           + greatest(0, least(5, d + r - 7)) AS bdays
         FROM (
           SELECT l_orderkey, l_linenumber,
             date_diff('day', CAST(ord AS DATE), CAST(ship AS DATE)) AS n,
             isodow(CAST(ord AS DATE)) - 1 AS d,
             date_diff('day', CAST(ord AS DATE), CAST(ship AS DATE)) % 7 AS r
           FROM (
             SELECT l.l_orderkey, l.l_linenumber,
               l.l_shipdate AS ship, o.o_orderdate AS ord
             FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)))""",
    "q_rolling_corr" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
         CASE WHEN n = 8 AND (8.0*sxx - sx*sx) > 0 AND (8.0*syy - sy*sy) > 0
           THEN round((8.0*sxy - sx*sy)
                      / sqrt((8.0*sxx - sx*sx) * (8.0*syy - sy*sy)), 4) + 0.0
         END AS rcorr
         FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
             count(*) OVER w AS n,
             sum(l_quantity) OVER w AS sx,
             sum(l_extendedprice) OVER w AS sy,
             sum(l_quantity*l_quantity) OVER w AS sxx,
             sum(l_extendedprice*l_extendedprice) OVER w AS syy,
             sum(l_quantity*l_extendedprice) OVER w AS sxy
           FROM lineitem
           WINDOW w AS (PARTITION BY l_suppkey
                        ORDER BY l_orderkey, l_linenumber, l_partkey
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))""",
    "q_agg_filter" ->
      """SELECT l_returnflag,
         CAST(sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS BIGINT)
           AS qty_discounted,
         count(*) FILTER (WHERE l_tax > 0.04) AS n_taxed,
         round(avg(l_extendedprice) FILTER (WHERE l_linestatus = 'F'), 4) + 0.0
           AS avg_f_price
         FROM lineitem GROUP BY l_returnflag""",
    "q_str_extract_all" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '[a-z]{5,}')) AS n_matches,
         coalesce(array_to_string(regexp_extract_all(text, '[a-z]{5,}')[1:5], '|'), '')
           AS first5
         FROM documents""",
    "q_dt_round" ->
      """SELECT event_id,
         ((epoch_us(CAST(ts AS TIMESTAMP)) + 450000000) // 900000000)
           * 900000000 AS r15m_us,
         ((epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000) // 3600000000)
           * 3600000000 AS r1h_us
         FROM events""",
    "q_range_join" ->
      """SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice
         FROM lineitem l JOIN part p
           ON l.l_extendedprice >= p.p_retailprice - 1
          AND l.l_extendedprice <= p.p_retailprice + 1""",
    "q_join_where" ->
      """SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
         FROM customer c JOIN supplier s
           ON c.c_acctbal >= s.s_acctbal - 100
          AND c.c_acctbal <= s.s_acctbal
          AND c.c_nationkey <> s.s_nationkey""",
    "q_full_join" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
                c.c_acctbal, o.n_orders
         FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0) c
         FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                          FROM orders WHERE o_custkey % 5 <> 0
                          GROUP BY o_custkey) o
           ON c.c_custkey = o.o_custkey""",
    "q_group_head" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events)
         WHERE rn <= 2""",
    "q_value_props" ->
      """SELECT o_orderpriority AS value, count(*) AS count,
         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS prop
         FROM orders GROUP BY o_orderpriority""",
    "q_horizontal" ->
      """SELECT l_orderkey, l_linenumber,
         greatest(l_tax, l_discount) AS hmax,
         least(l_tax, l_discount) AS hmin,
         l_tax + l_discount AS hsum,
         (l_tax + l_discount) / 2 AS hmean
         FROM lineitem""",
    // fold seeds (0.0 + x) / (1.0 * x) are bit-exact identities, so the
    // plain left-to-right SQL expressions associate identically
    "q_h_fold" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_tax*l_tax + l_discount*l_discount + l_quantity*l_quantity, 6) AS sumsq,
         round((1.0 + l_tax) * (1.0 + l_discount), 6) AS chain,
         least(l_tax, l_discount) AS hleast,
         l_tax AS r_tax,
         greatest(l_tax, l_discount) AS r_td
         FROM lineitem""",
    "q_list_ops" ->
      """SELECT vec_id,
         len(embedding) AS n_dims,
         CAST(embedding[1] AS DOUBLE) AS first_dim,
         CAST(list_max(embedding) AS DOUBLE) AS vmax,
         CAST(list_min(embedding) AS DOUBLE) AS vmin
         FROM embeddings""",
    "q_nunique" ->
      """SELECT o_orderpriority,
         count(DISTINCT o_custkey) AS n_cust,
         count(*) AS n_rows,
         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price
         FROM orders GROUP BY o_orderpriority""",
    "q_is_duplicated" ->
      """SELECT doc_id,
         CAST(count(*) OVER (PARTITION BY md5(text)) > 1 AS INT) AS is_dup
         FROM documents""",
    "q_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, c AS freq FROM (
           SELECT l_returnflag, l_quantity, c,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, l_quantity) AS rn
           FROM (SELECT l_returnflag, l_quantity, count(*) AS c
                 FROM lineitem GROUP BY 1, 2))
         WHERE rn = 1""",
    "q_rolling_median" ->
      """SELECT user_id, event_id,
         CASE WHEN len(sl) % 2 = 1 THEN sl[(len(sl) + 1) // 2]
              ELSE (sl[len(sl) // 2] + sl[len(sl) // 2 + 1]) / 2 END AS rmed
         FROM (
           SELECT user_id, event_id,
             list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) AS sl
           FROM events)""",
    "q_rolling_quantile" ->
      """SELECT user_id, event_id,
         CASE WHEN frac = 0 THEN sl[lo + 1]
              ELSE sl[lo + 1] + (sl[lo + 2] - sl[lo + 1]) * frac END AS rq25
         FROM (
           SELECT user_id, event_id, sl,
             CAST(floor((len(sl) - 1) * 0.25) AS INT) AS lo,
             (len(sl) - 1) * 0.25 - floor((len(sl) - 1) * 0.25) AS frac
           FROM (
             SELECT user_id, event_id,
               list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) AS sl
             FROM events))""",
    "q_cast" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice) AS BIGINT) AS price_int,
         CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
         l_returnflag || '-' || l_linestatus AS flag_status
         FROM lineitem""",
    "q_numeric_ops" ->
      """SELECT l_orderkey, l_linenumber,
         abs(l_discount - 0.05) AS dev,
         least(greatest(l_quantity, 5.0), 45.0) AS qty_clip,
         sqrt(l_quantity) AS sqrt_qty
         FROM lineitem""",
    "q_rank" ->
      """SELECT o_custkey, o_orderkey,
         rank() OVER wp AS rnk,
         dense_rank() OVER wp AS drnk,
         percent_rank() OVER wp AS prnk,
         ntile(4) OVER wu AS quartile
         FROM orders
         WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_orderpriority),
                wu AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""",
    "q_shift_diff" ->
      """SELECT user_id, event_id,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
         FROM events""",
    "q_str_ops" ->
      """SELECT doc_id,
         upper(substr(text, 1, 20)) AS head_upper,
         CAST(contains(text, 'the') AS INT) AS has_the,
         length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
         trim(substr(text, 1, 30)) AS head_trim
         FROM documents""",
    "q_vector_norms" ->
      """SELECT vec_id,
         round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> x * x), 'sum')), 4) AS l2_norm,
         round(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))), 4) AS max_abs
         FROM embeddings""",
    "q_str_extract" ->
      """SELECT doc_id,
         regexp_extract(text, '\b(\w{7,})\b', 1) AS first_long_word,
         regexp_replace(text, '\d+', '#', 'g') AS digits_masked,
         lpad(lang, 5, '_') AS lang_padded,
         split_part(text, ' ', 1) AS first_token
         FROM documents""",
    "q_str_pad" ->
      """SELECT o_orderkey,
         lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_zfill,
         rpad(o_orderpriority, 16, '.') AS prio_pad,
         reverse(o_orderpriority) AS prio_rev,
         substr(o_orderpriority, 1, 3) AS prio_head,
         substr(o_orderpriority, -3, 3) AS prio_tail
         FROM orders""",
    "q_str_split" ->
      """SELECT doc_id,
         regexp_extract(text, '^(\S+)', 1) AS w0,
         regexp_extract(text, '^\S+\s+(\S+)', 1) AS w1,
         regexp_extract(text, '^\S+\s+\S+\s+(.*)$', 1) AS rest,
         trim(text, 'aeiou ') AS stripped,
         CASE WHEN starts_with(text, 'the ') THEN substr(text, 5)
              ELSE text END AS noprefix
         FROM documents""",
    "q_dt_offset" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
         SELECT o_orderkey,
         CAST(CAST(d + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS plus_1mo,
         CAST(d + 90 AS VARCHAR) AS plus_90d,
         CAST(CAST(date_trunc('month', d) AS DATE) AS VARCHAR) AS month_start,
         CAST(last_day(d) AS VARCHAR) AS month_end,
         CAST(CAST(date_trunc('week', d) AS DATE) AS VARCHAR) AS week_start
         FROM o""",
    "q_dt_ops" ->
      """SELECT o_orderkey,
         year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         day(o_orderdate) AS dom, isodow(o_orderdate) - 1 AS dow,
         quarter(o_orderdate) AS qtr
         FROM orders""",
    "q_list_agg" ->
      """SELECT l_orderkey,
         array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
         count(*) AS n
         FROM lineitem GROUP BY l_orderkey""",
    // floor(epoch) is load-bearing: Spark's ts→long cast truncates to
    // whole seconds while DuckDB's epoch() keeps the µs fraction — a
    // row landing within a fraction of a second of the 3-day range
    // boundary would enter one engine's window and not the other's
    "q_rolling_time" ->
      """SELECT user_id, event_id,
         min(value) OVER w AS rmin3d,
         max(value) OVER w AS rmax3d,
         count(*) OVER w AS rn3d
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 259200 PRECEDING AND CURRENT ROW)""",
    "q_rle" ->
      """SELECT user_id, event_id,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS run_id
         FROM (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""",
    "q_replace_strict" ->
      """SELECT o_orderkey, o_orderpriority,
         coalesce(m.prio_rank, 0) AS prio_rank
         FROM orders LEFT JOIN (
           VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3), ('5-LOW', 5)
         ) m(o_orderpriority, prio_rank) USING (o_orderpriority)""",
    "q_replace" ->
      """SELECT o_orderkey,
         CASE o_orderpriority WHEN '1-URGENT' THEN 'P1'
              WHEN '2-HIGH' THEN 'P2'
              ELSE o_orderpriority END AS prio
         FROM orders""",
    "q_url_parse" ->
      """WITH u AS (
           SELECT doc_id,
             'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
           FROM documents)
         SELECT doc_id,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
           regexp_extract(url,
             '^https?://(?:[^/.]+\.)*([^/.]+\.[^/.]+)(?:[/?]|$)', 1)
             AS registered_domain
         FROM u""",
    "q_hist" ->
      """SELECT CAST(floor(n_chars / 100.0) AS BIGINT) * 100 AS bin_lo, count(*) AS n
         FROM documents GROUP BY 1""",
    "q_gather_every" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events)
         WHERE (rn - 1) % 3 = 0""",
    "q_arg_minmax" ->
      """SELECT l_returnflag,
         max(CASE WHEN rmax = 1 THEN l_orderkey END) AS argmax_key,
         max(CASE WHEN rmin = 1 THEN l_orderkey END) AS argmin_key,
         max(l_extendedprice) AS max_price
         FROM (
           SELECT l_returnflag, l_orderkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rmin
           FROM lineitem)
         GROUP BY l_returnflag""",
    "q_dt_arith" ->
      """SELECT o_orderkey,
         CAST(CAST(date_trunc('week', o_orderdate) AS DATE) AS VARCHAR) AS week_start,
         CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS next_month,
         CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
         FROM orders""",
    "q_list_words" ->
      s"""SELECT doc_id,
          len($TokSql) AS n_words,
          len(list_distinct($TokSql)) AS n_distinct,
          CAST(list_contains($TokSql, 'the') AS INT) AS has_the,
          array_to_string(($TokSql)[1:3], '|') AS first3
          FROM documents""",
    "q_list_sets" ->
      s"""SELECT doc_id,
          coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), '|'), '') AS inter,
          coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), '|'), '') AS uni,
          coalesce(array_to_string(list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))), '|'), '') AS a_minus_b,
          coalesce(array_to_string(list_sort(list_concat(
            list_filter(list_distinct(a), x -> NOT list_contains(b, x)),
            list_filter(list_distinct(b), x -> NOT list_contains(a, x)))), '|'), '') AS symdiff,
          len(list_distinct(list_filter(a, x -> list_contains(b, x)))) AS n_inter,
          len(list_distinct(list_concat(a, b))) AS n_union
          FROM (SELECT doc_id, ($TokSql)[1:8] AS a, ($TokSql)[5:12] AS b FROM documents)""",
    "q_list_sort" ->
      s"""SELECT doc_id,
          array_to_string((list_sort($TokSql))[1:5], '|') AS sorted5,
          array_to_string((list_reverse($TokSql))[1:3], '|') AS rev3,
          CAST(coalesce(list_position($TokSql, 'the'), 0) AS BIGINT) AS the_pos,
          CAST(coalesce(list_aggregate(list_transform($TokSql, w -> length(w)), 'sum'), 0)
               AS BIGINT) AS chars_sum
          FROM documents""",
    "q_cum_prod" ->
      """SELECT user_id, event_id,
         round(list_aggregate(f, 'product'), 6) AS prod5
         FROM (
           SELECT user_id, event_id,
             list(1.0 + value / 1000.0)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS f
           FROM events)""",
    "q_peaks" ->
      """SELECT user_id, event_id,
         CAST(CASE WHEN lag(value) OVER w IS NOT NULL
                    AND lead(value) OVER w IS NOT NULL
                    AND value > lag(value) OVER w
                    AND value > lead(value) OVER w
               THEN 1 ELSE 0 END AS INT) AS is_peak
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "q_first_last" ->
      """SELECT user_id,
         first(event_type ORDER BY ts, event_id) AS first_type,
         last(event_type ORDER BY ts, event_id) AS last_type,
         count(*) AS n
         FROM events GROUP BY user_id""",
    "q_binary_ops" ->
      """SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         octet_length(encode(text)) * 8 AS n_bits,
         to_base64(encode(substr(text, 1, 9))) AS head_b64
         FROM documents""",
    "q_zscore" ->
      """SELECT user_id, event_id,
         round((value - avg(value) OVER w)
               / nullif(stddev_samp(value) OVER w, 0), 4) + 0.0 AS z
         FROM events WINDOW w AS (PARTITION BY user_id)""",
    // breaks CTE = the q_quantile oracle at p05/p95, so the clip edges
    // are bit-identical to Quantiles.exactQuantiles
    "q_winsorize" ->
      """WITH b AS (
           SELECT l_returnflag, l_extendedprice AS v,
             CAST(row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice) AS DOUBLE) - 1 AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
           FROM lineitem),
         breaks AS (
           SELECT l_returnflag,
             sum(CASE WHEN rn = floor((n-1)*0.05) OR rn = ceil((n-1)*0.05)
                      THEN v * (1.0 - abs(rn - (n-1)*0.05)) ELSE 0.0 END) AS p05,
             sum(CASE WHEN rn = floor((n-1)*0.95) OR rn = ceil((n-1)*0.95)
                      THEN v * (1.0 - abs(rn - (n-1)*0.95)) ELSE 0.0 END) AS p95
           FROM b GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber,
           least(greatest(l_extendedprice, p05), p95) AS price_w
         FROM lineitem JOIN breaks USING (l_returnflag)""",
    "q_skew_kurt" ->
      """SELECT l_returnflag,
         round((m3 - 3*m1*m2 + 2*m1*m1*m1) / (v * sqrt(v)), 4) + 0.0 AS skew,
         round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1) / (v * v) - 3, 4) + 0.0 AS kurt
         FROM (
           SELECT l_returnflag, m1, m2, m3, m4, m2 - m1*m1 AS v
           FROM (
             SELECT l_returnflag,
               avg(l_quantity) AS m1,
               avg(l_quantity*l_quantity) AS m2,
               avg(l_quantity*l_quantity*l_quantity) AS m3,
               avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4
             FROM lineitem GROUP BY l_returnflag))""",
    "q_search_sorted" ->
      """SELECT p.probe, count(l.l_extendedprice) AS insert_idx
         FROM (VALUES (1000.0), (10000.0), (30000.0), (60000.0)) p(probe)
         LEFT JOIN lineitem l ON l.l_extendedprice < p.probe
         GROUP BY p.probe""",
    "q_search_sorted_right" ->
      """SELECT p.probe, count(l.l_quantity) AS insert_idx
         FROM (VALUES (1.0), (25.0), (50.0)) p(probe)
         LEFT JOIN lineitem l ON l.l_quantity <= p.probe
         GROUP BY p.probe""",
    "q_entropy" ->
      """SELECT user_id, round(-sum(p * ln(p)), 4) + 0.0 AS entropy
         FROM (
           SELECT user_id, c * 1.0 / sum(c) OVER (PARTITION BY user_id) AS p
           FROM (SELECT user_id, event_type, count(*) AS c
                 FROM events GROUP BY 1, 2))
         GROUP BY user_id""",
    "q_rank_avg" ->
      """SELECT o_custkey, o_orderkey,
         CAST(rank() OVER wp AS BIGINT) AS rank_min,
         CAST(rank() OVER wp + count(*) OVER ties - 1 AS BIGINT) AS rank_max,
         rank() OVER wp + (count(*) OVER ties - 1) / 2.0 AS rank_avg
         FROM orders
         WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_orderpriority),
                ties AS (PARTITION BY o_custkey, o_orderpriority)""",
    "q_duration" ->
      """SELECT user_id, event_id, gap_us,
         CAST(floor(gap_us / 1000000.0) AS BIGINT) AS gap_s
         FROM (
           SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)""",
    "q_group_tail" ->
      """SELECT user_id, event_id, rn_back FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_back
           FROM events)
         WHERE rn_back <= 2""",
    "q_rolling_std" ->
      """SELECT user_id, event_id,
         round(stddev_samp(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
               4) AS rstd
         FROM events""",
    "q_cume_dist" ->
      """SELECT o_custkey, o_orderkey,
         cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS cd
         FROM orders""",
    "q_null_safe_join" ->
      """SELECT o_orderkey, a.k AS k, nb
         FROM (SELECT o_orderkey,
                 CASE WHEN o_custkey % 7 <> 0 THEN o_custkey END AS k
               FROM orders) a
         JOIN (SELECT k, count(*) AS nb FROM
                 (SELECT CASE WHEN c_custkey % 7 <> 0 THEN c_custkey END AS k
                  FROM customer)
               GROUP BY k) b
           ON a.k IS NOT DISTINCT FROM b.k""",
    "q_cov" ->
      """SELECT l_returnflag,
         round(covar_samp(l_quantity, l_discount), 4) + 0.0 AS qd_cov,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q_unique_counts" ->
      """SELECT o_orderpriority AS value, count(*) AS count,
         min(o_orderkey) AS first_at
         FROM orders GROUP BY o_orderpriority""",
    "q_str_count" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '\bthe\b')) AS n_the,
         len(regexp_extract_all(text, '[.!?]')) AS n_sentences
         FROM documents""",
    "q_update" ->
      """SELECT o.o_orderkey,
         coalesce(u.u_price, o.o_totalprice) AS price_new
         FROM orders o LEFT JOIN (
           SELECT o_orderkey AS u_key, o_totalprice + 1000.0 AS u_price
           FROM orders WHERE o_orderpriority = '1-URGENT') u
         ON o.o_orderkey = u.u_key""",
    "q_join_validate" ->
      """SELECT o_orderkey, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q_explode_multi" ->
      """SELECT vec_id,
         unnest([CAST(1 AS BIGINT), 2, 3]) AS idx,
         unnest([CAST(embedding[1] AS DOUBLE),
                 CAST(embedding[2] AS DOUBLE),
                 CAST(embedding[3] AS DOUBLE)]) AS val
         FROM embeddings""",
    "q_str_extract_groups" ->
      """SELECT p_partkey,
         regexp_extract(p_name, '^(\S+)\s+(\S+)$', 1) AS adj,
         regexp_extract(p_name, '^(\S+)\s+(\S+)$', 2) AS noun,
         regexp_extract(p_brand, '#(\d+)$', 1) AS brand_num
         FROM part""",
    "q_rank_ordinal" ->
      """SELECT o_orderkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rk_ordinal
         FROM orders""",
    "q_range_gen" ->
      """SELECT strftime(CAST(gs AS DATE), '%Y-%m-%d') AS month_start,
         date_diff('day', CAST(gs AS DATE), CAST(gs AS DATE) + INTERVAL 1 MONTH) AS n_days,
         date_diff('month', DATE '1995-01-01', CAST(gs AS DATE)) AS i
         FROM generate_series(DATE '1995-01-01', DATE '1996-12-01', INTERVAL 1 MONTH) t(gs)""",
    "q_list_slice" ->
      """SELECT vec_id,
         CAST(embedding[2] AS DOUBLE) AS s1,
         CAST(embedding[-1] AS DOUBLE) AS rev1,
         CAST(list_position(embedding, list_aggregate(embedding, 'max')) AS BIGINT) AS argmax_pos
         FROM embeddings""",
    "q_struct_ops" ->
      """SELECT o_orderkey, o_orderpriority AS prio,
         round(o_totalprice*0.92, 2) AS price_eur
         FROM orders""",
    "q_corr_matrix" ->
      """SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           round(corr(l_quantity, l_extendedprice), 4) + 0 AS r FROM lineitem
         UNION ALL
         SELECT 'l_quantity', 'l_discount',
           round(corr(l_quantity, l_discount), 4) + 0 FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount',
           round(corr(l_extendedprice, l_discount), 4) + 0 FROM lineitem""",
    "q_corr_spearman" ->
      """WITH r AS (
           SELECT l_returnflag,
             rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rq,
             rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS rp
           FROM lineitem)
         SELECT l_returnflag, round(corr(rq, rp), 4) + 0 AS rho, count(*) AS n
         FROM r GROUP BY l_returnflag""",
    "q_corr_matrix_spearman" ->
      """WITH r AS (
           SELECT
             rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
             rank() OVER (ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS re,
             rank() OVER (ORDER BY l_discount)
               + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd
           FROM lineitem)
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           round(corr(rq, re), 4) + 0 AS r FROM r
         UNION ALL
         SELECT 'l_quantity', 'l_discount', round(corr(rq, rd), 4) + 0 FROM r
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount', round(corr(re, rd), 4) + 0 FROM r""",
    "q_rank_global" ->
      """SELECT o_orderkey,
           rank() OVER (ORDER BY o_totalprice)
             + (count(*) OVER (PARTITION BY o_totalprice) - 1) / 2.0 AS price_rank
         FROM orders""",
    "q_rank_global_methods" ->
      """SELECT o_orderkey,
         rank() OVER (ORDER BY o_totalprice) AS rank_min,
         rank() OVER (ORDER BY o_totalprice)
           + count(*) OVER (PARTITION BY o_totalprice) - 1 AS rank_max,
         dense_rank() OVER (ORDER BY o_totalprice) AS rank_dense
         FROM orders""",
    "q_dt_parts" ->
      """SELECT o_orderkey,
         dayofyear(o_orderdate) AS yr_day,
         weekofyear(o_orderdate) AS iso_week,
         date_part('day', last_day(CAST(o_orderdate AS DATE))) AS days_in_mo,
         CAST((year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 <> 0)
              OR year(o_orderdate) % 400 = 0 AS INT) AS leap
         FROM orders""",
    "q_list_unique" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_unique,
         array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], '|') AS uniq_head
         FROM documents"""
  )
}
