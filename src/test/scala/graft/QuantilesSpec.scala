package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Quantiles

class QuantilesSpec extends SparkSpec {

  test("distributed exact quantiles equal the per-group window formulation") {
    import spark.implicits._
    // 3 groups × 400 rows over 4 shuffle partitions: every group spans
    // several range partitions, so the rank reconstruction (local sort
    // + broadcast offsets) is actually exercised across boundaries
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(1200)(i => (s"g${i % 3}", rnd.nextDouble() * 100))
      .toDF("g", "v")
    val got = Quantiles.exactQuantiles(df, Seq("g"), "v",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap

    val wOrd = Window.partitionBy(col("g")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("g"))
    val base = df
      .withColumn("rn", row_number().over(wOrd).cast("double") - 1)
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
    def qq(p: Double) = {
      val idx = (col("n") - 1) * p
      sum(when(col("rn") === floor(idx) || col("rn") === ceil(idx),
        col("v") * (lit(1.0) - abs(col("rn") - idx))).otherwise(lit(0.0)))
    }
    val want = base.groupBy(col("g"))
      .agg(qq(0.25).as("p25"), qq(0.5).as("p50"), qq(0.75).as("p75"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap

    assert(got.keySet == want.keySet)
    got.foreach { case (k, (a, b, c)) =>
      val (x, y, z) = want(k)
      assert(a == x && b == y && c == z, s"group $k: ($a,$b,$c) != ($x,$y,$z)")
    }
  }

  test("exactQuantilesCounts is bit-identical to the range path on ties, nulls, odd ps") {
    import spark.implicits._
    // discrete domain with heavy ties + nulls, percentiles whose idx
    // lands integral, half, and at awkward fractions
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(3000) { i =>
      val v: java.lang.Double =
        if (i % 17 == 0) null else (rnd.nextInt(50) + 1).toDouble
      (s"g${i % 4}", v)
    }
    val df = rows.toDF("g", "v")
    // every strategy at every p, grouped and global
    val ps = for {
      (name, p) <- Seq("p0" -> 0.0, "p03" -> 0.03, "p25" -> 0.25, "p50" -> 0.5,
        "p77" -> 0.777, "p100" -> 1.0)
      s <- Quantiles.Strategies.toSeq.sorted
    } yield (s"${name}_$s", p, s)
    for (groups <- Seq(Seq("g"), Nil)) {
      def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => groups.indices.map(r.getString) ->
          ps.indices.map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(groups.length + i))))
        .toMap
      val range = toMap(Quantiles.exactQuantilesStrategy(df, groups, "v", ps))
      val counts = toMap(Quantiles.exactQuantilesCounts(df, groups, "v", ps))
      assert(range.size == (if (groups.isEmpty) 1 else 4))
      assert(range == counts, s"groups=$groups range=$range counts=$counts")
    }
  }

  test("a quantile call reads ONE finalized rank-core RDD for all five strategies") {
    // the rank core's contract: pass 1 and pass 2 run over the same
    // finalized RDD, so the caller's plan holds one ExistingRDD scan
    // and NO live range exchange (the range shuffle is inside the
    // pre-finalized subplan) — for the raw rows and the counts table
    // alike, however many strategies the call mixes; nothing cached
    val li = Tables.t(spark, Sf, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
    val ps = Quantiles.Strategies.toSeq.sorted.map(s => (s, 0.3, s))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (df <- Seq(
        Quantiles.exactQuantilesStrategy(li, Seq("l_returnflag"), "l_extendedprice", ps),
        Quantiles.exactQuantilesCounts(li, Seq("l_returnflag"), "l_extendedprice", ps))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val existing = plan.linesIterator.count(_.contains("Scan ExistingRDD"))
      val ranged = plan.linesIterator.count(_.contains("rangepartitioning"))
      assert(existing == 1 && ranged == 0,
        s"quantiles not one finalized rank RDD: existing=$existing ranged=$ranged\n$plan")
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "quantiles left frames in the cache")
  }

  test("rank and quantile queries do not depend on the shuffle partition count") {
    // the rank core stitches global positions from per-partition
    // offsets: 1 partition (no stitching) and 7 (groups split across
    // partitions) must give the same rows
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def rows(parts: Int) = {
      spark.conf.set(key, parts.toString)
      Seq("q_quantile", "q_quantile_nearest", "q_fill_median", "q_qcut", "q_winsorize",
        "q_rank_global", "q_rank_global_methods", "q_corr_matrix_spearman")
        .map(q => q -> SparkEntry.queries(q)(spark, Sf).collect().map(_.toSeq).toSet).toMap
    }
    val (one, seven) = try (rows(1), rows(7)) finally spark.conf.set(key, prev)
    for ((q, r) <- one) {
      assert(r.nonEmpty, s"$q returned no rows")
      assert(r == seven(q), s"$q differs across partition counts: " +
        s"${(r diff seven(q)).take(3)} vs ${(seven(q) diff r).take(3)}")
    }
  }

  test("interpolation strategies pick/blend the documented neighbor ranks") {
    import spark.implicits._
    // g: sorted values (10, 20, 30, 40); p=0.3 → idx = 0.9:
    // lower=10, higher=20, linear=19, nearest(round .9→1)=20, midpoint=15
    // h: single value — every strategy returns it
    val df = (Seq(("g", 30.0), ("g", 10.0), ("g", 40.0), ("g", 20.0), ("h", 7.0)))
      .toDF("g", "v")
    val got = Quantiles.exactQuantilesStrategy(df, Seq("g"), "v",
        Seq(("lin", 0.3, "linear"), ("lo", 0.3, "lower"), ("hi", 0.3, "higher"),
          ("near", 0.3, "nearest"), ("mid", 0.3, "midpoint")))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(got("g") == ((19.0, 10.0, 20.0, 20.0, 15.0)))
    assert(got("h") == ((7.0, 7.0, 7.0, 7.0, 7.0)))
    // idx landing exactly on a rank: all strategies agree there
    val exact = Quantiles.exactQuantilesStrategy(df.filter(col("g") === "g"), Seq("g"), "v",
        Seq(("a", 1.0 / 3.0, "linear"), ("b", 1.0 / 3.0, "nearest"),
          ("c", 1.0 / 3.0, "lower"), ("d", 1.0 / 3.0, "higher"),
          ("e", 1.0 / 3.0, "midpoint")))
      .collect().head
    assert((1 to 5).map(exact.getDouble).forall(_ == 20.0))
    intercept[IllegalArgumentException](
      Quantiles.exactQuantilesStrategy(df, Seq("g"), "v", Seq(("x", 0.5, "cubic"))))
  }

  test("approx percentile stays inside the GK rank-error envelope vs exact") {
    import spark.implicits._
    // GK at accuracy A guarantees rank error <= n/A: the sketch's p50
    // must land on a value whose exact rank is within that window.
    // 10k rows, accuracy 1000 -> rank error <= 10
    val n = 10000
    val df = draw(n).toDF("v")
    val approx = df.agg(
      percentile_approx(col("v"), lit(0.5), lit(1000))).collect()(0).getDouble(0)
    val sorted = draw(n).sorted
    val rank = sorted.indexWhere(_ >= approx)
    assert(math.abs(rank - n / 2) <= 2 * n / 1000,
      s"approx p50 $approx has exact rank $rank — outside the GK envelope")
  }

  // deterministic non-uniform values: quadratic spacing plus heavy ties
  private def draw(n: Int): Seq[Double] =
    (1 to n).map(i => if (i % 10 == 0) 500.0 else (i.toDouble * i) / n)

  test("quantiles handle a single-row group, ties, and ignore nulls") {
    import spark.implicits._
    val df = Seq(
      ("a", Option(5.0)),
      ("b", Option(1.0)), ("b", Option(1.0)), ("b", Option(3.0)),
      ("b", Option.empty[Double]) // must not shift ranks or counts
    ).toDF("g", "v")
    val got = Quantiles.exactQuantiles(df, Seq("g"), "v", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") == 5.0)
    assert(got("b") == 1.0) // median of the non-null (1, 1, 3)
  }
}
