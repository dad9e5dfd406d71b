package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** The graft_* SQL functions must reach the same native expressions as
  * the Column API. The shared session loads them the way every main
  * does: `graft.Session` sets spark.sql.extensions=GraftExtensions. */
class SqlFunctionsSpec extends SparkSpec {

  test("graft_simhash via SQL equals the Column API and the HOF form") {
    Tables.t(spark, Sf, "documents").limit(50).createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql("SELECT doc_id, graft_simhash(text) AS s FROM docs_sql")
    val viaCol = Tables.t(spark, Sf, "documents").limit(50)
      .select(col("doc_id"), TF.simhash(col("text")).as("s"))
    assert(viaSql.exceptAll(viaCol).count() == 0)
  }

  test("graft_simhash_md5 / graft_minhash_md5_key / graft_lexical_stats equal the Column API") {
    Tables.t(spark, Sf, "documents").limit(30).createOrReplaceTempView("docs_sqlk")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_simhash_md5(text) AS sm,
                graft_minhash_md5_key(text, 5) AS mk,
                graft_lexical_stats(text).n_types AS nt
         FROM docs_sqlk""")
    val viaCol = Tables.t(spark, Sf, "documents").limit(30)
      .select(col("doc_id"),
        graft.plans.TextHashColumns.simhashMd5(col("text")).as("sm"),
        graft.plans.TextHashColumns.minhashMd5Key(col("text"), 5).as("mk"),
        graft.plans.TextHashColumns.lexicalStats(col("text")).getField("n_types").as("nt"))
    assert(viaSql.exceptAll(viaCol).count() == 0)
  }

  test("graft_minhash and graft_shingle_hashes have the declared shapes") {
    Tables.t(spark, Sf, "documents").limit(10).createOrReplaceTempView("docs_sql2")
    val r = spark.sql(
      """SELECT size(graft_minhash(text, 3, 64)) AS nsig,
                size(graft_shingle_hashes(text, 3)) AS nsh
         FROM docs_sql2""").collect()
    assert(r.forall(_.getInt(0) == 64))
    assert(r.forall(_.getInt(1) > 0))
  }

  test("graft_cosine of a vector with itself is 1") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D, 3.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("composed Column kernels resolve through SQL like the Column API") {
    val reason = spark.sql("SELECT graft_quality_reason('hi there') AS r")
      .head().getString(0)
    assert(reason == "too_short")
    val q = spark.sql(
      "SELECT graft_int8_quantize(array(0.5D, -1.0D, 0.25D)) AS q")
      .head().getSeq[Long](0)
    assert(q == Seq(64L, -127L, 32L))
    val masked = spark.sql(
      "SELECT graft_redact('mail me at a.b@c.org or 10.0.0.1') AS m")
      .head().getString(0)
    assert(masked == "mail me at <EMAIL> or <IP>")
    // "the thing" = the(1) + th,ing(2) under the default merge table
    val bpe = spark.sql("SELECT graft_bpe_count('the thing') AS n")
      .head().getLong(0)
    assert(bpe == 3L)
    val curl = spark.sql(
      "SELECT graft_canonical_url('HTTPS://Ex.COM:443/a/?b=2&utm_source=x&a=1#f') AS c")
      .head().getString(0)
    assert(curl == "https://ex.com/a?a=1&b=2")
    val markup = spark.sql(
      "SELECT graft_markup_ratio('<p>hi</p>') AS m").head().getDouble(0)
    assert(markup == 0.7778) // 7 of 9 chars inside tags
    val hits = spark.sql(
      "SELECT graft_contains_any('ask the customer', 'customer', 'spark') AS h, " +
        "graft_contains_any('nothing here', 'customer', 'spark') AS m")
      .head()
    assert(hits.getBoolean(0) && !hits.getBoolean(1))
    // non-literal pattern fails loudly, not silently wrong
    intercept[Exception](spark.sql(
      "SELECT graft_contains_any('t', upper('x'))").collect())
  }

  test("graft_contains_any rejects an empty pattern at analysis, before the query runs") {
    Tables.t(spark, Sf, "documents").createOrReplaceTempView("docs_trie")
    intercept[IllegalArgumentException](
      spark.sql("SELECT graft_contains_any(text, 'spark', '') FROM docs_trie"))
  }

  test("graft_compress_ratio via SQL equals the Column API") {
    val loop = "'" + ("repeat me " * 40).trim + "'"
    val viaSql = spark.sql(s"SELECT graft_compress_ratio($loop, 6)").head().getDouble(0)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaCol = Seq(("repeat me " * 40).trim).toDF("t")
      .select(graft.functions.TextFunctions.compressionRatio(col("t"))).head().getDouble(0)
    assert(viaSql == viaCol && viaSql < 0.2)
  }

  test("graft_product: SQL and Column API agree; nulls skipped; all-null group is null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq[(String, Option[Double])](
      ("a", Some(2.0)), ("a", Some(3.0)), ("a", None),
      ("b", Some(-4.0)), ("c", None))
      .toDF("k", "v")
    df.createOrReplaceTempView("prod_t")
    val viaCol = df.groupBy(col("k"))
      .agg(graft.functions.AggFunctions.product(col("v")).as("p"))
      .as[(String, Option[Double])].collect().toMap
    assert(viaCol == Map("a" -> Some(6.0), "b" -> Some(-4.0), "c" -> None))
    val viaSql = spark.sql(
        "SELECT k, graft_product(v) AS p FROM prod_t GROUP BY k")
      .as[(String, Option[Double])].collect().toMap
    assert(viaSql == viaCol)
    // partial/merge path: many partitions, exact small-int product
    val big = spark.range(1, 21).repartition(8)
      .select((col("id") % 5 + 1).cast("double").as("v"))
    val p = big.agg(graft.functions.AggFunctions.product(col("v"))).head().getDouble(0)
    assert(p == math.pow(1.0 * 2 * 3 * 4 * 5, 4))
  }

  test("unicode normalization functions resolve through SQL") {
    val r = spark.sql(
      "SELECT graft_nfc('Cafe\u0301') AS nfc, " +
        "graft_nfkc('\uFF23afe\u0301 \uFB01n') AS nfkc, " +
        "graft_strip_accents('Caf\u00e9 na\u00efve \u00f8re') AS stripped")
      .head()
    assert(r.getString(0) == "Caf\u00e9")
    assert(r.getString(1) == "Caf\u00e9 fin")
    assert(r.getString(2) == "Cafe naive \u00f8re")
  }

  test("wrong argument counts fail analysis instead of being ignored") {
    for (bad <- Seq(
        "SELECT graft_quality_reason('a', 'b')",
        "SELECT graft_simhash()",
        "SELECT graft_cosine(array(1.0D))",
        "SELECT graft_redact('a', 'b', 'c')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(bad).collect())
      assert(e.getMessage.contains("parameters"), s"unexpected error for: $bad — ${e.getMessage}")
    }
  }

  test("joinValidated enforces key multiplicity like polars validate=") {
    import spark.implicits._
    import graft.queries.Relational.joinValidated
    val uniq = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dup  = Seq((1, "x"), (1, "y"), (3, "z")).toDF("k", "w")
    // m:1 with a unique right side passes and returns the plain join
    assert(joinValidated(dup, uniq, Seq("k"), "m:1").count() == 2)
    // m:1 with a duplicated right side fails loudly
    val e = intercept[IllegalArgumentException](
      joinValidated(uniq, dup, Seq("k"), "m:1"))
    assert(e.getMessage.contains("m:1"))
    // 1:1 needs both sides unique; 1:m mirrors m:1; m:m never checks
    intercept[IllegalArgumentException](joinValidated(dup, uniq, Seq("k"), "1:1"))
    intercept[IllegalArgumentException](joinValidated(dup, uniq, Seq("k"), "1:m"))
    assert(joinValidated(dup, dup.withColumnRenamed("w", "w2"), Seq("k"), "m:m").count() == 5)
  }

  test("rollingMap: a mean kernel reproduces rolling_mean; prefix windows are partial") {
    import spark.implicits._
    val df = Seq(("a", 1L, 2.0), ("a", 2L, 4.0), ("a", 3L, 6.0), ("a", 4L, 8.0),
      ("b", 1L, 10.0)).toDF("g", "t", "v")
    val got = graft.queries.Relational.rollingMap(
        df, Seq(col("g")), Seq(col("t")), "v", 3, "m")(a =>
          aggregate(a, lit(0.0), _ + _) / size(a))
      .select(col("g"), col("t"), col("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("t")).rowsBetween(-2, 0)
    val want = df.withColumn("m", avg(col("v")).over(w))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got == want)
    assert(got(("a", 1L)) == 2.0 && got(("a", 2L)) == 3.0, "prefix windows are partial")
  }

  test("rollingMap on the wrapper: kernel sees at most n values, in index order") {
    import spark.implicits._
    val gd = graft.core.GDataset(
      Seq((1L, "x", 1.0), (2L, "x", 2.0), (3L, "x", 3.0)).toDF("t", "id", "v"),
      "t", Seq("id"))
    val got = gd.rollingMap("v", 2, "last2")(a => concat_ws(",", transform(a, _.cast("string"))))
      .df.orderBy(col("t")).select(col("last2")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("1.0", "1.0,2.0", "2.0,3.0"))
  }

  test("rankGlobal tie methods agree on a controlled multiset") {
    import spark.implicits._
    val df = Seq(10.0, 10.0, 20.0, 5.0).toDF("v")
    val got = graft.operators.Ranks.rankGlobal(df, "v",
        Seq("a" -> "average", "mn" -> "min", "mx" -> "max", "d" -> "dense"))
      .collect().map(r => r.getDouble(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(5.0) == ((1.0, 1L, 1L, 1L)))
    assert(got(10.0) == ((2.5, 2L, 3L, 2L)))
    assert(got(20.0) == ((4.0, 4L, 4L, 3L)))
  }

  test("avgRank equals the windowed average-tie rank, partitioning-independent") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // values with heavy ties plus a null (which must keep a null rank)
    val df = (Seq.fill(5)(10.0) ++ Seq.fill(3)(20.0) ++ Seq(5.0, 30.0, 30.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, Option(v)) }
      .toDF("id", "v")
      .unionByName(Seq((99L, Option.empty[Double])).toDF("id", "v"))
    val expect = df.filter(col("v").isNotNull).select(col("id"),
      (rank().over(Window.orderBy(col("v"))) +
        (count(lit(1)).over(Window.partitionBy(col("v"))) - 1) / lit(2.0)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def got(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Ranks.avgRank(d, "v", "r")
        .select("id", "r").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    val g = got(df)
    assert(g(99L).isEmpty, "null value must keep a null rank")
    expect.foreach { case (id, r) =>
      assert(g(id).contains(r), s"id $id: got ${g(id)}, want $r") }
    assert(got(df.repartition(7)) == g, "ranks must not depend on partitioning")
  }

  test("avgRankTables (melted one-pass) equals per-column avgRankTable") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      ((i % 13).toDouble, (i * 7 % 5).toDouble, (300 - i).toDouble % 9)
    }.toDF("a", "b", "c")
    val cols = Seq("a", "b", "c")
    val melted = graft.operators.Ranks
      .avgRankTables(df, cols, cols.map(c => s"r_$c"))
    cols.zip(melted).foreach { case (c, tbl) =>
      val got = tbl.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val want = graft.operators.Ranks.avgRankTable(df, c, s"r_$c")
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(got == want, s"column $c rank table diverged")
    }
    intercept[IllegalArgumentException](
      graft.operators.Ranks.avgRankTables(
        df.withColumn("s", lit("x")), Seq("a", "s"), Seq("ra", "rs")))
  }

  test("corrMatrix spearman matches corr of windowed ranks") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 200).map { i =>
      (i.toDouble % 17, (i * i).toDouble % 23, (200 - i).toDouble % 11)
    }.toDF("a", "b", "c")
    def wRank(c: String) = rank().over(Window.orderBy(col(c))) +
      (count(lit(1)).over(Window.partitionBy(col(c))) - 1) / lit(2.0)
    val expect = df.select(wRank("a").as("a"), wRank("b").as("b"), wRank("c").as("c"))
      .agg(round(corr(col("a"), col("b")), 4), round(corr(col("a"), col("c")), 4),
        round(corr(col("b"), col("c")), 4))
      .collect().head
    val got = graft.queries.Relational
      .corrMatrix(df, Seq("a", "b", "c"), method = "spearman")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("a", "b")) == expect.getDouble(0))
    assert(got(("a", "c")) == expect.getDouble(1))
    assert(got(("b", "c")) == expect.getDouble(2))
  }

  test("fillNullStrategy: mean/median, grouped and global, all-null group stays null") {
    import spark.implicits._
    import graft.queries.Relational.fillNullStrategy
    val df = Seq(
      ("a", Some(2.0)), ("a", Some(4.0)), ("a", None),
      ("b", Some(10.0)), ("b", Some(20.0)), ("b", Some(90.0)), ("b", None),
      ("c", None), ("c", None) // all-null group: nothing to fill from
    ).toDF("g", "v")
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g", "v").collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // grouped mean: a's null -> 3.0, b's -> 40.0, c stays null
    assert(vals(fillNullStrategy(df, "v", "mean", Seq("g"))).toSeq ==
      Seq("a" -> Some(2.0), "a" -> Some(3.0), "a" -> Some(4.0),
        "b" -> Some(10.0), "b" -> Some(20.0), "b" -> Some(40.0), "b" -> Some(90.0),
        "c" -> None, "c" -> None).map { case (g, v) => (g, v) })
    // grouped median: b's null -> 20.0 (middle of 10/20/90, not mean)
    val med = vals(fillNullStrategy(df, "v", "median", Seq("g")))
    assert(med.count { case (g, v) => g == "b" && v.contains(20.0) } == 2)
    assert(med.filter(_._1 == "c").forall(_._2.isEmpty), "all-null group must stay null")
    // global mean fills all four nulls with the one overall average (25.2)
    val glob = vals(fillNullStrategy(df, "v", "mean"))
    assert(glob.count(_._2.contains(25.2)) == 4)
    // global median (5 values 2,4,10,20,90 -> 10.0): four fills + the
    // original 10.0
    assert(vals(fillNullStrategy(df, "v", "median")).count(_._2.contains(10.0)) == 5)
    intercept[IllegalArgumentException](fillNullStrategy(df, "v", "mode"))
  }

  test("listEval family: map/filter/fold HOFs, scan-local") {
    import spark.implicits._
    import graft.queries.Relational.{listEval, listEvalFilter, listEvalReduce}
    val df = Seq((1L, Seq(1.0, -2.0, 3.0)), (2L, Seq.empty[Double])).toDF("id", "xs")
    val out = listEvalReduce(
        listEvalFilter(
          listEval(df, "xs", "tx")(x => x * 2 + 1),
          "xs", "pos")(x => x > 0),
        "tx", "tot", lit(0.0))((a, x) => a + x)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](2), r.getSeq[Double](3), r.getDouble(4)))).toMap
    assert(out(1L) == ((Seq(3.0, -3.0, 7.0), Seq(1.0, 3.0), 7.0)))
    assert(out(2L) == ((Seq.empty, Seq.empty, 0.0)), "empty list folds to the zero")
    // scan-local contract: HOFs never shuffle
    val plan = listEval(df, "xs", "tx")(x => x + 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"listEval shuffled:\n$plan")
  }
}
