package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

class SamplingSpec extends SparkSpec {

  test("stratified hash sample: rate 0 drops a stratum, rate 16 keeps it whole") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "lang")
    val kept = Sampling.stratifiedHashSample(
      df, col("id"), col("lang"), rates = Map("a" -> 0, "b" -> 16),
      defaultSixteenths = 8)
      .select("lang").collect().map(_.getString(0))
    assert(!kept.contains("a"), "rate-0 stratum must be dropped entirely")
    assert(kept.count(_ == "b") == 200, "rate-16 stratum must be kept whole")
  }

  test("stratified hash sample is a pure function of the key (repartition-stable)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, "x")).toDF("id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedHashSample(d, col("id"), col("lang"), Map.empty, 4)
        .select("id").collect().map(_.getLong(0)).toSet
    val once = ids(df)
    assert(ids(df.repartition(7)) == once)
    assert(once.nonEmpty && once.size < 500, "4/16 rate should keep a strict subset")
  }

  test("leakageSafeSplit: cluster members share a side, singletons split both ways") {
    import spark.implicits._
    // ids 1..400; clusters {1,2,3} and {10,11} — every member must land
    // on its representative's side, all other docs split by own id
    val docs = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "comp")
    val out = Sampling.leakageSafeSplit(docs, "doc_id", clusters, testSixteenths = 4)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 400, "split preserves every doc exactly once")
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "cluster {1,2,3} straddled the split")
    assert(Set(out(10L), out(11L)).size == 1, "cluster {10,11} straddled the split")
    val sides = out.values.toSet
    assert(sides == Set("train", "test"), s"expected both sides non-empty, got $sides")
    // ~4/16 of hash space lands in test
    val testN = out.values.count(_ == "test")
    assert(testN > 40 && testN < 160, s"test fraction implausible: $testN/400")
    // reproducible: same inputs, same split
    val again = Sampling.leakageSafeSplit(docs.repartition(7), "doc_id", clusters, 4)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
    // degenerate fractions are rejected loudly
    intercept[IllegalArgumentException](
      Sampling.leakageSafeSplit(docs, "doc_id", clusters, 0))
    intercept[IllegalArgumentException](
      Sampling.leakageSafeSplit(docs, "doc_id", clusters, 16))
  }

  test("tokenMixture converts weights to budgets, drops unlisted domains, normalizes") {
    import spark.implicits._
    // domains a,b,c with 10 docs × 100 tokens each; weights 2:1 over
    // (a,b) of a 900-token run → budgets a=600, b=300; c unlisted
    val df = (for (d <- Seq("a", "b", "c"); i <- 1 to 10)
      yield (s"$d$i", d, 100L, i.toLong)).toDF("doc", "domain", "n_tok", "ord")
    val out = Sampling.tokenMixture(df, col("domain"), Seq(col("ord")), "n_tok",
        weights = Map("a" -> 2.0, "b" -> 1.0), totalTokens = 900)
      .collect().map(r => (r.getString(1), r.getLong(3))).groupBy(_._1)
    assert(out("a").length == 6, "a: 600-token budget fits 6 docs")
    assert(out("b").length == 3, "b: 300-token budget fits 3 docs")
    assert(!out.contains("c"), "unlisted domain must be dropped")
    // prefix in order, not an arbitrary subset
    assert(out("a").map(_._2).sorted.toSeq == (1L to 6L))
    // weights scale-invariant: (4, 2) is the same mixture as (2, 1)
    val scaled = Sampling.tokenMixture(df, col("domain"), Seq(col("ord")), "n_tok",
        weights = Map("a" -> 4.0, "b" -> 2.0), totalTokens = 900)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(scaled == Sampling.tokenMixture(df, col("domain"), Seq(col("ord")), "n_tok",
        Map("a" -> 2.0, "b" -> 1.0), 900)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet)
    intercept[IllegalArgumentException](
      Sampling.tokenMixture(df, col("domain"), Seq(col("ord")), "n_tok",
        Map("a" -> 0.0), 900))
  }

  test("temperatureMixture: α=1 keeps natural proportions, α<1 lifts the tail") {
    import spark.implicits._
    // high-resource domain a: 8100 tokens; low-resource b: 900 — perfect
    // squares so the α=0.5 weights (90, 30) and shares (3/4, 1/4) are
    // IEEE-exact and the floor budgets can't sit on a rounding edge
    val df = (for ((d, n, c) <- Seq(("a", 81, 100L), ("b", 9, 100L)); i <- 1 to n)
      yield (s"$d$i", d, c, i.toLong)).toDF("doc", "domain", "n_tok", "ord")
    def keptDocs(alpha: Double): Map[String, Long] =
      Sampling.temperatureMixture(df, col("domain"), Seq(col("ord")), "n_tok",
          alpha, totalTokens = 1000)
        .groupBy("domain").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // α=1: natural 9:1 proportions → budgets 900/100 → 9 vs 1 docs
    assert(keptDocs(1.0) == Map("a" -> 9L, "b" -> 1L))
    // α=0.5: sqrt weights 90:30 → budgets 750/250 → b rises to 2 docs
    // while a drops to 7 — the low-resource lift
    assert(keptDocs(0.5) == Map("a" -> 7L, "b" -> 2L))
    intercept[IllegalArgumentException](
      Sampling.temperatureMixture(df, col("domain"), Seq(col("ord")), "n_tok",
        0.0, 1000))
    intercept[IllegalArgumentException](
      Sampling.temperatureMixture(df.filter(lit(false)), col("domain"),
        Seq(col("ord")), "n_tok", 0.5, 1000))
  }

  test("temperatureMixture: NULL domains are excluded, all-NULL token sums don't crash") {
    import spark.implicits._
    val df = Seq(
      ("a1", Some("a"), Some(100L), 1L), ("a2", Some("a"), Some(100L), 2L),
      ("x1", None, Some(500L), 1L),            // null domain: excluded
      ("b1", Some("b"), None: Option[Long], 1L) // domain with only NULL counts
    ).toDF("doc", "domain", "n_tok", "ord")
    val kept = Sampling.temperatureMixture(df, col("domain"), Seq(col("ord")),
        "n_tok", 1.0, totalTokens = 200)
      .select("doc").collect().map(_.getString(0)).toSet
    // domain a gets the whole budget (b weighs 0, null domain never counts)
    assert(kept == Set("a1", "a2"))
    // all rows null-domain → loud, not a silent empty mixture
    intercept[IllegalArgumentException](
      Sampling.temperatureMixture(df.filter(col("domain").isNull), col("domain"),
        Seq(col("ord")), "n_tok", 0.5, 1000))
  }

  test("budgetPerStratum keeps a prefix per stratum within the budget") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 40L), ("a", 2L, 40L), ("a", 3L, 40L), // cum 40, 80, 120
      ("b", 1L, 100L), ("b", 2L, 1L)                  // cum 100, 101
    ).toDF("lang", "id", "n_tok")
    val kept = Sampling.budgetPerStratum(df, col("lang"), Seq(col("id")), "n_tok", 100)
      .select("lang", "id", "cum_n_tok").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(kept == Map(("a", 1L) -> 40L, ("a", 2L) -> 80L, ("b", 1L) -> 100L))
  }

  test("shardAssign is balanced, deterministic, in-range; writeShards round-trips") {
    import spark.implicits._
    val df = (1L to 4000L).toDF("id")
    val counts = df.select(Sampling.shardAssign(col("id"), 8).as("s"))
      .groupBy("s").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0 until 8).toSet, "every shard populated, none out of range")
    assert(counts.values.forall(c => c > 350 && c < 650),
      s"md5 sharding should be near-uniform (500 ± 30%): $counts")
    // pure function of the key: stable under repartitioning
    val a = df.select(col("id"), Sampling.shardAssign(col("id"), 8).as("s"))
    val b = df.repartition(13).select(col("id"), Sampling.shardAssign(col("id"), 8).as("s"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // write side: shard=N dirs, full row set preserved, same assignment
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Sampling.writeShards(df, col("id"), 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4000)
    assert(back.select(col("id"),
        (col("shard") === Sampling.shardAssign(col("id"), 4)).as("ok"))
      .filter(!col("ok")).isEmpty, "persisted shard ids must match the assignment")
    intercept[IllegalArgumentException](Sampling.shardAssign(col("id"), 0))
  }

  test("int8 quantization bounds, sign, and zero-vector passthrough") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val out = df.select(col("id"), VF.int8Quantize(col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(64L, -127L, 32L)) // 127*0.5=63.5 -> floor(+0.5)=64
    assert(out(2L) == Seq(0L, 0L, 0L), "zero vector must quantize to zeros, not NaN")
    assert(out.values.flatten.forall(q => q >= -127L && q <= 127L))
  }

  test("weightedSample: deterministic, partitioning-independent, weight-proportional") {
    import spark.implicits._
    // 100 heavy keys (w=100) among 900 light ones (w=1): under
    // Efraimidis–Spirakis a heavy row's exponential key has rate 100,
    // so drawing n=100 picks nearly every heavy row — far above the
    // count-proportional 10 a weight-blind sampler would give
    val df = (1 to 1000).map(i =>
      (i.toLong, if (i <= 100) 100.0 else 1.0)).toDF("id", "w")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(d, col("id"), col("w"), n = 100)
        .select("id").collect().map(_.getLong(0)).toSet
    val once = sample(df)
    assert(once.size == 100)
    assert(sample(df) == once, "rerun must pick the identical set")
    assert(sample(df.repartition(7)) == once, "sample must not depend on partitioning")
    val heavy = once.count(_ <= 100L)
    assert(heavy >= 78, s"only $heavy/100 heavy rows sampled — not weight-proportional")
    // null / non-positive weights are excluded, never sampled
    val edge = Seq((1L, Some(2.0)), (2L, None), (3L, Some(0.0)), (4L, Some(-1.0)))
      .toDF("id", "w")
    assert(Sampling.weightedSample(edge, col("id"), col("w"), n = 10)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("weightedSampleByStratum: n per stratum, weight-proportional within, deterministic") {
    import spark.implicits._
    // two strata; inside stratum "a" 20 heavy rows among 180 light
    val df = (1 to 400).map { i =>
      val stratum = if (i <= 200) "a" else "b"
      val w = if (stratum == "a" && i <= 20) 50.0 else 1.0
      (i.toLong, stratum, w)
    }.toDF("id", "s", "w")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSampleByStratum(d, col("id"), col("w"), col("s"), nPerStratum = 20)
        .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
    val once = sample(df)
    assert(once.count(_._2 == "a") == 20 && once.count(_._2 == "b") == 20)
    assert(sample(df.repartition(7)).toSet == once.toSet, "partitioning changed the draw")
    val heavyIn = once.count { case (id, s) => s == "a" && id <= 20 }
    assert(heavyIn >= 15, s"only $heavyIn/20 heavy rows drawn in stratum a")
    // a stratum smaller than n comes back whole
    val tiny = Seq((1L, "t", 1.0), (2L, "t", 2.0)).toDF("id", "s", "w")
    assert(Sampling.weightedSampleByStratum(tiny, col("id"), col("w"), col("s"), 20)
      .count() == 2)
  }

  test("weightedSampleRate: boundary-equals-TakeOrdered, scan-side, null keys excluded") {
    import spark.implicits._
    val df = (1 to 500).map(i =>
      (i.toLong, if (i <= 50) 40.0 else 1.0)).toDF("id", "w")
    // the boundary contract: a threshold placed between the n-th and
    // (n+1)-th smallest E-S key keeps EXACTLY the weightedSample(n)
    // set — both paths read the same pure key
    val keys = df.select(Sampling.esKey(col("id"), col("w")).as("k"))
      .collect().map(_.getDouble(0)).sorted
    val n = 30
    val t = (keys(n - 1) + keys(n)) / 2
    val exact = Sampling.weightedSample(df, col("id"), col("w"), n)
      .select("id").collect().map(_.getLong(0)).toSet
    val rate = Sampling.weightedSampleRate(df, col("id"), col("w"), t)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rate == exact, s"rate sample at the boundary diverged: ${rate.size} vs $n")
    // deterministic + partitioning-independent, like the exact form
    assert(Sampling.weightedSampleRate(df.repartition(7), col("id"), col("w"), t)
      .select("id").collect().map(_.getLong(0)).toSet == rate)
    // scan-side: no exchange, no sort — a pure filter over the scan
    val plan = Sampling.weightedSampleRate(df, col("id"), col("w"), t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      s"rate sampling must not shuffle or sort:\n$plan")
    // expected size tracks sum(1 - e^{-t*w}) (binomial mean)
    val mu = df.collect().map(r => 1.0 - math.exp(-t * r.getDouble(1))).sum
    assert(math.abs(rate.size - mu) < 5 * math.sqrt(mu) + 1,
      s"sample size ${rate.size} far from binomial mean $mu")
    // null keys excluded in every weighted sampler (md5(null) would
    // otherwise sort NULLS FIRST into the sample)
    val withNulls = Seq((Some(1L), 1.0), (None, 1e9), (None, 1e9))
      .toDF("id", "w")
    assert(Sampling.weightedSampleRate(withNulls, col("id"), col("w"), 100.0)
      .collect().forall(!_.isNullAt(0)))
    assert(Sampling.weightedSample(withNulls, col("id"), col("w"), 2)
      .collect().forall(!_.isNullAt(0)),
      "weightedSample let a null key into the draw")
    assert(Sampling.weightedSampleByStratum(
        withNulls.withColumn("s", lit("x")), col("id"), col("w"), col("s"), 2)
      .collect().forall(!_.isNullAt(0)),
      "weightedSampleByStratum let a null key into the draw")
  }

  test("weightedSample with equal weights matches top-n by the uniform md5 draw") {
    import spark.implicits._
    // with all weights equal the E-S key −ln(u)/w is monotone
    // DECREASING in u, so the kept set must equal the n LARGEST u
    // values — a closed form that pins the md5→uniform plumbing
    val df = (1 to 300).map(_.toLong).toDF("id")
    val u = (conv(substring(md5(col("id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("double") + 0.5) / lit(4503599627370496.0)
    val expect = df.withColumn("u", u).orderBy(col("u").desc).limit(40)
      .select("id").collect().map(_.getLong(0)).toSet
    val got = Sampling.weightedSample(df.withColumn("w", lit(7.5)), col("id"), col("w"), n = 40)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("unitNorm produces unit vectors and passes zero vectors through") {
    import spark.implicits._
    val df = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val norms = df.select(col("id"), VF.norm2(VF.unitNorm(col("v"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(norms(1L) - 1.0) < 1e-12)
    assert(norms(2L) == 0.0)
  }

  test("bootstrapResample: deterministic Poisson(1) replicates, ordinals 1..k, nulls excluded") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (1L to 2000L).map(Option(_)).toDF("id")
    val out = Sampling.bootstrapResample(df, col("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("k"), max(col("replicate")).as("mx"),
        min(col("replicate")).as("mn"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // replicate ordinals are exactly 1..k per surviving key
    assert(out.values.forall { case (k, mx, mn) => mn == 1L && mx == k })
    // Poisson(1): ~63.2% of keys survive; loose 3σ-ish band
    assert(out.size > 1150 && out.size < 1400, s"survivors: ${out.size}")
    // expected total ≈ 2000
    val total = out.values.map(_._1).sum
    assert(total > 1800 && total < 2200, s"total replicates: $total")
    // pure function of the key: a rerun draws identically
    val again = Sampling.bootstrapResample(df.repartition(7), col("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out.view.mapValues(_._1).toMap)
    // null keys never draw
    val withNull = Seq(Some(1L), None).toDF("id")
    assert(Sampling.bootstrapResample(withNull, col("id"))
      .filter(col("id").isNull).count() == 0)
  }

  test("truncateRenorm keeps the prefix direction at unit norm; zero prefix is null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(3.0f, 4.0f, 100.0f)),   // prefix (3,4) → (0.6, 0.8)
      (2L, Seq(0.0f, 0.0f, 5.0f))      // zero prefix → null
    ).toDF("id", "v")
    val out = df.select(col("id"), VF.truncateRenorm(col("v"), 2).as("r"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)).toMap
    assert(out(1L).contains(Seq(0.6, 0.8)))
    assert(out(2L).isEmpty, "a zero-norm prefix has no direction")
    intercept[IllegalArgumentException](VF.truncateRenorm(col("v"), 0))
  }

  test("filterReason fires the FIRST failing rule in fixed order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short text here now"),                       // 4 words -> too_short
      (2L, "@@@@ #### $$$$ %%%% ^^^^ &&&&"),             // symbols ratio high, but word_len=4 ok -> symbols
      (3L, "the quick brown fox jumps over the lazy dog today"), // ok
      (4L, "aa bb cc dd ee ff gg hh")                    // mean word len 2.0 ok but no stopwords
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TF.filterReason(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "too_short")
    assert(got(2L) == "symbols")
    assert(got(3L) == "ok")
    assert(got(4L) == "no_stopwords")
  }

  test("native FilterReason matches the regex formulation on real docs and edges") {
    import spark.implicits._
    val real = Tables.t(spark, Sf, "documents").select(col("text"))
    val edges = SamplingSpec.FilterReasonEdges.map(Tuple1(_)).toDF("text")
    for (df <- Seq(real, edges)) {
      val bad = df.select(
          TF.filterReason(col("text")).as("native"),
          RegexSignals.filterReasonHof(col("text")).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(bad == 0, "single-pass gate differs from the regex reference")
    }
    // generated code compiles with fallback disabled: an RDD-backed
    // frame, since the optimizer folds a projection over `toDF` rows
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val viaRdd = spark.sparkContext.parallelize(SamplingSpec.FilterReasonEdges.map(Tuple1(_)), 2)
        .toDF("text").select(TF.filterReason(col("text")).as("r"))
      assert(viaRdd.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      val r = viaRdd.collect()
      assert(r.length == 6 && r.forall(_.getString(0).nonEmpty))
    } finally spark.conf.set(key, prev)
  }

  test("tokenWindows tiles and overlaps correctly, keeping the short tail") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4"), // 5 tokens, size 2 stride 2 -> [t0 t1][t2 t3][t4]
      (2L, "a"),              // single token -> one chunk
      (3L, "")                // empty -> no chunks
    ).toDF("doc_id", "text")
    val tiled = graft.operators.Chunk.tokenWindows(docs, "doc_id", "text", 2, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
    assert(tiled == Map(
      (1L, 0) -> ("t0 t1", 2), (1L, 1) -> ("t2 t3", 2), (1L, 2) -> ("t4", 1),
      (2L, 0) -> ("a", 1)))

    // 50% overlap: every consecutive pair shares stride tokens
    val over = graft.operators.Chunk.tokenWindows(docs.filter($"doc_id" === 1), "doc_id", "text", 4, 2)
      .orderBy("chunk_idx").collect().map(_.getString(2))
    assert(over.toSeq == Seq("t0 t1 t2 t3", "t2 t3 t4", "t4"))
  }

  test("curation stages only ever shrink the corpus, and the budget holds") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    // the audit trail must not re-run the gate/hash per stage: one
    // conditional-aggregate job + one budgeted-corpus count, nothing more
    // (AQE off so one action == one job and the count is deterministic)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    spark.sparkContext.addSparkListener(listener)
    val stats =
      try {
        val s = graft.operators.Curate.stageStats(docs, "doc_id", "text", "lang", 2000)
        org.apache.spark.sql.GraftShim.drainListenerBus(spark)
        s
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set(aqeKey, aqePrev)
      }
    assert(jobs.get() <= 2, s"stageStats ran ${jobs.get()} jobs; the stage counts must share one scan")
    val statsMap = stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statsMap("input") >= statsMap("quality_gate"))
    assert(statsMap("quality_gate") >= statsMap("exact_dedup"))
    assert(statsMap("exact_dedup") >= statsMap("token_budget"))
    assert(statsMap("token_budget") > 0, "curation must not empty the corpus")

    val corpus = graft.operators.Curate.corpus(docs, "doc_id", "text", "lang", 2000)
    val over = corpus.filter(org.apache.spark.sql.functions.col("cum_n_tok") > 2000).count()
    assert(over == 0, "per-language budget exceeded")
  }

  test("QualityModel separates rule-labeled docs and trains deterministically") {
    import spark.implicits._
    import graft.operators.QualityModel
    val good = (1 to 25).map(i => (i.toLong,
      "the story continues with a detailed and carefully measured account " +
        s"of what the researchers found in chapter $i of their long report", 1))
    val bad = (100 to 124).map(i => (i.toLong, s"@@## $$%% ^^&& !!~~ ((${i}))", 0))
    val docs = (good ++ bad).toDF("doc_id", "text", "label")
    val w = QualityModel.train(docs, "label", "text", "doc_id")
    assert(w.length == QualityModel.NumFeatures + 1)
    // the distilled model reproduces the labels' ordering
    val scores = docs.select(col("label"),
        QualityModel.score(w, col("text")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
    val goodMean = scores.filter(_._1 == 1).map(_._2).sum / 25
    val badMean = scores.filter(_._1 == 0).map(_._2).sum / 25
    assert(goodMean > badMean + 0.2,
      s"model fails to separate: good=$goodMean bad=$badMean")
    assert(scores.forall { case (_, s) => s > 0.0 && s < 1.0 })
    // fixed sample order + fixed iterations: training is bit-reproducible
    assert(QualityModel.train(docs.repartition(5), "label", "text", "doc_id")
      .sameElements(w))
    // degenerate labels fail loudly, not silently
    intercept[IllegalArgumentException](
      QualityModel.train(docs.filter(col("label") === 1), "label", "text", "doc_id"))
  }

  test("repetitionStats measures duplicate and top-token fractions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a b"), // 5 tokens, 2 distinct: dup 0.6, top 0.8
      (2L, "x y z")      // no repeats
    ).toDF("doc_id", "text")
    val got = graft.operators.Vocab.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == ((0.6, 0.8)))
    assert(got(2L) == ((0.0, math.rint(1.0 / 3 * 10000) / 10000)))
  }

  test("clusterBalancedSample caps every cluster, stays deterministic, ids ⊆ corpus") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val s1 = Sampling.clusterBalancedSample(emb, "vec_id", "embedding",
      nClusters = 4, perCluster = 10)
    val rows = s1.collect()
    val byCluster = rows.groupBy(_.getLong(1))
    assert(byCluster.values.forall(_.length <= 10),
      s"cluster over cap: ${byCluster.view.mapValues(_.length).toMap}")
    assert(byCluster.nonEmpty)
    val corpusIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet.subsetOf(corpusIds))
    // deterministic under rerun (frozen sample order + hash pick order)
    val s2 = Sampling.clusterBalancedSample(emb, "vec_id", "embedding",
      nClusters = 4, perCluster = 10).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      s2.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("mixturePlan: targets, epochs and the repeat cap, hand-computed") {
    import spark.implicits._
    // wiki has 1000 tokens, web 100000; a 50/50 split of 20000 wants
    // 10 epochs of wiki (over the 4.0 cap → capped at 4000) and a
    // 0.1-epoch skim of web; 'junk' is unlisted and must drop
    val df = Seq(
      ("wiki", 600L), ("wiki", 400L),
      ("web", 100000L), ("junk", 5L)
    ).toDF("domain", "n_tok")
    val got = Sampling.mixturePlan(df, col("domain"), "n_tok",
        weights = Map("wiki" -> 0.5, "web" -> 0.5), totalTokens = 20000)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.keySet == Set("wiki", "web"))
    assert(got("wiki") == ((1000L, 10000L, 10.0, 4000L, true)))
    assert(got("web") == ((100000L, 10000L, 0.1, 10000L, false)))
  }

  test("DSIR: target-like raw docs out-weigh off-target ones; sample favors them; deterministic") {
    import spark.implicits._
    // target vocabulary is zoological; half the raw pool speaks it
    val target = (1L to 20L).map(i => (i, "zebra yak xylophone zebra yak"))
      .toDF("doc_id", "text")
    val raw = ((100L to 139L).map(i => (i, "zebra yak xylophone yak zebra xylophone")) ++
      (200L to 239L).map(i => (i, "invoice ledger accrual invoice ledger accrual")))
      .toDF("doc_id", "text")
    val w = Sampling.dsirLogWeights(raw, target, "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.size == 80)
    val zooMin = (100L to 139L).map(w).min
    val offMax = (200L to 239L).map(w).max
    assert(zooMin > offMax,
      s"target-like docs must out-weigh off-target: min zoo $zooMin <= max off $offMax")
    // Gumbel-max selection: a k=40 draw must be dominated by zoo docs
    val picked = Sampling.dsirSample(raw, target, "doc_id", "text", k = 40, buckets = 64)
      .collect().map(_.getLong(0)).toSet
    assert(picked.size == 40)
    assert(picked.count(_ < 200L) >= 30,
      s"importance resampling must favor the target-like pool: $picked")
    // pure function of the data: rerun identical
    val again = Sampling.dsirSample(raw, target, "doc_id", "text", k = 40, buckets = 64)
      .collect().map(_.getLong(0)).toSet
    assert(picked == again)
  }

  test("per-domain DSIR: each raw doc out-weighs under its own domain; single domain == binary") {
    import spark.implicits._
    val target = ((1L to 20L).map(i => (i, "zoo", "zebra yak xylophone zebra yak")) ++
      (21L to 40L).map(i => (i, "fin", "invoice ledger accrual invoice ledger")))
      .toDF("doc_id", "domain", "text")
    val raw = ((100L to 119L).map(i => (i, "zebra yak xylophone yak zebra")) ++
      (200L to 219L).map(i => (i, "invoice ledger accrual ledger invoice")))
      .toDF("doc_id", "text")
    val w = Sampling.dsirLogWeightsByDomain(raw, target, "doc_id", "text",
        "domain", buckets = 64)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    // one row per (raw doc, domain)
    assert(w.size == 40 * 2, s"expected 80 (doc, domain) rows, got ${w.size}")
    // zoological docs score higher under the zoo target and vice versa
    (100L to 119L).foreach(i => assert(w((i, "zoo")) > w((i, "fin")),
      s"doc $i must prefer its own domain: ${w((i, "zoo"))} vs ${w((i, "fin"))}"))
    (200L to 219L).foreach(i => assert(w((i, "fin")) > w((i, "zoo"))))
    // a single-domain target reduces to the binary dsirLogWeights table
    val single = Sampling.dsirLogWeightsByDomain(raw,
        target.filter(col("domain") === "zoo"), "doc_id", "text", "domain", buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val binary = Sampling.dsirLogWeights(raw,
        target.filter(col("domain") === "zoo"), "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(single == binary,
      s"single-domain stratified weights must equal the binary table")
  }

  test("per-domain DSIR selection: k per domain, favors each domain's own docs, deterministic") {
    import spark.implicits._
    val target = ((1L to 20L).map(i => (i, "zoo", "zebra yak xylophone zebra yak")) ++
      (21L to 40L).map(i => (i, "fin", "invoice ledger accrual invoice ledger")))
      .toDF("doc_id", "domain", "text")
    val raw = ((100L to 139L).map(i => (i, "zebra yak xylophone yak zebra")) ++
      (200L to 239L).map(i => (i, "invoice ledger accrual ledger invoice")))
      .toDF("doc_id", "text")
    val picked = Sampling.dsirSampleByDomain(raw, target, "doc_id", "text",
        "domain", kPerDomain = 10, buckets = 64)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val byDomain = picked.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDomain("zoo").size == 10 && byDomain("fin").size == 10)
    // each domain's draw is dominated by its own vocabulary's docs
    assert(byDomain("zoo").count(_ < 200L) >= 8, s"zoo picks: ${byDomain("zoo")}")
    assert(byDomain("fin").count(_ >= 200L) >= 8, s"fin picks: ${byDomain("fin")}")
    // deterministic rerun
    val again = Sampling.dsirSampleByDomain(raw, target, "doc_id", "text",
        "domain", kPerDomain = 10, buckets = 64)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(picked.toSet == again)
    // salted two-phase == the plain per-domain top-k (the oracle form)
    val plain = Sampling.dsirLogWeightsByDomain(raw, target, "doc_id", "text",
        "domain", buckets = 64)
      .withColumn("__key", col("logw") -
        org.apache.spark.sql.functions.log(-org.apache.spark.sql.functions.log(
          Sampling.hashUniform(col("doc_id")))))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
          .orderBy(col("__key").desc, col("doc_id"))))
      .filter(col("__rn") <= 10)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(picked.toSet == plain,
      "salted two-phase top-k must equal the unsalted per-domain rank")
  }

  test("frozen DSIR scoring equals the online weights; empty text scores 0") {
    import spark.implicits._
    val target = (1L to 20L).map(i => (i, "zebra yak xylophone zebra yak"))
      .toDF("doc_id", "text")
    val raw = ((100L to 119L).map(i => (i, "zebra yak xylophone yak zebra")) ++
      (200L to 219L).map(i => (i, "invoice ledger accrual ledger invoice")))
      .toDF("doc_id", "text")
    val ratios = Sampling.dsirRatioTable(raw, target, "text", buckets = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val frozen = raw.select(col("doc_id"),
        Sampling.dsirScoreFrozen(ratios, col("text"), 64).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val online = Sampling.dsirLogWeights(raw, target, "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(frozen == online,
      "scan-local frozen scoring must reproduce the online join+agg weights")
    // a doc with no tokens reduces over an empty array: exactly 0.0
    val empty = Seq((999L, "")).toDF("doc_id", "text")
      .select(Sampling.dsirScoreFrozen(ratios, col("text"), 64)).collect()(0).getDouble(0)
    assert(empty == 0.0)
    // a NULL text is coerced to the empty document, not NULL (the
    // oracle's LEFT JOIN + coalesce renders 0.0 for it)
    val nul = Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(Sampling.dsirScoreFrozen(ratios, col("text"), 64)).collect()(0)
    assert(!nul.isNullAt(0) && nul.getDouble(0) == 0.0)
  }

  test("frozen by-domain scoring equals the online by-domain weights; null/empty score 0 everywhere") {
    import spark.implicits._
    val target = ((1L to 20L).map(i => (i, "news", "zebra yak xylophone zebra yak")) ++
      (21L to 40L).map(i => (i, "finance", "invoice ledger accrual ledger invoice")))
      .toDF("doc_id", "lang", "text")
    val raw = ((100L to 119L).map(i => (i, "zebra yak xylophone yak zebra")) ++
      (200L to 219L).map(i => (i, "invoice ledger accrual ledger invoice")))
      .toDF("doc_id", "text")
    val grid = Sampling.dsirDomainGrid(raw, target, "text", "lang", buckets = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val frozen = raw.select(col("doc_id"),
        explode(Sampling.dsirScoreFrozenByDomain(grid, col("text"), 64)).as("s"))
      .select(col("doc_id"), col("s.domain"), col("s.logw"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val online = Sampling.dsirLogWeightsByDomain(
        raw, target, "doc_id", "text", "lang", buckets = 64)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(frozen == online,
      "scan-local frozen by-domain scoring must reproduce the online grid join")
    // every raw doc scores against EVERY fitted domain (finance docs
    // score under news and vice versa — the mixture planner's table)
    assert(frozen.keys.map(_._2).toSet == Set("news", "finance"))
    assert(frozen.size == 40 * 2)
    // null and empty text: 0.0 against every domain, never NULL rows
    val degenerate = Seq((998L, ""), (999L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(Sampling.dsirScoreFrozenByDomain(grid, col("text"), 64)).as("s"))
      .select(col("s.logw")).collect()
    assert(degenerate.length == 4 &&
      degenerate.forall(r => !r.isNullAt(0) && r.getDouble(0) == 0.0))
  }
}

object SamplingSpec {
  /** Quality-gate edge cases, shared with the text-signal spec. */
  val FilterReasonEdges: Seq[String] = Seq(
    "",                         // empty
    "   \t\n  ",                // whitespace only
    "the \u000b and of to the", // vertical tab is Java \s whitespace
    "café naïve the of to in is on for",  // non-ASCII letters count as symbols
    "😀 the of to in is on for words here", // supplementary code point
    "the " * 600                // long doc past maxWords
  )
}
