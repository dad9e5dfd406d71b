package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.{Temporal, TextFunctions => TF}

/** Randomized-input checks (scalacheck generators) for the algorithms
  * whose correctness rests on exact cross-engine/cross-implementation
  * semantics — generated cases hunt the edges example specs miss. Each
  * property batches its cases into one Spark job so the suite stays
  * fast.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic draw: an unseeded `Gen.sample.get` gives different
    * inputs every run, so a 1-in-N edge failure is unreproducible
    * flake instead of a pinned regression. Same generators, fixed
    * seed. */
  private def draw[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))

  test("BPE: native kernel equals the replace-chain reference on random texts") {
    import spark.implicits._
    val genText = Gen.listOfN(12,
      Gen.oneOf(Gen.alphaLowerStr.map(_.take(8)), Gen.numStr.map(_.take(4)),
        Gen.const("the"), Gen.const("thing"), Gen.const("and"), Gen.const("!?;")))
      .map(_.mkString(" "))
    val texts = draw(Gen.listOfN(120, genText), 11L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    // byte-level (GPT-2) pair
    val viaChain = df.select(col("doc_id"), BpeChains.gpt2(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOperator = graft.operators.Bpe
      .tokenCounts(df, "doc_id", "text", TF.DefaultMerges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaChain == viaOperator)
    // legacy (lowercase-alnum) pair
    val legacyChain = df.select(col("doc_id"), BpeChains.legacy(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val legacyOperator = graft.operators.Bpe
      .tokenCounts(df, "doc_id", "text", TF.DefaultMerges, byteLevel = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(legacyChain == legacyOperator)
    // sanity bounds: byte-level count ≥ one per alnum word, ≤ one per
    // char of the (ASCII) text — merges only ever shrink symbol counts
    val words = texts.map { case (i, t) =>
      i -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty) }.toMap
    words.foreach { case (i, ws) =>
      assert(viaOperator(i) >= ws.length)
      assert(viaOperator(i) <= texts.toMap.apply(i).length.toLong.max(ws.map(_.length).sum))
    }
  }

  test("avgRank equals the windowed rank on random tie-heavy multisets") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // values drawn from a SMALL domain so ties dominate — the
    // tie-averaging arithmetic and the cross-partition offset stitching
    // are exactly what random multisets stress; a null sprinkled in
    // must keep a null rank
    val genVals = Gen.listOfN(300,
      Gen.frequency(9 -> Gen.choose(0, 12).map(i => Option(i * 2.5)),
        1 -> Gen.const(Option.empty[Double])))
    val vals = draw(genVals, 41L).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = vals.toDF("id", "v").repartition(7)
    val expect = df.filter(col("v").isNotNull).select(col("id"),
      (rank().over(Window.orderBy(col("v"))) +
        (count(lit(1)).over(Window.partitionBy(col("v"))) - 1) / lit(2.0)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = graft.operators.Ranks.avgRank(df, "v", "r")
      .select("id", "r").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    vals.foreach { case (id, v) =>
      if (v.isEmpty) assert(got(id).isEmpty, s"null value at $id must keep a null rank")
      else assert(got(id).contains(expect(id)),
        s"id $id value $v: got ${got(id)}, want ${expect(id)}")
    }
  }

  test("pchip on random monotone data: monotone, bounded, exact at knots") {
    import graft.functions.{Interpolation, SplineOptions}
    // Fritsch–Carlson's theorem: monotone knot values give a monotone
    // interpolant everywhere, for ANY spacing — random cases hunt the
    // spacing/plateau edges the example spec misses
    val genCase = for {
      n <- Gen.choose(3, 12)
      gaps <- Gen.listOfN(n - 1, Gen.choose(0.05, 5.0))
      steps <- Gen.listOfN(n - 1, Gen.oneOf(Gen.const(0.0), Gen.choose(0.0, 3.0)))
    } yield {
      val xs = gaps.scanLeft(0.0)(_ + _).toArray
      val ys = steps.scanLeft(1.0)(_ + _).toArray
      (xs, ys)
    }
    draw(Gen.listOfN(40, genCase), 97L).foreach { case (xs, ys) =>
      val grid = (0 to 400).map(i => xs.head + (xs.last - xs.head) * i / 400.0).toArray
      val got = Interpolation.cubicSpline(xs, ys, grid, SplineOptions(kind = "pchip"))
      got.sliding(2).foreach { case Array(a, b) =>
        assert(b >= a - 1e-9, s"monotonicity lost on xs=${xs.toSeq} ys=${ys.toSeq}") }
      assert(got.head >= ys.head - 1e-9 && got.last <= ys.last + 1e-9,
        "interpolant escaped the data range")
      val atKnots = Interpolation.cubicSpline(xs, ys, xs, SplineOptions(kind = "pchip"))
      xs.indices.foreach(i => assert(math.abs(atKnots(i) - ys(i)) < 1e-9,
        s"knot ${xs(i)} missed: ${atKnots(i)} != ${ys(i)}"))
    }
  }

  test("quantile strategies: bounded by lower/higher and exact on integral ranks") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 40)
      vs <- Gen.listOfN(n, Gen.choose(-1000, 1000).map(_.toDouble))
      p <- Gen.choose(0, 100).map(_ / 100.0)
    } yield (vs, p)
    val cases = draw(Gen.listOfN(25, gen), 12L).zipWithIndex
    val df = cases.flatMap { case ((vs, _), g) => vs.map(v => (s"g$g", v)) }.toDF("g", "v")
    val ps = cases.map { case ((_, p), g) => (s"q$g", p, g) }
    // one call computes every group's quantile under all five strategies
    def got(strategy: String): Map[Int, Double] =
      graft.operators.Quantiles.exactQuantilesStrategy(df, Seq("g"), "v",
          cases.map { case ((_, p), g) => (s"q$g", p, strategy) })
        .collect().flatMap { r =>
          val g = r.getString(0).drop(1).toInt
          // each group's own column is q<g>; others sum to 0 rows for it
          Some(g -> r.getDouble(1 + g))
        }.toMap
    val (lo, hi, near, mid, lin) =
      (got("lower"), got("higher"), got("nearest"), got("midpoint"), got("linear"))
    cases.foreach { case ((vs, p), g) =>
      val sorted = vs.sorted
      val idx = (vs.length - 1) * p
      assert(lo(g) == sorted(math.floor(idx).toInt), s"lower g$g")
      assert(hi(g) == sorted(math.ceil(idx).toInt), s"higher g$g")
      assert(lo(g) <= hi(g))
      assert(near(g) == lo(g) || near(g) == hi(g), s"nearest picks a neighbor g$g")
      assert(mid(g) == (lo(g) + hi(g)) / 2.0, s"midpoint g$g")
      assert(lin(g) >= math.min(lo(g), hi(g)) && lin(g) <= math.max(lo(g), hi(g)))
      if (idx == math.floor(idx))
        assert(Seq(hi(g), near(g), mid(g), lin(g)).forall(_ == lo(g)),
          s"integral rank must collapse every strategy g$g")
    }
  }

  test("strftime translation round-trips random dates for common formats") {
    import spark.implicits._
    val fmts = Seq("%Y-%m-%d", "%d/%m/%Y", "%Y-%m-%dT%H:%M:%S", "%b %d, %Y")
    val days = draw(Gen.listOfN(50, Gen.choose(-20000, 20000)), 13L).distinct
    val df = days.map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)))
      .map(Tuple1(_)).toDF("d")
    for (f <- Seq("%Y-%m-%d", "%d/%m/%Y", "%b %d, %Y")) {
      val bad = df.select(col("d"),
          Temporal.strToDate(Temporal.dtToString(col("d"), f), f).as("back"))
        .filter(col("d") =!= col("back")).count()
      assert(bad == 0, s"round trip failed for $f")
    }
    // timestamps: format → parse → format is a fixpoint
    val ts = days.take(20).map(d => (d.toString,
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(
        java.time.LocalDate.ofEpochDay(d.toLong), java.time.LocalTime.of(13, 7, 9)))))
      .toDF("k", "t")
    val f = "%Y-%m-%dT%H:%M:%S"
    val bad = ts.select(
        Temporal.dtToString(col("t"), f).as("s1"))
      .select(col("s1"),
        Temporal.dtToString(Temporal.strToTimestamp(col("s1"), f), f).as("s2"))
      .filter(col("s1") =!= col("s2")).count()
    assert(bad == 0)
  }

  test("mergeComponents == one-shot clustering on random arrival-split graphs") {
    import spark.implicits._
    import graft.operators.DedupCluster
    // nodes arrive in id order; history = edges fully below the cut,
    // batch = edges whose later endpoint is past it — exactly the pair
    // slices the incremental dedup indexes report
    val rng = new scala.util.Random(7)
    var trials = 0
    while (trials < 4) {
      val n = 30 + rng.nextInt(40)
      val m = 20 + rng.nextInt(60)
      val cut = n / 2
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val hist = edges.filter(e => e._1 < cut && e._2 < cut)
      val batch = edges.filter(e => math.max(e._1, e._2) >= cut)
      if (hist.nonEmpty && batch.nonEmpty) {
        trials += 1
        val labels1 = DedupCluster.connectedComponents(hist.toDF("id_a", "id_b"))
        val merged = DedupCluster.mergeComponents(labels1, batch.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val oneShot = DedupCluster.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(merged == oneShot,
          s"n=$n m=$m cut=$cut: ${(merged.toSet -- oneShot.toSet).take(3)} vs ${(oneShot.toSet -- merged.toSet).take(3)}")
      }
    }
  }

  test("tokenCounts is a homomorphism under mergeTokenCounts on random corpus splits") {
    // the streaming drift monitor's correctness rests on this:
    // counts(A ∪ B) == merge(counts(A), counts(B)) and merge is
    // associative, so ANY batching of the stream folds to the same
    // running counts
    import spark.implicits._
    import graft.operators.Vocab
    val genDoc = Gen.listOfN(8,
      Gen.oneOf("a", "b", "cc", "dd", "the", "x1")).map(_.mkString(" "))
    val docs = draw(Gen.listOfN(60, genDoc), 23L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    def m(c: org.apache.spark.sql.DataFrame) =
      c.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (cut <- Seq(0, 17, 30, 60)) {
      val a = df.filter(col("doc_id") < cut)
      val b = df.filter(col("doc_id") >= cut)
      val merged = m(Vocab.mergeTokenCounts(
        Vocab.tokenCounts(a, "text"), Vocab.tokenCounts(b, "text")))
      assert(merged == m(Vocab.tokenCounts(df, "text")), s"cut=$cut not a homomorphism")
    }
    // associativity across a 3-way split
    val (x, y, z) = (df.filter(col("doc_id") < 20),
      df.filter(col("doc_id") >= 20 && col("doc_id") < 40),
      df.filter(col("doc_id") >= 40))
    val left = m(Vocab.mergeTokenCounts(
      Vocab.mergeTokenCounts(Vocab.tokenCounts(x, "text"), Vocab.tokenCounts(y, "text")),
      Vocab.tokenCounts(z, "text")))
    val right = m(Vocab.mergeTokenCounts(Vocab.tokenCounts(x, "text"),
      Vocab.mergeTokenCounts(Vocab.tokenCounts(y, "text"), Vocab.tokenCounts(z, "text"))))
    assert(left == right, "merge must be associative")
  }

  test("canonicalUrl on random URLs: idempotent, and crawl artifacts never split a page") {
    import spark.implicits._
    // URLs assembled from independently drawn artifact dimensions; the
    // SAME logical page renders under every artifact combination
    val genScheme = Gen.oneOf("http", "HTTP", "https", "HTTPS")
    val genHost = Gen.oneOf("ex.com", "Ex.COM", "a.Ex.com", "WWW.ex.com")
    val genSegs = Gen.listOfN(2, Gen.oneOf("a", "B", "p9", "x-y")).map(_.mkString("/"))
    val genTrail = Gen.oneOf("", "/")
    val genParams = Gen.someOf("b=2", "a=1", "utm_source=x", "fbclid=z", "ref=r", "")
      .map(_.toList)
    val genFrag = Gen.oneOf("", "#f", "#sec2")
    val gen = for {
      s <- genScheme; h <- genHost; p <- genSegs
      t <- genTrail; q <- genParams; f <- genFrag
    } yield s"$s://$h/$p$t" +
      (if (q.nonEmpty) "?" + q.mkString("&") else "") + f
    val urls = draw(Gen.listOfN(300, gen), 17L).zipWithIndex.map(_.swap)
    val df = urls.toDF("i", "url")
    val once = df.select(col("i"), TF.canonicalUrl(col("url")).as("c"))
    val rows = once.withColumn("c2", TF.canonicalUrl(col("c")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    rows.foreach { case (i, c, c2) =>
      assert(c == c2, s"not idempotent on ${urls(i)._2}: $c -> $c2") }
    // pages that differ only in artifacts (scheme/host case, tracking
    // params, param order, trailing slash, fragment) must collide: the
    // canonical form is a function of (lower host, path, kept params)
    val byKey = rows.groupBy { case (i, _, _) =>
      val u = urls(i)._2
      val scheme = u.split("://")(0).toLowerCase
      val host = scheme + "|" + u.split("://")(1).split("[/?#]")(0).toLowerCase
      val path = ("/" + u.split("://")(1).split("[?#]")(0).split("/", 2)
        .lift(1).getOrElse("")).stripSuffix("/")
      val kept = u.split("[?]", 2).lift(1).getOrElse("").split("#", 2)(0)
        .split("&").filter(p => p.nonEmpty &&
          !p.matches("^(utm_[^=]*|fbclid|gclid|ref)=.*")).sorted.toList
      (host, path, kept)
    }
    byKey.foreach { case (k, grp) =>
      assert(grp.map(_._2).distinct.size == 1,
        s"artifact variants split page $k: ${grp.map(g => urls(g._1)._2 -> g._2).take(4)}")
    }
  }
}
