package graft

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.functions.{VectorFunctions => VF}
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.t(spark, Sf, "embeddings")

  test("native CosineSim matches the HOF formulation bitwise") {
    val pairs = emb.limit(40).select(col("vec_id").as("ida"), col("embedding").as("va"))
      .crossJoin(emb.limit(40).select(col("vec_id").as("idb"), col("embedding").as("vb")))
    val bad = pairs.select(
      graft.plans.VectorColumns.cosine(col("va"), col("vb")).as("native"),
      VF.cosine(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("CosineSim generated code compiles (no silent interpreted fallback)") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // a janino compile error now fails the job
    try {
      val out = emb.limit(3)
        .select(graft.plans.VectorColumns.cosine(col("embedding"), col("embedding")))
        .collect()
      out.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
    } finally spark.conf.set(key, prev)
  }

  test("native Int8Quantize and DotLong match the HOF formulations bitwise") {
    import spark.implicits._
    // real embeddings + the edge vectors (zero, empty, negative-max)
    val edge = Seq(
      (1000001L, Array(0.0f, 0.0f, 0.0f)),
      (1000002L, Array.empty[Float]),
      (1000003L, Array(-2.0f, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    for (df <- Seq(emb.limit(100).select(col("vec_id"), col("embedding")), edge)) {
      val bad = df.select(
          graft.plans.VectorColumns.int8Quantize(col("embedding")).as("native"),
          VF.int8QuantizeHof(col("embedding")).as("hof"))
        .filter(not(col("native") <=> col("hof"))).count()
      assert(bad == 0, "quantization differs from the HOF reference")
    }
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val q = emb.limit(50).select(VF.int8Quantize(col("embedding")).as("qv"))
    val badDot = q.select(
        graft.plans.VectorColumns.dotLong(col("qv"), col("qv")).as("native"),
        hofDot(col("qv"), col("qv")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(badDot == 0)
  }

  test("native HyperplaneBits matches the HOF formulation bitwise") {
    val planes = VF.makePlanes(numPlanes = 24, dim = 64)
    val bad = emb.limit(100).select(
        graft.plans.VectorColumns.hyperplaneBits(col("embedding"), planes).as("native"),
        VF.hyperplaneBitsHof(col("embedding"), planes).as("hof"))
      .filter(not(col("native") <=> col("hof"))).count()
    assert(bad == 0)
  }

  test("Int8Quantize/DotLong generated code compiles (no interpreted fallback)") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val out = emb.limit(3)
        .select(graft.plans.VectorColumns.dotLong(
          graft.plans.VectorColumns.int8Quantize(col("embedding")),
          graft.plans.VectorColumns.int8Quantize(col("embedding"))).as("d"))
        .collect()
      out.foreach(r => assert(r.getLong(0) > 0L))
      val bits = emb.limit(3)
        .select(graft.plans.VectorColumns.hyperplaneBits(
          col("embedding"), VF.makePlanes(8, 64)).as("b"))
        .collect()
      bits.foreach(r => assert(r.getSeq[Int](0).length == 8))
    } finally spark.conf.set(key, prev)
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val c = df.select(VF.cosine(col("v"), col("v"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("brute force top-k: k rows per query, descending sims, self excluded") {
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 3).collect()
    assert(out.length == 5 * 3)
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
      assert(!rows.exists(_.getLong(1) == qid))
    }
  }

  test("hardNegatives: band respected, dup and orthogonal vectors excluded, deterministic") {
    import spark.implicits._
    val r = 0.7071067811865476 // 1/sqrt(2)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),          // the query
      (2L, Array(1.0f, 0.0f)),          // exact dup: cos 1 — above hi
      (3L, Array(r.toFloat, r.toFloat)), // cos ~0.707 — in band
      (4L, Array(0.9f, 0.05f)),          // cos ~0.998 — above hi
      (5L, Array(0.0f, 1.0f)),           // cos 0 — below lo
      (6L, Array(-1.0f, 0.0f))           // cos -1 — below lo
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 5, lo = 0.3, hi = 0.95).collect()
    assert(out.map(_.getLong(1)).toSet == Set(3L),
      s"only the in-band vector is a hard negative: ${out.mkString(",")}")
    assert(out.head.getDouble(2) >= 0.3 && out.head.getDouble(2) < 0.95)
    // on real embeddings: every hard negative is in band and appears in
    // the un-banded brute-force ranking of the same query
    val queries = emb.filter(col("vec_id") < 5)
    val neg = Similarity.hardNegatives(emb, queries, "vec_id", "embedding",
      k = 3, lo = 0.1, hi = 0.9).collect()
    assert(neg.forall(r0 => r0.getDouble(2) >= 0.1 && r0.getDouble(2) < 0.9))
    val all = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 1000)
      .select("qid", "cid").collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(neg.map(r0 => (r0.getLong(0), r0.getLong(1))).toSet.subsetOf(all))
  }

  private def lshRecall(numPlanes: Int, bands: Int): Double = {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5, dim = 64,
        numPlanes = numPlanes, bands = bands)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (exact & approx).size.toDouble / exact.size
  }

  test("lsh recall at default settings is >= 0.6") {
    val recall = lshRecall(numPlanes = 24, bands = 8)
    assert(recall >= 0.6, s"recall $recall")
  }

  test("lsh recall tradeoff: wider bands (fewer probes) trade recall for candidates") {
    // 4 bits/band × 4 bands probes far fewer buckets than the default
    // 3 bits/band × 8 bands — recall drops but must stay non-trivial.
    val recall = lshRecall(numPlanes = 16, bands = 4)
    assert(recall >= 0.3, s"recall $recall")
  }

  test("ivf recall at default settings is >= 0.6; probing all cells is exact") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf recall $recall")
    // nProbe = nLists degenerates to exact search: every cell is scanned
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nLists = 8, nProbe = 8)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "probing every cell must reproduce brute force")
  }

  test("persisted IVF index round-trips and probes equal the in-memory path") {
    val queries = emb.filter(col("vec_id") < 20)
    val (assigned, cents) = Similarity.ivfBuild(emb, "vec_id", "embedding")
    // the production shape: index written as two parquet tables
    // (assigned partitioned by cell for probe-side pruning) and read back
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet("/tmp/graft_ivf_assigned")
    cents.write.mode("overwrite").parquet("/tmp/graft_ivf_cents")
    val idxAssigned = spark.read.parquet("/tmp/graft_ivf_assigned")
    val idxCents = spark.read.parquet("/tmp/graft_ivf_cents")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val indexed = asSet(Similarity.ivfTopKIndexed(
      idxAssigned, idxCents, queries, "vec_id", "embedding", k = 5))
    val adHoc = asSet(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5))
    assert(indexed == adHoc,
      "probing the persisted index must equal the train-and-query path")
  }

  test("ivfAssign appends a batch against stored centroids == one-shot assignment") {
    val b1 = emb.filter(col("vec_id") < 250)
    val b2 = emb.filter(col("vec_id") >= 250)
    // centroids trained on the FIRST batch only, then frozen
    val (assigned1, cents) = Similarity.ivfBuild(b1, "vec_id", "embedding")
    val centArr = cents.orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
    val incremental = assigned1.unionByName(
        Similarity.ivfAssign(b2, "vec_id", "embedding", centArr))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val oneShot = Similarity.ivfAssign(emb, "vec_id", "embedding", centArr)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(incremental == oneShot,
      "appending against frozen centroids must equal assigning the full corpus")
  }

  test("cosinePairsLsh returns a subset of the exact pairs with identical scores") {
    import graft.operators.Dedup
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = asSet(Dedup.cosinePairsExact(emb, "vec_id", "embedding", 0.4))
    val lsh = asSet(Dedup.cosinePairsLsh(emb, "vec_id", "embedding", 0.4, dim = 64))
    // an explicit width past the vector end is rejected instead of
    // degenerating to all-pairs (auto mode clamps to dim/bands instead)
    assertThrows[IllegalArgumentException](
      Dedup.cosinePairsLsh(emb, "vec_id", "embedding", 0.4, dim = 8, bitsPerBand = 4))
    assert(lsh.nonEmpty, "LSH path found no pairs at all")
    assert(lsh.subsetOf(exact), s"LSH emitted pairs the exact path lacks: ${lsh -- exact}")
  }

  test("auto band width derivation is integer-exact and clamped") {
    import graft.operators.Dedup.autoBitsPerBand
    assert(autoBitsPerBand(2000, 64, 16) == 5)   // ceil(2000/64)=32 -> bitLength(31)=5
    assert(autoBitsPerBand(2048, 64, 16) == 5)   // exact power boundary: 32 buckets still 5 bits
    assert(autoBitsPerBand(2049, 64, 16) == 6)   // one past -> 33 buckets -> 6 bits
    assert(autoBitsPerBand(30, 64, 16) == 1)     // tiny corpus clamps up to 1 bit
    assert(autoBitsPerBand(100000000L, 64, 16) == 16) // clamps down to dim/bands
    // dim < bands would derive a 0-bit band (one empty bucket = all
    // pairs); auto mode must reject it as loudly as the explicit path
    assertThrows[IllegalArgumentException](
      graft.operators.Dedup.cosinePairsLsh(emb, "vec_id", "embedding", 0.4,
        dim = 3, bands = 4))
  }

  test("auto band width keeps LSH candidate volume ~linear when n doubles") {
    // deterministic pseudo-random corpus: sign pattern from xxhash64 of
    // (id, coordinate) — uncorrelated vectors, the worst case for a
    // fixed band width (candidates ~ n²/2^bits). Auto derivation adds a
    // bit when n doubles, so candidate volume should ~double, not 4×.
    def corpus(n: Int) = {
      import org.apache.spark.sql.functions._
      spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (xxhash64(col("id"), d) % 1000).cast("float") / 500.0f).as("embedding"))
    }
    def candidates(n: Int): Long =
      graft.operators.Dedup
        .lshBucketStats(corpus(n), "vec_id", "embedding", dim = 64)
        .agg(org.apache.spark.sql.functions.sum("candidate_pairs")).head().getLong(0)
    val c2k = candidates(2000)
    val c4k = candidates(4000)
    assert(c2k > 0, "no candidates at n=2000")
    assert(c4k <= 3 * c2k,
      s"candidate volume grew superlinearly: $c2k -> $c4k (fixed-width would be ~4x)")
  }

  test("lshBucketStats surfaces the dropped-bucket fraction under a tight cap") {
    import org.apache.spark.sql.functions._
    // 100 copies of one vector collide in every band bucket; a cap of 10
    // drops them all and the stats must say so
    val dupes = spark.range(100).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => lit(1.0f)).as("embedding"))
    val stats = graft.operators.Dedup
      .lshBucketStats(dupes, "vec_id", "embedding", dim = 64, maxBucketSize = 10)
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      assert(r.getAs[Long]("dropped_rows") == 100L)
      assert(r.getAs[Double]("dropped_fraction") == 1.0)
      assert(r.getAs[Long]("candidate_pairs") == 0L)
    }
  }

  test("semanticPairs recall on planted duplicates is >= 0.6 and scores match exact") {
    import graft.operators.Dedup
    import spark.implicits._
    // scaled copies: cosine-identical, and cell assignment is
    // scale-invariant, so planted dups always share a cell
    val data = emb.limit(200).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val corpus = (data ++ data.map { case (id, v) => (id + 1000000L, v.map(_ * 1.001f)) })
      .toSeq.toDF("vec_id", "embedding")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = asSet(Dedup.cosinePairsExact(corpus, "vec_id", "embedding", 0.95))
    val sem = asSet(Dedup.semanticPairs(corpus, "vec_id", "embedding", 0.95, nClusters = 8))
    assert(exact.size >= 200, "planted duplicates missing from the exact oracle")
    assert(sem.subsetOf(exact), s"semantic pairs not in exact set: ${sem -- exact}")
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.6, s"semantic recall $recall")
    // prune step: exactly the pair losers (id_b side) are dropped
    val losers = Dedup.semanticPairs(corpus, "vec_id", "embedding", 0.95, nClusters = 8)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val kept = Dedup.semanticDedup(corpus, "vec_id", "embedding", 0.95, nClusters = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == corpus.select("vec_id").collect().map(_.getLong(0)).toSet -- losers)
  }

  test("PCA recovers the dominant axis; whitening normalizes variance") {
    import spark.implicits._
    import graft.operators.Pca
    // deterministic 8-d cloud: dominant axis u = (0.6, 0.8, 0...) with
    // spread ~10, orthogonal axis w = (-0.8, 0.6, 0...) with spread
    // ~0.5 — no RNG, trig phases decorrelate the two coordinates
    val d = 8
    val rows = (0 until 200).map { i =>
      val a = math.sin(i * 0.37) * 10.0
      val b = math.cos(i * 1.31) * 0.5
      val v = Array.tabulate(d)(j =>
        if (j == 0) 0.6 * a - 0.8 * b
        else if (j == 1) 0.8 * a + 0.6 * b
        else 0.0)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding", k = 2)
    // axis recovery: first component aligned with u up to sign
    val align = math.abs(m.components(0)(0) * 0.6 + m.components(0)(1) * 0.8)
    assert(align > 0.999, s"first PC must recover the dominant axis: $align")
    assert(m.eigenvalues(0) > m.eigenvalues(1) && m.eigenvalues(1) > 0,
      "eigenvalues sorted descending, top-2 positive")
    // orthonormal components
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    assert(math.abs(dot(m.components(0), m.components(0)) - 1.0) < 1e-9)
    assert(math.abs(dot(m.components(0), m.components(1))) < 1e-9)
    // whitening: each retained axis has ~unit population variance
    val proj = Pca.transform(df, "embedding", m, "p", whiten = true)
      .select("p").collect().map(_.getSeq[Double](0).toArray)
    (0 until 2).foreach { j =>
      val xs = proj.map(_(j))
      val mu = xs.sum / xs.length
      val vr = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
      assert(math.abs(vr - 1.0) < 0.01, s"whitened axis $j variance $vr")
    }
    // k=d projection is an isometry: pairwise distance preserved
    val full = Pca.fit(df, "embedding", k = d)
    val pf = Pca.transform(df, "embedding", full, "p")
      .orderBy("vec_id").select("p").limit(2).collect()
      .map(_.getSeq[Double](0).toArray)
    val orig = rows.take(2).map(_._2.toArray)
    def dist(x: Array[Double], y: Array[Double]) =
      math.sqrt(x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum)
    assert(math.abs(dist(pf(0), pf(1)) - dist(orig(0), orig(1))) < 1e-9,
      "full-rank projection must preserve distances")
    // loud failures: too few rows, bad k
    intercept[IllegalArgumentException](Pca.fit(df.limit(1), "embedding", 1))
    intercept[IllegalArgumentException](Pca.fit(df, "embedding", d + 1))
  }

  test("PCA model persists round-trip; reloaded transform is bit-equal") {
    import graft.operators.Pca
    val model = Pca.fit(emb, "embedding", k = 8)
    val back = Pca.modelFrom(Pca.modelDf(spark, model))
    assert(back.mean.sameElements(model.mean))
    assert(back.eigenvalues.sameElements(model.eigenvalues))
    assert(back.components.length == model.components.length)
    back.components.zip(model.components).foreach { case (a, b) =>
      assert(a.sameElements(b))
    }
    // the projection of a reloaded model is bit-equal to the original's
    def proj(m: Pca.PcaModel) =
      Pca.transform(emb, "embedding", m, "p", whiten = true)
        .orderBy("vec_id").select("p").collect().map(_.getSeq[Double](0))
    assert(proj(model).zip(proj(back)).forall { case (a, b) => a == b })
    // malformed tables fail loudly, not silently
    intercept[IllegalArgumentException](
      Pca.modelFrom(Pca.modelDf(spark, model).filter(col("kind") =!= "mean")))
  }

  test("pq ADC recall >= 0.6 vs brute force; exact rerank only improves it") {
    import graft.operators.Pq
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Pq.pqTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & adc).size.toDouble / exact.size
    assert(recall >= 0.6, s"pq ADC recall $recall")
    val rr = Pq.pqTopK(emb, queries, "vec_id", "embedding", k = 5, rerank = 50)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (exact & rr).size.toDouble / exact.size
    assert(rrRecall >= recall, s"rerank recall $rrRecall < ADC recall $recall")
    assert(rrRecall >= 0.8, s"reranked recall $rrRecall")
  }

  test("pq codebook persists round-trip; frozen-codebook encode is deterministic") {
    import graft.operators.Pq
    val cb = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val back = Pq.codebooksFrom(Pq.codebookDf(spark, cb))
    assert(back.length == cb.length)
    cb.zip(back).foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    // same codebook → bit-identical codes (the incremental-append
    // contract: a new batch encodes against the frozen codebook)
    val c1 = Pq.encode(emb, "vec_id", "embedding", cb)
      .orderBy("cid").collect().map(_.getSeq[Int](1))
    val c2 = Pq.encode(emb, "vec_id", "embedding", back)
      .orderBy("cid").collect().map(_.getSeq[Int](1))
    assert(c1.zip(c2).forall { case (a, b) => a == b })
    assert(c1.forall(codes => codes.length == 8 && codes.forall(c => c >= 0 && c < 16)))
  }

  test("ivf-pq: probing all cells with rerank matches plain pq rerank recall") {
    import graft.operators.Pq
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe every cell → the cell pruning drops nothing, so composed
    // IVF-PQ degenerates to PQ and reranked recall must stay high
    val all = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
      nLists = 4, nProbe = 4, rerank = 50)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allRecall = (exact & all).size.toDouble / exact.size
    assert(allRecall >= 0.8, s"ivf-pq full-probe recall $allRecall")
    // partial probing trades recall for touched cells but stays useful
    val part = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 4, rerank = 50)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val partRecall = (exact & part).size.toDouble / exact.size
    assert(partRecall >= 0.5, s"ivf-pq partial-probe recall $partRecall")
    // contract shape: k rows per query, self excluded
    val out = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 3,
      nLists = 4, nProbe = 2)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 3))
    assert(out.filter(col("qid") === col("cid")).count() == 0)
  }

  test("both IVF probe entry points reject nProbe = 0") {
    import graft.operators.Pq
    val queries = emb.filter(col("vec_id") < 5)
    val (assigned, cents) = Similarity.ivfBuild(emb, "vec_id", "embedding",
      nLists = 4, trainSample = 256, iters = 2)
    intercept[IllegalArgumentException](Similarity.ivfTopKIndexed(
      assigned, cents, queries, "vec_id", "embedding", k = 3, nProbe = 0))
    intercept[IllegalArgumentException](Pq.ivfPqTopK(
      emb, queries, "vec_id", "embedding", k = 3, nLists = 4, nProbe = 0,
      ksub = 4, trainSample = 256, iters = 2))
  }

  test("a NULL query vector still probes nProbe cells, each scored NULL") {
    val (assigned, cents) = Similarity.ivfBuild(emb, "vec_id", "embedding",
      nLists = 4, trainSample = 256, iters = 2)
    val nullQuery = emb.filter(col("vec_id") === 0).select(lit(-1L).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding"))
    val out = Similarity.ivfTopKIndexed(assigned, cents, nullQuery, "vec_id", "embedding",
      k = 3, nProbe = 2).collect()
    assert(out.length == 3 && out.forall(r => r.getLong(0) == -1L && r.isNullAt(2)),
      out.mkString(", "))
  }

  test("IVF builds launch only training jobs: the sample collect, plus one PQ job") {
    // the PQ sub-codebooks train in one job, one task per subspace
    val sc = spark.sparkContext
    val expected = Map("q_ann_ivf" -> 1, "q_ann_ivf_exact" -> 1, "q_ann_ivf_pq" -> 2)
    val names = expected.keys.toSeq.sorted
    Tables.t(spark, Sf, "embeddings") // warm: the schema is inferred once per session
    for (q <- names) {
      sc.setJobGroup(s"ivf_build_$q", s"build $q")
      try SparkEntry.queries(q)(spark, Sf) finally sc.clearJobGroup()
    }
    // the status tracker fills from the listener bus in event order:
    // once a later control job shows up, every build job is listed
    sc.setJobGroup("ivf_build_control", "control job")
    try spark.range(1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds)) {
      assert(sc.statusTracker.getJobIdsForGroup("ivf_build_control").nonEmpty)
    }
    val jobs = names.map(q => q -> sc.statusTracker.getJobIdsForGroup(s"ivf_build_$q").length)
    assert(jobs.toMap == expected, s"eager jobs per build: $jobs")
  }

  test("rows-only ANN queries do not depend on the shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def rows(parts: Int) = {
      spark.conf.set(key, parts.toString)
      Seq("q_ann_ivf", "q_ann_ivf_pq", "q_ann_pq", "q_dedup_semantic", "q_mixture_cluster")
        .map(q => q -> SparkEntry.queries(q)(spark, Sf).collect().map(_.toSeq).toSet).toMap
    }
    val (one, seven) = try (rows(1), rows(7)) finally spark.conf.set(key, prev)
    for ((q, r) <- one) {
      assert(r.nonEmpty, s"$q returned no rows")
      assert(r == seven(q), s"$q differs across partition counts: " +
        s"${(r diff seven(q)).take(3)} vs ${(seven(q) diff r).take(3)}")
    }
  }

  test("recallEstimate reports the true sampled ADC recall, deterministically") {
    import graft.operators.{Pq, Similarity}
    val corpus = emb.select(col("vec_id"), col("embedding")).limit(200)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, ksub = 16,
      trainSample = 256, iters = 4)
    val enc = Pq.encode(corpus, "vec_id", "embedding", cb)
    val est = Pq.recallEstimate(corpus, enc, cb, "vec_id", "embedding",
      k = 5, nQueries = 12)
    val rows = est.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == 12, s"one row per probe, got ${rows.length}")
    // ground truth by hand: same probe set (first 12 by md5 of id),
    // brute-force vs ADC overlap collected and intersected driver-side
    val probes = corpus
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(12)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(corpus, probes, "vec_id", "embedding", 5))
    val adc = topSets(Pq.adcTopK(enc, probes, "vec_id", "embedding", cb, 5, corpus))
    rows.foreach { case (qid, hits, k, recall) =>
      val want = (exact.getOrElse(qid, Set.empty) & adc.getOrElse(qid, Set.empty)).size
      assert(k == 5 && hits == want.toLong,
        s"probe $qid: reported $hits hits, hand count $want")
      assert(math.abs(recall - want / 5.0) < 1e-9)
    }
    // the probe set is pinned by the md5 order: a second measurement
    // sees the same probes, so successive health checks are comparable
    val again = Pq.recallEstimate(corpus, enc, cb, "vec_id", "embedding",
      k = 5, nQueries = 12).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == rows.map(r => (r._1, r._2)).toSet)
  }

  test("decontaminateSemantic flags planted benchmark copies with exact scores") {
    // plant exact copies of benchmark vectors in the corpus: identical
    // signs collide in every band, so recall on true copies is 1
    val bench = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") >= 10 && col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
      .unionByName(bench.select((col("vec_id") + 500000L).as("vec_id"), col("embedding")))
    val flagged = graft.operators.Dedup.decontaminateSemantic(
        corpus, bench, "vec_id", "embedding", threshold = 0.99, dim = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until 10L).foreach { i =>
      val (bid, sim) = flagged.getOrElse(500000L + i,
        fail(s"planted copy of benchmark $i not flagged"))
      assert(bid == i && sim == 1.0, s"copy $i matched ($bid, $sim)")
    }
    // one row per flagged id (the per-id max absorbed band duplicates)
    assert(flagged.size == flagged.keys.toSet.size)
    // threshold gates: nothing below it sneaks through
    val all = graft.operators.Dedup.decontaminateSemantic(
      corpus, bench, "vec_id", "embedding", threshold = 0.4, dim = 64)
    assert(all.filter(col("sim") < 0.4).count() == 0)
  }

  test("recallBanding sizes bands to the threshold's sign-agreement probability") {
    // closed-form checks: p = 1 - acos(t)/pi, widest b whose
    // L = ceil(ln(1-R)/ln(1-p^b)) fits L*b <= dim
    assert(graft.operators.Dedup.recallBanding(64, 0.4, 0.9) == (4, 14))
    assert(graft.operators.Dedup.recallBanding(64, 0.8, 0.9) == (6, 8))
    // exact copies agree on every coordinate: one band of full width suffices
    assert(graft.operators.Dedup.recallBanding(64, 1.0, 0.9) == (64, 1))
    // the shape always fits the coordinate budget
    for (t <- Seq(0.2, 0.4, 0.6, 0.8, 0.95); d <- Seq(16, 64, 256)) {
      val (b, l) = graft.operators.Dedup.recallBanding(d, t, 0.9)
      assert(b >= 1 && l >= 1 && b * l <= d, s"($b,$l) for t=$t dim=$d")
    }
  }

  test("decontaminateSemantic catches paraphrase-level near-duplicates, not just copies") {
    // plant NON-exact near-dups at a controlled cosine: rotate each
    // benchmark vector by a fixed angle inside span(v, w) where w is
    // another corpus vector orthogonalized against v — the planted
    // pair's cosine is exactly cos(theta), deterministic, no RNG.
    // With threshold 0.4 the recall-oriented defaults must catch
    // pairs at cosine ~0.55; the old economy sizing (bands=4, 64-row
    // buckets) collides on such pairs with probability well under 1%.
    val sess = spark
    import sess.implicits._
    val benchRows = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val noiseRows = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val cosTheta = 0.55
    val sinTheta = math.sqrt(1 - cosTheta * cosTheta)
    val planted = benchRows.zip(noiseRows).map { case ((id, vF), wF) =>
      val v = normalize(vF.map(_.toDouble))
      val w = wF.map(_.toDouble)
      val proj = v.zip(w).map { case (a, b) => a * b }.sum
      val wPerp = normalize(w.zip(v).map { case (b, a) => b - proj * a })
      val u = v.zip(wPerp).map { case (a, b) => cosTheta * a + sinTheta * b }
      (id + 700000L, u.map(_.toFloat))
    }
    val corpus = emb.filter(col("vec_id") >= 40 && col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted.toSeq.toDF("vec_id", "embedding"))
    val bench = emb.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding"))
    val flagged = graft.operators.Dedup.decontaminateSemantic(
        corpus, bench, "vec_id", "embedding", threshold = 0.4, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val caught = benchRows.map(_._1).count(i => flagged.get(700000L + i).contains(i))
    // expected any-band collision at cosine 0.55 under (b=4, L=14) is
    // ~0.95 per pair; >= 14/20 leaves slack for coordinate-vs-random
    // hyperplane deviation on real data while still being unreachable
    // by the old economy defaults (expected ~0 of 20)
    assert(caught >= 14, s"near-dup recall $caught/20 — banding misses paraphrases")
  }

  test("cosinePairsLsh always surfaces an identical-vector duplicate") {
    // an exact copy shares every sign pattern, so it collides in every
    // band — LSH recall on true duplicates is 1 by construction
    val base = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding"))
    val dup = base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val pairs = graft.operators.Dedup
      .cosinePairsLsh(base.unionByName(dup), "vec_id", "embedding", 0.99, dim = 64)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1000000L
      && r.getDouble(2) == 1.0))
  }
}
