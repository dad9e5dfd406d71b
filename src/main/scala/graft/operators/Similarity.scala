package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{KMeans, VectorFunctions => VF}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.3).
  *
  * Brute force broadcasts the (small) query set and scans the corpus
  * once — O(|corpus| · |queries| · dim), embarrassingly parallel, no
  * corpus shuffle: the 100 TB-sane baseline when |queries| is small.
  *
  * The LSH variant buckets corpus and queries by random-hyperplane
  * signature bands and only scores within shared buckets — sublinear
  * candidate sets at the cost of recall; recall is spec-tested against
  * brute force.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. Ranking uses
    * the 6dp-rounded similarity with id tie-break, so results are
    * deterministic across partitionings. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    topKPerQuery(bruteForceScored(corpus, queries, idCol, vecCol), k)

  /** Hard-negative mining for contrastive / retrieval training: per
    * query, the top-`k` corpus vectors whose cosine falls in
    * [`lo`, `hi`) — similar enough to be informative negatives, below
    * the near-duplicate band where a "negative" is actually a positive
    * (the standard dense-retrieval recipe, cf. DPR/ANCE). Brute-force
    * base, same determinism contract as [[bruteForceTopK]] (6dp-rounded
    * sims, id tie-break); at scale feed the candidate set from
    * [[ivfTopK]] with a larger k and band-filter the result — the band
    * is a post-filter either way.
    *
    * 100 TB shape: queries broadcast, the corpus never shuffles for
    * scoring, and the band filter cuts before the per-query top-k
    * window — at a typical [0.35, 0.9) band that drops the ~zero-sim
    * bulk of the corpus ahead of the rank shuffle. */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(lo < hi, s"band [$lo, $hi) is empty")
    topKPerQuery(bruteForceScored(corpus, queries, idCol, vecCol)
      .filter(col("sim") >= lo && col("sim") < hi), k)
  }

  /** (qid, cid, sim) for every query × corpus pair but self-pairs: the
    * query side is broadcast, the corpus streams once. */
  private def bruteForceScored(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .join(broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), exactSim)

  /** Exact top-k cosine neighbors over int8-QUANTIZED vectors
    * (VectorFunctions.int8Quantize): the memory-bound recall stage —
    * 4× less data per vector moves through the scan, at a small
    * similarity error the rank order mostly absorbs. All products and
    * sums are exact integer arithmetic (only the final norm/divide is
    * float), so the scores are bit-identical on any engine — unlike
    * float-accumulated cosine, this variant is exactly
    * oracle-checkable end to end. */
  def bruteForceTopKInt8(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    def qz(d: DataFrame, id: String, v: String) =
      d.select(col(idCol).as(id), VF.int8Quantize(col(vecCol)).as(v))
    val q = qz(queries, "qid", "qv")
    val c = qz(corpus, "cid", "cv")
    // native codegen'd long dot — the per-pair scoring kernel; the HOF
    // zip_with+aggregate form pays two interpreted lambdas per element
    def idot(a: Column, b: Column): Column =
      graft.plans.VectorColumns.dotLong(a, b)
    // an exactly-zero vector quantizes to all zeros → 0/0 = NaN, and
    // NaN sorts above every double under desc: guard the denominator so
    // a zero vector scores 0 (engine-independent) instead of winning
    val denom = sqrt(idot(col("qv"), col("qv")).cast("double")) *
      sqrt(idot(col("cv"), col("cv")).cast("double"))
    val sim = when(denom > 0,
      round(idot(col("qv"), col("cv")).cast("double") / denom, 6) + lit(0.0))
      .otherwise(0.0)
    topKPerQuery(c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), sim.as("sim")), k)
  }

  /** LSH-bucketed ANN: `numPlanes` hyperplane bits split into `bands`
    * bucket keys; a corpus vector is a candidate for a query iff they
    * share at least one band bucket. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      numPlanes: Int = 24,
      bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    require(numPlanes % bands == 0)
    val bitsPerBand = numPlanes / bands
    val planes = VF.makePlanes(numPlanes, dim, seed)

    // bucket keys only — vectors stay out of the bucket shuffle; a
    // (qid, cid) pair colliding in several bands is scored once.
    def withBuckets(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
          VF.hyperplaneBits(col(vecCol), planes).as("bits"))
        .select(col(id),
          posexplode(
            transform(
              sequence(lit(0), lit(bands - 1)),
              b => concat_ws("", slice(col("bits"), b * bitsPerBand + 1, lit(bitsPerBand)))))
            .as(Seq("band", "bucket")))
        .select(col(id), col("band"), col("bucket"))

    val candidates = withBuckets(corpus, "cid")
      .join(withBuckets(queries, "qid"), Seq("band", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
      .distinct()
    exactRerank(candidates, corpus, queries, idCol, vecCol, k)
  }

  /** Exact top-k over a (qid, cid) candidate set: the candidates attach
    * to the corpus vectors by a plain equi-join on the id (the set
    * scales with |queries| × collision rate or × rerank depth, so it
    * must not be force-broadcast; AQE still broadcasts it at runtime
    * when it is genuinely small), then to the query vectors through a
    * broadcast — the query side is small by caller contract. */
  private[operators] def exactRerank(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    topKPerQuery(candidates.select(col("qid"), col("cid"))
      .join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cv")), Seq("cid"))
      .join(broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))), Seq("qid"))
      .select(col("qid"), col("cid"), exactSim), k)

  /** The exact score of every ranking in the ANN family: cosine of
    * `qv` and `cv` rounded to 6 dp, -0.0 folded to 0.0. */
  private def exactSim: Column =
    (round(graft.plans.VectorColumns.cosine(col("qv"), col("cv")), 6) + lit(0.0)).as("sim")

  /** The top-k tail of every ANN ranking: rank (qid, cid, sim) rows
    * per query by sim desc with a cid tie-break, so the result is
    * deterministic across partitionings; keeps (qid, cid, sim, rank). */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rank"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nLists` spherical
    * k-means centroids — trained on a bounded, hash-ordered sample
    * collected to the driver (TakeOrdered, no full sort) — partitions
    * the corpus into cells; each query probes its `nProbe` nearest
    * cells and scores only the vectors living there. The 100 TB shape:
    * centroids broadcast as a literal (a few KB), cell assignment is a
    * per-row column expression over the scan, candidates pair via a
    * key-equality join on the cell id, and recall/cost tunes with
    * nProbe/nLists (nLists ≈ √corpus at real scale bounds a cell scan
    * to ~√n rows). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 6,
      trainSample: Int = 2048,
      iters: Int = 10): DataFrame = {
    val (assigned, cents) = ivfBuild(corpus, idCol, vecCol, nLists, trainSample, iters)
    ivfTopKIndexed(assigned, cents, queries, idCol, vecCol, k, nProbe)
  }

  /** Train the IVF index ONCE: spherical k-means centroids from a
    * deterministic corpus sample, plus every corpus vector assigned to
    * its argmax cell. Returns (assigned = (cid, cv, cell), centroids =
    * (cell, centroid)) — BOTH plain DataFrames, so the index persists
    * as two parquet tables and [[ivfTopKIndexed]] probes it without
    * ever re-training or re-scanning the corpus. At 100 TB: write
    * `assigned` partitioned (or bucketed) by `cell` so an nProbe query
    * reads nProbe/nLists of the files; append new batches with
    * [[ivfAssign]] against the SAME stored centroids — the index grows
    * incrementally like the dedup signature indexes, and re-training is
    * an explicit, rare rebuild decision. */
  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      trainSample: Int = 2048,
      iters: Int = 10): (DataFrame, DataFrame) =
    ivfIndex(corpus, idCol, vecCol, trainingSample(corpus, idCol, vecCol, trainSample),
      nLists, iters)

  /** The one k-means training sample of the ANN family, as double
    * vectors: the first `n` rows by id hash — deterministic, and a
    * TakeOrderedAndProject (per-partition partial top-N + merge), not a
    * global sort of the corpus. */
  private[operators] def trainingSample(
      df: DataFrame, idCol: String, vecCol: String, n: Int): Array[Array[Double]] =
    df.orderBy(xxhash64(col(idCol)))
      .limit(n)
      .select(col(vecCol).cast("array<double>").as("v"))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** [[ivfBuild]] over an already collected training sample. */
  private[operators] def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      sample: Array[Array[Double]], nLists: Int, iters: Int): (DataFrame, DataFrame) = {
    val centArr = KMeans.spherical(sample, nLists, iters)
    import corpus.sparkSession.implicits._
    val centDf = centArr.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
    (ivfAssign(corpus, idCol, vecCol, centArr), centDf)
  }

  /** Assign vectors to their argmax-cosine cell against FIXED centroids
    * — the append path of a persisted IVF index: new batches join the
    * stored `assigned` table without touching historical vectors. */
  def ivfAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val cents = graft.plans.VectorColumns.matrix(centroids)
    // argmax cell only — dots computed once per row in a projection,
    // the array never leaves the stage
    df.select(col(idCol).as("cid"), col(vecCol).as("cv"),
        graft.plans.VectorColumns.cosines(col(vecCol), cents).as("__ds"))
      .select(col("cid"), col("cv"),
        (array_position(col("__ds"), array_max(col("__ds"))) - 1).as("cell"))
  }

  /** Probe a persisted IVF index: nProbe best cells per query against
    * the stored centroids (tiny — collected to the driver and inlined),
    * then one broadcast join of the probes against the assigned table.
    * The corpus side only streams; with `assigned` partitioned by cell,
    * partition pruning drops (nLists − nProbe)/nLists of it unread. */
  def ivfTopKIndexed(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 6): DataFrame = {
    // query side is small by caller contract (same as bruteForceTopK);
    // the corpus side streams through a broadcast hash join on the cell
    topKPerQuery(assigned
      .join(broadcast(ivfProbes(queries, idCol, vecCol, centroids, nProbe)), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), exactSim), k)
  }

  /** (qid, qv, cell): each query's `nProbe` best cells by cosine, ties
    * to the lower cell. The tiny centroid table is collected and sorted
    * on the driver (a Spark sort would add a shuffle and its jobs) and
    * inlined as a literal; the window runs on the small query side. */
  private[operators] def ivfProbes(queries: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    require(nProbe >= 1, "nProbe must be positive")
    val centArr = centroids.collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val nCells = centArr.length // < nLists when the train sample is tiny
    val cents = graft.plans.VectorColumns.matrix(centArr)
    val wp = Window.partitionBy(col("qid")).orderBy(col("d").desc, col("cell"))
    queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        // a NULL vector still gets nCells cells, each with a NULL score
        posexplode(coalesce(graft.plans.VectorColumns.cosines(col(vecCol), cents),
          array_repeat(lit(null).cast("double"), nCells))).as(Seq("cell", "d")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= math.min(nProbe, nCells))
      .select(col("qid"), col("qv"), col("cell").cast("long").as("cell"))
  }

  /** Embedding-space drift between two corpus slices — the
    * vector-side twin of [[Vocab.driftSummary]]: per-dimension
    * centroids of each slice, then the cosine between the two
    * centroids, the L2 centroid shift, and the mean absolute per-dim
    * shift, one summary row. A retrain/recrawl gate reads this before
    * trusting that a new embedding batch is distributionally
    * compatible with the index it is about to join.
    *
    * 100 TB shape: each slice pays ONE posexplode + dim-keyed
    * aggregation — map-side partial sums, so the shuffle carries
    * dim-sized rows per mapper (a few thousand), never the vectors;
    * the dim-keyed join and final fold are dim-sized. Nothing is
    * collected, nothing broadcast but the plan itself. */
  def embeddingDrift(old: DataFrame, cur: DataFrame, vecCol: String): DataFrame = {
    def centroid(df: DataFrame, tag: String) = df
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(avg(col("x")).as(tag))
    centroid(old, "a").join(centroid(cur, "b"), Seq("dim"))
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("a") * col("b")).as("__dot"),
        sum(col("a") * col("a")).as("__na"),
        sum(col("b") * col("b")).as("__nb"),
        sum((col("a") - col("b")) * (col("a") - col("b"))).as("__ss"),
        sum(abs(col("a") - col("b"))).as("__sa"))
      .select(col("n_dims"),
        (round(col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb"))), 4)
          + lit(0.0)).as("cos_centroids"),
        round(sqrt(col("__ss")), 4).as("l2_shift"),
        round(col("__sa") / col("n_dims"), 4).as("mean_abs_shift"))
  }
}
