package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{KMeans, VectorFunctions => VF}

/** Product quantization for embedding ANN (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search") — the compression stage
  * between int8 (4×) and nothing: m sub-codebooks of `ksub` centroids
  * turn a d-float vector into m small codes (~32× at m=8/ksub=256 over
  * 64 floats), and asymmetric-distance (ADC) top-k scores corpus codes
  * against a per-query lookup table without reconstructing vectors.
  *
  * 100 TB shape, same contract as the IVF index (Similarity.ivfBuild):
  *
  *  - '''training''' is a bounded deterministic k-means per subspace
  *    over the IVF index's hash-ordered TakeOrdered sample
  *    (Similarity.trainingSample), one task per subspace in one Spark
  *    job over the broadcast sample — never a corpus scan per
  *    iteration;
  *  - '''encode''' is a per-partition kernel against the codebook as a
  *    BROADCAST VARIABLE (m·ksub·(d/m) doubles ≈ 100 KB): one tight
  *    argmin loop per subspace, the float vectors never shuffle, the
  *    m-int codes do. (A Column-HOF formulation was rejected: the
  *    codebook would ride the plan as a repeated giant literal —
  *    optimizer passes over that tree take longer than the job.)
  *  - '''ADC scoring''': each query row expands to its m × ksub
  *    inner-product lookup table (query side small by caller
  *    contract), corpus codes stream through ONE broadcast join, and
  *    the per-pair score is a cheap zip of (code, LUT row) sums;
  *  - '''persistence''': the codebook round-trips through a plain
  *    (sub, code, centroid) DataFrame like the IVF centroid table, so
  *    a standing corpus encodes ONCE and new batches append with the
  *    frozen codebook.
  *
  * Vectors are unit-normalized before training/encode, so the ADC
  * inner product approximates cosine and rankings compare directly
  * with Similarity.bruteForceTopK (recall spec-pinned vs brute force).
  */
object Pq {

  private def toUnitDouble(v: Seq[Any]): Array[Double] = {
    val arr = new Array[Double](v.length)
    var i = 0
    var s = 0.0
    while (i < arr.length) {
      val x = v(i) match {
        case f: Float  => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue
      }
      arr(i) = x
      s += x * x
      i += 1
    }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < arr.length) { arr(i) /= n; i += 1 } }
    arr
  }

  /** Train m sub-codebooks of `ksub` centroids each on a bounded,
    * deterministic sample (Similarity.trainingSample). Requires
    * dim % m == 0 (loud). */
  def train(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 256,
      trainSample: Int = 2048,
      iters: Int = 10): Array[Array[Array[Double]]] =
    trainOn(corpus.sparkSession,
      Similarity.trainingSample(corpus, idCol, vecCol, trainSample), m, ksub, iters)

  /** [[train]] over an already collected sample: ONE Spark job with one
    * task per subspace over the broadcast sample, so the m independent
    * k-means runs use every core instead of one driver thread. Each
    * task runs the same deterministic [[KMeans.euclidean]] on the same
    * slice as a driver loop would, so the codebooks are bit-identical
    * to it. */
  private def trainOn(spark: SparkSession, sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, "need m >= 1 subspaces and ksub >= 2 codes")
    require(sample.nonEmpty, "empty training sample")
    val unit = sample.map(v => toUnitDouble(v.toSeq))
    val dim = unit.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val sc = spark.sparkContext
    val bc = sc.broadcast(unit)
    // collect() returns the tasks' results in partition order: subspace s
    sc.parallelize(0 until m, m).map { s =>
      val sub = bc.value.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      KMeans.euclidean(sub, ksub, iters)
    }.collect()
  }

  /** The codebook as a (sub, code, centroid) DataFrame for parquet
    * persistence; [[codebooksFrom]] reads it back bit-identically. */
  def codebookDf(spark: SparkSession, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, k) => (s, k, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
  }

  /** Read a persisted codebook back into the nested-array form. Bounded
    * by construction (m · ksub rows), ordered (sub, code). */
  def codebooksFrom(df: DataFrame, maxRows: Int = 65536): Array[Array[Array[Double]]] = {
    val rows = df.select(col("sub"), col("code"), col("centroid"))
      .orderBy(col("sub"), col("code"))
      .limit(maxRows + 1)
      .collect()
    require(rows.length <= maxRows,
      s"codebook exceeds maxRows=$maxRows — is this really a PQ codebook table?")
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }
  }

  /** Encode: (cid, codes) with codes = array<int> of length m, each the
    * argmin-L2 code of its subspace against the broadcast codebook.
    * Partition-local kernel — nothing shuffles, nothing collects;
    * ties break to the lowest code id (deterministic on any cluster).
    */
  def encode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      keep: Seq[String] = Nil): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val bc = df.sparkSession.sparkContext.broadcast(codebooks)
    val outSchema = StructType(
      StructField("cid", df.schema(idCol).dataType) +:
        StructField("codes", ArrayType(IntegerType, containsNull = false)) +:
        keep.map(c => df.schema(df.schema.fieldIndex(c))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    val vecIdx = df.schema.fieldIndex(vecCol)
    val keepIdx = keep.map(df.schema.fieldIndex).toArray
    df.mapPartitions { rows =>
      val cbs = bc.value
      rows.map { r =>
        val v = toUnitDouble(r.getSeq[Any](vecIdx))
        require(v.length == m * dsub,
          s"vector dim ${v.length} != codebook dim ${m * dsub}")
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          val cb = cbs(s)
          val off = s * dsub
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cb.length) {
            val cent = cb(c)
            var d = 0.0
            var j = 0
            while (j < dsub) { val t = v(off + j) - cent(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = best
          s += 1
        }
        Row(r.get(idIdx) +: codes.toSeq +: keepIdx.map(r.get).toSeq: _*)
      }
    }(enc)
  }

  /** Per-query ADC lookup tables: (qid, lut) with lut[s][c] =
    * <query_sub_s, centroid_{s,c}> — inner products of unit vectors, so
    * summing one entry per subspace approximates the query·corpus
    * cosine. Query side is small by caller contract. */
  private def lutDf(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val bc = queries.sparkSession.sparkContext.broadcast(codebooks)
    val outSchema = StructType(Seq(
      StructField("qid", queries.schema(idCol).dataType),
      StructField("lut", ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = queries.schema.fieldIndex(idCol)
    val vecIdx = queries.schema.fieldIndex(vecCol)
    queries.mapPartitions { rows =>
      val cbs = bc.value
      rows.map { r =>
        val v = toUnitDouble(r.getSeq[Any](vecIdx))
        require(v.length == m * dsub,
          s"query dim ${v.length} != codebook dim ${m * dsub}")
        val lut = Array.tabulate(m) { s =>
          val cb = cbs(s)
          val off = s * dsub
          cb.map { cent =>
            var d = 0.0
            var j = 0
            while (j < dsub) { d += v(off + j) * cent(j); j += 1 }
            d
          }.toSeq
        }.toSeq
        Row(r.get(idIdx), lut)
      }
    }(enc)
  }

  /** ADC top-k: corpus codes stream through ONE broadcast join against
    * the per-query LUTs; the per-pair score is a zip of (code, LUT row)
    * lookups — m additions, no vector math. Set `rerank > 0` to
    * re-score that many ADC candidates per query with exact cosine
    * against the float vectors of `corpus` (one extra id-equality
    * join) — the standard recall-recovery stage. */
  def adcTopK(
      encoded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      corpus: DataFrame,
      rerank: Int = 0): DataFrame =
    adcRanked(
      encoded.join(broadcast(lutDf(queries, idCol, vecCol, codebooks)),
        col("qid") =!= col("cid")),
      corpus, queries, idCol, vecCol, k, rerank)

  /** The ADC tail of [[adcTopK]] and [[ivfPqTopK]]: score (qid, cid,
    * codes, lut) pair rows by m LUT lookups, keep the top k per query
    * — or, with `rerank > 0`, the top max(rerank, k) re-scored with
    * exact cosine against `corpus` (the candidate set scales with
    * |queries| · rerank, so the big corpus joins it by id). */
  private def adcRanked(pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int): DataFrame = {
    val adc = Similarity.topKPerQuery(
      pairs.select(col("qid"), col("cid"),
        round(aggregate(
          zip_with(col("codes"), col("lut"), (code, row) => element_at(row, code + 1)),
          lit(0.0), (a, d) => a + d), 6).as("sim")),
      if (rerank > 0) math.max(rerank, k) else k)
    if (rerank <= 0) adc
    else Similarity.exactRerank(adc, corpus, queries, idCol, vecCol, k)
  }

  /** IVF-PQ: the composed 100 TB ANN shape — the IVF coarse quantizer
    * prunes the corpus to nProbe cells per query, and PQ/ADC scores
    * only the surviving codes. Both indexes persist (cell-assigned
    * table + centroid table + codebook table), so a standing corpus
    * pays assignment + encode ONCE and queries touch
    * ~nProbe/nLists of the codes — never a float vector. The IVF cells
    * and the PQ sub-codebooks train on ONE collected sample. With
    * `rerank > 0` the ADC survivors re-score exactly against the float
    * corpus by id-equality join (the candidate set scales with
    * |queries| · rerank, not the corpus).
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 6,
      m: Int = 8,
      ksub: Int = 256,
      rerank: Int = 0,
      trainSample: Int = 2048,
      iters: Int = 10): DataFrame = {
    val sample = Similarity.trainingSample(corpus, idCol, vecCol, trainSample)
    val (assigned, centroids) = Similarity.ivfIndex(corpus, idCol, vecCol, sample, nLists, iters)
    val probes = Similarity.ivfProbes(queries, idCol, vecCol, centroids, nProbe)
    val cb = trainOn(corpus.sparkSession, sample, m, ksub, iters)
    // codes keyed by IVF cell in ONE encode pass — the cell id rides
    // the kernel as a passthrough column, no join back to `assigned`
    val encoded = encode(assigned, "cid", "cv", cb, keep = Seq("cell"))
    // per-query probes (nProbe best cells) + the ADC lookup table,
    // both on the small query side
    val probesWithLut = probes.join(lutDf(queries, idCol, vecCol, cb), Seq("qid"))
      .select(col("qid"), col("cell"), col("lut"))
    // corpus codes stream through ONE broadcast join on the cell id;
    // the per-pair score is m LUT additions
    adcRanked(
      encoded.join(broadcast(probesWithLut), Seq("cell")).filter(col("qid") =!= col("cid")),
      corpus, queries, idCol, vecCol, k, rerank)
  }

  /** Index health metric: sampled-recall estimate of a STANDING PQ
    * index (persisted encoded table + codebook) without a rebuild —
    * the ANN-family analog of lshBucketStats. As a corpus drifts away
    * from the distribution the codebook was trained on, ADC recall
    * decays silently; this measures it. `nQueries` corpus vectors are
    * drawn deterministically (md5 order of the id — the same probe set
    * every run, so successive measurements are comparable) and scored
    * ADC-vs-exact-brute-force; one row per probe
    * (qid, hits, k, recall) — aggregate recall is avg(recall).
    * Cost is bounded by the sample: |corpus| · nQueries exact cosines
    * for ground truth plus one ADC pass over the codes, never a
    * retrain. Re-measure periodically; a falling average says retrain
    * the codebook. */
  def recallEstimate(
      corpus: DataFrame,
      encoded: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nQueries: Int = 32,
      rerank: Int = 0): DataFrame = {
    require(k >= 1 && nQueries >= 1, "need k >= 1 and nQueries >= 1")
    // TakeOrdered over the md5 of the id: deterministic, partition-
    // independent, and uncorrelated with insertion order or the id
    // sequence (a head() sample would measure only the oldest rows)
    val probes = corpus.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(nQueries)
    val exact = Similarity.bruteForceTopK(corpus, probes, idCol, vecCol, k)
    val adc = adcTopK(encoded, probes, idCol, vecCol, codebooks, k, corpus, rerank)
    val hits = exact.select(col("qid"), col("cid"))
      .join(adc.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    probes.select(col(idCol).as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        lit(k).as("k"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 4).as("recall"))
  }

  /** One-shot convenience: train → encode → ADC (with optional exact
    * rerank), the [[Similarity.ivfTopK]] shape for PQ. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 256,
      rerank: Int = 0,
      trainSample: Int = 2048,
      iters: Int = 10): DataFrame = {
    val cb = train(corpus, idCol, vecCol, m, ksub, trainSample, iters)
    adcTopK(encode(corpus, idCol, vecCol, cb), queries, idCol, vecCol, cb, k, corpus, rerank)
  }
}
