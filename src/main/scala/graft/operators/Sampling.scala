package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.plans.TextHashColumns.md5Buckets

/** Deterministic sampling for corpus curation (SURVEY.md §2.3).
  *
  * Both samplers are pure functions of a key column — the kept set is
  * identical across partitionings, reruns, cluster sizes, and engines
  * (reference: polars `sample(seed=)` can only promise that on one
  * machine; at 100 TB reproducibility must not depend on row order).
  * No shuffle: the predicate evaluates row-local inside the scan.
  */
object Sampling {

  private def hexBucket(key: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 1)

  // hexBucket hashes the key's STRING rendering, and its cross-engine
  // determinism contract (same kept set in Spark and any SQL oracle)
  // only holds where renderings agree — integers and strings. Doubles
  // ("1.0" vs "1"), timestamps (zone/format), and decimals (trailing
  // zeros) render differently across engines, silently changing the
  // sample — so those keys are rejected at plan time.
  private val hashableKeyTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, ByteType, ShortType, IntegerType, LongType)
  }

  private[graft] def requireHashableKey(df: DataFrame, key: Column): Unit = {
    val dt = df.select(key).schema.head.dataType
    require(hashableKeyTypes.contains(dt),
      s"hash-sample key must be an integer or string column, got $dt — " +
        "cast float/timestamp keys to string explicitly if their rendering is intended")
  }

  /** Weighted sampling without replacement (polars sample(weights=)),
    * deterministic: Efraimidis–Spirakis A-ES keys. Each row draws
    * u = uniform(0,1) from the first 52 bits of md5(key) — exact in a
    * double, replicable by any SQL engine — and the n rows with the
    * smallest −ln(u)/w are kept, which is distributed-identical to
    * drawing n rows sequentially with probability proportional to
    * weight. ONE TakeOrderedAndProject (per-partition top-n heaps →
    * driver merge of n·#partitions rows): the corpus never shuffles
    * and the result is independent of partitioning. Rows with a null
    * key or null/non-positive weight are excluded (polars raises
    * there; a filter composes better at scale — and md5(null) would
    * otherwise yield a null E-S key that sorts NULLS FIRST into the
    * sample ahead of every weighted row, with partitioning-dependent
    * ties among the nulls). The score column is internal — output
    * columns are the input's, so no float ever reaches a comparison.
    *
    * Bound: TakeOrdered merges the per-partition top-n on the driver,
    * so `n` must fit driver memory (fine up to a few million rows).
    * For samples beyond that use [[weightedSampleRate]]: keep rows
    * with −ln(u)/w below a fixed threshold (scan-side filter, no
    * ordering), accepting a binomially-distributed sample size. */
  /** u = uniform(0,1) as a pure function of md5(key) — the shared
    * deterministic randomness source of the sampling family (first 52
    * md5 bits, +0.5 lattice centering keeps u off 0 and 1; exact in a
    * double, identical in every engine that can read 13 hex chars). */
  def hashUniform(key: Column): Column =
    (md5Top52(key.cast("string")).cast("double") + 0.5) /
      lit(4503599627370496.0) // 2^52

  /** The first 13 hex chars of md5(`s`) — its top 52 bits — as a
    * decimal string, for a string column `s`. */
  private def md5Top52(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 13), 16, 10)

  /** The Efraimidis–Spirakis key −ln(u)/w over [[hashUniform]]. Pure
    * function of (key, weight) — the batch and streaming samplers
    * share it, which is what makes their draws provably identical. */
  def esKey(key: Column, weight: Column): Column =
    -log(hashUniform(key)) / weight

  /** Poisson(1) CDF breakpoints as exact double literals — spelled in
    * decimal so any engine parsing the same literals draws the same k
    * from the same u (decimal→double is correctly rounded everywhere). */
  private val PoissonCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712)

  /** Replicate count for a bootstrap resample WITH replacement:
    * k ~ Poisson(1) via inverse-CDF on the deterministic md5-uniform.
    * The Poisson limit is the standard distributed approximation of an
    * exact-N multinomial draw (slots decouple as N→∞); expected output
    * size = input size. Tail above k=7 (P < 1.1e-5) folds into 7. */
  def bootstrapCount(key: Column): Column = {
    val u = hashUniform(key)
    PoissonCdf.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, (c, k)) =>
        Some(acc.fold(when(u < lit(c), lit(k)))(_.when(u < lit(c), lit(k))))
      }.get.otherwise(lit(PoissonCdf.size))
  }

  /** Bootstrap resample with replacement: each row emitted
    * [[bootstrapCount]] times, with a `replicate` ordinal
    * distinguishing the copies. A pure scan-side filter + explode — no
    * shuffle, no state, no driver involvement — so a 100 TB bootstrap
    * costs one pass; determinism is per-key, so reruns, engines, and
    * partitionings agree row-for-row. ~36.8% of rows draw k=0 and drop
    * — that's the bootstrap, not a bug. Null keys are excluded (md5 of
    * null has no draw). */
  def bootstrapResample(df: DataFrame, key: Column): DataFrame = {
    requireHashableKey(df, key)
    // collision guard, same contract as the join/hconcat surfaces: the
    // output adds `replicate` (and `__k` transiently) — silently
    // overwriting a pre-existing column of either name would corrupt
    // the caller's data
    for (c <- Seq("replicate", "__k"))
      require(!df.columns.contains(c),
        s"bootstrapResample writes column '$c' but the input already has one")
    df.filter(key.isNotNull)
      .withColumn("__k", bootstrapCount(key))
      .filter(col("__k") > 0)
      .withColumn("replicate", explode(sequence(lit(1L), col("__k").cast("long"))))
      .drop("__k")
  }

  def weightedSample(df: DataFrame, key: Column, weight: Column, n: Int): DataFrame = {
    require(n > 0, s"sample size $n must be positive")
    requireHashableKey(df, key)
    df.filter(key.isNotNull && weight.isNotNull && weight > 0)
      .withColumn("__es_key", esKey(key, weight))
      .orderBy(col("__es_key"))
      .limit(n)
      .drop("__es_key")
  }

  /** Rate-based [[weightedSample]] — the form that scales past the
    * TakeOrdered driver bound: keep every row whose Efraimidis–Spirakis
    * key −ln(u)/w falls below `threshold`. A pure scan-side filter —
    * no ordering, no shuffle, no driver merge — so the sample can be
    * tens of millions of rows. Each row survives independently with
    * probability P(u > e^{−t·w}) = 1 − e^{−threshold·weight} (the
    * exponential-race view of E-S keys), so the sample size is
    * binomial around Σ(1 − e^{−t·wᵢ}) rather than exact; inclusion is
    * still without-replacement, weight-proportional in the small-rate
    * limit, and a pure function of (key, weight) — deterministic
    * across partitionings, reruns, and engines. Boundary contract:
    * the kept set at threshold t is exactly the rows [[weightedSample]]
    * would keep for the n whose n-th smallest key is the last below t
    * (spec-pinned), because both read the SAME key. Null keys and
    * null/non-positive weights are excluded, as in the exact form. */
  def weightedSampleRate(
      df: DataFrame, key: Column, weight: Column, threshold: Double): DataFrame = {
    require(threshold > 0, s"rate threshold $threshold must be positive")
    requireHashableKey(df, key)
    df.filter(key.isNotNull && weight.isNotNull && weight > 0 &&
      esKey(key, weight) < lit(threshold))
  }

  /** Per-stratum [[weightedSample]]: the n best Efraimidis–Spirakis
    * keys WITHIN each stratum — quality-weighted per-language (or
    * per-source) subsampling, the corpus-rebalancing step where both
    * the mixture shape and the within-language pick need control.
    * One shuffle on the stratum key; the rank filter compiles to
    * WindowGroupLimit, so each task keeps an n-row heap per stratum
    * map-side before the exchange — a skewed stratum never drags its
    * full population through one sort. Deterministic: the E-S key is
    * a pure function of md5(key), ties broken by the key itself. */
  def weightedSampleByStratum(
      df: DataFrame,
      key: Column,
      weight: Column,
      stratum: Column,
      nPerStratum: Int): DataFrame = {
    require(nPerStratum > 0, s"sample size $nPerStratum must be positive")
    requireHashableKey(df, key)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(esKey(key, weight).asc, key.asc)
    // key.isNotNull: a null key would draw a null E-S key that sorts
    // NULLS FIRST into every stratum's sample regardless of weight
    df.filter(key.isNotNull && weight.isNotNull && weight > 0)
      .withColumn("__es_rn", row_number().over(w))
      .filter(col("__es_rn") <= nPerStratum)
      .drop("__es_rn")
  }

  /** Keep rows whose md5(key) falls in the first `sixteenths`/16 of hex
    * space — the flat-rate form (GDataset.sampleByHash exposes the same
    * predicate on the wrapper). Keys must be integer or string typed
    * (see [[requireHashableKey]]). */
  def hashSample(df: DataFrame, key: Column, sixteenths: Int): DataFrame = {
    require(sixteenths >= 0 && sixteenths <= 16, "sixteenths must be in [0, 16]")
    requireHashableKey(df, key)
    if (sixteenths == 16) df
    else df.filter(hexBucket(key) < lit(sixteenths.toHexString))
  }

  /** Stratified hash sample: a per-stratum keep rate (in sixteenths of
    * hash space), e.g. down-sample dominant languages while keeping the
    * long tail whole — the corpus-rebalancing step of a training
    * pipeline. Strata missing from `rates` use `defaultSixteenths`.
    * The rate threshold compiles to a codegen'd when-chain over the
    * stratum column; rows never shuffle.
    */
  def stratifiedHashSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      rates: Map[String, Int],
      defaultSixteenths: Int): DataFrame = {
    (rates.values.toSeq :+ defaultSixteenths).foreach(r =>
      require(r >= 0 && r <= 16, s"rate $r not in [0, 16]"))
    requireHashableKey(df, key)
    // rate 16 can't be expressed as a single-hex-char compare — use the
    // always-true sentinel 'g' (sorts after every hex digit)
    def hex(r: Int): String = if (r == 16) "g" else r.toHexString
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(lit(hex(defaultSixteenths))) {
      case (acc, (value, r)) => when(stratum === value, lit(hex(r))).otherwise(acc)
    }
    df.filter(hexBucket(key) < threshold)
  }

  /** Train/test split that near-duplicates cannot straddle: each doc's
    * side is decided by hashing its duplicate-CLUSTER representative
    * (`clusters` = (id, comp) labels from
    * [[graft.operators.DedupCluster.connectedComponents]]; docs in no
    * cluster are their own singleton), so a benchmark-contaminating
    * near-dup of a test doc can never leak into train — the split
    * integrity step after near-dup detection in a training pipeline.
    * `testSixteenths`/16 of hash space lands in "test".
    *
    * 100 TB shape: one equi-join of the corpus against the (tiny
    * relative to corpus) cluster-label table, then a scan-side md5
    * bucket — the same pure-function-of-key determinism as
    * [[hashSample]], reproducible on any cluster at any scale. */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      testSixteenths: Int): DataFrame = {
    require(testSixteenths >= 1 && testSixteenths <= 15,
      "testSixteenths must be in [1, 15] — both sides must be non-empty hash ranges")
    requireHashableKey(docs, col(idCol))
    val lbl = clusters.select(col("id").as(idCol), col("comp").as("__comp"))
    docs.join(lbl, Seq(idCol), "left")
      .withColumn("split",
        when(hexBucket(coalesce(col("__comp"), col(idCol))) < lit(testSixteenths.toHexString),
          lit("test")).otherwise(lit("train")))
      .drop("__comp")
  }

  /** Keep rows per stratum until a cumulative `weight` budget is hit,
    * in `order` within the stratum — the token-budget corpus balancer
    * ("at most N tokens per language"). One stratum-key shuffle, one
    * window pass; the budget cut is a pure function of (stratum,
    * order), so it reproduces anywhere. Emits the running total as
    * `cum_<weightCol>` for auditability. */
  def budgetPerStratum(
      df: DataFrame,
      stratum: Column,
      order: Seq[Column],
      weightCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(order: _*)
      .rowsBetween(Long.MinValue, 0)
    df.withColumn(s"cum_$weightCol", sum(col(weightCol)).over(w).cast("long"))
      .filter(col(s"cum_$weightCol") <= budget)
  }

  /** Mixture builder — the data-mixing step of a pretraining run: turn
    * per-domain target WEIGHTS (DoReMi/Pile-style mixture proportions,
    * need not sum to 1 — they are normalized) into per-domain token
    * budgets of a `totalTokens` run, then keep each domain's docs in
    * `order` until its budget fills. Domains absent from `weights` get
    * weight 0 and are dropped. Same 100 TB shape as
    * [[budgetPerStratum]]: one stratum-key shuffle, one window pass,
    * and the cut is a pure function of (domain, order) — the mixture
    * reproduces bit-identically on any cluster.
    *
    * The budget comparison uses each doc's cumulative count ≤ the
    * domain's budget: a domain stops at the last doc that still fits,
    * so the realized mixture undershoots each target by at most one
    * document — the deterministic convention every budget operator
    * here shares. */
  /** Temperature-scaled mixture (the multilingual up/down-sampling
    * recipe of XLM-R / mT5): domain weights are the OBSERVED token
    * counts raised to `alpha` ∈ (0, 1] — α = 1 keeps natural
    * proportions, α → 0 flattens toward uniform, the standard way to
    * lift low-resource languages without a hand-tuned weight table.
    * One counts aggregation (bounded driver collect — one row per
    * domain, guarded by `maxDomains`), then the exact
    * [[tokenMixture]] machinery: one stratum shuffle, reproducible
    * cut. α = 0.5 makes the weights IEEE-exact `sqrt` on every
    * engine — the value the oracle-checked query pins. */
  def temperatureMixture(
      df: DataFrame,
      domain: Column,
      order: Seq[Column],
      tokenCol: String,
      alpha: Double,
      totalTokens: Long,
      maxDomains: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    // NULL domains are excluded up front: tokenMixture matches on the
    // string rendering, where SQL NULL can never equal a weight key —
    // counting them here would silently build a weight no row can
    // claim (and a "null" string key would collide with a real domain
    // literally named "null")
    val counts = df.filter(domain.isNotNull)
      .groupBy(domain.as("__dom"))
      // a domain whose token counts are all NULL sums to NULL → weight
      // 0, dropped from the mixture deterministically instead of NPE
      .agg(coalesce(sum(col(tokenCol)), lit(0L)).cast("double").as("__n"))
      .limit(maxDomains + 1)
      .collect()
    require(counts.length <= maxDomains,
      s"more than $maxDomains domains — is the domain column really a domain?")
    require(counts.nonEmpty, "no non-null domains to mix")
    val weights = counts.map { r =>
      val w = if (alpha == 0.5) math.sqrt(r.getDouble(1)) else math.pow(r.getDouble(1), alpha)
      String.valueOf(r.get(0)) -> w
    }.toMap
    tokenMixture(df, domain.cast("string"), order, tokenCol, weights, totalTokens)
  }

  /** Mixture EPOCH planner — the table a training run is scheduled
    * from: per domain, how many tokens exist, how many the target
    * mixture wants (floor(share × total), the [[tokenMixture]]
    * budget), and the implied epoch count target/available — the
    * "how many times do we repeat Wikipedia" number. Domains whose
    * target exceeds `maxEpochs` passes get a capped budget
    * (`capped_tokens`, flagged) — repeating a small domain ad
    * infinitum degrades models, so the planner surfaces the conflict
    * instead of silently honoring the share. Unlisted domains drop
    * (the [[tokenMixture]] convention).
    *
    * Scale shape: ONE partial-agg'd domain aggregation; targets are a
    * broadcast when-chain literal; everything else is per-row
    * arithmetic on the domain-count table (config-sized). Nothing
    * driver-side, fully oracle-checkable (integer floors, exact
    * double ratios rounded). */
  def mixturePlan(
      df: DataFrame,
      domain: Column,
      tokenCol: String,
      weights: Map[String, Double],
      totalTokens: Long,
      maxEpochs: Double = 4.0): DataFrame =
    mixturePlanFromCounts(
      domainTokenCounts(df, domain, tokenCol), weights, totalTokens, maxEpochs)

  /** The persistable/foldable state of [[mixturePlan]]: per-domain
    * available-token sums. Associative under [[mergeDomainTokenCounts]]
    * — any batching of the corpus folds to the same table, which is
    * what the streaming twin ([[graft.streaming.EventStreams
    * .mixturePlanMonitoringSink]]) maintains. */
  def domainTokenCounts(df: DataFrame, domain: Column, tokenCol: String): DataFrame =
    df.filter(domain.isNotNull)
      .groupBy(domain.cast("string").as("domain"))
      .agg(coalesce(sum(col(tokenCol)), lit(0L)).as("available_tokens"))

  /** Fold two [[domainTokenCounts]] tables: one domain-keyed sum. */
  def mergeDomainTokenCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("domain"))
      .agg(sum(col("available_tokens")).as("available_tokens"))

  /** Finalize an epoch plan from a [[domainTokenCounts]] table —
    * targets are a broadcast when-chain literal, everything else is
    * per-row arithmetic on the config-sized domain table. */
  def mixturePlanFromCounts(
      counts: DataFrame,
      weights: Map[String, Double],
      totalTokens: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    val target = tokenBudget(col("domain"), weights, totalTokens)
    require(maxEpochs > 0, "maxEpochs must be positive")
    counts
      .withColumn("target_tokens", target)
      .filter(col("target_tokens") > 0)
      .withColumn("epochs",
        round(col("target_tokens").cast("double") /
          greatest(col("available_tokens"), lit(1L)), 4))
      .withColumn("capped_tokens",
        least(col("target_tokens"),
          floor(col("available_tokens") * lit(maxEpochs)).cast("long")))
      .withColumn("capped", col("target_tokens") > col("capped_tokens"))
  }

  def tokenMixture(
      df: DataFrame,
      domain: Column,
      order: Seq[Column],
      tokenCol: String,
      weights: Map[String, Double],
      totalTokens: Long): DataFrame = {
    val budgetExpr = tokenBudget(domain, weights, totalTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domain).orderBy(order: _*)
      .rowsBetween(Long.MinValue, 0)
    df.withColumn(s"cum_$tokenCol", sum(col(tokenCol)).over(w).cast("long"))
      .filter(col(s"cum_$tokenCol") <= budgetExpr)
  }

  /** Each domain's token budget, floor(share × total), as a when-chain
    * literal over `domain` (0 for an unlisted domain). Shares normalize
    * in sorted-key order: double addition isn't associative and Map
    * iteration order is unspecified, so the sorted fold makes the
    * budgets bit-reproducible run to run. */
  private def tokenBudget(domain: Column, weights: Map[String, Double], totalTokens: Long): Column = {
    require(totalTokens > 0, "totalTokens must be positive")
    require(weights.nonEmpty, "weights must name at least one domain")
    require(weights.values.forall(_ >= 0) && weights.values.sum > 0,
      "weights must be non-negative and not all zero")
    val sorted = weights.toSeq.sortBy(_._1)
    val norm = sorted.map(_._2).sum
    sorted.foldLeft(lit(0L): Column) { case (acc, (d, wt)) =>
      when(domain === d, lit(math.floor(wt / norm * totalTokens).toLong)).otherwise(acc)
    }
  }

  /** Deterministic shard id in [0, nShards) from the first 16 bits of
    * md5(key) — the export-side twin of [[stratifiedHashSample]]: a
    * pure function of the key's string rendering, so the same document
    * lands in the same shard on any cluster, any partitioning, any
    * engine (the hex→int arithmetic is plain instr/substr both here
    * and in SQL oracles — no engine-specific hash). Same key-type
    * contract as hash sampling: integers and strings only (doubles /
    * timestamps render differently across engines). nShards ≤ 65536
    * (one md5 nibble-quad of entropy; the mod bias at 65536/n is
    * ≤ 1/65536 — irrelevant for shard balancing). */
  def shardAssign(key: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 65536, "nShards must be in [1, 65536]")
    val hex = substring(md5(key.cast("string").cast("binary")), 1, 4)
    pmod(hex4(hex), lit(nShards.toLong)).cast("int")
  }

  /** The first 4 hex chars of `hex` as a long, by plain instr/substr
    * arithmetic that any SQL engine replays. */
  private def hex4(hex: Column): Column = {
    val digits = lit("0123456789abcdef")
    def nib(i: Int): Column =
      (call_function("instr", digits, substring(hex, i, 1)) - lit(1)).cast("long")
    ((nib(1) * 16 + nib(2)) * 16 + nib(3)) * 16 + nib(4)
  }

  /** Export the frame as `nShards` hash shards under `path`
    * (`shard=N/` Hive dirs): one exchange ON THE SHARD ID routes each
    * shard to one task, so output file count and size stay balanced —
    * the layout a training data loader wants (shard-per-worker reads,
    * no small-file explosion, reshard-free appends as long as nShards
    * is fixed). */
  def writeShards(df: DataFrame, key: Column, nShards: Int, path: String): Unit =
    df.withColumn("shard", shardAssign(key, nShards))
      // RANGE partitioning, not hash: hash(shardId) % nShards doesn't
      // bijectively map nShards distinct ids to nShards partitions, so
      // colliding ids would pack two shards into one task and leave
      // others empty. Range boundaries over the int ids give each task
      // (at most) one contiguous id — the one-task-per-shard balance
      // the file-count bound promises.
      .repartitionByRange(nShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Cluster-balanced sampling over an embedding column: cap each
    * semantic cluster at `perCluster` rows, so the sample covers the
    * embedding space instead of mirroring the corpus's majority modes
    * (the diversity-sampling stage of a pretraining mixture). Clusters
    * come from the IVF quantizer (Similarity.ivfBuild): training is
    * one TakeOrdered collect (Similarity.trainingSample), assignment
    * Similarity.ivfAssign's scan-local argmax column, and the cap is one
    * row_number window partitioned by cluster — a single shuffle of
    * (id, cluster), never of the vectors. The within-cluster pick
    * order is the id hash, so the sample is deterministic and
    * append-stable under reruns. */
  def clusterBalancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      perCluster: Int,
      trainSample: Int = 2048,
      iters: Int = 10): DataFrame = {
    require(nClusters >= 1 && perCluster >= 1, "need nClusters >= 1 and perCluster >= 1")
    val (assigned, _) =
      Similarity.ivfBuild(df, idCol, vecCol, nClusters, trainSample, iters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(xxhash64(col("cid")), col("cid"))
    assigned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perCluster)
      .select(col("cid").as(idCol), col("cell").as("cluster"))
  }

  /** Deterministic seeded global shuffle + shard layout — the write
    * path of a training run: every row gets a `shard` in [0, nShards)
    * and a 0-based `pos` within its shard, both pure functions of
    * (seed, key), so the permutation is reproducible on any cluster at
    * any parallelism and re-runs byte-identically. Changing the seed
    * reshuffles; a loader streams shard files in pos order and sees a
    * seeded pseudo-random document order with no coordination.
    *
    * 100 TB shape: NO global sort. One md5 over (seed, key) scan-side
    * gives both the shard (top 16 bits mod nShards) and the in-shard
    * sort key; `pos` is a row_number windowed BY SHARD — one hash
    * exchange on the shard id and a per-shard in-partition sort.
    * Size nShards well above cluster parallelism (10k+ shards on a
    * real cluster) so each sort fits one task comfortably — which is
    * the shard layout a data loader wants anyway. Same key-type
    * contract as [[hashSample]]: integers and strings only, or the
    * md5-of-rendering stops being cross-engine portable. */
  def deterministicShuffle(
      df: DataFrame, key: Column, nShards: Int, seed: String): DataFrame = {
    require(nShards >= 1 && nShards <= 65536, "nShards must be in [1, 65536]")
    requireHashableKey(df, key)
    val hex = md5(concat(lit(seed), lit(":"), key.cast("string")).cast("binary"))
    df.withColumn("__h", hex)
      .withColumn("shard", pmod(hex4(col("__h")), lit(nShards.toLong)).cast("int"))
      .withColumn("pos",
        (row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__h"), key)) - 1).cast("long"))
      .drop("__h")
  }

  /** DSIR per-document importance log-weights (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via
    * Importance Resampling"): hashed-unigram bucket distributions are
    * fit on a small TARGET corpus (the domain you want more of) and on
    * the RAW pool, and each raw document scores
    * `logw = Σ_tokens ln p_target(bucket) − ln p_raw(bucket)` with
    * Laplace-smoothed bucket probabilities `(c+1)/(T+B)`. Buckets come
    * from the md5 hash family (13 hex chars → exact long, mod B) so a
    * SQL oracle replays every draw.
    *
    * 100 TB shape: tokens hash to bucket ids scan-side; both bucket
    * tables aggregate map-side partial (≤ B rows each) and their
    * log-ratio table broadcasts; the only data-sized exchange is the
    * per-document partial-aggregated sum carrying (id, partial) —
    * text never shuffles, the totals ride in-plan as broadcast 1-row
    * aggregates (the pmi pattern). */
  def dsirLogWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 1024): DataFrame = {
    // ratio table shared with the frozen-scoring path — parenthesized
    // exactly like the oracle SQL so the doubles agree bit-for-bit
    // before the per-doc sum
    val ratios = dsirRatioTable(raw, target, textCol, buckets)
      .withColumnRenamed("lr", "__lr")
    raw.select(col(idCol).as("id"), explode(md5Buckets(col(textCol), buckets)).as("b"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        (round(sum(col("__lr")), 4) + lit(0.0)).as("logw"))
      .select(col("id").as(idCol), col("n_toks"), col("logw"))
  }

  /** Per-domain DSIR importance log-weights (the stratified-target
    * variant of [[dsirLogWeights]], Xie et al. 2023 §3.3): the target
    * corpus carries a domain column (language, source, subject), a
    * bucket distribution is fit PER DOMAIN, and every raw document
    * scores one logw against each domain — the table a mixture planner
    * reads to fill per-domain budgets from one shared pool.
    *
    * 100 TB shape: one extra groupBy key relative to the binary
    * variant, nothing else. Raw-pool buckets aggregate once (≤ B
    * rows); per-domain target buckets aggregate map-side partial (≤
    * D×B rows); their log-ratio GRID broadcasts. The raw corpus is
    * reduced to per-document bucket counts FIRST (one data-sized
    * partial-agg exchange carrying (id, bucket, count) — text never
    * shuffles), so the ×D fan-out multiplies the tiny (id, bucket)
    * table, never the token stream. */
  def dsirLogWeightsByDomain(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      buckets: Int = 1024): DataFrame = {
    val grid = dsirDomainGrid(raw, target, textCol, domainCol, buckets)
      .withColumnRenamed("lr", "__lr")
    val docBuckets = raw
      .select(col(idCol).as("id"), explode(md5Buckets(col(textCol), buckets)).as("b"))
      .groupBy(col("id"), col("b")).agg(count(lit(1)).as("__c"))
    docBuckets.join(broadcast(grid), Seq("b"))
      .groupBy(col("id"), col("domain"))
      .agg(sum(col("__c")).as("n_toks"),
        (round(sum(col("__c") * col("__lr")), 4) + lit(0.0)).as("logw"))
      .select(col("id").as(idCol), col("domain"), col("n_toks"), col("logw"))
  }

  /** The fitted per-domain (domain, b, lr) log-ratio GRID of
    * [[dsirLogWeightsByDomain]], exposed for freezing — the by-domain
    * analog of [[dsirRatioTable]]. ≤ D×B rows: every raw-pool bucket ×
    * every target domain, with each domain's Laplace-smoothed
    * log-ratio; buckets no raw token hashed to carry no row (the
    * frozen scorer's coalesce renders them 0.0 — the OOV path).
    * Two partial-agg exchanges (≤ B and ≤ D×B rows) — text never
    * shuffles; see [[dsirLogWeightsByDomain]] for the two-pass
    * rationale. */
  def dsirDomainGrid(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      domainCol: String,
      buckets: Int = 1024): DataFrame = {
    val bs = md5Buckets(col(textCol), buckets)
    // two passes over the raw pool by design (bucket totals here, then
    // per-doc scoring in the caller) — the same shape as dsirLogWeights.
    // Deriving rb from the per-doc (id, b) counts WOULD make it one
    // pass if the exchange were reused, but the rb branch lives inside
    // the broadcast grid's separately-planned adaptive subtree, where
    // cross-tree stage reuse never fires (measured: the "shared"
    // form re-ran the heavier (id, b) aggregate twice and benched
    // 1.4x slower) — so the direct partial-agg pass, whose shuffle is
    // ≤ B rows per mapper, is the honest optimum
    val rb = raw
      .select(explode(bs).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tb = target
      .select(col(domainCol).as("domain"), explode(bs).as("b"))
      .groupBy(col("domain"), col("b")).agg(count(lit(1)).as("ct"))
    val totR = rb.agg(sum(col("cr")).cast("double").as("__tr"))
    val totT = tb.groupBy(col("domain"))
      .agg(sum(col("ct")).cast("double").as("__tt"))
    // domain × raw-bucket grid (≤ D×B rows): buckets a raw doc can hash
    // to, left-joined with each domain's counts so absent buckets get
    // the Laplace floor. Parenthesized exactly like the oracle SQL.
    rb.crossJoin(totT)
      .join(tb, Seq("domain", "b"), "left")
      .crossJoin(broadcast(totR))
      .select(col("domain"), col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("__tt") + lit(buckets))) -
          log((col("cr") + lit(1.0)) / (col("__tr") + lit(buckets))))
          .as("lr"))
  }

  /** Freeze a fitted per-domain DSIR grid ([[dsirDomainGrid]],
    * collected — ≤ D×B rows, a bounded training collect) into a
    * scan-local scoring column: for each document, an
    * `array<struct<domain, logw>>` holding its frozen log-weight
    * against EVERY fitted domain — zero joins, zero shuffles, zero
    * state, so the same column scores batches and streams identically
    * (the by-domain analog of [[dsirScoreFrozen]]). One native kernel
    * call per row ([[graft.plans.TextHashColumns.dsirDomainScores]])
    * hashes each token once, adds its bucket's row of log-ratios to a
    * length-D sum and rounds each sum to 4 dp; the grid rides the call
    * as a dense B×D table plus the sorted domain names, not as plan
    * data. A cell the grid lacks holds 0.0 (the OOV path), and a NULL
    * text scores 0.0 against every domain (coerced to the empty
    * document), both matching the oracle's LEFT-JOIN + coalesce
    * replay. */
  def dsirScoreFrozenByDomain(
      grid: Array[(String, Long, Double)],
      textCol: Column,
      buckets: Int): Column = {
    require(grid.nonEmpty, "frozen domain grid must be non-empty")
    val domains = grid.map(_._1).distinct.sorted
    val slot = domains.zipWithIndex.toMap
    val table = denseTable(grid.map(g => (g._2, slot(g._1), g._3)), buckets, domains.length)
    graft.plans.TextHashColumns.dsirDomainScores(coalesce(textCol, lit("")), buckets, table,
      domains.map(org.apache.spark.unsafe.types.UTF8String.fromString))
  }

  /** Freeze a fitted DSIR bucket log-ratio table into a scan-local
    * scoring column — the persisted-model pattern every other scorer
    * here has (quality model, LM score, contamination index): fit once
    * in batch with [[dsirRatioTable]], collect the ≤ `buckets`-row
    * table (a bounded training collect), and score any batch OR STREAM
    * of documents with zero joins, zero shuffles, zero state. One
    * native kernel call per row ([[graft.plans.TextHashColumns.dsirScore]])
    * sums its tokens' log-ratios from a dense length-`buckets` table
    * riding the call, not the plan. Buckets ABSENT from the fitted
    * table (no fitted token hashed to them) hold 0.0 — the OOV path the
    * oracle's LEFT JOIN + coalesce replays exactly; a NULL text also
    * scores 0.0 (coerced to the empty document). */
  def dsirScoreFrozen(
      ratios: Array[(Long, Double)],
      textCol: Column,
      buckets: Int): Column = {
    require(ratios.nonEmpty, "frozen ratio table must be non-empty")
    val table = denseTable(ratios.map(r => (r._1, 0, r._2)), buckets, 1)
    round(graft.plans.TextHashColumns.dsirScore(coalesce(textCol, lit("")), buckets, table),
      4) + lit(0.0)
  }

  /** Fitted (bucket, column, value) cells as a dense `buckets × width`
    * table, 0.0 where no cell was fitted. A bucket outside
    * [0, buckets) means the table was fitted at another bucket count. */
  private def denseTable(
      cells: Array[(Long, Int, Double)], buckets: Int, width: Int): Array[Double] = {
    val table = new Array[Double](
      Math.multiplyExact(graft.plans.TextHashColumns.checkedBuckets(buckets), width))
    for ((b, j, lr) <- cells) {
      require(b >= 0 && b < buckets, s"fitted bucket $b is outside [0, $buckets): " +
        "the table was fitted at another bucket count")
      table(b.toInt * width + j) = lr
    }
    table
  }

  /** The fitted (bucket, log-ratio) table of [[dsirLogWeights]], for
    * freezing: ≤ `buckets` rows, full-join over raw and target bucket
    * counts with the same Laplace smoothing and parenthesization. */
  def dsirRatioTable(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      buckets: Int = 1024): DataFrame = {
    val bs = md5Buckets(col(textCol), buckets)
    def bucketCounts(df: DataFrame): DataFrame = df
      .select(explode(bs).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val rb = bucketCounts(raw)
    val tb = bucketCounts(target)
    val totR = rb.agg(sum(col("c")).cast("double").as("__tr"))
    val totT = tb.agg(sum(col("c")).cast("double").as("__tt"))
    rb.select(col("b"), col("c").as("cr"))
      .join(tb.select(col("b"), col("c").as("ct")), Seq("b"), "full")
      .crossJoin(broadcast(totR)).crossJoin(broadcast(totT))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("__tt") + lit(buckets))) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("__tr") + lit(buckets))))
          .as("lr"))
  }

  /** Per-domain DSIR selection: `kPerDomain` documents per target
    * domain, without replacement, ∝ exp(logw) under that domain's
    * distribution — the Gumbel-max trick over
    * [[dsirLogWeightsByDomain]], with the SAME deterministic
    * [[hashUniform]] draw per document (one u per doc, shared across
    * domains, so a doc can win several domains — the planner's
    * dedup-across-budgets choice, not the sampler's).
    *
    * 100 TB shape: per-domain top-k runs in TWO phases so no task ever
    * sees a domain's full candidate set — phase 1 ranks inside
    * (domain, salt-of-id) buckets and keeps k per bucket, phase 2
    * ranks the ≤ SALTS×k survivors per domain. A single
    * Window.partitionBy(domain) would funnel the whole corpus through
    * D tasks. */
  def dsirSampleByDomain(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      kPerDomain: Int,
      buckets: Int = 1024): DataFrame = {
    require(kPerDomain > 0, s"sample size $kPerDomain must be positive")
    requireHashableKey(raw, col(idCol))
    val salts = 32
    val keyed = dsirLogWeightsByDomain(raw, target, idCol, textCol,
        domainCol, buckets)
      .withColumn("__key",
        col("logw") - log(-log(hashUniform(col(idCol)))))
      .withColumn("__salt",
        pmod(md5Top52(concat(lit("s:"), col(idCol).cast("string"))).cast("long"),
          lit(salts.toLong)))
    val phase1 = Window.partitionBy(col("domain"), col("__salt"))
      .orderBy(col("__key").desc, col(idCol))
    val phase2 = Window.partitionBy(col("domain"))
      .orderBy(col("__key").desc, col(idCol))
    keyed
      .withColumn("__r1", row_number().over(phase1))
      .filter(col("__r1") <= kPerDomain)
      .withColumn("__r2", row_number().over(phase2))
      .filter(col("__r2") <= kPerDomain)
      .select(col(idCol), col("domain"), col("n_toks"), col("logw"))
  }

  /** DSIR selection via the Gumbel-max trick over [[dsirLogWeights]]:
    * sampling k documents without replacement with probability
    * ∝ exp(logw) is exactly the top-k of `logw + Gumbel(0,1)`, and the
    * Gumbel draw `g = −ln(−ln u)` comes from the family's
    * deterministic [[hashUniform]] — reruns, engines, and
    * partitionings agree document-for-document. Top-k lands in
    * TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver-side merge — never a global sort), so `k` must fit driver
    * memory like every other exact-k sampler here. */
  def dsirSample(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      buckets: Int = 1024): DataFrame = {
    require(k > 0, s"sample size $k must be positive")
    requireHashableKey(raw, col(idCol))
    dsirLogWeights(raw, target, idCol, textCol, buckets)
      .withColumn("__key", col("logw") - log(-log(hashUniform(col(idCol)))))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_toks"), col("logw"))
  }
}
