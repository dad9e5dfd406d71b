package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, RelationalGroupedDataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.{BloomColumns, TextHashColumns}

/** Deduplication family for pretraining-scale corpora (SURVEY.md §2.3).
  * Every variant produces candidate pairs per shared key (hash key,
  * band bucket, shingle hash, or LSH bucket) — one hash shuffle on the
  * key and a per-bucket pair walk ([[Dedup.bucketPairs]]), never an
  * O(n²) cross join — so cost stays linear-ish in corpus size at
  * 100 TB. Mega-buckets (stop-shingles / degenerate bands) are capped.
  *
  * Shared shape: candidate (id_a, id_b) pairs are generated and
  * `distinct`-ed carrying ONLY the two ids (8-byte keys through the
  * bucket shuffle — signatures stay out of the candidate pass), then
  * the per-doc signature/fingerprint is attached once per side via a
  * plain equi-join on the id so each pair is scored exactly once. The
  * candidate table grows linearly with corpus size (web-scale dup
  * rates run 30-50%), so it is never force-broadcast — AQE picks the
  * strategy from the runtime size. A pair colliding in many buckets is
  * scored once, not once per collision.
  */
object Dedup {

  /** Exact dedup: content-hash groupBy, min-id winner per group.
    * The hash is the shuffle key — constant-width regardless of
    * document size. `unicodeNormalize = true` hashes the NFC form so
    * composed ("é") and decomposed ("e"+U+0301) spellings of the same
    * text collide (spec-pinned); normalization is scan-local, the
    * shuffle key stays 16 bytes. */
  def exact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      unicodeNormalize: Boolean = false): DataFrame = {
    val key =
      if (unicodeNormalize) graft.plans.UnicodeColumns.nfc(col(textCol))
      else col(textCol)
    docs
      .groupBy(md5(key).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
  }

  /** Scope-aware exact dedup — dedup WITHIN a partition key (per
    * source, per language, per crawl snapshot) while identical text in
    * DIFFERENT scopes survives. The scope columns ride the shuffle key
    * next to the 16-byte content hash, so the cost shape is identical
    * to [[exact]]; with the corpus already partitioned by the scope on
    * disk, the aggregation is map-side only. */
  def exactScoped(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scopeCols: Seq[String]): DataFrame = {
    require(scopeCols.nonEmpty, "exactScoped needs at least one scope column — use exact() otherwise")
    docs
      .groupBy(scopeCols.map(col) :+ md5(col(textCol)).as("content_hash"): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
  }

  /** The persistable state of incremental exact dedup: one row per
    * distinct content hash with its winning (minimum) id. Write this to
    * parquet once per corpus snapshot; each new batch then dedups via
    * [[incrementalExact]] against the index alone — the historical
    * corpus is never rescanned. */
  def exactIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))

  /** Incremental exact dedup — the production shape for a GROWING
    * corpus: new-batch rows that are first of their hash within the
    * batch (min-id winner, one constant-width-key shuffle) and whose
    * hash is absent from the persisted index (one anti-join; AQE
    * broadcasts the smaller side at runtime). Cost scales with the
    * BATCH, not the corpus. The updated index is
    * `index union exactIndex(kept)` — appendable parquet, and a
    * two-batch run provably equals one-shot dedup when ids respect
    * arrival order (spec-pinned). Output = batch columns +
    * `content_hash`, ready for the index append. */
  def incrementalExact(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val hashed = batch.withColumn("content_hash", md5(col(textCol)))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .join(index.select(col("content_hash")), Seq("content_hash"), "left_anti")
  }

  /** Candidate near-dup pairs via MinHash + LSH banding: signature of
    * `numHashes` minhashes over `shingleN`-gram shingles, split into
    * `bands`; docs sharing any band bucket become candidates; estimated
    * Jaccard = matching signature positions / numHashes. */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame =
    minhashBandPairs(
      minhashSigs(docs, idCol, textCol, shingleN, numHashes),
      numHashes, bands, threshold, maxBucketSize)

  /** (id, sig) MinHash signatures — the persistable near-dup index
    * state: the expensive part of MinHash dedup (shingling + hashing
    * the TEXT) runs once per document ever; banding a stored signature
    * is a few cheap hashes. Write this to parquet per corpus snapshot
    * and feed batches through [[incrementalMinhashPairs]].
    *
    * Native Catalyst expression — the HOF formulation in
    * TextFunctions.minhashSignature is ~50× slower (interpreted lambda
    * re-evaluating the shingle array per seed). */
  def minhashSigs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64): DataFrame =
    docs.select(col(idCol).as("id"),
      TextHashColumns.minhashSignature(col(textCol), shingleN, numHashes).as("sig"))

  /** Incremental MinHash dedup — the near-dup counterpart of
    * [[incrementalExact]]: a new batch is shingled/hashed ONCE, banded
    * together with the persisted signature index, and only pairs
    * touching the batch survive (index-internal pairs were reported
    * when their rows arrived). Requires arrival-ordered ids (every
    * batch id > every index id) so the ordered pair's `id_b` side is
    * the batch member — the same contract the exact index documents.
    * The updated index is `index union minhashSigs(batch)`. Re-banding
    * the index is scan-local arithmetic over the signature parquet;
    * the text of the historical corpus is never touched again. */
  def incrementalMinhashPairs(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val batchSigs = minhashSigs(batch, idCol, textCol, shingleN, numHashes)
    val all = index.select(col("id"), col("sig")).unionByName(batchSigs)
    minhashBandPairs(all, numHashes, bands, threshold, maxBucketSize)
      .join(batchSigs.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** LSH band bucket keys for a minhash signature column: one xxhash64
    * bucket per band over that band's signature slice (seeded by the
    * band index so identical slices in different bands never collide).
    * Shared by the batch banding below and the streaming face
    * ([[graft.streaming.EventStreams.nearDupsAgainstIndex]]) so the two
    * can never bucket differently. */
  private[graft] def bandBuckets(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws("_", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))), b))
  }

  /** Matching-position estimate of Jaccard from two minhash signatures. */
  private[graft] def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), m => m))
      .cast("double") / numHashes

  private def minhashBandPairs(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucketSize: Int): DataFrame = {
    // band keys only — the 64-long signature is NOT carried into the
    // bucket shuffle; it is re-attached per candidate pair below.
    val banded = sigs.select(
      col("id"),
      posexplode(bandBuckets(col("sig"), numHashes, bands)).as(Seq("band", "bucket")))
      .select(col("id"), col("band"), col("bucket"))

    val candidates = candidatePairs(banded, Seq("band", "bucket"), maxBucketSize)

    attachPerSide(candidates, sigs, "sig")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit fingerprint; the signature is cut
    * into `maxHamming + 1` chunks, so any pair within the hamming
    * budget agrees on at least one chunk (pigeonhole) and becomes a
    * candidate; verified by bit_count of the xor. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    hamming64Pairs(
      docs.select(col(idCol).as("id"), TextHashColumns.simhash(col(textCol)).as("sig")),
      maxHamming, maxBucketSize)

  /** SimHash duplicate pairs at hamming radius ZERO — the exact
    * parameterization of [[simhashPairs]] (the q_ann_ivf_exact trick):
    * at radius 0 the pigeonhole banding degenerates to one chunk = the
    * whole signature, so the pair set is EXACTLY the equal-signature
    * self-join — no verification filter, no recall question. The
    * signature is the md5-bit variant
    * ([[graft.functions.TextFunctions.simhashMd5]]) so a SQL oracle
    * reproduces every bit (DuckDB lacks XXH64). Plan shape matches the
    * radius-N family: signatures computed scan-side, ids + a 64-char
    * key through the one bucket shuffle, bucket caps bound the
    * quadratic corner. Empty docs (no tokens) are excluded — the
    * all-zeros signature would pair every empty doc with every other. */
  def simhashExactPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = docs
      .filter(size(graft.functions.TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.simhashMd5(col(textCol)).as("key"))
    candidatePairs(sigs, Seq("key"), maxBucketSize)
  }

  /** SimHash near-dup pairs at hamming radius N > 0 with the md5-bit
    * signature ([[graft.plans.TextHashColumns.simhashMd5Long]]) — the
    * radius-N exact twin of [[simhashPairs]]: the SAME
    * [[hamming64Pairs]] machinery (pigeonhole chunk banding, bucket
    * cap, sig-rides-the-chunk-rows layout, bit_count verification)
    * over a signature whose every bit an ANSI-SQL oracle can replay
    * (bit b of the long == char b of [[simhashExactPairs]]' bit
    * string), so the candidate path the production XXH64 variant runs
    * rows-only is driver-verified end to end — banding, cap, dedup,
    * and the xor verification included. */
  def simhashMd5Pairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = docs
      .filter(size(graft.functions.TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        graft.plans.TextHashColumns.simhashMd5Long(col(textCol)).as("sig"))
    hamming64Pairs(sigs, maxHamming, maxBucketSize)
  }

  /** MinHash duplicate pairs under FULL-signature equality — the exact
    * parameterization of [[minhashPairs]] (the q_ann_ivf_exact /
    * [[simhashExactPairs]] trick applied to the third dedup family):
    * with one band spanning all 8 hashes, the candidate set IS the
    * result set (estimated jaccard 1, no verification filter, no
    * recall question), and the md5-sliced hash family
    * ([[graft.plans.TextHash.minhashMd5KeyKernel]]) makes every min
    * SQL-reproducible — a DuckDB oracle checks the banding machinery
    * end to end, which the XXH64 production variant's rows-only entry
    * cannot. Plan shape is the production one: signatures scan-side
    * (ONE md5 per shingle, sliced eight ways), ids + a short key
    * through the single bucket shuffle, bucket caps bound the
    * quadratic corner. Token-free docs are excluded (their sentinel
    * signature would pair all of them). */
  def minhashExactPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = docs
      .filter(size(graft.functions.TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        graft.plans.TextHashColumns.minhashMd5Key(col(textCol), shingleN).as("key"))
    candidatePairs(sigs, Seq("key"), maxBucketSize)
  }

  /** Image near-dup pairs via a 64-bit perceptual hash (dHash of the
    * REAL decoded pixels, [[Multimodal.dHash64]]): the multimodal face
    * of the hamming family — the first thing a multimodal corpus
    * pipeline runs before any text signal exists. Signatures are
    * computed scan-side (pixels never shuffle, 8 bytes per row do) and
    * candidates come from the same pigeonhole chunk banding as SimHash.
    * Payloads the JDK can't decode fall back to an exact-match
    * fingerprint: they keep hamming-0 exact-duplicate pairs and never
    * collide with real images. */
  def phashPairs(
      media: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload",
      maxHamming: Int = 4,
      maxBucketSize: Int = 1000): DataFrame =
    hamming64Pairs(
      Multimodal.dHashes(media, idCol, payloadCol), maxHamming, maxBucketSize)

  /** Shared hamming-ball candidate machinery over any 64-bit signature
    * table (id, sig): the signature is cut into `maxHamming + 1`
    * chunks, so any pair within the hamming budget agrees on at least
    * one chunk (pigeonhole) and becomes a candidate; verified by
    * bit_count of the xor. Candidates come from one [[bucketPairs]]
    * pass over the (chunk, key) buckets — one shuffle, no window, no
    * self-join — with the 8-byte signature riding the chunk rows as
    * the pass's payload (see the body comment), so the signature
    * subtree executes exactly once. */
  def hamming64Pairs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    // The 8-byte signature RIDES the chunk rows instead of being
    // re-attached per side: two attach-joins would re-execute the
    // whole signature subtree twice more (for [[phashPairs]] that is
    // two more full JDK image decodes of the corpus; for
    // [[simhashPairs]] two more text-kernel passes — branches below a
    // scan share no exchange, so nothing reuses). One long per chunk
    // row through the bucket shuffle is the cheap side of that trade
    // at any scale. The cross-chunk dedup keys stay (id_a, id_b) —
    // sigs are functionally dependent on the ids, so grouping by all
    // four changes nothing; distinct cardinality is identical.
    bucketPairs(hammingChunked(sigs, maxHamming), Seq("chunk", "key"), Seq("sig"), maxBucketSize)
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-chunk bucket diagnostics for the hamming family
    * ([[simhashPairs]] / [[phashPairs]] / [[hamming64Pairs]]) — the
    * counterpart of [[lshBucketStats]]: the `maxBucketSize` cap trades
    * silent recall loss for bounded cost, and `dropped_fraction` is
    * that loss made visible. Run it when a dedup pass returns fewer
    * pairs than expected — a degenerate signature (all-zero payloads,
    * one dominant image) shows up as one giant dropped bucket. */
  def hammingBucketStats(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame =
    bucketStats(hammingChunked(sigs, maxHamming), "chunk", "key", maxBucketSize)

  /** The dropped-bucket diagnostics shared by [[hammingBucketStats]]
    * and [[lshBucketStats]]: bucket sizes per (`level`, `bucket`), then
    * per `level` the bucket and row counts, what the `maxBucketSize`
    * cap drops, and the candidate pairs the kept buckets generate.
    * `lead` columns come right after `level` in each output row. */
  private def bucketStats(
      rows: DataFrame, level: String, bucket: String, maxBucketSize: Int,
      lead: Column*): DataFrame = {
    val bs = col("bs")
    val droppedRows = coalesce(sum(when(bs > maxBucketSize, bs)), lit(0L))
    val stats = lead ++ Seq(
      count(lit(1)).as("n_buckets"),
      sum(bs).as("n_rows"),
      count(when(bs > maxBucketSize, 1)).as("dropped_buckets"),
      droppedRows.as("dropped_rows"),
      round(droppedRows / sum(bs).cast("double"), 6).as("dropped_fraction"),
      coalesce(sum(when(bs <= maxBucketSize, (bs * (bs - 1) / 2).cast("long"))),
        lit(0L)).as("candidate_pairs"))
    rows.groupBy(col(level), col(bucket)).agg(count(lit(1)).as("bs"))
      .groupBy(col(level)).agg(stats.head, stats.tail: _*)
  }

  private def hammingChunked(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      "maxHamming must be in [0, 15] (chunks need >= 4 bits to be selective)")
    val numChunks = maxHamming + 1
    val width = (64 + numChunks - 1) / numChunks // last chunk may be narrower
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    // sig is kept on the chunk rows for hamming64Pairs' ride-along
    // verification; consumers that ignore it (hammingBucketStats)
    // prune it at the scan.
    sigs.select(
      col("id"), col("sig"),
      posexplode(
        transform(
          sequence(lit(0), lit(numChunks - 1)),
          c => call_function("shiftright", col("sig"), c * width).bitwiseAND(lit(mask))))
        .as(Seq("chunk", "key")))
      .select(col("id"), col("sig"), col("chunk"), col("key"))
  }

  /** Exact n-gram Jaccard pairs. Shingles travel as 64-bit hashes
    * (graft.plans.TextHashColumns.shingleHashes) — candidates = docs sharing ≥1 shingle
    * hash, listed per shingle by one [[bucketPairs]] pass, intersection
    * counted per pair, Jaccard from |A|+|B|-|A∩B|. Stop-shingle buckets
    * are capped to keep the pair count linear at scale. */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      threshold: Double = 0.5,
      maxShingleFreq: Int = 1000): DataFrame = {
    // |shingles| rides the exploded rows as the pair pass's payload (8
    // bytes next to the 8-byte hash) instead of living in a separate
    // (id, n) branch: two size-joins would each re-run the scan +
    // shingle-hash kernel (branches below a scan share no exchange, so
    // nothing reuses), and at any scale re-hashing the corpus twice
    // more costs far above shipping one extra long through the
    // shuffle. Sizes are pre-cap by construction (computed before the
    // pass drops capped buckets).
    val sh = docs
      .select(col(idCol).as("id"),
        TextHashColumns.shingleHashes(col(textCol), shingleN).as("shs"))
      .select(col("id"), size(col("shs")).as("n"), explode(col("shs")).as("sh"))
    bucketPairs(sh, Seq("sh"), Seq("n"), maxShingleFreq)
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("i"))
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / (col("n_a") + col("n_b") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus n-gram overlap — the decontamination primitive: for
    * every (corpus doc, probe doc) pair sharing at least one shingle,
    * exact jaccard plus CONTAINMENT = |A∩B| / |probe shingles| (the
    * decontamination metric of record: a benchmark item fully quoted
    * inside a long document has low jaccard but containment 1). Same
    * candidate shape as [[jaccardPairs]] — shingles travel as XXH64
    * longs, stop-shingles capped on the corpus side, intersections
    * counted per pair through a key-equality join. */
  def crossJaccardPairs(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      containmentThreshold: Double = 0.5,
      maxShingleFreq: Int = 1000): DataFrame = {
    // sizes ride the exploded rows (see jaccardPairs): the old per-side
    // (id, n) branch re-ran each side's scan + shingle-hash kernel for
    // its size join — two extra text passes per call for one long of
    // shuffle width saved
    def side(df: DataFrame, tag: String) =
      df.select(col(idCol).as(s"id_$tag"),
        TextHashColumns.shingleHashes(col(textCol), shingleN).as("shs"))
        .select(col(s"id_$tag"), size(col("shs")).as(s"n_$tag"),
          explode(col("shs")).as("sh"))
    val cSh = side(corpus, "c")
    val pSh = side(probes, "p")
    capBuckets(cSh, Seq("sh"), maxShingleFreq)
      .join(pSh, Seq("sh"))
      .groupBy(col("id_c"), col("id_p"), col("n_c"), col("n_p"))
      .agg(count(lit(1)).as("i"))
      .select(col("id_c"), col("id_p"),
        round(col("i").cast("double") / (col("n_c") + col("n_p") - col("i")), 4).as("jaccard"),
        round(col("i").cast("double") / col("n_p"), 4).as("containment"))
      .filter(col("containment") >= containmentThreshold)
  }

  /** Per-document contamination score against a benchmark corpus: the
    * fraction of each document's distinct token `shingleN`-grams that
    * appear ANYWHERE in the benchmark set (aggregated over all probes
    * — the per-pair view is [[crossJaccardPairs]]; this is the GPT-3
    * appendix-C style "what % of this doc is benchmark text" triage
    * number). Returns (id, n_shingles, n_hit, contamination).
    *
    * Scale shape: documents explode to (id, 64-bit shingle hash) —
    * ids and longs only, text never shuffles; the benchmark side
    * collapses to its DISTINCT shingle hashes (benchmark suites are
    * tiny next to a 100 TB corpus, so that table broadcasts or
    * hash-joins cheaply) and hits are counted through one left-semi
    * join + per-id count. Nothing driver-side, nothing quadratic.
    *
    * Approximation note: hits are counted by joining 64-bit XXH64
    * shingle HASHES, not shingle strings — a cross-document hash
    * collision counts a false hit. The probability is negligible
    * (~n²/2⁶⁴ per doc-benchmark pair) but nonzero and grows with the
    * benchmark index size; the DuckDB oracle joins the strings, so an
    * actual collision would also surface as a gate mismatch. */
  def contaminationScore(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame =
    contaminationScoreAgainstIndex(corpus,
      benchShingleIndex(probes, textCol, shingleN), idCol, textCol, shingleN)

  /** The frozen half of [[contaminationScore]]: the benchmark suite's
    * DISTINCT 64-bit shingle hashes as a one-column (sh) table.
    * Benchmarks change on release cadence, not crawl cadence — build
    * this ONCE, persist it (parquet), and score every later snapshot
    * or micro-batch against it without rescanning the probe corpus
    * (the trigramModel / boilerplateIndex freeze pattern). */
  def benchShingleIndex(
      probes: DataFrame,
      textCol: String,
      shingleN: Int = 3): DataFrame =
    probes
      .select(explode(TextHashColumns.shingleHashes(col(textCol), shingleN)).as("sh"))
      .distinct()

  /** [[contaminationScore]] against a pre-built [[benchShingleIndex]].
    * Per-document and stateless given the frozen index, so the same
    * call scores a batch corpus or one micro-batch of a stream. The
    * `shingleN` must match the index's. */
  def contaminationScoreAgainstIndex(
      corpus: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    val arr = corpus.select(col(idCol).as("id"),
      TextHashColumns.shingleHashes(col(textCol), shingleN).as("shs"))
    val sizes = arr.select(col("id"), size(col("shs")).cast("long").as("n_shingles"))
    val sh = arr.select(col("id"), explode(col("shs")).as("sh"))
    val hits = sh.join(index.select(col("sh")), Seq("sh"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("__hits"))
    sizes
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("__hits"), lit(0L)).as("n_hit"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / col("n_shingles"), 4)
          .as("contamination"))
  }

  /** LSH parameter planner: given a target jaccard `threshold` and a
    * signature budget of `numHashes` MinHash values, pick the (bands,
    * rows) split whose S-curve inflection `t* = (1/b)^(1/r)` lands
    * closest to the threshold, over all divisor splits b·r =
    * numHashes. Returns every candidate so the caller can trade FP
    * (collision probability at `fpAt` below threshold) against FN
    * (miss probability at `fnAt` above), with the chosen row first.
    * Pure driver-side arithmetic over the ≤ d(numHashes) divisors —
    * nothing distributed; the output parameterizes
    * [[minhashPairs]]-family calls. Collision probability at
    * similarity s is 1 − (1 − s^r)^b. */
  def lshPlan(
      threshold: Double,
      numHashes: Int,
      fpAt: Double = 0.1,
      fnAt: Double = 0.1): Seq[(Int, Int, Double, Double, Double)] = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(numHashes > 0, s"numHashes must be positive: $numHashes")
    def pCollide(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val cands = (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      val tStar = math.pow(1.0 / b, 1.0 / r)
      val fp = pCollide(math.max(threshold - fpAt, 1e-9), b, r)
      val fn = 1.0 - pCollide(math.min(threshold + fnAt, 1.0 - 1e-9), b, r)
      (b, r, tStar, fp, fn)
    }
    cands.sortBy { case (_, _, tStar, _, _) => math.abs(tStar - threshold) }
  }

  /** Near-dup pair-similarity histogram: candidate pairs from the
    * [[jaccardPairs]] machinery at a LOW floor, bucketed by 0.1-wide
    * jaccard bins — the "where should I set the dedup threshold?"
    * diagnostic (the knee of this curve separates boilerplate overlap
    * from true near-dups). Returns (bin_lo, n_pairs); exact 1.0
    * jaccard lands in its own bin_lo=1.0 row. Same cost as one
    * jaccardPairs run: candidates are generated once per shared
    * shingle key, the bin fold is a tiny aggregation over id pairs. */
  def similarityHistogram(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      minJaccard: Double = 0.3,
      maxShingleFreq: Int = 1000): DataFrame =
    jaccardPairs(docs, idCol, textCol, shingleN, minJaccard, maxShingleFreq)
      .groupBy((floor(col("jaccard") * 10.0) / 10.0).as("bin_lo"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Drop corpus documents contaminated by any probe above the
    * containment threshold — a left-anti join on the flagged ids. */
  def decontaminate(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      containmentThreshold: Double = 0.5,
      maxShingleFreq: Int = 1000): DataFrame = {
    val flagged = crossJaccardPairs(corpus, probes, idCol, textCol,
        shingleN, containmentThreshold, maxShingleFreq)
      .select(col("id_c").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] with a Bloom-sketch prefilter — the 100 TB
    * shape. The exact path explodes EVERY corpus document into shingle
    * rows and shuffles them into the probe join; at scale that is the
    * whole corpus re-keyed for a reference set (a benchmark suite)
    * that is many orders of magnitude smaller. Here the probe
    * shingles' 64-bit hashes aggregate into one driver-side Bloom
    * sketch (size bounded by the probe suite, `maxSketchBytes`-guarded)
    * probed scan-side via [[graft.plans.BloomColumns.anyContained]]: corpus
    * docs sharing no probe shingle — at a real decontamination pass,
    * nearly all of them — are dismissed inside the scan, and only
    * survivors enter the exact confirm join.
    *
    * Output is BITWISE-identical to [[decontaminate]], not
    * approximately so: Bloom filters have no false negatives, so every
    * corpus doc containing a probe-set shingle survives the prefilter
    * — which also keeps [[capBuckets]] frequencies of probe-set
    * shingles exactly equal to their full-corpus values (every doc
    * counted there passes the sketch), so cap decisions, candidate
    * pairs, and containment scores all match the exact path. False
    * positives only cost recheck work in the confirm join. */
  def decontaminateBloom(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      containmentThreshold: Double = 0.5,
      maxShingleFreq: Int = 1000,
      fpp: Double = 0.01,
      maxSketchBytes: Long = 64L << 20,
      sketch: Option[BloomFilter] = None): DataFrame = {
    val bf = sketch.getOrElse(
      probeSketch(probes, textCol, shingleN, fpp, maxSketchBytes))
    val pre = corpus.filter(
      BloomColumns.anyContained(TextHashColumns.shingleHashes(col(textCol), shingleN), bf))
    val flagged = crossJaccardPairs(pre, probes, idCol, textCol,
        shingleN, containmentThreshold, maxShingleFreq)
      .select(col("id_c").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Semantic (embedding-space) decontamination: flag corpus vectors
    * whose cosine to ANY benchmark vector clears the threshold — the
    * contamination the n-gram paths can't see (paraphrases,
    * translations, reformatted answers). Both sides band under the
    * SAME deterministic sign hyperplanes (coordinate signs — no RNG,
    * so corpus and benchmark bucket identically by construction), the
    * benchmark band table broadcasts (a benchmark suite is orders of
    * magnitude smaller than the corpus), and corpus vectors meet it
    * scan-side: nothing corpus-sized ever shuffles. A candidate pair
    * colliding in several bands is scored once per collision (d
    * multiplications each) rather than paying an id-keyed dedup
    * shuffle; the final per-id max absorbs the duplicates. Returns
    * (id, bench_id, sim) — the best matching benchmark row per flagged
    * corpus id; anti-join it to drop, or keep it as provenance.
    *
    * Banding is RECALL-oriented, not bucket-economy-oriented: a missed
    * contaminated doc leaks a benchmark item into training data, which
    * is strictly worse than scoring extra candidate cosines. By
    * default (`bands = 0`) the band shape is derived from the
    * threshold via [[recallBanding]]: a pair at cosine `t` agrees per
    * sign coordinate with probability p = 1 − arccos(t)/π, so band
    * width b and band count L are chosen to make the any-band
    * collision probability 1 − (1 − p^b)^L ≥ `targetRecall` for pairs
    * AT the threshold (pairs above it collide more often). Low
    * thresholds genuinely cost more — at t = 0.4, dim = 64 the derived
    * shape (b = 4, L = 14) scores most corpus×bench pairs, which is
    * the honest price of paraphrase-level recall; at t = 0.8 the same
    * rule prunes ~7/8 of random pairs. Pass explicit
    * `bands`/`bitsPerBand` to override (e.g. the old economy sizing
    * for exact-copy-only sweeps). */
  def decontaminateSemantic(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bitsPerBand: Int = 0,
      bands: Int = 0,
      targetBucketSize: Long = 64,
      corpusSize: Long = -1L,
      targetRecall: Double = 0.9): DataFrame = {
    val (bits, nBands) =
      if (bands == 0) recallBanding(dim, threshold, targetRecall)
      else (resolveBits(corpus, dim, bitsPerBand, bands, targetBucketSize, corpusSize), bands)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val b = benchmark.select(col(idCol).as("id"), col(vecCol).as("v"))
    val benchBands = signBanded(b, bits, nBands, keep = Seq("v"))
      .select(col("band"), col("bucket"), col("id").as("bench_id"), col("v").as("bv"))
    signBanded(c, bits, nBands, keep = Seq("v"))
      .join(broadcast(benchBands), Seq("band", "bucket"))
      .select(col("id"), col("bench_id"),
        graft.plans.VectorColumns.cosine(col("v"), col("bv")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("id"))
      .agg(max(struct(col("sim"), col("bench_id"))).as("m"))
      .select(col("id").as(idCol), col("m.bench_id").as("bench_id"),
        round(col("m.sim"), 6).as("sim"))
  }

  /** Build the probe-shingle Bloom sketch [[decontaminateBloom]] probes
    * — exposed so a standing reference set (a benchmark suite) is
    * sketched ONCE and reused across every ingest batch via
    * [[writeSketch]]/[[readSketch]], the incremental twin of the
    * persisted exact/MinHash/IVF indexes. Two probe-side-only jobs: the
    * distinct-shingle count sizes the sketch (guarded by
    * `maxSketchBytes` BEFORE any allocation), the aggregate fills it. */
  def probeSketch(
      probes: DataFrame,
      textCol: String,
      shingleN: Int = 5,
      fpp: Double = 0.01,
      maxSketchBytes: Long = 64L << 20): BloomFilter = {
    val pSh = probes
      .select(explode(TextHashColumns.shingleHashes(col(textCol), shingleN)).as("sh"))
      .distinct()
    val nProbe = math.max(pSh.count(), 1L)
    val bloomBytes = BloomFilter.optimalNumOfBits(nProbe, fpp) / 8
    require(bloomBytes <= maxSketchBytes,
      s"probe sketch would need $bloomBytes bytes for $nProbe shingles at fpp=$fpp " +
        s"(max $maxSketchBytes) — decontaminateBloom expects a SMALL reference set; " +
        "raise maxSketchBytes or fall back to decontaminate()")
    pSh.stat.bloomFilter("sh", nProbe, fpp)
  }

  /** Persist a probe sketch as a one-row binary parquet (the
    * BloomFilter wire format, version-tagged by Spark itself). */
  def writeSketch(spark: org.apache.spark.sql.SparkSession,
      bf: BloomFilter, path: String): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    import spark.implicits._
    Seq(bos.toByteArray).toDF("sketch").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a sketch persisted by [[writeSketch]]. */
  def readSketch(spark: org.apache.spark.sql.SparkSession,
      path: String): BloomFilter = {
    val bytes = spark.read.parquet(path).head().getAs[Array[Byte]]("sketch")
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Substring-level duplicate spans (Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better", §ExactSubstr) — the other half of production text
    * dedup: whole-document dedup misses repeated boilerplate
    * (headers, nav text, license blocks) INSIDE otherwise-distinct
    * documents. A span is a run of ≥ `minSpanTokens` consecutive
    * tokens whose every `shingleN`-gram also appears in at least one
    * OTHER document.
    *
    * Output: one row per maximal flagged run — (idCol, span_start,
    * span_end, span_tokens), the character range in code points
    * (`substring` units), ready for [[removeSpans]].
    *
    * 100 TB shape: positional shingles
    * (graft.plans.TextHashColumns.positionalShingles)
    * are computed scan-side; the duplicated-hash set is one groupBy on
    * the 8-byte hash carrying (sh, id); flagging is an equi-join back
    * on the hash carrying (id, pos, cs, ce) — ints only; runs assemble
    * with one window+groupBy keyed on the doc id. Text NEVER enters an
    * exchange (plan-pinned in PlanAuditSpec). Stop-shingles (boilerplate
    * so common it appears in > `maxShingleFreq` positions) are capped
    * like every other candidate generator — which can SPLIT a run at
    * the capped position; the cap trades that recall for a linear join,
    * and [[lshBucketStats]]-style visibility applies.
    *
    * `keepFirst = true` (default) preserves the occurrence in the
    * lowest-id document sharing each shingle, so one copy of the
    * boilerplate survives corpus-wide (Lee et al. keep one occurrence
    * too); `false` flags every occurrence. */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      minSpanTokens: Int = 20,
      keepFirst: Boolean = true,
      maxShingleFreq: Int = 1000): DataFrame = {
    require(minSpanTokens >= shingleN,
      s"minSpanTokens ($minSpanTokens) must be >= shingleN ($shingleN)")
    val pos = docs.select(col(idCol).as("id"),
        posexplode(TextHashColumns.positionalShingles(col(textCol), shingleN))
          .as(Seq("pos", "s")))
      .select(col("id"), col("pos"),
        col("s.sh").as("sh"), col("s.cs").as("cs"), col("s.ce").as("ce"))
    // a run of r shingles covers r + shingleN - 1 tokens
    duplicateRuns(pos, "sh", keepFirst, maxShingleFreq)
      .agg(min(col("cs")).as("span_start"), max(col("ce")).as("span_end"),
        (count(lit(1)) + lit(shingleN - 1)).cast("int").as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("id").as(idCol),
        col("span_start"), col("span_end"), col("span_tokens"))
  }

  /** Token-space EXACT parameterization of [[duplicateSpans]] — the
    * md5-key trick that promoted MinHash ([[minhashExactPairs]]) and
    * SimHash ([[simhashExactPairs]]) applied to positional shingles:
    * one md5 per `shingleN`-token shingle replaces the XXH64 chain, and
    * the span arithmetic runs in TOKEN positions instead of character
    * offsets, so every stage — stop-shingle cap, duplicated-hash set,
    * keeper exclusion, gaps-and-islands run assembly — is replayable in
    * ANSI SQL and a DuckDB oracle checks the dup-span machinery end to
    * end, which the production variant's rows-only entry cannot.
    *
    * Output: one row per maximal flagged run — (idCol, span_start_tok,
    * span_end_tok, span_tokens), 1-based inclusive token positions.
    *
    * Plan shape matches production [[duplicateSpans]]: shingle keys are
    * computed scan-side, dup membership and the keeper come from one
    * window pass over the key-shuffled positions, runs assemble with one
    * window+groupBy per doc. The remaining scale concession is the key
    * WIDTH: 16 raw md5 bytes (`unhex` of the hex digest — same bucket
    * equality, half the hex-string bytes through the window exchange
    * and sort) where production moves 8-byte XXH64 — acceptable for
    * the oracle-checkable twin, and why the production variant stays
    * the default at scale. */
  def duplicateSpansExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      minSpanTokens: Int = 10,
      keepFirst: Boolean = true,
      maxShingleFreq: Int = 1000): DataFrame = {
    require(minSpanTokens >= shingleN,
      s"minSpanTokens ($minSpanTokens) must be >= shingleN ($shingleN)")
    // the md5 KEY ships as 16-byte binary, not 32 hex chars: bucket
    // membership is decided by md5 equality either way, the key never
    // reaches the output, and the window exchange+sort below moves
    // half the hex-string bytes. The digests come from ONE native
    // kernel pass per doc (md5Shingles — byte-for-byte
    // unhex(md5(concat_ws(" ", slice(tokens, i, n))))) instead of the
    // interpreted 4-expression HOF subtree per position, which was
    // the twin's dominant cost. The oracle replays md5 semantics on
    // the final span rows, which are unchanged.
    val pos = docs
      .filter(size(graft.functions.TextFunctions.tokens(col(textCol))) >= shingleN)
      .select(col(idCol).as("id"),
        posexplode(graft.plans.TextHashColumns.md5Shingles(col(textCol), shingleN))
          .as(Seq("__p0", "m")))
      .select(col("id"), (col("__p0") + 1).as("pos"), col("m"))
    duplicateRuns(pos, "m", keepFirst, maxShingleFreq)
      .agg(min(col("pos")).cast("long").as("span_start_tok"),
        (max(col("pos")) + lit(shingleN - 1)).cast("long").as("span_end_tok"),
        (count(lit(1)) + lit(shingleN - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("id").as(idCol),
        col("span_start_tok"), col("span_end_tok"), col("span_tokens"))
  }

  /** The flagged runs shared by [[duplicateSpans]] and
    * [[duplicateSpansExact]], grouped per (id, run): `pos` holds
    * (id, pos, `key`, …) shingle positions. A position is flagged when
    * its key's bucket holds at most `maxShingleFreq` positions from at
    * least two documents — and, with `keepFirst`, when it is not in
    * the bucket's lowest-id (keeper) document. ONE window pass over the
    * key-shuffled positions decides both: the cap drops whole buckets,
    * so within a surviving bucket `min(id) != max(id)` is exactly
    * `countDistinct(id) >= 2` and `min(id)` is the keeper. The scan
    * runs ONCE and the corpus crosses ONE exchange (an agg+join form
    * re-runs the scan for the join's probe side). Consecutive flagged
    * positions form one run (gaps-and-islands); the caller aggregates
    * each run into its own output columns. */
  private def duplicateRuns(
      pos: DataFrame, key: String, keepFirst: Boolean,
      maxShingleFreq: Int): RelationalGroupedDataset = {
    val wb = Window.partitionBy(col(key))
    val flagged0 = pos
      .withColumn("__bsize", count(lit(1)).over(wb))
      .withColumn("__keeper", min(col("id")).over(wb))
      .withColumn("__maxid", max(col("id")).over(wb))
      .filter(col("__bsize") <= maxShingleFreq &&
        col("__keeper") =!= col("__maxid"))
    val flagged =
      if (keepFirst) flagged0.filter(col("id") =!= col("__keeper")) else flagged0
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    flagged
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("__grp"))
  }

  /** Corpus-wide exact line/paragraph dedup (the CCNet recipe's
    * line-dedup pass): every `sep`-delimited unit of at least
    * `minUnitChars` characters that occurs more than once ACROSS the
    * corpus is removed everywhere except its first occurrence
    * (lowest (id, position)); shorter units — headers, blanks,
    * list markers — are structural and never touched. Complements
    * [[duplicateSpans]]: spans catch shingle RUNS shared between two
    * docs; this catches one exact unit repeated thousands of times
    * corpus-wide (cookie banners, nav text) in a single pass.
    *
    * 100 TB shape, same contract as [[duplicateSpans]]: units hash to
    * 8-byte keys scan-side, the first-occurrence agg and the
    * drop-position list shuffle (id, pos, hash) ints only, and the
    * rewrite applies the per-doc sorted drop list back inside the scan
    * via a positional HOF filter — unit TEXT never enters an exchange
    * (plan-pinned in PlanAuditSpec). */
  def dedupLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minUnitChars: Int = 15): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val sepLit = java.util.regex.Pattern.quote(sep)
    val units = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), sepLit, -1)).as(Seq("pos", "u")))
    val h = units.filter(length(col("u")) >= minUnitChars)
      .select(col("id"), col("pos"), xxhash64(col("u")).as("uh"))
    val firsts = h.groupBy(col("uh"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__cnt") > 1)
    val drops = h.join(firsts, Seq("uh"))
      .filter(!(col("id") === col("__first.id") && col("pos") === col("__first.pos")))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__drop_pos"))
      .select(col("id").as("__dl_id"), col("__drop_pos"))
    docs.join(drops, docs(idCol) === drops("__dl_id"), "left")
      .withColumn(textCol,
        when(col("__drop_pos").isNull, col(textCol)).otherwise(
          array_join(
            filter(split(col(textCol), sepLit, -1),
              (_, i) => !array_contains(col("__drop_pos"), i)),
            sep)))
      .drop("__dl_id", "__drop_pos")
  }

  /** Paragraph-level exact dedup — the CCNet granularity between
    * [[dedupLines]] units and whole-document hashes: units are
    * blank-line-separated paragraphs, every repeated paragraph keeps
    * its first (doc, position) occurrence corpus-wide and later copies
    * are cut from the text. Same machinery (and the same 100 TB shape:
    * hashes+positions shuffle, paragraph text never does) — boilerplate
    * headers/footers shared across a crawl snapshot are the target. */
  def dedupParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minUnitChars: Int = 30): DataFrame =
    dedupLines(docs, idCol, textCol, sep = "\n\n", minUnitChars = minUnitChars)

  /** Cut [[duplicateSpans]] ranges out of the text verbatim: each doc's
    * spans are collected (sorted, overlap-tolerant via a monotonic
    * cursor) and the survivors of the character ranges concatenated —
    * a scan-local fold after ONE equi-join of docs against their spans
    * (left join: span-free docs pass through untouched). Span offsets
    * are code points, the unit `substr` counts, so the cut is exact
    * for any unicode content. */
  def removeSpans(
      docs: DataFrame,
      spans: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("__spans"))
    val text = col(textCol)
    val cut = {
      val zero = struct(lit(0).as("cur"), lit("").as("acc"))
      aggregate(col("__spans"), zero,
        (a, s) => struct(
          greatest(a.getField("cur"), s.getField("span_end")).as("cur"),
          concat(a.getField("acc"),
            text.substr(a.getField("cur") + lit(1),
              greatest(s.getField("span_start") - a.getField("cur"), lit(0))))
            .as("acc")),
        a => concat(a.getField("acc"),
          text.substr(a.getField("cur") + lit(1), length(text))))
    }
    docs.join(sp, Seq(idCol), "left")
      .withColumn(textCol, when(col("__spans").isNull, text).otherwise(cut))
      .drop("__spans")
  }

  /** Embedding near-dup pairs above a cosine threshold, pair space
    * bounded by an existing bucket column (a cluster / label / shard
    * key): one shuffle on the bucket key — the 100 TB shape when the
    * data already carries a locality column. Same candidate
    * architecture as the hash families: ids-only through the bucket
    * pair pass, vectors attached once per side, and a `maxBucketSize`
    * cap so one degenerate label (an "unknown" catch-all) can't turn
    * the pair count quadratic. */
  def cosinePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bucketBy: String,
      maxBucketSize: Int = 100000): DataFrame = {
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bucketed = emb.select(col(idCol).as("id"), col(bucketBy).as("bk"))
    // each id sits in exactly one bucket, so pairs are already unique —
    // skip the cross-bucket distinct the multi-band families need
    val candidates = candidatePairs(bucketed, Seq("bk"), maxBucketSize, dedupe = false)
    scoreCosine(attachPerSide(candidates, vecs, "v"), threshold)
  }

  /** SemDeDup-style semantic dedup candidates: the IVF quantizer
    * (KMeans.spherical on the non-null rows' Similarity.trainingSample,
    * assigned by Similarity.ivfAssign's argmax-cell scan expression)
    * partitions the corpus into cells; near-dup pairs are scored WITHIN cells only via
    * the same ids-only bucket machinery as [[cosinePairs]]. The
    * standard embedding-level dedup for training data: linear in n
    * (cell population ~ n/k), recall spec-tested against the exact
    * all-pairs oracle on planted duplicates — a true duplicate pair
    * lands in the same cell unless it straddles a cell boundary, which
    * near-identical vectors rarely do (they quantize together). */
  def semanticPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nClusters: Int = 16,
      trainSample: Int = 2048,
      iters: Int = 10,
      maxBucketSize: Int = 100000): DataFrame = {
    val sample = Similarity.trainingSample(
      emb.filter(col(vecCol).isNotNull), idCol, vecCol, trainSample)
    require(sample.nonEmpty,
      s"semanticPairs: no non-null '$vecCol' vectors to train cells on")
    val centArr = graft.functions.KMeans.spherical(sample, nClusters, iters)
    cosinePairs(Similarity.ivfAssign(emb, idCol, vecCol, centArr), "cid", "cv", threshold,
      bucketBy = "cell", maxBucketSize)
  }

  /** The prune step of SemDeDup: keep only rows with no lower-id near
    * duplicate in their cell — pairs' id_b side is the loser, removed
    * with one anti-join. */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nClusters: Int = 16,
      trainSample: Int = 2048,
      iters: Int = 10,
      maxBucketSize: Int = 100000): DataFrame = {
    val losers = semanticPairs(emb, idCol, vecCol, threshold, nClusters,
        trainSample, iters, maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    emb.join(losers, Seq(idCol), "left_anti")
  }

  /** Derived sign-LSH band width: the number of sign bits per band
    * that keeps the expected bucket population near `targetBucket`
    * (2^bits buckets per band), i.e. `bitLength(ceil(n/target) - 1)`,
    * clamped to [1, maxBits]. Pure integer arithmetic so the DuckDB
    * oracle replica (`length(bin((n + t - 1) // t - 1))`) computes the
    * identical width — no float log2 at an exact-power boundary. */
  def autoBitsPerBand(corpusSize: Long, targetBucket: Long, maxBits: Int): Int = {
    val buckets = (corpusSize + targetBucket - 1) / targetBucket
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(buckets - 1, 0L))
    math.min(math.max(bitLen, 1), maxBits)
  }

  /** Embedding near-dup pairs via coordinate-sign LSH — the scale-path
    * default when no bucket column exists. Band `b`'s key is the sign
    * pattern of coordinates [b*bitsPerBand, (b+1)*bitsPerBand): an
    * axis-aligned random-hyperplane LSH (deterministic, no arithmetic,
    * so any engine computes identical buckets). Vectors sharing any
    * band bucket become candidates (ids only through the shuffle);
    * each pair is scored once.
    *
    * Candidate volume ≈ `bands · n² / 2^(bitsPerBand+1)` on an
    * uncorrelated corpus — QUADRATIC for any fixed band width. The
    * default (`bitsPerBand = 0` = auto) therefore derives the width
    * from the corpus size via [[autoBitsPerBand]] (one count() job, or
    * pass `corpusSize` to skip it): buckets scale with n, expected
    * candidates stay ~`bands · n · targetBucketSize / 2` — linear. A
    * fixed explicit width is fine when the caller knows the corpus;
    * widths that run past the vector end are rejected. Use
    * [[lshBucketStats]] to see the dropped-bucket fraction the
    * `maxBucketSize` cap silently discards. */
  def cosinePairsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bitsPerBand: Int = 0,
      bands: Int = 4,
      maxBucketSize: Int = 100000,
      targetBucketSize: Long = 64,
      corpusSize: Long = -1L): DataFrame = {
    val bits = resolveBits(emb, dim, bitsPerBand, bands, targetBucketSize, corpusSize)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val candidates = candidatePairs(signBanded(vecs, bits, bands), Seq("band", "bucket"), maxBucketSize)
    scoreCosine(attachPerSide(candidates, vecs, "v"), threshold)
  }

  /** Per-band bucket diagnostics for [[cosinePairsLsh]] at the given
    * settings: bucket and row counts, how many rows the
    * `maxBucketSize` cap drops, and the candidate-pair volume the kept
    * buckets will generate. Run this when recall matters — the cap
    * trades silent recall loss for bounded cost, and `dropped_fraction`
    * is that loss made visible. One aggregation job over the corpus. */
  def lshBucketStats(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      bitsPerBand: Int = 0,
      bands: Int = 4,
      maxBucketSize: Int = 100000,
      targetBucketSize: Long = 64,
      corpusSize: Long = -1L): DataFrame = {
    val bits = resolveBits(emb, dim, bitsPerBand, bands, targetBucketSize, corpusSize)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    bucketStats(signBanded(vecs, bits, bands), "band", "bucket", maxBucketSize,
      lit(bits).as("bits_per_band"))
  }

  /** Recall-first sign-LSH band shape for a cosine threshold: the
    * widest band width b whose required band count
    * L = ⌈ln(1−R) / ln(1−p^b)⌉ (p = 1 − arccos(t)/π, the per-coordinate
    * sign-agreement probability of a pair at cosine t) still fits the
    * coordinate budget (L·b ≤ dim). Widest-b-first minimizes random
    * collisions (each extra bit halves a random pair's per-band
    * collision odds) subject to guaranteed recall ≥ R at the
    * threshold. If NO shape within the coordinate budget reaches R
    * (small dim + low threshold + high R: even b = 1, L = dim only
    * guarantees 1 − (1−p)^dim, which can fall short), the search
    * falls back to (1, dim) — the maximum-recall shape the budget
    * allows — rather than failing; callers that need the guarantee
    * can check 1 − (1−p)^dim ≥ R themselves. */
  def recallBanding(dim: Int, threshold: Double, targetRecall: Double): (Int, Int) = {
    require(dim >= 1, s"dim $dim must be positive")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall $targetRecall must be in (0,1)")
    val t = math.max(-1.0, math.min(1.0, threshold))
    val p = 1.0 - math.acos(t) / math.Pi
    require(p > 0,
      s"threshold $threshold gives zero sign-agreement probability; LSH cannot reach recall")
    val lnMiss = math.log(1.0 - targetRecall)
    (dim to 1 by -1).iterator.flatMap { b =>
      val pb = math.pow(p, b)
      // log1p keeps tiny pb from rounding 1-pb to exactly 1.0 (whose
      // log of 0 would blow the division up to ±infinity)
      val lnBandMiss = math.log1p(-pb)
      if (pb >= 1.0) Some((b, 1))
      else if (lnBandMiss == 0.0) None // pb underflowed: band can't contribute
      else {
        val l = math.ceil(lnMiss / lnBandMiss).toInt
        if (l >= 1 && l.toLong * b <= dim) Some((b, l)) else None
      }
    }.nextOption()
      // no shape inside the budget reaches R: (1, dim) maximizes
      // recall (1 − (1−p)^dim) among all L·b ≤ dim configurations
      .getOrElse((1, dim))
  }

  private def resolveBits(
      emb: DataFrame, dim: Int, bitsPerBand: Int, bands: Int,
      targetBucketSize: Long, corpusSize: Long): Int =
    if (bitsPerBand == 0) {
      // dim/bands == 0 would clamp the derived width to 0 bits — every
      // vector in one empty-string bucket, the degenerate all-pairs
      // band the explicit path rejects; reject it just as loudly here
      require(dim >= bands,
        s"vector dim $dim < bands = $bands: auto band width needs at least one " +
          "sign coordinate per band — reduce bands")
      val n = if (corpusSize >= 0) corpusSize else emb.count()
      autoBitsPerBand(n, targetBucketSize, maxBits = dim / bands)
    } else {
      // an explicit band sliced past the vector end would hash EVERY
      // vector to the same empty bucket — a degenerate all-pairs band
      // (quadratic), or with the cap, a silently discarded band
      require(bitsPerBand > 0 && dim >= bands * bitsPerBand,
        s"vector dim $dim < bands*bitsPerBand = ${bands * bitsPerBand}: " +
          "reduce bands/bitsPerBand or the sign bands run off the vector")
      bitsPerBand
    }

  // bucket = the band's sign bits PACKED into a long (left fold
  // acc*2+bit): 8 bytes through the bucket shuffle instead of an
  // up-to-64-char "0/1" string, and still injective per fixed band
  // width — so the DuckDB replica's integer sum-of-powers form builds
  // bit-identical buckets (q_dedup_cosine), no hash collision caveat.
  private def signBanded(
      vecs: DataFrame, bitsPerBand: Int, bands: Int,
      keep: Seq[String] = Nil): DataFrame =
    vecs.select(
      col("id") +: keep.map(col) :+
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => aggregate(
              slice(col("v"), b * bitsPerBand + 1, lit(bitsPerBand)),
              lit(0L),
              (acc, x) => acc * 2 + when(x >= 0, lit(1L)).otherwise(lit(0L)))))
          .as(Seq("band", "bucket")): _*)
      .select(col("id") +: keep.map(col) :+ col("band") :+ col("bucket"): _*)

  /** All-pairs cosine dedup — EXPLICIT OPT-IN, quadratic work and a
    * full broadcast of the corpus: only sane when the corpus fits the
    * broadcast limit (≲10^6 rows / a few hundred MB of vectors), and
    * guarded by a count() against the `maxRows` bound so it fails
    * loudly instead of OOMing the driver past ~8 GB of broadcast. At
    * scale use [[cosinePairsLsh]] or [[cosinePairs]] with a bucket
    * column. The nested-loop form (vs a constant-key join) keeps the
    * streamed side's parallelism; the repartition fans a small single
    * parquet file across cores. Pass `maxRows = Long.MaxValue` to skip
    * the guard (and its count job) when the size is already known. */
  def cosinePairsExact(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxRows: Long = 2000000L): DataFrame = {
    if (maxRows != Long.MaxValue) {
      val n = emb.count()
      require(n <= maxRows,
        s"cosinePairsExact over $n rows exceeds maxRows=$maxRows: the corpus is " +
          "broadcast whole and scored all-pairs — use cosinePairsLsh or cosinePairs(bucketBy)")
    }
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    scoreCosine(
      a.repartition(a.sparkSession.sparkContext.defaultParallelism)
        .crossJoin(broadcast(b)),
      threshold)
  }

  private def scoreCosine(paired: DataFrame, threshold: Double): DataFrame =
    paired
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.plans.VectorColumns.cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)

  /** Drop rows whose bucket key exceeds `maxBucketSize` occurrences —
    * one window pass over the already-bucket-shuffled rows (no second
    * scan of the input, unlike a groupBy + anti-join). Only the
    * one-sided [[crossJaccardPairs]] join uses it: the self-joins list
    * their pairs with [[bucketPairs]], which applies the same cap in
    * its single pass. Degenerate buckets (stop-shingles) otherwise
    * turn the probe join quadratic. */
  private def capBuckets(df: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame =
    df.withColumn("__bsize", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bsize") <= maxBucketSize)
      .drop("__bsize")

  /** Every pair of rows sharing a bucket, listed per bucket in ONE
    * pass — the candidate generator of every dedup self-join
    * ([[candidatePairs]], [[hamming64Pairs]], [[jaccardPairs]]),
    * following the inverted-list pair enumeration of string-similarity
    * join systems instead of a relational self-join.
    *
    * Input: the `keys` columns, an `id` column and the `payload`
    * columns. Output: (id_a, id_b, payload_a…, payload_b…), each
    * payload column suffixed `_a`/`_b`, one row per pair of input rows
    * in a common bucket with id_a < id_b — the rows, multiplicity
    * included, of the equi-self-join on `keys` filtered to
    * id_a < id_b, after dropping every bucket of more than
    * `maxBucketSize` rows (the [[capBuckets]] semantics: null-id rows
    * count toward the size). A null key or a null id never pairs, as
    * in the equi-join.
    *
    * Shape: one hash shuffle on `keys`, a sort by (keys, id) within
    * each partition, then a `mapPartitions` walk over each run of equal
    * keys that buffers at most `maxBucketSize` rows and emits the run's
    * pairs lazily; a run past the cap is skipped to its end. So memory
    * stays bounded at any scale, nothing is broadcast, and there is no
    * window or join to run twice. The shuffle asks for the session's
    * shuffle-partition count explicitly, which AQE does not coalesce:
    * the walk costs per pair it emits, not per byte it reads, and
    * coalescing by bytes put sf0.1's few-MB shingle table — and its
    * whole walk — into one task. Keys compare by value equality of
    * their external (Row) form: long, int and string keys, the types
    * every caller uses. */
  private[graft] def bucketPairs(
      df: DataFrame, keys: Seq[String], payload: Seq[String], maxBucketSize: Int): DataFrame = {
    val sorted = df.select((keys ++ ("id" +: payload)).map(col): _*)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys.map(col): _*)
      .sortWithinPartitions((keys :+ "id").map(col): _*)
    def side(tag: String) = ("id" +: payload).map(c => sorted.schema(c).copy(name = s"${c}_$tag"))
    val (a, b) = (side("a"), side("b"))
    val enc = Encoders.row(StructType(Seq(a.head, b.head) ++ a.tail ++ b.tail))
    val nKeys = keys.length
    sorted.mapPartitions(rows => new BucketPairs(rows, nKeys, maxBucketSize))(enc)
  }

  /** The [[bucketPairs]] walk over one partition's (keys…, id,
    * payload…) rows sorted by (keys, id): `run` holds the current
    * bucket's non-null-id rows (sorted by id), and (a, b) is the next
    * pair to emit from it. */
  private final class BucketPairs(rows: Iterator[Row], nKeys: Int, maxBucketSize: Int)
      extends Iterator[Row] {
    private val in = rows.buffered
    private val run = scala.collection.mutable.ArrayBuffer.empty[Row]
    private var a = 0
    private var b = 0
    private var ready = false

    private def sameKeys(x: Row, y: Row): Boolean = {
      var k = 0
      while (k < nKeys && x.get(k) == y.get(k)) k += 1
      k == nKeys
    }

    /** Load the next bucket that has two ids to pair; false at the end
      * of the partition. */
    private def nextRun(): Boolean = {
      while (in.hasNext) {
        run.clear()
        val first = in.next()
        var n = 1 // rows in the bucket, null ids included
        if (!first.isNullAt(nKeys)) run += first
        while (in.hasNext && sameKeys(in.head, first)) {
          val r = in.next()
          n += 1
          if (n > maxBucketSize) run.clear() // capped: skip to the run's end
          else if (!r.isNullAt(nKeys)) run += r
        }
        val nullKey = (0 until nKeys).exists(first.isNullAt)
        if (n <= maxBucketSize && !nullKey && run.length >= 2) {
          a = 0
          b = 1
          return true
        }
      }
      run.clear()
      false
    }

    override def hasNext: Boolean = {
      // ids ascend within a run, so an id differing from run(a)'s is
      // greater: equal ids (duplicate rows) never pair
      while (!ready) {
        if (b < run.length) {
          if (run(a).get(nKeys) != run(b).get(nKeys)) ready = true else b += 1
        } else if (a + 2 < run.length) {
          a += 1
          b = a + 1
        } else if (!nextRun()) return false
      }
      true
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("no more bucket pairs")
      ready = false
      val x = run(a)
      val y = run(b)
      b += 1
      val np = x.length - nKeys - 1 // payload columns
      val out = new Array[Any](2 + 2 * np)
      out(0) = x.get(nKeys)
      out(1) = y.get(nKeys)
      var i = 0
      while (i < np) {
        out(2 + i) = x.get(nKeys + 1 + i)
        out(2 + np + i) = y.get(nKeys + 1 + i)
        i += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
    }
  }

  /** Distinct candidate (id_a, id_b) pairs from a (id, bucketKeys…)
    * table: one [[bucketPairs]] pass carrying ids only, ordered to one
    * orientation, deduped across buckets BEFORE any scoring.
    * `dedupe = false` skips the distinct shuffle when each id occurs
    * in exactly one bucket (a single locality column). */
  private def candidatePairs(
      bucketed: DataFrame, keys: Seq[String], maxBucketSize: Int,
      dedupe: Boolean = true): DataFrame = {
    val pairs = bucketPairs(bucketed, keys, Nil, maxBucketSize)
    if (dedupe) pairs.distinct() else pairs
  }

  /** Attach a per-doc column to both sides of a candidate-pair table
    * via plain equi-joins on the id. NOT broadcast: the candidate set
    * grows linearly with corpus size and dup rate (30-50% on web-scale
    * corpora), so forcing it driver-side OOMs at 100 TB. The per-doc
    * side shuffles once per side on an 8-byte key — bounded and
    * partition-parallel — and AQE still turns the join into a
    * broadcast at runtime when the candidates really are small. */
  private def attachPerSide(pairs: DataFrame, perDoc: DataFrame, valueCol: String): DataFrame = {
    val withA = pairs
      .join(perDoc.select(col("id").as("id_a"), col(valueCol).as(s"${valueCol}_a")), Seq("id_a"))
    withA
      .join(perDoc.select(col("id").as("id_b"), col(valueCol).as(s"${valueCol}_b")), Seq("id_b"))
  }
}
