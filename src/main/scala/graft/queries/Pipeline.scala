package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, DedupCluster, Multimodal, Sessionize, Similarity, Vocab}

/** LLM-data-pipeline queries (SURVEY.md §2.3): dedup family, similarity
  * search, text analysis, multimodal plumbing — the operators a 100 TB
  * training-data pipeline runs on top of the relational core.
  */
object Pipeline {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    // scoped exact dedup: dedup within each source only — identical
    // text in different sources survives (per-crawl / per-domain
    // curation policy)
    "q_dedup_scoped" -> ((s, dir) =>
      Dedup.exactScoped(t(s, dir, "documents"), "doc_id", "text", Seq("source"))),

    // incremental dedup: a new batch (doc_id >= 250) dedups against the
    // content-hash index of the already-curated corpus (doc_id < 250) —
    // anti-join + within-batch min-id winner, no historical rescan
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = Dedup.exactIndex(docs.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup.incrementalExact(docs.filter(col("doc_id") >= 250), index, "doc_id", "text")
        .select(col("doc_id"), col("content_hash"), col("lang"))
    }),

    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))),

    // unicode normalization (native NFC + accent strip, codegen'd):
    // decomposed combining marks planted in front of each doc compose
    // under NFC and strip to ASCII — oracle = DuckDB's utf8proc
    // nfc_normalize/strip_accents, same contract by construction
    "q_normalize" -> ((s, dir) => {
      import graft.plans.UnicodeColumns
      val planted = concat(lit("Cafe\u0301 nai\u0308ve "), col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        UnicodeColumns.nfc(planted).as("nfc_text"),
        UnicodeColumns.stripAccents(planted).as("stripped"),
        length(UnicodeColumns.nfc(planted)).as("nfc_len"),
        length(planted).as("orig_len"))
    }),

    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_ws"),
        TF.bpeTokenCount(col("text")).as("n_bpe"))),

    // tokenizer-faithful counts: rank-priority BPE merges against a
    // fixed merge table through the native TokenCount kernel (broadcast
    // rank map, per-task word memo; graft.operators.Bpe); the
    // whitespace/regex counts above are the cheap approximations, this
    // is the budget-grade number
    "q_token_bpe" -> ((s, dir) =>
      graft.operators.Bpe.tokenCounts(
        t(s, dir, "documents"), "doc_id", "text", TF.DefaultMerges)),

    // tokenizer TRAINING: learn a 40-merge BPE table from the corpus
    // itself (rows-only by design — iterative argmax has no SQL
    // oracle; the Sennrich merge order is spec-pinned on the classic
    // low/lower/newest/widest corpus). One distributed word-count
    // pass; merge learning on the Zipf-bounded word table
    "q_bpe_train" -> ((s, dir) =>
      graft.operators.Bpe.mergesDf(s,
        graft.operators.Bpe.trainMerges(
          t(s, dir, "documents"), "text", numMerges = 40))),

    // SentencePiece-unigram tokenizer TRAINING (Kudo 2018, hard-EM
    // variant): seed substrings → Viterbi E-step / count-normalize
    // M-step → prune to the target vocab. Rows-only by design (the EM
    // fixpoint has no SQL oracle); determinism, monotone objective and
    // Viterbi optimality vs brute-force enumeration are spec-pinned.
    // One distributed word-count pass (the one q_bpe_train runs);
    // EM on the Zipf-bounded word table, driver-side
    "q_sp_train" -> ((s, dir) =>
      graft.operators.Unigram.piecesDf(s,
        graft.operators.Unigram.train(
          t(s, dir, "documents"), "text", vocabSize = 120))
        .select(col("rank"), col("piece"), round(col("logp"), 6).as("logp"))),

    // unigram-LM token counting under the trained vocabulary: Viterbi
    // segmentation in the native TokenCount kernel q_token_bpe runs
    // (broadcast piece table, per-task pre-token memo) — one scan-side
    // select for the second production tokenizer family. Rows-only by
    // design (Viterbi has no SQL oracle); segmentation optimality and
    // count bounds are spec-pinned
    "q_token_sp" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pieces = graft.operators.Unigram.train(docs, "text", vocabSize = 120)
      graft.operators.Unigram.tokenCounts(docs, "doc_id", "text", pieces)
    }),

    "q_text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.charCount(col("text")).as("n_chars"),
        round(TF.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TF.stopwordRatio(col("text")), 4).as("stop_ratio"))),

    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TF.langId(col("text")).as("pred_lang"))),

    // writing-system profile: multi-script text planted per doc (the
    // ASCII corpus carries Latin only); script char counts are pure
    // codegen'd regexp arithmetic, identical classes in RE2/Java
    "q_script_ratio" -> ((s, dir) => {
      val planted = concat(col("text"), lit(" Привет мир Γεια 你好世界"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.scriptCharCount(planted, "Cyrillic").as("n_cyrillic"),
        TF.scriptCharCount(planted, "Han").as("n_han"),
        TF.scriptRatio(planted, "Greek").as("greek_ratio"),
        TF.scriptRatio(planted, "Latin").as("latin_ratio"))
    }),

    "q_quality_score" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TF.qualityScore(col("text")).as("quality"))),

    // compression-ratio repetitiveness signal — rows-only by design:
    // DuckDB has no DEFLATE function, so the exact ratios have no SQL
    // oracle; monotonicity and determinism are spec-pinned instead
    "q_compress" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), round(TF.compressionRatio(col("text")), 4).as("compress_ratio"))),

    // model-based quality: logistic regression distilled from the rule
    // gate's labels (bounded deterministic sample), scored corpus-wide
    // as closed-form Column arithmetic — rows-only by design (the
    // trained weights come from an iterative driver loop no SQL oracle
    // can replay; separation + determinism are spec-pinned)
    "q_quality_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("label",
        (TF.filterReason(col("text")) === "ok").cast("int"))
      val w = graft.operators.QualityModel.train(labeled, "label", "text", "doc_id")
      docs.select(col("doc_id"),
        round(graft.operators.QualityModel.score(w, col("text")), 4).as("model_quality"))
    }),

    // fastText-style hashed-ngram classifier (rows-only by design:
    // the xxhash64 bucket table isn't DuckDB-expressible; separation
    // + determinism are spec-pinned like QualityModel's). Trained on
    // the same rule-labeled slice, scored corpus-wide as a codegen'd
    // sparse dot over the plan-literal weight table.
    "q_quality_fasttext" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("label",
        (TF.filterReason(col("text")) === "ok").cast("int"))
      val w = graft.operators.FastTextQuality.train(
        labeled, "label", "text", "doc_id", numBuckets = 1 << 14)
      docs.select(col("doc_id"),
        round(graft.operators.FastTextQuality.score(w, col("text")), 4)
          .as("ft_quality"))
    }),

    // word-2-GRAM repetition + top-unigram fraction via the native
    // one-pass repetitionStats kernel: scan-local, zero shuffle — the
    // 2-gram complement of q_repetition's unigram signals, whose
    // explode-and-groupBy plan re-shuffles every token of the corpus —
    // exactly what 100 TB forbids (the two queries cross-check each
    // other's top-token number through entirely different plans)
    "q_repetition_2gram" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("__r", graft.plans.TextHashColumns.repetitionStats(col("text")))
        .select(
          col("doc_id"),
          col("__r.n_words").as("n_words"),
          (round(when(col("__r.n_words") > 0,
            col("__r.top_count").cast("double") / col("__r.n_words"))
            .otherwise(0.0), 4) + 0.0).as("top_unigram_frac"),
          (round(when(col("__r.n_2grams") > 0,
            col("__r.n_dup_2grams").cast("double") / col("__r.n_2grams"))
            .otherwise(0.0), 4) + 0.0).as("dup_2gram_frac"))),

    // Gopher duplicate-n-gram fractions for n=3,4 via the parametrized
    // native kernel (the 2-gram case is q_repetition_2gram) — same
    // scan-local one-pass design, zero token shuffle
    "q_repetition_ngram" -> ((s, dir) => {
      val g3 = graft.plans.TextHashColumns.ngramDupStats(col("text"), 3)
      val g4 = graft.plans.TextHashColumns.ngramDupStats(col("text"), 4)
      def frac(g: org.apache.spark.sql.Column) =
        round(when(g.getField("n_ngrams") > 0,
          g.getField("n_dup_ngrams").cast("double") / g.getField("n_ngrams"))
          .otherwise(0.0), 4) + 0.0
      t(s, dir, "documents").select(
        col("doc_id"),
        g3.getField("n_ngrams").as("n_3grams"),
        frac(g3).as("dup_3gram_frac"),
        frac(g4).as("dup_4gram_frac"))
    }),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)),

    // incremental NEAR-dup: the new batch is shingled once and banded
    // against the persisted signature index of the curated corpus
    // (doc_id < 250) — the historical text is never rescanned.
    // Rows-only: minhash isn't DuckDB-expressible; equality with
    // one-shot pairs is spec-pinned (TextDedupSpec).
    "q_dedup_minhash_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = Dedup.minhashSigs(docs.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup.incrementalMinhashPairs(docs.filter(col("doc_id") >= 250), index,
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    }),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)),

    // the hamming-0 EXACT parameterization: equal md5-bit signatures,
    // oracle-checked bit-for-bit in DuckDB (the radius-N xxhash64
    // variant above stays rows-only — XXH64 isn't SQL-replicable)
    "q_dedup_simhash_exact" -> ((s, dir) =>
      Dedup.simhashExactPairs(t(s, dir, "documents"), "doc_id", "text")),

    // radius-3 EXACT twin over the md5-bit signature: drives the SAME
    // hamming64Pairs machinery as q_dedup_simhash/q_dedup_phash
    // (pigeonhole chunks, bucket cap, ride-along sig, bit_count
    // verification) with every bit SQL-replayable — the radius-N
    // candidate path is driver-verified, not just spec-pinned
    "q_dedup_hamming_exact" -> ((s, dir) =>
      Dedup.simhashMd5Pairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),

    // MinHash banding with ONE band over all 8 md5-sliced hashes —
    // the oracle-checkable exact parameterization of q_dedup_minhash
    "q_dedup_minhash_exact" -> ((s, dir) =>
      Dedup.minhashExactPairs(t(s, dir, "documents"), "doc_id", "text")),

    // image near-dup: deterministic synthetic PNG corpus (real encode →
    // real ImageIO decode → real dHash) banded into hamming candidates.
    // Rows-only: pixel hashes aren't expressible in DuckDB; pairing
    // semantics are spec-pinned on controlled images (MultimodalSpec).
    "q_dedup_phash" -> ((s, dir) =>
      Dedup.phashPairs(
        Multimodal.syntheticImages(t(s, dir, "documents"), "doc_id", bases = 40),
        "media_id", "payload", maxHamming = 4)),

    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 5, threshold = 0.5)),

    // threshold-picking diagnostic: pair counts by 0.1-wide jaccard
    // bin from one jaccardPairs run at a 0.3 floor — the knee of this
    // histogram is where the dedup threshold goes
    "q_dedup_threshold_curve" -> ((s, dir) =>
      Dedup.similarityHistogram(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 5, minJaccard = 0.3)),

    // per-doc benchmark contamination fraction (GPT-3 appendix-C
    // triage): every 20th doc plays the benchmark suite, the rest are
    // scored by the share of their distinct token 3-grams that appear
    // anywhere in it — ids + 64-bit shingle hashes shuffle, text never
    "q_contamination_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationScore(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", shingleN = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    // substring-level duplicate-span removal (Lee et al. 2022 style):
    // per-doc before/after stats of cutting every ≥10-token run shared
    // with another document. Rows-only: the span boundaries derive from
    // XXH64 shingle chains DuckDB can't replicate; planted-boilerplate
    // removal is spec-pinned (CorpusOpsSpec).
    "q_dedup_substring" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
        shingleN = 5, minSpanTokens = 10)
      val stats = spans.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
      Dedup.removeSpans(docs, spans, "doc_id", "text")
        .select(col("doc_id"), length(col("text")).as("clean_len"))
        .join(docs.select(col("doc_id"), length(col("text")).as("orig_len")), Seq("doc_id"))
        .join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("orig_len"), col("clean_len"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
    }),

    // the oracle-checkable exact twin of q_dedup_substring: md5 shingle
    // keys + token-space spans make the whole dup-span pipeline (cap,
    // dup set, keeper exclusion, gaps-and-islands) DuckDB-replicable.
    // Sliced to doc_id % 2 = 0 on BOTH sides: the md5-per-shingle cost
    // is the twin's documented oracle concession (production moves
    // 8-byte XXH64), and at full scale this one query was 7% of suite
    // time — the half-corpus slice proves the same machinery (still 6
    // span rows at the driver's sf0.01 gate) at half the cost
    "q_dedup_substring_exact" -> ((s, dir) =>
      Dedup.duplicateSpansExact(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 2 === 0),
        "doc_id", "text", shingleN = 5, minSpanTokens = 10)),

    // scale-path default: coordinate-sign LSH bands bound the pair space
    "q_dedup_cosine" -> ((s, dir) =>
      Dedup.cosinePairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4, dim = 64)),

    // SemDeDup: spherical k-means cells bound the pair space — the
    // standard embedding-level dedup for training data. Rows-only: the
    // trained centroids aren't expressible in DuckDB; recall vs the
    // exact all-pairs oracle is spec-tested (SimilaritySpec).
    "q_dedup_semantic" -> ((s, dir) =>
      Dedup.semanticPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nClusters = 8)),

    // semantic decontamination: corpus vectors too close to a
    // benchmark vector in embedding space — catches paraphrase-level
    // contamination the n-gram paths can't. Rows-only: sign-LSH
    // banding isn't expressible in DuckDB; recall vs planted
    // duplicates and the no-vector-shuffle plan are spec-pinned.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.decontaminateSemantic(
        emb.filter(col("vec_id") >= 25), emb.filter(col("vec_id") < 25),
        "vec_id", "embedding", threshold = 0.4, dim = 64)
    }),

    // pre-existing locality column (cluster label) bounds the pair space
    "q_dedup_cosine_bucketed" -> ((s, dir) =>
      Dedup.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4, bucketBy = "label")),

    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // hard-negative mining (DPR/ANCE recipe): per query, top-k corpus
    // vectors in the informative band — similar but below the near-dup
    // line where a "negative" is really a positive
    "q_ann_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, lo = 0.2, hi = 0.8)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64)
    }),

    // IVF: k-means coarse quantizer cells + nProbe probing. Rows-only:
    // the trained centroids aren't expressible in DuckDB; recall vs
    // brute force is spec-tested (SimilaritySpec).
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // IVF at FULL probe (nProbe = nLists): every query scans every
    // cell, so the result is exactly brute force regardless of how the
    // k-means training went — the deterministic parameterization that
    // makes the whole IVF path (build, assign, probe, score, rank)
    // oracle-checkable, not just rows-only. The scale-shaped nProbe<
    // nLists variant stays q_ann_ivf.
    "q_ann_ivf_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nLists = 8, nProbe = 8)
    }),

    // PQ/ADC with exact rerank over the ENTIRE candidate set: with
    // rerank >= corpus size no candidate is pruned, so the exact-cosine
    // rerank stage reproduces brute force exactly whatever the trained
    // codebooks look like — the oracle checks the full encode → ADC →
    // rerank pipeline end to end. The pruning variant stays q_ann_pq.
    "q_ann_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Pq.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 8, ksub = 16, rerank = 1000000)
    }),

    // product quantization + ADC with exact rerank: ~32× vector
    // compression for the recall stage (codes shuffle, floats never
    // do). Rows-only: the trained sub-codebooks aren't expressible in
    // DuckDB; recall vs brute force and the codebook round trip are
    // spec-pinned (SimilaritySpec).
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Pq.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, rerank = 50)
    }),

    // ANN index health: sampled ADC-vs-exact recall of a standing PQ
    // index — the drift monitor a persisted index needs. Rows-only:
    // trained codebooks aren't DuckDB-expressible; the estimate is
    // spec-pinned against a hand-computed recall (SimilaritySpec).
    "q_ann_pq_health" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
      graft.operators.Pq.recallEstimate(
        emb, graft.operators.Pq.encode(emb, "vec_id", "embedding", cb), cb,
        "vec_id", "embedding", k = 5, nQueries = 16)
    }),

    // IVF-PQ composed: coarse cells prune the corpus, ADC scores only
    // the surviving codes, exact rerank recovers recall — the standing
    // 100 TB ANN shape (both indexes persist; queries touch
    // ~nProbe/nLists of the codes and never a float vector). Rows-only:
    // trained centroids/codebooks aren't expressible in DuckDB; recall
    // vs brute force is spec-pinned (SimilaritySpec).
    "q_ann_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nLists = 8, nProbe = 4, rerank = 50)
    }),

    // cluster-balanced diversity sample: cap each semantic k-means
    // cluster so the mixture covers the embedding space. Rows-only:
    // k-means clusters aren't expressible in DuckDB; the per-cluster
    // cap, determinism, and id-subset invariants are spec-pinned
    // (SamplingSpec).
    "q_mixture_cluster" -> ((s, dir) =>
      graft.operators.Sampling.clusterBalancedSample(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 8, perCluster = 40)),

    "q_multimodal" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(media).select(col("media_id"), col("n_bytes"))
    }),

    // frame-sampling plumbing through the driver contract. Rows-only:
    // n_frames derives from xxhash64, which DuckDB lacks.
    "q_media_frames" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, everyN = 25)
        .select(col("media_id"), col("n_frames"), col("frame_idx"))
    }),

    // sequence packing into 256-token training bins. Rows-only: pack
    // assignment is partition-order-dependent by design; the invariants
    // (row count = doc count, bins within budget) are spec-pinned.
    "q_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tok"))
      graft.operators.Pack.greedyPack(docs, "doc_id", "n_tok", budget = 256)
    }),

    // decontamination: benchmark items (probe = low doc_ids) checked for
    // n-gram containment inside the training corpus (the rest)
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossJaccardPairs(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", shingleN = 5, containmentThreshold = 0.2)
    }),

    // CCNet-style corpus-wide unit dedup: every sentence unit ≥15 chars
    // that repeats across the corpus is cut everywhere but its first
    // occurrence; the synthetic docs are single-line, so the unit is
    // the ". "-delimited sentence
    "q_dedup_lines" -> ((s, dir) =>
      Dedup.dedupLines(t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", sep = ". ", minUnitChars = 15)),

    // paragraph-level exact dedup (CCNet granularity): a boilerplate
    // header paragraph planted on every doc — only doc 0's copy
    // survives; organic paragraphs (split at ' merge ') stay intact
    "q_dedup_paragraphs" -> ((s, dir) => {
      val planted = concat(
        lit("Shared boilerplate header paragraph planted on every document"),
        lit("\n\n"),
        replace(col("text"), lit(" merge "), lit("\n\nmerge ")))
      Dedup.dedupParagraphs(
        t(s, dir, "documents").select(col("doc_id"), planted.as("text")),
        "doc_id", "text")
    }),

    // decontamination at 100 TB: probe shingles → driver Bloom sketch →
    // scan-side prefilter → exact confirm on survivors only. Output =
    // the surviving corpus, bitwise-equal to the non-prefiltered path.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"), col("lang")),
        docs.filter(col("doc_id") < 50),
        "doc_id", "text", shingleN = 5, containmentThreshold = 0.2)
        .select(col("doc_id"), col("lang"))
    }),

    // PII masking: emails / IPv4 / phone spans replaced before training
    "q_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TF.redactPii(col("text")).as("clean_text"))),

    // PII density triage: per-category counts of what redaction WOULD
    // mask (planted deterministically — the corpus itself is clean);
    // a mostly-PII doc is a scrape to drop, not prose to mask
    "q_pii_stats" -> ((s, dir) => {
      val planted = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"),
          lit(" contact a.b@c.org or x@y.io from 10.0.0.1 call 555-123-4567")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("from 192.168.0.1: "), col("text")))
        .otherwise(col("text"))
      val c = TF.piiCounts(planted)
      t(s, dir, "documents").select(
        col("doc_id"),
        c.getField("n_emails").as("n_emails"),
        c.getField("n_ips").as("n_ips"),
        c.getField("n_phones").as("n_phones"))
    }),

    // mojibake repair: a UTF-8-as-CP1252 garbage suffix (computed at
    // plan time by actually mis-decoding the clean string) planted on
    // every ASCII doc; the kernel must recover the clean text exactly
    // while leaving the ASCII body untouched
    "q_fix_mojibake" -> ((s, dir) => {
      val clean = " café naïve — déjà vu"
      val moji = graft.plans.Mojibake.utf8AsCp1252(clean)
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.fixMojibake(concat(col("text"), lit(moji))).as("fixed"))
    }),

    // multi-literal blocklist scrub: ONE trie-walk pass over the text
    // (native replaceMany kernel) vs the oracle's chained replace —
    // bit-identical here because the pattern set is overlap-free (no
    // suffix↔prefix pairs, no containment), the property the kernel
    // doc pins; the multi-word pattern exercises longest-match
    "q_replace_many" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.plans.StringColumns.replaceMany(col("text"), Seq(
          "customer query" -> "[CQ]",
          "spark" -> "[ENGINE]",
          "slow" -> "[SLOW]")).as("scrubbed"))),

    // markup-density QA: chars inside <...> spans / total — flags docs
    // whose HTML-to-text extraction failed upstream
    "q_markup" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.TextFunctions.markupRatio(col("text")).as("markup_ratio"))),

    // polars str.extract_many: keyword survey under the same trie walk
    // as the replacer — includes an overlapping pair to exercise
    // longest-at-position ("customer query" beats "customer")
    "q_extract_many" -> ((s, dir) => {
      val m = graft.plans.StringColumns.extractMany(col("text"),
        Seq("customer query", "customer", "spark", "slow"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(m).as("n_matches"),
        array_join(m, "|").as("matches"))
    }),

    // polars str.contains_any: boolean trie probe, early-exit on the
    // first hit — membership of ANY literal is walk-order-independent,
    // so a plain contains-OR oracle is exact
    "q_str_contains_any" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.plans.StringColumns.containsAny(col("text"),
          Seq("customer", "spark", "zzzz-never")).as("hit"))),

    // batch sessionization: gaps-and-islands per user at a 1-hour gap
    "q_sessionize" -> ((s, dir) =>
      Sessionize.sessions(t(s, dir, "events"), "user_id", "ts",
        gapSeconds = 3600, valueCol = "value", tieBreak = Seq(col("event_id")))),

    // corpus vocabulary: top tokens by term frequency + doc frequency
    "q_vocab" -> ((s, dir) =>
      Vocab.topK(t(s, dir, "documents"), "doc_id", "text", k = 100)),

    // keyword extraction: top-3 tf-idf terms per document
    "q_tfidf" -> ((s, dir) =>
      Vocab.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // tokenizer-vocab sizing: types needed to cover 50/90/99% of the
    // corpus token mass — count-class formulation, never a
    // vocab-sized single-partition window
    "q_vocab_coverage" -> ((s, dir) =>
      Vocab.coverage(t(s, dir, "documents"), "text",
        levels = Seq(0.5, 0.9, 0.99))),

    // rank–frequency health: OLS Zipf slope/intercept over the top-1k
    // types; natural text sits near −1, boilerplate floods flatten it
    "q_zipf_slope" -> ((s, dir) =>
      Vocab.zipfSlope(t(s, dir, "documents"), "text", k = 1000)),

    // per-language tokenizer fertility (subword tokens per word, chars
    // per token): the vocab-health table multilingual curation reads
    // before allocating capacity
    "q_tokenizer_fertility" -> ((s, dir) =>
      Vocab.tokenizerFertility(t(s, dir, "documents"), "text", "lang")),

    // DSIR importance log-weights: every 10th doc plays the target
    // domain, the rest are the raw pool scored by hashed-unigram
    // bucket log-ratios (Xie et al. 2023)
    "q_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.dsirLogWeights(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", buckets = 256)
    }),

    // DSIR selection: Gumbel-max top-k over the importance weights —
    // sampling without replacement proportional to exp(logw)
    "q_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.dsirSample(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", k = 100, buckets = 256)
    }),

    // per-domain DSIR: one importance weight per (raw doc, target
    // language) — the stratified-target table a mixture planner fills
    // per-domain budgets from (Xie 2023 §3.3)
    "q_dsir_by_domain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.dsirLogWeightsByDomain(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", "lang", buckets = 256)
    }),

    // per-domain DSIR selection: 20 docs per target language via
    // Gumbel-max over the by-domain weights — salted two-phase top-k,
    // no domain-sized window funnel
    "q_dsir_sample_domain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.dsirSampleByDomain(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", "lang", kPerDomain = 20, buckets = 256)
    }),

    // FROZEN DSIR scoring: fit the bucket log-ratio table on the same
    // raw/target split, collect it (≤256 rows — a bounded training
    // collect), and score EVERY document scan-locally with zero joins
    // or shuffles — the persisted-model twin that also scores streams
    // (prefix==batch spec-pinned in StreamingSpec)
    "q_dsir_frozen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ratios = graft.operators.Sampling.dsirRatioTable(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "text", buckets = 256)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      docs.select(col("doc_id"),
        graft.operators.Sampling.dsirScoreFrozen(ratios, col("text"), 256)
          .as("logw_frozen"))
    }),

    // per-domain FROZEN DSIR scoring: fit the domain×bucket log-ratio
    // grid once (≤ D×256 rows, a bounded training collect), freeze it
    // into the scan-local by-domain scoring column, and score EVERY
    // document against every target domain — zero joins, zero
    // shuffles, so the same column scores a standing stream
    // (prefix==batch spec-pinned in StreamingSpec, like q_dsir_frozen)
    "q_dsir_frozen_domain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val grid = graft.operators.Sampling.dsirDomainGrid(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "text", "lang", buckets = 256)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      docs.select(col("doc_id"),
          explode(graft.operators.Sampling.dsirScoreFrozenByDomain(
            grid, col("text"), 256)).as("s"))
        .select(col("doc_id"), col("s.domain").as("domain"),
          col("s.logw").as("logw_frozen"))
    }),

    // CCNet-style perplexity proxy: per-doc average token
    // log-likelihood under the corpus's own unigram LM
    "q_lm_score" -> ((s, dir) =>
      Vocab.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    // the CCNet bucketing step itself: per-LANGUAGE perplexity
    // terciles over the unigram LM score — head/middle/tail labels
    // drive keep/review/drop downstream; composes lmScore with the
    // distributed qcut (per-lang breaks broadcast back, no global sort)
    "q_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Vocab.lmScore(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      graft.operators.Binning.qcut(
        docs.select(col("doc_id"), col("lang")).join(scored, Seq("doc_id")),
        "lm_score", Seq(1.0 / 3, 2.0 / 3),
        labels = Seq("tail", "middle", "head"), groupCols = Seq("lang"),
        out = "ppl_bucket")
    }),

    // bigram LM: transition likelihoods catch word salad the unigram
    // model can't; bigrams built scan-side, no per-token window
    "q_lm_bigram" -> ((s, dir) =>
      Vocab.lmScoreBigram(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    // interpolated trigram LM: λ-mix of tri/bi/unigram likelihoods —
    // unseen trigrams back off to lower orders instead of -inf
    "q_lm_trigram" -> ((s, dir) =>
      Vocab.lmScoreTrigram(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    // n-gram novelty vs a frozen reference: fraction of a doc's
    // trigram transitions unseen in the model (memorization / OOD
    // signal). Model = first half of the corpus, scored on the rest
    "q_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = Vocab.trigramModel(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      Vocab.noveltyRate(docs.filter(col("doc_id") >= 250), "doc_id", "text", model)
        .withColumnRenamed("id", "doc_id")
    }),

    // tokenizer-vocab coverage: per-doc OOV fraction against the
    // corpus's top-1k tokens (deterministic tie-break) — high OOV
    // flags mojibake, wrong language, or a mistrained vocab
    "q_oov_rate" -> ((s, dir) =>
      Vocab.oovRate(t(s, dir, "documents"), "doc_id", "text", vocabSize = 1000)
        .withColumnRenamed("id", "doc_id")),

    // near-dup clusters: connected components over the exact-jaccard
    // candidate pairs — the keep-one-per-cluster step after pair finding
    "q_dedup_cluster" -> ((s, dir) =>
      DedupCluster.connectedComponents(
        Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 5, threshold = 0.5))),

    // duplication-shape dashboard: clusters per size + docs absorbed —
    // a fat head of giant clusters flags a boilerplate flood
    "q_dedup_cluster_sizes" -> ((s, dir) =>
      DedupCluster.clusterSizeHistogram(
        DedupCluster.connectedComponents(
          Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            shingleN = 5, threshold = 0.5)))),

    // split integrity: near-dup clusters never straddle train/test —
    // the side is a hash of the duplicate-cluster representative
    "q_split_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = DedupCluster.connectedComponents(
        Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 5, threshold = 0.5))
      graft.operators.Sampling.leakageSafeSplit(docs, "doc_id", clusters,
          testSixteenths = 4)
        .select(col("doc_id"), col("split"))
    }),

    // export sharding: engine-independent hash shard id per doc — the
    // layout a training loader reads shard-per-worker
    "q_shard" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.operators.Sampling.shardAssign(col("doc_id"), 8).as("shard"))),

    // corpus rebalancing: down-sample the dominant language, keep the
    // tail whole — deterministic hash sample, no shuffle
    "q_sample_stratified" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), col("doc_id"), col("lang"),
        rates = Map("en" -> 6, "zh" -> 16), defaultSixteenths = 10)
        .select(col("doc_id"), col("lang"))),

    // weight-proportional sampling without replacement (polars
    // sample(weights=)): Efraimidis–Spirakis keys from md5 bits, one
    // TakeOrdered — deterministic and partitioning-independent
    "q_sample_weighted" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        t(s, dir, "orders"), col("o_orderkey"), col("o_totalprice"), n = 100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))),

    // bootstrap resample WITH replacement (polars sample(with_
    // replacement=True) at scale): per-row Poisson(1) replicate counts
    // from the md5-uniform's inverse CDF — scan-side explode, no
    // shuffle, no driver; deterministic per key so engines agree
    "q_sample_bootstrap" -> ((s, dir) =>
      graft.operators.Sampling.bootstrapResample(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        col("o_orderkey"))),

    // per-stratum weighted draw: n best E-S keys within each priority
    // class — quality-weighted per-language subsampling at scale
    "q_sample_weighted_strat" -> ((s, dir) =>
      graft.operators.Sampling.weightedSampleByStratum(
        t(s, dir, "orders"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"), nPerStratum = 20)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))),

    // rate-based weighted sampling — the scan-side form with no
    // ordering and no driver merge, for samples past the TakeOrdered
    // bound. Same engine-exact E-S key as q_sample_weighted, so the
    // kept set is a pure function of (key, weight, threshold)
    "q_sample_weighted_rate" -> ((s, dir) =>
      graft.operators.Sampling.weightedSampleRate(
        t(s, dir, "orders"), col("o_orderkey"), col("o_totalprice"),
        threshold = 2e-7)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))),

    // Gopher repetition signals: repeated-token fraction + share of the
    // single most frequent token, per document
    "q_repetition" -> ((s, dir) =>
      Vocab.repetitionStats(t(s, dir, "documents"), "doc_id", "text")),

    // Gopher line-level rules: bullet-start / ellipsis-end / duplicate
    // line fractions. The corpus has no newlines, so the query plants
    // them deterministically (same literal replace chain in DuckDB) —
    // every ' merge ' opens a bullet line, every ' slow ' closes an
    // ellipsis line; line population varies per doc with the text
    "q_line_signals" -> ((s, dir) => {
      val planted = replace(
        replace(col("text"), lit(" merge "), lit("\n- merge ")),
        lit(" slow "), lit(" slow...\n"))
      t(s, dir, "documents").select(
        col("doc_id"),
        round(TF.bulletLineRatio(planted), 4).as("bullet_ratio"),
        round(TF.ellipsisLineRatio(planted), 4).as("ellipsis_ratio"),
        round(TF.dupLineRatio(planted), 4).as("dup_line_ratio"),
        size(TF.docLines(planted)).as("n_lines"))
    }),

    // PCA whitening of the embedding table (rows-only by design — the
    // iterative eigendecomposition has no SQL oracle; axis recovery,
    // orthonormality and unit whitened variance are spec-pinned).
    // Fit = one treeAggregate of (n, Σx, Σxxᵀ); transform = scan-local
    // k·d HOF per row
    "q_embed_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.operators.Pca.fit(emb, "embedding", k = 8)
      // project the whitened vector to rounded scalar components so the
      // driver's rows-only sort can hash the output (arrays are not
      // sortable on the pandas side); sign of each axis is fixed by the
      // eigensolver's deterministic orientation
      graft.operators.Pca.transform(emb, "embedding", model, "pca", whiten = true)
        .select(
          col("vec_id") +: (1 to 8).map(i =>
            round(element_at(col("pca"), i), 4).as(s"pca_$i")): _*)
    }),

    // Matryoshka truncation: first-16-dim prefix, L2-renormalized —
    // the coarse stage of a truncate→rerank cascade; summary stats
    // cross the oracle (array outputs stay spec-tested, as with
    // q_embed_quant)
    "q_embed_truncate" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val p = transform(slice(col("embedding"), 1, 16), x => x.cast("double"))
      val r = VF.truncateRenorm(col("embedding"), 16)
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(sqrt(aggregate(p, lit(0.0), (a, x) => a + x * x)), 6).as("trunc_norm"),
        round(aggregate(r, lit(0.0), (a, x) => a + x), 4).as("renorm_sum"),
        round(array_min(r), 4).as("renorm_min"),
        round(array_max(r), 4).as("renorm_max"))
    }),

    // symmetric int8 embedding quantization: 4× smaller vectors for the
    // ANN recall stage; summary stats cross the oracle, the quantized
    // array itself is spec-tested
    "q_embed_quant" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      // quantized once per row, in its own projection (as q_list_sort)
      val q = col("q")
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.int8Quantize(col("embedding")).as("q"))
        .select(
        col("vec_id"),
        round(VF.maxAbs(col("embedding")), 6).as("max_abs"),
        aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(q).as("q_min"),
        array_max(q).as("q_max"))
    }),

    // embedding admission QA: the gate in front of ANN/PCA ingest —
    // NaN poisons every cosine silently (and NaN = NaN is TRUE in both
    // engines, so the probe must be isnan, not x != x), zero vectors
    // have no direction, wrong-length vectors break PQ subspace
    // slicing. Defects planted deterministically; first-fail reason
    // per vector, scan-local
    "q_embed_qa" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val id = col("vec_id")
      val v = col("embedding")
      val planted = when(pmod(id, lit(13)) === 0, transform(v, _ => lit(0.0f)))
        .when(pmod(id, lit(17)) === 0, slice(v, 1, 3))
        .when(pmod(id, lit(19)) === 0,
          concat(array(lit(Float.NaN)), slice(v, 2, 63)))
        .otherwise(v)
      t(s, dir, "embeddings").select(
        id, VF.vectorQaReason(planted, expectedDim = 64).as("reason"))
    }),

    // per-language token budget: keep docs in doc_id order until each
    // language hits 2000 tokens
    "q_lang_budget" -> ((s, dir) =>
      graft.operators.Sampling.budgetPerStratum(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), TF.tokenCount(col("text")).as("n_tok")),
        col("lang"), Seq(col("doc_id")), "n_tok", budget = 2000)),

    // data mixing: DoReMi-style target weights over sources → per-domain
    // token budgets of a 2000-token run (0.5/0.3/0.2 → 1000/600/400);
    // unlisted domains drop out
    "q_mixture" -> ((s, dir) =>
      graft.operators.Sampling.tokenMixture(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), TF.tokenCount(col("text")).as("n_tok")),
        col("source"), Seq(col("doc_id")), "n_tok",
        weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        totalTokens = 2000)),

    // mixture EPOCH planner: per language, available vs target tokens
    // and the implied repeat count, capped at 2 passes (the "how many
    // times do we repeat Wikipedia" planning table; at small sf the
    // 50k-token targets exceed the cap and the flag fires)
    "q_mixture_epochs" -> ((s, dir) =>
      graft.operators.Sampling.mixturePlan(
        t(s, dir, "documents")
          .select(col("lang"), TF.tokenCount(col("text")).as("n_tok")),
        col("lang"), "n_tok",
        weights = Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.2),
        totalTokens = 50000, maxEpochs = 2.0)),

    // temperature-scaled mixture (XLM-R α-sampling): per-domain budgets
    // ∝ sqrt(observed tokens) — α=0.5 flattens toward uniform and keeps
    // the weights IEEE-exact sqrt on both engines
    "q_mixture_temp" -> ((s, dir) =>
      graft.operators.Sampling.temperatureMixture(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), TF.tokenCount(col("text")).as("n_tok")),
        col("source"), Seq(col("doc_id")), "n_tok",
        alpha = 0.5, totalTokens = 2000)),

    // per-language budget measured in TRUE BPE tokens (GPT-2 byte-level,
    // the same scan-local TokenCount kernel as q_token_bpe): the budget
    // family counts case/punctuation/whitespace tokens, not just
    // lowercase words
    "q_budget_bpe" -> ((s, dir) =>
      graft.operators.Sampling.budgetPerStratum(
        t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TF.bpeTokenCountGpt2(col("text")).as("n_tok")),
        col("lang"), Seq(col("doc_id")), "n_tok", budget = 2000)),

    // quality-ordered token budget: keep the BEST docs per language
    // until the budget fills (production curation order, vs
    // q_lang_budget's id order); same single stratum shuffle
    "q_budget_quality" -> ((s, dir) =>
      graft.operators.Sampling.budgetPerStratum(
        t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality"),
          TF.tokenCount(col("text")).as("n_tok")),
        col("lang"), Seq(col("quality").desc, col("doc_id")), "n_tok", budget = 2000)),

    // Gopher-style quality gate with a first-fail reason per document
    "q_quality_filter" -> ((s, dir) => {
      val reason = TF.filterReason(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"), reason.as("reason"),
        (reason === "ok").cast("int").as("keep"))
    }),

    // score-vs-gate calibration: per quality decile, how often the
    // rule gate agrees ('ok' rate) — the alignment table read before
    // trusting a learned scorer to replace the rules. Scan-local
    // features, one bin-keyed partial agg
    "q_quality_calibration" -> ((s, dir) => {
      val q = TF.qualityScore(col("text"))
      val reason = TF.filterReason(col("text"))
      t(s, dir, "documents")
        .select(least(floor(q * 10), lit(9)).cast("int").as("bin"),
          (reason === "ok").cast("int").as("ok"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("ok")).cast("double") / count(lit(1)), 4).as("ok_rate"))
    }),

    // brute-force top-k over int8-quantized vectors: the recall stage
    // at 1/4 the scan bytes; integer dots are exact, so unlike float
    // cosine this ANN variant is fully oracle-checkable
    "q_ann_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKInt8(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // RAG-style chunking: 64-token windows at stride 32 (50% overlap),
    // pure per-row explode — no shuffle
    "q_chunk" -> ((s, dir) =>
      graft.operators.Chunk.tokenWindows(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 64, stride = 32)),

    // the composed curation spine: quality gate → exact dedup →
    // per-language token budget, one pipelined plan, fully
    // deterministic and oracle-checked end to end
    "q_curate" -> ((s, dir) =>
      graft.operators.Curate.corpus(
        t(s, dir, "documents"), "doc_id", "text", "lang", budgetPerLang = 2000)),

    // snapshot diff: recrawl N vs N+1 — which ids appeared / vanished /
    // changed content. Both snapshots derive deterministically from the
    // one documents table (drop every 3rd vs every 5th id; "recrawled"
    // content for ids divisible by 7), so the oracle reconstructs them
    // exactly; text hashes scan-side, only (id, hash) joins
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val cur = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.Snapshot.diff(old, cur, "doc_id", "text")
    }),

    // the streaming-legal recrawl slice as a batch query: added/changed
    // vs a frozen (id, hash) index — LEFT join, no full-outer; the form
    // that runs unchanged on a micro-batched stream
    "q_snapshot_new" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = graft.operators.Snapshot.hashIndex(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text")
      val cur = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.Snapshot.newOrChanged(cur, index, "doc_id", "text")
    }),

    // churn summary of the same two snapshots: one dashboard row —
    // added/removed/changed counts + the unchanged carry-over fraction
    "q_snapshot_churn" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val cur = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.Snapshot.churnStats(old, cur, "doc_id", "text")
    }),

    // URL canonicalization: the normalization that makes URL-keyed
    // dedup collide — mixed-case scheme/host, default ports, fragments,
    // tracking params, unsorted queries and trailing slashes all
    // constructed deterministically per doc, then reduced to one
    // canonical form by scan-local regex+HOF arithmetic in both engines
    "q_url_canonical" -> ((s, dir) => {
      val id = col("doc_id")
      val url = when(pmod(id, lit(4)) === 0,
        concat(lit("HTTPS://"), col("source"), lit(".Example.COM:443/Docs/"),
          id.cast("string"), lit("/?utm_source=x&b=2&a=1&fbclid=z#frag")))
        .when(pmod(id, lit(4)) === 1,
          concat(lit("http://"), col("source"), lit(".example.com:80/a/b?z=1&a=2&ref=foo")))
        .when(pmod(id, lit(4)) === 2,
          concat(lit("https://"), col("source"), lit(".EXAMPLE.com")))
        .otherwise(
          concat(lit("http://"), col("source"), lit(".example.com:8080/path/?")))
      t(s, dir, "documents").select(
        id,
        TF.canonicalUrl(url).as("canonical"),
        TF.urlHost(url).as("host"),
        TF.registeredDomain(url).as("registered_domain"))
    }),

    // one-scan corpus health dashboard: gate pass rate + mean
    // quality/markup/tokens as conditional aggregates of scan-local
    // kernels — the daily ingest row; each mean averages the same
    // per-doc rounded signal its drill-down query emits
    "q_corpus_health" -> ((s, dir) =>
      graft.operators.Curate.healthReport(t(s, dir, "documents"), "text")),

    // data-card table: one health row PER SOURCE (which feed went
    // bad) — same one-scan kernels, one scope-keyed partial-agg'd
    // exchange; reconciles with the global q_corpus_health row
    "q_health_by_source" -> ((s, dir) =>
      graft.operators.Curate.healthReportBy(
        t(s, dir, "documents"), "text", Seq("source"))),

    // URL-keyed exact dedup THROUGH canonicalization: four crawl
    // variants of the same page (tracking params, case, trailing
    // slash, fragment) collapse to one canonical URL, then the
    // standard keep-min-id dedup groups on it — the constant-width
    // canonical string is the only thing that shuffles
    "q_dedup_url" -> ((s, dir) => {
      val id = col("doc_id")
      val page = pmod(id, lit(100)).cast("string")
      val url = when(pmod(id, lit(4)) === 0,
        concat(lit("HTTPS://Site.COM:443/p/"), page, lit("/?utm_source=x")))
        .when(pmod(id, lit(4)) === 1, concat(lit("https://site.com/p/"), page, lit("?")))
        .when(pmod(id, lit(4)) === 2, concat(lit("https://SITE.com/p/"), page))
        .otherwise(concat(lit("https://site.com/p/"), page, lit("/#frag")))
      t(s, dir, "documents")
        .select(id, TF.canonicalUrl(url).as("curl"))
        .groupBy(col("curl"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_copies"))
    }),

    // domain-blocklist curation: drop docs whose registrable domain (or
    // exact host, for subdomain entries) is block-listed — broadcast
    // anti-joins on scan-side keys, the corpus never shuffles
    "q_url_blocklist" -> ((s, dir) => {
      val url = concat(lit("https://"), col("source"), lit(".example"),
        pmod(col("doc_id"), lit(2)).cast("string"), lit(".com/p"))
      val docs = t(s, dir, "documents").select(col("doc_id"), url.as("url"))
      val blocklist = s.createDataFrame(Seq(
        Tuple1("example0.com"), Tuple1("src3.example1.com"))).toDF("domain")
      graft.operators.Curate.blocklistFilter(docs, "url", blocklist)
    }),

    // length-bucketed batching report: per power-of-two bucket, how
    // much context a bucket-padded batch run wastes on padding —
    // scan-local integer when-chain assignment, one partial-agg'd
    // groupBy over ≤ 7 keys
    "q_padding_stats" -> ((s, dir) =>
      graft.operators.Pack.paddingStats(
        t(s, dir, "documents").select(
          col("doc_id"), TF.tokenCount(col("text")).as("n_tok")),
        "n_tok", Seq(16, 32, 64))), // max count ~100 ⇒ overflow bucket exercised

    // token-distribution drift: the ingest monitor for "did the new
    // snapshot's language change" — here old = whole corpus, new = its
    // English slice, so the drift drivers are exactly the non-English
    // stopwords falling out. Top-50 cut ranks the ROUNDED term
    // (engine-independent), ties by token; TakeOrdered, no global sort
    "q_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Vocab.tokenDrift(docs, docs.filter(col("lang") === "en"), "text")
        .orderBy(col("kl_term").desc, col("token"))
        .limit(50)
    }),

    // one-row drift dashboard: both KL directions + bounded symmetric
    // JSD in nats — the alert number, q_token_drift is the drill-down
    "q_drift_summary" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Vocab.driftSummary(docs, docs.filter(col("lang") === "en"), "text")
    }),

    // per-language drift: WHICH stratum drifted — German gets planted
    // new tokens in the "recrawl", so de's KL/JSD must dominate while
    // the other languages show only half-sampling drift
    "q_drift_by_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cur = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .withColumn("text",
          when(col("lang") === "de", concat(col("text"), lit(" neu wort")))
            .otherwise(col("text")))
      Vocab.driftByStratum(docs, cur, "lang", "text")
    }),

    // one-scan exact column profile (ANALYZE row): nulls / distinct /
    // min / max per column; the multi-distinct compiles to Catalyst's
    // Expand rewrite — still ONE parquet pass
    "q_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // per-doc lexical diversity: types / hapaxes / TTR, entirely
    // scan-local (array_distinct + one sorted run-boundary fold) —
    // the no-shuffle twin of the grouped token-count formulation the
    // oracle replays
    "q_lexical_diversity" -> ((s, dir) =>
      Vocab.lexicalDiversity(t(s, dir, "documents"), "doc_id", "text")),

    // corpus collocations: adjacent-bigram PMI over the whole corpus,
    // both totals in-plan as broadcast 1-row aggregates
    "q_pmi" -> ((s, dir) =>
      Vocab.pmi(t(s, dir, "documents"), "doc_id", "text", minCount = 5)),

    // per-source boilerplate strip: a banner sentence planted on every
    // doc of a source passes the ≥ minDocs document-frequency bar and
    // is erased everywhere; organically repeated sentences below the
    // bar survive (contrast q_dedup_lines, which keeps first copies)
    "q_boilerplate" -> ((s, dir) => {
      val planted = concat(lit("Boilerplate banner for "), col("source"),
        lit(". "), col("text"))
      graft.operators.Curate.boilerplateStrip(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          planted.as("text")),
        "doc_id", "text", Seq("source"), sep = ". ", minDocs = 10,
        minUnitChars = 15)
        .select(col("doc_id"), col("n_units"), col("n_boiler"), col("text"))
    }),

    // near-dup cluster representative selection: keep the LONGEST
    // member of each jaccard cluster (ties to min id), not the
    // first-crawled one — ids and one numeric shuffle, text never moves
    "q_dedup_keep_best" -> ((s, dir) =>
      DedupCluster.keepBest(
        t(s, dir, "documents"), "doc_id", "n_chars",
        Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 5, threshold = 0.5))),

    // embedding-space drift between two slices: centroid cosine + L2
    // shift + mean |Δdim| — dim-keyed partial-agg shuffles only, the
    // vector-side twin of q_drift_summary
    "q_embed_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.embeddingDrift(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding")
    }),

    // deterministic seeded global shuffle: (shard, pos) as pure
    // functions of (seed, id) — one shard-keyed exchange + per-shard
    // sort, NO global sort; the training-data write layout
    "q_shuffle_global" -> ((s, dir) =>
      graft.operators.Sampling.deterministicShuffle(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"), 8, "s1"))
  )

  // TextFunctions.canonicalUrl replica as appendable CTEs: expects a
  // prior CTE `u(doc_id, url)`, exposes `canon(doc_id, url, host,
  // registered_domain, canonical)`. Plain (non-interpolated) string so
  // the regex backslashes survive; callers splice it with `s"..."`.
  private val UrlCanonCtes =
    """parts AS (
           SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)', 1)),
                 '^(http://[^/?#:]+):80$', '\1'),
               '^(https://[^/?#:]+):443$', '\1') AS origin,
             regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
             regexp_extract(regexp_replace(url, '#.*', ''), '\?([^#]*)', 1) AS q,
             lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
           FROM u),
         canon0 AS (
           SELECT doc_id, url, origin, host,
             CASE WHEN path0 = '' THEN '/'
                  ELSE regexp_replace(path0, '^(/.*[^/])/$', '\1') END AS path,
             list_sort(list_filter(string_split(q, '&'),
               p -> NOT (p = '' OR regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')))) AS kept
           FROM parts),
         canon AS (
           SELECT doc_id, url, host,
             regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS registered_domain,
             origin || path ||
               CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
               AS canonical
           FROM canon0)"""

  // shared with Relational's list-namespace oracle
  private[queries] val TokSql =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""

  // byte-level BPE count over `text` — shared by q_token_bpe and the
  // BPE-measured budget: GPT-2-style pre-tokens (RE2 compiles the same
  // pattern Java does), whitespace → marker chars, a sentinel-spaced
  // rank-ordered merge chain (DuckDB replace(), leftmost-non-overlap),
  // plus the UTF-8 byte surplus strlen - length for non-ASCII chars.
  // The chain equals the engine's rank-priority merging on consistent
  // tables unless a word holds a pair twice in a row (graft.operators.Bpe
  // documents the difference; no committed corpus has such a word).
  private val BpeNTokSql: String = {
    val mapped =
      "replace(replace(replace(replace(w, ' ', 'Ġ'), chr(10), 'Ċ'), chr(9), 'ĉ'), chr(13), 'č')"
    val repl = TF.DefaultMerges.foldLeft(s"' ' || regexp_replace($mapped, '(.)', '\\1 ', 'g')") {
      case (s, (a, b)) => s"replace($s, ' $a $b ', ' $a$b ')"
    }
    val patSql = TF.Gpt2Pattern.replace("'", "''")
    s"""CAST(coalesce(list_aggregate(list_transform(
          regexp_extract_all(text, '$patSql'),
          w -> len(string_split(trim($repl), ' ')) + strlen(w) - length(w)), 'sum'), 0) AS BIGINT)"""
  }

  // exact 5-gram jaccard pairs — replica of Dedup.jaccardPairs; at 0.5
  // shared by q_dedup_jaccard and, as a CTE, by the q_dedup_cluster
  // connected-components oracle; at 0.3 by the threshold histogram
  private def jaccardPairsSqlAt(threshold: Double): String =
    s"""WITH toks AS (
         SELECT doc_id, $TokSql AS tk
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS s
         FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 4, 1) + 1)) AS i) t),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b, jaccard FROM (
         SELECT id_a, id_b, round(i * 1.0 / (na.n + nb.n - i), 4) AS jaccard
         FROM inter
         JOIN sizes na ON id_a = na.doc_id
         JOIN sizes nb ON id_b = nb.doc_id)
       WHERE jaccard >= $threshold"""

  private val JaccardPairsSql = jaccardPairsSqlAt(0.5)

  private def hitsSql(words: Seq[String]): String =
    s"""len(list_filter($TokSql, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"""

  // TextFunctions.qualityScore replica (bit-identical scalar op order,
  // so the 4dp rounding agrees exactly) — shared by q_quality_score
  // and the quality-ordered budget
  private val ScoredDocsSql =
    s"""SELECT doc_id, lang, text,
        round((least(CAST(len($TokSql) AS DOUBLE) / 200.0, 1.0)
               + (CASE WHEN punct > 0.2 THEN 0.0 ELSE 1.0 - punct * 2.5 END)
               + least((CAST(${hitsSql(TF.Stopwords.flatMap(_._2))} AS DOUBLE)
                        / CAST(greatest(len($TokSql), 1) AS DOUBLE)) * 4.0, 1.0))
              / 3.0, 4) AS quality
        FROM (SELECT doc_id, lang, text,
                CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                  / CAST(greatest(length(text), 1) AS DOUBLE) AS punct
              FROM documents)"""

  // TextFunctions.filterReason replica (same rule order and
  // thresholds) — shared by q_quality_filter and the q_curate spine
  private val ReasonedDocsSql =
    s"""SELECT doc_id, lang, text,
          CASE WHEN nw < 5 THEN 'too_short'
               WHEN nw > 1000 THEN 'too_long'
               WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_len'
               WHEN sym > 0.1 THEN 'symbols'
               WHEN stop_hits = 0 THEN 'no_stopwords'
               ELSE 'ok' END AS reason
        FROM (
          SELECT doc_id, lang, text,
            len($TokSql) AS nw,
            length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
              / greatest(len($TokSql), 1) AS mwl,
            length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
              / greatest(length(text), 1) AS sym,
            ${hitsSql(TF.Stopwords.flatMap(_._2))} AS stop_hits
          FROM documents)"""

  // Sampling.dsirLogWeights replica CTEs (shared by q_dsir_weights and
  // q_dsir_sample): md5 13-hex-char buckets mod 256, Laplace-smoothed
  // full-join log-ratio table, raw-pool doc tokens re-bucketed
  private val DsirWeightCtes: String =
    s"""rawd AS (
           SELECT doc_id, $TokSql AS l FROM documents WHERE doc_id % 10 <> 0),
         tgtd AS (SELECT $TokSql AS l FROM documents WHERE doc_id % 10 = 0),
         rt AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
                FROM (SELECT unnest(l) AS tok FROM rawd)),
         tt0 AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
                FROM (SELECT unnest(l) AS tok FROM tgtd)),
         rb AS (SELECT b, count(*) AS cr FROM rt GROUP BY b),
         tb AS (SELECT b, count(*) AS ct FROM tt0 GROUP BY b),
         trr AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr FROM rb),
         ttt AS (SELECT CAST(sum(ct) AS DOUBLE) AS tt FROM tb),
         ratio AS (
           SELECT coalesce(rb.b, tb.b) AS b,
             ln((coalesce(ct, 0) + 1.0) / (tt + 256)) -
             ln((coalesce(cr, 0) + 1.0) / (tr + 256)) AS lr
           FROM rb FULL JOIN tb ON rb.b = tb.b CROSS JOIN trr CROSS JOIN ttt),
         dt AS (
           SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
           FROM (SELECT doc_id, unnest(l) AS tok FROM rawd))"""

  // dsirLogWeightsByDomain's shared CTEs (q_dsir_by_domain,
  // q_dsir_sample_domain): per-domain bucket distributions over the
  // same raw/target split as DsirWeightCtes
  private val DsirDomainCtes: String =
    s"""rawd AS (
           SELECT doc_id, $TokSql AS l FROM documents WHERE doc_id % 10 <> 0),
         tgtd AS (
           SELECT lang AS domain, $TokSql AS l FROM documents WHERE doc_id % 10 = 0),
         rt AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
                FROM (SELECT unnest(l) AS tok FROM rawd)),
         rb AS (SELECT b, count(*) AS cr FROM rt GROUP BY b),
         tt0 AS (SELECT domain,
                   CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
                 FROM (SELECT domain, unnest(l) AS tok FROM tgtd)),
         tb AS (SELECT domain, b, count(*) AS ct FROM tt0 GROUP BY domain, b),
         trr AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr FROM rb),
         ttt AS (SELECT domain, CAST(sum(ct) AS DOUBLE) AS tt FROM tb GROUP BY domain),
         grid AS (
           SELECT ttt.domain, rb.b,
             ln((coalesce(tb.ct, 0) + 1.0) / (ttt.tt + 256)) -
             ln((rb.cr + 1.0) / (trr.tr + 256)) AS lr
           FROM rb CROSS JOIN ttt
           LEFT JOIN tb ON tb.domain = ttt.domain AND tb.b = rb.b
           CROSS JOIN trr),
         db AS (
           SELECT doc_id, b, count(*) AS c
           FROM (SELECT doc_id,
                   CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
                 FROM (SELECT doc_id, unnest(l) AS tok FROM rawd))
           GROUP BY doc_id, b)"""

  // TextHash.minhashMd5KeyKernel replica: ONE md5 per 5-token shingle
  // (clipped for short docs, same slice semantics as the jaccard
  // oracle), hash j = 16-bit big-endian slice j of the digest (4 hex
  // chars, instr-nibble arithmetic), per-doc minima joined with '-'
  private val MinhashMd5Ctes: String = {
    val hexD = "'0123456789abcdef'"
    def sliceVal(j: Int) = (0 until 4).map { p =>
      val mult = Seq(4096, 256, 16, 1)(p)
      s"(instr($hexD, substr(m, ${4 * j + p + 1}, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
    val mins = (0 until 8).map(j => s"min(${sliceVal(j)}) AS v$j").mkString(", ")
    val key = (0 until 8).map(j => s"CAST(v$j AS VARCHAR)").mkString(" || '-' || ")
    s"""toks AS (SELECT doc_id, $TokSql AS l FROM documents),
         msh AS (
           SELECT doc_id, array_to_string(l[i:i+4], ' ') AS s
           FROM toks,
             LATERAL (SELECT unnest(range(1, greatest(len(l) - 4, 1) + 1)) AS i) t
           WHERE len(l) >= 1),
         mh AS (SELECT doc_id, md5(s) AS m FROM msh),
         mmins AS (SELECT doc_id, $mins FROM mh GROUP BY doc_id),
         msigs AS (SELECT doc_id, $key AS key FROM mmins)"""
  }

  // TextFunctions.simhashMd5 replica: per (doc, token), 64 sign bits
  // from md5 hex digits (bit b = bit b%4 of digit b/4); per doc, the
  // 64 summed signs concatenate into the '0'/'1' signature string.
  // Generated programmatically — 64 CASE expressions per stage.
  private val SimhashMd5Ctes: String = {
    val bits = (0 until 64).map { b =>
      val pos = b / 4 + 1
      val k = b % 4
      s"CASE WHEN (((strpos('0123456789abcdef', substr(md5(tok), $pos, 1)) - 1) >> $k) & 1) = 1 THEN 1 ELSE -1 END AS b$b"
    }.mkString(", ")
    val sig = (0 until 64)
      .map(b => s"CASE WHEN sum(b$b) > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""toks AS (
           SELECT doc_id, unnest($TokSql) AS tok FROM documents),
         bits AS (SELECT doc_id, $bits FROM toks),
         sigs AS (SELECT doc_id, $sig AS key FROM bits GROUP BY doc_id)"""
  }

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "q_dedup_scoped" ->
      """SELECT source, md5(text) AS content_hash,
         min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY source, md5(text)""",
    "q_dedup_incremental" ->
      """WITH idx AS (
           SELECT md5(text) AS content_hash FROM documents WHERE doc_id < 250),
         b AS (
           SELECT doc_id, lang, md5(text) AS content_hash,
                  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents WHERE doc_id >= 250)
         SELECT doc_id, content_hash, lang FROM b
         WHERE rn = 1
           AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.content_hash = b.content_hash)""",
    "q_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
         FROM documents""",
    "q_normalize" ->
      """SELECT doc_id,
           nfc_normalize('Cafe' || chr(769) || ' nai' || chr(776) || 've ' || text) AS nfc_text,
           strip_accents('Cafe' || chr(769) || ' nai' || chr(776) || 've ' || text) AS stripped,
           length(nfc_normalize('Cafe' || chr(769) || ' nai' || chr(776) || 've ' || text)) AS nfc_len,
           length('Cafe' || chr(769) || ' nai' || chr(776) || 've ' || text) AS orig_len
         FROM documents""",
    "q_token_count" ->
      s"""SELECT doc_id,
          len($TokSql) AS n_ws,
          len(regexp_extract_all(text, '${TF.BpePattern}')) AS n_bpe
          FROM documents""",
    // replays the exact merge algorithm: sentinel-spaced chars, then
    // rank-ordered literal replace of " a b " with " ab " — DuckDB's
    // replace() has the same leftmost-non-overlapping semantics as the
    // Spark/JVM implementations, so counts are identical by construction
    "q_token_bpe" ->
      s"""SELECT doc_id, $BpeNTokSql AS n_bpe FROM documents""",
    // per-language budget measured in TRUE BPE tokens — the budget
    // operators no longer depend on the whitespace approximation
    "q_budget_bpe" ->
      s"""SELECT doc_id, lang, n_tok, cum_n_tok FROM (
           SELECT doc_id, lang, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n_tok
           FROM (SELECT doc_id, lang, $BpeNTokSql AS n_tok FROM documents))
         WHERE cum_n_tok <= 2000""",
    "q_text_quality" ->
      s"""SELECT doc_id,
          length(text) AS n_chars,
          round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                / greatest(length(text), 1), 4) AS punct_ratio,
          round(${hitsSql(TF.Stopwords.flatMap(_._2))} * 1.0
                / greatest(len($TokSql), 1), 4) AS stop_ratio
          FROM documents""",
    "q_quality_score" ->
      s"""SELECT doc_id, quality FROM ($ScoredDocsSql)""",
    // repetition signals: DuckDB computes them the relational way
    // (unnest + group) — same numbers, different plan class; tokens
    // contain no whitespace, so the space-joined 2-gram is unambiguous
    "q_repetition_2gram" ->
      s"""WITH t0 AS (SELECT doc_id, $TokSql AS t FROM documents),
          uni AS (
            SELECT doc_id, CAST(sum(c) AS INT) AS n, max(c) AS top1 FROM (
              SELECT doc_id, word, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS word FROM t0)
              GROUP BY doc_id, word)
            GROUP BY doc_id),
          gr AS (
            SELECT doc_id, count(*) AS n2,
                   count(*) - count(DISTINCT g) AS dup2 FROM (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i + 1])) AS g
              FROM t0)
            GROUP BY doc_id)
          SELECT t0.doc_id,
            CAST(coalesce(uni.n, 0) AS INT) AS n_words,
            round(CASE WHEN coalesce(uni.n, 0) > 0
                  THEN uni.top1 / CAST(uni.n AS DOUBLE) ELSE 0 END, 4) + 0.0
              AS top_unigram_frac,
            round(CASE WHEN coalesce(gr.n2, 0) > 0
                  THEN gr.dup2 / CAST(gr.n2 AS DOUBLE) ELSE 0 END, 4) + 0.0
              AS dup_2gram_frac
          FROM t0 LEFT JOIN uni USING (doc_id) LEFT JOIN gr USING (doc_id)""",
    // 3/4-gram replicas of the 2-gram duplicate-fraction oracle
    "q_repetition_ngram" ->
      s"""WITH t0 AS (SELECT doc_id, $TokSql AS t FROM documents),
          g3 AS (
            SELECT doc_id, count(*) AS n3,
                   count(*) - count(DISTINCT g) AS dup3 FROM (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
              FROM t0)
            GROUP BY doc_id),
          g4 AS (
            SELECT doc_id, count(*) AS n4,
                   count(*) - count(DISTINCT g) AS dup4 FROM (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t) - 2),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS g
              FROM t0)
            GROUP BY doc_id)
          SELECT t0.doc_id,
            CAST(coalesce(g3.n3, 0) AS INT) AS n_3grams,
            round(CASE WHEN coalesce(g3.n3, 0) > 0
                  THEN g3.dup3 / CAST(g3.n3 AS DOUBLE) ELSE 0 END, 4) + 0.0
              AS dup_3gram_frac,
            round(CASE WHEN coalesce(g4.n4, 0) > 0
                  THEN g4.dup4 / CAST(g4.n4 AS DOUBLE) ELSE 0 END, 4) + 0.0
              AS dup_4gram_frac
          FROM t0 LEFT JOIN g3 USING (doc_id) LEFT JOIN g4 USING (doc_id)""",
    // quality-ordered token budget: the BEST documents fill each
    // language's budget first; the 4dp-rounded score is bit-identical
    // in both engines, so the cut order is deterministic
    "q_budget_quality" ->
      s"""SELECT doc_id, lang, quality, n_tok, cum_n_tok FROM (
           SELECT doc_id, lang, quality, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang
                  ORDER BY quality DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n_tok
           FROM (SELECT doc_id, lang, quality, len($TokSql) AS n_tok
                 FROM ($ScoredDocsSql)))
         WHERE cum_n_tok <= 2000""",
    "q_lang_id" -> {
      val langs = TF.Stopwords.map(_._1)
      val hitCols = TF.Stopwords.zipWithIndex
        .map { case ((_, words), i) => s"${hitsSql(words)} AS h$i" }
        .mkString(", ")
      val branches = langs.zipWithIndex.init.map { case (lang, i) =>
        val conds = ((i + 1) until langs.length).map(j => s"h$i >= h$j").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString(" ")
      s"""SELECT doc_id, CASE $branches ELSE '${langs.last}' END AS pred_lang
          FROM (SELECT doc_id, $hitCols FROM documents)"""
    },
    "q_dedup_jaccard" -> JaccardPairsSql,
    "q_dedup_threshold_curve" ->
      s"""WITH jp AS (${jaccardPairsSqlAt(0.3)})
         SELECT floor(jaccard * 10.0) / 10.0 AS bin_lo, count(*) AS n_pairs
         FROM jp GROUP BY 1""",
    // 3-gram windows via the same slice convention as the 5-gram
    // replica (short docs collapse to one whole-doc shingle); the join
    // is on the shingle STRING where the Spark side joins XXH64 hashes
    "q_contamination_score" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
           FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 2, 1) + 1)) AS i) t),
         bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
         cur AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM cur GROUP BY doc_id),
         hit AS (SELECT cur.doc_id, count(*) AS n_hit
                 FROM cur JOIN bench USING (s) GROUP BY cur.doc_id)
         SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_shingles, 4) AS contamination
         FROM tot LEFT JOIN hit USING (doc_id)""",
    // replicates Dedup.cosinePairsLsh exactly: sign-bit band buckets
    // are pure comparisons + integer packing (no float arithmetic), so
    // both engines build identical candidate sets — the sum-of-powers
    // form below equals Spark's acc*2+bit left fold for a fixed band
    // width — including the mega-bucket cap (Dedup.bucketPairs
    // maxBucketSize=100000) and the auto-derived band width
    // (Dedup.autoBitsPerBand): `length(bin((n + 63) // 64 - 1))` is the
    // same integer bitLength Spark computes via numberOfLeadingZeros,
    // so no float log2 can desync the engines at a power-of-two corpus.
    "q_dedup_cosine" -> {
      val bands = 4
      s"""WITH p AS (
           SELECT CAST(least(greatest(length(bin((count(*) + 63) // 64 - 1)), 1), 16) AS INT) AS bits
           FROM embeddings),
         bd AS (SELECT unnest(range(0, $bands)) AS band),
         banded AS (
           SELECT e.vec_id AS id, bd.band AS band,
                  list_sum(list_transform(range(0, p.bits),
                    i -> CASE WHEN e.embedding[bd.band * p.bits + i + 1] >= 0
                         THEN (CAST(1 AS BIGINT) << (p.bits - 1 - i)) ELSE 0 END)) AS bucket
           FROM embeddings e, p, bd),
         capped AS (
           SELECT id, band, bucket FROM (
             SELECT id, band, bucket,
                    count(*) OVER (PARTITION BY band, bucket) AS bs
             FROM banded)
           WHERE bs <= 100000),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM capped a JOIN capped b
             ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
         SELECT id_a, id_b, cos FROM (
           SELECT id_a, id_b,
                  round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                               CAST(eb.embedding AS DOUBLE[])), 6) AS cos
           FROM cand
           JOIN embeddings ea ON cand.id_a = ea.vec_id
           JOIN embeddings eb ON cand.id_b = eb.vec_id)
         WHERE cos >= 0.4"""
    },
    // cap replica: a windowed-count filter drops every label of more
    // than 100000 rows, as Dedup.bucketPairs' maxBucketSize does, so a
    // degenerate label past the cap drops identically in both engines
    "q_dedup_cosine_bucketed" ->
      """WITH capped AS (
           SELECT vec_id, label, embedding FROM (
             SELECT vec_id, label, embedding,
                    count(*) OVER (PARTITION BY label) AS bs
             FROM embeddings)
           WHERE bs <= 100000)
         SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
           FROM capped a JOIN capped b
             ON a.label = b.label AND a.vec_id < b.vec_id)
         WHERE cos >= 0.4""",
    "q_ann_bruteforce" ->
      """SELECT qid, cid, sim, rank FROM (
           SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
           FROM (
             SELECT q.vec_id AS qid, c.vec_id AS cid,
                    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) + 0 AS sim
             FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id))
         WHERE rank <= 5""",
    // the brute-force replica with the informative band applied between
    // scoring and ranking, exactly like the Spark plan
    "q_ann_negatives" ->
      """SELECT qid, cid, sim, rank FROM (
           SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
           FROM (
             SELECT q.vec_id AS qid, c.vec_id AS cid,
                    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) + 0 AS sim
             FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
           WHERE sim >= 0.2 AND sim < 0.8)
         WHERE rank <= 5""",
    // full-probe IVF == brute force, whatever the trained centroids are
    "q_ann_ivf_exact" ->
      """SELECT qid, cid, sim, rank FROM (
           SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
           FROM (
             SELECT q.vec_id AS qid, c.vec_id AS cid,
                    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) + 0 AS sim
             FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id))
         WHERE rank <= 5""",
    // exact rerank over the full ADC candidate set == brute force,
    // whatever the trained codebooks are
    "q_ann_pq_rerank" ->
      """SELECT qid, cid, sim, rank FROM (
           SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
           FROM (
             SELECT q.vec_id AS qid, c.vec_id AS cid,
                    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) + 0 AS sim
             FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id))
         WHERE rank <= 5""",
    "q_multimodal" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
         FROM documents""",
    // rank over the 4dp-rounded score with a token tie-break — raw
    // doubles would let a ulp of ln() reorder near-ties across engines
    "q_tfidf" ->
      s"""WITH toks AS (
           SELECT doc_id AS id, unnest($TokSql) AS token FROM documents),
         tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT id, token, round(tf * ln(n.n * 1.0 / df.df), 4) AS tfidf
           FROM tf JOIN df USING (token), n)
         SELECT id, token, tfidf FROM (
           SELECT id, token, tfidf,
                  row_number() OVER (PARTITION BY id
                                     ORDER BY tfidf DESC, token) AS rn
           FROM scored)
         WHERE rn <= 3""",
    "q_decontaminate" ->
      s"""WITH toks AS (
           SELECT doc_id, $TokSql AS tk
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS s
           FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 4, 1) + 1)) AS i) t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         capped_c AS (
           SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS f
             FROM sh WHERE doc_id >= 50)
           WHERE f <= 1000),
         inter AS (
           SELECT c.doc_id AS id_c, p.doc_id AS id_p, count(*) AS i
           FROM capped_c c JOIN sh p ON c.s = p.s AND p.doc_id < 50
           GROUP BY 1, 2)
         SELECT id_c, id_p, jaccard, containment FROM (
           SELECT id_c, id_p,
                  round(i * 1.0 / (nc.n + np.n - i), 4) AS jaccard,
                  round(i * 1.0 / np.n, 4) AS containment
           FROM inter
           JOIN sizes nc ON id_c = nc.doc_id
           JOIN sizes np ON id_p = np.doc_id)
         WHERE containment >= 0.2""",
    // unit-dedup replica: windows over the exact unit string stand in
    // for Spark's per-hash agg (identical up to xxhash64 collision);
    // literal-separator split+join round-trips, so rebuilding every doc
    // equals Spark's rebuild-only-changed-docs
    "q_dedup_lines" ->
      """WITH ls AS (
           SELECT doc_id, string_split(text, '. ') AS us FROM documents),
         u AS (
           SELECT doc_id, i, us[i] AS u
           FROM ls, LATERAL (SELECT unnest(range(1, len(us) + 1)) AS i) t),
         flag AS (
           SELECT doc_id, i, u,
                  CASE WHEN length(u) >= 15
                       THEN count(*) OVER (PARTITION BY u) END AS cnt,
                  CASE WHEN length(u) >= 15
                       THEN row_number() OVER (PARTITION BY u ORDER BY doc_id, i) END AS rn
           FROM u),
         kept AS (
           SELECT doc_id, i, u FROM flag
           WHERE cnt IS NULL OR cnt = 1 OR rn = 1),
         reb AS (
           SELECT doc_id, string_agg(u, '. ' ORDER BY i) AS text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
                CASE WHEN d.text IS NULL THEN NULL
                     ELSE coalesce(r.text, '') END AS text
         FROM documents d LEFT JOIN reb r USING (doc_id)""",
    // same script classes in RE2 (\p{Cyrillic}) as Java (\p{IsCyrillic})
    "q_script_ratio" ->
      """WITH d0 AS (
           SELECT doc_id, text || ' Привет мир Γεια 你好世界' AS t FROM documents)
         SELECT doc_id,
           CAST(length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')) AS INT) AS n_cyrillic,
           CAST(length(regexp_replace(t, '[^\p{Han}]', '', 'g')) AS INT) AS n_han,
           CASE WHEN length(t) > 0
                THEN round(length(regexp_replace(t, '[^\p{Greek}]', '', 'g'))
                     / CAST(length(t) AS DOUBLE), 4) + 0.0
                ELSE 0.0 END AS greek_ratio,
           CASE WHEN length(t) > 0
                THEN round(length(regexp_replace(t, '[^\p{Latin}]', '', 'g'))
                     / CAST(length(t) AS DOUBLE), 4) + 0.0
                ELSE 0.0 END AS latin_ratio
         FROM d0""",
    // the repaired text is the clean suffix appended to the (ASCII)
    // body — no mojibake machinery needed on the oracle side
    "q_fix_mojibake" ->
      "SELECT doc_id, text || ' café naïve — déjà vu' AS fixed FROM documents",
    // paragraph replica of the q_dedup_lines oracle: same planted text,
    // blank-line units, first-(doc,pos)-occurrence keeps
    "q_dedup_paragraphs" ->
      """WITH d0 AS (
           SELECT doc_id,
                  'Shared boilerplate header paragraph planted on every document'
                    || chr(10) || chr(10)
                    || replace(text, ' merge ', chr(10) || chr(10) || 'merge ') AS text
           FROM documents),
         ls AS (
           SELECT doc_id, string_split(text, chr(10) || chr(10)) AS us FROM d0),
         u AS (
           SELECT doc_id, i, us[i] AS u
           FROM ls, LATERAL (SELECT unnest(range(1, len(us) + 1)) AS i) t),
         flag AS (
           SELECT doc_id, i, u,
                  CASE WHEN length(u) >= 30
                       THEN count(*) OVER (PARTITION BY u) END AS cnt,
                  CASE WHEN length(u) >= 30
                       THEN row_number() OVER (PARTITION BY u ORDER BY doc_id, i) END AS rn
           FROM u),
         kept AS (
           SELECT doc_id, i, u FROM flag
           WHERE cnt IS NULL OR cnt = 1 OR rn = 1),
         reb AS (
           SELECT doc_id, string_agg(u, chr(10) || chr(10) ORDER BY i) AS text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
                CASE WHEN d.text IS NULL THEN NULL
                     ELSE coalesce(r.text, '') END AS text
         FROM d0 d LEFT JOIN reb r USING (doc_id)""",
    // same flagged set as q_decontaminate, anti-joined back onto the
    // corpus half (NOT EXISTS: null-safe anti-join semantics)
    "q_decontaminate_bloom" ->
      s"""WITH toks AS (
           SELECT doc_id, $TokSql AS tk
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS s
           FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 4, 1) + 1)) AS i) t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         capped_c AS (
           SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS f
             FROM sh WHERE doc_id >= 50)
           WHERE f <= 1000),
         inter AS (
           SELECT c.doc_id AS id_c, p.doc_id AS id_p, count(*) AS i
           FROM capped_c c JOIN sh p ON c.s = p.s AND p.doc_id < 50
           GROUP BY 1, 2),
         flagged AS (
           SELECT DISTINCT id_c FROM (
             SELECT id_c, round(i * 1.0 / np.n, 4) AS containment
             FROM inter JOIN sizes np ON id_p = np.doc_id)
           WHERE containment >= 0.2)
         SELECT d.doc_id, d.lang FROM documents d
         WHERE d.doc_id >= 50
           AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.id_c = d.doc_id)""",
    // backslashes interpolate raw: DuckDB single-quoted strings have no
    // escape processing, so RE2 sees the same pattern Java does
    "q_redact" ->
      s"""SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(text,
            '${TF.EmailRe}', '<EMAIL>', 'g'),
            '${TF.Ipv4Re}', '<IP>', 'g'),
            '${TF.PhoneRe}', '<PHONE>', 'g') AS clean_text
          FROM documents""",
    // health replica: reason from the gate CTE, quality/markup/tokens
    // recomputed per doc with the SAME rounding the drill-down oracles
    // use, then averaged
    "q_corpus_health" ->
      s"""WITH r AS ($ReasonedDocsSql),
         p AS (
           SELECT doc_id, reason, text,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(text), 1) AS DOUBLE) AS punct
           FROM r),
         s AS (
           SELECT reason,
             round((least(CAST(len($TokSql) AS DOUBLE) / 200.0, 1.0)
                    + (CASE WHEN punct > 0.2 THEN 0.0 ELSE 1.0 - punct * 2.5 END)
                    + least((CAST(${hitsSql(TF.Stopwords.flatMap(_._2))} AS DOUBLE)
                             / CAST(greatest(len($TokSql), 1) AS DOUBLE)) * 4.0, 1.0))
                   / 3.0, 4) AS quality,
             CASE WHEN length(text) > 0
               THEN round(CAST(length(text)
                      - length(regexp_replace(text, '<[^<>]*>', '', 'g')) AS DOUBLE)
                    / length(text), 4)
               ELSE 0.0 END AS markup,
             len($TokSql) AS n_tok
           FROM p)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(CASE WHEN reason = 'ok' THEN 1.0 ELSE 0.0 END) / count(*), 4)
             AS gate_pass_frac,
           round(avg(quality), 4) AS mean_quality,
           round(avg(markup), 4) AS mean_markup,
           round(avg(CAST(n_tok AS DOUBLE)), 4) AS mean_tokens
         FROM s""",
    // the q_corpus_health replica with `source` joined through and a
    // GROUP BY — one dashboard row per source
    "q_health_by_source" ->
      s"""WITH r AS ($ReasonedDocsSql),
         p AS (
           SELECT r.doc_id, d.source, r.reason, r.text,
             CAST(length(regexp_replace(r.text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(r.text), 1) AS DOUBLE) AS punct
           FROM r JOIN documents d USING (doc_id)),
         s AS (
           SELECT source, reason,
             round((least(CAST(len($TokSql) AS DOUBLE) / 200.0, 1.0)
                    + (CASE WHEN punct > 0.2 THEN 0.0 ELSE 1.0 - punct * 2.5 END)
                    + least((CAST(${hitsSql(TF.Stopwords.flatMap(_._2))} AS DOUBLE)
                             / CAST(greatest(len($TokSql), 1) AS DOUBLE)) * 4.0, 1.0))
                   / 3.0, 4) AS quality,
             CASE WHEN length(text) > 0
               THEN round(CAST(length(text)
                      - length(regexp_replace(text, '<[^<>]*>', '', 'g')) AS DOUBLE)
                    / length(text), 4)
               ELSE 0.0 END AS markup,
             len($TokSql) AS n_tok
           FROM p)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(CASE WHEN reason = 'ok' THEN 1.0 ELSE 0.0 END) / count(*), 4)
             AS gate_pass_frac,
           round(avg(quality), 4) AS mean_quality,
           round(avg(markup), 4) AS mean_markup,
           round(avg(CAST(n_tok AS DOUBLE)), 4) AS mean_tokens
         FROM s GROUP BY source""",
    "q_pii_stats" ->
      s"""WITH p AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
                    text || ' contact a.b@c.org or x@y.io from 10.0.0.1 call 555-123-4567'
                  WHEN doc_id % 3 = 1 THEN 'from 192.168.0.1: ' || text
                  ELSE text END AS t
           FROM documents),
         r AS (
           SELECT doc_id, t,
             regexp_replace(t, '${TF.EmailRe}', '<EMAIL>', 'g') AS after_email
           FROM p)
         SELECT doc_id,
           len(regexp_extract_all(t, '${TF.EmailRe}')) AS n_emails,
           len(regexp_extract_all(after_email, '${TF.Ipv4Re}')) AS n_ips,
           len(regexp_extract_all(
             regexp_replace(after_email, '${TF.Ipv4Re}', '<IP>', 'g'),
             '${TF.PhoneRe}')) AS n_phones
         FROM r""",
    // shard replica: identical nibble arithmetic over the md5 hex of
    // the key's string rendering — no engine-specific hash anywhere
    "q_shard" ->
      """SELECT doc_id,
         CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 8
           AS INTEGER) AS shard
         FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
               FROM documents)""",
    // chained-replace replica of the trie pass — equal because the
    // pattern set is overlap-free (see the q_replace_many query note)
    "q_replace_many" ->
      """SELECT doc_id,
          replace(replace(replace(text,
            'customer query', '[CQ]'),
            'spark', '[ENGINE]'),
            'slow', '[SLOW]') AS scrubbed
          FROM documents""",
    // same deletion arithmetic; DuckDB regexp_replace needs the 'g'
    // flag to delete EVERY tag span (Spark's replaces all by default)
    "q_markup" ->
      """SELECT doc_id,
           CASE WHEN length(text) > 0
             THEN round(CAST(length(text) - length(regexp_replace(text, '<[^<>]*>', '', 'g')) AS DOUBLE)
                        / length(text), 4)
             ELSE 0.0 END AS markup_ratio
         FROM documents""",

    // regex replica of the trie extraction: RE2 alternation is
    // leftmost-FIRST-alternative, so listing the overlapping pair
    // longest first ("customer query" before "customer") reproduces
    // the trie's longest-at-position choice; both engines resume
    // after each match end (non-overlapping)
    "q_extract_many" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, 'customer query|customer|spark|slow'))
             AS n_matches,
           coalesce(array_to_string(
             regexp_extract_all(text, 'customer query|customer|spark|slow'), '|'), '')
             AS matches
         FROM documents""",
    "q_str_contains_any" ->
      """SELECT doc_id,
           (contains(text, 'customer') OR contains(text, 'spark')
             OR contains(text, 'zzzz-never')) AS hit
         FROM documents""",
    // gaps-and-islands replica: µs epochs are integers in both engines
    // (ns ts truncated to µs), so the gap test and the running break
    // sum are exact; only sum_value is float and it is rounded like
    // every aggregate oracle. Window order (us, event_id) == Spark's
    // (ts, event_id) because both sides see µs-truncated time.
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, value,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
           FROM events),
         b AS (
           SELECT user_id, event_id, us, value,
                  CASE WHEN us - lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, us, value,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
           FROM b)
         SELECT user_id, CAST(seq - 1 AS BIGINT) AS session_seq,
                count(*) AS n_events,
                max(us) - min(us) AS duration_us,
                round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, seq""",
    "q_vocab" ->
      s"""SELECT token, count(*) AS tf, count(DISTINCT id) AS df
          FROM (SELECT doc_id AS id, unnest($TokSql) AS token FROM documents)
          GROUP BY token ORDER BY tf DESC, token LIMIT 100""",
    // direct per-token cumulative-sum formulation — provably equal to
    // the Spark side's count-class arithmetic (within a count class
    // the crossing position is order-independent), and every compare
    // is (exact-integer cum : double) >= level * T on both engines
    "q_vocab_coverage" ->
      s"""WITH toks AS (SELECT $TokSql AS tk FROM documents),
         t AS (SELECT unnest(tk) AS w FROM toks),
         u AS (SELECT w, count(*) AS c FROM t GROUP BY w),
         r AS (SELECT row_number() OVER (ORDER BY c DESC, w ASC) AS rn,
                 sum(c) OVER (ORDER BY c DESC, w ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
               FROM u),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS T FROM u),
         lv AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS level)
         SELECT level, CAST(min(rn) AS BIGINT) AS n_types,
           CAST(min(cum) AS BIGINT) AS covered_tokens
         FROM r, tot, lv
         WHERE CAST(cum AS DOUBLE) >= level * T
         GROUP BY level""",
    // integer sums on both sides; the BpePattern interpolates verbatim
    // (RE2 compiles the same \\p classes Java does -- the q_token_count
    // precedent)
    "q_tokenizer_fertility" ->
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(len($TokSql)) AS BIGINT) AS n_words,
         CAST(sum(len(regexp_extract_all(text, '${TF.BpePattern}'))) AS BIGINT)
           AS n_tokens,
         CASE WHEN sum(len($TokSql)) > 0 THEN
           round(CAST(sum(len(regexp_extract_all(text, '${TF.BpePattern}'))) AS DOUBLE)
                 / sum(len($TokSql)), 4) END AS fertility,
         CASE WHEN sum(len(regexp_extract_all(text, '${TF.BpePattern}'))) > 0 THEN
           round(CAST(sum(length(text)) AS DOUBLE)
                 / sum(len(regexp_extract_all(text, '${TF.BpePattern}'))), 4) END
           AS chars_per_token
         FROM documents GROUP BY lang""",
    // dsirLogWeights replica: same md5 13-hex-char buckets, Laplace
    // smoothing parenthesized exactly like the Spark AST, full-join
    // ratio table, per-doc count-weighted sum
    "q_dsir_weights" ->
      s"""WITH $DsirWeightCtes
         SELECT doc_id, count(*) AS n_toks, round(sum(lr), 4) + 0 AS logw
         FROM dt JOIN ratio USING (b) GROUP BY doc_id""",
    // dsirLogWeightsByDomain replica: per-domain target bucket counts,
    // a domain × raw-bucket grid with the same Laplace floor, and the
    // per-doc bucket-count contraction (sum(c*lr), n_toks cast — the
    // HUGEINT widening lesson)
    "q_dsir_by_domain" ->
      s"""WITH $DsirDomainCtes
         SELECT doc_id, domain, CAST(sum(c) AS BIGINT) AS n_toks,
           round(sum(c * lr), 4) + 0 AS logw
         FROM db JOIN grid USING (b) GROUP BY doc_id, domain""",
    // dsirSampleByDomain replica: per-domain rank over the SAME
    // rounded logw + Gumbel key (one deterministic u per doc, shared
    // across domains). The salted two-phase Spark plan computes the
    // identical per-domain top-k, so a plain window rank is the oracle
    "q_dsir_sample_domain" ->
      s"""WITH $DsirDomainCtes,
         w AS (
           SELECT doc_id, domain, CAST(sum(c) AS BIGINT) AS n_toks,
             round(sum(c * lr), 4) + 0 AS logw
           FROM db JOIN grid USING (b) GROUP BY doc_id, domain)
         SELECT doc_id, domain, n_toks, logw FROM (
           SELECT *, row_number() OVER (PARTITION BY domain
             ORDER BY logw - ln(-ln(
               (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
               / 4503599627370496.0)) DESC, doc_id) AS rn
           FROM w)
         WHERE rn <= 20""",
    // dsirScoreFrozen replica: the same ratio CTEs, every document
    // scored by summing per-token log-ratios (buckets outside the
    // fitted table fall back to 0 — the OOV path), LEFT JOIN so a
    // zero-token doc still scores 0.0 like the scan-local column does
    "q_dsir_frozen" ->
      s"""WITH $DsirWeightCtes,
         alld AS (SELECT doc_id, $TokSql AS l FROM documents),
         adt AS (
           SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
           FROM (SELECT doc_id, unnest(l) AS tok FROM alld)),
         sc AS (
           SELECT adt.doc_id, coalesce(ratio.lr, 0.0) AS lr
           FROM adt LEFT JOIN ratio USING (b))
         SELECT d.doc_id, round(coalesce(sum(sc.lr), 0.0), 4) + 0 AS logw_frozen
         FROM alld d LEFT JOIN sc ON sc.doc_id = d.doc_id
         GROUP BY d.doc_id""",
    // dsirScoreFrozenByDomain replica: the by-domain grid CTEs, every
    // document × every fitted domain (cross join), per-doc token
    // buckets inner-joined to the grid so buckets outside it fall back
    // to 0 (the OOV path), LEFT JOIN + coalesce so a zero-token doc
    // still scores 0.0 against every domain
    "q_dsir_frozen_domain" ->
      s"""WITH $DsirDomainCtes,
         alld AS (SELECT doc_id, $TokSql AS l FROM documents),
         adt AS (
           SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 256 AS b
           FROM (SELECT doc_id, unnest(l) AS tok FROM alld)),
         doms AS (SELECT DISTINCT domain FROM grid),
         sc AS (
           SELECT adt.doc_id, g.domain, sum(g.lr) AS s
           FROM adt JOIN grid g USING (b)
           GROUP BY adt.doc_id, g.domain)
         SELECT d.doc_id, doms.domain, round(coalesce(sc.s, 0.0), 4) + 0 AS logw_frozen
         FROM alld d CROSS JOIN doms
         LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.domain = doms.domain""",
    // the weights replica + the Gumbel-max key over the family's
    // md5-uniform -- same draw, same top-k
    "q_dsir_sample" ->
      s"""WITH $DsirWeightCtes,
         w AS (
           SELECT doc_id, count(*) AS n_toks, round(sum(lr), 4) + 0 AS logw
           FROM dt JOIN ratio USING (b) GROUP BY doc_id)
         SELECT doc_id, n_toks, logw FROM w
         ORDER BY logw - ln(-ln(
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
             / 4503599627370496.0)) DESC, doc_id
         LIMIT 100""",
    // identical raw-moment parenthesization to Vocab.zipfSlope; ranks
    // are (count desc, token asc) row numbers over the same top-1k cut
    "q_zipf_slope" ->
      s"""WITH toks AS (SELECT $TokSql AS tk FROM documents),
         t AS (SELECT unnest(tk) AS w FROM toks),
         u AS (SELECT w, count(*) AS c FROM t GROUP BY w),
         top AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r
                 FROM u ORDER BY c DESC, w ASC LIMIT 1000),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 sum(ln(CAST(r AS DOUBLE))) AS sx,
                 sum(ln(CAST(c AS DOUBLE))) AS sy,
                 sum(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS sxy,
                 sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx
               FROM top)
         SELECT CAST(n AS BIGINT) AS n_ranks,
           CASE WHEN n > 1 THEN
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0 END
             AS zipf_slope,
           CASE WHEN n > 1 THEN
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
               + 0 END AS zipf_intercept
         FROM s""",
    // bigram-LM replica: same scan-side pair construction (list tail
    // zip), same two-level counts and count-weighted average
    "q_lm_bigram" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS l FROM documents),
         bg AS (
           SELECT doc_id, z[1] AS p, z[2] AS w
           FROM (SELECT doc_id,
                   unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
                 FROM toks WHERE len(l) >= 2)),
         dbg AS (SELECT doc_id, p, w, count(*) AS c FROM bg GROUP BY 1, 2, 3),
         c2 AS (SELECT p, w, sum(c) AS c2 FROM dbg GROUP BY p, w),
         c1 AS (SELECT p, sum(c2) AS c1 FROM c2 GROUP BY p)
         SELECT dbg.doc_id,
           round(sum(dbg.c * ln(CAST(c2.c2 AS DOUBLE) / c1.c1)) / sum(dbg.c), 4) + 0
             AS lm2_score,
           CAST(sum(dbg.c) AS BIGINT) AS n_transitions
         FROM dbg JOIN c2 USING (p, w) JOIN c1 USING (p)
         GROUP BY dbg.doc_id""",
    // trigram replica: every count is a marginal of the one trigram
    // table; parenthesization of the λ-mix matches the Spark AST so
    // the doubles agree bit-for-bit before the 4dp round. MATERIALIZED
    // is load-bearing: DuckDB inlines plain CTEs per reference, and
    // c3's lineage is referenced five times — inlined, the re-expanded
    // tree re-tokenizes the corpus per reference and the check runs
    // out of memory
    "q_lm_trigram" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $TokSql AS l FROM documents),
         tg AS MATERIALIZED (
           SELECT doc_id, z[1] AS u, z[2] AS v, z[3] AS w
           FROM (SELECT doc_id,
                   unnest(list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)])) AS z
                 FROM toks WHERE len(l) >= 3)),
         dtg AS MATERIALIZED (SELECT doc_id, u, v, w, count(*) AS c FROM tg GROUP BY 1, 2, 3, 4),
         c3 AS MATERIALIZED (SELECT u, v, w, sum(c) AS c3 FROM dtg GROUP BY u, v, w),
         c12 AS MATERIALIZED (SELECT u, v, sum(c3) AS c12 FROM c3 GROUP BY u, v),
         c23 AS MATERIALIZED (SELECT v, w, sum(c3) AS c23 FROM c3 GROUP BY v, w),
         c2m AS MATERIALIZED (SELECT v, sum(c23) AS c2m FROM c23 GROUP BY v),
         cw AS MATERIALIZED (SELECT w, sum(c23) AS cw FROM c23 GROUP BY w),
         tot AS (SELECT CAST(sum(c3) AS DOUBLE) AS t FROM c3)
         SELECT dtg.doc_id,
           round(sum(dtg.c * ln(
               0.6 * (CAST(c3.c3 AS DOUBLE) / c12.c12)
             + 0.3 * (CAST(c23.c23 AS DOUBLE) / c2m.c2m)
             + 0.1 * (CAST(cw.cw AS DOUBLE) / tot.t))) / sum(dtg.c), 4) + 0
             AS lm3_score,
           CAST(sum(dtg.c) AS BIGINT) AS n_transitions
         FROM dtg JOIN c3 USING (u, v, w) JOIN c12 USING (u, v)
              JOIN c23 USING (v, w) JOIN c2m USING (v) JOIN cw USING (w)
              CROSS JOIN tot
         GROUP BY dtg.doc_id""",

    // novelty replica: distinct model trigrams from the first-half
    // slice, left-joined per occurrence; explicit ON (not USING) so
    // the null probe tests the model side, not a coalesced key
    "q_novelty" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $TokSql AS l FROM documents),
         tg AS MATERIALIZED (
           SELECT doc_id, z[1] AS u, z[2] AS v, z[3] AS w
           FROM (SELECT doc_id,
                   unnest(list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)])) AS z
                 FROM toks WHERE len(l) >= 3)),
         model AS MATERIALIZED (
           SELECT u, v, w FROM tg WHERE doc_id < 250 GROUP BY u, v, w)
         SELECT tg.doc_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(CASE WHEN m.u IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN m.u IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS novelty
         FROM tg LEFT JOIN model m
           ON tg.u = m.u AND tg.v = m.v AND tg.w = m.w
         WHERE tg.doc_id >= 250
         GROUP BY tg.doc_id""",

    // OOV replica: same (doc, token) counts; vocabulary = top-1000 by
    // (count DESC, token ASC) — the tie-break makes the boundary of
    // the top-k identical in both engines
    "q_oov_rate" ->
      s"""WITH dt AS MATERIALIZED (
           SELECT doc_id, token, count(*) AS c
           FROM (SELECT doc_id, unnest($TokSql) AS token FROM documents)
           GROUP BY doc_id, token),
         v AS MATERIALIZED (
           SELECT token FROM (SELECT token, sum(c) AS tf FROM dt GROUP BY token)
           ORDER BY tf DESC, token LIMIT 1000)
         SELECT dt.doc_id,
           CAST(sum(dt.c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN dt.c ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.token IS NULL THEN dt.c ELSE 0 END) AS DOUBLE)
                 / sum(dt.c), 4) AS oov_rate
         FROM dt LEFT JOIN v ON dt.token = v.token
         GROUP BY dt.doc_id""",

    // unigram-LM replica: identical two-level counts, ln(tf/T) under
    // the corpus's own model, count-weighted average per doc
    "q_lm_score" ->
      s"""WITH dt AS (
           SELECT doc_id, token, count(*) AS c
           FROM (SELECT doc_id, unnest($TokSql) AS token FROM documents)
           GROUP BY doc_id, token),
         v AS (SELECT token, sum(c) AS tf FROM dt GROUP BY token),
         tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM v)
         SELECT dt.doc_id,
           round(sum(dt.c * ln(CAST(v.tf AS DOUBLE) / tot.t)) / sum(dt.c), 4) + 0
             AS lm_score
         FROM dt JOIN v USING (token) CROSS JOIN tot
         GROUP BY dt.doc_id""",
    // the q_lm_score replica as a CTE, then per-lang tercile breaks
    // via the q_quantile ranked-window formulation (same 1.0/3 double
    // literals as the Spark side) and the q_qcut when-chain
    "q_ccnet_buckets" ->
      s"""WITH dt AS (
           SELECT doc_id, token, count(*) AS c
           FROM (SELECT doc_id, unnest($TokSql) AS token FROM documents)
           GROUP BY doc_id, token),
         v AS (SELECT token, sum(c) AS tf FROM dt GROUP BY token),
         tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM v),
         scored AS (
           SELECT dt.doc_id,
             round(sum(dt.c * ln(CAST(v.tf AS DOUBLE) / tot.t)) / sum(dt.c), 4) + 0
               AS lm_score
           FROM dt JOIN v USING (token) CROSS JOIN tot
           GROUP BY dt.doc_id),
         sl AS (
           SELECT s.doc_id, d.lang, s.lm_score
           FROM scored s JOIN documents d USING (doc_id)),
         b AS (
           SELECT lang, lm_score AS v,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY lm_score) AS DOUBLE) - 1 AS rn,
             CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS n
           FROM sl),
         breaks AS (
           SELECT lang,
             sum(CASE WHEN rn = floor((n-1)*(1.0/3)) OR rn = ceil((n-1)*(1.0/3))
                      THEN v * (1.0 - abs(rn - (n-1)*(1.0/3))) ELSE 0.0 END) AS p33,
             sum(CASE WHEN rn = floor((n-1)*(2.0/3)) OR rn = ceil((n-1)*(2.0/3))
                      THEN v * (1.0 - abs(rn - (n-1)*(2.0/3))) ELSE 0.0 END) AS p67
           FROM b GROUP BY lang)
         SELECT doc_id, lang, lm_score,
           CASE WHEN lm_score <= p33 THEN 'tail'
                WHEN lm_score <= p67 THEN 'middle'
                ELSE 'head' END AS ppl_bucket
         FROM sl JOIN breaks USING (lang)""",
    // transitive closure of the jaccard pair graph via a recursive CTE:
    // every node's reachable-label set, then min per node — the same
    // fixpoint DedupCluster's min-label propagation converges to
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE
         jp AS ($JaccardPairsSql),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM jp
           UNION
           SELECT id_b AS src, id_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS lbl FROM nodes
           UNION
           SELECT e.src AS id, r.lbl FROM edges e JOIN reach r ON e.dst = r.id)
         SELECT id, min(lbl) AS comp FROM reach GROUP BY id""",
    // same component labels, folded twice: comp → size, size → counts
    "q_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE
         jp AS ($JaccardPairsSql),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM jp
           UNION
           SELECT id_b AS src, id_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS lbl FROM nodes
           UNION
           SELECT e.src AS id, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         comps AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
         szs AS (SELECT comp, count(*) AS sz FROM comps GROUP BY comp)
         SELECT sz AS cluster_size, count(*) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs
         FROM szs GROUP BY sz""",
    // same component labels, then the split = md5 bucket of the
    // cluster representative (singletons hash their own id)
    "q_split_safe" ->
      s"""WITH RECURSIVE
         jp AS ($JaccardPairsSql),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM jp
           UNION
           SELECT id_b AS src, id_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS lbl FROM nodes
           UNION
           SELECT e.src AS id, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         comps AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
         SELECT d.doc_id,
                CASE WHEN substr(md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 1) < '4'
                     THEN 'test' ELSE 'train' END AS split
         FROM documents d LEFT JOIN comps c ON d.doc_id = c.id""",
    // same md5-hex-bucket predicate as the Spark side; the rate-16
    // stratum uses the 'g' sentinel (sorts after every hex digit)
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
           CASE WHEN lang = 'en' THEN '6'
                WHEN lang = 'zh' THEN 'g'
                ELSE 'a' END""",
    // same Efraimidis–Spirakis keys: u from the first 52 md5 bits
    // (exact in a double in both engines), smallest -ln(u)/w win
    "q_sample_weighted" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
         WHERE o_totalprice > 0
         ORDER BY -ln((CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
                      / 4503599627370496.0) / o_totalprice
         LIMIT 100""",
    // same md5-uniform, same Poisson(1) CDF decimal literals — both
    // engines parse them to identical doubles, so every k agrees
    "q_sample_bootstrap" ->
      """WITH u AS (
           SELECT o_orderkey, o_totalprice,
             (CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
               / 4503599627370496.0 AS u
           FROM orders WHERE o_orderkey IS NOT NULL),
         k AS (
           SELECT o_orderkey, o_totalprice,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238463 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  WHEN u < 0.999916758850712 THEN 6
                  ELSE 7 END AS k
           FROM u)
         SELECT o_orderkey, o_totalprice, CAST(r AS BIGINT) AS replicate
         FROM k, LATERAL (SELECT unnest(range(1, k + 1)) AS r) t
         WHERE k > 0""",
    "q_sample_weighted_rate" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
         WHERE o_totalprice > 0
           AND -ln((CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
                   / 4503599627370496.0) / o_totalprice < 2e-7""",
    "q_sample_weighted_strat" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM (
           SELECT o_orderkey, o_custkey, o_orderpriority,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY -ln((CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
                            / 4503599627370496.0) / o_totalprice,
                        o_orderkey) AS rn
           FROM orders WHERE o_totalprice > 0)
         WHERE rn <= 20""",
    "q_repetition" ->
      s"""WITH tf AS (
           SELECT doc_id AS id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest($TokSql) AS tok FROM documents)
           GROUP BY 1, 2)
         SELECT id,
           round(1.0 - count(*) * 1.0 / sum(c), 4) AS dup_ratio,
           round(max(c) * 1.0 / sum(c), 4) AS top_frac
         FROM tf GROUP BY id""",
    // line-signal replica: same planted newlines (literal replace
    // chain), same non-blank-line population, same three ratios
    "q_line_signals" ->
      """WITH p AS (
           SELECT doc_id,
             replace(replace(text, ' merge ', chr(10) || '- merge '),
                     ' slow ', ' slow...' || chr(10)) AS t
           FROM documents),
         l AS (
           SELECT doc_id,
             list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS ls
           FROM p)
         SELECT doc_id,
           round(CAST(len(list_filter(ls,
               x -> substr(ltrim(x), 1, 1) = '-' OR substr(ltrim(x), 1, 1) = '*'
                    OR substr(ltrim(x), 1, 1) = '•')) AS DOUBLE)
             / greatest(len(ls), 1), 4) AS bullet_ratio,
           round(CAST(len(list_filter(ls,
               x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…')))
               AS DOUBLE)
             / greatest(len(ls), 1), 4) AS ellipsis_ratio,
           round(CASE WHEN len(ls) = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
                 END, 4) AS dup_line_ratio,
           len(ls) AS n_lines
         FROM l""",
    // floor(x·scale + 0.5) = explicit half-up rounding — engine round()
    // builtins differ (half-up vs half-even) and never touch the oracle
    // same sequential left-to-right fold order as the Spark aggregate,
    // so the pre-round doubles agree bit-for-bit
    "q_embed_truncate" ->
      """WITH m AS (
           SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
           FROM m),
         r AS (
           SELECT vec_id, nrm,
             CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) END AS rv
           FROM n)
         SELECT vec_id, round(nrm, 6) AS trunc_norm,
           round(list_aggregate(rv, 'sum'), 4) AS renorm_sum,
           round(list_min(rv), 4) AS renorm_min,
           round(list_max(rv), 4) AS renorm_max
         FROM r""",
    "q_embed_quant" ->
      """WITH m AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> abs(x))) AS ma
           FROM embeddings),
         q AS (
           SELECT vec_id, ma,
                  CASE WHEN ma > 0
                    THEN list_transform(v, x -> CAST(floor(x * (127.0 / ma) + 0.5)
                                                     AS BIGINT))
                    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
           FROM m)
         SELECT vec_id, round(ma, 6) AS max_abs,
                CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
                list_min(qv) AS q_min,
                list_max(qv) AS q_max
         FROM q""",
    "q_lang_budget" ->
      s"""SELECT doc_id, lang, n_tok, cum_n_tok FROM (
           SELECT doc_id, lang, len($TokSql) AS n_tok,
             CAST(sum(len($TokSql)) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n_tok
           FROM documents)
         WHERE cum_n_tok <= 2000""",
    // mixture replica: the normalized-weight budgets are pre-computed
    // literals (floor(share × 2000)), matching tokenMixture's when-chain
    "q_mixture" ->
      s"""SELECT doc_id, source, n_tok, cum_n_tok FROM (
           SELECT doc_id, source, len($TokSql) AS n_tok,
             CAST(sum(len($TokSql)) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n_tok
           FROM documents)
         WHERE cum_n_tok <= CASE source WHEN 'src0' THEN 1000
                                        WHEN 'src1' THEN 600
                                        WHEN 'src2' THEN 400
                                        ELSE 0 END""",
    "q_embed_qa" ->
      """WITH p AS (
           SELECT vec_id,
             CASE WHEN vec_id % 13 = 0 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                  WHEN vec_id % 17 = 0 THEN embedding[1:3]
                  WHEN vec_id % 19 = 0 THEN
                    list_concat([CAST('NaN' AS FLOAT)], embedding[2:64])
                  ELSE embedding END AS v
           FROM embeddings)
         SELECT vec_id,
           CASE WHEN v IS NULL THEN 'null_vec'
                WHEN len(v) <> 64 THEN 'wrong_dim'
                WHEN len(list_filter(v, x -> isnan(CAST(x AS DOUBLE))
                       OR abs(CAST(x AS DOUBLE)) > 1e308)) > 0 THEN 'non_finite'
                WHEN len(list_filter(v, x -> CAST(x AS DOUBLE) <> 0.0)) = 0 THEN 'zero'
                ELSE 'ok' END AS reason
         FROM p""",
    "q_drift_by_lang" ->
      s"""WITH o AS (
           SELECT lang AS stratum, unnest($TokSql) AS token
           FROM documents WHERE lang IS NOT NULL),
         n0 AS (
           SELECT lang AS stratum,
             CASE WHEN lang = 'de' THEN text || ' neu wort' ELSE text END AS text
           FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
         nt AS (SELECT stratum, unnest($TokSql) AS token FROM n0),
         oc AS (SELECT stratum, token, count(*) AS c_old FROM o GROUP BY 1, 2),
         ncc AS (SELECT stratum, token, count(*) AS c_new FROM nt GROUP BY 1, 2),
         j AS (
           SELECT coalesce(oc.stratum, ncc.stratum) AS stratum,
                  coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
           FROM oc FULL JOIN ncc
             ON oc.stratum = ncc.stratum AND oc.token = ncc.token),
         tot AS (
           SELECT stratum, count(*) AS v, CAST(sum(c_old) AS BIGINT) AS no,
                  CAST(sum(c_new) AS BIGINT) AS nn
           FROM j GROUP BY stratum),
         p AS (
           SELECT j.stratum,
             ((c_new + 1.0) / (nn + v)) AS pn,
             ((c_old + 1.0) / (no + v)) AS po
           FROM j JOIN tot ON j.stratum = tot.stratum)
         SELECT stratum,
           round(sum(pn * ln(pn / po)), 6) + 0 AS kl_new_vs_old,
           round(sum(po * ln(po / pn)), 6) + 0 AS kl_old_vs_new,
           round(sum(pn * ln(pn / ((pn + po) / 2)) / 2
                   + po * ln(po / ((pn + po) / 2)) / 2), 6) + 0 AS jsd
         FROM p GROUP BY stratum""",
    // epoch-planner replica: targets are the same floor(share × 50000)
    // literals the when-chain bakes in; epochs/caps are exact integer
    // ratios and floors
    "q_mixture_epochs" ->
      s"""WITH c AS (
           SELECT lang AS domain, CAST(sum(len($TokSql)) AS BIGINT) AS available_tokens
           FROM documents WHERE lang IS NOT NULL GROUP BY lang),
         t AS (
           SELECT domain, available_tokens,
             CASE domain WHEN 'en' THEN 25000
                         WHEN 'zh' THEN 15000
                         WHEN 'de' THEN 10000
                         ELSE 0 END AS target_tokens
           FROM c)
         SELECT domain, available_tokens, target_tokens,
           round(target_tokens * 1.0 / greatest(available_tokens, 1), 4) AS epochs,
           least(target_tokens,
                 CAST(floor(available_tokens * 2.0) AS BIGINT)) AS capped_tokens,
           target_tokens > least(target_tokens,
                 CAST(floor(available_tokens * 2.0) AS BIGINT)) AS capped
         FROM t WHERE target_tokens > 0""",
    // temperature-mixture replica: sqrt-of-counts weights normalized in
    // SQL, floor budgets, same per-domain cumulative cut
    "q_mixture_temp" ->
      s"""WITH d AS (
           SELECT doc_id, source, len($TokSql) AS n_tok FROM documents),
         nd AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS n
                FROM d GROUP BY source),
         wts AS (SELECT source, sqrt(n) AS w FROM nd),
         tot AS (SELECT sum(w) AS sw FROM wts),
         b AS (SELECT source, CAST(floor(w / sw * 2000) AS BIGINT) AS budget
               FROM wts CROSS JOIN tot)
         SELECT doc_id, source, n_tok, cum_n_tok FROM (
           SELECT d.doc_id, d.source, d.n_tok,
             CAST(sum(d.n_tok) OVER (PARTITION BY d.source ORDER BY d.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n_tok,
             b.budget
           FROM d JOIN b USING (source))
         WHERE cum_n_tok <= budget""",
    "q_quality_filter" ->
      s"""SELECT doc_id, reason, CAST(reason = 'ok' AS INT) AS keep
          FROM ($ReasonedDocsSql)""",
    // decile calibration: both engines bin the SAME rounded quality
    // double, so floor(q*10) agrees bit-for-bit
    "q_quality_calibration" ->
      s"""SELECT CAST(least(floor(quality * 10), 9) AS INT) AS bin,
          count(*) AS n_docs,
          round(CAST(sum(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*), 4) AS ok_rate
          FROM ($ScoredDocsSql) s JOIN ($ReasonedDocsSql) r USING (doc_id)
          GROUP BY 1""",
    "q_curate" ->
      s"""WITH ok AS (
           SELECT doc_id, lang, text FROM ($ReasonedDocsSql) WHERE reason = 'ok'),
         ded AS (
           SELECT doc_id, lang, text FROM (
             SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM ok)
           WHERE rn = 1),
         tok AS (SELECT doc_id, lang, len($TokSql) AS n_tok FROM ded)
         SELECT doc_id, lang, n_tok, cum_n_tok FROM (
           SELECT doc_id, lang, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n_tok
           FROM tok)
         WHERE cum_n_tok <= 2000""",
    // int8Quantize replica (floor(x·(127/maxabs) + 0.5)); integer dot
    // products are exact, so scores are bit-identical pre-rounding
    "q_ann_quantized" ->
      """WITH m AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                          y -> abs(y))) AS ma
           FROM embeddings),
         qz0 AS (
           SELECT vec_id,
             CASE WHEN ma > 0
               THEN list_transform(v, x -> CAST(floor(x * (127.0 / ma) + 0.5)
                                                AS BIGINT))
               ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
           FROM m),
         qz AS (
           SELECT vec_id, qv,
             sqrt(CAST(list_aggregate(list_transform(qv, x -> x * x),
                       'sum') AS DOUBLE)) AS nrm
           FROM qz0),
         scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             CASE WHEN q.nrm * c.nrm > 0 THEN
               round(
                 CAST(list_aggregate(list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] * c.qv[i]), 'sum') AS DOUBLE)
                 / (q.nrm * c.nrm), 6) + 0
             ELSE 0.0 END AS sim
           FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
         SELECT qid, cid, sim, rank FROM (
           SELECT qid, cid, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
           FROM scored)
         WHERE rank <= 5""",
    // chunk starts = multiples of the stride strictly below the token
    // count; list slices are 1-based inclusive in DuckDB, (start, len)
    // in Spark — both cut the same 64-token windows
    "q_chunk" ->
      s"""WITH toks AS (
           SELECT doc_id, $TokSql AS tk FROM documents),
         st AS (
           SELECT doc_id, tk,
             unnest(range(0, ((len(tk) - 1) // 32) * 32 + 1, 32)) AS s
           FROM toks WHERE len(tk) > 0)
         SELECT doc_id AS id, s // 32 AS chunk_idx,
           array_to_string(tk[s + 1 : s + 64], ' ') AS chunk_text,
           len(tk[s + 1 : s + 64]) AS n_tok
         FROM st""",
    "q_snapshot_diff" ->
      """WITH o AS (
           SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
         n AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS id,
                CASE WHEN o.h IS NULL THEN 'added'
                     WHEN n.h IS NULL THEN 'removed'
                     ELSE 'changed' END AS status,
                coalesce(n.h, o.h) AS content_hash
         FROM o FULL JOIN n ON o.doc_id = n.doc_id
         WHERE o.h IS NULL OR n.h IS NULL OR o.h <> n.h""",
    "q_snapshot_new" ->
      """WITH o AS (
           SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
         n AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT n.doc_id AS id,
                CASE WHEN o.h IS NULL THEN 'added' ELSE 'changed' END AS status,
                n.h AS content_hash
         FROM n LEFT JOIN o ON n.doc_id = o.doc_id
         WHERE o.h IS NULL OR o.h <> n.h""",
    "q_snapshot_churn" ->
      """WITH o AS (
           SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
         n AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
           FROM documents WHERE doc_id % 5 <> 0),
         d AS (
           SELECT CASE WHEN o.h IS NULL THEN 'added'
                       WHEN n.h IS NULL THEN 'removed'
                       WHEN o.h <> n.h THEN 'changed'
                       ELSE 'unchanged' END AS status
           FROM o FULL JOIN n ON o.doc_id = n.doc_id)
         SELECT
           CAST(count(*) FILTER (WHERE status = 'added') AS BIGINT) AS n_added,
           CAST(count(*) FILTER (WHERE status = 'removed') AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (WHERE status = 'changed') AS BIGINT) AS n_changed,
           round(((SELECT count(*) FROM n)
                  - count(*) FILTER (WHERE status = 'added')
                  - count(*) FILTER (WHERE status = 'changed')) * 1.0
             / greatest((SELECT count(*) FROM n), 1), 4) AS unchanged_frac
         FROM d""",
    // the same canonicalization rules, RE2 + list-HOF arithmetic:
    // lowercased origin, default port stripped, fragment dropped,
    // empty path -> '/', deeper trailing slash cut, tracking/empty
    // params dropped, survivors sorted (UrlCanonCtes, shared with
    // q_dedup_url)
    "q_url_canonical" ->
      s"""WITH u AS (
           SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'HTTPS://' || source || '.Example.COM:443/Docs/'
                 || doc_id || '/?utm_source=x&b=2&a=1&fbclid=z#frag'
               WHEN 1 THEN 'http://' || source || '.example.com:80/a/b?z=1&a=2&ref=foo'
               WHEN 2 THEN 'https://' || source || '.EXAMPLE.com'
               ELSE 'http://' || source || '.example.com:8080/path/?'
             END AS url FROM documents),
         $UrlCanonCtes
         SELECT doc_id, canonical, host, registered_domain FROM canon""",
    "q_dedup_url" ->
      s"""WITH u AS (
           SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'HTTPS://Site.COM:443/p/' || (doc_id % 100) || '/?utm_source=x'
               WHEN 1 THEN 'https://site.com/p/' || (doc_id % 100) || '?'
               WHEN 2 THEN 'https://SITE.com/p/' || (doc_id % 100)
               ELSE 'https://site.com/p/' || (doc_id % 100) || '/#frag'
             END AS url FROM documents),
         $UrlCanonCtes
         SELECT canonical AS curl, min(doc_id) AS doc_id, count(*) AS n_copies
         FROM canon GROUP BY canonical""",
    "q_url_blocklist" ->
      """WITH u AS (
           SELECT doc_id,
             'https://' || source || '.example' || (doc_id % 2) || '.com/p' AS url
           FROM documents),
         k AS (
           SELECT doc_id, url,
             lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
           FROM u)
         SELECT doc_id, url FROM k
         WHERE regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                 NOT IN ('example0.com', 'src3.example1.com')
           AND host NOT IN ('example0.com', 'src3.example1.com')""",
    "q_padding_stats" ->
      s"""WITH n AS (
           SELECT len($TokSql) AS n FROM documents),
         b AS (
           SELECT CAST(CASE WHEN n <= 16 THEN 16
                            WHEN n <= 32 THEN 32
                            WHEN n <= 64 THEN 64
                            ELSE -1 END AS BIGINT) AS bucket, n FROM n),
         g AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS sum_tokens
           FROM b GROUP BY bucket),
         c AS (
           SELECT bucket, n_docs, sum_tokens,
                  CAST(CASE WHEN bucket > 0 THEN bucket * n_docs
                            ELSE sum_tokens END AS BIGINT) AS capacity
           FROM g)
         SELECT bucket, n_docs, sum_tokens, capacity,
                round(1.0 - sum_tokens * 1.0 / greatest(capacity, 1), 4) AS padding_frac
         FROM c""",
    // Laplace-smoothed KL terms over the union vocabulary — identical
    // per-row arithmetic to the Spark expression (integer-derived
    // doubles, one ln); the top-50 cut ranks the ROUNDED term
    "q_token_drift" ->
      s"""WITH ot AS (SELECT unnest($TokSql) AS token FROM documents),
         nt AS (SELECT unnest($TokSql) AS token FROM documents WHERE lang = 'en'),
         oc AS (SELECT token, count(*) AS c_old FROM ot GROUP BY token),
         ncc AS (SELECT token, count(*) AS c_new FROM nt GROUP BY token),
         j AS (
           SELECT coalesce(oc.token, ncc.token) AS token,
                  CAST(coalesce(c_old, 0) AS BIGINT) AS c_old,
                  CAST(coalesce(c_new, 0) AS BIGINT) AS c_new
           FROM oc FULL JOIN ncc ON oc.token = ncc.token),
         tot AS (SELECT count(*) AS v, CAST(sum(c_old) AS BIGINT) AS no,
                        CAST(sum(c_new) AS BIGINT) AS nn FROM j),
         terms AS (
           SELECT token, c_old, c_new,
             round(((c_new + 1.0) / (nn + v))
               * ln(((c_new + 1.0) / (nn + v)) / ((c_old + 1.0) / (no + v))), 8) + 0
               AS kl_term
           FROM j, tot)
         SELECT token, c_old, c_new, kl_term FROM (
           SELECT *, row_number() OVER (ORDER BY kl_term DESC, token) AS rn
           FROM terms)
         WHERE rn <= 50""",
    "q_drift_summary" ->
      s"""WITH ot AS (SELECT unnest($TokSql) AS token FROM documents),
         nt AS (SELECT unnest($TokSql) AS token FROM documents WHERE lang = 'en'),
         oc AS (SELECT token, count(*) AS c_old FROM ot GROUP BY token),
         ncc AS (SELECT token, count(*) AS c_new FROM nt GROUP BY token),
         j AS (
           SELECT coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
           FROM oc FULL JOIN ncc ON oc.token = ncc.token),
         tot AS (SELECT count(*) AS v, CAST(sum(c_old) AS BIGINT) AS no,
                        CAST(sum(c_new) AS BIGINT) AS nn FROM j),
         p AS (
           SELECT ((c_new + 1.0) / (nn + v)) AS pn,
                  ((c_old + 1.0) / (no + v)) AS po
           FROM j, tot)
         SELECT
           round(sum(pn * ln(pn / po)), 6) + 0 AS kl_new_vs_old,
           round(sum(po * ln(po / pn)), 6) + 0 AS kl_old_vs_new,
           round(sum(pn * ln(pn / ((pn + po) / 2)) / 2
                   + po * ln(po / ((pn + po) / 2)) / 2), 6) + 0 AS jsd
         FROM p""",
    "q_dedup_simhash_exact" ->
      s"""WITH $SimhashMd5Ctes
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sigs a JOIN sigs b ON a.key = b.key AND a.doc_id < b.doc_id""",
    // radius-3 hamming twin replica: the same md5-bit signature, cut
    // into 4 × 16-bit chunks (string positions 1+16c .. 16+16c ⇔ long
    // bits 16c..16c+15), buckets over (chunk, key) capped at 1000,
    // candidates = bucket co-members deduped across chunks, verified
    // by counting differing bit-string positions (= bit_count of the
    // xor on the Spark side)
    "q_dedup_hamming_exact" ->
      s"""WITH $SimhashMd5Ctes,
         chunks AS (
           SELECT doc_id, key, c, substr(key, 1 + 16*c, 16) AS ck
           FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS c)),
         ok AS (SELECT c, ck FROM chunks GROUP BY c, ck HAVING count(*) <= 1000),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.key AS ka, b.key AS kb
           FROM chunks a
           JOIN ok USING (c, ck)
           JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(ka, i, 1) <> substr(kb, i, 1)
                    THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
           FROM cand)
         WHERE hamming <= 3""",
    "q_dedup_minhash_exact" ->
      s"""WITH $MinhashMd5Ctes
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM msigs a JOIN msigs b ON a.key = b.key AND a.doc_id < b.doc_id""",
    // duplicateSpansExact replica: same md5 shingle keys, stop-shingle
    // cap (whole bucket dropped past 1000 positions), ≥2-distinct-doc
    // dup set with min-id keeper, and gaps-and-islands run assembly in
    // token positions
    "q_dedup_substring_exact" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS l FROM documents
           WHERE doc_id % 2 = 0),
         sh AS (
           SELECT doc_id, i, md5(array_to_string(l[i:i+4], ' ')) AS m
           FROM toks,
             LATERAL (SELECT unnest(range(1, len(l) - 4 + 1)) AS i) t
           WHERE len(l) >= 5),
         shc AS (
           SELECT * FROM sh QUALIFY count(*) OVER (PARTITION BY m) <= 1000),
         dup AS (
           SELECT m, min(doc_id) AS keeper FROM shc
           GROUP BY m HAVING count(DISTINCT doc_id) >= 2),
         fl AS (
           SELECT sh.doc_id, sh.i FROM sh JOIN dup USING (m)
           WHERE sh.doc_id <> dup.keeper),
         runs AS (
           SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
           FROM fl)
         SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start_tok,
           CAST(max(i) + 4 AS BIGINT) AS span_end_tok,
           CAST(count(*) + 4 AS BIGINT) AS span_tokens
         FROM runs GROUP BY doc_id, grp
         HAVING count(*) + 4 >= 10""",
    // one UNION ALL branch per profiled column; "column" quoted (DuckDB
    // keyword). Strings compare binary in both engines, so min/max of
    // text agree; numeric min/max render identically as int64 strings
    "q_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
            count(*) - count($c) AS n_nulls,
            count(DISTINCT $c) AS n_distinct,
            CAST(min($c) AS VARCHAR) AS min_str,
            CAST(max($c) AS VARCHAR) AS max_str FROM documents"""
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(branch).mkString("\n UNION ALL\n ")
    },
    "q_lexical_diversity" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS l FROM documents),
         t AS (SELECT doc_id, unnest(l) AS w FROM toks WHERE len(l) > 0),
         g AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2)
         SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS ttr,
           round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / count(*), 4)
             AS hapax_ratio
         FROM g GROUP BY doc_id""",
    // numerator/denominator parenthesized exactly like the Spark AST so
    // the doubles agree bit-for-bit before the 4dp round; the `+ 0`
    // after the round normalizes IEEE signed zero (DuckDB emits -0.0
    // when the rounded pmi lands exactly on 0, Spark emits +0.0 —
    // mirrored as `+ lit(0.0)` in Vocab.pmi)
    "q_pmi" ->
      s"""WITH toks AS (SELECT doc_id, $TokSql AS l FROM documents),
         t AS (SELECT unnest(l) AS tok FROM toks),
         uni AS (SELECT tok, count(*) AS c1 FROM t GROUP BY tok),
         bg0 AS (
           SELECT z[1] AS p, z[2] AS w
           FROM (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
                 FROM toks WHERE len(l) >= 2)),
         bg AS (SELECT p, w, count(*) AS c_ab FROM bg0 GROUP BY p, w),
         t1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS T1 FROM uni),
         t2 AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS T2 FROM bg)
         SELECT p, w, CAST(c_ab AS BIGINT) AS c_ab,
           round(ln(CAST(c_ab AS DOUBLE) * T1 * T1 / (T2 * ua.c1 * ub.c1)), 4) + 0
             AS pmi
         FROM bg JOIN uni ua ON ua.tok = bg.p JOIN uni ub ON ub.tok = bg.w
         CROSS JOIN t1 CROSS JOIN t2
         WHERE c_ab >= 5""",
    "q_boilerplate" ->
      """WITH d0 AS (
           SELECT doc_id, source,
             'Boilerplate banner for ' || source || '. ' || text AS text
           FROM documents),
         ls AS (SELECT doc_id, source, string_split(text, '. ') AS us FROM d0),
         u AS (
           SELECT doc_id, source, i, us[i] AS u
           FROM ls, LATERAL (SELECT unnest(range(1, len(us) + 1)) AS i) t),
         boiler AS (
           SELECT source, u FROM u WHERE length(u) >= 15
           GROUP BY source, u HAVING count(DISTINCT doc_id) >= 10),
         flag AS (
           SELECT u.doc_id, u.i, u.u, (b.u IS NOT NULL) AS isb
           FROM u LEFT JOIN boiler b ON b.source = u.source AND b.u = u.u),
         reb AS (
           SELECT doc_id, count(*) AS n_units,
             count(*) FILTER (WHERE isb) AS n_boiler,
             string_agg(u, '. ' ORDER BY i) FILTER (WHERE NOT isb) AS text
           FROM flag GROUP BY doc_id)
         SELECT doc_id, CAST(n_units AS BIGINT) AS n_units,
           CAST(n_boiler AS BIGINT) AS n_boiler,
           coalesce(text, '') AS text
         FROM reb""",
    // the q_dedup_cluster component oracle + a per-cluster argmax:
    // rank by (n_chars DESC, id ASC) replicates max(struct(score,-id))
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE
         jp AS ($JaccardPairsSql),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM jp
           UNION
           SELECT id_b AS src, id_a AS dst FROM jp),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS lbl FROM nodes
           UNION
           SELECT e.src AS id, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
         ranked AS (
           SELECT c.comp, c.id, d.n_chars,
             row_number() OVER (PARTITION BY c.comp
               ORDER BY d.n_chars DESC, c.id ASC) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.id),
         m AS (SELECT comp, count(*) AS n_members FROM comp GROUP BY comp)
         SELECT r.comp, r.id AS kept_id, r.n_chars AS best_score,
           CAST(m.n_members AS BIGINT) AS n_members
         FROM ranked r JOIN m USING (comp) WHERE rn = 1""",
    "q_embed_drift" ->
      """WITH o AS (SELECT embedding AS e FROM embeddings WHERE vec_id % 2 = 0),
         c AS (SELECT embedding AS e FROM embeddings WHERE vec_id % 2 = 1),
         od AS (SELECT i, avg(e[i]) AS a FROM o,
                LATERAL (SELECT unnest(range(1, len(e) + 1)) AS i) t GROUP BY i),
         cd AS (SELECT i, avg(e[i]) AS b FROM c,
                LATERAL (SELECT unnest(range(1, len(e) + 1)) AS i) t GROUP BY i),
         j AS (SELECT a, b FROM od JOIN cd USING (i))
         SELECT CAST(count(*) AS BIGINT) AS n_dims,
           round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))), 4) + 0
             AS cos_centroids,
           round(sqrt(sum((a - b) * (a - b))), 4) AS l2_shift,
           round(sum(abs(a - b)) / count(*), 4) AS mean_abs_shift
         FROM j""",
    "q_shuffle_global" ->
      """WITH h AS (
           SELECT doc_id, md5('s1:' || CAST(doc_id AS VARCHAR)) AS hx
           FROM documents),
         sh AS (
           SELECT doc_id, hx,
             CAST(((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
                 + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
                 + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 8
               AS INTEGER) AS shard
           FROM h)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) - 1
             AS BIGINT) AS pos
         FROM sh""",
    // q_dedup_minhash / q_dedup_simhash / q_ann_lsh / q_ann_ivf /
    // q_ann_ivf_pq / q_mixture_cluster / q_quality_fasttext:
    // hash/quantizer/k-means approximations not expressible in
    // DuckDB — rows-only + recall and invariant specs.
  )
}
