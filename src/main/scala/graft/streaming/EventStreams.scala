package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.4): the events table
  * consumed as a stream with watermarked windowed aggregation and
  * stateful sessionization. Locally a parquet file drives the stream
  * via a memory sink + processAllAvailable; at scale the same plans
  * run on kafka/files with real triggers.
  */
object EventStreams {

  /** events schema as a stream, minus ts (whose physical type varies
    * by driver generation — see [[rawEventsSchema]]). */
  private val NonTsFields = Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType))

  /** Streams need an explicit schema; take ts's physical layout from
    * the batch footer (inferred once per session and file version by
    * graft.Tables) — TIMESTAMP(NANOS) arrives only as a raw nanos long
    * (legacy nanosAsLong, same workaround as graft.Tables),
    * TIMESTAMP(MICROS) reads natively. */
  private def rawEventsSchema(spark: SparkSession, dir: String): StructType = {
    val batchTs = graft.Tables.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType
    val tsType = batchTs match {
      case LongType => LongType
      case _ => TimestampNTZType
    }
    StructType(NonTsFields.head +: StructField("ts", tsType) +: NonTsFields.tail)
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = rawEventsSchema(spark, dir)
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet") // sf dir holds all tables
      .parquet(dir)
    // TIMESTAMP (LTZ), not the batch reader's TIMESTAMP_NTZ: Spark
    // requires the event-time/watermark column to be TIMESTAMP
    // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). Tumbling
    // window() boundaries on LTZ are epoch-aligned, so the emitted
    // buckets denote the same instants as the batch q_time_bucket
    // date_trunc regardless of spark.sql.session.timeZone; only the
    // NTZ *rendering* of those instants is TZ-dependent (equality
    // checks compare unix_micros). The NTZ→LTZ cast reads the wall
    // time in the session tz (UTC in every entrypoint) — the same
    // instants the nanos path produces.
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // NTZ wall times denote UTC instants (the driver writes epoch
        // µs). A bare NTZ→LTZ cast would re-read the wall time in the
        // session tz — shift to the session zone first so the cast
        // lands on the UTC instant under ANY session time zone (the
        // tz-invariance the streaming spec pins).
        val sessionTz = spark.conf.get("spark.sql.session.timeZone")
        raw.withColumn("ts",
          convert_timezone(lit("UTC"), lit(sessionTz), col("ts")).cast(TimestampType))
    }
  }

  /** Tumbling 1-hour window counts/sums per event_type with a 1-hour
    * watermark — partial aggregation + state store, append-safe. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("total"))

  /** Streaming exact dedup: duplicates of `keyCols` arriving within the
    * watermark are dropped; state for a key is evictable once the
    * watermark passes it, so state size is bounded by the lateness
    * budget, not the stream history — the streaming face of
    * [[graft.operators.Dedup.exact]]. */
  def dedupedStream(events: DataFrame, lateness: String, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming face of [[graft.operators.Dedup.incrementalExact]]: a
    * document stream dedups in-stream within the watermark
    * (dropDuplicatesWithinWatermark on the content hash — state bounded
    * by the lateness budget) AND against the STATIC content-hash index
    * of the already-curated corpus (a stream-static left-anti join —
    * stateless; each micro-batch probes the index, AQE/size decides the
    * join strategy). The ingest-time shape of a growing corpus: batch
    * reruns of incrementalExact and this stream agree on the kept set,
    * and the index parquet appended offline is picked up on restart.
    * At a 100 TB index, write it bucketed by content_hash so the
    * per-batch probe prunes buckets instead of rescanning the full
    * index every micro-batch. */
  def dedupAgainstIndex(
      docs: DataFrame,
      index: DataFrame,
      textCol: String,
      tsCol: String,
      lateness: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")
      .join(index.select(col("content_hash")), Seq("content_hash"), "left_anti")

  /** Streaming face of [[graft.operators.Dedup.incrementalMinhashPairs]]:
    * in-stream documents are MinHash-signed scan-side (shingled/hashed
    * once, the native Catalyst kernel), LSH-banded with the exact same
    * bucket keys as the batch path ([[graft.operators.Dedup.bandBuckets]]
    * is shared), and probed against the persisted STATIC signature
    * index via a stream-static inner join on (band, bucket) — stateless
    * per micro-batch, like [[dedupAgainstIndex]]'s anti-join. Pairs
    * passing the estimated-Jaccard threshold are the stream's near-dup
    * candidates (id_a = index doc, id_b = stream doc), deduped across
    * bands with watermark-bounded state
    * (dropDuplicatesWithinWatermark), so downstream drops/quarantines
    * id_b. Batch reruns of incrementalMinhashPairs report the identical
    * index×batch pair set (spec-pinned); stream-internal near-dups are
    * out of scope here — exact in-stream dups go through
    * [[dedupedStream]], and near-dup state between in-flight documents
    * is a stream-stream self-join no watermark can bound.
    *
    * At a 100 TB index: persist the BANDED index (band, bucket, id,
    * sig) bucketed by (band, bucket) so each micro-batch probe prunes
    * buckets instead of re-banding and rescanning the signature
    * parquet; no bucket cap runs on the stream side — watch
    * [[graft.operators.Dedup.lshBucketStats]] on the index and
    * blacklist degenerate buckets there. */
  def nearDupsAgainstIndex(
      docs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      lateness: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    import graft.operators.Dedup
    import graft.plans.{TextHashColumns => THC}
    val bandedBatch = docs
      .withColumn("__sig_b", THC.minhashSignature(col(textCol), shingleN, numHashes))
      .withWatermark(tsCol, lateness)
      .select(col(idCol).as("id_b"), col(tsCol), col("__sig_b"),
        posexplode(Dedup.bandBuckets(col("__sig_b"), numHashes, bands))
          .as(Seq("band", "bucket")))
    val bandedIndex = index
      .select(col("id").as("id_a"), col("sig").as("__sig_a"),
        posexplode(Dedup.bandBuckets(col("sig"), numHashes, bands))
          .as(Seq("band", "bucket")))
    bandedBatch.join(bandedIndex, Seq("band", "bucket"))
      .withColumn("est_jaccard",
        Dedup.estJaccard(col("__sig_a"), col("__sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** The full ingest shape for a growing deduplicated corpus, as one
    * streaming sink: each micro-batch of documents is (1) banded
    * against the persisted MinHash signature index for near-dup
    * candidate pairs ([[graft.operators.Dedup.incrementalMinhashPairs]]
    * — historical text never rescanned), (2) folded into the persisted
    * duplicate-cluster labelling
    * ([[graft.operators.DedupCluster.mergeComponents]] — iteration
    * bounded by the batch, history touched by one remap join), and (3)
    * appended to the signature index. State lives wherever
    * `loadState`/`saveState` put it (parquet tables in production;
    * checkpointed foreachBatch gives effectively-once batches, so make
    * `saveState` an atomic overwrite keyed by batchId if duplicate
    * re-delivery matters). Requires arrival-ordered ids (stream ids
    * ascending past the index) — the same contract every incremental
    * index documents. Batch reruns produce the identical labelling
    * (spec: two micro-batches == one-shot clustering). */
  def clusterMaintainingSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      loadState: () => (DataFrame, DataFrame),
      saveState: (DataFrame, DataFrame) => Unit,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, DedupCluster}
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val (sigs, labels) = loadState()
      val pairs = Dedup.incrementalMinhashPairs(
        batch, sigs, idCol, textCol, shingleN, numHashes, bands, threshold)
      val newLabels = DedupCluster.mergeComponents(labels, pairs)
      val newSigs = sigs.unionByName(
        Dedup.minhashSigs(batch, idCol, textCol, shingleN, numHashes))
      saveState(newSigs, newLabels)
    }.start()
  }

  /** Streaming distribution-drift monitor vs a FROZEN reference: each
    * micro-batch's token counts ([[graft.operators.Vocab.tokenCounts]],
    * scan-side) fold into the maintained running counts (one
    * vocab-sized merge join — [[graft.operators.Vocab.mergeTokenCounts]]),
    * and the CUMULATIVE drift summary vs `refCounts` emits per batch —
    * the ingest alarm that fires while a bad source is still arriving,
    * not after the snapshot closes. State lives wherever `loadCounts`/
    * `saveCounts` put it (a parquet table in production; checkpointed
    * foreachBatch gives effectively-once folds). The emitted summary
    * after any prefix of the stream equals the batch
    * [[graft.operators.Vocab.driftSummaryCounts]] over exactly the
    * rows seen so far, under any batching — counts are associative,
    * spec-pinned. Reference corpus is never rescanned: its counts
    * froze once. */
  def driftMonitoringSink(
      docs: DataFrame,
      textCol: String,
      refCounts: DataFrame,
      loadCounts: () => DataFrame,
      saveCounts: DataFrame => Unit,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Vocab
    foldAndEmit(docs, loadCounts, saveCounts, emit)(
      Vocab.tokenCounts(_, textCol), Vocab.mergeTokenCounts,
      Vocab.driftSummaryCounts(refCounts, _))
  }

  /** Per-stratum twin of [[driftMonitoringSink]]: running
    * (stratum, token) counts fold per micro-batch and the cumulative
    * per-stratum KL/JSD table emits — WHICH language/source is
    * drifting, live. Same associative-fold contract: the emitted table
    * after any prefix equals the batch
    * [[graft.operators.Vocab.driftByStratumCounts]] over the rows
    * seen so far (spec-pinned). */
  def stratumDriftMonitoringSink(
      docs: DataFrame,
      stratumCol: String,
      textCol: String,
      refCounts: DataFrame,
      loadCounts: () => DataFrame,
      saveCounts: DataFrame => Unit,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Vocab
    foldAndEmit(docs, loadCounts, saveCounts, emit)(
      Vocab.stratumTokenCounts(_, stratumCol, textCol), Vocab.mergeStratumTokenCounts,
      Vocab.driftByStratumCounts(refCounts, _))
  }

  /** Streaming corpus-health monitor — the live twin of
    * [[graft.operators.Curate.healthReport]]: each micro-batch's
    * one-row signal sums fold into maintained running sums (additive,
    * so any batching yields the same state) and the finalized
    * dashboard row emits per batch. The ingest-health alarm fires
    * while a bad source is still arriving; the emitted report after
    * any prefix equals the batch report over exactly the rows seen so
    * far (spec-pinned). State is ONE row — wherever `loadSums`/
    * `saveSums` put it. */
  def healthMonitoringSink(
      docs: DataFrame,
      textCol: String,
      loadSums: () => DataFrame,
      saveSums: DataFrame => Unit,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Curate
    foldAndEmit(docs, loadSums, saveSums, emit)(
      Curate.healthSums(_, textCol), Curate.mergeHealthSums, Curate.finalizeHealth)
  }

  /** Streaming contamination triage — the live twin of
    * [[graft.operators.Dedup.contaminationScoreAgainstIndex]]: each
    * micro-batch's documents are scored against the FROZEN benchmark
    * shingle-hash index and the per-doc rows emit. Scoring is
    * per-document and the index is static, so there is NO cross-batch
    * state at all: the emitted union under any batching equals the
    * batch scorer over the same rows (spec-pinned). At a 100 TB feed
    * the index stays benchmark-sized — build it once with
    * [[graft.operators.Dedup.benchShingleIndex]], persist it, and each
    * micro-batch pays one hash semi-join; the quarantine decision
    * (contamination above a bar) happens while the doc is in flight,
    * not after it lands in the corpus. */
  def contaminationScoringSink(
      docs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      emit(graft.operators.Dedup.contaminationScoreAgainstIndex(
        batch, index, idCol, textCol, shingleN))
    }.start()

  /** Streaming incremental ANALYZE — the live twin of
    * [[graft.operators.Profile.finalizeProfile]]: each micro-batch's
    * per-column (rows, nulls, HLL distinct sketch) state folds into
    * the maintained running state (counts add, sketches union — both
    * associative, so any batching yields the same state) and the
    * finalized per-column profile emits per batch. A schema-drift
    * alarm ("the new feed's `lang` column is 40% null") fires while
    * the feed is still arriving; history is never rescanned. State is
    * |cols| rows of a few KB, wherever `loadSums`/`saveSums` put it;
    * the emitted profile after any prefix equals the batch
    * [[graft.operators.Profile.profileSums]] over exactly the rows
    * seen so far (spec-pinned). */
  def profileMonitoringSink(
      docs: DataFrame,
      cols: Seq[String],
      loadSums: () => DataFrame,
      saveSums: DataFrame => Unit,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Profile
    foldAndEmit(docs, loadSums, saveSums, emit)(
      Profile.profileSums(_, cols), Profile.mergeProfileSums, Profile.finalizeProfile)
  }

  /** Streaming mixture-epoch planner — the live twin of
    * [[graft.operators.Sampling.mixturePlan]], and the last curation
    * dashboard to get a streaming fold: each micro-batch's per-domain
    * token sums ([[graft.operators.Sampling.domainTokenCounts]]) fold
    * into the maintained running counts (associative domain-keyed
    * sums), and the finalized epoch plan — available vs target tokens,
    * epoch ratio, the repeat-cap flag — emits per batch, so "we no
    * longer have enough fresh Wikipedia for this mixture" fires while
    * the corpus is still ingesting. State is one config-sized
    * (domain, available_tokens) table, wherever `loadCounts`/
    * `saveCounts` put it. The emitted plan after any prefix equals the
    * batch [[graft.operators.Sampling.mixturePlan]] over exactly the
    * rows seen so far (spec-pinned). */
  def mixturePlanMonitoringSink(
      docs: DataFrame,
      domainCol: String,
      tokenCol: String,
      weights: Map[String, Double],
      totalTokens: Long,
      maxEpochs: Double,
      loadCounts: () => DataFrame,
      saveCounts: DataFrame => Unit,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Sampling
    foldAndEmit(docs, loadCounts, saveCounts, emit)(
      Sampling.domainTokenCounts(_, col(domainCol), tokenCol), Sampling.mergeDomainTokenCounts,
      Sampling.mixturePlanFromCounts(_, weights, totalTokens, maxEpochs))
  }

  /** The running-state monitors' micro-batch step: fold the batch's
    * partial state into the loaded state, save it, emit its finalized
    * view. The merge is materialized BEFORE the save: it is a lazy
    * plan over `load()`, so with a parquet-table state backend an
    * unmaterialized emit would re-read the just-overwritten path
    * (double-counting the batch) or hit a read-while-write conflict. */
  private def foldAndEmit(
      docs: DataFrame,
      load: () => DataFrame,
      save: DataFrame => Unit,
      emit: DataFrame => Unit)(
      partial: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      finalize: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val merged = merge(load(), partial(batch)).localCheckpoint()
      save(merged)
      emit(finalize(merged))
    }.start()

  /** Stream-static enrichment: a broadcast left join against a batch
    * dimension table — stateless (no watermark needed), the dimension
    * ships to every task and each micro-batch joins map-side. The
    * attach-metadata shape: at 100 TB of stream, the dimension is the
    * small side by definition or it belongs in a stream-stream join. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: each left event pairs with right
    * events of the same key whose timestamp falls in
    * [left.ts, left.ts + window]. Both sides carry a watermark and the
    * join condition bounds the time range in BOTH directions, so each
    * side's join state is evictable once the watermark passes the
    * interval — state is O(in-flight window), not O(stream history).
    * The attribution-join shape (click → purchase within N) at 100 TB:
    * a static-table join could never bound the late side. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      window: String,
      lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", lateness).alias("l")
    val r = right.withWatermark("ts", lateness).alias("r")
    l.join(r,
      expr(s"""l.$keyCol = r.$keyCol AND
               r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window"""))
      .select(col(s"l.$keyCol").as(keyCol),
        col("l.ts").as("l_ts"), col("r.ts").as("r_ts"))
  }

  /** Merge two ts-sorted lists, state side first on ties — the same
    * order the previous stable concat-then-sort produced. */
  private def mergeByTs(
      a: List[(Long, Double)], b: List[(Long, Double)]): List[(Long, Double)] = {
    val out = List.newBuilder[(Long, Double)]
    var (x, y) = (a, b)
    while (x.nonEmpty && y.nonEmpty) {
      if (x.head._1 <= y.head._1) { out += x.head; x = x.tail }
      else { out += y.head; y = y.tail }
    }
    out ++= x; out ++= y
    out.result()
  }

  final case class AsOfEvent(key: Long, ts: java.sql.Timestamp, v: Double)
  final case class AsOfUnion(key: Long, ts: java.sql.Timestamp, isRef: Boolean, v: Double)
  final case class AsOfEnrichState(
      refs: List[(Long, Double)], pending: List[(Long, Double)])
  final case class AsOfEnriched(
      key: Long, ts: java.sql.Timestamp, v: Double, ref_v: Option[Double])

  /** Streaming as-of enrichment — the online counterpart of
    * [[graft.operators.AsOf]]: each fact event picks up the LATEST
    * reference value for its key with ref.ts <= fact.ts, where the
    * reference side is itself a slowly-updating stream. Interval joins
    * can't express "latest at-or-before" (they emit every match in the
    * range), so this runs on flatMapGroupsWithState over the union of
    * the two streams:
    *
    *  - facts are held in state until the event-time watermark passes
    *    their timestamp, so a LATE-arriving reference row that belongs
    *    before a buffered fact still wins the as-of match;
    *  - reference state is evicted down to the single latest row at or
    *    below the watermark (any older ref can never be the as-of match
    *    of a fact the watermark still admits) plus the in-flight rows
    *    above it — state is O(refs within the lateness budget), not
    *    O(stream history).
    *
    * Facts with no reference at or before them emit ref_v = None.
    * Like [[sessionize]], a key's buffered facts emit on the key's
    * next batch with data (NoTimeout keeps draining deterministic). */
  def asOfEnrich(
      facts: Dataset[AsOfEvent],
      refs: Dataset[AsOfEvent],
      lateness: String = "10 minutes"): Dataset[AsOfEnriched] = {
    import facts.sparkSession.implicits._
    val merged = facts.map(e => AsOfUnion(e.key, e.ts, isRef = false, e.v))
      .union(refs.map(e => AsOfUnion(e.key, e.ts, isRef = true, e.v)))
      .withWatermark("ts", lateness)
    merged
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[AsOfUnion], state: GroupState[AsOfEnrichState]) => {
          val (refRows, factRows) = rows.toList.partition(_.isRef)
          val st = state.getOption.getOrElse(AsOfEnrichState(Nil, Nil))
          // state lists are kept ts-sorted as an invariant (partition/
          // filter below preserve order), so each micro-batch sorts only
          // its OWN rows and merge-inserts them — O(batch log batch +
          // buffer) per key per batch, not O(buffer log buffer)
          val refsAll = mergeByTs(st.refs, refRows.map(e => (e.ts.getTime, e.v)).sortBy(_._1))
          val pendingAll = mergeByTs(st.pending, factRows.map(e => (e.ts.getTime, e.v)).sortBy(_._1))
          val wm = state.getCurrentWatermarkMs()
          // Strictly below: Spark's late-data filter drops input only
          // STRICTLY below the watermark, so a ref with ts == wm can
          // still arrive in a later batch — a fact at ts == wm must stay
          // buffered until the watermark passes it or that ref would
          // miss a same-ts as-of match it is entitled to win.
          val (emit, keep) = pendingAll.partition(_._1 < wm)
          val out = emit.map { case (t, v) =>
            val m = refsAll.takeWhile(_._1 <= t).lastOption
            AsOfEnriched(key, new java.sql.Timestamp(t), v, m.map(_._2))
          }
          val keptRefs =
            refsAll.filter(_._1 <= wm).lastOption.toList ++ refsAll.filter(_._1 > wm)
          state.update(AsOfEnrichState(keptRefs, keep))
          out.iterator
        })
  }

  final case class WeightedRow(stratum: String, id: String, esKey: Double)
  final case class StratumSample(stratum: String, ids: Seq[String])

  /** Streaming per-stratum weighted sampling — the stateful twin of
    * `Sampling.weightedSampleByStratum`: each micro-batch merges its
    * rows' Efraimidis–Spirakis keys into the per-stratum top-n kept in
    * state, and emits the stratum's CURRENT sample. Because the E-S
    * key is a pure function of (key, weight) (Sampling.esKey — shared
    * with the batch path), the emitted sample after any prefix of the
    * stream equals the batch draw over exactly the rows seen so far:
    * batch boundaries cannot change the result, and replaying the
    * stream in any batching reproduces it. State is O(n) doubles +
    * key strings per stratum — a weighted reservoir, not a row
    * buffer. Keys follow the batch contract (requireHashableKey:
    * integer or string) and are carried in their string rendering —
    * the same rendering the E-S key hashes — so a string-keyed
    * stream works exactly like the batch path; rows with a null key
    * or null/non-positive weight are excluded, matching the batch
    * filter. Exact-E-S-key ties (same md5 prefix AND same weight)
    * break by the string rendering here vs the native key ordering
    * in the batch path — reachable only via duplicate (key, weight)
    * pairs, where the tied rows are indistinguishable anyway. */
  def weightedSampleStream(
      rows: DataFrame,
      key: org.apache.spark.sql.Column,
      weight: org.apache.spark.sql.Column,
      stratum: org.apache.spark.sql.Column,
      nPerStratum: Int): Dataset[StratumSample] = {
    require(nPerStratum > 0, s"sample size $nPerStratum must be positive")
    graft.operators.Sampling.requireHashableKey(rows, key)
    import rows.sparkSession.implicits._
    rows
      .filter(key.isNotNull && weight.isNotNull && weight > 0)
      .select(stratum.cast("string").as("stratum"), key.cast("string").as("id"),
        graft.operators.Sampling.esKey(key, weight).as("esKey"))
      .as[WeightedRow]
      .groupByKey(_.stratum)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (s: String, it: Iterator[WeightedRow], state: GroupState[Seq[(Double, String)]]) => {
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            it.map(r => (r.esKey, r.id)))
            .sortBy(identity) // (key asc, id asc) — the batch tiebreak
            .take(nPerStratum)
          state.update(merged)
          StratumSample(s, merged.map(_._2))
        })
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp, n_events: Int)

  /** Stateful sessionization: events within `gapMinutes` of each other
    * belong to one session; a session closes when a later event for the
    * same user arrives past the gap. flatMapGroupsWithState keeps
    * per-user state only — state size is O(active users), not O(events).
    * (NoTimeout keeps micro-batch draining deterministic; an idle
    * session emits on the user's next event rather than a wall-clock
    * flush.) */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          val sorted = evs.toSeq.sortBy(_.ts.getTime)
          var closed = List.empty[Session]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              // within the session's reach — including a LATE event from
              // an earlier micro-batch (t can be below s.start): min/max
              // keep the interval consistent; the old `last = t` write
              // moved the session end BACKWARD on late data and
              // corrupted every later gap decision
              case Some(s) if t >= s.start - gapMs && t - s.last <= gapMs =>
                cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
              // an orphan older than the open session's reach can't join
              // it or any future one — emit as its own closed session
              case Some(s) if t < s.start - gapMs =>
                closed ::= Session(userId, new java.sql.Timestamp(t), 1)
              case Some(s) =>
                closed ::= Session(userId, new java.sql.Timestamp(s.start), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
        })
  }
}
