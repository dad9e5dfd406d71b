package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{TextFunctions => TF}

/** End-to-end corpus curation: the deterministic spine of a
  * training-data pipeline as ONE composed plan —
  *
  *   quality gate → exact dedup (keep min-id per content hash) →
  *   per-language token budget
  *
  * Every stage is a pure function of the data (fixed rule order, hash
  * identity, id order), so the final corpus is reproducible on any
  * cluster size and exactly oracle-checkable — unlike the probabilistic
  * dedup family this composes with (MinHash/SimHash stages slot in
  * between the gate and the budget when near-dup removal is wanted).
  *
  * Shape at 100 TB: the gate is scan-local; dedup shuffles once on the
  * content hash (constant-width key, not the document); the budget
  * shuffles once on the language key. Catalyst pipelines the stages —
  * nothing materializes between them. Crucially, every text-derived
  * value (hash, token count) is projected scan-side BEFORE the dedup
  * window, so the content-hash exchange carries ~50 bytes/row
  * (id, lang, hash, n_tok) — never the document text itself.
  */
object Curate {

  /** @param tokenCounter how budgets are measured: defaults to the
    *        cheap whitespace count; pass
    *        `TF.bpeTokenCountGpt2(_, merges)` (or the legacy
    *        `TF.bpeTokenCountMerges`) for tokenizer-faithful BPE
    *        budgets — the native scan-side `TokenCount` expression, so
    *        the spine's plan shape (and the text-free exchanges) is
    *        unchanged.
    * @return the curated corpus: (idCol, langCol, n_tok, cum_n_tok) */
  def corpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      budgetPerLang: Long,
      tokenCounter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TF.tokenCount): DataFrame = {
    val w = Window.partitionBy(col("__h")).orderBy(col(idCol))
    val deduped = docs
      .filter(TF.filterReason(col(textCol)) === "ok")
      // narrow projection: text is consumed here, scan-side, and does
      // not survive into the shuffle feeding the dedup window
      .select(
        col(idCol), col(langCol),
        md5(col(textCol)).as("__h"),
        tokenCounter(col(textCol)).as("n_tok"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(langCol), col("n_tok"))
    Sampling.budgetPerStratum(
      deduped, col(langCol), Seq(col(idCol)), "n_tok", budgetPerLang)
  }

  /** Domain-blocklist filter — the C4/RefinedWeb URL-level curation
    * step: drop every document whose URL's registrable domain (or
    * exact host, for entries carrying a subdomain) appears in the
    * blocklist. The blocklist is a TABLE, not a regex — real
    * blocklists are hundreds of thousands of entries and live as
    * data, so membership must be a broadcast hash join, never a
    * pattern scan. Matching: an entry `example.com` blocks the whole
    * registrable domain (any subdomain); an entry `ads.example.com`
    * blocks that exact host only. Both keys are derived scan-side
    * ([[TF.urlHost]]/[[TF.registeredDomain]] — codegen'd anchored
    * regexes), the blocklist side is explicitly broadcast, and the
    * corpus never shuffles: two broadcast anti-joins, zero exchanges
    * of the data. */
  def blocklistFilter(
      docs: DataFrame, urlCol: String, blocklist: DataFrame): DataFrame = {
    // distinct: duplicate blocklist rows must not fan the anti-join's
    // build side (harmless for anti semantics, wasteful at 100k rows)
    val b = broadcast(blocklist.select(col("domain")).distinct())
    docs
      .join(b, TF.registeredDomain(col(urlCol)) === b("domain"), "left_anti")
      .join(b, TF.urlHost(col(urlCol)) === b("domain"), "left_anti")
  }

  /** One-scan corpus health dashboard — the row a daily ingest
    * publishes: gate pass rate, mean quality/markup/token-count, all
    * as conditional aggregates of scan-local codegen'd kernels in ONE
    * pass over the corpus (no per-signal rescans, no shuffle beyond
    * the final 1-row aggregate; plan-pinned). Per-doc signals round
    * exactly like their standalone queries, so the report is
    * bit-consistent with the drill-down queries it summarizes. */
  def healthReport(docs: DataFrame, textCol: String): DataFrame =
    finalizeHealth(healthSums(docs, textCol))

  /** The additive state under [[healthReport]]: one row of raw sums of
    * the per-doc (rounded) signals. Sums are associative, so a
    * streaming monitor folds each micro-batch's sums into running
    * state ([[mergeHealthSums]]) and the finalized report over any
    * prefix equals the batch computation — the same freeze/fold
    * contract as the drift monitor's token counts. */
  def healthSums(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(TF.filterReason(t) === "ok", 1L).otherwise(0L)).as("n_ok"),
      sum(TF.qualityScore(t)).as("sum_quality"),
      sum(TF.markupRatio(t)).as("sum_markup"),
      sum(TF.tokenCount(t).cast("double")).as("sum_tokens"))
  }

  /** Element-wise sum of two [[healthSums]] rows (empty-batch-safe). */
  def mergeHealthSums(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_ok")).as("n_ok"),
      sum(col("sum_quality")).as("sum_quality"),
      sum(col("sum_markup")).as("sum_markup"),
      sum(col("sum_tokens")).as("sum_tokens"))

  /** Rates/means from a [[healthSums]] row. */
  def finalizeHealth(sums: DataFrame): DataFrame =
    sums.select(finalizeHealthCols(Nil): _*)

  private def finalizeHealthCols(by: Seq[String]): Seq[org.apache.spark.sql.Column] =
    by.map(col) ++ Seq(
      col("n_docs"),
      round(col("n_ok").cast("double") / greatest(col("n_docs"), lit(1L)), 4)
        .as("gate_pass_frac"),
      round(col("sum_quality") / greatest(col("n_docs"), lit(1L)), 4).as("mean_quality"),
      round(col("sum_markup") / greatest(col("n_docs"), lit(1L)), 4).as("mean_markup"),
      round(col("sum_tokens") / greatest(col("n_docs"), lit(1L)), 4).as("mean_tokens"))

  /** Per-scope twin of [[healthReport]] — the data-card table: one
    * dashboard row per source/site/language, so "which feed went bad"
    * is a groupBy away instead of N filtered re-scans. Same ONE-pass
    * shape: every signal is a scan-local kernel, the only exchange is
    * the partial-aggregated scope-keyed groupBy (|scopes| rows per
    * mapper), and each mean averages the same per-doc rounded signal
    * its global twin uses — the per-scope rows reconcile with the
    * corpus row. */
  def healthReportBy(docs: DataFrame, textCol: String, by: Seq[String]): DataFrame = {
    require(by.nonEmpty, "healthReportBy needs at least one scope column")
    val t = col(textCol)
    docs.groupBy(by.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      sum(when(TF.filterReason(t) === "ok", 1L).otherwise(0L)).as("n_ok"),
      sum(TF.qualityScore(t)).as("sum_quality"),
      sum(TF.markupRatio(t)).as("sum_markup"),
      sum(TF.tokenCount(t).cast("double")).as("sum_tokens"))
      .select(finalizeHealthCols(by): _*)
  }

  /** Per-stage survivor counts — the audit trail a curation run ships
    * with (how many docs each stage removed). Exactly two jobs over the
    * corpus: one aggregate computes input / gate / dedup counts as
    * conditional aggregates over a single scan (no re-running the gate
    * per stage), and one count over the budgeted corpus. */
  def stageStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      budgetPerLang: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val head = docs
      .select(when(TF.filterReason(col(textCol)) === "ok", md5(col(textCol)))
        .as("__okHash"))
      .agg(
        count(lit(1)).as("total"),
        count(col("__okHash")).as("n_ok"),
        count_distinct(col("__okHash")).as("n_dedup"))
      .head()
    val nFinal = corpus(docs, idCol, textCol, langCol, budgetPerLang).count()
    Seq(
      ("input", head.getLong(0)), ("quality_gate", head.getLong(1)),
      ("exact_dedup", head.getLong(2)), ("token_budget", nFinal)
    ).toDF("stage", "n_docs")
  }

  /** Scope-frequency boilerplate removal (the Trafilatura/CCNet
    * "most-common-lines-per-site" pass): a `sep`-delimited unit of at
    * least `minUnitChars` characters that occurs in `minDocs` or more
    * DISTINCT documents sharing the same scope (site, source, crawl)
    * is boilerplate — nav text, cookie banners, footers — and is
    * removed from EVERY document of that scope, first occurrence
    * included (unlike [[Dedup.dedupLines]], which keeps one canonical
    * copy: dedup preserves content, this erases template furniture).
    * Output: the input frame with `textCol` rewritten plus `n_units`
    * (original unit count) and `n_boiler` (units removed).
    *
    * 100 TB shape, same contract as dedupLines: units hash to 8-byte
    * keys scan-side, the (scope, hash)-keyed document-frequency
    * aggregation and the per-doc drop-position lists shuffle ids,
    * positions, and hashes only — unit TEXT never enters an exchange —
    * and the rewrite applies each doc's sorted drop list back inside
    * the scan via a positional HOF filter. The frequency table is
    * scope-local, so a skewed mega-site salts/AQE-splits like any
    * hash-agg key. */
  def boilerplateStrip(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scopeCols: Seq[String],
      sep: String = "\n",
      minDocs: Long = 3,
      minUnitChars: Int = 5): DataFrame =
    boilerplateStripAgainstIndex(docs,
      boilerplateIndex(docs, idCol, textCol, scopeCols, sep, minDocs, minUnitChars),
      idCol, textCol, scopeCols, sep, minUnitChars)

  /** The FROZEN boilerplate index under [[boilerplateStrip]]: the
    * (scope…, uh) table of unit hashes at/above the per-scope
    * document-frequency bar. Build it once per snapshot (one
    * count-distinct aggregation over scan-side hashes — unit text
    * never leaves the scan), persist it like the dedup/snapshot
    * indexes, and strip any later batch — or a live stream — against
    * it without recounting history. */
  def boilerplateIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scopeCols: Seq[String],
      sep: String = "\n",
      minDocs: Long = 3,
      minUnitChars: Int = 5): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(minDocs >= 2, "minDocs < 2 would erase every unique unit")
    unitHashes(docs, idCol, textCol, scopeCols, sep, minUnitChars)
      .groupBy((scopeCols.map(col) :+ col("uh")): _*)
      .agg(count_distinct(col("id")).as("__ndocs"))
      .filter(col("__ndocs") >= minDocs)
      .drop("__ndocs")
  }

  /** Strip a batch against a FROZEN [[boilerplateIndex]] — the
    * streaming-legal half of [[boilerplateStrip]]: per-doc work only
    * (unit hashes scan-side, one (scope, uh) join against the index,
    * positional HOF rewrite), so it runs unchanged inside a
    * micro-batch while the snapshot's banner list stays fixed —
    * exactly how a recrawl re-ingest wants template furniture removed
    * (with the CLOSED snapshot's frequencies, not the half-seen
    * stream's). */
  def boilerplateStripAgainstIndex(
      docs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      scopeCols: Seq[String],
      sep: String = "\n",
      minUnitChars: Int = 5): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val sepLit = java.util.regex.Pattern.quote(sep)
    val drops = unitHashes(docs, idCol, textCol, scopeCols, sep, minUnitChars)
      .join(index, scopeCols :+ "uh")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__drop_pos"))
      .select(col("id").as("__bp_id"), col("__drop_pos"))
    docs.join(drops, docs(idCol) === drops("__bp_id"), "left")
      .withColumn("n_units", size(split(col(textCol), sepLit, -1)).cast("long"))
      .withColumn("n_boiler",
        coalesce(size(col("__drop_pos")), lit(0)).cast("long"))
      .withColumn(textCol,
        when(col("__drop_pos").isNull, col(textCol)).otherwise(
          array_join(
            filter(split(col(textCol), sepLit, -1),
              (_, i) => !array_contains(col("__drop_pos"), i)),
            sep)))
      .drop("__bp_id", "__drop_pos")
  }

  private def unitHashes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scopeCols: Seq[String],
      sep: String,
      minUnitChars: Int): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    docs.select((col(idCol).as("id") +: scopeCols.map(col)) :+
      posexplode(split(col(textCol), sepLit, -1)).as(Seq("pos", "u")): _*)
      .filter(length(col("u")) >= minUnitChars)
      .select((col("id") +: scopeCols.map(col)) :+ col("pos") :+
        xxhash64(col("u")).as("uh"): _*)
  }
}
