package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-pipeline operators
  * (SURVEY.md §2.3). Built from `org.apache.spark.sql.functions._` and
  * the native kernels in [[graft.plans]] — no UDFs. The `transform`/
  * `filter`/`aggregate` lambdas still used here (the line signals, the
  * URL query filter, shingles, MinHash) are NOT codegen'd: they run
  * interpreted per array element, so hot paths go through the native
  * kernels (the tokenizer, the hashes, the n-grams, the BPE counter,
  * and the one text-signal pass behind the quality gate, the quality
  * ratios and language ID).
  */
object TextFunctions {

  /** Whitespace tokens, empties removed: runs of Java-regex `\s`
    * (ASCII space, \t, \n, \x0B, \f, \r) split, null in → null out.
    * The engine's one tokenizer, a native kernel
    * ([[graft.plans.TextHashColumns.whitespaceTokens]]) shared with
    * every token hash and n-gram kernel. */
  def tokens(text: Column): Column =
    graft.plans.TextHashColumns.whitespaceTokens(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer: letter runs | digit runs | punctuation runs. */
  val BpePattern = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** A tiny consistent merge table (each pair's parts are base chars or
    * earlier merge outputs — the property trained BPE tables have) for
    * oracle-checkable token counting; real vocab tables load through
    * [[graft.operators.Bpe.mergesFrom]]. The trailing Ġ entries join the
    * GPT-2 leading-space marker to a following letter — no-ops on the
    * legacy lowercase-alnum path (its words never contain Ġ). */
  val DefaultMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"), ("e", "n"), ("a", "t"),
    ("e", "s"), ("o", "r"), ("s", "t"), ("a", "r"), ("a", "l"), ("i", "t"),
    ("i", "s"), ("o", "f"), ("t", "o"), ("l", "e"), ("m", "e"), ("0", "0"),
    ("Ġ", "t"), ("Ġ", "a"))

  /** GPT-2-style pre-tokenizer (Radford et al. 2019's gpt2 regex),
    * restricted to syntax Java regex and RE2 (DuckDB) compile
    * identically: lowercase contraction suffixes, optional-leading-space
    * letter / number / punctuation runs, whitespace runs. The original's
    * trailing-whitespace lookahead `\s+(?!\S)` is dropped (RE2 has no
    * lookahead), so an inner multi-space run stays one whitespace
    * pre-token instead of donating its last space to the next word —
    * deterministic and engine-consistent, documented divergence.
    * Case, punctuation, and whitespace all survive into tokens. */
  val Gpt2Pattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** GPT-2 byte-to-unicode markers for the whitespace chars that may
    * appear inside a pre-token (0x20→Ġ, 0x0A→Ċ, 0x09→ĉ, 0x0D→č): a
    * space inside a symbol would break the sentinel-spaced merge
    * representation, so — exactly as GPT-2 does — whitespace bytes are
    * remapped to printable marker chars before merging. */
  val WsFrom = " \n\t\r"
  val WsTo = "ĠĊĉč" // Ġ Ċ ĉ č

  /** TRUE byte-level BPE token count, GPT-2 style — the default for
    * budget operators: [[Gpt2Pattern]] pre-tokens (case, punctuation
    * and whitespace preserved), whitespace mapped to [[WsTo]] markers,
    * rank-priority merges, plus a byte fallback — each non-ASCII char
    * counts its extra UTF-8 bytes as unmerged byte symbols, which is
    * byte-level BPE with an ASCII-symbol merge table. Null text → 0.
    * The native [[graft.plans.TokenCount]] kernel; see
    * [[graft.operators.Bpe]] for the semantics. */
  def bpeTokenCountGpt2(
      text: Column,
      merges: Seq[(String, String)] = DefaultMerges): Column =
    graft.plans.BpeKernel.count(text, merges, byteLevel = true)

  /** TRUE byte-pair-encoding token count of the lowercase alphanumeric
    * words ([[graft.plans.PreTokens]]) against an explicit ordered merge
    * table — the legacy counter behind the `graft_bpe_count` SQL
    * function.
    * Null text → 0. The native [[graft.plans.TokenCount]] kernel; see
    * [[graft.operators.Bpe]] for the semantics. */
  def bpeTokenCountMerges(
      text: Column,
      merges: Seq[(String, String)] = DefaultMerges): Column =
    graft.plans.BpeKernel.count(text, merges, byteLevel = false)

  def charCount(text: Column): Column = length(text)

  /** The one-pass counts behind the Gopher-style signals below — see
    * [[graft.plans.TextSignals]]. */
  private def counts(text: Column): graft.plans.TextCounts =
    graft.plans.TextSignals.columns(text)

  /** `num / max(den, 1)` over int counts, in doubles. */
  private def ratio(num: Column, den: Column): Column =
    num.cast("double") / greatest(den, lit(1)).cast("double")

  /** Fraction of characters that are sentence punctuation ([.!?,;:]). */
  def punctRatio(text: Column): Column = ratio(counts(text).punct, counts(text).chars)

  /** Stopword lists per language for the stopword heuristics. Fixed
    * and tiny: the text-signal kernel ([[graft.plans.TextSignals]])
    * builds its one word → lists index from them. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "on", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "que", "y", "por", "con", "como"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "这")
  )

  /** Fraction of tokens that are (any-language) stopwords. */
  def stopwordRatio(text: Column): Column = ratio(counts(text).stopwords, counts(text).words)

  /** Language-ID heuristic: argmax of per-language stopword hits with a
    * fixed tie-break order (the declaration order of [[Stopwords]]). */
  def langId(text: Column): Column = {
    val hits = Stopwords.map(_._1).zip(counts(text).stopwordsByLang)
    // ordered CASE: branch i fires when h_i >= every later h_j (earlier
    // branches already failed) — mirrors the DuckDB oracle SQL verbatim.
    val preds = hits.zipWithIndex.map { case ((lang, h), i) =>
      val cond = hits.drop(i + 1).map { case (_, other) => h >= other }
        .foldLeft(lit(true))(_ && _)
      (cond, lit(lang))
    }
    preds.init.foldRight(preds.last._2: Column) { case ((cond, lang), acc) =>
      when(cond, lang).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]: length + punctuation + stopword
    * signals (the reference-free heuristic a pretraining pipeline uses). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(counts(text).words.cast("double") / lit(200.0), lit(1.0))
    val punct = punctRatio(text)
    val punctScore = when(punct > 0.2, lit(0.0)).otherwise(lit(1.0) - punct * 2.5)
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    round((lenScore + punctScore + stopScore) / lit(3.0), 4)
  }

  /** Compression-ratio repetitiveness signal (RefinedWeb/MassiveText
    * recipe): DEFLATE bytes / raw UTF-8 bytes, scan-local native
    * kernel. Natural prose lands ~0.4-0.7; looped boilerplate and
    * template spam compress well below that; near-random strings sit
    * near (or above) 1. Language- and tokenizer-free, so it catches
    * repetition the token-based signals miss in unsegmented scripts. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    graft.plans.CompressColumns.deflateRatio(text, level)

  /** Fraction of characters that are neither alphanumeric nor
    * whitespace — the "symbol soup" signal of boilerplate/markup. */
  def symbolRatio(text: Column): Column = ratio(counts(text).symbols, counts(text).chars)

  /** Mean word length over non-whitespace chars — degenerate docs
    * (char soup, minified code) land far outside the natural-language
    * 2..12 band. */
  def meanWordLen(text: Column): Column = ratio(counts(text).nonWs, counts(text).words)

  /** Gopher-style quality gate: the FIRST failing rule's name, or "ok".
    * Rule order is fixed (cheapest signals first) so the reason is
    * deterministic; `keep = reason == "ok"`. Thresholds follow the
    * published Gopher/C4 heuristics scaled to short synthetic docs.
    * Null text → null. */
  def filterReason(
      text: Column,
      minWords: Int = 5,
      maxWords: Int = 1000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.1): Column = {
    val c = counts(text)
    val mwl = meanWordLen(text)
    when(c.words < minWords, "too_short")
      .when(c.words > maxWords, "too_long")
      .when(mwl < minMeanWordLen || mwl > maxMeanWordLen, "word_len")
      .when(symbolRatio(text) > maxSymbolRatio, "symbols")
      .when(c.stopwords === 0, "no_stopwords")
      // no ELSE: every count is null on null text, so the reason is too
      .when(c.stopwords > 0, "ok")
  }

  /** Non-blank lines of a document (the unit of the Gopher line-level
    * rules). Blank/whitespace-only lines are layout, not content —
    * they don't enter any ratio's denominator. */
  def docLines(text: Column): Column =
    filter(split(text, "\n"), l => trim(l) =!= "")

  /** Gopher line-level signals (Rae et al. 2021 §A1.1): fraction of
    * lines that start with a bullet marker, end with an ellipsis, and
    * the fraction that are duplicates of another line in the same
    * document. All scan-local codegen'd HOFs over one split — a doc
    * with no non-blank lines scores 0 on every ratio. */
  def bulletLineRatio(text: Column): Column = {
    val ls = docLines(text)
    size(filter(ls, l => substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  def ellipsisLineRatio(text: Column): Column = {
    val ls = docLines(text)
    size(filter(ls, l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
      .cast("double") / greatest(size(ls), lit(1)).cast("double")
  }

  /** Fraction of lines that repeat an earlier line verbatim —
    * 1 − distinct/total (the in-document twin of corpus-wide
    * [[graft.operators.Dedup.dedupLines]]). */
  def dupLineRatio(text: Column): Column = {
    val ls = docLines(text)
    when(size(ls) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(ls)).cast("double") / size(ls).cast("double"))
  }

  /** Content fingerprint: md5 of lowercased alphanumeric-only text —
    * the normalized-hash dedup key. `unicodeNormalize = true` folds
    * compatibility forms and strips accents first (NFKC + mark strip,
    * graft.plans.UnicodeNorm), so "Café"/"Cafe" + combining-mark and
    * full-width spellings land on one key — the standard pre-hash
    * step for multilingual corpora; off by default because it widens
    * what counts as "the same document". */
  def fingerprint(text: Column, unicodeNormalize: Boolean = false): Column = {
    val base =
      if (unicodeNormalize)
        graft.plans.UnicodeColumns.stripAccents(graft.plans.UnicodeColumns.nfkc(text))
      else text
    md5(regexp_replace(lower(base), "[^a-z0-9 ]", ""))
  }

  // PII patterns restricted to syntax both Java regex and RE2 (DuckDB)
  // compile identically — no backrefs, no lookaround, so the DuckDB
  // oracle replica (regexp_replace ... 'g') masks the same spans
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Mask common PII spans before a corpus ships to training: emails,
    * then IPv4 addresses, then NNN-NNN-NNNN phone numbers (this order —
    * emails and IPs contain digit runs a phone pattern could clip).
    * Pure codegen'd regexp_replace chain, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** How much PII a [[redactPii]] pass WOULD mask, per category — the
    * triage signal that decides redact vs drop (a doc that is mostly
    * PII is a contact-list scrape, not prose; masking it leaves
    * `<EMAIL> <EMAIL> <EMAIL>`). Counts are measured on the same
    * progressively-redacted text the redaction chain walks (IPs after
    * emails are masked, phones after both), so the three counts sum
    * to exactly the spans [[redactPii]] replaces — the two kernels
    * cannot disagree. Scan-local codegen'd regexp arithmetic. */
  def piiCounts(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    struct(
      size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0))).as("n_phones"))
  }

  /** Repair UTF-8-decoded-as-Windows-1252 mojibake ("cafÃ©" → "café");
    * lossless-and-shrinking reverse transform only, clean text passes
    * through bit-identically — see [[graft.plans.Mojibake]]. */
  def fixMojibake(text: Column): Column =
    graft.plans.MojibakeColumns.fixMojibake(text)

  /** Chars of `text` belonging to the given Unicode script (Java regex
    * `\p{Is<script>}` class) — the writing-system complement of
    * [[langId]]: script mix flags wrong-corpus and transliterated docs
    * language-ID heuristics miss. Pure codegen'd regexp arithmetic,
    * scan-local (count = length after deleting every NON-member). */
  def scriptCharCount(text: Column, script: String): Column =
    length(regexp_replace(text, s"[^\\p{Is$script}]", ""))

  /** Fraction of chars in each of the major scripts (Latin, Cyrillic,
    * Greek, Arabic, Hebrew, Han, Hangul, Devanagari), against total
    * char count — empty/null-safe (all-zero profile). */
  def scriptRatio(text: Column, script: String): Column = {
    val n = length(text)
    when(n > 0, round(scriptCharCount(text, script).cast("double") / n, 4))
      .otherwise(0.0)
  }

  /** Fraction of characters inside HTML/XML-style tag spans (`<...>`
    * runs without an intervening `<`/`>`) — the boilerplate-extraction
    * QA signal: a high ratio means the upstream HTML-to-text step
    * failed and the "document" is still markup. Codegen'd regexp
    * arithmetic, scan-local, empty/null-safe. */
  def markupRatio(text: Column): Column = {
    val n = length(text)
    val markup = n - length(regexp_replace(text, "<[^<>]*>", ""))
    when(n > 0, round(markup.cast("double") / n, 4)).otherwise(0.0)
  }

  /** The `scheme://host` part of a URL lowercased with any default
    * port stripped (`:80` under http, `:443` under https — a
    * NON-default port survives). Anchored regexes only, so both
    * engines rip the URL apart byte-identically. */
  private def canonicalOrigin(url: Column): Column = {
    val origin = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1))
    regexp_replace(regexp_replace(origin, "^(http://[^/?#:]+):80$", "$1"),
      "^(https://[^/?#:]+):443$", "$1")
  }

  /** Canonical URL form — the normalization that makes URL-keyed exact
    * dedup actually collide: the same page crawled as
    * `HTTPS://Example.COM:443/a/?utm_source=x&b=2#frag` and
    * `https://example.com/a?b=2` must canonicalize identically, or a
    * URL-level dedup pass silently keeps both copies. Rules, in order:
    * scheme+host lowercased; default port stripped; fragment dropped;
    * empty path → `/` and a deeper path's single trailing `/` removed;
    * tracking parameters (`utm_*`, `fbclid`, `gclid`, `ref`) and empty
    * pairs dropped from the query; surviving parameters SORTED so
    * parameter order cannot split a duplicate; `?` dropped when
    * nothing survives. Everything is anchored-regex + array-HOF
    * arithmetic — codegen'd, scan-local, zero shuffles — and each
    * rule is byte-reproducible in any engine with list/regex
    * primitives (the DuckDB oracle runs the same rules). Case inside
    * path and query is PRESERVED (semantically significant on most
    * servers). Null-safe: null in, null out. */
  def canonicalUrl(url: Column): Column = {
    // fragment stripped FIRST: a '?' appearing only inside the fragment
    // (https://ex.com/p#sec?x=1) must not be parsed as a query string
    val u = regexp_replace(trim(url), "#.*", "")
    val path0 = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val path = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, "^(/.*[^/])/$", "$1"))
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query, "&"),
      p => !(p === "" || p.rlike("^(utm_[^=]*|fbclid|gclid|ref)="))))
    val qs = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    concat(canonicalOrigin(u), path, qs)
  }

  /** Hostname of a URL, lowercased, port dropped. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)", 1))

  /** Registrable domain: the last two labels of the host (the
    * practical blocklist key — a real public-suffix list is a data
    * table, not a regex, and plugs in as the blocklist itself). */
  def registeredDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Word n-gram shingles (n consecutive tokens, space-joined). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** MinHash signature: for each of `numHashes` seeds, the minimum
    * xxhash64(shingle, seed) over the document's shingle set. */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column = {
    val sh = array_distinct(shingles(text, n))
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(sh, s => xxhash64(s, seed))))
  }

  /** SimHash with md5-derived bits, as a 64-char '0'/'1' string — the
    * ORACLE-CHECKABLE twin of [[simhash]]: the operator shape is
    * identical (per bit, sign of the Σ±1 over token-hash bits; equal
    * signatures ⇔ hamming distance 0) but each bit comes from an md5
    * hex digit instead of XXH64, so any engine with md5 + string ops
    * reproduces the signature byte-for-byte (DuckDB lacks XXH64; its
    * 64-bit multiply-rotate chain is not SQL-replicable, md5 is). Bit b
    * is bit (b mod 4) of hex digit b/4. Scan-local native kernel
    * ([[graft.plans.TextHash.simhashMd5Kernel]] — one MD5 + one tight
    * bit loop per token inside whole-stage codegen; the original
    * 64-interpreted-subtrees-per-token HOF form benched 20 s at
    * sf0.1), zero shuffles; an empty token list yields the all-zeros
    * signature (callers pair-generating should filter empty docs — two
    * empty docs ARE hamming-0 duplicates, but usually filtered
    * upstream). */
  def simhashMd5(text: Column): Column =
    graft.plans.TextHashColumns.simhashMd5(text)

  /** 64-bit SimHash over whitespace tokens: per bit, sign of the sum of
    * (+1/-1) token-hash bits. Pure HOF expressions. */
  def simhash(text: Column): Column = {
    val toks = tokens(text)
    val counts = aggregate(
      toks,
      array_repeat(lit(0).cast("long"), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(63)),
            b => when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, lit(1L))
              .otherwise(lit(-1L))),
          (a, v) => a + v)
      })
    aggregate(
      zip_with(
        counts,
        sequence(lit(0), lit(63)),
        (c, b) => when(c > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc.bitwiseOR(v))
  }
}
