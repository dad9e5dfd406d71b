package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's whitespace tokenizer and the token kernels built on
  * it: the text-dedup hashes (SURVEY.md §4), the per-doc
  * repetition/diversity counters, the adjacent n-gram builder behind
  * the n-gram LM family ([[TextHashColumns.tokenNgrams]]), and the
  * DSIR md5 token buckets with the frozen DSIR scorers that fold a
  * fitted table over them ([[TextHashColumns.md5Buckets]]). The
  * HOF-lambda formulations (`filter`/`transform`/`zip_with`/
  * `aggregate` lambdas are interpreted per array element) are up to
  * ~50× slower; these run the whole kernel as one tight Scala loop per
  * row. Each kernel is one method here, called through `StaticInvoke`
  * ([[KernelCall]], [[TextHashColumns]]): generated code calls it
  * directly, so the surrounding projection stays inside whole-stage
  * codegen.
  */
object TextHash {

  private val Seed = 42L

  /** Matches Java-regex `\s` (what `split(text, "\\s+")` and the
    * DuckDB oracles split on): ASCII space, \t, \n, \x0B, \f, \r only.
    * Deliberately NOT Character.isWhitespace — Unicode spaces (U+00A0,
    * U+2028, U+3000, …) are token characters under `\s`. */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** The engine's one tokenizer: runs of `\s` whitespace split, empty
    * tokens dropped. Every token kernel here and
    * [[graft.functions.TextFunctions.tokens]]
    * ([[TextHashColumns.whitespaceTokens]]) call it, so they agree on
    * what a token is by construction. */
  private[plans] def whitespaceTokens(s: UTF8String): Array[UTF8String] = {
    val str = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && isRegexSpace(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isRegexSpace(str.charAt(i))) i += 1
      if (i > start) out += UTF8String.fromString(str.substring(start, i))
    }
    out.toArray
  }

  private[plans] def shingleHashes(text: UTF8String, shingleN: Int): Array[Long] = {
    val toks = whitespaceTokens(text)
    val hashes =
      if (toks.length < shingleN) {
        Array(hashShingle(toks, 0, toks.length))
      } else {
        Array.tabulate(toks.length - shingleN + 1)(i => hashShingle(toks, i, shingleN))
      }
    val set = new java.util.HashSet[java.lang.Long](hashes.length * 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    hashes.foreach { h => if (set.add(h)) out += h }
    out.toArray
  }

  // Kernel entry points (called through StaticInvoke): take and return
  // Catalyst-native types only.

  def tokensKernel(input: UTF8String): GenericArrayData =
    new GenericArrayData(whitespaceTokens(input).asInstanceOf[Array[Any]])

  /** Adjacent `n`-token windows, one struct of `n` token strings per
    * start position 0..m−n — m−n+1 rows for m tokens, none when m < n.
    * Structs share the token UTF8Strings (immutable), no copy. */
  def tokenNgramsKernel(input: UTF8String, n: Int): GenericArrayData = {
    val toks = whitespaceTokens(input)
    val out = new Array[Any](math.max(toks.length - n + 1, 0))
    var i = 0
    while (i < out.length) {
      val gram = new Array[Any](n)
      System.arraycopy(toks, i, gram, 0, n)
      out(i) = new GenericInternalRow(gram)
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhashKernel(input: UTF8String, shingleN: Int, numHashes: Int): GenericArrayData = {
    val hashes = shingleHashes(input, shingleN)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var si = 0
    while (si < hashes.length) {
      val base = hashes(si)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(i.toLong, base)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      si += 1
    }
    new GenericArrayData(sig)
  }

  def shingleKernel(input: UTF8String, shingleN: Int): GenericArrayData =
    new GenericArrayData(shingleHashes(input, shingleN))

  /** One-pass repetition counters ([[TextHashColumns.repetitionStats]]):
    * unigram counts in a hash map (top frequency + total), 2-gram
    * duplicate count via a seen-set on the exact gram STRINGS (tokens contain no
    * whitespace, so the space-joined gram is unambiguous — no hash
    * collision caveat against the DuckDB `count(DISTINCT gram)`
    * replica). */
  def repetitionKernel(input: UTF8String): GenericInternalRow = {
    val toks = whitespaceTokens(input)
    var top = 0
    val it = countsOf(toks).values().iterator()
    while (it.hasNext) top = math.max(top, it.next().intValue)
    new GenericInternalRow(Array[Any](toks.length, top, math.max(toks.length - 1, 0),
      dupGrams(toks, 2)))
  }

  /** How often each key occurs. */
  private def countsOf[K](keys: Array[K]): java.util.HashMap[K, Integer] = {
    val counts = new java.util.HashMap[K, Integer](keys.length * 2)
    for (k <- keys) counts.merge(k, Integer.valueOf(1), (a: Integer, b: Integer) => a + b)
    counts
  }

  /** Per-doc lexical-diversity counters in one pass:
    * struct<n_tokens, n_types, n_hapax> (hapax = a type occurring
    * exactly once). Same `\s`-split token contract as every kernel
    * here. */
  def lexicalStatsKernel(input: UTF8String): GenericInternalRow = {
    val toks = whitespaceTokens(input)
    val counts = countsOf(toks)
    var hapax = 0
    val it = counts.values().iterator()
    while (it.hasNext) if (it.next().intValue == 1) hapax += 1
    new GenericInternalRow(Array[Any](toks.length, counts.size(), hapax))
  }

  /** Tokens `start until start + n` joined by single spaces. */
  private def joinGram(toks: Array[UTF8String], start: Int, n: Int): UTF8String =
    UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(toks, start, start + n): _*)

  private val Space = UTF8String.fromString(" ")

  private def gramKey(toks: Array[UTF8String], start: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(start + j).toString)
      j += 1
    }
    sb.toString
  }

  /** One-pass duplicate-n-gram counters for arbitrary n
    * ([[TextHashColumns.ngramDupStats]]): gram keys are the exact space-joined token
    * strings (the repetitionKernel convention — no hash-collision
    * caveat vs a SQL `count(DISTINCT gram)` replica). */
  def ngramDupKernel(input: UTF8String, n: Int): GenericInternalRow = {
    val toks = whitespaceTokens(input)
    new GenericInternalRow(Array[Any](math.max(toks.length - n + 1, 0), dupGrams(toks, n)))
  }

  /** Occurrences of `n`-grams beyond each gram's first. */
  private def dupGrams(toks: Array[UTF8String], n: Int): Int = {
    val nG = math.max(toks.length - n + 1, 0)
    val seen = new java.util.HashSet[String](nG * 2)
    (0 until nG).count(i => !seen.add(gramKey(toks, i, n)))
  }

  /** Fraction of token characters covered by n-grams that occur more
    * than once in the document ([[TextHashColumns.dupNgramCharFrac]]) —
    * the Gopher repetition signal for n ∈ 5..10: each covered token's
    * characters count ONCE however many duplicate grams overlap it. Two passes
    * over the (in-memory) token array, scan-local. */
  def dupCharFracKernel(input: UTF8String, n: Int): Double = {
    val toks = whitespaceTokens(input)
    val total = toks.length
    val nG = total - n + 1
    var totalChars = 0L
    var i = 0
    while (i < total) { totalChars += toks(i).numChars(); i += 1 }
    if (nG <= 0 || totalChars == 0L) return 0.0
    val keys = Array.tabulate(nG)(gramKey(toks, _, n))
    val counts = countsOf(keys)
    val covered = new Array[Boolean](total)
    i = 0
    while (i < nG) {
      if (counts.get(keys(i)).intValue > 1) {
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var c = 0L
    i = 0
    while (i < total) { if (covered(i)) c += toks(i).numChars(); i += 1 }
    c.toDouble / totalChars
  }

  /** Positional shingles for duplicate-SPAN detection: one
    * (hash, charStart, charEnd) struct per shingle position — NOT
    * de-duplicated (position matters), with the covered character range
    * in CODE POINTS (the unit Spark's `substring` counts), so a run of
    * matching shingles maps straight to a substring cut. Hashes are the
    * exact [[shingleHashes]] chain, so positional and set views of the
    * same text agree on what "the same shingle" means. Docs shorter
    * than `shingleN` tokens yield one whole-doc shingle (matching
    * [[shingleHashes]]); empty/whitespace-only docs yield none. */
  def positionalShingleKernel(input: UTF8String, shingleN: Int): GenericArrayData = {
    val str = input.toString
    val toks = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0 // UTF-16 index
    var cp = 0 // code-point index
    val n = str.length
    while (i < n) {
      if (isRegexSpace(str.charAt(i))) { i += 1; cp += 1 }
      else {
        val s0 = i
        val cp0 = cp
        while (i < n && !isRegexSpace(str.charAt(i))) {
          i += Character.charCount(str.codePointAt(i))
          cp += 1
        }
        toks += UTF8String.fromString(str.substring(s0, i))
        starts += cp0
        ends += cp
      }
    }
    val ts = toks.toArray
    val m = ts.length
    val out: Array[Any] =
      if (m == 0) Array.empty[Any]
      else if (m < shingleN)
        Array(InternalRow(hashShingle(ts, 0, m), starts(0), ends(m - 1)))
      else
        Array.tabulate[Any](m - shingleN + 1) { j =>
          InternalRow(hashShingle(ts, j, shingleN), starts(j), ends(j + shingleN - 1))
        }
    new GenericArrayData(out)
  }

  def simhashKernel(input: UTF8String): Long = {
    val toks = whitespaceTokens(input)
    val counts = new Array[Int](64)
    var ti = 0
    while (ti < toks.length) {
      val h = XXH64.hashUTF8String(toks(ti), Seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      ti += 1
    }
    positiveBits(counts)
  }

  /** Bit b set ⇔ `counts(b) > 0`: a SimHash from its 64 bit votes. */
  private def positiveBits(counts: Array[Int]): Long = {
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One token's DSIR bucket: md5 of its UTF-8 bytes, the digest's
    * top 52 bits (its first 13 hex chars: the first 7 bytes big-endian,
    * shifted right by 4), mod `buckets` — the oracles'
    * `pmod(conv(substring(md5(t), 1, 13), 16, 10), B)`. */
  private def md5Bucket(md: java.security.MessageDigest, token: UTF8String, buckets: Int): Long = {
    md.reset()
    val dig = md.digest(token.getBytes)
    var top = 0L
    var i = 0
    while (i < 7) { top = (top << 8) | (dig(i) & 0xffL); i += 1 }
    (top >>> 4) % buckets
  }

  private def md5BucketArray(input: UTF8String, buckets: Int): Array[Long] = {
    val md = Md5.get()
    whitespaceTokens(input).map(md5Bucket(md, _, buckets))
  }

  /** Each whitespace token's [[md5Bucket]], in token order. */
  def md5BucketsKernel(input: UTF8String, buckets: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(md5BucketArray(input, buckets))

  /** The frozen DSIR scorers' fold: for each token, left to right from
    * 0.0 (the order of the HOF fold it replaced, so the doubles agree
    * bit for bit), adds its bucket's row of the dense `table` into
    * `acc`, `acc.length` values per bucket. */
  private def foldBuckets(
      input: UTF8String, buckets: Int, table: Array[Double], acc: Array[Double]): Array[Double] = {
    for (b <- md5BucketArray(input, buckets)) {
      var j = 0
      while (j < acc.length) { acc(j) += table(b.toInt * acc.length + j); j += 1 }
    }
    acc
  }

  /** A document's frozen DSIR log-weight: `table(b)` summed over its
    * tokens' buckets. */
  def dsirScoreKernel(input: UTF8String, buckets: Int, table: Array[Double]): Double =
    foldBuckets(input, buckets, table, new Array[Double](1))(0)

  /** A document's frozen DSIR log-weights, one struct<domain, logw> per
    * domain: `table` holds `domains.length` values per bucket. Each sum
    * is rounded as Spark's `round(s, 4) + 0.0` rounds a double: NaN and
    * ±Inf pass through, the rest round half up in decimal. */
  def dsirDomainScoresKernel(input: UTF8String, buckets: Int, table: Array[Double],
      domains: Array[UTF8String]): GenericArrayData = {
    val sums = foldBuckets(input, buckets, table, new Array[Double](domains.length))
    new GenericArrayData(Array.tabulate[Any](domains.length) { j =>
      val s = sums(j)
      val r = if (s.isNaN || s.isInfinite) s
        else BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      new GenericInternalRow(Array[Any](domains(j), r + 0.0))
    })
  }

  /** md5-derived 64-bit SimHash rendered as a 64-char "0"/"1" string —
    * the ORACLE-CHECKABLE SimHash parameterization (DuckDB has md5 but
    * not xxhash64). Bit b of the result is the sign of
    * Σ_tokens (±1 per bit (b%4) of hex digit b/4 of md5(token)) —
    * byte-for-byte the semantics of the HOF formulation the
    * SimhashMd5Ctes oracle replays, ~50× faster (one MD5 + one tight
    * bit loop per token, vs 64 interpreted md5-substring-conv
    * subtrees per token). */
  def simhashMd5Kernel(input: UTF8String): UTF8String = {
    val counts = simhashMd5Votes(input)
    val out = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      out(b) = if (counts(b) > 0) '1'.toByte else '0'.toByte
      b += 1
    }
    UTF8String.fromBytes(out)
  }

  /** One 16-byte md5 digest per `shingleN`-token shingle, by position —
    * the native kernel behind the oracle-checkable span-dedup twin.
    * Digest i (0-based) is md5 of the tokens i..i+n-1 joined by a
    * single space, fed to MessageDigest incrementally — byte-for-byte
    * `unhex(md5(concat_ws(" ", slice(tokens, i+1, n))))`, without
    * materializing the joined string or running the 4-expression HOF
    * subtree once per position (the interpreted transform chain was
    * the twin's documented dominant cost). Docs with fewer than n
    * tokens yield an empty array (the caller's size filter makes this
    * unreachable in the span twin; kept total for safety). */
  def md5ShinglesKernel(input: UTF8String, n: Int): GenericArrayData = {
    val toks = whitespaceTokens(input)
    val m = toks.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val bytes = new Array[Array[Byte]](m)
    var t = 0
    while (t < m) { bytes(t) = toks(t).getBytes; t += 1 }
    val md = Md5.get()
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes(i + j))
        j += 1
      }
      out(i) = md.digest()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The packed-LONG form of [[simhashMd5Kernel]] — identical bit
    * semantics (bit b of the long ⇔ char b of the bit string), shaped
    * for [[graft.operators.Dedup.hamming64Pairs]]' chunk banding and
    * bit_count verification instead of string rendering. Keeping the
    * two kernels bit-aligned is what lets a radius-N hamming query be
    * SQL-oracle-checked: DuckDB replays the bit STRING and counts
    * differing positions, Spark xors the longs. */
  def simhashMd5LongKernel(input: UTF8String): Long =
    positiveBits(simhashMd5Votes(input))

  /** The md5 SimHash's 64 bit votes: Σ_tokens ±1 per bit (b%4) of hex
    * digit b/4 of md5(token). */
  private def simhashMd5Votes(input: UTF8String): Array[Int] = {
    val toks = whitespaceTokens(input)
    val counts = new Array[Int](64)
    val md = Md5.get()
    var ti = 0
    while (ti < toks.length) {
      md.reset()
      val dig = md.digest(toks(ti).getBytes)
      var b = 0
      while (b < 64) {
        val hexIdx = b >> 2 // 0-based hex-char index into the md5 hex string
        val byt = dig(hexIdx >> 1)
        val nibble = if ((hexIdx & 1) == 0) (byt >> 4) & 0xf else byt & 0xf
        if (((nibble >> (b & 3)) & 1) == 1) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      ti += 1
    }
    counts
  }

  /** md5-derived MinHash signature key — the ORACLE-CHECKABLE MinHash
    * parameterization: the doc's word shingles (`shingleN` tokens,
    * space-joined; a doc with 1..shingleN tokens contributes ONE
    * clipped shingle, matching the jaccard oracle's
    * `l[i:i+n-1]` slice semantics) each md5-hash ONCE, and hash
    * function j (j = 0..7) is the j-th 16-bit big-endian slice of that
    * digest (hex chars 4j..4j+3) — so any engine with md5 + substring
    * arithmetic reproduces every min. The 8 per-slice minima join with
    * '-' into one decimal key string; equal keys ⇔ estimated
    * jaccard 1 under this hash family. */
  def minhashMd5KeyKernel(input: UTF8String, shingleN: Int): UTF8String = {
    val toks = whitespaceTokens(input)
    val m = toks.length
    val mins = new Array[Int](8)
    java.util.Arrays.fill(mins, Int.MaxValue)
    if (m > 0) {
      val md = Md5.get()
      val nWindows = math.max(m - shingleN + 1, 1)
      var j = 0
      while (j < nWindows) {
        md.reset()
        val dig = md.digest(joinGram(toks, j, math.min(shingleN, m - j)).getBytes)
        var s = 0
        while (s < 8) {
          val v = ((dig(2 * s) & 0xff) << 8) | (dig(2 * s + 1) & 0xff)
          if (v < mins(s)) mins(s) = v
          s += 1
        }
        j += 1
      }
    }
    val sb = new java.lang.StringBuilder(48)
    var s = 0
    while (s < 8) {
      if (s > 0) sb.append('-')
      sb.append(mins(s))
      s += 1
    }
    UTF8String.fromString(sb.toString)
  }

  @inline private def bucketOf(h: Long, numBuckets: Int): Int = {
    val r = (h % numBuckets).toInt
    if (r < 0) r + numBuckets else r
  }

  /** fastText hashing-trick bucket ids: unigrams up to `wordNgrams`-
    * grams, each xxhash64(space-joined gram) pmod'd into
    * [0, numBuckets) — gram order (all unigrams, then bigrams, …)
    * and hashes agree bitwise with the HOF formulation
    * ([[graft.operators.FastTextQuality.docBuckets]]'s contract). */
  private[plans] def hashedNgramBucketArray(
      input: UTF8String, numBuckets: Int, wordNgrams: Int): Array[Int] = {
    val toks = whitespaceTokens(input)
    val m = toks.length
    var total = m
    var n = 2
    while (n <= wordNgrams) { if (m >= n) total += m - n + 1; n += 1 }
    val out = new Array[Int](total)
    var k = 0
    var i = 0
    while (i < m) {
      out(k) = bucketOf(XXH64.hashUTF8String(toks(i), Seed), numBuckets)
      i += 1; k += 1
    }
    n = 2
    while (n <= wordNgrams) {
      if (m >= n) {
        var j = 0
        while (j <= m - n) {
          out(k) = bucketOf(XXH64.hashUTF8String(joinGram(toks, j, n), Seed), numBuckets)
          j += 1; k += 1
        }
      }
      n += 1
    }
    out
  }

  def hashedNgramBucketsKernel(
      input: UTF8String, numBuckets: Int, wordNgrams: Int): GenericArrayData =
    new GenericArrayData(hashedNgramBucketArray(input, numBuckets, wordNgrams))

  /** Mean bucket weight over the doc's hashed n-grams (0.0 for a
    * token-free doc) — the linear part of the fastText-style score,
    * summed in gram order like the HOF left fold so the doubles agree
    * bit-for-bit. */
  def hashedNgramMeanKernel(
      input: UTF8String, numBuckets: Int, wordNgrams: Int,
      table: Array[Double]): Double = {
    val bs = hashedNgramBucketArray(input, numBuckets, wordNgrams)
    if (bs.length == 0) 0.0
    else {
      var s = 0.0
      var i = 0
      while (i < bs.length) { s += table(bs(i)); i += 1 }
      s / bs.length
    }
  }

  private def hashShingle(toks: Array[UTF8String], start: Int, len: Int): Long = {
    var h = Seed
    var i = start
    val end = start + len
    while (i < end) {
      h = XXH64.hashUTF8String(toks(i), h)
      i += 1
    }
    h
  }
}

/** The token kernels as columns: each is one [[KernelCall]] of its
  * [[TextHash]] method, named as the column shows it. Null text gives
  * null. */
object TextHashColumns {

  private def call(name: String, method: String, dataType: DataType,
      text: Column, args: Any*): Column =
    KernelCall.column(name, TextHash, method, dataType, Seq(text), args)

  private def ints(names: String*): StructType =
    StructType(names.map(StructField(_, IntegerType, nullable = false)))

  private val Longs = ArrayType(LongType, containsNull = false)

  /** The engine's whitespace tokenizer as an array<string> — see
    * [[TextHash.whitespaceTokens]]; blank text gives an empty array. */
  def whitespaceTokens(text: Column): Column =
    call("whitespacetokens", "tokensKernel", ArrayType(StringType, containsNull = false), text)

  /** Adjacent whitespace-token n-grams, n = `fieldNames.size`:
    * array<struct<f1:string, …, fn:string>>, one struct per window in
    * document order — the scan-side occurrence builder of the n-gram LM
    * family ([[graft.operators.Vocab]]). The kernel never emits a null
    * token, so the fields are declared non-nullable: the optimizer then
    * knows the n-gram columns are never null, and the lm branches that
    * aggregate them stay canonically equal (exchange reuse) without a
    * not-null filter on each. */
  def tokenNgrams(text: Column, fieldNames: String*): Column = {
    require(fieldNames.size >= 2, "an n-gram needs n >= 2 fields")
    call("tokenngrams", "tokenNgramsKernel", ArrayType(
      StructType(fieldNames.map(StructField(_, StringType, nullable = false))),
      containsNull = false), text, fieldNames.size)
  }

  /** MinHash signature: array of `numHashes` minima of per-seed hashes
    * over the document's distinct `shingleN`-gram shingles. Seed variants
    * derive from one base shingle hash via XXH64.hashLong — O(shingles ×
    * numHashes) long ops per row, no per-seed string re-hashing. */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column =
    call("minhashsignature", "minhashKernel", Longs, text, shingleN, numHashes)

  /** 64-bit SimHash over whitespace tokens: bit b of the result is the
    * sign of Σ_tokens (±1 per bit b of xxhash64(token)). */
  def simhash(text: Column): Column =
    call("simhash64", "simhashKernel", LongType, text)

  /** md5-derived SimHash as a 64-char bit string — see
    * [[TextHash.simhashMd5Kernel]]. */
  def simhashMd5(text: Column): Column =
    call("simhashmd5", "simhashMd5Kernel", StringType, text)

  /** md5-derived SimHash packed into a 64-bit long — see
    * [[TextHash.simhashMd5LongKernel]]. */
  def simhashMd5Long(text: Column): Column =
    call("simhashmd5long", "simhashMd5LongKernel", LongType, text)

  /** Positional md5 shingle digests — array<binary>, one 16-byte digest
    * per shingle position; see [[TextHash.md5ShinglesKernel]]. */
  def md5Shingles(text: Column, shingleN: Int): Column =
    call("md5shingles", "md5ShinglesKernel", ArrayType(BinaryType, containsNull = false),
      text, shingleN)

  /** Lexical-diversity counters struct<n_tokens:int, n_types:int,
    * n_hapax:int> — see [[TextHash.lexicalStatsKernel]]. */
  def lexicalStats(text: Column): Column =
    call("lexicalstats", "lexicalStatsKernel", ints("n_tokens", "n_types", "n_hapax"), text)

  /** md5-sliced MinHash signature key string — see
    * [[TextHash.minhashMd5KeyKernel]]. */
  def minhashMd5Key(text: Column, shingleN: Int): Column =
    call("minhashmd5key", "minhashMd5KeyKernel", StringType, text, shingleN)

  /** fastText hashing-trick bucket ids (array<int>) — see
    * [[TextHash.hashedNgramBucketArray]]. */
  def hashedNgramBuckets(text: Column, numBuckets: Int, wordNgrams: Int): Column =
    call("hashedngrambuckets", "hashedNgramBucketsKernel",
      ArrayType(IntegerType, containsNull = false), text, numBuckets, wordNgrams)

  /** Mean hashed-n-gram bucket weight under a fixed table — see
    * [[TextHash.hashedNgramMeanKernel]]; the scoring kernel of
    * [[graft.operators.FastTextQuality]]. The table rides the call as
    * an object argument, not as plan data, so a 2^15-bucket model adds
    * no plan-string or canonicalization weight. */
  def hashedNgramMeanWeight(
      text: Column, numBuckets: Int, wordNgrams: Int, table: Array[Double]): Column = {
    require(table.length == numBuckets,
      s"weight table has ${table.length} entries for $numBuckets buckets")
    call("hashedngrammeanweight", "hashedNgramMeanKernel", DoubleType, text,
      numBuckets, wordNgrams, KernelCall.payload(table))
  }

  /** `buckets` if it is a DSIR bucket count, [2, 2^20]. */
  private[graft] def checkedBuckets(buckets: Int): Int = {
    require(buckets >= 2 && buckets <= (1 << 20), s"buckets must be in [2, 2^20], got $buckets")
    buckets
  }

  /** Each whitespace token's DSIR bucket (array<bigint>), in token
    * order — see [[TextHash.md5BucketsKernel]]. */
  def md5Buckets(text: Column, buckets: Int): Column =
    call("md5buckets", "md5BucketsKernel", Longs, text, checkedBuckets(buckets))

  /** A frozen DSIR log-weight over a dense per-bucket `table` — see
    * [[TextHash.dsirScoreKernel]]. Declared nullable, as the
    * `aggregate` fold it replaced was, so output schemas keep theirs. */
  def dsirScore(text: Column, buckets: Int, table: Array[Double]): Column = {
    require(table.length == checkedBuckets(buckets), s"${table.length} log-ratios for $buckets buckets")
    KernelCall.column("dsirscore", TextHash, "dsirScoreKernel", DoubleType, Seq(text),
      Seq(buckets, KernelCall.payload(table)), returnNullable = true)
  }

  /** Frozen DSIR log-weights against every domain — see
    * [[TextHash.dsirDomainScoresKernel]]; the struct fields are
    * nullable, as the `zip_with` they replaced declared them. */
  def dsirDomainScores(text: Column, buckets: Int, table: Array[Double],
      domains: Array[UTF8String]): Column = {
    require(table.length == checkedBuckets(buckets) * domains.length,
      s"${table.length} log-ratios for $buckets buckets x ${domains.length} domains")
    call("dsirdomainscores", "dsirDomainScoresKernel", ArrayType(StructType(Seq(
      StructField("domain", StringType), StructField("logw", DoubleType))), containsNull = false),
      text, buckets, KernelCall.payload(table), KernelCall.payload(domains))
  }

  /** Distinct `shingleN`-gram shingles of a document as 64-bit hashes
    * (chained XXH64 over the token run — bijective with the space-joined
    * shingle string up to hash collision, ~2⁻⁶⁵ per corpus pair). The
    * set-similarity joins key on these longs instead of shingle strings:
    * one tight kernel per row vs. the HOF formulation re-evaluating the
    * tokenizer per sequence element (O(tokens²) string work), and the
    * downstream shuffle carries 8-byte keys instead of n-gram text. */
  def shingleHashes(text: Column, shingleN: Int): Column =
    call("shinglehashes", "shingleKernel", Longs, text, shingleN)

  /** Positional shingles — array<struct<sh:long, cs:int, ce:int>>, one
    * entry per shingle position with its covered code-point range. The
    * span-dedup candidate generator keys on `sh` and shuffles only
    * (id, pos, cs, ce) — text never leaves the scan stage. */
  def positionalShingles(text: Column, shingleN: Int): Column =
    call("positionalshingles", "positionalShingleKernel", ArrayType(StructType(Seq(
      StructField("sh", LongType, nullable = false),
      StructField("cs", IntegerType, nullable = false),
      StructField("ce", IntegerType, nullable = false))), containsNull = false),
      text, shingleN)

  /** Gopher-style repetition counters over whitespace tokens, one tight
    * pass per row: struct<n_words, top_count (most frequent unigram's
    * occurrences), n_2grams, n_dup_2grams (occurrences beyond each
    * gram's first)>. The quality-filter repetition signals derive as
    * top_count/n_words and n_dup_2grams/n_2grams. Scan-local by design —
    * the distributed alternative (explode tokens → two groupBys) shuffles
    * every token of the corpus, which at 100 TB is the whole corpus
    * re-shuffled twice; here nothing leaves the scan stage. */
  def repetitionStats(text: Column): Column =
    call("repetitionstats", "repetitionKernel",
      ints("n_words", "top_count", "n_2grams", "n_dup_2grams"), text)

  /** Duplicate-n-gram counters for arbitrary n (the 2-gram case is
    * [[repetitionStats]]): struct<n_ngrams, n_dup_ngrams>. One pass per
    * row, scan-local. */
  def ngramDupStats(text: Column, n: Int): Column = {
    require(n >= 2, "n-gram n must be >= 2")
    call("ngramdupstats", "ngramDupKernel", ints("n_ngrams", "n_dup_ngrams"), text, n)
  }

  /** Gopher duplicate-n-gram CHARACTER coverage: the fraction of token
    * characters inside any n-gram that occurs more than once (each char
    * counted once). */
  def dupNgramCharFrac(text: Column, n: Int): Column = {
    require(n >= 2, "n-gram n must be >= 2")
    call("dupngramcharfrac", "dupCharFracKernel", DoubleType, text, n)
  }
}
