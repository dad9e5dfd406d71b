package graft.plans

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, GetStructField}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** The raw counts behind the Gopher-style text signals (Rae et al.
  * 2021), in ONE code-point pass per document (SURVEY.md §4). The
  * quality gate, the quality score and ratios, the
  * [[graft.operators.QualityModel]] features and language ID
  * ([[TextFunctions]]) are Column arithmetic over these int fields:
  *
  *  - `n_chars`   code points (Spark's length() semantics),
  *  - `n_nonws`   code points outside Java's `\s` ([ \t\n\x0B\f\r]),
  *  - `n_symbols` non-whitespace code points outside [a-zA-Z0-9],
  *  - `n_punct`   code points in [.!?,;:],
  *  - `n_words`   non-whitespace runs (== [[TextFunctions.tokens]]),
  *  - `n_stop`    words on any [[TextFunctions.Stopwords]] list (once,
  *                however many lists hold the word),
  *  - `stop_<lang>` words on that language's list, in `Stopwords` order.
  *
  * Null text → a null struct. The regexp/split/`filter` formulations
  * these counts replaced live on as spec-compared test references.
  */
object TextSignals {

  val Fields: Seq[String] =
    Seq("n_chars", "n_nonws", "n_symbols", "n_punct", "n_words", "n_stop") ++
      TextFunctions.Stopwords.map { case (lang, _) => s"stop_$lang" }

  private val Schema: StructType =
    StructType(Fields.map(StructField(_, IntegerType, nullable = false)))

  private val Index = stopwordIndex(TextFunctions.Stopwords.map(_._2))

  /** The counts of one text as Int columns: fields of one
    * `graft_text_signals(text)` call of [[of]]. */
  def columns(text: Column): TextCounts = {
    val signals = GraftShim.expression(
      KernelCall.column("graft_text_signals", TextSignals, "of", Schema, Seq(text)))
    val f = Fields.indices.map(i => GraftShim.column(GetStructField(signals, i, Some(Fields(i)))))
    TextCounts(f(0), f(1), f(2), f(3), f(4), f(5), f.drop(6))
  }

  /** Word → bit set of the lists holding it (bit i for list i). */
  private[graft] def stopwordIndex(lists: Seq[Seq[String]]): java.util.HashMap[String, Integer] = {
    require(lists.length < 32, s"at most 31 stopword lists, got ${lists.length}")
    val m = new java.util.HashMap[String, Integer]()
    for ((words, i) <- lists.zipWithIndex; w <- words)
      m.merge(w, 1 << i, (a: Integer, b: Integer) => a | b)
    m
  }

  /** A derived signal reads several fields, and a Filter (no
    * subexpression elimination in its generated code) evaluates the
    * struct once per field read: this per-thread memo of the last
    * input (a copy — input buffers are reused across rows) turns the
    * repeat reads of one row into a byte compare. */
  private final class Memo { var text: UTF8String = _; var counts: InternalRow = _ }
  private val memo = ThreadLocal.withInitial[Memo](() => new Memo)

  /** The kernel — called from both interpreted eval and generated code. */
  def of(input: UTF8String): InternalRow = {
    val m = memo.get
    if (!input.equals(m.text)) {
      m.counts = count(input, Index, TextFunctions.Stopwords.length)
      m.text = input.clone()
    }
    m.counts
  }

  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  private def isAlnum(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || (cp >= '0' && cp <= '9')

  private def isPunct(cp: Int): Boolean =
    cp == '.' || cp == '!' || cp == '?' || cp == ',' || cp == ';' || cp == ':'

  /** The counting loop, in [[Fields]] order, over `langs` stopword lists. */
  private[graft] def count(
      input: UTF8String, stops: java.util.HashMap[String, Integer], langs: Int): InternalRow = {
    val s = input.toString
    val n = new Array[Int](6 + langs)
    val token = new java.lang.StringBuilder(16)
    var i = 0
    while (i <= s.length) {
      // one whitespace past the end closes the last word
      val cp = if (i < s.length) s.codePointAt(i) else ' '
      if (isWs(cp)) {
        if (token.length > 0) {
          n(4) += 1
          val lists: Int = stops.getOrDefault(token.toString, 0)
          if (lists != 0) n(5) += 1
          var l = 0
          while (l < langs) { n(6 + l) += lists >> l & 1; l += 1 }
          token.setLength(0)
        }
      } else {
        n(1) += 1
        if (!isAlnum(cp)) n(2) += 1
        if (isPunct(cp)) n(3) += 1
        token.appendCodePoint(cp)
      }
      if (i < s.length) n(0) += 1
      i += Character.charCount(cp)
    }
    new GenericInternalRow(n.map(c => c: Any))
  }
}

/** The [[TextSignals]] fields of one text as Int columns. */
final case class TextCounts(
    chars: Column, nonWs: Column, symbols: Column, punct: Column,
    words: Column, stopwords: Column, stopwordsByLang: Seq[Column])
