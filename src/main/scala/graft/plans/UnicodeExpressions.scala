package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization kernels (NFC/NFKC + accent strip) — the
  * standard pre-hash normalization for multilingual corpora: without
  * it, composed ("é") and decomposed ("e" + U+0301) spellings of the
  * same text hash to different dedup keys. Native kernels around
  * java.text.Normalizer, called through `StaticInvoke`; no UDF.
  *
  * Reference surface: polars' `str` namespace has no normalizer, so
  * users call Python `unicodedata` row-by-row
  * (polars_dataset.py:74-78 forwards everything); here it stays
  * scan-local inside whole-stage codegen.
  */
object UnicodeNorm {

  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(Normalizer.normalize(s.toString, Normalizer.Form.NFC))

  def nfkc(s: UTF8String): UTF8String =
    UTF8String.fromString(Normalizer.normalize(s.toString, Normalizer.Form.NFKC))

  /** NFD → drop non-spacing marks → NFC: "Café" → "Cafe", "ø"/"æ"/"ß"
    * (no combining decomposition) pass through untouched — the same
    * contract as DuckDB/utf8proc strip_accents, which the q_normalize
    * oracle pins. Code-point iteration so non-BMP marks strip too. */
  def stripAccents(s: UTF8String): UTF8String = {
    val d = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }
}

/** NFC is canonical composition; NFKC also folds compatibility forms
  * (ligatures, full-width forms, ℕ-style styled letters). Both keep
  * the `unicodenormalize(...)` column name. */
object UnicodeColumns {
  private def call(name: String, method: String, c: Column): Column =
    KernelCall.column(name, UnicodeNorm, method, StringType, Seq(c))

  def nfc(c: Column): Column = call("unicodenormalize", "nfc", c)
  def nfkc(c: Column): Column = call("unicodenormalize", "nfkc", c)
  def stripAccents(c: Column): Column = call("stripaccents", "stripAccents", c)
}
