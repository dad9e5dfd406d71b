package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** The row loop the native unigram count (`graft.plans.TokenCount`
  * under a piece table) replaced, kept as its reference: a
  * `mapPartitions` over deserialized rows with its own broadcast, its
  * own pre-tokenizer, memo and whitespace map, and the count-only
  * Viterbi DP. (id, n_sp) per document; null text → 0. */
object UnigramLoop {

  private def viterbi(w: String, logp: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int, unkLogp: Double): (Double, Int) = {
    val n = w.length
    val bestLp = new Array[Double](n + 1)
    val bestN = new Array[Int](n + 1)
    java.util.Arrays.fill(bestLp, Double.NegativeInfinity)
    bestLp(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        if (bestLp(start) != Double.NegativeInfinity) {
          // avoid splitting a surrogate pair: a piece must end on a
          // code-point boundary
          val boundaryOk = !(end < n && Character.isHighSurrogate(w.charAt(end - 1)) &&
            Character.isLowSurrogate(w.charAt(end)))
          if (boundaryOk) {
            val lpObj = logp.get(w.substring(start, end))
            val lp =
              if (lpObj != null) lpObj.doubleValue
              else if (end - start <= 2 && (end - start == 1 ||
                Character.isSurrogatePair(w.charAt(start), w.charAt(start + 1))))
                unkLogp // unseen single code point: priced, never stuck
              else Double.NegativeInfinity
            if (lp != Double.NegativeInfinity) {
              val cand = bestLp(start) + lp
              if (cand > bestLp(end)) {
                bestLp(end) = cand
                bestN(end) = bestN(start) + 1
              }
            }
          }
        }
        start += 1
      }
      end += 1
    }
    (bestLp(n), bestN(n))
  }

  def tokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pieces: Seq[(String, Double)],
      byteLevel: Boolean = true): DataFrame = {
    val table = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var maxLen = 1
    pieces.foreach { case (p, lp) =>
      table.put(p, java.lang.Double.valueOf(lp))
      if (p.length > maxLen) maxLen = p.length
    }
    // unseen chars priced below every real piece: floor - 10 nats
    val unkLogp = (pieces.iterator.map(_._2).foldLeft(0.0)(math.min)) - 10.0
    val bc = docs.sparkSession.sparkContext.broadcast((table, maxLen, unkLogp))
    val outSchema = StructType(Seq(
      StructField("id", docs.schema(idCol).dataType),
      StructField("n_sp", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = docs.schema.fieldIndex(idCol)
    val textIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { rows =>
      val (tbl, mLen, unk) = bc.value
      val gpt2 = java.util.regex.Pattern.compile(TextFunctions.Gpt2Pattern)
      val memo = new java.util.HashMap[String, java.lang.Long](1 << 16)
      val MaxMemo = 1 << 20

      def countWord(w0: String): Long = {
        val hit = memo.get(w0)
        if (hit != null) return hit.longValue()
        val w =
          new String(w0.flatMap {
            case ' '  => "Ġ"
            case '\n' => "Ċ"
            case '\t' => "ĉ"
            case '\r' => "č"
            case c    => c.toString
          })
        val c = viterbi(w, tbl, mLen, unk)._2.toLong
        if (memo.size < MaxMemo) memo.put(w0, c)
        c
      }

      def countLegacy(w: String): Long = {
        val hit = memo.get(w)
        if (hit != null) return hit.longValue()
        val c = viterbi(w, tbl, mLen, unk)._2.toLong
        if (memo.size < MaxMemo) memo.put(w, c)
        c
      }

      rows.map { r =>
        val text = r.getString(textIdx)
        var total = 0L
        if (text != null) {
          if (byteLevel) {
            val m = gpt2.matcher(text)
            while (m.find()) total += countWord(m.group())
          } else {
            val words = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
            var i = 0
            while (i < words.length) {
              if (words(i).nonEmpty) total += countLegacy(words(i))
              i += 1
            }
          }
        }
        Row(r.get(idIdx), total)
      }
    }(enc).withColumnRenamed("id", idCol)
  }
}
