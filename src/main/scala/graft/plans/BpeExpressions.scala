package graft.plans

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/* The native token count of both production tokenizer families, BPE
 * (graft.operators.Bpe) and unigram-LM (graft.operators.Unigram): one
 * expression, [[TokenCount]], owns what they share (the per-task memo,
 * the broadcast model handle, null text → 0, codegen) over one
 * pre-tokenizer, [[PreTokens]], which tokenizer training reads too; a
 * [[TokenModel]] supplies only the count of one pre-token. */

/** A tokenizer model as [[TokenCount]] sees it: the token count of one
  * RAW pre-token (whitespace not yet mapped to the GPT-2 markers — BPE
  * tells a mapped space from a literal 'Ġ' by its UTF-8 surplus). */
sealed trait TokenModel extends Serializable {
  /** The name a count under this model shows in plans and SQL text. */
  def sqlName: String
  def countWord(preToken: String): Long
}

/** The BPE token-count kernel: rank-priority adjacent-pair merging
  * (Sennrich et al. 2016) against a rank map — repeatedly merge the
  * lowest-rank pair present in the word, all its
  * leftmost-non-overlapping occurrences at once. Per-word cost is
  * O(len² · pairs applied), independent of the merge-table size. */
object BpeKernel {

  /** Merge-pair key (left + NUL + right) → rank. */
  type Ranks = java.util.HashMap[String, Integer]

  /** Rank-map key separator — NUL can't appear inside a merge symbol
    * that came from a text vocab file. */
  private val Sep = '\u0000'

  /** The model of an ordered merge table: its rank map (a 50k-merge
    * table is ~1 MB). On a duplicate pair the first (lowest) rank
    * wins. */
  private[plans] def model(merges: Seq[(String, String)]): TokenModel = {
    val m = new Ranks(merges.length * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.putIfAbsent(a + Sep + b, Integer.valueOf(r))
    }
    new BpeModel(m)
  }

  /** Per-document BPE token count of `text` under `merges`; null text
    * counts 0. */
  def count(text: Column, merges: Seq[(String, String)], byteLevel: Boolean): Column =
    TokenCount.column(text, model(merges), byteLevel)

  private[plans] def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** Rank-priority merge of `syms` in place; returns the surviving
    * symbol count. */
  private[plans] def mergeCount(syms: ArrayBuffer[String], ranks: Ranks): Long = {
    var done = syms.length < 2 || ranks.isEmpty
    while (!done) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + Sep + syms(i + 1))
        if (r != null && r.intValue < bestRank) {
          bestRank = r.intValue; bestA = syms(i); bestB = syms(i + 1)
        }
        i += 1
      }
      if (bestA == null) done = true
      else {
        var read = 0
        var write = 0
        while (read < syms.length) {
          if (read < syms.length - 1 && syms(read) == bestA && syms(read + 1) == bestB) {
            syms(write) = bestA + bestB; read += 2
          } else {
            syms(write) = syms(read); read += 1
          }
          write += 1
        }
        syms.takeInPlace(write)
        if (syms.length < 2) done = true
      }
    }
    syms.length.toLong
  }
}

/** BPE per pre-token: symbols are code points with whitespace mapped
  * to the GPT-2 markers, plus the UTF-8 byte surplus of every other
  * non-ASCII char. A lowercase-alnum word (the legacy pre-tokens) has
  * neither whitespace nor surplus, so one count serves both modes. */
private[plans] final class BpeModel(ranks: BpeKernel.Ranks) extends TokenModel {
  def sqlName: String = "graft_bpe_count"

  def countWord(w: String): Long = {
    val syms = new ArrayBuffer[String](w.length)
    var surplus = 0L
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val marker = TextFunctions.WsFrom.indexOf(cp)
      syms += (if (marker >= 0) String.valueOf(TextFunctions.WsTo.charAt(marker)) else {
        surplus += BpeKernel.utf8Len(cp) - 1
        new String(Character.toChars(cp))
      })
      i += Character.charCount(cp)
    }
    BpeKernel.mergeCount(syms, ranks) + surplus
  }
}

/** The unigram-LM kernel (Kudo 2018): Viterbi-best segmentation of a
  * word into vocabulary pieces — the count kernel and the E-step of
  * `graft.operators.Unigram.train`. */
object UnigramKernel {

  /** Piece → log-probability. */
  type LogProbs = java.util.HashMap[String, java.lang.Double]

  /** The model of a vocabulary: its piece table, its longest piece and
    * the unk price — chars never seen in training cost the table's
    * floor (at most 0) minus 10 nats. */
  private def model(pieces: Seq[(String, Double)]): TokenModel = {
    val table = new LogProbs(pieces.length * 2)
    var maxLen = 1
    pieces.foreach { case (p, lp) =>
      table.put(p, java.lang.Double.valueOf(lp))
      if (p.length > maxLen) maxLen = p.length
    }
    val unkLogp = pieces.iterator.map(_._2).foldLeft(0.0)(math.min) - 10.0
    new UnigramModel(table, maxLen, unkLogp)
  }

  /** Per-document unigram piece count of `text` under `pieces`; null
    * text counts 0. */
  def count(text: Column, pieces: Seq[(String, Double)], byteLevel: Boolean): Column =
    TokenCount.column(text, model(pieces), byteLevel)

  /** Viterbi-best segmentation of `w` under `logp`: the best last piece
    * ending at `end` starts at `back(end)`. Returns (total logp, back);
    * the total is -∞ when `w` has no segmentation. A piece ends on a
    * code-point boundary; pieces absent from `logp` are unusable, and
    * `unkLogp` prices a single code point never seen in training (pass
    * -∞ to forbid it). Strict > keeps, among equal totals, the LONGEST
    * last piece (the smallest start is examined first). */
  def viterbi(w: String, logp: LogProbs, maxPieceLen: Int,
      unkLogp: Double): (Double, Array[Int]) = {
    val n = w.length
    val bestLp = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(bestLp, Double.NegativeInfinity)
    bestLp(0) = 0.0
    var end = 1
    while (end <= n) {
      val boundaryOk = !(end < n && Character.isHighSurrogate(w.charAt(end - 1)) &&
        Character.isLowSurrogate(w.charAt(end)))
      var start = math.max(0, end - maxPieceLen)
      while (boundaryOk && start < end) {
        if (bestLp(start) != Double.NegativeInfinity) {
          val lpObj = logp.get(w.substring(start, end))
          val lp =
            if (lpObj != null) lpObj.doubleValue
            else if (end - start == 1 ||
                (end - start == 2 && Character.isSurrogatePair(w.charAt(start), w.charAt(start + 1))))
              unkLogp
            else Double.NegativeInfinity
          if (lp != Double.NegativeInfinity) {
            val cand = bestLp(start) + lp
            if (cand > bestLp(end)) { bestLp(end) = cand; back(end) = start }
          }
        }
        start += 1
      }
      end += 1
    }
    (bestLp(n), back)
  }

  /** The pieces of the segmentation [[viterbi]] found, first to last. */
  def pieces(w: String, back: Array[Int]): List[String] = {
    var out = List.empty[String]
    var p = w.length
    while (p > 0) { out = w.substring(back(p), p) :: out; p = back(p) }
    out
  }
}

/** Unigram per pre-token: the Viterbi piece count of the pre-token with
  * whitespace mapped to the GPT-2 markers (the training words' form). */
private[plans] final class UnigramModel(logp: UnigramKernel.LogProbs, maxLen: Int,
    unkLogp: Double) extends TokenModel {
  def sqlName: String = "graft_unigram_count"

  def countWord(w: String): Long = {
    val (lp, back) = UnigramKernel.viterbi(PreTokens.marked(w), logp, maxLen, unkLogp)
    var n = 0L
    var p = w.length
    while (lp != Double.NegativeInfinity && p > 0) { n += 1; p = back(p) }
    n
  }
}

/** The pre-tokenizer of both tokenizer families, for counting
  * ([[TokenCounter]]) and for training ([[graft.operators.Bpe]]'s word
  * counts): GPT-2 byte-level pre-tokens ([[TextFunctions.Gpt2Pattern]])
  * or the legacy lowercase-alnum words. */
object PreTokens {
  private val Gpt2 = Pattern.compile(TextFunctions.Gpt2Pattern)
  private val NonAlnum = Pattern.compile("[^a-z0-9]+")

  /** Calls `f` on each raw pre-token of `s`, in document order. */
  def foreach(s: String, byteLevel: Boolean)(f: String => Unit): Unit =
    if (byteLevel) {
      val m = Gpt2.matcher(s)
      while (m.find()) f(m.group())
    } else {
      // Locale.ROOT matches Spark's locale-independent lower()
      val words = NonAlnum.split(s.toLowerCase(java.util.Locale.ROOT))
      var i = 0
      while (i < words.length) {
        if (words(i).nonEmpty) f(words(i))
        i += 1
      }
    }

  /** `w` with its whitespace mapped to the GPT-2 markers
    * ([[TextFunctions.WsTo]]): the form a word trains in. */
  def marked(w: String): String = {
    val cs = w.toCharArray
    var i = 0
    while (i < cs.length) {
      val marker = TextFunctions.WsFrom.indexOf(cs(i))
      if (marker >= 0) cs(i) = TextFunctions.WsTo.charAt(marker)
      i += 1
    }
    new String(cs)
  }

  /** The kernel: a document's training words, [[marked]] pre-tokens in
    * document order. */
  def trainingWordsKernel(text: UTF8String, byteLevel: Boolean): ArrayData = {
    val out = new ArrayBuffer[Any]
    foreach(text.toString, byteLevel)(w => out += UTF8String.fromString(marked(w)))
    new GenericArrayData(out.toArray)
  }

  /** [[trainingWordsKernel]] as an array<string> column; null text
    * gives null. */
  def trainingWords(text: Column, byteLevel: Boolean): Column =
    KernelCall.column("trainingwords", PreTokens, "trainingWordsKernel",
      ArrayType(StringType, containsNull = false), Seq(text), Seq(byteLevel))
}

/** One task's counter: a bounded pre-token → count memo over
  * [[PreTokens]]. Natural text repeats words heavily (Zipf), so the
  * model counts once per DISTINCT pre-token per task. */
final class TokenCounter(model: TokenModel, byteLevel: Boolean) {
  private val memo = new java.util.HashMap[String, java.lang.Long](1 << 16)

  def count(text: UTF8String): Long = {
    var total = 0L
    PreTokens.foreach(text.toString, byteLevel)(w => total += memoized(w))
    total
  }

  private def memoized(w: String): Long = {
    val hit = memo.get(w)
    if (hit != null) return hit.longValue()
    val c = model.countWord(w)
    if (memo.size < TokenCounter.MaxMemo) memo.put(w, c)
    c
  }
}

object TokenCounter {
  /** Bound on a task's pre-token memo, so an adversarial
    * all-distinct-words corpus can't grow the heap without limit. */
  private val MaxMemo = 1 << 20
}

/** Token count of a document under a tokenizer model, non-nullable
  * long (null text → 0) — see [[BpeKernel]], [[UnigramKernel]],
  * [[graft.operators.Bpe]] and [[graft.operators.Unigram]]. `byteLevel`
  * picks GPT-2 byte-level pre-tokens ([[TextFunctions.Gpt2Pattern]])
  * or the legacy lowercase-alnum words. The model rides a broadcast,
  * so the plan carries a handle, not the table; the generated code
  * holds one [[TokenCounter]] (and so one memo) per task. */
case class TokenCount(child: Expression, model: Broadcast[TokenModel], byteLevel: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = model.value.sqlName

  def newCounter(): TokenCounter = new TokenCounter(model.value, byteLevel)

  @transient private lazy val counter = newCounter()

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text == null) 0L else counter.count(text.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokenCount", this)
    val counter = ctx.addMutableState(classOf[TokenCounter].getName, "tokenCounter",
      v => s"$v = $self.newCounter();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L : $counter.count(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCount {

  /** Per-document count of `text` under `model`; null text counts 0. */
  def column(text: Column, model: TokenModel, byteLevel: Boolean): Column =
    GraftShim.column(TokenCount(GraftShim.expression(text), broadcast(model), byteLevel))

  /** The model ships once per executor, never as a per-task literal. */
  private[plans] def broadcast(model: TokenModel): Broadcast[TokenModel] =
    SparkSession.active.sparkContext.broadcast(model)
}
