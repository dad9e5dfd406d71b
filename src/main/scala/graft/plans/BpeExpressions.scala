package graft.plans

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** The BPE token-count kernel behind [[BpeCount]]: rank-priority
  * adjacent-pair merging (Sennrich et al. 2016) against a rank map —
  * repeatedly merge the lowest-rank pair present in the word, all its
  * leftmost-non-overlapping occurrences at once. Per-word cost is
  * O(len² · pairs applied), independent of the merge-table size. */
object BpeKernel {

  /** Merge-pair key (left + NUL + right) → rank. */
  type Ranks = java.util.HashMap[String, Integer]

  /** Rank-map key separator — NUL can't appear inside a merge symbol
    * that came from a text vocab file. */
  private val Sep = '\u0000'

  /** Bound on a task's pre-token memo, so an adversarial
    * all-distinct-words corpus can't grow the heap without limit. */
  private[plans] val MaxMemo = 1 << 20

  /** The rank map of an ordered merge table, broadcast: it ships once
    * per executor, never as a per-task literal (a 50k-merge table is
    * ~1 MB). On a duplicate pair the first (lowest) rank wins. */
  private[plans] def broadcastRanks(merges: Seq[(String, String)]): Broadcast[Ranks] = {
    val m = new Ranks(merges.length * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.putIfAbsent(a + Sep + b, Integer.valueOf(r))
    }
    SparkSession.active.sparkContext.broadcast(m)
  }

  /** Per-document BPE token count of `text` under `merges`; null text
    * counts 0. */
  def count(text: Column, merges: Seq[(String, String)], byteLevel: Boolean): Column =
    GraftShim.column(BpeCount(GraftShim.expression(text), broadcastRanks(merges), byteLevel))

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

/** One task's counter: the compiled pre-tokenizer and a bounded
  * pre-token → count memo. Natural text repeats words heavily (Zipf),
  * so merging runs once per DISTINCT pre-token per task. */
final class BpeCounter(ranks: BpeKernel.Ranks, byteLevel: Boolean) {
  private val gpt2 = Pattern.compile(TextFunctions.Gpt2Pattern)
  private val nonAlnum = Pattern.compile("[^a-z0-9]+")
  private val memo = new java.util.HashMap[String, java.lang.Long](1 << 16)

  def count(text: UTF8String): Long = {
    val s = text.toString
    var total = 0L
    if (byteLevel) {
      val m = gpt2.matcher(s)
      while (m.find()) total += memoized(m.group())
    } else {
      // Locale.ROOT matches Spark's locale-independent lower()
      val words = nonAlnum.split(s.toLowerCase(java.util.Locale.ROOT))
      var i = 0
      while (i < words.length) {
        if (words(i).nonEmpty) total += memoized(words(i))
        i += 1
      }
    }
    total
  }

  private def memoized(w: String): Long = {
    val hit = memo.get(w)
    if (hit != null) return hit.longValue()
    val c = if (byteLevel) byteLevelCount(w) else legacyCount(w)
    if (memo.size < BpeKernel.MaxMemo) memo.put(w, c)
    c
  }

  // byte-level: whitespace → GPT-2 markers, symbols = code points,
  // plus the UTF-8 byte surplus of non-ASCII chars
  private def byteLevelCount(w: String): Long = {
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

  // legacy: lowercase-alnum symbols, no surplus (words are ASCII)
  private def legacyCount(w: String): Long = {
    val syms = new ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) { syms += String.valueOf(w.charAt(i)); i += 1 }
    BpeKernel.mergeCount(syms, ranks)
  }
}

/** BPE token count of a document, non-nullable long (null text → 0) —
  * see [[BpeKernel]] and [[graft.operators.Bpe]]. `byteLevel` picks
  * GPT-2 byte-level symbols over [[TextFunctions.Gpt2Pattern]]
  * pre-tokens, or the legacy lowercase-alnum words. The rank map rides
  * a broadcast, so the plan carries a handle, not the table; the
  * generated code holds one [[BpeCounter]] (and so one memo) per
  * task. */
case class BpeCount(child: Expression, ranks: Broadcast[BpeKernel.Ranks], byteLevel: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bpe_count"

  def newCounter(): BpeCounter = new BpeCounter(ranks.value, byteLevel)

  @transient private lazy val counter = newCounter()

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text == null) 0L else counter.count(text.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeCount", this)
    val counter = ctx.addMutableState(classOf[BpeCounter].getName, "bpeCounter",
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
