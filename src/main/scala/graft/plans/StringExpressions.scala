package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass multi-literal replacement (the polars
  * `str.replace_many` operation, reference surface via
  * polars_dataset.py:74-78 forwarding).
  *
  * A chained `replace(replace(...))` scans the document once PER
  * PATTERN — O(n · |patterns|), the same shape that made the literal
  * BPE chain impractical at a 50k merge table. This kernel walks a
  * prefix trie instead: one left-to-right pass, O(maxPatternLen) work
  * per position, INDEPENDENT of pattern count — a 10k-entry
  * blocklist costs the same scan as a 3-entry one.
  *
  * Match semantics: leftmost match wins; at the same start position
  * the LONGEST pattern wins; matches never overlap (scanning resumes
  * after the replaced span); on duplicate patterns the first binding
  * wins. For pattern sets whose matches cannot overlap (no nonempty
  * suffix of one pattern is a prefix of another, no pattern contains
  * another) this is bit-identical to the chained-replace formulation —
  * the property the q_replace_many oracle pins.
  *
  * Equal by (patterns, replacements): two calls over one pattern set
  * are one subexpression.
  */
final case class TrieReplacer(patterns: Seq[String], replacements: Seq[String]) {
  require(patterns.length == replacements.length,
    "patterns and replacements must align")
  require(patterns.nonEmpty, "at least one pattern")
  require(patterns.forall(_.nonEmpty), "empty pattern would match everywhere")

  private[plans] val patternArr = patterns.toArray
  private[plans] val replacementArr = replacements.toArray

  // flat trie: per-node char→child maps + the replacement index that
  // ends at this node (-1 = none). Built once driver-side, shipped with
  // the task; ~O(total pattern chars) memory.
  private[plans] val children = new java.util.ArrayList[java.util.HashMap[Character, Integer]]()
  private[plans] val outs = new java.util.ArrayList[Integer]()
  private def newNode(): Int = {
    children.add(new java.util.HashMap[Character, Integer]())
    outs.add(Integer.valueOf(-1))
    children.size() - 1
  }
  locally {
    newNode() // root = 0
    var p = 0
    while (p < patternArr.length) {
      val pat = patternArr(p)
      var node = 0
      var i = 0
      while (i < pat.length) {
        val c = Character.valueOf(pat.charAt(i))
        var next = children.get(node).get(c)
        if (next == null) {
          next = Integer.valueOf(newNode())
          children.get(node).put(c, next)
        }
        node = next.intValue()
        i += 1
      }
      if (outs.get(node).intValue() < 0) outs.set(node, Integer.valueOf(p))
      p += 1
    }
  }
}

/** The walks over a [[TrieReplacer]], one kernel per walk, each called
  * through [[KernelCall]] with the trie as an object argument. */
object TrieKernels {

  def replaceAll(input: UTF8String, trie: TrieReplacer): UTF8String = {
    val s = input.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      // longest match starting at i: walk the trie until it dead-ends
      var node = 0
      var j = i
      var best = -1
      var bestEnd = -1
      var walking = true
      while (walking && j < s.length) {
        val next = trie.children.get(node).get(Character.valueOf(s.charAt(j)))
        if (next == null) walking = false
        else {
          node = next.intValue()
          j += 1
          val o = trie.outs.get(node).intValue()
          if (o >= 0) { best = o; bestEnd = j }
        }
      }
      if (best >= 0) { sb.append(trie.replacementArr(best)); i = bestEnd }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Extraction dual of [[replaceAll]]: the ordered list of matches
    * under the SAME walk (leftmost, longest-at-position,
    * non-overlapping) — so a pattern set behaves identically whether
    * it is being redacted out or surveyed. */
  def extractAll(input: UTF8String, trie: TrieReplacer): ArrayData = {
    val s = input.toString
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < s.length) {
      var node = 0
      var j = i
      var best = -1
      var bestEnd = -1
      var walking = true
      while (walking && j < s.length) {
        val next = trie.children.get(node).get(Character.valueOf(s.charAt(j)))
        if (next == null) walking = false
        else {
          node = next.intValue()
          j += 1
          val o = trie.outs.get(node).intValue()
          if (o >= 0) { best = o; bestEnd = j }
        }
      }
      if (best >= 0) { out.add(UTF8String.fromString(trie.patternArr(best))); i = bestEnd }
      else i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** Boolean membership probe under the same automaton: does ANY
    * pattern occur? EARLY-EXITS on the first hit — a blocklist scan
    * over clean documents walks the whole text, but a hit near the
    * head costs only the prefix, unlike counting every match. A
    * "first match at position i" here is exactly "extractAll
    * non-empty" (any match implies a first one), so the two kernels
    * cannot disagree. */
  def containsAny(input: UTF8String, trie: TrieReplacer): Boolean = {
    val s = input.toString
    var i = 0
    while (i < s.length) {
      var node = 0
      var j = i
      var walking = true
      while (walking && j < s.length) {
        val next = trie.children.get(node).get(Character.valueOf(s.charAt(j)))
        if (next == null) walking = false
        else {
          node = next.intValue()
          j += 1
          if (trie.outs.get(node).intValue() >= 0) return true
        }
      }
      i += 1
    }
    false
  }
}

/** The trie kernels as columns: the [[TrieReplacer]] is built here, so
  * a bad pattern set fails at the call, and rides the [[KernelCall]] as
  * an object argument. Null text gives null. */
object StringColumns {

  private def walk(name: String, method: String, dataType: DataType, c: Column,
      trie: TrieReplacer): Column =
    KernelCall.column(name, TrieKernels, method, dataType, Seq(c), Seq(KernelCall.payload(trie)))

  /** Ordered (pattern → replacement) pairs — a Seq, not a Map, so
    * duplicate-pattern priority is explicit and deterministic. */
  def replaceMany(c: Column, pairs: Seq[(String, String)]): Column =
    walk("replacemany", "replaceAll", StringType, c,
      TrieReplacer(pairs.map(_._1), pairs.map(_._2)))

  /** All matches of a literal set in document order (leftmost,
    * longest-at-position, non-overlapping — the [[replaceMany]]
    * walk). */
  def extractMany(c: Column, patterns: Seq[String]): Column =
    walk("extractmany", "extractAll", ArrayType(StringType, containsNull = false), c,
      TrieReplacer(patterns, patterns))

  /** Does the text contain ANY of the literals? (polars
    * `str.contains_any`) — early-exit boolean dual of
    * [[extractMany]]. */
  def containsAny(c: Column, patterns: Seq[String]): Column =
    walk("containsany", "containsAny", BooleanType, c, TrieReplacer(patterns, patterns))
}
