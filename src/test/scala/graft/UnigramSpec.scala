package graft

import graft.operators.Unigram

/** SentencePiece-unigram trainer + counting kernel: the EM fixpoint has
  * no SQL oracle, so correctness is pinned here — Viterbi optimality vs
  * brute-force enumeration, hard-EM objective monotonicity, determinism,
  * coverage, and the persistence round trip. */
class UnigramSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Brute-force best segmentation: enumerate every split of `w` into
    * vocab pieces, return (max total logp, piece count of that argmax;
    * longest-last-piece on exact-logp ties, matching the kernel). */
  private def bruteBest(w: String, vocab: Map[String, Double]): Option[(Double, Int)] = {
    if (w.isEmpty) return Some((0.0, 0))
    val options = for {
      k <- 1 to w.length
      piece = w.substring(w.length - k, w.length)
      lp <- vocab.get(piece)
      (restLp, restN) <- bruteBest(w.substring(0, w.length - k), vocab)
    } yield (restLp + lp, restN + 1, k)
    if (options.isEmpty) None
    else {
      val bestLp = options.map(_._1).max
      val winner = options.filter(_._1 == bestLp).maxBy(_._3)
      Some((winner._1, winner._2))
    }
  }

  test("tokenCounts = brute-force optimal segmentation on every short word") {
    val vocab = Seq(
      "a" -> math.log(0.08), "b" -> math.log(0.02), "c" -> math.log(0.02),
      "ab" -> math.log(0.30), "bc" -> math.log(0.25), "abc" -> math.log(0.20),
      "cab" -> math.log(0.13))
    val words = Seq("abc", "abcabc", "ababc", "cabc", "bcab", "aaa", "cccab")
    val got = Unigram.tokenCounts(
        docsOf(words: _*), "doc_id", "text", vocab, byteLevel = false)
      .orderBy(col("doc_id")).collect().map(_.getLong(1))
    words.zip(got).foreach { case (w, n) =>
      val expect = bruteBest(w, vocab.toMap).get._2
      assert(n == expect, s"word '$w': kernel=$n brute=$expect")
    }
  }

  test("training is deterministic and the vocabulary covers every corpus char") {
    val corpus = docsOf(
      "the token budget measures the token stream",
      "token counting needs the token table",
      "budget tables stream tokens")
    val a = Unigram.train(corpus, "text", vocabSize = 60, byteLevel = false)
    val b = Unigram.train(corpus, "text", vocabSize = 60, byteLevel = false)
    assert(a == b, "same corpus, same vocabulary, bit-identical logps")
    assert(a.length <= 60)
    val pieces = a.map(_._1).toSet
    val chars = "thetokenbudgetmeasuresstreamcountingneedstablestokens".toSet
    chars.foreach(c => assert(pieces.contains(c.toString), s"missing single char '$c'"))
    // probabilities are normalized: Σ p <= 1 (ε-smoothing keeps it below)
    val mass = a.map { case (_, lp) => math.exp(lp) }.sum
    assert(mass <= 1.0 + 1e-9 && mass > 0.5, s"probability mass $mass")
  }

  test("hard-EM objective is monotone in the iteration count (no-prune regime)") {
    val corpus = docsOf(
      "low low low low low lower lower newest newest newest newest newest newest",
      "widest widest widest low lower newest")
    // vocabSize large enough that pruning never fires: monotonicity is
    // the pure E/M alternation guarantee
    def obj(iters: Int): Double = {
      val v = Unigram.train(corpus, "text", vocabSize = 5000,
        emIters = iters, byteLevel = false)
      Unigram.corpusObjective(corpus, "text", v, byteLevel = false)
    }
    val objs = Seq(obj(1), obj(2), obj(3), obj(4))
    objs.sliding(2).foreach { case Seq(prev, next) =>
      assert(next >= prev - 1e-6, s"objective regressed: $objs")
    }
  }

  test("a frequent word collapses to one piece; rare words stay multi-piece") {
    val corpus = docsOf(Seq.fill(50)("token").mkString(" ") + " zq")
    val vocab = Unigram.train(corpus, "text", vocabSize = 40, byteLevel = false)
    val counts = Unigram.tokenCounts(
        docsOf("token", "zq"), "doc_id", "text", vocab, byteLevel = false)
      .orderBy(col("doc_id")).collect().map(_.getLong(1))
    assert(counts(0) == 1L, s"'token' (50 occurrences) should be a single piece, got ${counts(0)}")
    assert(counts(1) >= 1L && counts(1) <= 2L)
  }

  test("pruning reaches the target size without losing segmentability") {
    val corpus = docsOf(
      "abcd abcd abcd bcda bcda cdab dabc abcd bcda",
      "aaaa bbbb cccc dddd abab cdcd")
    val vocab = Unigram.train(corpus, "text", vocabSize = 8, byteLevel = false)
    assert(vocab.length <= 8, s"vocab ${vocab.length} > target 8")
    assert(Set("a", "b", "c", "d").subsetOf(vocab.map(_._1).toSet),
      "single chars survive pruning")
    // every corpus word still segments to a positive finite count
    val n = Unigram.tokenCounts(corpus, "doc_id", "text", vocab, byteLevel = false)
      .agg(min(col("n_sp"))).collect()(0).getLong(0)
    assert(n >= 1L)
  }

  test("persistence round-trips bit-identically; unseen chars are priced, not stuck") {
    val corpus = docsOf("alpha beta gamma alpha beta alpha")
    val vocab = Unigram.train(corpus, "text", vocabSize = 50, byteLevel = false)
    val back = Unigram.piecesFrom(Unigram.piecesDf(spark, vocab))
    assert(back.sortBy(_._1) == vocab.sortBy(_._1))
    // 'x'/'q' never occurred in training: the unk price keeps counting total
    val counts = Unigram.tokenCounts(
        docsOf("alphax qq beta"), "doc_id", "text", vocab, byteLevel = false)
      .collect().map(_.getLong(1))
    assert(counts(0) >= 4L, "unseen chars count as (priced) single-char pieces")
  }

  test("byte-level mode handles whitespace markers and multi-byte text") {
    val corpus = docsOf(
      "der Käse ist gut", "der Käse schmeckt", "Käse und Brot", "der gute Käse")
    val vocab = Unigram.train(corpus, "text", vocabSize = 80)
    assert(vocab.exists(_._1.contains("ä")), "non-ASCII char is a piece")
    val counts = Unigram.tokenCounts(corpus, "doc_id", "text", vocab)
      .collect().map(_.getLong(1))
    assert(counts.forall(_ >= 3L), "every doc yields at least its word count in pieces")
  }

  test("native unigram count matches the row-loop reference bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.LongType
    val texts: Seq[String] = Seq(
      null, "", "   ", " \t\n\r ",
      // \x0B and \f are `\s` but have no GPT-2 marker: plain chars
      "\u000B\f\u000B\f", "a\u000Bb\fc \u000B\u000B the",
      "the token budget", "Hello, world! DON'T stop", "10 000 2000",
      // a literal marker char reads like a mapped space to unigram
      "\u0120the the",
      // 2-, 3- and 4-byte UTF-8, surrogate pairs; chars never seen in
      // training pay the unk price
      "naïve café 中文 文本", "😀 emoji𝄞 x😀y", "zqxj ÿ \u2028")
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // a LocalRelation folds on the driver (interpreted eval); an
    // RDD-backed frame and the parquet table run whole-stage codegen
    val local = rows.toDF("doc_id", "text")
    val viaRdd = spark.sparkContext.parallelize(rows, 2).toDF("doc_id", "text")
    val docs = Tables.t(spark, Sf, "documents").select(col("doc_id"), col("text"))
    val hand = Seq(
      "t" -> math.log(0.05), "h" -> math.log(0.04), "e" -> math.log(0.06),
      "th" -> math.log(0.10), "the" -> math.log(0.12), "\u0120" -> math.log(0.07),
      "\u0120the" -> math.log(0.15), "é" -> math.log(0.02), "😀" -> math.log(0.01),
      "to" -> math.log(0.03), "ok" -> math.log(0.02), "en" -> math.log(0.03))
    val corpus = docsOf("the token budget measures the token stream",
      "der Käse ist gut, the cat isn't", "😀 tokens\tand\nlines")
    def same(df: DataFrame, pieces: Seq[(String, Double)], byteLevel: Boolean,
        what: String): Unit = {
      val got = Unigram.tokenCounts(df, "doc_id", "text", pieces, byteLevel)
      val n = got.schema("n_sp")
      assert(n.dataType == LongType && !n.nullable, s"$what: $n")
      val kernel = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val loop = UnigramLoop.tokenCounts(df, "doc_id", "text", pieces, byteLevel)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kernel.nonEmpty && kernel == loop, s"$what: kernel $kernel vs loop $loop")
    }
    for (byteLevel <- Seq(true, false)) {
      val trained = Unigram.train(corpus, "text", vocabSize = 60, byteLevel = byteLevel)
      val onDocs = Unigram.train(docs, "text", vocabSize = 120, byteLevel = byteLevel)
      for ((vocab, v) <- Seq((hand, "hand"), (trained, "trained"), (onDocs, "documents-trained"));
           (df, label) <- Seq((local, "edge cases"), (viaRdd, "edge cases, codegen"),
             (docs, "documents")))
        same(df, vocab, byteLevel, s"byteLevel=$byteLevel, $v vocab, $label")
    }
    // null, empty and word-free text count 0 in legacy mode
    val legacy = Unigram.tokenCounts(local, "doc_id", "text", hand, byteLevel = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L, 4L).forall(legacy(_) == 0L), legacy)
  }
}
