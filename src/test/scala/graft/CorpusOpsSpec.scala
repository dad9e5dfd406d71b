package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.operators.{DedupCluster, Sessionize, Vocab}

class CorpusOpsSpec extends SparkSpec {

  test("sessionize splits on gaps > threshold and aggregates per session") {
    import spark.implicits._
    // user 1: events at 0s, 10s, 2h, 2h+30s -> sessions {0,10}, {2h, 2h+30}
    // user 2: one event -> one singleton session
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      (1L, ts(0), 1L, 1.0), (1L, ts(10), 2L, 2.0),
      (1L, ts(7200), 3L, 3.0), (1L, ts(7230), 4L, 4.0),
      (2L, ts(5), 5L, 9.0)
    ).toDF("user_id", "ts", "event_id", "value")

    val assigned = Sessionize.assign(ev, "user_id", "ts", gapSeconds = 3600,
        tieBreak = Seq(col("event_id")))
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L))

    val sess = Sessionize.sessions(ev, "user_id", "ts", 3600, "value",
        Seq(col("event_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(sess((1L, 0L)) == ((2L, 10000000L, 3.0)))
    assert(sess((1L, 1L)) == ((2L, 30000000L, 7.0)))
    assert(sess((2L, 0L)) == ((1L, 0L, 9.0)))
  }

  test("an exact-gap event stays in the session (strict > breaks)") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq((1L, ts(0), 1L, 0.0), (1L, ts(60), 2L, 0.0)).toDF("user_id", "ts", "event_id", "value")
    val seqs = Sessionize.assign(ev, "user_id", "ts", gapSeconds = 60, tieBreak = Seq(col("event_id")))
      .select("session_seq").collect().map(_.getLong(0)).toSet
    assert(seqs == Set(0L), "a gap exactly equal to the threshold must not break")
  }

  test("a null-ts event sorts after the timeline and opens its own session") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      (1L, Option(ts(0)), 1L, 1.0), (1L, Option(ts(10)), 2L, 2.0),
      (1L, None: Option[java.sql.Timestamp], 3L, 5.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val assigned = Sessionize.assign(ev, "user_id", "ts", 3600, Seq(col("event_id")))
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // SQL NULLS LAST: the null row comes after the real events and its
    // null gap starts session 1, leaving the timeline numbering intact
    assert(assigned == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("vocab topK counts term and document frequency with deterministic ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple   cherry\tcherry")
    ).toDF("doc_id", "text")
    val out = Vocab.topK(docs, "doc_id", "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // apple tf=3 df=2; cherry tf=3 df=2 — tie broken by token asc
    assert(out.toSeq == Seq(("apple", 3L, 2L), ("cherry", 3L, 2L)))
  }

  test("lmScore: common-token docs outscore rare-token docs; average is hand-exact") {
    import spark.implicits._
    // corpus: 'the' ×4, 'zyx' ×1, 'abc' ×1 → T=6
    val docs = Seq(
      (1L, "the the the"), // 3·ln(4/6)/3 = ln(2/3)
      (2L, "zyx"),         // ln(1/6)
      (3L, "the abc")      // (ln(4/6) + ln(1/6)) / 2
    ).toDF("doc_id", "text")
    val out = Vocab.lmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out(1L) == r4(math.log(4.0 / 6)), "uniform common doc = ln(tf/T)")
    assert(out(2L) == r4(math.log(1.0 / 6)))
    assert(out(3L) == r4((math.log(4.0 / 6) + math.log(1.0 / 6)) / 2))
    assert(out(1L) > out(3L) && out(3L) > out(2L),
      "rarer tokens must push the LM score down")
    // reference-model scoring: OOV tokens drop out of the average
    val model = Seq(("the", 9L), ("abc", 1L)).toDF("token", "tf")
    val ref = Vocab.lmScore(docs, "doc_id", "text", model = Some(model))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!ref.contains(2L), "all-OOV doc has nothing to score")
    assert(ref(1L) == r4(math.log(0.9)), "model probabilities, not corpus ones")
  }

  test("lmScoreBigram: transition likelihoods are hand-exact; short docs drop") {
    import spark.implicits._
    // corpus bigrams: doc1 "a b a b" → (a,b)×2, (b,a)×1; doc2 "a x" →
    // (a,x)×1. c2: ab=2, ba=1, ax=1; c1: a=3, b=1.
    val docs = Seq((1L, "a b a b"), (2L, "a x"), (3L, "solo")).toDF("doc_id", "text")
    val out = Vocab.lmScoreBigram(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out(1L)._1 == r4((2 * math.log(2.0 / 3) + math.log(1.0)) / 3))
    assert(out(1L)._2 == 3L)
    assert(out(2L)._1 == r4(math.log(1.0 / 3)) && out(2L)._2 == 1L)
    assert(!out.contains(3L), "a one-token doc has no transitions")
    assert(out(1L)._1 > out(2L)._1, "common transitions must outscore rare ones")
  }

  test("lmScoreTrigram: interpolated λ-mix is hand-exact; backs off, never -inf") {
    import spark.implicits._
    // corpus triples: doc1 "a b c a b c" → (a,b,c)×2, (b,c,a), (c,a,b);
    // doc2 "a b d" → (a,b,d). marginals: c12(a,b)=3, c3(a,b,c)=2 →
    // P3=2/3; c23(b,c)=2, c2m(b)=... hand-check just one doc below
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "x y")).toDF("doc_id", "text")
    val out = Vocab.lmScoreTrigram(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc2's one triple (a,b,d): c3=1, c12(a,b)=3, c23(b,d)=1,
    // c2m(b)=3, cw(d)=1, T=5
    val p2 = 0.6 * (1.0 / 3) + 0.3 * (1.0 / 3) + 0.1 * (1.0 / 5)
    assert(out(2L)._1 == r4(math.log(p2)) && out(2L)._2 == 1L)
    assert(!out.contains(3L), "a two-token doc has no trigram transitions")
    assert(out(1L)._1 > out(2L)._1, "repeated transitions must outscore one-offs")
  }

  test("lmScoreTrigramWith a frozen model == one-shot on the same corpus; OOV backs off") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "b c a b")).toDF("doc_id", "text")
    val model = Vocab.trigramModel(corpus, "doc_id", "text")
    val one = Vocab.lmScoreTrigram(corpus, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val frozen = Vocab.lmScoreTrigramWith(corpus, "doc_id", "text", model).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(frozen == one, "self-model scoring must reproduce the one-shot exactly")
    // a batch with an unseen trigram whose bigram tail IS known backs
    // off to the lower orders; a fully-unknown transition is excluded
    // (finite score, not -inf), and an all-unknown doc drops out
    val batch = Seq((10L, "d b c"), (11L, "q q q")).toDF("doc_id", "text")
    val scored = Vocab.lmScoreTrigramWith(batch, "doc_id", "text", model).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored.contains(10L) && !scored(10L).isNaN && !scored(10L).isInfinite,
      "unseen trigram with known (b,c) tail must score via backoff")
    assert(!scored.contains(11L), "no known mass at any order — nothing to score")
  }

  test("noveltyRate: unseen-transition fractions are hand-exact") {
    import spark.implicits._
    val ref = Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val model = Vocab.trigramModel(ref, "doc_id", "text")
    // batch: doc10 repeats a known trigram (novelty 0); doc11 mixes one
    // known (a,b,c) with one unknown (b,c,x); doc12 is all-new; doc13
    // is too short to have transitions
    val batch = Seq(
      (10L, "a b c"), (11L, "a b c x"), (12L, "p q r"), (13L, "a b")
    ).toDF("doc_id", "text")
    val out = Vocab.noveltyRate(batch, "doc_id", "text", model).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(10L) == ((1L, 0L, 0.0)))
    assert(out(11L) == ((2L, 1L, 0.5)))
    assert(out(12L) == ((1L, 1L, 1.0)))
    assert(!out.contains(13L), "no transitions, nothing to measure")
  }

  test("lm scores and novelty do not depend on the shuffle partition count") {
    // the per-doc averages sum doubles in shuffle order; the 4dp round
    // must absorb that, so 1 and 7 partitions give the same rows
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def rows(parts: Int) = {
      spark.conf.set(key, parts.toString)
      Seq("q_lm_score", "q_lm_bigram", "q_lm_trigram", "q_novelty").map(q =>
        q -> SparkEntry.queries(q)(spark, Sf).collect().map(_.toSeq).toSet).toMap
    }
    val (one, seven) = try (rows(1), rows(7)) finally spark.conf.set(key, prev)
    for ((q, r) <- one) {
      assert(r.nonEmpty, s"$q returned no rows")
      assert(r == seven(q), s"$q differs across partition counts: " +
        s"${(r diff seven(q)).take(3)} vs ${(seven(q) diff r).take(3)}")
    }
  }

  test("oovRate: fractions are hand-exact against an explicit vocab") {
    import spark.implicits._
    val docs = Seq((1L, "a a b z"), (2L, "z q"), (3L, "a b")).toDF("doc_id", "text")
    val vocab = Seq("a", "b").toDF("token")
    val out = Vocab.oovRate(docs, "doc_id", "text", vocab = Some(vocab)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((2L, 2L, 1.0)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    // self-vocab (top-k) mode: with k covering every token, OOV = 0
    val self = Vocab.oovRate(docs, "doc_id", "text", vocabSize = 10).collect()
      .map(r => r.getDouble(3))
    assert(self.forall(_ == 0.0))
  }

  test("line signals: bullet, ellipsis, and duplicate-line ratios are scan-exact") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val docs = Seq(
      (1L, "- a bullet\nplain line\n  * spaced bullet\ntrail...\n\n  \n"),
      (2L, "same line\nsame line\nother…"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = docs.select(
        col("doc_id"),
        TF.bulletLineRatio(col("text")).as("b"),
        TF.ellipsisLineRatio(col("text")).as("e"),
        TF.dupLineRatio(col("text")).as("d"),
        size(TF.docLines(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    // doc 1: 4 non-blank lines (blank + whitespace-only dropped),
    // 2 bullets (indented * counts), 1 ellipsis, no dups
    assert(out(1L) == ((0.5, 0.25, 0.0, 4)))
    // doc 2: unicode ellipsis counts; 'same line' repeats → 1/3 dup
    val (b2, e2, d2, n2) = out(2L)
    assert(b2 == 0.0 && e2 == 1.0 / 3 && n2 == 3)
    assert(math.abs(d2 - 1.0 / 3) < 1e-12)
    // empty doc: zero lines, all ratios 0 (no division blow-up)
    assert(out(3L) == ((0.0, 0.0, 0.0, 0)))
  }

  test("replaceMany: leftmost-longest single pass, non-overlapping, null-safe") {
    import spark.implicits._
    import graft.plans.StringColumns
    def run(text: String, pairs: Seq[(String, String)]): String = {
      val out = Seq(Tuple1(text)).toDF("t")
        .select(StringColumns.replaceMany(col("t"), pairs)).collect()(0)
      if (out.isNullAt(0)) null else out.getString(0)
    }
    // longest pattern wins at the same start
    assert(run("abcd", Seq("ab" -> "X", "abc" -> "Y")) == "Yd")
    // leftmost match wins over a later-starting longer one
    assert(run("abc", Seq("bc" -> "X", "ab" -> "Y")) == "Yc")
    // matches never overlap: scanning resumes after the replaced span
    assert(run("aaa", Seq("aa" -> "X")) == "Xa")
    // duplicate pattern: first binding wins
    assert(run("zz", Seq("zz" -> "A", "zz" -> "B")) == "A")
    // no match / empty input pass through; null stays null
    assert(run("hello", Seq("xyz" -> "!")) == "hello")
    assert(run("", Seq("a" -> "!")) == "")
    val nullOut = Seq(Tuple1(null: String)).toDF("t")
      .select(StringColumns.replaceMany(col("t"), Seq("a" -> "b"))).collect()(0)
    assert(nullOut.isNullAt(0))
    // empty patterns would match everywhere — rejected loudly
    intercept[Exception](run("x", Seq("" -> "boom")))
    // overlap-free pattern set == chained replace on real corpus docs
    val docs = graft.Tables.t(spark, Sf, "documents").limit(100)
    val pairs = Seq("customer query" -> "[CQ]", "spark" -> "[ENGINE]", "slow" -> "[SLOW]")
    val chained = pairs.foldLeft(col("text")) { case (c, (p, r)) =>
      replace(c, lit(p), lit(r))
    }
    assert(docs.select(StringColumns.replaceMany(col("text"), pairs) === chained)
      .collect().forall(_.getBoolean(0)),
      "trie pass must equal chained replace on an overlap-free set")
  }

  test("extractMany: matches in document order under the replaceMany walk") {
    import spark.implicits._
    import graft.plans.StringColumns
    def run(text: String, pats: Seq[String]): Seq[String] = {
      val out = Seq(Tuple1(text)).toDF("t")
        .select(StringColumns.extractMany(col("t"), pats)).collect()(0)
      if (out.isNullAt(0)) null else out.getSeq[String](0)
    }
    // longest at the same start; document order; non-overlapping
    assert(run("abcd ab x abc", Seq("ab", "abc")) == Seq("abc", "ab", "abc"))
    assert(run("aaa", Seq("aa")) == Seq("aa"))
    assert(run("none here", Seq("xyz")) == Seq.empty)
    assert(run("", Seq("a")) == Seq.empty)
    val nullOut = Seq(Tuple1(null: String)).toDF("t")
      .select(StringColumns.extractMany(col("t"), Seq("a"))).collect()(0)
    assert(nullOut.isNullAt(0))
    // extraction and replacement agree: what replaceMany deletes is
    // exactly what extractMany reports, span for span
    val text = "the customer query was slow; customer asked why spark was slow"
    val pats = Seq("customer query", "customer", "spark", "slow")
    val got = run(text, pats)
    assert(got == Seq("customer query", "slow", "customer", "spark", "slow"))
    // generated code compiles (no silent interpreted fallback)
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val n = graft.Tables.t(spark, Sf, "documents").limit(20)
        .select(size(StringColumns.extractMany(col("text"), pats)).as("n"))
        .collect().map(_.getInt(0))
      assert(n.forall(_ >= 0))
    } finally spark.conf.set(key, prev)
    // cross-kernel consistency on real docs: deleting with the SAME
    // pattern set removes exactly the characters extraction reports —
    // the two walks can never disagree about what matched
    val docs = graft.Tables.t(spark, Sf, "documents").limit(200)
    val deleted = StringColumns.replaceMany(col("text"), pats.map(_ -> ""))
    val bad = docs.select(
        (length(col("text")) - length(deleted)).as("dropped"),
        aggregate(transform(StringColumns.extractMany(col("text"), pats), m => length(m)),
          lit(0), (a, x) => a + x).as("matched"))
      .filter(col("dropped") =!= col("matched")).count()
    assert(bad == 0, "replaceMany and extractMany disagree on matched spans")
  }

  test("containsAny: early-exit boolean equals extractMany non-emptiness everywhere") {
    import spark.implicits._
    import graft.plans.StringColumns
    val pats = Seq("customer query", "customer", "spark", "zzzz-never")
    // hand edges: hit at head, hit at tail, miss, empty, null
    def probe(t: String): Any = {
      val r = Seq(Tuple1(t)).toDF("t")
        .select(StringColumns.containsAny(col("t"), pats)).collect()(0)
      if (r.isNullAt(0)) null else r.getBoolean(0)
    }
    assert(probe("customer first") == true)
    assert(probe("ends with spark") == true)
    assert(probe("nothing of note") == false)
    assert(probe("") == false)
    assert(Seq(Tuple1(null: String)).toDF("t")
      .select(StringColumns.containsAny(col("t"), pats)).collect()(0).isNullAt(0))
    // the boolean and the extractor share the automaton — they cannot
    // disagree on real docs
    val docs = graft.Tables.t(spark, Sf, "documents").limit(200)
    val bad = docs.select(
        StringColumns.containsAny(col("text"), pats).as("b"),
        (size(StringColumns.extractMany(col("text"), pats)) > 0).as("e"))
      .filter(col("b") =!= col("e")).count()
    assert(bad == 0, "containsAny and extractMany disagree")
  }

  test("a bad trie pattern set fails at the call, before any query runs") {
    import graft.plans.{StringColumns, TrieReplacer}
    val t = col("text")
    intercept[IllegalArgumentException](StringColumns.replaceMany(t, Nil))
    intercept[IllegalArgumentException](StringColumns.replaceMany(t, Seq("a" -> "b", "" -> "c")))
    intercept[IllegalArgumentException](StringColumns.extractMany(t, Seq("a", "")))
    intercept[IllegalArgumentException](StringColumns.containsAny(t, Nil))
    intercept[IllegalArgumentException](TrieReplacer(Seq("a", "b"), Seq("x")))
  }

  test("greedyPack fills bins to the budget, isolates oversized docs, keeps every doc") {
    import spark.implicits._
    import graft.operators.Pack
    val docs = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), // 1+2 fit a 256 bin, 3 spills
      (4L, 999L),                         // oversized: own pack
      (5L, 10L)
    ).toDF("doc_id", "n_tok").coalesce(1)
    val out = Pack.greedyPack(docs, "doc_id", "n_tok", budget = 256).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L), "a document was dropped")
    val byPack = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    // every pack within budget unless it holds a single oversized doc
    byPack.foreach { case (pack, total) =>
      val members = out.filter(_._3 == pack)
      assert(total <= 256 || members.length == 1,
        s"pack $pack holds $total tokens across ${members.length} docs")
    }
    // greedy trace on one partition: {1,2} fill bin0; 3 opens bin1; the
    // oversized 4 opens bin2 alone; 5 can't join a full bin -> bin3
    val packOf = out.map(t => t._1 -> t._3).toMap
    assert(packOf(1L) == packOf(2L))
    assert(packOf(3L) != packOf(1L))
    assert(out.count(_._3 == packOf(4L)) == 1, "oversized doc must pack alone")
  }

  test("tfidfTopK ranks distinctive terms above ubiquitous ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2"),
      (3L, "common filler")
    ).toDF("doc_id", "text")
    val out = Vocab.tfidfTopK(docs, "doc_id", "text", k = 1).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // "common" is in every doc -> idf = ln(1) = 0; the rare terms win
    assert(out(1L)._1 == "rare1" && out(2L)._1 == "rare2" && out(3L)._1 == "filler")
    val ln3 = math.round(math.log(3.0) * 10000) / 10000.0
    assert(out(1L)._2 == ln3, s"tf=1 df=1 n=3 -> ln(3), got ${out(1L)._2}")
  }

  test("a zero-token doc cannot share a pack with an oversized doc; bad inputs fail fast") {
    import spark.implicits._
    import graft.operators.Pack
    val docs = Seq((1L, 0L), (2L, 999L), (3L, 5L)).toDF("doc_id", "n_tok").coalesce(1)
    val out = Pack.greedyPack(docs, "doc_id", "n_tok", budget = 256).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val packOf = out.toMap
    assert(packOf(1L) != packOf(2L), "oversized doc joined a zero-token doc's pack")
    assert(out.count(_._2 == packOf(2L)) == 1)
    // non-integral id column fails on the driver with a clear message
    val badIds = Seq(("a", 10L)).toDF("doc_id", "n_tok")
    assertThrows[IllegalArgumentException](
      Pack.greedyPack(badIds, "doc_id", "n_tok", 256))
    // null token count packs as zero, not an executor NPE
    val nullTok = Seq((1L, Option(5L)), (2L, None: Option[Long])).toDF("doc_id", "n_tok")
    val n = Pack.greedyPack(nullTok, "doc_id", "n_tok", 256).collect()
    assert(n.length == 2 && n.forall(_.getLong(1) >= 0))
  }

  test("compressionRatio orders repetitive < natural < near-random; edges pinned") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val loop = "buy now click here " * 60
    val prose = "the quiet library holds thousands of unrelated stories, " +
      "each shelf mixing history with mathematics, poetry with engineering, " +
      "and travel journals with weathered atlases from distant coastlines"
    // full printable-ASCII PRNG text (~6.5 bits/char, vs hex's 4):
    // practically incompressible; java.util.Random is seed-stable
    val rnd = new java.util.Random(42)
    val noise = Array.fill(600)((33 + rnd.nextInt(94)).toChar).mkString
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // janino errors fail the job
    val out =
      try Seq((1L, loop), (2L, prose), (3L, noise), (4L, ""), (5L, null))
        .toDF("id", "text")
        .select(col("id"), TF.compressionRatio(col("text")).as("r"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))).toMap
      finally spark.conf.set(key, prev)
    assert(out(1).doubleValue < 0.2, s"looped boilerplate should crush: ${out(1)}")
    assert(out(1).doubleValue < out(2).doubleValue && out(2).doubleValue < out(3).doubleValue,
      s"expected loop < prose < noise, got $out")
    assert(out(4).doubleValue == 1.0, "empty text scores 1.0")
    assert(out(5) == null, "null text stays null")
    // DEFLATE is deterministic for a given input + level: same call,
    // same ratio (the rows-only q_compress relies on this)
    val again = Seq((2L, prose)).toDF("id", "text")
      .select(TF.compressionRatio(col("text"))).head().getDouble(0)
    assert(again == out(2).doubleValue)
  }

  test("redactPii masks emails, IPs, and phone numbers but not clean text") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      "mail a.b+c@ex.co and 10.0.0.1 then 555-123-4567 twice x@y.org",
      "clean text no pii 1.2 3.4",
      "versions 1.2.3.4 are masked as ip by design"
    ).toDF("text")
    val out = df.select(TF.redactPii(col("text"))).collect().map(_.getString(0))
    assert(out(0) == "mail <EMAIL> and <IP> then <PHONE> twice <EMAIL>")
    assert(out(1) == "clean text no pii 1.2 3.4")
    assert(out(2) == "versions <IP> are masked as ip by design")
  }

  test("connected components merge transitive pairs and leave islands apart") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = DedupCluster.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components converge on a chain and fail loudly past maxIter") {
    import spark.implicits._
    // a 12-node path: min label walks one hop per round
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = DedupCluster.connectedComponents(chain, maxIter = 20).collect()
      .map(r => r.getLong(1)).toSet
    assert(comps == Set(1L), "chain must collapse to one component")
    assertThrows[IllegalArgumentException](
      DedupCluster.connectedComponents(chain, maxIter = 3))
  }

  test("building q_dedup_cluster launches at most 8 Spark jobs") {
    // the build runs the CC loop: the edge and round-1 label
    // checkpoints, then one endpoint probe per round. The pair pass
    // needs no broadcast build job, and a converged probe builds no
    // step
    val sc = spark.sparkContext
    Tables.t(spark, Sf, "documents") // warm: the schema is inferred once per session
    sc.setJobGroup("cc_build", "build q_dedup_cluster")
    try SparkEntry.queries("q_dedup_cluster")(spark, Sf) finally sc.clearJobGroup()
    // the status tracker fills from the listener bus in event order:
    // once a later control job shows up, every build job is listed
    sc.setJobGroup("cc_build_control", "control job")
    try spark.range(1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds)) {
      assert(sc.statusTracker.getJobIdsForGroup("cc_build_control").nonEmpty)
    }
    val jobs = sc.statusTracker.getJobIdsForGroup("cc_build").length
    assert(jobs <= 8, s"building q_dedup_cluster launched $jobs jobs")
  }

  test("dropDuplicates keeps exactly the min-id document per cluster") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (5L, "b"), (6L, "b"), (9L, "c"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = DedupCluster.dropDuplicates(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 9L)) // 9 untouched: never in a pair
  }

  test("mergeComponents folds batch pairs into persisted labels == one-shot") {
    import spark.implicits._
    // history: {1,2,3} and {5,6} and {8,9}; 4 and 7 isolated (unlabelled)
    val pairs1 = Seq((2L, 1L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b")
    val labels1 = DedupCluster.connectedComponents(pairs1)
    // batch (ids > history): new doc 11 BRIDGES {1,2,3} and {5,6};
    // 12 extends {8,9}; 13 reaches previously-isolated 7; 14-15 are a
    // purely-new pair
    val pairs2 = Seq((3L, 11L), (6L, 11L), (9L, 12L), (7L, 13L), (14L, 15L))
      .toDF("id_a", "id_b")
    val merged = DedupCluster.mergeComponents(labels1, pairs2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = DedupCluster.connectedComponents(pairs1.unionByName(pairs2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == oneShot)
    assert(merged(6L) == 1L, "bridged components relabel to the global min")
    assert(merged(13L) == 7L && merged(14L) == 14L)
  }

  test("mergeComponents dedupes representative edges and drops self-loops") {
    import spark.implicits._
    // history: {1,2,3} with rep 1, {5,6} with rep 5
    val pairs1 = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels1 = DedupCluster.connectedComponents(pairs1)
    // batch where endpoint remapping COLLAPSES pairs: (2,3) and (1,3)
    // both reduce to the self-loop (1,1) — no merge information;
    // (2,5), (3,6), (1,5) all reduce to the same representative edge
    // (1,5); (11,12) is purely new. The reduced-edge dedupe must keep
    // the labelling identical to a full recluster.
    val pairs2 = Seq((2L, 3L), (1L, 3L), (2L, 5L), (3L, 6L), (1L, 5L), (11L, 12L))
      .toDF("id_a", "id_b")
    val merged = DedupCluster.mergeComponents(labels1, pairs2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = DedupCluster.connectedComponents(pairs1.unionByName(pairs2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == oneShot, s"merged=$merged oneShot=$oneShot")
    assert(merged(6L) == 1L && merged(12L) == 11L)
  }

  test("trainMerges learns the Sennrich merge order; trained table drives counting") {
    import spark.implicits._
    import graft.operators.Bpe
    // the classic BPE training corpus: low×5 lower×2 newest×6 widest×3.
    // Pair mass: (e,s)=9 ties (s,t)=9 → lex picks (e,s); then (es,t)=9;
    // then (l,o)=7 ties (o,w) → lex picks (l,o)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", numMerges = 3, byteLevel = false)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")))
    // the trained table plugs straight into the counting kernel:
    // "lowest" → l o w e s t → (e,s) → (es,t) → (l,o) → lo w est = 3
    val counted = Bpe.tokenCounts(Seq((9L, "lowest")).toDF("doc_id", "text"),
        "doc_id", "text", merges, byteLevel = false)
      .collect()(0).getLong(1)
    assert(counted == 3L)
    // persistence round-trip preserves rank order
    val back = Bpe.mergesFrom(Bpe.mergesDf(spark, merges))
    assert(back == merges)
    // training stops when no pair repeats instead of emitting noise
    val tiny = Seq((1L, "ab cd")).toDF("doc_id", "text")
    assert(Bpe.trainMerges(tiny, "text", numMerges = 10, byteLevel = false).isEmpty)
  }

  test("BPE merges apply in rank order with whole-symbol boundaries") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    // "the": t,h,e → (t,h) → th,e → (th,e) → the = 1 token
    // "thing": t,h,i,n,g → (t,h) → th,i,n,g → (i,n) → th,in,g
    //          → (in,g) → th,ing = 2 tokens
    val df = Seq(
      (1L, "the thing"), // 1 + 2 = 3
      (2L, "zzz"),       // no merges apply → 3 chars = 3
      (3L, "00 1000"),   // 00→1; 1000: 1,0,0,0 → (0,0) leftmost → 1,00,0 = 3
      (4L, ""),          // no words → 0
      (5L, "ab, cd! ab") // punctuation splits words; no merges → 2+2+2
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TF.bpeTokenCountMerges(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 0L, 5L -> 6L))
  }

  test("Bpe.tokenCounts (broadcast + memo) equals the Column formulation on real docs") {
    import graft.functions.{TextFunctions => TF}
    val docs = Tables.t(spark, Sf, "documents")
    def counts(c: Column) = docs.select(col("doc_id"), c.as("n_bpe"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // byte-level default vs the GPT-2 Column path and its replace chain
    val viaOperator = graft.operators.Bpe
      .tokenCounts(docs, "doc_id", "text", TF.DefaultMerges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOperator == counts(TF.bpeTokenCountGpt2(col("text"))))
    assert(viaOperator == counts(BpeChains.gpt2(col("text"))))
    assert(viaOperator.nonEmpty && viaOperator.values.forall(_ >= 0))
    // legacy lowercase-alnum path vs its Column twin and its replace chain
    val legacyOperator = graft.operators.Bpe
      .tokenCounts(docs, "doc_id", "text", TF.DefaultMerges, byteLevel = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(legacyOperator == counts(TF.bpeTokenCountMerges(col("text"))))
    assert(legacyOperator == counts(BpeChains.legacy(col("text"))))
  }

  test("native BpeCount matches the replace-chain references bit for bit") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val texts: Seq[String] = Seq(
      null, "", "   ", " \t\n\r ",
      // \x0B and \f are `\s` but have no GPT-2 marker: plain symbols
      "\u000B\f\u000B\f", "a\u000Bb\fc \u000B\u000B the",
      "the thing", "Hello, world! DON'T stop", "10 000 2000",
      // 2-, 3- and 4-byte UTF-8, surrogate pairs
      "naïve café 中文 文本", "😀 emoji𝄞 x😀y",
      // a literal U+0120 is the space marker's symbol plus one surplus
      // byte; a mapped space is the symbol alone (each model sees the
      // raw pre-token)
      "\u0120", "\u0120the \u0120at")
    // a LocalRelation folds on the driver (interpreted eval); an
    // RDD-backed frame and the parquet table run whole-stage codegen
    val local = texts.toDF("text")
    val viaRdd = spark.sparkContext.parallelize(texts.map(Tuple1(_)), 2).toDF("text")
    val docs = Tables.t(spark, Sf, "documents").select(col("text"))
    // the first rank of a duplicate pair wins: "abcd" → ab,c,d (3);
    // had the repeat's rank 3 won, (b,c) then (bc,d) would merge → a,bcd (2)
    val dup = Seq(("a", "b"), ("b", "c"), ("bc", "d"), ("a", "b"))
    def same(df: org.apache.spark.sql.DataFrame, kernel: org.apache.spark.sql.Column,
        chain: org.apache.spark.sql.Column, what: String): Unit = {
      val both = df.select(kernel.as("kernel"), chain.as("chain"))
      val Seq(k, c) = both.schema.fields.toSeq
      assert(k.dataType == LongType && !k.nullable && c.dataType == LongType && !c.nullable,
        s"$what: kernel $k vs chain $c")
      val rows = both.collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"$what: kernel ${r.getLong(0)} vs chain ${r.getLong(1)}"))
    }
    for ((df, label) <- Seq((local, "edge cases"), (viaRdd, "edge cases, codegen"),
        (docs, "documents"))) {
      for (merges <- Seq(TF.DefaultMerges, Nil)) {
        same(df, TF.bpeTokenCountGpt2(col("text"), merges),
          BpeChains.gpt2(col("text"), merges), s"byte-level, ${merges.size} merges, $label")
        same(df, TF.bpeTokenCountMerges(col("text"), merges),
          BpeChains.legacy(col("text"), merges), s"legacy, ${merges.size} merges, $label")
      }
      // an empty table leaves every symbol: UTF-8 bytes (every char is
      // in some pre-token), or the chars of the lowercase-alnum words
      same(df, TF.bpeTokenCountGpt2(col("text"), Nil),
        coalesce(octet_length(col("text")).cast("long"), lit(0L)), s"byte-level symbols, $label")
      same(df, TF.bpeTokenCountMerges(col("text"), Nil),
        coalesce(length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("long"), lit(0L)),
        s"legacy symbols, $label")
    }
    val abcd = Seq("abcd", "x abcd").toDF("text")
    same(abcd, TF.bpeTokenCountGpt2(col("text"), dup), BpeChains.gpt2(col("text"), dup),
      "byte-level, duplicate pair")
    same(abcd, TF.bpeTokenCountMerges(col("text"), dup), BpeChains.legacy(col("text"), dup),
      "legacy, duplicate pair")
    assert(abcd.select(TF.bpeTokenCountMerges(col("text"), dup)).as[Long].collect()
      .toSeq == Seq(3L, 4L))

    // where the chain is NOT the spec: a pair twice in a row shares one
    // sentinel space, so the chain merges only the first occurrence
    // (banana: b,an,a,n,a = 5; 0000: 00,0,0 = 3) where rank-priority
    // merges both (b,an,an,a = 4; 00,00 = 2). Java's `.` also skips the
    // line separators U+2028/U+2029/U+0085, so the chain glues one to
    // the next char of a punctuation run (".\u2028." = 2 symbols + 2
    // surplus bytes, not 3 + 2).
    val runs = Seq("banana", "0000", ".\u2028.").toDF("text")
    val got = runs.select(TF.bpeTokenCountGpt2(col("text")), BpeChains.gpt2(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((4L, 5L), (2L, 3L), (5L, 4L)), got)
  }

  test("GPT-2 byte-level BPE: case, punctuation, whitespace and unicode all count") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    // hand-computed against DefaultMerges (rank-priority == merge chain):
    //  "Hello, world!" = Hello(5) ,(1) Ġworld(5: or merges) !(1)      = 12
    //  "the cat isn't" = the(1) Ġcat(3: at) Ġisn(3: is) 't(2)         = 9
    //  "café"          = c,a,f,é (4) + 1 surplus byte for é           = 5
    //  "a\n\tb"        = a(1) newline+tab markers (Ċ,ĉ = 2) b(1)      = 4
    //  "a  b"          = a(1) ĠĠ(2) b(1)                              = 4
    //  "DON'T"         = DON(3) '(1) T(1)                             = 5
    val df = Seq(
      (1L, "Hello, world!"), (2L, "the cat isn't"), (3L, "café"),
      (4L, "a\n\tb"), (5L, "a  b"), (6L, "DON'T"), (7L, ""),
      (8L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val expected = Map(1L -> 12L, 2L -> 9L, 3L -> 5L, 4L -> 4L,
      5L -> 4L, 6L -> 5L, 7L -> 0L, 8L -> 0L)
    val viaOperator = graft.operators.Bpe
      .tokenCounts(df, "doc_id", "text", TF.DefaultMerges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaColumn = df
      .select(col("doc_id"), TF.bpeTokenCountGpt2(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOperator == expected)
    assert(viaColumn == expected)
  }

  test("rank-priority merging cost is bounded by word length, not merge-table size") {
    import spark.implicits._
    // 50k-entry consistent table over a 224-char non-ASCII alphabet —
    // every pair of base chars is a merge, outputs never recombine
    val alphabet = (0 until 224).map(i => (0x0100 + i).toChar.toString)
    val merges = for (a <- alphabet; b <- alphabet) yield (a, b)
    assert(merges.length > 50000)
    val word = (alphabet(0) + alphabet(1)) * 10 // 20 chars, merges to 10 symbols
    val docs = spark.range(5000).select(col("id").as("doc_id"),
      concat(lit("w"), col("id").cast("string"), lit(" "), lit(word)).as("text"))
    val t0 = System.nanoTime()
    val out = graft.operators.Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // w(1) + digits-of-id (one symbol each, no digit merges in this
    // table) + Ġ+word (11 symbols: Ġ survives, 10 merged pairs) +
    // 20 surplus bytes (each alphabet char is 2 UTF-8 bytes)
    out.foreach { case (id, n) =>
      assert(n == 1L + id.toString.length + 11L + 20L, s"doc $id")
    }
    // the literal-scan chain would run 5000 distinct ids × 50k merges;
    // rank-priority is a handful of hash lookups per word — seconds,
    // not minutes, even with full Spark job overhead
    assert(secs < 20.0, s"50k-merge table took ${secs}s")
  }

  test("curate with a BPE token counter measures budgets in BPE tokens") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{Bpe, Curate}
    val docs = Tables.t(spark, Sf, "documents")
    val out = Curate.corpus(docs, "doc_id", "text", "lang", budgetPerLang = 2000,
      tokenCounter = TF.bpeTokenCountGpt2(_, TF.DefaultMerges)).collect()
    assert(out.nonEmpty)
    // the spine's n_tok is now the faithful BPE count per kept doc
    val bpe = Bpe.tokenCounts(docs, "doc_id", "text", TF.DefaultMerges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getAs[Long]("n_tok") == bpe(r.getAs[Long]("doc_id"))))
    // and the running budget is measured in those tokens
    out.foreach(r => assert(r.getAs[Long]("cum_n_tok") <= 2000))
  }

  test("BPE counts drive tighter budgets than whitespace counts in greedyPack") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{Bpe, Pack}
    val docs = Tables.t(spark, Sf, "documents")
    val bpe = Bpe.tokenCounts(docs, "doc_id", "text", TF.DefaultMerges)
    // merges only ever shrink a word's symbol count: n_bpe is bounded
    // above by the unmerged (byte-level) count, strictly below in
    // aggregate on natural text
    val chars = docs.select(col("doc_id"),
      TF.bpeTokenCountGpt2(col("text"), Nil).as("n_chars"))
    val joined = bpe.join(chars, "doc_id").collect()
    assert(joined.forall(r => r.getAs[Long]("n_bpe") <= r.getAs[Long]("n_chars")))
    assert(joined.map(_.getAs[Long]("n_bpe")).sum < joined.map(_.getAs[Long]("n_chars")).sum)
    // packing on the faithful counts keeps every bin within the TRUE
    // token budget — packing on n_ws (an undercount of BPE tokens)
    // overfills bins when budgets are measured in real tokens
    val packed = Pack.greedyPack(bpe, "doc_id", "n_bpe", budget = 512)
    val fills = packed.groupBy("pack_id")
      .agg(sum("n_tokens").as("fill"), max("n_tokens").as("mx")).collect()
    assert(fills.forall(r => r.getAs[Long]("fill") <= 512 || r.getAs[Long]("mx") > 512))
  }

  // ---- substring-level duplicate-span removal (Lee et al. 2022) ----

  private val Boiler =
    "this site uses cookies to improve your experience accept all terms now"

  test("duplicateSpans flags planted boilerplate and removeSpans cuts it verbatim") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, s"alpha bravo charlie delta $Boiler echo foxtrot golf hotel"),
      (2L, s"india juliet kilo lima $Boiler mike november oscar papa"),
      (3L, s"quebec romeo sierra tango $Boiler uniform victor whiskey xray"),
      (4L, "yankee zulu one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10)
    val byDoc = spans.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // doc 1 is the min-id keeper; doc 4 shares nothing
    assert(!byDoc.contains(1L), s"keeper doc flagged: $byDoc")
    assert(!byDoc.contains(4L), s"unique doc flagged: $byDoc")
    assert(byDoc(2L).size == 1 && byDoc(3L).size == 1)
    // span = exactly the 12 boilerplate tokens, offsets in code points
    val cleaned = Dedup.removeSpans(docs, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- Seq(2L, 3L)) {
      val (cs, ce, tok) = (byDoc(id).head._1, byDoc(id).head._2, byDoc(id).head._3)
      assert(tok == 12, s"doc $id span_tokens $tok")
      assert(orig(id).substring(cs, ce) == Boiler,
        s"doc $id span [$cs,$ce) is not the boilerplate")
      assert(cleaned(id) == orig(id).substring(0, cs) + orig(id).substring(ce),
        s"doc $id not cut verbatim: '${cleaned(id)}'")
      assert(!cleaned(id).contains("cookies"))
    }
    // untouched docs pass through removeSpans byte-identical
    assert(cleaned(1L) == orig(1L) && cleaned(4L) == orig(4L))
  }

  test("duplicateSpansExact agrees with duplicateSpans on token counts and flags the same docs") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, s"alpha bravo charlie delta $Boiler echo foxtrot golf hotel"),
      (2L, s"india juliet kilo lima $Boiler mike november oscar papa"),
      (3L, s"quebec romeo sierra tango $Boiler uniform victor whiskey xray"),
      (4L, "yankee zulu one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val exact = Dedup.duplicateSpansExact(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // same flag set as the char-offset variant: keeper (1) and the
    // unique doc (4) untouched, 2 and 3 each carry one 12-token span
    assert(exact.map(_._1).toSet == Set(2L, 3L), exact.mkString(","))
    // the boilerplate starts at token 5 in each doc (4 lead tokens) and
    // runs 12 tokens: positions 5..16 inclusive
    for ((id, s, e, n) <- exact) {
      assert(n == 12, s"doc $id span_tokens $n")
      assert(s == 5 && e == 16, s"doc $id token span [$s,$e]")
    }
    // token counts agree with the production (XXH64, char-space) variant
    val prod = Dedup.duplicateSpans(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(exact.map(t => t._1 -> t._4.toInt).toMap == prod)
  }

  test("duplicateSpans keepFirst=false flags every occurrence; whole-dup doc cuts to whitespace") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, Boiler), (2L, Boiler),
      (3L, "unrelated words that never repeat anywhere else at all today")
    ).toDF("doc_id", "text")
    val all = Dedup.duplicateSpans(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10, keepFirst = false)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L))
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10)
    val cleaned = Dedup.removeSpans(docs, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == Boiler, "keeper must keep its copy")
    assert(cleaned(2L).trim.isEmpty, s"whole-dup doc kept text: '${cleaned(2L)}'")
  }

  test("duplicateSpans offsets are code points (multi-byte + surrogate safe)") {
    import spark.implicits._
    import graft.operators.Dedup
    // astral-plane emoji (surrogate pair) + accented words around the
    // shared run exercise UTF-16 vs code-point indexing
    val shared = "héllo wörld café naïve über résumé jalapeño piñata garçon façade"
    val docs = Seq(
      (1L, s"😀 unique start $shared"),
      (2L, s"🚀🚀 other intro $shared tail bit")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10)
    val r = spans.filter(col("doc_id") === 2L).collect()
    assert(r.length == 1)
    val (cs, ce) = (r(0).getInt(1), r(0).getInt(2))
    val t2 = docs.filter(col("doc_id") === 2L).select("text").as[String].head()
    // substring offsets are code points: convert to UTF-16 for the check
    val s16 = t2.offsetByCodePoints(0, cs)
    val e16 = t2.offsetByCodePoints(0, ce)
    assert(t2.substring(s16, e16) == shared,
      s"code-point span mismatch: '${t2.substring(s16, e16)}'")
    val cleaned = Dedup.removeSpans(docs, spans, "doc_id", "text")
      .filter(col("doc_id") === 2L).select("text").as[String].head()
    assert(cleaned == "🚀🚀 other intro  tail bit")
  }

  test("duplicateSpans ignores within-doc repetition and sub-threshold runs") {
    import spark.implicits._
    import graft.operators.Dedup
    val rep = "spam ham eggs"
    val docs = Seq(
      // repeated INSIDE one doc only -> nd=1, never flagged
      (1L, s"$rep $rep $rep $rep one two three four"),
      // shares only a 5-token run with doc 3 -> below minSpanTokens=10
      (2L, "aa bb cc dd ee unique tail of second document here"),
      (3L, "aa bb cc dd ee different ending for the third document")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
      shingleN = 3, minSpanTokens = 10)
    assert(spans.count() == 0, spans.collect().mkString(","))
  }

  test("ngramDupStats and dupNgramCharFrac are hand-exact, n-parametrized, edge-safe") {
    import spark.implicits._
    import graft.plans.TextHashColumns._
    // tokens a b a b a b c: 3-grams aba bab aba bab abc → 5 grams, 2 dups;
    // 4-grams abab baba abab babc → 4 grams, 1 dup
    val df = Seq((1L, "a b a b a b c"), (2L, "a b"), (3L, null: String))
      .toDF("doc_id", "text")
    val out = df.select(
        col("doc_id"),
        ngramDupStats(col("text"), 3).as("g3"),
        ngramDupStats(col("text"), 4).as("g4"),
        dupNgramCharFrac(col("text"), 2).as("cf2"),
        dupNgramCharFrac(col("text"), 5).as("cf5"))
      .orderBy("doc_id").collect()
    assert(out(0).getStruct(1).getInt(0) == 5 && out(0).getStruct(1).getInt(1) == 2)
    assert(out(0).getStruct(2).getInt(0) == 4 && out(0).getStruct(2).getInt(1) == 1)
    // 2-grams ab ba ab ba ab bc: ab×3 and ba×2 repeat, covering tokens
    // 0..5 of 7 single-char tokens → 6/7; all 5-grams distinct → 0
    assert(math.abs(out(0).getDouble(3) - 6.0 / 7.0) < 1e-12)
    assert(out(0).getDouble(4) == 0.0)
    // short doc: no 3-grams, zero fractions; null text stays null
    assert(out(1).getStruct(1).getInt(0) == 0 && out(1).getDouble(3) == 0.0)
    assert(out(2).isNullAt(1) && out(2).isNullAt(3))
    // multi-byte chars count as chars, not bytes
    val de = Seq((1L, "ää bb ää bb ää")).toDF("doc_id", "text")
      .select(dupNgramCharFrac(col("text"), 2)).collect()(0).getDouble(0)
    assert(de == 1.0, s"every token sits in a repeated 2-gram: $de")
    // n must be sensible
    intercept[IllegalArgumentException](
      df.select(ngramDupStats(col("text"), 1)).collect())
  }

  test("coverage: count-class arithmetic equals a hand cumsum, exact boundaries included") {
    import spark.implicits._
    // counts: a×4, b×3, c×2, d×1 → T=10; cum by (c desc, tok asc):
    // a→4, b→7, c→9, d→10
    val docs = Seq("a a a a b", "b b c c d").map(Tuple1(_)).toDF("text")
    val got = Vocab.coverage(docs, "text", levels = Seq(0.4, 0.5, 0.7, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0.4) == ((1L, 4L)), "0.4*10=4 is covered exactly by 'a'")
    assert(got(0.5) == ((2L, 7L)))
    assert(got(0.7) == ((2L, 7L)), "0.7*10=7 met exactly at 'b'")
    assert(got(0.9) == ((3L, 9L)))
    assert(got(1.0) == ((4L, 10L)))
    intercept[IllegalArgumentException](Vocab.coverage(docs, "text", Seq(0.0)))
    intercept[IllegalArgumentException](Vocab.coverage(docs, "text", Seq(1.5)))
  }

  test("coverageFromCounts == coverage; sharded duplicate token rows merge first") {
    import spark.implicits._
    val docs = Seq("a a a a b", "b b c c d").map(Tuple1(_)).toDF("text")
    val direct = Vocab.coverage(docs, "text", Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the same counts split into two overlapping shards, unioned —
    // the maintained-state shape a drift monitor folds
    val shardA = Seq(("a", 4L), ("b", 1L)).toDF("token", "c")
    val shardB = Seq(("b", 2L), ("c", 2L), ("d", 1L)).toDF("token", "c")
    val viaCounts = Vocab.coverageFromCounts(shardA.union(shardB), Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaCounts == direct)
  }

  test("coverage boundary lands mid-class: partial class types counted via the probe") {
    import spark.implicits._
    // five singleton tokens, T=5: 0.5*5=2.5 → 3 types needed
    val docs = Seq(Tuple1("a b c d e")).toDF("text")
    val got = Vocab.coverage(docs, "text", levels = Seq(0.5))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0.5) == ((3L, 3L)))
  }

  test("zipfSlope: an exact power law c = round(1000/r) fits near slope -1") {
    import spark.implicits._
    // build a corpus whose counts are exactly 1000/r for r=1..10 by
    // repeating distinct tokens; tie-break determinism via token names
    val words = (1 to 10).flatMap { r =>
      Seq.fill(math.round(1000.0 / r).toInt)(f"w$r%02d")
    }
    val docs = Seq(Tuple1(words.mkString(" "))).toDF("text")
    val row = Vocab.zipfSlope(docs, "text", k = 10).collect()(0)
    assert(row.getLong(0) == 10L)
    val slope = row.getDouble(1)
    assert(slope < -0.95 && slope > -1.05, s"expected ~-1, got $slope")
    intercept[IllegalArgumentException](Vocab.zipfSlope(docs, "text", k = 1))
  }

  test("tokenizerFertility: hand-computed per-language counts and ratios") {
    import spark.implicits._
    // en: "ab cd" = 2 words, 2 BPE runs, 5 chars -> fertility 1.0, cpt 2.5
    // de: "a1-b x" = 2 words, 5 BPE runs (a,1,-,b,x), 6 chars -> 2.5, 1.2
    val docs = Seq(("en", "ab cd"), ("de", "a1-b x")).toDF("lang", "text")
    val got = Vocab.tokenizerFertility(docs, "text", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got("en") == ((1L, 2L, 2L, 1.0, 2.5)), got("en").toString)
    assert(got("de") == ((1L, 2L, 5L, 2.5, 1.2)), got("de").toString)
  }

  test("tokenizerFertility: zero-token stratum yields NULL ratios, not inf or error") {
    import spark.implicits._
    // "..." tokenizes to one whitespace word but zero BPE runs match?
    // no — punctuation matches the BPE pattern; use the empty string:
    // 0 words, 0 subword tokens, 0 chars -> both ratios NULL (an
    // unguarded x/0 is null in Spark but inf in DuckDB — both sides
    // must agree on NULL)
    val docs = Seq(("xx", ""), ("en", "ab cd")).toDF("lang", "text")
    val rows = Vocab.tokenizerFertility(docs, "text", "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("xx").isNullAt(4) && rows("xx").isNullAt(5),
      s"expected NULL ratios for the empty stratum: ${rows("xx")}")
    assert(rows("en").getDouble(4) == 1.0)
  }

  test("contaminationScore: planted benchmark quotes score high, fresh text scores 0") {
    import spark.implicits._
    import graft.operators.Dedup
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // full quote → 1.0
      (2L, "completely novel words nowhere else written today"), // 0.0
      (3L, "intro words then the quick brown fox jumps away")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationScore(corpus, bench, "doc_id", "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((7L, 7L, 1.0)))
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0)
    // doc 3: 9 tokens → 7 windows; "the quick brown", "quick brown
    // fox" and "brown fox jumps" overlap the quote's window set
    assert(got(3L) == ((7L, 3L, 0.4286)))
    // every input doc is scored exactly once
    assert(got.size == 3)
  }

  test("similarityHistogram: bin counts equal a direct bucket of jaccardPairs") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"), // high overlap with 1
      (3L, "a b c d e zz yy xx ww vv"), // partial overlap
      (4L, "p q r s t u v w x y")
    ).toDF("doc_id", "text")
    val hist = Dedup.similarityHistogram(docs, "doc_id", "text",
        shingleN = 2, minJaccard = 0.1)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val direct = Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2, threshold = 0.1)
      .collect().map(_.getDouble(2))
      .groupBy(j => math.floor(j * 10.0) / 10.0).view.mapValues(_.length.toLong).toMap
    assert(hist == direct && hist.values.sum > 0)
  }
}
