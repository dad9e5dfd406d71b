package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, DedupCluster}

class TextDedupSpec extends SparkSpec {

  private lazy val docs = Tables.t(spark, Sf, "documents")

  test("token counts are positive and ws<=chars") {
    val r = docs.select(TF.tokenCount(col("text")).as("n"), length(col("text")).as("c"))
      .agg(min(col("n")), max(col("n")), sum((col("n") <= col("c")).cast("int")), count(lit(1)))
      .head()
    assert(r.getInt(0) >= 0 && r.getLong(2) == r.getLong(3))
  }

  test("shingles: n tokens yield n-k+1 shingles") {
    import spark.implicits._
    val df = Seq("a b c d e f").toDF("text")
    val n = df.select(size(TF.shingles(col("text"), 3)).as("n")).head().getInt(0)
    assert(n == 4)
    val short = Seq("a b").toDF("text")
      .select(TF.shingles(col("text"), 5).as("s")).head().getSeq[String](0)
    assert(short == Seq("a b"))
  }

  // note: the synthetic documents table uses one shared vocabulary for
  // every lang label, so no text heuristic can recover the label there;
  // langId is spec'd on real multilingual samples instead.
  test("langId detects the language of natural samples") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and the dog is in the garden for the day"),
      ("de", "der hund ist nicht mit der katze und das haus ist ein traum"),
      ("fr", "le chat est sur la table et les enfants sont dans un jardin"),
      ("es", "el perro y los gatos que viven en las casas juegan por la noche como reyes"),
      ("zh", "我 的 猫 是 在 桌子 上 他 有 一个 梦 这 是 好 的")
    ).toDF("lang", "text")
    val hits = samples.select((TF.langId(col("text")) === col("lang")).cast("int").as("h"))
      .agg(sum(col("h"))).head().getLong(0)
    assert(hits == 5, s"only $hits/5 languages detected")
  }

  test("native SimHash64 expression matches the HOF formulation bitwise") {
    val both = docs.limit(50).select(
      graft.plans.TextHashColumns.simhash(col("text")).as("native"),
      TF.simhash(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("text-hash generated code compiles (no silent interpreted fallback)") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // a janino compile error now fails the job
    try {
      val out = docs.limit(5).select(
        graft.plans.TextHashColumns.simhash(col("text")).as("sh"),
        graft.plans.TextHashColumns.minhashSignature(col("text"), 3, 16).as("mh"),
        graft.plans.TextHashColumns.shingleHashes(col("text"), 3).as("shs"),
        graft.plans.TextHashColumns.whitespaceTokens(col("text")).as("tok"),
        graft.plans.TextHashColumns.tokenNgrams(col("text"), "p", "w").as("bg"),
        graft.plans.TextHashColumns.tokenNgrams(col("text"), "u", "v", "w").as("tg"))
        .collect()
      assert(out.length == 5)
      assert(out.forall(r => r.getSeq[Long](1).length == 16))
    } finally spark.conf.set(key, prev)
  }

  // The HOF formulations the native tokenizer and n-gram kernel
  // replaced, kept as references: `\s+` regex split minus empties, and
  // n aligned slices of the token array zipped into structs.
  private def hofTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  private def hofNgrams(text: Column, names: Seq[String]): Column = {
    val toks = hofTokens(text)
    val m = greatest(size(toks) - (names.size - 1), lit(0))
    val pairs = zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => struct(a.as(names(0)), b.as(names(1))))
    if (names.size == 2) pairs
    else zip_with(pairs, slice(toks, lit(3), m), (p, w) => struct(
      p.getField(names(0)).as(names(0)), p.getField(names(1)).as(names(1)), w.as(names(2))))
  }

  /** Asserts the native column and its HOF reference agree on every row
    * of `df` and on column nullability, and that the native column's
    * type (nullability included) is `declared` — the HOF's own type
    * when not given. */
  private def assertSameAsHof(df: DataFrame, native: Column, hof: Column, what: String,
      declared: Option[DataType] = None): Unit = {
    val both = df.select(native.as("native"), hof.as("hof"))
    val Seq(n, h) = both.schema.fields.toSeq
    assert(n.dataType == declared.getOrElse(h.dataType) && n.nullable == h.nullable,
      s"$what: native ${n.dataType} (nullable ${n.nullable}) vs HOF ${h.dataType} (nullable ${h.nullable})")
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.get(0) == r.get(1), s"$what: native ${r.get(0)} vs HOF ${r.get(1)}"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0, what)
  }

  test("native tokenizer and n-gram kernel match the HOF split/zip_with builders bitwise") {
    import spark.implicits._
    val texts: Seq[String] = Seq(
      null, "", "   ", " \t\n\r\f\u000B ",
      "one", "one two", "one two three",
      // runs of every `\s` char, leading and trailing blanks
      "\t\n\r\f\u000B  alpha \t\n\r\f\u000Bbeta\r\n\r\ngamma  delta\f\u000B \t",
      // Unicode spaces are token characters under `\s`
      "a\u00A0b c\u2028d e\u3000f g \u00A0 \u2028 \u3000",
      // multi-byte tokens: 2-, 3- and 4-byte UTF-8, a surrogate pair
      "na\u00efve caf\u00e9 \u4e2d\u6587 \u6587\u672c \ud83d\ude00 emoji\ud834\udd1e x")
    // a LocalRelation folds on the driver (interpreted nullSafeEval); an
    // RDD-backed frame and the parquet table run whole-stage codegen
    val local = texts.toDF("text")
    val viaRdd = spark.sparkContext.parallelize(texts.map(Tuple1(_)), 2).toDF("text")
    for ((df, label) <- Seq((local, "edge cases"), (viaRdd, "edge cases, codegen"),
        (docs.select(col("text")), "documents"))) {
      assertSameAsHof(df, TF.tokens(col("text")), hofTokens(col("text")), s"tokens, $label")
      for (names <- Seq(Seq("p", "w"), Seq("u", "v", "w"))) {
        assertSameAsHof(df, graft.plans.TextHashColumns.tokenNgrams(col("text"), names: _*),
          hofNgrams(col("text"), names), s"${names.size}-grams, $label",
          // the kernel never emits a null token, so unlike the HOF form
          // it declares its struct fields non-nullable
          declared = Some(ArrayType(StructType(names.map(StructField(_, StringType, nullable = false))),
            containsNull = false)))
      }
    }
    val grams = local.select(size(graft.plans.TextHashColumns.tokenNgrams(
      col("text"), "u", "v", "w")).as("n")).collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(grams.toSeq == Seq(-1, 0, 0, 0, 0, 0, 1, 2, 5, 5), grams.mkString(","))
  }

  test("RepetitionStats counts unigram and 2-gram repetition exactly") {
    import spark.implicits._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // janino compile errors fail the job
    try {
      val df = Seq(
        (1L, "a b a b a"),     // top a×3/5; grams: a·b, b·a, a·b, b·a → 2 dups of 4
        (2L, ""),              // empty: all zeros
        (3L, "x"),             // one word, no grams
        (4L, "é  é\nq") // unicode + multi-space/newline splits
      ).toDF("doc_id", "text")
      val rows = df.select(col("doc_id"),
          graft.plans.TextHashColumns.repetitionStats(col("text")).as("r"))
        .orderBy("doc_id").collect()
        .map(r => r.getStruct(1))
        .map(s => (s.getInt(0), s.getInt(1), s.getInt(2), s.getInt(3)))
      assert(rows(0) == ((5, 3, 4, 2)))
      assert(rows(1) == ((0, 0, 0, 0)))
      assert(rows(2) == ((1, 1, 0, 0)))
      assert(rows(3) == ((3, 2, 2, 0)))
    } finally spark.conf.set(key, prev)
  }

  test("unicode-normalized exact dedup collides composed and decomposed spellings") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "Caf\u00e9 au lait"),   // composed e-acute
      (2L, "Cafe\u0301 au lait"),  // decomposed e + combining acute
      (3L, "Cafe au lait")              // plain ASCII — distinct content
    ).toDF("doc_id", "text")
    val raw = Dedup.exact(docs, "doc_id", "text")
    assert(raw.count() == 3, "raw bytes must NOT collide")
    val norm = Dedup.exact(docs, "doc_id", "text", unicodeNormalize = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(norm == Map(1L -> 2L, 3L -> 1L),
      s"NFC dedup must merge 1+2 and keep 3 apart: $norm")
    // accent-stripping fingerprint folds all three plus NFKC forms
    val fps = docs.select(graft.functions.TextFunctions
        .fingerprint(col("text"), unicodeNormalize = true).as("fp"))
      .collect().map(_.getString(0)).toSet
    assert(fps.size == 1, "stripped fingerprints must all collide")
    // NFKC folds full-width letters and ligatures into the same key
    val wide = Seq((9L, "\uFF23\uFF41\uFF46\uFF45\u0301 au lait")).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions
        .fingerprint(col("text"), unicodeNormalize = true).as("fp"))
      .head().getString(0)
    assert(fps.head == wide, "full-width NFKC form must share the fingerprint")
  }

  test("unicode normalization generated code compiles (no interpreted fallback)") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      import graft.plans.UnicodeColumns
      val out = docs.limit(5).select(
        UnicodeColumns.nfc(col("text")).as("a"),
        UnicodeColumns.nfkc(col("text")).as("b"),
        UnicodeColumns.stripAccents(col("text")).as("c"),
        graft.plans.TextHashColumns.positionalShingles(col("text"), 3).as("d"))
        .collect()
      assert(out.length == 5)
    } finally spark.conf.set(key, prev)
  }

  test("native kernels match HOF tokenization on non-ASCII text") {
    import spark.implicits._
    // U+2028 / U+1680 / U+00A0 are Unicode whitespace but NOT Java-regex
    // \s — both formulations must treat them as token characters.
    val df = Seq(
      "héllo wörld über naïve café",
      "line sep ogham nbsp tokens",
      "中文 文本 没有 空格",
      "tabs\tand\nnewlinesvt\ffeed\rcr",
      "   ", ""
    ).toDF("text")
    val sim = df.select(
      graft.plans.TextHashColumns.simhash(col("text")).as("native"),
      TF.simhash(col("text")).as("hof"))
    assert(sim.filter(col("native") =!= col("hof")).count() == 0)
    val shs = df.select(
      size(graft.plans.TextHashColumns.shingleHashes(col("text"), 3)).as("native"),
      size(array_distinct(TF.shingles(col("text"), 3))).as("hof"))
    assert(shs.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("simhashPairs derives chunks from maxHamming (pigeonhole holds)") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different content about spark catalyst optimizer internals")
    ).toDF("doc_id", "text")
    // identical docs (hamming 0) must surface for any maxHamming
    for (k <- Seq(0, 4, 7)) {
      val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = k)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"identical pair missing at maxHamming=$k")
    }
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 16)
    }
  }

  test("md5Shingles kernel == the unhex(md5(concat_ws)) HOF chain, byte for byte") {
    import spark.implicits._
    val df = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "  spaced\ttokens\nnewlines   and runs  of whitespace here",
      "unicode 中文 tokens naïve café résumé mixed in stream",
      "exactly five tokens right here",
      "short doc").toDF("text")
    for (n <- Seq(3, 5)) {
      val toks = TF.tokens(col("text"))
      val hof = transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(0))),
        i => unhex(md5(concat_ws(" ", slice(toks, i, lit(n))))))
      val cmp = df.filter(size(TF.tokens(col("text"))) >= n).select(
        graft.plans.TextHashColumns.md5Shingles(col("text"), n).as("k"),
        hof.as("h"))
      val rows = cmp.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val k = r.getSeq[Array[Byte]](0).map(_.toSeq)
        val h = r.getSeq[Array[Byte]](1).map(_.toSeq)
        assert(k == h, s"kernel digests diverge from the HOF chain at n=$n")
      }
    }
  }

  test("simhashMd5Pairs == brute-force hamming ball; long sig bit-aligned with the bit string") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different content about spark catalyst optimizer internals"),
      (5L, "")).toDF("doc_id", "text")
    // bit alignment contract the DuckDB oracle relies on: bit b of the
    // packed long == char b of simhashMd5's bit string
    val sigRows = df.filter(length(col("text")) > 0).select(
      graft.plans.TextHashColumns.simhashMd5(col("text")).as("key"),
      graft.plans.TextHashColumns.simhashMd5Long(col("text")).as("sig")).collect()
    sigRows.foreach { r =>
      val key = r.getString(0); val sig = r.getLong(1)
      (0 until 64).foreach { b =>
        assert(((sig >>> b) & 1L) == (if (key.charAt(b) == '1') 1L else 0L),
          s"bit $b of $sig disagrees with $key")
      }
    }
    // radius-N result == brute-force hamming ball over the same sigs
    // (pigeonhole banding is exact; cap never fires on 4 docs)
    for (k <- Seq(1, 3)) {
      val got = Dedup.simhashMd5Pairs(df, "doc_id", "text", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sigs = df.filter(length(col("text")) > 0).select(col("doc_id"),
        graft.plans.TextHashColumns.simhashMd5Long(col("text")).as("sig"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= k
      } yield (ia, ib, h)).toSet
      assert(got == want, s"radius $k: got $got want $want")
    }
  }

  test("simhash of identical texts is identical; near texts are close") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different content about spark catalyst optimizer internals")
    ).toDF("id", "text")
    val sigs = df.select(col("id"), TF.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 10)
  }

  test("minhashPairs finds planted near-duplicates") {
    import spark.implicits._
    val base = "spark catalyst optimizer rewrites logical plans into physical plans with codegen " * 3
    val near = base + "extra tail token"
    val far = "entirely unrelated words about cooking pasta with tomatoes and basil leaves " * 3
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("jaccardPairs computes exact jaccard on a known pair") {
    import spark.implicits._
    // 10 tokens → 6 5-shingles; shift by one token → 5 shared of 7 distinct
    val a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val b = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val r = Dedup.jaccardPairs(df, "doc_id", "text", shingleN = 5, threshold = 0.1).collect()
    assert(r.length == 1)
    assert(math.abs(r(0).getDouble(2) - 6.0 / 7.0) < 1e-3)
  }

  /** The capped self-join that [[Dedup.bucketPairs]] replaced, kept as
    * its reference: a window count drops buckets past the cap, then an
    * equi-self-join on the keys filtered to id_a < id_b. */
  private def selfJoinPairs(
      df: DataFrame, keys: Seq[String], payload: Seq[String], cap: Int): DataFrame = {
    val capped = df
      .withColumn("__bsize", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bsize") <= cap)
    def side(tag: String) =
      capped.select(keys.map(col) ++ ("id" +: payload).map(c => col(c).as(s"${c}_$tag")): _*)
    side("a").join(side("b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select((Seq("id_a", "id_b") ++ payload.map(_ + "_a") ++ payload.map(_ + "_b")).map(col): _*)
  }

  private def assertSamePairs(
      df: DataFrame, keys: Seq[String], payload: Seq[String], cap: Int): Unit = {
    def bag(d: DataFrame) = d.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val got = Dedup.bucketPairs(df, keys, payload, cap)
    val want = selfJoinPairs(df, keys, payload, cap)
    assert(got.columns.toSeq == want.columns.toSeq)
    val (g, w) = (bag(got), bag(want))
    assert(w.nonEmpty, "reference produced no pairs: the case tests nothing")
    assert(g == w, s"bucketPairs differs from the capped self-join: " +
      s"extra ${(g.toSet diff w.toSet).take(5)}, missing ${(w.toSet diff g.toSet).take(5)}")
  }

  test("bucketPairs lists exactly the capped self-join's pairs, multiplicity included") {
    import spark.implicits._
    val cap = 3
    // k=1: null ids count toward the size but never pair; k=null never
    // pairs; k=2: a duplicate (key, id) row doubles its pairs; k=3 has
    // exactly `cap` rows, k=4 one more (dropped), k=5 reaches cap + 1
    // only through its null id (dropped)
    val single = Seq[(Option[Long], Option[Long], Option[Int])](
      (None, Some(1L), Some(10)), (None, Some(2L), Some(10)),
      (Some(1L), None, Some(1)), (Some(1L), Some(3L), Some(2)), (Some(1L), Some(4L), None),
      (Some(2L), Some(5L), Some(3)), (Some(2L), Some(5L), Some(3)), (Some(2L), Some(6L), Some(4)),
      (Some(3L), Some(7L), Some(5)), (Some(3L), Some(8L), Some(6)), (Some(3L), Some(9L), Some(7)),
      (Some(4L), Some(10L), Some(1)), (Some(4L), Some(11L), Some(1)),
      (Some(4L), Some(12L), Some(1)), (Some(4L), Some(13L), Some(1)),
      (Some(5L), None, Some(1)), (Some(5L), Some(14L), Some(1)),
      (Some(5L), Some(15L), Some(1)), (Some(5L), Some(16L), Some(1))).toDF("k", "id", "n")
    assertSamePairs(single, Seq("k"), Nil, cap)
    assertSamePairs(single, Seq("k"), Seq("n"), cap)
    // two-column keys, a string key, two payload columns
    val two = Seq[(Int, String, Long, Long, String)](
      (0, "x", 1L, 100L, "a"), (0, "x", 2L, 200L, "b"), (0, "x", 2L, 200L, "b"),
      (0, "y", 1L, 100L, "a"), (0, "y", 3L, 300L, null), (1, "x", 1L, 100L, "a"),
      (1, "x", 4L, 400L, "d"), (1, null, 5L, 500L, "e"), (1, null, 6L, 600L, "f"),
      (2, "z", 7L, 700L, "g"), (2, "z", 8L, 800L, "h"), (2, "z", 9L, 900L, "i"),
      (2, "z", 10L, 1000L, "j")).toDF("band", "bucket", "id", "sig", "tag")
    assertSamePairs(two, Seq("band", "bucket"), Seq("sig", "tag"), cap)
    assertSamePairs(two.select("bucket", "id"), Seq("bucket"), Nil, cap = 10)
    // 31 buckets of 25, 49 or 50 rows over several partitions, repeated
    // ids: the cap of 49 keeps 26 buckets and drops 5
    val many = (0 until 1500).map(i => ((i * i) % 61L, (i * 104729) % 400L, i % 5))
      .toDF("k", "id", "n")
    assertSamePairs(many, Seq("k"), Seq("n"), cap = 49)
  }

  test("dedup pair queries do not depend on the shuffle partition count") {
    // bucketPairs walks each hash partition's sorted buckets: 1
    // partition (every bucket in one walk) and 7 must give the same rows
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def rows(parts: Int) = {
      spark.conf.set(key, parts.toString)
      Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_simhash_exact", "q_dedup_hamming_exact",
        "q_dedup_minhash_exact", "q_dedup_phash", "q_dedup_jaccard", "q_dedup_threshold_curve",
        "q_dedup_cosine", "q_dedup_cosine_bucketed", "q_dedup_cluster", "q_dedup_cluster_sizes",
        "q_split_safe", "q_dedup_keep_best")
        .map(q => q -> SparkEntry.queries(q)(spark, Sf).collect().map(_.toSeq).toSet).toMap
    }
    val (one, seven) = try (rows(1), rows(7)) finally spark.conf.set(key, prev)
    for ((q, r) <- one) {
      assert(r.nonEmpty, s"$q returned no rows")
      assert(r == seven(q), s"$q differs across partition counts: " +
        s"${(r diff seven(q)).take(3)} vs ${(seven(q) diff r).take(3)}")
    }
  }

  test("cosinePairs(bucketBy) caps a degenerate mega-bucket") {
    import spark.implicits._
    // 50 vectors under one catch-all label blow past the cap and drop;
    // the 3-row label stays and its identical pair must still surface
    val mega = (1L to 50L).map(i => (i, "unknown", Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val small = Seq(
      (101L, "clean", Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (102L, "clean", Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (103L, "clean", Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val df = (mega ++ small).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.cosinePairs(df, "vec_id", "embedding", 0.9,
        bucketBy = "label", maxBucketSize = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((101L, 102L)),
      s"expected only the small-bucket pair, got $pairs")
    // without a binding cap the mega-bucket pairs come back
    val uncapped = Dedup.cosinePairs(df, "vec_id", "embedding", 0.9, bucketBy = "label")
      .count()
    assert(uncapped == 50L * 49 / 2 + 1)
  }

  test("crossJaccardPairs flags a benchmark item quoted inside a long document") {
    import spark.implicits._
    val probe = "alpha beta gamma delta epsilon zeta eta theta"  // 8 toks → 4 5-shingles
    val corpus = Seq(
      (100L, s"lots of unrelated leading words here then $probe and trailing content afterwards too"),
      (101L, "completely different text about catalyst plans and shuffles going on")
    ).toDF("doc_id", "text")
    val probes = Seq((1L, probe)).toDF("doc_id", "text")
    val out = Dedup.crossJaccardPairs(corpus, probes, "doc_id", "text",
        shingleN = 5, containmentThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 1)
    val (idC, idP, jac, containment) = out(0)
    assert(idC == 100L && idP == 1L)
    assert(containment == 1.0, s"full quote must have containment 1, got $containment")
    assert(jac < 0.5, "jaccard alone would have missed the quoted benchmark item")
    // removal drops exactly the contaminated doc
    val kept = Dedup.decontaminate(corpus, probes, "doc_id", "text",
        shingleN = 5, containmentThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L))
  }

  test("dedupLines cuts corpus-repeated units, keeps first occurrence and short units") {
    import spark.implicits._
    val banner = "this site uses cookies to improve your browsing experience"
    val corpus = Seq(
      (1L, s"$banner\nunique opening paragraph of document one\nok"),
      (2L, s"second doc starts here\n$banner\nand continues with its own words"),
      (3L, s"$banner\n$banner\nthird doc body text follows here"),
      (4L, "ok\nok\nnothing repeated across docs in this one at all"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(corpus, "doc_id", "text",
        sep = "\n", minUnitChars = 15)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 holds the first occurrence — untouched
    assert(out(1L) == s"$banner\nunique opening paragraph of document one\nok")
    // later occurrences cut everywhere, including BOTH repeats in doc 3
    assert(out(2L) == "second doc starts here\nand continues with its own words")
    assert(out(3L) == "third doc body text follows here")
    // short units ("ok") repeat corpus-wide but are structural — kept
    assert(out(4L) == "ok\nok\nnothing repeated across docs in this one at all")
    // null text passes through as null, never coalesced to ""
    assert(out(5L) == null)
    // a doc that is nothing but later-occurrence units rewrites to ""
    val wiped = Dedup.dedupLines(
        corpus.union(Seq((9L, banner)).toDF("doc_id", "text")),
        "doc_id", "text", "\n", 15)
      .filter(col("doc_id") === 9L).head().getString(1)
    assert(wiped == "")
  }

  test("fixMojibake repairs single and double encoding, never touches clean text") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    def moji(s: String): String = graft.plans.Mojibake.utf8AsCp1252(s)
    val clean = "café — naïve ‘quoted’ über"
    val double = moji(moji(clean))
    val df = Seq(
      (1L, moji(clean)),          // classic single mojibake
      (2L, double),               // double-encoded: needs two rounds
      (3L, clean),                // already correct: must pass bit-identically
      (4L, "plain ascii text"),   // trivially untouched
      (5L, "Ƃ odd but real char"),// unmappable in CP1252: untouched
      (6L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val out = df.select(col("id"), TF.fixMojibake(col("t")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == clean, s"single: ${out(1L)}")
    assert(out(2L) == clean, s"double: ${out(2L)}")
    assert(out(3L) == clean)
    assert(out(4L) == "plain ascii text")
    assert(out(5L) == "Ƃ odd but real char")
    assert(out(6L) == null)
    // SQL face reaches the same kernel
    df.createOrReplaceTempView("moji_docs")
    val viaSql = spark.sql(
      "SELECT graft_fix_mojibake(t) FROM moji_docs WHERE id = 1").head().getString(0)
    assert(viaSql == clean)
  }

  test("script char counts and ratios are hand-exact across mixed-script text") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    // 3 Latin + 6 Cyrillic + 4 Greek + 2 Han + 4 spaces + 1 digit = 20 chars
    val df = Seq((1L, "abc Привет Γεια 你好 7"), (2L, ""), (3L, null: String))
      .toDF("id", "t")
    val r = df.select(
        col("id"),
        TF.scriptCharCount(col("t"), "Latin").as("lat"),
        TF.scriptCharCount(col("t"), "Cyrillic").as("cyr"),
        TF.scriptCharCount(col("t"), "Greek").as("grk"),
        TF.scriptCharCount(col("t"), "Han").as("han"),
        TF.scriptRatio(col("t"), "Cyrillic").as("cyr_ratio"))
      .orderBy("id").collect()
    assert((r(0).getInt(1), r(0).getInt(2), r(0).getInt(3), r(0).getInt(4)) == ((3, 6, 4, 2)))
    assert(r(0).getDouble(5) == math.rint(6.0 / 20 * 10000) / 10000)
    assert(r(1).getInt(1) == 0 && r(1).getDouble(5) == 0.0)
    assert(r(2).isNullAt(1) && r(2).getDouble(5) == 0.0)
  }

  test("dedupParagraphs cuts blank-line units without touching intra-paragraph newlines") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter\nfor updates and special offers"
    val corpus = Seq(
      (1L, s"$boiler\n\nfirst document's own paragraph with real content"),
      (2L, s"second document opens differently\n\n$boiler\n\nthen more of its own text"),
      (3L, "short\n\nok\n\na single standalone paragraph nothing else shares")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the boilerplate paragraph spans a SINGLE newline internally —
    // paragraph units split only on blank lines, so it stays one unit
    assert(out(1L) == s"$boiler\n\nfirst document's own paragraph with real content")
    assert(out(2L) == "second document opens differently\n\nthen more of its own text")
    // short paragraphs under minUnitChars are structural — kept
    assert(out(3L) == "short\n\nok\n\na single standalone paragraph nothing else shares")
  }

  test("decontaminateBloom output is bitwise-equal to decontaminate") {
    val corpus = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("text"), col("lang"))
    val probes = docs.filter(col("doc_id") < 50)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val exact = rows(Dedup.decontaminate(corpus, probes, "doc_id", "text",
      shingleN = 5, containmentThreshold = 0.2))
    val bloom = rows(Dedup.decontaminateBloom(corpus, probes, "doc_id", "text",
      shingleN = 5, containmentThreshold = 0.2))
    assert(exact.nonEmpty)
    assert(bloom == exact,
      s"bloom path diverged: only-exact=${exact -- bloom}, only-bloom=${bloom -- exact}")
  }

  test("Bloom prefilter: no false negatives, prunes disjoint docs, guard fires") {
    import spark.implicits._
    import graft.plans.{BloomColumns, TextHashColumns}
    val probes = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "lambda mu nu xi omicron pi rho sigma tau upsilon")
    ).toDF("doc_id", "text")
    val contaminated = (900L,
      "prefix words then alpha beta gamma delta epsilon zeta and more after")
    // 100 docs sharing no 5-gram with any probe — each gets unique tokens
    val clean = (0 until 100).map(i =>
      (1000L + i, s"unrelated${i} body${i} tokens${i} carry${i} nothing${i} shared${i} at${i} all${i}"))
    val corpus = (clean :+ contaminated).toDF("doc_id", "text")
    val pSh = probes
      .select(explode(TextHashColumns.shingleHashes(col("text"), 5)).as("sh")).distinct()
    val bf = pSh.stat.bloomFilter("sh", math.max(pSh.count(), 1L), 0.01)
    // codegen.fallback=false: a janino compile error in the native
    // expression now fails the job instead of silently interpreting
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val passed =
      try corpus
        .filter(BloomColumns.anyContained(TextHashColumns.shingleHashes(col("text"), 5), bf))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      finally spark.conf.set(key, prev)
    assert(passed.contains(900L), "Bloom prefilter dropped a true positive (false negative)")
    // the sketch is deterministic for a given probe set, so the pruned
    // fraction is stable run-to-run; at fpp=0.01 with ~5 shingles/doc,
    // ~95% of disjoint docs prune — half is a generous floor
    assert(passed.size <= 51, s"prefilter kept ${passed.size}/101 docs — not selective")
    // size guard: a sketch bigger than the cap must fail loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.decontaminateBloom(corpus, probes, "doc_id", "text", maxSketchBytes = 1L)
    }
    assert(e.getMessage.contains("sketch"))
  }

  test("probe sketch round-trips through parquet and drives identical decontamination") {
    import spark.implicits._
    val probes = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "prefix text then alpha beta gamma delta epsilon zeta eta theta iota kappa quoted"),
      (101L, "entirely unrelated body with its own distinct running words here")
    ).toDF("doc_id", "text")
    val bf = Dedup.probeSketch(probes, "text", shingleN = 5)
    val path = "/tmp/graft_probe_sketch"
    Dedup.writeSketch(spark, bf, path)
    val loaded = Dedup.readSketch(spark, path)
    // the persisted sketch answers every probe identically — including
    // the planted shingles and a sample of absent hashes
    val pSh = probes.select(explode(
        graft.plans.TextHashColumns.shingleHashes(col("text"), 5)).as("sh"))
      .collect().map(_.getLong(0))
    pSh.foreach(h => assert(loaded.mightContainLong(h) && bf.mightContainLong(h)))
    (0L until 1000L).foreach(h =>
      assert(loaded.mightContainLong(h) == bf.mightContainLong(h)))
    // and the batch path against the stored sketch equals the one-shot
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = ids(Dedup.decontaminateBloom(corpus, probes, "doc_id", "text",
      shingleN = 5, containmentThreshold = 0.5))
    val viaStored = ids(Dedup.decontaminateBloom(corpus, probes, "doc_id", "text",
      shingleN = 5, containmentThreshold = 0.5, sketch = Some(loaded)))
    assert(oneShot == Set(101L) && viaStored == oneShot)
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val df = Seq((10L, "same text"), (20L, "same text"), (30L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 10L) // min-id winner
  }

  test("incremental dedup over a persisted parquet index equals one-shot dedup") {
    import spark.implicits._
    // batch order respects id order, so one-shot min-id winners are
    // exactly the first-arrival winners incremental keeps
    val batch1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "cc"))
      .toDF("doc_id", "text")
    val batch2 = Seq((11L, "bb"), (12L, "dd"), (13L, "aa"), (14L, "dd"), (15L, "ee"))
      .toDF("doc_id", "text")

    // snapshot the index to parquet and read it BACK — the production
    // round trip, not a lineage shortcut
    val idxPath = "/tmp/graft_dedup_index"
    Dedup.exactIndex(batch1, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)

    val kept2 = Dedup.incrementalExact(batch2, index, "doc_id", "text")
    assert(kept2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(12L, 15L),
      "bb/aa are in the index; dd keeps its min-id 12 within the batch")

    // two-batch winner set == one-shot dedup over the union
    val oneShot = Dedup.exact(batch1.unionByName(batch2), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val incremental = index.select("doc_id").collect().map(_.getLong(0)).toSet ++
      kept2.select("doc_id").collect().map(_.getLong(0))
    assert(incremental == oneShot)

    // index append stays one-row-per-hash after the update
    val idx2 = index.unionByName(
      kept2.select(col("content_hash"), col("doc_id")))
    assert(idx2.count() == idx2.select("content_hash").distinct().count())
    assert(idx2.count() == oneShot.size)
  }

  test("incremental minhash over a persisted signature index equals one-shot pairs") {
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val idxPath = "/tmp/graft_minhash_index"
    Dedup.minhashSigs(b1, "doc_id", "text")
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)

    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = asSet(Dedup.incrementalMinhashPairs(b2, index, "doc_id", "text",
      threshold = 0.5))
    val oneShot = asSet(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    // pairs touching the batch (id_b >= 250 under arrival-ordered ids)
    // are exactly what incremental reports; index-internal pairs are b1's
    assert(inc == oneShot.filter(_._2 >= 250),
      s"incremental != one-shot batch slice: ${inc -- oneShot}")
    val b1Internal = asSet(Dedup.minhashPairs(b1, "doc_id", "text", threshold = 0.5))
    assert(b1Internal ++ inc == oneShot)
    assert(oneShot.nonEmpty, "testdata should contain minhash near-dups")
  }

  test("incremental clustering: minhash batch pairs merged into persisted labels == one-shot") {
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val index = Dedup.minhashSigs(b1, "doc_id", "text")
    // round 1: cluster history's own pairs, persist the labelling
    val labels1 = DedupCluster.connectedComponents(
      Dedup.minhashPairs(b1, "doc_id", "text", threshold = 0.5))
    // round 2: batch pairs only (index text never rescanned), merged in
    val incPairs = Dedup.incrementalMinhashPairs(b2, index, "doc_id", "text",
      threshold = 0.5)
    val merged = DedupCluster.mergeComponents(labels1, incPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = DedupCluster.connectedComponents(
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == oneShot,
      s"diff: ${(merged.toSet -- oneShot.toSet) ++ (oneShot.toSet -- merged.toSet)}")
    assert(oneShot.nonEmpty)
  }

  test("minhashExactPairs: identical texts pair, near texts don't, short docs clip, empty excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // identical → all 8 mins equal
      (3L, "wholly unrelated content sentence tokens here"), // disjoint shingles
      (4L, "tiny doc"), // < shingleN tokens → one clipped shingle
      (5L, "tiny doc"),
      (6L, " ")) // token-free → excluded, no sentinel pairing
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashExactPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (4L, 5L)))
  }

  test("clusterSizeHistogram folds component labels into exact (size, clusters, docs) rows") {
    import spark.implicits._
    // components: {1,2,3} as comp 1, {4,5} as comp 4, {6,7} as comp 6
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L), (7L, 6L))
      .toDF("id", "comp")
    val got = graft.operators.DedupCluster.clusterSizeHistogram(comps)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(3L -> ((1L, 3L)), 2L -> ((2L, 4L))))
  }

  test("lshPlan: best split's S-curve inflection brackets the threshold; probabilities sane") {
    // 128 hashes at threshold 0.5: the classic (b, r) tables put the
    // inflection (1/b)^(1/r) nearest 0.5 around b=32, r=4 (t*≈0.42)
    // or b=16, r=8 (t*≈0.71) — whichever is closer wins, and every
    // candidate divides 128
    val plans = graft.operators.Dedup.lshPlan(0.5, 128)
    assert(plans.nonEmpty && plans.forall { case (b, r, _, _, _) => b * r == 128 })
    val (b, r, tStar, fp, fn) = plans.head
    assert(math.abs(tStar - 0.5) <= 0.22, s"inflection too far from threshold: ($b,$r,$tStar)")
    assert(fp >= 0 && fp <= 1 && fn >= 0 && fn <= 1)
    // the head is the argmin of |t* - threshold| over all candidates
    assert(plans.forall { case (_, _, t, _, _) => math.abs(tStar - 0.5) <= math.abs(t - 0.5) })
    // more bands (fewer rows) always shifts the inflection down
    val byBands = plans.sortBy(_._1).map(_._3)
    assert(byBands == byBands.sorted.reverse)
    intercept[IllegalArgumentException](graft.operators.Dedup.lshPlan(0.0, 128))
    intercept[IllegalArgumentException](graft.operators.Dedup.lshPlan(0.5, 0))
  }
}
