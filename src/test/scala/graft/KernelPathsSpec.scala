package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import scala.jdk.CollectionConverters._

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.Sampling
import graft.plans.{BloomColumns, CompressColumns, KernelCall, Mojibake, MojibakeColumns,
  PreTokens, StringColumns, TextHash, TextHashColumns => THC, TextSignals, UnicodeColumns,
  VectorColumns => VC}

/** Every native kernel column, evaluated both ways Spark runs it:
  * interpreted (a `LocalRelation`, whose projection the optimizer
  * evaluates itself, so `StaticInvoke` calls the kernel by reflection)
  * and through whole-stage generated code (an RDD-backed frame, with
  * the codegen fallback off, so a compile error fails the job). The two
  * runs must agree bit for bit, and a kernel with a HOF or regex
  * formulation must equal it in both. */
class KernelPathsSpec extends SparkSpec {

  private val planes = VF.makePlanes(numPlanes = 8, dim = 64)
  private val weights = Array.tabulate(64)(i => i * 0.25 - 3.0)
  private val domains = Array("fin", "zoo").map(UTF8String.fromString)
  // "customer query" contains "customer", and "on"/"ne" overlap in
  // "one": the walk's leftmost-longest, non-overlapping choices show
  private val trie = Seq("customer query" -> "[CQ]", "customer" -> "[C]", "on" -> "<on>",
    "ne" -> "<ne>", "\u00e9" -> "e", "two" -> "")

  /** DSIR bucket counts: 2 and 3 (nearly every token collides), the
    * queries' 256, a non-power-of-two, and the 2^20 maximum. */
  private val dsirBuckets = Seq(2, 3, 256, 1000, 1 << 20)

  /** A fitted DSIR ratio table and by-domain grid at `b` buckets over
    * `texts`: two in three of the buckets their tokens hit (the rest
    * take the OOV path), cells missing from the grid, and at b = 3 an
    * infinite ratio of each sign, so sums reach ±Inf and NaN. */
  private def fitted(b: Int, texts: Seq[String])
      : (Array[(Long, Double)], Array[(String, Long, Double)]) = {
    val hit = texts.filter(_ != null)
      .flatMap(t => TextHash.md5BucketsKernel(UTF8String.fromString(t), b).toLongArray)
      .distinct.sorted.filter(_ % 3 != 1)
    def lr(k: Long, j: Int): Double =
      if (b == 3 && k == 0 && j == 0) Double.PositiveInfinity
      else if (b == 3 && k == 2 && j == 0) Double.NegativeInfinity
      else ((k * 2654435761L + j * 40503L) % 10007) / 997.0 - 5.0
    val grid = for (k <- hit; (d, j) <- Seq("zoo", "fin", "news").zipWithIndex
        if (k + j) % 4 != 1) yield (d, k, lr(k, j))
    (hit.map(k => (k, lr(k, 0))).toArray, grid.toArray)
  }

  private def dsirKernels(t: Column, texts: Seq[String]): Seq[(String, Column)] =
    dsirBuckets.flatMap { b =>
      val (ratios, grid) = fitted(b, texts)
      Seq(s"md5Buckets/$b" -> THC.md5Buckets(t, b),
        s"dsirScoreFrozen/$b" -> Sampling.dsirScoreFrozen(ratios, t, b),
        s"dsirScoreFrozenByDomain/$b" -> Sampling.dsirScoreFrozenByDomain(grid, t, b))
    }

  private def dsirRefs(t: Column, texts: Seq[String]): Seq[(String, Column)] =
    dsirBuckets.flatMap { b =>
      val (ratios, grid) = fitted(b, texts)
      Seq(s"md5Buckets/$b" -> DsirColumns.tokenBuckets(t, b),
        s"dsirScoreFrozen/$b" -> DsirColumns.scoreFrozen(ratios, t, b),
        s"dsirScoreFrozenByDomain/$b" -> DsirColumns.scoreFrozenByDomain(grid, t, b))
    }

  private def textSignals(t: Column): Column = {
    val c = TextSignals.columns(t)
    struct(Seq(c.chars, c.nonWs, c.symbols, c.punct, c.words, c.stopwords) ++
      c.stopwordsByLang: _*)
  }

  /** `sketch` holds the 3-shingle hashes of half the rows. */
  private def textKernels(t: Column, sketch: BloomFilter): Seq[(String, Column)] = Seq(
    "whitespaceTokens" -> THC.whitespaceTokens(t),
    "tokenNgrams" -> THC.tokenNgrams(t, "u", "v", "w"),
    "minhashSignature" -> THC.minhashSignature(t, 3, 16),
    "simhash" -> THC.simhash(t),
    "simhashMd5" -> THC.simhashMd5(t),
    "simhashMd5Long" -> THC.simhashMd5Long(t),
    "md5Shingles" -> THC.md5Shingles(t, 3),
    "lexicalStats" -> THC.lexicalStats(t),
    "minhashMd5Key" -> THC.minhashMd5Key(t, 5),
    "hashedNgramBuckets" -> THC.hashedNgramBuckets(t, 64, 2),
    "hashedNgramMeanWeight" -> THC.hashedNgramMeanWeight(t, 64, 2, weights),
    "shingleHashes" -> THC.shingleHashes(t, 3),
    "positionalShingles" -> THC.positionalShingles(t, 3),
    "repetitionStats" -> THC.repetitionStats(t),
    "ngramDupStats" -> THC.ngramDupStats(t, 3),
    "dupNgramCharFrac" -> THC.dupNgramCharFrac(t, 2),
    "nfc" -> UnicodeColumns.nfc(t),
    "nfkc" -> UnicodeColumns.nfkc(t),
    "stripAccents" -> UnicodeColumns.stripAccents(t),
    "fixMojibake" -> MojibakeColumns.fixMojibake(t),
    "deflateRatio" -> CompressColumns.deflateRatio(t),
    "trainingWords" -> PreTokens.trainingWords(t, byteLevel = true),
    "trainingWordsLegacy" -> PreTokens.trainingWords(t, byteLevel = false),
    "replaceMany" -> StringColumns.replaceMany(t, trie),
    "extractMany" -> StringColumns.extractMany(t, trie.map(_._1)),
    "containsAny" -> StringColumns.containsAny(t, trie.map(_._1)),
    "bloomAnyContained" -> BloomColumns.anyContained(THC.shingleHashes(t, 3), sketch),
    "textSignals" -> textSignals(t))

  private def textRefs(t: Column): Seq[(String, Column)] = Seq(
    "whitespaceTokens" -> filter(split(t, "\\s+"), x => x =!= ""),
    "simhash" -> TF.simhash(t),
    "trainingWords" -> BpeChains.trainingWords(t, byteLevel = true),
    "trainingWordsLegacy" -> BpeChains.trainingWords(t, byteLevel = false))

  /** `cents` is the centroid matrix as `VectorColumns.matrix` builds it
    * (binary format), `centList` the same matrix as a `typedlit`. */
  private def vectorKernels(v: Column, w: Column, cents: Column, centList: Column)
      : Seq[(String, Column)] = Seq(
    "cosine" -> VC.cosine(v, w),
    "cosines" -> VC.cosines(v, cents),
    "cosinesTypedlit" -> VC.cosines(v, centList),
    "int8Quantize" -> VC.int8Quantize(v),
    "dotLong" -> VC.dotLong(VC.int8Quantize(v), VC.int8Quantize(w)),
    "hyperplaneBits" -> VC.hyperplaneBits(v, planes))

  /** The HOF references. The HOF folds give null where the kernels
    * give NaN (a zero norm) and null-pad a length mismatch where the
    * kernels read the common prefix, so the cosine and hyperplane
    * references are checked on the real vectors only. */
  private def vectorRefs(v: Column, w: Column, centList: Column, edges: Boolean)
      : Seq[(String, Column)] = {
    val (qv, qw) = (VectorHofs.int8Quantize(v), VectorHofs.int8Quantize(w))
    Seq(
      "int8Quantize" -> VectorHofs.int8Quantize(v),
      "dotLong" -> aggregate(zip_with(qv, qw, (x, y) => x * y), lit(0L), (acc, x) => acc + x)) ++
      (if (edges) Nil else Seq(
        "cosine" -> VF.cosine(v, w),
        "cosines" -> transform(centList, c => VF.cosine(v, c)),
        "cosinesTypedlit" -> transform(centList, c => VF.cosine(v, c)),
        "hyperplaneBits" -> VectorHofs.hyperplaneBits(v, planes)))
  }

  /** A value made comparable bit for bit: doubles by their raw bits,
    * binaries and nested rows and arrays by content. */
  private def norm(v: Any): Any = v match {
    case d: Double => ("double-bits", java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }

  /** `cols` over `df`, one normalized row per `id`, in `id` order. */
  private def run(df: DataFrame, cols: Seq[Column]): Seq[Seq[Any]] =
    df.select(col("id") +: cols: _*).collect().toSeq.sortBy(_.getLong(0))
      .map(r => (1 until r.length).map(i => norm(r.get(i))))

  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame = {
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    assert(df.select(col("id")).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    df
  }

  private def rddFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** Runs `kernels` over the same rows interpreted and through generated
    * code, and checks both runs against each other and against `refs`. */
  private def checkBothPaths(rows: Seq[Row], schema: StructType,
      kernels: Seq[(String, Column)], refs: Seq[(String, Column)]): Unit = {
    val local = localFrame(rows, schema)
    val viaRdd = rddFrame(rows, schema)
    val interpretedPlan = local.select(kernels.map(_._2): _*).queryExecution.optimizedPlan
    assert(interpretedPlan.isInstanceOf[LocalRelation], s"not folded:\n$interpretedPlan")
    val interpreted = run(local, kernels.map(_._2))
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val generated = try {
      val plan = viaRdd.select(kernels.map(_._2): _*).queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), s"no generated code:\n$plan")
      run(viaRdd, kernels.map(_._2))
    } finally spark.conf.set(key, prev)
    assert(interpreted.length == rows.length && generated.length == rows.length)
    for ((a, b) <- interpreted.zip(generated); ((name, _), i) <- kernels.zipWithIndex)
      assert(a(i) == b(i), s"$name: interpreted ${a(i)} vs generated ${b(i)}")
    val byName = kernels.map(_._1).zipWithIndex.toMap
    val expected = run(viaRdd, refs.map(_._2))
    for (got <- Seq(interpreted, generated); (g, e) <- got.zip(expected);
        ((name, _), j) <- refs.zipWithIndex)
      assert(g(byName(name)) == e(j), s"$name: kernel ${g(byName(name))} vs reference ${e(j)}")
  }

  private def texts: Seq[String] =
    Seq(null, "   ", " \t\n\r\f\u000B ", "one", "one two",
      "a\u00A0b c\u2028d e\u3000f", // Unicode spaces are token chars
      "na\u00efve caf\u00e9 \u4e2d\u6587 \ud83d\ude00 x", // a surrogate pair
      "Cafe\u0301 \ufb01 \u2115 \ufb00", // a combining mark, compat forms
      "I'm   we'll\n\nsee 42x", // contractions, inner whitespace runs
      Mojibake.utf8AsCp1252("caf\u00e9 \u2014 na\u00efve"),
      Mojibake.utf8AsCp1252(Mojibake.utf8AsCp1252("d\u00e9j\u00e0 vu"))) ++
      QualityFeaturesSpec.edge ++ SamplingSpec.FilterReasonEdges ++
      Tables.t(spark, Sf, "documents").select(col("text")).collect().map(_.getString(0))

  test("every text kernel agrees interpreted and through generated code, and with its reference") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val half = rddFrame(rows, schema).filter(col("id") % 2 === 0)
      .select(explode(THC.shingleHashes(col("text"), 3)).as("sh"))
    val sketch = half.stat.bloomFilter("sh", half.count(), 0.01)
    val all = rows.map(_.getString(1))
    checkBothPaths(rows, schema,
      textKernels(col("text"), sketch) ++ dsirKernels(col("text"), all),
      textRefs(col("text")) ++ dsirRefs(col("text"), all))
    // the DSIR buckets read tokens with 2-, 3- and 4-byte UTF-8
    // characters, and digests with the top bit set
    val toks = all.filter(_ != null).flatMap(_.split("[ \t\n\u000B\f\r]+"))
    assert(toks.exists(_.exists(c => Character.isSurrogate(c))) &&
      toks.exists(_.exists(c => c >= '\u0800' && !Character.isSurrogate(c))) &&
      toks.exists(_.exists(c => c >= '\u0080' && c < '\u0800')))
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(toks.exists(t => md.digest(t.getBytes("UTF-8"))(0) < 0))
    // the probe answers both ways on these rows
    val probed = rddFrame(rows, schema)
      .select(BloomColumns.anyContained(THC.shingleHashes(col("text"), 3), sketch))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0))).toSet
    assert(probed == Set(None, Some(true), Some(false)))
  }

  test("every vector kernel agrees interpreted and through generated code, and with its reference") {
    val emb = Tables.t(spark, Sf, "embeddings").select(col("embedding"))
      .collect().map(_.getSeq[Float](0))
    val centArr = emb.take(4).map(_.map(_.toDouble).toArray)
    val (cents, centList) = (VC.matrix(centArr), typedlit(centArr.map(_.toList).toList))
    val real = emb.indices.map(i => (emb(i), emb((i + 1) % emb.length)))
    // zero, empty, negative-max, null, and a length mismatch (a null
    // integer dot)
    val edges = Seq(
      (Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)), (Seq.empty[Float], Seq.empty[Float]),
      (Seq(-2f, 1f, 0.5f), Seq(0.5f, -1f, 2f)), (null, Seq(1f)), (Seq(1f, 2f), Seq(3f)))
    for (elem <- Seq(FloatType, DoubleType); (pairs, isEdge) <- Seq((real, false), (edges, true))) {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(elem)), StructField("w", ArrayType(elem))))
      def typed(s: Seq[Float]): Seq[Any] =
        if (s == null || elem == FloatType) s else s.map(_.toDouble)
      val rows = pairs.zipWithIndex.map { case ((v, w), i) => Row(i.toLong, typed(v), typed(w)) }
      checkBothPaths(rows, schema, vectorKernels(col("v"), col("w"), cents, centList),
        vectorRefs(col("v"), col("w"), centList, isEdge))
    }
  }

  test("un-aliased kernel columns keep their names") {
    import spark.implicits._
    val df = Seq((1L, "a b", Array(1.0f), Array(2.0f))).toDF("id", "text", "a", "b")
    val names = df.select(THC.simhash(col("text")), THC.shingleHashes(col("text"), 5),
      THC.tokenNgrams(col("text"), "u", "v"), VC.cosine(col("a"), col("b")),
      UnicodeColumns.nfkc(col("text")), THC.simhash(lower(col("text"))),
      THC.md5Buckets(col("text"), 64)).columns.toSeq
    assert(names == Seq("simhash64(text)", "shinglehashes(text)", "tokenngrams(text)",
      "cosinesim(a, b)", "unicodenormalize(text)", "simhash64(lower(text))",
      "md5buckets(text)"))
    val bf = BloomFilter.create(10)
    val payloads = df.select(StringColumns.replaceMany(col("text"), Seq("a" -> "b")),
      StringColumns.extractMany(col("text"), Seq("a")),
      StringColumns.containsAny(col("text"), Seq("a")),
      BloomColumns.anyContained(THC.shingleHashes(col("text"), 2), bf),
      VC.hyperplaneBits(col("a"), planes), THC.hashedNgramMeanWeight(col("text"), 64, 2, weights),
      TextSignals.columns(col("text")).words, THC.dsirScore(col("text"), 64, weights),
      THC.dsirDomainScores(col("text"), 32, weights, domains)).columns.toSeq
    assert(payloads == Seq("replacemany(text)", "extractmany(text)", "containsany(text)",
      "bloomanycontained(shinglehashes(text))", "hyperplanebits(a)",
      "hashedngrammeanweight(text)", "graft_text_signals(text).n_words", "dsirscore(text)",
      "dsirdomainscores(text)"))
    df.createOrReplaceTempView("kernel_names")
    val sql = spark.sql("SELECT graft_simhash(text), graft_compress_ratio(upper(text), 6) " +
      "FROM kernel_names").columns.toSeq
    assert(sql == Seq("simhash64(text)", "deflateratio(upper(text))"))
  }

  test("payloads ride the call as object literals, never as plan data") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("a", ArrayType(FloatType))))
    val df = rddFrame(Seq(Row(1L, "a b c", Seq.fill(64)(1f))), schema)
    val (ratios, grid) = (Array.fill(64)(0.5), Array.fill(64 * 2)(-0.5))
    val plan = df.select(THC.hashedNgramMeanWeight(col("text"), 64, 2, weights),
      VC.hyperplaneBits(col("a"), planes), THC.dsirScore(col("text"), 64, ratios),
      THC.dsirDomainScores(col("text"), 64, grid, domains)).queryExecution.optimizedPlan
    val lits = plan.flatMap(_.expressions.flatMap(_.collect { case l: Literal => l }))
    def holds(payload: AnyRef) = lits.exists(l =>
      (l.value.asInstanceOf[AnyRef] eq payload) && l.dataType == ObjectType(payload.getClass))
    assert(holds(weights) && holds(planes) && holds(ratios) && holds(grid) && holds(domains),
      plan)
    assert(!lits.exists(_.dataType.isInstanceOf[ArrayType]), plan)
    // a trie rebuilt from the same patterns is the same call, so two
    // reads of it stay one subexpression
    val pats = trie.map(_._1)
    val twice = df.select(StringColumns.extractMany(col("text"), pats),
      StringColumns.extractMany(col("text"), pats)).queryExecution.optimizedPlan
    val calls = twice.expressions.flatMap(_.collect { case s: StaticInvoke => s })
    assert(calls.length == 2 && calls(0).semanticEquals(calls(1)), twice)
  }

  test("an Expression class exists only for per-task state or a measured per-query loop") {
    // every other kernel is one method called through KernelCall; a new
    // class here needs its reason written down
    val reasons = Map(
      "KernelCall" -> "the one named wrapper of a StaticInvoke kernel call",
      "TokenCount" -> "per-task state: the tokenizer memo in a codegen mutable state",
      "CosineSim" -> "a per-query generated loop: a shared cosine kernel measured 1.15-1.2x slower",
      "Int8Quantize" -> "a per-query generated loop, as CosineSim",
      "DotLong" -> "a per-query generated loop, as CosineSim")
    val root = java.nio.file.Paths.get(
      classOf[KernelCall].getProtectionDomain.getCodeSource.getLocation.toURI)
    val names = {
      val dir = root.resolve("graft/plans")
      val files = java.nio.file.Files.list(dir)
      try files.iterator().asScala.map(_.getFileName.toString).toList finally files.close()
    }
    val loader = classOf[KernelCall].getClassLoader
    val expressions = names.filter(_.endsWith(".class")).map(_.stripSuffix(".class"))
      .filter(n => classOf[org.apache.spark.sql.catalyst.expressions.Expression]
        .isAssignableFrom(Class.forName(s"graft.plans.$n", false, loader)))
    assert(expressions.toSet == reasons.keySet,
      s"Expression classes in graft.plans: ${expressions.sorted}; reasons: $reasons")
  }

  test("the optimizer strips the name: the plan holds the bare call and a literal type flag") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("a", ArrayType(FloatType))))
    val df = rddFrame(Seq(Row(1L, Seq(1f))), schema)
    val plan = df.select(VC.cosines(col("a"), VC.matrix(Array(Array(2.0)))))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(!exprs.exists(_.isInstanceOf[KernelCall]), plan)
    val calls = exprs.collect { case s: StaticInvoke => s }
    assert(calls.map(_.functionName) == Seq("cosines"), plan)
    assert(calls.head.arguments.drop(2) == Seq(Literal(true)), plan)
  }
}
