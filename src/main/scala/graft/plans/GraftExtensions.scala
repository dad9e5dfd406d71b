package graft.plans

import org.apache.spark.sql.{GraftShim, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the native kernels: registers `graft_*` functions so
  * `spark.sql("SELECT graft_simhash(text) ...")` reaches the same
  * Catalyst expressions as the Column API. One entry point:
  * `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  * (the standard SparkSessionExtensions path), which `graft.Session`
  * sets for every session graft builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // restores parquet pushdown for date predicates over the
    // DATE-normalized view of timestamp[us] columns (Tables.t)
    ext.injectOptimizerRule(_ => UnwrapDateCastComparison)
  }
}

object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  // standard function-resolution behavior: a call with the wrong number
  // of arguments fails analysis instead of silently ignoring extras
  private def arity(name: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    if (args.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`", "expectedNum" -> n.toString,
          "actualNum" -> args.length.toString, "docroot" -> "https://spark.apache.org/docs/latest"))
    args
  }

  /** (name, info, builder) for every exposed kernel. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(arity("graft_simhash", 1)(args).head)),
    ("graft_minhash",
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        arity("graft_minhash", 3)(args)
        MinHashSignature(args.head,
          intArg(args(1), "shingleN"), intArg(args(2), "numHashes"))
      }),
    ("graft_simhash_md5",
      new ExpressionInfo(classOf[SimHashMd5].getName, "graft_simhash_md5"),
      (args: Seq[Expression]) =>
        SimHashMd5(arity("graft_simhash_md5", 1)(args).head)),
    ("graft_minhash_md5_key",
      new ExpressionInfo(classOf[MinHashMd5Key].getName, "graft_minhash_md5_key"),
      (args: Seq[Expression]) => {
        arity("graft_minhash_md5_key", 2)(args)
        MinHashMd5Key(args.head, intArg(args(1), "shingleN"))
      }),
    ("graft_lexical_stats",
      new ExpressionInfo(classOf[LexicalStats].getName, "graft_lexical_stats"),
      (args: Seq[Expression]) =>
        LexicalStats(arity("graft_lexical_stats", 1)(args).head)),
    ("graft_shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => {
        arity("graft_shingle_hashes", 2)(args)
        ShingleHashes(args.head, intArg(args(1), "shingleN"))
      }),
    ("graft_positional_shingles",
      new ExpressionInfo(classOf[PositionalShingles].getName, "graft_positional_shingles"),
      (args: Seq[Expression]) => {
        arity("graft_positional_shingles", 2)(args)
        PositionalShingles(args.head, intArg(args(1), "shingleN"))
      }),
    ("graft_nfc",
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) =>
        UnicodeNormalize(arity("graft_nfc", 1)(args).head, "NFC")),
    ("graft_nfkc",
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_nfkc"),
      (args: Seq[Expression]) =>
        UnicodeNormalize(arity("graft_nfkc", 1)(args).head, "NFKC")),
    ("graft_strip_accents",
      new ExpressionInfo(classOf[StripAccents].getName, "graft_strip_accents"),
      (args: Seq[Expression]) =>
        StripAccents(arity("graft_strip_accents", 1)(args).head)),
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        arity("graft_cosine", 2)(args)
        CosineSim(args.head, args(1))
      }),
    // legacy lowercase-alnum count under the default merge table
    ("graft_bpe_count",
      new ExpressionInfo(classOf[TokenCount].getName, "graft_bpe_count"),
      (args: Seq[Expression]) => TokenCount(arity("graft_bpe_count", 1)(args).head,
        TokenCount.broadcast(BpeKernel.model(graft.functions.TextFunctions.DefaultMerges)),
        byteLevel = false)),
    // Column-composed kernels ride the same registry through the eager
    // node converter (a lazy wrapper would reach codegen unevaluable
    // when embedded mid-tree by the registry)
    ("graft_quality_reason",
      new ExpressionInfo(graft.functions.TextFunctions.getClass.getName,
        "graft_quality_reason"),
      (args: Seq[Expression]) => GraftShim.resolvedExpression(
        graft.functions.TextFunctions.filterReason(
          GraftShim.column(arity("graft_quality_reason", 1)(args).head)))),
    ("graft_int8_quantize",
      new ExpressionInfo(graft.functions.VectorFunctions.getClass.getName,
        "graft_int8_quantize"),
      (args: Seq[Expression]) => GraftShim.resolvedExpression(
        graft.functions.VectorFunctions.int8Quantize(
          GraftShim.column(arity("graft_int8_quantize", 1)(args).head)))),
    ("graft_redact",
      new ExpressionInfo(graft.functions.TextFunctions.getClass.getName,
        "graft_redact"),
      (args: Seq[Expression]) => GraftShim.resolvedExpression(
        graft.functions.TextFunctions.redactPii(
          GraftShim.column(arity("graft_redact", 1)(args).head)))),
    ("graft_fix_mojibake",
      new ExpressionInfo(classOf[FixMojibake].getName, "graft_fix_mojibake"),
      (args: Seq[Expression]) =>
        FixMojibake(arity("graft_fix_mojibake", 1)(args).head)),
    ("graft_canonical_url",
      new ExpressionInfo(graft.functions.TextFunctions.getClass.getName,
        "graft_canonical_url"),
      (args: Seq[Expression]) => GraftShim.resolvedExpression(
        graft.functions.TextFunctions.canonicalUrl(
          GraftShim.column(arity("graft_canonical_url", 1)(args).head)))),
    ("graft_markup_ratio",
      new ExpressionInfo(graft.functions.TextFunctions.getClass.getName,
        "graft_markup_ratio"),
      (args: Seq[Expression]) => GraftShim.resolvedExpression(
        graft.functions.TextFunctions.markupRatio(
          GraftShim.column(arity("graft_markup_ratio", 1)(args).head)))),
    // variadic: graft_contains_any(text, 'p1', 'p2', ...) — patterns
    // must be string literals (the trie builds once, driver-side)
    ("graft_contains_any",
      new ExpressionInfo(classOf[ContainsAny].getName, "graft_contains_any"),
      (args: Seq[Expression]) => {
        if (args.length < 2)
          throw new IllegalArgumentException(
            "graft_contains_any(text, pattern, ...) needs at least one pattern")
        val pats = args.tail.map {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) if s != null =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"graft_contains_any patterns must be string literals, got $other")
        }
        ContainsAny(args.head, pats)
      }),
    ("graft_compress_ratio",
      new ExpressionInfo(classOf[DeflateRatio].getName, "graft_compress_ratio"),
      (args: Seq[Expression]) => {
        arity("graft_compress_ratio", 2)(args)
        DeflateRatio(args.head, intArg(args(1), "graft_compress_ratio level"))
      }),
    // multiplicative aggregate (polars Expr.product / DuckDB product):
    // the analyzer wraps a bare AggregateFunction from a registry
    // builder into an AggregateExpression, same as the builtin path
    ("graft_product",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.Product].getName,
        "graft_product"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.Product(
          arity("graft_product", 1)(args).head)))
}
