package graft.plans

import org.apache.spark.sql.{Column, GraftShim, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.plans.{TextHashColumns => THC}

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

  private def c(e: Expression): Column = GraftShim.column(e)

  /** A function whose builder applies a Column helper of `owner` to
    * the call's `n` arguments. The eager node converter unpacks the
    * result, so it embeds into the calling expression tree. */
  private def columnFn(name: String, n: Int, owner: AnyRef)(f: Seq[Expression] => Column)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(owner.getClass.getName, name),
      (args: Seq[Expression]) => GraftShim.resolvedExpression(f(arity(name, n)(args))))

  /** (name, info, builder) for every exposed kernel. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    columnFn("graft_simhash", 1, THC)(a => THC.simhash(c(a(0)))),
    columnFn("graft_minhash", 3, THC)(a => THC.minhashSignature(c(a(0)),
      intArg(a(1), "shingleN"), intArg(a(2), "numHashes"))),
    columnFn("graft_simhash_md5", 1, THC)(a => THC.simhashMd5(c(a(0)))),
    columnFn("graft_minhash_md5_key", 2, THC)(a =>
      THC.minhashMd5Key(c(a(0)), intArg(a(1), "shingleN"))),
    columnFn("graft_lexical_stats", 1, THC)(a => THC.lexicalStats(c(a(0)))),
    columnFn("graft_shingle_hashes", 2, THC)(a =>
      THC.shingleHashes(c(a(0)), intArg(a(1), "shingleN"))),
    columnFn("graft_positional_shingles", 2, THC)(a =>
      THC.positionalShingles(c(a(0)), intArg(a(1), "shingleN"))),
    columnFn("graft_nfc", 1, UnicodeColumns)(a => UnicodeColumns.nfc(c(a(0)))),
    columnFn("graft_nfkc", 1, UnicodeColumns)(a => UnicodeColumns.nfkc(c(a(0)))),
    columnFn("graft_strip_accents", 1, UnicodeColumns)(a =>
      UnicodeColumns.stripAccents(c(a(0)))),
    columnFn("graft_cosine", 2, VectorColumns)(a => VectorColumns.cosine(c(a(0)), c(a(1)))),
    // legacy lowercase-alnum count under the default merge table
    ("graft_bpe_count",
      new ExpressionInfo(classOf[TokenCount].getName, "graft_bpe_count"),
      (args: Seq[Expression]) => TokenCount(arity("graft_bpe_count", 1)(args).head,
        TokenCount.broadcast(BpeKernel.model(TF.DefaultMerges)),
        byteLevel = false)),
    columnFn("graft_quality_reason", 1, TF)(a => TF.filterReason(c(a(0)))),
    columnFn("graft_int8_quantize", 1, VF)(a => VF.int8Quantize(c(a(0)))),
    columnFn("graft_redact", 1, TF)(a => TF.redactPii(c(a(0)))),
    columnFn("graft_fix_mojibake", 1, MojibakeColumns)(a =>
      MojibakeColumns.fixMojibake(c(a(0)))),
    columnFn("graft_canonical_url", 1, TF)(a => TF.canonicalUrl(c(a(0)))),
    columnFn("graft_markup_ratio", 1, TF)(a => TF.markupRatio(c(a(0)))),
    // variadic: graft_contains_any(text, 'p1', 'p2', ...) — patterns
    // must be string literals (the trie builds once, driver-side)
    ("graft_contains_any",
      new ExpressionInfo(StringColumns.getClass.getName, "graft_contains_any"),
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
        GraftShim.resolvedExpression(StringColumns.containsAny(c(args.head), pats))
      }),
    columnFn("graft_compress_ratio", 2, CompressColumns)(a => CompressColumns.deflateRatio(
      c(a(0)), intArg(a(1), "graft_compress_ratio level"))),
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
