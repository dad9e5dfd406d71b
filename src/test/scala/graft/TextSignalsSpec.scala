package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions => TF}
import graft.operators.QualityModel
import graft.plans.TextSignals

/** Every signal derived from the one text-signal pass must equal its
  * regexp/split/`filter` reference ([[RegexSignals]]) bit for bit:
  * doubles by their raw long bits, strings by equality, nulls as
  * nulls — both interpreted and through generated code. */
class TextSignalsSpec extends SparkSpec {

  /** (name, native, reference) for every derived signal, plus the raw
    * per-language stopword counts. */
  private def signals(text: Column): Seq[(String, Column, Column)] = Seq(
    ("filterReason", TF.filterReason(text), RegexSignals.filterReasonHof(text)),
    ("langId", TF.langId(text), RegexSignals.langId(text)),
    ("qualityScore", TF.qualityScore(text), RegexSignals.qualityScore(text)),
    ("punctRatio", TF.punctRatio(text), RegexSignals.punctRatio(text)),
    ("stopwordRatio", TF.stopwordRatio(text), RegexSignals.stopwordRatio(text)),
    ("symbolRatio", TF.symbolRatio(text), RegexSignals.symbolRatio(text)),
    ("meanWordLen", TF.meanWordLen(text), RegexSignals.meanWordLen(text))) ++
    QualityModel.featureColumns(text).zip(RegexSignals.featureColumnsRef(text)).zipWithIndex
      .map { case ((n, r), i) => (s"feature$i", n, r) } ++
    TF.Stopwords.zip(TextSignals.columns(text).stopwordsByLang).map { case ((lang, words), n) =>
      (s"stop_$lang", n, RegexSignals.stopwordHits(text, words)) }

  private def texts: Seq[String] =
    QualityFeaturesSpec.edge ++ (0 until 200).map(QualityFeaturesSpec.randomDoc) ++
      SamplingSpec.FilterReasonEdges ++ Seq(
        "le chat et la table", "der hund und die katze", // one language each
        "the le der el 的",                             // a five-way tie
        "que que y the the") :+                          // a two-way tie
      null

  /** Null text gives null signals, and language "zh" (every ordered-
    * CASE condition is null). The references differ on two: the gate's
    * CASE has an ELSE, and `least` skips nulls. */
  private val refOnNull: Map[String, Any] = Map("filterReason" -> "ok", "feature0" -> 1.0)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  /** Collects every signal over `df` (one `text` column) and checks it. */
  private def check(df: DataFrame): Unit = {
    val sigs = signals(col("text"))
    val rows = df.select(col("text") +: sigs.flatMap { case (_, n, r) => Seq(n, r) }: _*).collect()
    assert(rows.nonEmpty)
    for (row <- rows; ((name, _, _), i) <- sigs.zipWithIndex) {
      val (native, ref) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      val text = Option(row.getString(0)).map(_.take(60))
      if (text.isEmpty) {
        val expected = if (name == "langId") "zh" else null
        assert(same(native, expected) && same(ref, refOnNull.getOrElse(name, expected)),
          s"null text: $name native=$native ref=$ref")
      } else
        assert(same(native, ref), s"$name diverges on $text: native=$native ref=$ref")
    }
  }

  private def inputs: Seq[String] =
    texts ++ Tables.t(spark, Sf, "documents").select(col("text")).collect().map(_.getString(0))

  test("every derived signal equals its reference, interpreted") {
    import spark.implicits._
    // a LocalRelation: the optimizer evaluates the projection itself
    check(inputs.toDF("text"))
  }

  test("every derived signal equals its reference through generated code") {
    val schema = StructType(Seq(StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row(_)), 2), schema)
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = df.select(TF.qualityScore(col("text"))).queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), s"no generated code:\n$plan")
      check(df)
      check(Tables.t(spark, Sf, "documents").select(col("text")))
    } finally spark.conf.set(key, prev)
  }

  test("a word on two lists counts once in the union and once per list") {
    import spark.implicits._
    // the production lists share no word, so overlapping test lists
    // go through the counting loop directly
    val lists = Seq(Seq("the", "la", "x"), Seq("la", "der"), Seq("der", "la", "y"))
    val docs = Seq("la la der the", "x y la", "der\tla  la y", "zork", "")
    val ref = docs.toDF("text").select(
      RegexSignals.stopwordHits(col("text"), lists.flatten) +:
        lists.map(RegexSignals.stopwordHits(col("text"), _)): _*).collect()
    val index = TextSignals.stopwordIndex(lists)
    for ((doc, r) <- docs.zip(ref)) {
      val counts = TextSignals.count(UTF8String.fromString(doc), index, lists.length)
      val native = (0 to lists.length).map(i => counts.getInt(5 + i))
      assert(native == r.toSeq, s"'$doc': native $native vs reference ${r.toSeq}")
    }
  }
}
