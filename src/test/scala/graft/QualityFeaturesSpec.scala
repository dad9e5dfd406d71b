package graft

import org.apache.spark.sql.functions._
import graft.operators.QualityModel

/** The native one-pass quality-feature kernel must reproduce the
  * regexp/split Column reference bit-for-bit — same int counts, same
  * max(·,1) guards, same division order — or q_quality_model's scores
  * silently drift from the r13-committed values. */
class QualityFeaturesSpec extends SparkSpec {

  import QualityFeaturesSpec.{edge, randomDoc}

  test("native kernel equals the Column reference bit-for-bit") {
    import spark.implicits._
    val texts = edge ++ (0 until 200).map(randomDoc)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val native = QualityModel.featureColumns(col("text"))
    val ref = RegexSignals.featureColumnsRef(col("text"))
    val both = df.select(
      (col("id") +:
        native.zipWithIndex.map { case (c, i) => c.as(s"n$i") }) ++
        ref.zipWithIndex.map { case (c, i) => c.as(s"r$i") }: _*)
      .collect()
    both.foreach { row =>
      (0 until QualityModel.NumFeatures).foreach { i =>
        val n = row.getDouble(1 + i)
        val r = row.getDouble(1 + QualityModel.NumFeatures + i)
        assert(java.lang.Double.doubleToRawLongBits(n) ==
          java.lang.Double.doubleToRawLongBits(r),
          s"feature $i diverges on id=${row.getLong(0)}: native=$n ref=$r " +
            s"text=${texts(row.getLong(0).toInt).take(60)}")
      }
    }
  }

  test("null text stays null through the kernel") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, "ok text here")).toDF("id", "text")
    val got = df.select(col("id"),
        QualityModel.featureColumns(col("text")).head.as("f0"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).isEmpty)
    assert(got(2L).nonEmpty)
  }
}

/** The edge list and the random-document generator the text-signal
  * specs share. */
object QualityFeaturesSpec {
  val edge = Seq(
    "",                       // empty: every ratio over max(·,1)
    " \t\n\f\r ",       // all six \s class members, zero words
    "the and of to in is on for", // all stopwords
    "!!! ??? ,,, ;;; :::",    // pure punctuation tokens
    "der die und le la los que 的 是 了", // multi-language incl. multibyte
    "x",                      // one 1-char word
    "a" * 500,                // one giant word
    "word",                   // no stopword, no symbol
    "naïve café — em–dash …", // non-ASCII letters and symbols
    "mixed 123 abc !@# the %" // everything at once
  )

  def randomDoc(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val pool = Vector("the", "and", "zork", "a1b2", "...", "!?;", "naïve",
      "的", "x", "LONGWORDHERE", "12345", "@#%", "tab\tin", "nl\nin")
    Seq.fill(1 + rnd.nextInt(40))(pool(rnd.nextInt(pool.size)))
      .mkString(if (rnd.nextBoolean()) " " else "  ")
  }
}
