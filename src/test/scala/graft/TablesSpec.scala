package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.streaming.EventStreams

/** `Tables.t` resolves each table file's schema once per session: warm
  * calls launch no Spark job, return what a fresh inference would, and
  * re-infer when the file or an inference conf changes. */
class TablesSpec extends SparkSpec {
  // events first: it sets nanosAsLong, which is part of every cache key
  private val Names = Seq("events", "customer", "documents", "embeddings",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** Write `df` as one parquet file at `target`, replacing it. */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("tables_out")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a warm Tables.t launches no Spark job for any table, nor a stream start") {
    val sc = spark.sparkContext
    def open(): Unit = {
      Names.foreach(Tables.t(spark, Sf, _))
      EventStreams.eventsStream(spark, Sf)
    }
    open()
    sc.setJobGroup("tables_warm", "warm Tables.t calls")
    try open() finally sc.clearJobGroup()
    // the status tracker fills from the listener bus in event order:
    // once a later control job shows up, any job the warm calls
    // launched would already be listed under their group
    sc.setJobGroup("tables_control", "control job")
    try spark.range(1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds)) {
      assert(sc.statusTracker.getJobIdsForGroup("tables_control").nonEmpty)
    }
    assert(sc.statusTracker.getJobIdsForGroup("tables_warm").isEmpty)
  }

  test("the cached schema equals a fresh inference, nullability included") {
    Names.foreach { n =>
      val path = s"$Sf/$n.parquet"
      Tables.t(spark, Sf, n)
      val fresh = spark.read.parquet(path)
      assert(Tables.parquetSchema(spark, path) == fresh.schema, n)
      assert(Tables.t(spark, Sf, n).schema == Tables.normalize(n, fresh).schema, n)
    }
  }

  test("a rewritten table file is inferred again") {
    val dir = Files.createTempDirectory("tables_rewrite")
    val file = dir.resolve("region.parquet")
    Files.copy(java.nio.file.Paths.get(s"$Sf/region.parquet"), file)
    val before = Tables.t(spark, dir.toString, "region")
    assert(!before.columns.contains("extra"))
    writeSingleFile(before.withColumn("extra", lit(7L)), file)
    val after = Tables.t(spark, dir.toString, "region")
    assert(after.columns.toSeq == before.columns.toSeq :+ "extra")
    assert(after.select("extra").collect().map(_.getLong(0)).toSet == Set(7L))
  }

  test("flipping binaryAsString re-infers the column type") {
    // written with parquet-mr, not Spark: a Spark-written footer carries
    // its own Spark schema, which inference prefers over every conf
    val dir = Files.createTempDirectory("tables_conf")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve("bin.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", Binary.fromString("ab")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    def bType = Tables.t(spark, dir.toString, "bin").schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
      spark.conf.set(key, "true")
      assert(bType == StringType)
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
