package graft

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver-generated TPC-H-ish testdata.
  *
  * `events.ts` has been written by different driver generations as
  * TIMESTAMP(NANOS) (which Spark's vectorized reader only accepts as a
  * raw long under legacy nanosAsLong) and as TIMESTAMP(MICROS) (read
  * natively as TIMESTAMP_NTZ). Normalize either physical layout to µs
  * TIMESTAMP_NTZ — the ns path truncates ns→µs exactly like DuckDB, so
  * oracle comparisons agree regardless of which generation wrote the
  * file.
  *
  * `orders.o_orderdate` / `lineitem.l_shipdate` are semantically DATE
  * but some driver generations write them as timestamp[us]. Normalize
  * to DateType once at scan — otherwise every dt-family consumer pays
  * a per-row timestamp→date conversion (the r7 bench showed 4–8×
  * regressions on q_dt_offset/q_dt_arith from exactly this).
  *
  * Schema cache: `spark.read.parquet` launches a Spark job just to read
  * a footer and infer the schema, so each table file's schema is
  * inferred once per session and every later read passes it back with
  * `read.schema`. Only the inferred `StructType` is cached — never
  * data, a DataFrame, a plan or a result. The cache is per session,
  * held weakly so it never keeps a stopped session alive. An entry is
  * keyed on the file's resolved path, length and modification time
  * (Hadoop `getFileStatus`), so a rewritten file is inferred again, and
  * on the session confs that change parquet inference
  * (`InferenceConfs`), so flipping one of them re-infers too.
  */
object Tables {
  /** Session confs that change the schema parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[Seq[Any], StructType]]())

  /** The schema `s.read.parquet(path)` would infer, from the session's
    * cache when this file version was already inferred under the same
    * inference confs (see the object doc). */
  private[graft] def parquetSchema(s: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = Seq(st.getPath.toString, st.getLen, st.getModificationTime) ++
      InferenceConfs.map(s.conf.getOption)
    schemas.computeIfAbsent(s, _ => new ConcurrentHashMap())
      .computeIfAbsent(key, _ => s.read.parquet(path).schema)
  }

  /** Instant (LTZ) → UTC wall-clock NTZ, independent of the session
    * time zone: the LTZ→NTZ cast renders in the session tz, so convert
    * that wall clock back from the session tz to UTC. A bare NTZ cast
    * is only correct when the session tz happens to be UTC.
    */
  private def ltzToUtcNtz(c: Column): Column =
    convert_timezone(current_timezone(), lit("UTC"), c.cast(TimestampNTZType))

  /** Normalize a semantically-DATE column to DateType whatever physical
    * type the generation wrote (date32 → no-op; timestamp → date of the
    * UTC wall clock).
    */
  private def normDate(df: DataFrame, name: String): DataFrame =
    df.schema.find(_.name == name).map(_.dataType) match {
      case Some(DateType) | None        => df
      case Some(TimestampNTZType)       => df.withColumn(name, col(name).cast(DateType))
      case Some(TimestampType)          => df.withColumn(name, ltzToUtcNtz(col(name)).cast(DateType))
      case Some(other) =>
        throw new IllegalStateException(s"unexpected $name type: $other")
    }

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    normalize(name, s.read.schema(parquetSchema(s, path)).parquet(path))
  }

  /** The per-table normalization [[t]] applies to the raw parquet read. */
  private[graft] def normalize(name: String, raw: DataFrame): DataFrame = name match {
    case "events" =>
      raw.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) read as ns-since-epoch long
          raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case TimestampNTZType => raw
        case TimestampType => // µs instants: route through UTC, tz-proof
          raw.withColumn("ts", ltzToUtcNtz(col("ts")))
        case other =>
          throw new IllegalStateException(s"unexpected events.ts type: $other")
      }
    case "orders"   => normDate(raw, "o_orderdate")
    case "lineitem" => normDate(raw, "l_shipdate")
    case _          => raw
  }
}
