package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The driver's compare sorts rows via pandas — array/map/struct
    * columns are unhashable there and crash the check silently-red (the
    * r7 q_embed_pca failure class). Reject them at Verify time with a
    * message naming the columns, so the failure is attributable.
    */
  def assertSortable(name: String, df: DataFrame): Unit = {
    val bad = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    require(bad.isEmpty,
      s"query $name emits non-atomic columns the driver compare cannot sort/hash: " +
        bad.mkString(", ") + " — project scalars (round(element_at(...)) etc.) instead")
  }
  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. Bench writes its record with it too. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), onlyArg) = args.splitAt(2)
    // optional extra args = query-name subset (local iteration only;
    // the driver always passes exactly two)
    val only = onlyArg.toSet
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertSortable(name, df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
