package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Closed-loop benchmark of graft's queries (`graft.SparkEntry.queries`), one client.
  *
  * `perfbench/run.py` launches this main once per run and turns the raw
  * record it writes into metrics. Modes:
  *  - `bench`: start the session `--setups` times (the last one stays
  *    up), run one untimed warmup pass over `--queries`, then
  *    `--passes` timed passes, each in a seed-permuted order, then
  *    fingerprint every query's output outside the timed region. With
  *    `--trace 1`, one more pass runs with listeners on and writes spans,
  *    followed by one untraced pass to measure the tracing overhead.
  *  - `record`: fingerprint each query and write its output as parquet
  *    under `--record-dir`, with the queries' DuckDB oracles, for the
  *    one-time cross-check of the stored fingerprints.
  */
object Harness {
  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** Run a query to completion through the noop sink, as graft.Bench does. */
  def exec(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-independent output fingerprint: row count, the wrapping-free
    * sum of a per-row xxhash64, and the schema. Floating columns are
    * hashed at 12 significant digits with -0.0 folded into 0.0, so the
    * last-bit order effects of parallel aggregation do not show. */
  def fingerprint(df: DataFrame): (Long, String, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType =>
          format_string("%.12g", when(c === 0, lit(0.0)).otherwise(c.cast(DoubleType)))
        case _ => c
      }
    }
    val row = named.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))))
      .collect().head
    val hash = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    (row.getLong(0), hash, schema)
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process, in MB (Linux). */
  private def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) Double.NaN
    else scala.io.Source.fromFile(p.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val queries = o("queries").split(",").toSeq
    val data = o("data")
    val cores = o("cores").toInt
    val localDir = o("local-dir")
    val out = o("out")
    val all = graft.SparkEntry.queries
    val missing = queries.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    o.getOrElse("mode", "bench") match {
      case "record" => record(queries, data, cores, localDir, o("record-dir"), out)
      case _ => bench(queries, data, cores, localDir, o("seed").toLong, o("passes").toInt,
        o("setups").toInt, o("trace") == "1", o.get("spans"), out)
    }
  }

  private def record(queries: Seq[String], data: String, cores: Int, localDir: String,
                     dir: String, out: String): Unit = {
    val spark = session(cores, localDir)
    val fps = queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      val fp = fingerprint(graft.SparkEntry.queries(q)(spark, data))
      // a fingerprint that differs between two runs cannot serve as a check
      require(fingerprint(graft.SparkEntry.queries(q)(spark, data)) == fp,
        s"$q: output fingerprint differs between two runs")
      val (rows, hash, schema) = fp
      q -> Json.obj("rows" -> rows.toString, "hash" -> Json.str(hash), "schema" -> Json.str(schema))
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))
    Files.writeString(Paths.get(out), Json.obj(fps: _*))
    spark.stop()
  }

  private def bench(queries: Seq[String], data: String, cores: Int, localDir: String,
                    seed: Long, timedPasses: Int, setups: Int, traced: Boolean,
                    spansOut: Option[String], out: String): Unit = {
    val fns = graft.SparkEntry.queries
    def now(): Long = System.nanoTime()
    // set-up: the session starts `setups` times (the first start also
    // pays for JVM class loading), the last one stays up and runs one
    // warmup pass on the workload's own input, so the timed passes see
    // JIT-compiled code and a filled codegen cache for the same plans
    var spark: SparkSession = null
    val sessionS = (1 to setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = session(cores, localDir)
      (now() - t0) / 1e9
    }
    val w0 = now()
    queries.foreach { q =>
      try exec(fns(q)(spark, data))
      catch { case e: Exception => System.err.println(s"[perfbench] $q failed in warmup: $e") }
    }
    val warmupS = (now() - w0) / 1e9
    val sc = spark.sparkContext

    def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(queries)
    // closed loop, one client: each query runs to completion before the next
    val samples = Seq.newBuilder[String]
    var attempted, failed = 0
    val cpu0 = cpuNanos()
    val t0 = now()
    for (pass <- 0 until timedPasses; q <- order(pass)) {
      val s = now()
      attempted += 1
      val ok = try { exec(fns(q)(spark, data)); true } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
          false
      }
      samples += Json.obj("q" -> Json.str(q), "ms" -> Json.num((now() - s) / 1e6),
        "ok" -> ok.toString, "pass" -> pass.toString)
    }
    val timedS = (now() - t0) / 1e9
    val cpuS = (cpuNanos() - cpu0) / 1e9

    // traced pass: the first pass's order again, listeners on, spans kept
    val traceJson = if (!traced) "null" else {
      val rec = new Recorder
      val trace = new Trace
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val epoch0 = System.currentTimeMillis().toDouble
      val nano0 = now()
      def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6
      val tp0 = now()
      val perQuery = order(0).zipWithIndex.map { case (q, i) =>
        val q0 = now()
        sc.setLocalProperty(Tag.Key, Tag(i, 'b'))
        val df = fns(q)(spark, data)
        val b1 = now()
        sc.setLocalProperty(Tag.Key, Tag(i, 'x'))
        exec(df)
        val q1 = now()
        sc.setLocalProperty(Tag.Key, null)
        org.apache.spark.perfbench.Bus.drain(sc)
        val counters = trace.query(i, q, epochMs(q0), epochMs(b1), epochMs(q1), rec)
        rec.clear()
        Json.obj(("q" -> Json.str(q)) +: counters.map { case (k, v) => k -> Json.num(v) }: _*)
      }
      val tracedS = (now() - tp0) / 1e9
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
      spansOut.foreach(p => Files.writeString(Paths.get(p),
        trace.spans.map(_.json).mkString("", "\n", "\n")))
      // one more untraced pass in the same order: passes still speed up
      // as the JIT settles, so the traced pass is compared with the
      // untraced passes on both sides of it
      val ta0 = now()
      order(0).foreach(q => exec(fns(q)(spark, data)))
      val afterS = (now() - ta0) / 1e9
      Json.obj("pass_s" -> Json.num(tracedS), "after_pass_s" -> Json.num(afterS),
        "queries" -> Json.arr(perQuery))
    }

    // output check, outside the timed region
    val c0 = now()
    val checks = queries.sorted.map { q =>
      val fp = try {
        val (rows, hash, schema) = fingerprint(fns(q)(spark, data))
        Json.obj("rows" -> rows.toString, "hash" -> Json.str(hash), "schema" -> Json.str(schema))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q check failed: $e")
          Json.obj("error" -> Json.str(e.toString))
      }
      q -> fp
    }
    val checkS = (now() - c0) / 1e9

    val rt = Runtime.getRuntime
    val record = Json.obj(
      "env" -> Json.obj(
        "available_processors" -> rt.availableProcessors.toString,
        "cores" -> cores.toString,
        "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
        "driver_max_heap_mb" -> Json.num(rt.maxMemory / 1048576.0),
        "spark" -> Json.str(spark.version),
        "seed" -> seed.toString),
      "session_start_s" -> Json.arr(sessionS.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "passes" -> timedPasses.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "timed_s" -> Json.num(timedS),
      "cpu_s" -> Json.num(cpuS),
      "samples" -> Json.arr(samples.result()),
      "check_s" -> Json.num(checkS),
      "trace" -> traceJson,
      "checks" -> Json.obj(checks: _*),
      "rss_peak_mb" -> Json.num(peakRssMb()))
    Files.writeString(Paths.get(out), record)
    spark.stop()
  }
}
