package graft
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: writes each named query's
  * `.explain("formatted")` physical plan to <outDir>/<name>_<tag>.txt so
  * plan-shape claims in OPTIMIZATION_r*.md are checkable without running
  * Spark. Usage:
  *   runMain graft.PlanDump <outDir> <tag> [q_name ...]
  * With no names, dumps every declared query. Each query prints one
  * `[plandump]` line: exchanges, reused exchanges, scans, and
  * `lambdas=<n>` — the higher-order-function nodes of its optimized
  * plan ([[lambdas]]), the interpreted-lambda census. The session is
  * `Session.local(Session.cpus)`, the one Bench and Verify run on.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // SPARK_GRAFT_PLAN_EXECUTED=1 dumps the FINAL adaptive plan after
    // running the query to completion — AQE's runtime exchange reuse
    // (ReusedExchange) and join rewrites are invisible in the static
    // explain, so executed-work claims need this mode
    val executed = sys.env.get("SPARK_GRAFT_PLAN_EXECUTED").contains("1")
    names.foreach { n =>
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        val plan = if (executed) {
          qe.executedPlan.execute().foreach(_ => ())
          qe.executedPlan.toString.split("== Initial Plan ==")(0)
        } else qe.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan)
        // one name per operator: the tree lines of the executed plan,
        // the "(n) Name" detail headers of the formatted explain (its
        // tree section repeats every node)
        val ops = if (executed) {
          plan.linesIterator.map(_.replaceFirst("""^[\s:+-]*(\*\(\d+\) )?""", "")).toList
        } else {
          plan.linesIterator.collect { case OpHeader(op) => op }.toList
        }
        // a ReusedExchange line also names the exchange it reuses, so
        // exchanges count operators, not substring hits
        val ex = ops.count(_.matches("""(Shuffle|Broadcast)?Exchange\b.*"""))
        val reused = ops.count(_.startsWith("ReusedExchange"))
        val scans = ops.count(o => o.startsWith("Scan parquet") || o.startsWith("FileScan"))
        val hofs = lambdas(qe.optimizedPlan).size
        println(s"[plandump] $n exchanges=$ex reused=$reused scans=$scans lambdas=$hofs")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: $e")
      }
    }
    spark.stop()
  }

  private val OpHeader = """^\(\d+\) (.*)$""".r

  /** The higher-order-function nodes (`transform`, `filter`,
    * `aggregate`, `zip_with`, …) of a plan: their lambdas run
    * interpreted, once per array element. */
  def lambdas(plan: LogicalPlan): Seq[HigherOrderFunction] =
    plan.flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h }))
}
