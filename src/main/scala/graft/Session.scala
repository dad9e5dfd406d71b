package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Bench, Verify, PlanDump
  * and the test suites all run with the confs the benchmark harness
  * uses, so a dumped or verified plan is the benched plan. */
object Session {
  /** Cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int =
    raw.fold(4)(v => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))

  /** A `local[cores]` session with one shuffle partition per core. */
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static conf, must be set before the session exists: the default
      // 100-entry codegen class cache holds ~30 queries' generated
      // stages, so Bench's round-robin passes would recompile every
      // stage every pass and bench compile time, not execution time
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" fires per execution for the
    // two deliberately-bounded global windows (zipf top-k rank,
    // coverage count-class cum) and floods driver logs, burying real
    // signals. Safe to silence because PlanAuditSpec's
    // empty-partition-window audit walks every query's plan and fails
    // on any non-whitelisted global window — a stronger guard than an
    // unread warning.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    s
  }
}
