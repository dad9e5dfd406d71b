package perfbench

import scala.collection.mutable

/** A timed interval at a layer boundary. Times are epoch milliseconds;
  * spans of one query share `query`. */
final case class Span(id: Int, parent: Int, query: String, name: String,
                      start: Double, end: Double) {
  def json: String = Json.obj("id" -> id.toString, "parent" -> parent.toString,
    "query" -> Json.str(query), "name" -> Json.str(name),
    "start" -> Json.num(start), "end" -> Json.num(end))
}

/** Keeps spans in memory and turns one traced query's listener events
  * into spans plus per-layer counters. */
final class Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private def add(parent: Int, query: String, name: String, s: Double, e: Double,
                  lo: Double, hi: Double): Int = {
    nextId += 1
    val cs = math.min(math.max(s, lo), hi)
    spans += Span(nextId, parent, query, name, cs, math.min(math.max(e, cs), hi))
    nextId
  }

  /** Union of intervals, as sorted disjoint intervals. */
  private def merge(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Record the spans of query number `i` (named `name`), built over
    * [q0, b1] and executed over [b1, q1], and return its counters. */
  def query(i: Int, name: String, q0: Double, b1: Double, q1: Double,
            rec: Recorder): Seq[(String, Double)] = rec.synchronized {
    val qid = s"$i:$name"
    val root = add(0, qid, "query", q0, q1, q0, q1)
    val build = add(root, qid, "build", q0, b1, q0, q1)
    val exec = add(root, qid, "exec", b1, q1, q0, q1)
    val bTag = Tag(i, 'b')
    val xTag = Tag(i, 'x')
    val mine = Set(bTag, xTag)
    val qJobs = rec.jobs.filter(j => mine(j.tag)).toSeq
    val qTasks = rec.tasks.filter(t => mine(t.tag)).toSeq

    var execBusy = 0.0
    for (j <- qJobs) {
      val (kind, parent, lo, hi) =
        if (j.tag == xTag) ("exec", exec, b1, q1)
        else if (j.tables) ("tables", build, q0, b1)
        else ("eager", build, q0, b1)
      val jid = add(parent, qid, s"${kind}_job", j.start.toDouble, j.end.toDouble, lo, hi)
      val js = math.min(math.max(j.start.toDouble, lo), hi)
      val je = math.min(math.max(j.end.toDouble, js), hi)
      val busy = merge(qTasks.filter(t => rec.stageJob.get(t.stage).contains(j.id))
        .map(t => (math.max(t.launch.toDouble, js), math.min(t.finish.toDouble, je)))
        .filter { case (s, e) => e > s })
      busy.foreach { case (s, e) => add(jid, qid, s"${kind}_tasks", s, e, js, je) }
      if (kind == "exec") execBusy += busy.map { case (s, e) => e - s }.sum
    }

    // the noop write's QueryExecution starts planning after the build
    val execPlans = rec.plans.filter(_.phases.exists(_._2 >= math.floor(b1))).toSeq
    for (p <- execPlans; (ph, s, e) <- p.phases)
      add(exec, qid, s"plans_$ph", s.toDouble, e.toDouble, b1, q1)

    def phaseMs(ph: String) = execPlans.flatMap(_.phases).collect {
      case (`ph`, s, e) => (e - s).toDouble }.sum
    val jobMs = (js: Seq[JobRec]) => js.map(j => (j.end - j.start).toDouble).sum
    val tablesJobs = qJobs.filter(j => j.tag == bTag && j.tables)
    val eagerJobs = qJobs.filter(j => j.tag == bTag && !j.tables)
    val execTasks = qTasks.filter(_.tag == xTag)
    val inputStages = qTasks.filter(_.inRecords > 0).map(_.stage).toSet
    val ok = qTasks.filter(_.ok)
    Seq(
      "wall_ms" -> (q1 - q0),
      "build_ms" -> (b1 - q0),
      "exec_ms" -> (q1 - b1),
      "tables_jobs" -> tablesJobs.size.toDouble,
      "tables_ms" -> jobMs(tablesJobs),
      "eager_jobs" -> eagerJobs.size.toDouble,
      "eager_job_ms" -> jobMs(eagerJobs),
      "exec_jobs" -> qJobs.count(_.tag == xTag).toDouble,
      "exec_stages" -> rec.stageTag.values.count(_ == xTag).toDouble,
      "exec_tasks" -> execTasks.size.toDouble,
      "exec_busy_ms" -> execBusy,
      "exec_run_ms" -> execTasks.map(_.runMs).sum.toDouble,
      "task_failures" -> qTasks.count(!_.ok).toDouble,
      "analysis_ms" -> phaseMs("analysis"),
      "optimization_ms" -> phaseMs("optimization"),
      "planning_ms" -> phaseMs("planning"),
      "exchanges" -> execPlans.map(_.exchanges).sum.toDouble,
      "reused_exchanges" -> execPlans.map(_.reused).sum.toDouble,
      "scan_tasks" -> qTasks.count(t => inputStages(t.stage)).toDouble,
      "input_records" -> ok.map(_.inRecords).sum.toDouble,
      "input_bytes" -> ok.map(_.inBytes).sum.toDouble,
      "run_ms" -> ok.map(_.runMs).sum.toDouble,
      "cpu_ms" -> ok.map(_.cpuNs).sum / 1e6,
      "gc_ms" -> ok.map(_.gcMs).sum.toDouble,
      "peak_mem_bytes" -> (0L +: ok.map(_.peakMem)).max.toDouble,
      "shuffle_write_bytes" -> ok.map(_.shWriteBytes).sum.toDouble,
      "shuffle_read_bytes" -> ok.map(_.shReadBytes).sum.toDouble,
      "shuffle_records" -> ok.map(_.shWriteRecords).sum.toDouble,
      "fetch_wait_ms" -> ok.map(_.fetchWaitMs).sum.toDouble,
      "spill_disk_bytes" -> ok.map(_.spillDisk).sum.toDouble,
      "spill_mem_bytes" -> ok.map(_.spillMem).sum.toDouble,
    )
  }
}
