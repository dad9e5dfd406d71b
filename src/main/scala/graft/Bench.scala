package graft
import Verify.jsonString

/** Per-query wall-time benchmark over SPARK_GRAFT_SF_DIR (driver
  * contract: one JSON line on stdout). Queries run in sorted-name order
  * after a warmup pass at the smallest scale factor — the warmup
  * compiles every codegen path and JITs the hash kernels so measured
  * times reflect steady-state throughput, not first-query JVM startup.
  *
  * Noise defenses, in order: (1) three INTERLEAVED round-robin passes
  * with per-query minima — same-query repeats land minutes apart, so a
  * transient (GC pause, noisy neighbor) cannot inflate all samples of
  * one query into a phantom regression; (2) a 10k-entry codegen class
  * cache so interleaving measures execution, not recompilation;
  * (3) an outlier re-run pass against the last committed ROUND record
  * (BENCH_r*.json with a matching sf — never the mutable
  * BENCH_local.json, which every iteration run overwrites, letting a
  * drift ratchet in unchallenged) — a query still >1.3x its committed
  * time after the passes gets one later isolated sample, and the
  * outcome (reproduced vs transient) is written to the record's
  * `rechecked` field, so every challenged delta is accounted for.
  *
  * Failures are loud: a query that throws is reported per-run on
  * stderr, lands in the JSON's `errors` field, and makes the process
  * exit nonzero — a bench-only regression (e.g. an OOM at a scale the
  * correctness gate doesn't reach) must never bench as ~0s and pass.
  *
  * Output contract: the FULL record line (≈20 KB with 268 queries)
  * prints first and is also written to a file (SPARK_GRAFT_BENCH_OUT,
  * else BENCH_local.json when SPARK_GRAFT_BENCH_RECORD=1, else the
  * gitignored BENCH_driver.json — so an unattended driver run can't
  * overwrite the committed round record); a ≤250-char summary JSON
  * prints LAST so the driver's 2000-char stdout tail always captures
  * the headline number.
  */
object Bench {
  /** Run a query to completion through the noop sink: every row is
    * produced and every column materialized, unlike `count()`, under
    * which Catalyst prunes projection-only work down to a row count. */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Wall-clock governor decisions, pure so the degradation ORDER is
    * spec-testable: as the budget shrinks, warmup truncates and passes
    * shed (at 85% headroom) before rechecks shed (at 100%), and pass 1
    * is unconditional — one sample per query beats no record at all. */
  private[graft] object Governor {
    /** Warmup iterations may spend at most a quarter of the budget. */
    def warmupAllowed(elapsed: Double, budget: Double): Boolean =
      elapsed < 0.25 * budget
    /** Pass 1 always runs; a repeat pass needs its projected cost to
      * fit inside 85% of the budget (15% reserved for rechecks). */
    def passAllowed(pass: Int, elapsed: Double, lastPassSecs: Double,
                    budget: Double): Boolean =
      pass == 1 || elapsed + 1.1 * lastPassSecs < 0.85 * budget
    /** A recheck re-runs the query once (~its own time again). */
    def recheckAllowed(elapsed: Double, querySecs: Double,
                       budget: Double): Boolean =
      elapsed + 1.5 * querySecs < budget
    /** Recheck verdict, contention-aware. `runMedianDelta` is the
      * median of (interleaved min / prior) across EVERY query with a
      * prior — on an idle box it sits near 1.0; on a contended box the
      * whole run shifts together. A rerun that still exceeds 1.3x prior
      * on a box whose run-wide median is itself >1.5x off says nothing
      * about the QUERY (the r13 driver run labeled a 130x q_chunk
      * spike "reproduced" under exactly this condition), so it gets the
      * third verdict `box-noise` instead of `reproduced`. */
    def verdict(prior: Double, interleaved: Double, rerun: Double,
                runMedianDelta: Double): String =
      if (math.min(interleaved, rerun) <= 1.3 * prior) "transient"
      else if (runMedianDelta > 1.5) "box-noise"
      else "reproduced"
  }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
    // wall-clock governor: the driver kills the bench process at a hard
    // limit we cannot see (r12 shipped rc=124 and NO parsed record), so
    // the harness must spend its budget deliberately and degrade LOUDLY
    // instead of getting killed. Degradation order, cheapest signal
    // lost first: truncate the sf0.001 warmup -> drop pass 3 -> drop
    // pass 2 -> drop the outlier rechecks. Whatever was dropped is
    // recorded in the JSON (passes/warmup/rechecks_skipped) so a reader
    // of the committed record knows how much noise defense it carries.
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .flatMap(_.toDoubleOption).getOrElse(1500.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run for local
    // iteration (the driver never sets it — round records are full)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val warmDir = "/root/testdata/sf0.001"
    // warmup gets at most 25% of the budget: it buys JIT/codegen
    // steadiness, which is worth less than a complete timed pass. If it
    // is cut short, the still-cold queries just measure slightly high —
    // loud in the record (warmup:"truncated"), not fatal.
    var warmup = "skipped"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      warmup = "full"
      names.foreach { n =>
        if (Governor.warmupAllowed(elapsed, budget))
          try exec(SparkEntry.queries(n)(spark, warmDir))
          catch { case _: Throwable => () } // warmup errors re-surface in the timed runs
        else warmup = "truncated"
      }
    }
    // best of three timed runs, INTERLEAVED round-robin: the whole query
    // list runs three times (pass 1 of all queries, then pass 2, then
    // pass 3) and each query keeps its per-pass minimum. Consecutive
    // same-query repeats share any transient box load across all three
    // samples, so a GC pause or noisy neighbor inflates every sample of
    // that one query and survives into the committed record as a phantom
    // regression; spreading the repeats ~minutes apart makes the min a
    // trustworthy steady-state number.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    var passes = 0
    var lastPassSecs = 0.0
    // pass 1 always runs (a record with one sample per query beats no
    // record); passes 2 and 3 run only if a full repeat of the measured
    // suite fits in what's left, reserving ~15% of the budget for the
    // recheck pass and teardown.
    for (pass <- 1 to 3
         if Governor.passAllowed(pass, elapsed, lastPassSecs, budget)) {
      val p0 = elapsed
      passes = pass
      for (name <- names) {
        val t0 = System.nanoTime()
        try {
          exec(SparkEntry.queries(name)(spark, sfDir))
          samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse(name, Nil)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name pass $pass failed: $e")
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
      }
      lastPassSecs = elapsed - p0
    }
    if (passes < 3) System.err.println(
      s"[bench] governor: ran $passes/3 passes (elapsed ${elapsed.round}s of ${budget.round}s budget)")
    // durable-record path: the committed round record (BENCH_local.json)
    // is only written when the record workflow says so explicitly
    // (SPARK_GRAFT_BENCH_RECORD=1 or an explicit _OUT path). A plain
    // driver/iteration run writes the gitignored BENCH_driver.json, so
    // a contended driver run can never sit in the working tree as an
    // uncommitted overwrite of the round record (the r13 near-miss).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props("user.dir"),
        if (sys.env.get("SPARK_GRAFT_BENCH_RECORD").contains("1"))
          "BENCH_local.json" else "BENCH_driver.json").getPath)
    // outlier re-run pass: any query whose interleaved min still sits
    // >1.3x above the last COMMITTED ROUND record gets one more
    // isolated sample, after the passes — a machine transient that
    // inflated all three interleaved samples has passed by now, so a
    // real regression survives this and a phantom one does not. The
    // baseline is the ROUND-BOUNDARY record whose sf matches this run:
    // BENCH_local.json as of the last driver round commit for the
    // shipped sf dirs, the newest committed BENCH_sf1_r*.json for
    // stress-dir runs. Never the working tree's BENCH_local.json —
    // every iteration run overwrites it, so comparing against it lets
    // a slow drift ratchet in unchallenged (the r10 quantile-family
    // escape, repeated in r11 when HEAD still carried a mid-round
    // commit). Each recheck's outcome (reproduced vs transient) is
    // recorded in the JSON so the committed record says which deltas
    // were challenged. SPARK_GRAFT_BENCH_PRIOR overrides the lookup
    // with an explicit file (the sf1 record recipe sets it).
    // whitespace-tolerant on BOTH probes: committed records may be
    // pretty-printed by the external minima-combination step ("sf": "x"
    // with a space), and a compact-only match silently empties the
    // prior — the exact failure that left the r13 run A unchallenged
    def parseRecord(txt: String): Map[String, Double] = {
      val sfRe = ("\"sf\"\\s*:\\s*\"" +
        java.util.regex.Pattern.quote(sfDir) + "\"").r
      if (sfRe.findFirstIn(txt).isEmpty) Map.empty
      else """"(q[a-z0-9_]*)"\s*:\s*([0-9.Ee+-]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    def readFile(path: String): Map[String, Double] = try {
      parseRecord(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path))))
    } catch { case _: Throwable => Map.empty }
    // ROUND-BOUNDARY baseline, per the contract above: the newest
    // committed record as of the last driver round commit ("round N:
    // ..."), falling back to the newest committed BENCH_sf1_r*.json
    // for stress-dir runs. NOT HEAD:BENCH_local.json — mid-round bench
    // commits would make each run its own baseline and let drift
    // ratchet in unchallenged (the r10/r11 escape); and at a stress sf
    // the local file's sf never matches, leaving the prior empty.
    // parseRecord discards any candidate whose sf differs from this
    // run's, so the fallbacks compose: first matching record wins.
    def git(args: String*): Option[String] = try {
      // merge stderr into the drained stream: with separate pipes a
      // chatty git fills the stderr buffer and blocks the child while
      // we block on stdout readAllBytes — a hang, not the intended
      // None. parseRecord rejects non-JSON text, so merging is safe.
      val proc = new ProcessBuilder(("git" +: args): _*)
        .directory(new java.io.File(sys.props("user.dir")))
        .redirectErrorStream(true).start()
      val txt = new String(proc.getInputStream.readAllBytes())
      proc.waitFor()
      if (proc.exitValue() == 0) Some(txt) else None
    } catch { case _: Throwable => None }
    val roundCommit: Option[String] =
      git("log", "--format=%H %s").flatMap(_.linesIterator
        .find(_.matches("^[0-9a-f]+ round \\d+:.*"))
        .map(_.split(" ")(0)))
    val sf1Records: Seq[String] =
      git("ls-tree", "--name-only", "HEAD").toSeq
        .flatMap(_.linesIterator)
        .filter(_.matches("BENCH_sf1_r\\d+\\.json"))
        .sortBy(n => -"""\d+""".r.findFirstIn(n.drop(10)).get.toInt)
    val candidates: Seq[String] =
      roundCommit.map(h => s"$h:BENCH_local.json").toSeq ++
        sf1Records.map(n => s"HEAD:$n")
    val committed: Map[String, Double] = candidates.iterator
      .map(ref => git("show", ref).map(parseRecord).getOrElse(Map.empty))
      .find(_.nonEmpty).getOrElse(Map.empty)
    // no fallback to this run's own output file: self-baselining is the
    // exact ratchet the committed-record contract exists to prevent. An
    // empty prior (all deltas unchallenged) is safer and is made LOUD.
    val prior: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_BENCH_PRIOR").map(readFile).filter(_.nonEmpty)
        .getOrElse(committed)
    if (prior.isEmpty) System.err.println(
      "[bench] WARNING: no committed baseline found — every delta in this record is UNCHALLENGED")
    System.err.println(s"[bench] recheck baseline: ${prior.size} queries " +
      s"(env=${sys.env.contains("SPARK_GRAFT_BENCH_PRIOR")}, " +
      s"roundCommit=${roundCommit.map(_.take(8))}, sf1Records=${sf1Records.take(1)})")
    // run-wide calibration: the median of (this run's interleaved min /
    // prior) over every query that HAS a prior. Near 1.0 on an idle box;
    // a contended box shifts the whole distribution, and per-query
    // verdicts must be read against that shift (Governor.verdict). The
    // value is also stamped into the record as `box_delta` so a reader
    // can tell a 119s idle run from a 1200s contended one at a glance.
    val deltas = names.flatMap(n => for {
      p <- prior.get(n); t <- samples.get(n).flatMap(_.minOption)
    } yield t / p).sorted
    val boxDelta = if (deltas.isEmpty) 1.0 else deltas(deltas.size / 2)
    val rechecked = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var rechecksSkipped = 0
    for (name <- names; p <- prior.get(name); t <- samples.get(name).flatMap(_.minOption)
         if t > 1.3 * p && t > 0.1) {
      // governor: a recheck costs ~the query's own time again; if that
      // no longer fits, skip it (counted in the JSON and summarized in
      // ONE stderr line below — per-query spam buried the record line
      // in the driver's stdout tail for three rounds) rather than risk
      // the driver killing the whole process with no record
      if (!Governor.recheckAllowed(elapsed, t, budget)) {
        rechecksSkipped += 1
      } else {
        val t0 = System.nanoTime()
        try {
          exec(SparkEntry.queries(name)(spark, sfDir))
          val r = (System.nanoTime() - t0) / 1e9
          samples(name) = r :: samples(name)
          val verdict = Governor.verdict(p, t, r, boxDelta)
          rechecked(name) =
            f"""{"prior":$p%.4f,"interleaved":$t%.4f,"rerun":$r%.4f,"verdict":"$verdict"}"""
        } catch { case _: Throwable => () } // already recorded in the passes
      }
    }
    if (rechecksSkipped > 0) System.err.println(
      s"[bench] governor: skipped $rechecksSkipped rechecks " +
        s"(elapsed ${elapsed.round}s of ${budget.round}s budget)")
    val results = names.flatMap(n => samples.get(n).flatMap(_.minOption).map(n -> _))
    val qs = results.map { case (k, v) => jsonString(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jsonString(k) + ":" + jsonString(v.take(300)) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val recheckJson = rechecked.map { case (k, v) => jsonString(k) + ":" + v }
      .mkString("{", ",", "}")
    // environment note for the committed record (SPARK_GRAFT_BENCH_NOTE):
    // the workflow stamps two-run minima / box-drift context here so a
    // future reader can tell machine drift from regression without
    // re-deriving it
    val note = sys.env.get("SPARK_GRAFT_BENCH_NOTE")
      .map(n => s""","note":${jsonString(n)}""").getOrElse("")
    // governor provenance: how many timed passes this record carries,
    // whether warmup completed, and how many rechecks were shed —
    // a degraded record must say so itself
    val gov = f""","passes":$passes,"warmup":"$warmup","rechecks_skipped":$rechecksSkipped,"box_delta":$boxDelta%.3f,"budget_sec":${budget.round},"elapsed_sec":${elapsed.round}"""
    // the box the record was taken on: cores the JVM sees, the cores
    // the session ran on (SPARK_GRAFT_CPUS) and the JVM, so records from
    // different machines are not compared as if they were one
    val box = s""","box":{"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""cpus":${Session.cpus},""" +
      s""""jvm":${jsonString(sys.props("java.vm.name") + " " + sys.props("java.vm.version"))}}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"rechecked":$recheckJson$gov$box$note,"sf":"$sfDir"}"""
    println(line)
    // durable copy: the driver's artifact keeps only a stdout tail, so
    // the written file is the complete per-query record of the run
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $out: $e") }
    // tail-sized summary, printed LAST: the driver keeps only the final
    // ~2000 chars of stdout, which the ~20KB full record overflows — so
    // the headline number rides in a <=250-char line the tail always
    // holds, and the full per-query record lives in `out` above.
    val summary = f"""{"metric":"total","value":$total%.2f,"unit":"sec","n":${results.size},"errors":${errors.size},"passes":$passes,"warmup":"$warmup","rechecks":${rechecked.size},"rechecks_skipped":$rechecksSkipped,"box_delta":$boxDelta%.3f,"record":"${new java.io.File(out).getName}","sf":"$sfDir"}"""
    println(summary)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
