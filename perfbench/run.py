#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over graft's queries.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload surface_sf0.1 --seed 1 --seconds 10 --trace 0

It builds graft and the harness with sbt (once; later runs reuse the
build while the sources are unchanged), runs `perfbench.Harness` in one
JVM over the workload's fixed input under `perfbench/data`, checks every
query's output against `perfbench/expected.json`, prints a stamped record
line and, last, one JSON line with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics (from a separate traced pass) with `--trace 1`.

`--record-expected` regenerates `expected.json` for every workload and
cross-checks it once against the DuckDB oracles with `tools/check.py`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import stats  # noqa: E402

SETUPS = 3
DRIVER_MEM = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail_setup(msg):
    log(msg)
    sys.exit(2)


def child(cmd, timeout, **kw):
    """Run a command in its own process group; return (exit code, stdout,
    stderr). On timeout or interruption the whole group is killed and
    waited for, so no JVM outlives the benchmark. Exit code -1 means it
    timed out."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
        return p.returncode, out, err
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        if isinstance(e, subprocess.TimeoutExpired):
            return -1, out, err + f"\n[perfbench] timed out after {timeout} s"
        raise


def sources():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base, exts in [(os.path.join(ROOT, "project"), (".properties", ".sbt", ".scala")),
                       (os.path.join(ROOT, "src", "main"), None),
                       (os.path.join(HERE, "harness"), (".properties", ".sbt", ".scala"))]:
        for d, dirs, names in os.walk(base):
            # skip build output and sbt's meta-meta-build directories
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if exts is None or n.endswith(exts)]
    return files


def build():
    """Compile graft and the harness; return (classpath, build seconds)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read(), 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log("building graft and the harness with sbt")
    code, out, err = child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "--no-server",
         "harness/compile", "export harness/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=os.path.join(HERE, "harness"), env=env)
    lines = [x for x in out.splitlines() if x.strip() and not x.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail_setup(f"build failed (exit {code})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, time.time() - t0


def table_stamp(data_dir):
    """Rows and parquet row groups of each input table."""
    import pyarrow.parquet as pq
    out = {}
    for t in TABLES:
        md = pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata
        out[t] = {"rows": md.num_rows, "row_groups": md.num_row_groups}
    return out


def passes(w, seconds):
    """Timed passes for a run of `seconds`: a fixed count per workload
    (`passes_per_10s`), not a time limit, so every commit does the same
    work in its timed region."""
    return max(1, round(w["passes_per_10s"] * seconds / 10))


def nproc():
    return len(os.sched_getaffinity(0))


def git_head():
    """HEAD of the checkout when it is its own git repository."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown (git not found)"
    lines = p.stdout.split()
    if p.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "unknown (not a git checkout)"
    return lines[1]


def harness(cp, args, timeout):
    """Run the harness JVM; return its exit code and stderr tail."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap keeps the peak resident set from depending on when
    # the collector decides to grow the heap
    cmd = ["java", f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--local-dir", os.path.join(WORK, "spark-local")]
    cmd += args
    t0 = time.time()
    code, _, err = child(cmd, timeout, cwd=WORK)
    log(f"harness exited with {code} after {time.time() - t0:.1f} s")
    return code, err[-4000:]


def compare(checks, expected):
    """Names of queries whose output fingerprint does not match."""
    bad = []
    for q, got in sorted(checks.items()):
        exp = expected.get(q)
        if exp is None or any(got.get(k) != exp[k] for k in ("rows", "hash", "schema")):
            bad.append(q)
    return bad


def e2e_metrics(raw, attempted, failed):
    ok = [s["ms"] for s in raw["samples"] if s["ok"]]
    tail, pct, beyond = stats.tail(ok) if ok else (float("nan"), 0.0, 0)
    return {
        "setup_s": {"value": statistics.median(raw["session_start_s"]) + raw["warmup_s"],
                    "unit": "s"},
        "queries_per_min": {"value": len(ok) / (raw["timed_s"] / 60.0), "unit": "1/min"},
        "query_p50_ms": {"value": statistics.median(ok) if ok else float("nan"), "unit": "ms"},
        "query_tail_ms": {"value": tail, "unit": "ms", "percentile": pct,
                          "samples": len(ok), "samples_beyond": beyond},
        "cpu_s_per_query": {"value": raw["cpu_s"] / raw["attempted"], "unit": "s"},
        "rss_peak_mb": {"value": raw["rss_peak_mb"], "unit": "MB"},
        "fail_frac": {"value": failed / attempted, "unit": "frac"},
    }


def layer_metrics(raw, spans, cores):
    q = raw["trace"]["queries"]

    def tot(k):
        return sum(x[k] for x in q)
    table = stats.layer_table(spans)

    def self_ms(*names):
        return sum(table.get(n, {}).get("self_ms", 0.0) for n in names)
    wall = tot("wall_ms")
    last = max(s["pass"] for s in raw["samples"])
    before = sum(s["ms"] for s in raw["samples"] if s["pass"] == last) / 1000.0
    untraced = (before + raw["trace"]["after_pass_s"]) / 2
    exec_ms, stages = tot("exec_ms"), tot("exec_stages")
    m = {
        "tables.schema_jobs": (tot("tables_jobs"), "count"),
        "tables.schema_ms": (tot("tables_ms"), "ms"),
        "queries.build_ms": (tot("build_ms"), "ms"),
        "queries.build_self_ms": (self_ms("build"), "ms"),
        "queries.eager_jobs": (tot("eager_jobs"), "count"),
        "queries.eager_job_ms": (tot("eager_job_ms"), "ms"),
        "plans.analysis_ms": (tot("analysis_ms"), "ms"),
        "plans.optimization_ms": (tot("optimization_ms"), "ms"),
        "plans.planning_ms": (tot("planning_ms"), "ms"),
        "plans.exchanges": (tot("exchanges"), "count"),
        "plans.reused_exchanges": (tot("reused_exchanges"), "count"),
        "exec.ms": (exec_ms, "ms"),
        "exec.jobs": (tot("exec_jobs"), "count"),
        "exec.stages": (stages, "count"),
        "exec.tasks": (tot("exec_tasks"), "count"),
        "exec.tasks_per_stage": (tot("exec_tasks") / stages if stages else 0.0, "count"),
        "exec.idle_ms": (exec_ms - tot("exec_busy_ms"), "ms"),
        "exec.core_util": (tot("exec_run_ms") / (exec_ms * cores) if exec_ms else 0.0, "frac"),
        "exec.task_failures": (tot("task_failures"), "count"),
        "scan.input_records": (tot("input_records"), "count"),
        "scan.input_bytes": (tot("input_bytes"), "bytes"),
        "scan.tasks": (tot("scan_tasks"), "count"),
        "kernel.run_ms": (tot("run_ms"), "ms"),
        "kernel.cpu_ms": (tot("cpu_ms"), "ms"),
        "kernel.gc_ms": (tot("gc_ms"), "ms"),
        "kernel.peak_mem_mb": (max(x["peak_mem_bytes"] for x in q) / 1048576.0, "MB"),
        "shuffle.write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (tot("shuffle_read_bytes"), "bytes"),
        "shuffle.records": (tot("shuffle_records"), "count"),
        "shuffle.fetch_wait_ms": (tot("fetch_wait_ms"), "ms"),
        "shuffle.spill_disk_bytes": (tot("spill_disk_bytes"), "bytes"),
        "shuffle.spill_mem_bytes": (tot("spill_mem_bytes"), "bytes"),
        "trace.overhead_frac": (raw["trace"]["pass_s"] / untraced - 1.0, "frac"),
        "share.tables": (self_ms("tables_job", "tables_tasks") / wall, "frac"),
        "share.build": (self_ms("build") / wall, "frac"),
        "share.eager": (self_ms("eager_job", "eager_tasks") / wall, "frac"),
        "share.plans": (self_ms("plans_analysis", "plans_optimization",
                                "plans_planning") / wall, "frac"),
        "share.scheduler": (self_ms("query", "exec", "exec_job") / wall, "frac"),
        "share.kernel": (self_ms("exec_tasks") / wall, "frac"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, table


def print_table(workload, table):
    wall = sum(r["self_ms"] for r in table.values())
    print(f"[perfbench] {workload}: per-layer self time of the traced pass "
          f"(query wall {wall:.0f} ms)")
    print(f"  {'span':<20}{'count':>7}{'total_ms':>12}{'self_ms':>12}{'share':>8}")
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
        print(f"  {name:<20}{r['count']:>7}{r['total_ms']:>12.1f}"
              f"{r['self_ms']:>12.1f}{r['share']:>8.3f}")


def run(args):
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        fail_setup(f"unknown workload {args.workload}")
    w = spec["workloads"][args.workload]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[args.workload]
    os.makedirs(WORK, exist_ok=True)
    cp, build_s = build()
    data = os.path.join(HERE, w["data"])
    cores = nproc()
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    raw_path = os.path.join(WORK, f"raw-{tag}.json")
    spans_path = os.path.join(WORK, f"spans-{tag}.jsonl")
    for p in (raw_path, spans_path):
        if os.path.exists(p):
            os.remove(p)
    code, err = harness(cp, [
        "--queries", ",".join(w["queries"]), "--data", data,
        "--cores", str(cores), "--seed", str(args.seed),
        "--passes", str(passes(w, args.seconds)),
        "--setups", str(SETUPS), "--trace", str(args.trace),
        "--spans", spans_path, "--out", raw_path], RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(raw_path):
        sys.stderr.write(err)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    with open(raw_path) as fh:
        raw = json.load(fh)
    mismatches = compare(raw["checks"], expected)
    for q in mismatches:
        log(f"output mismatch: {q}: got {raw['checks'][q]}, expected {expected.get(q)}")
    # a query counts once per timed execution and once for its check
    attempted = raw["attempted"] + len(raw["checks"])
    failed = raw["failed"] + len(mismatches)
    e2e = e2e_metrics(raw, attempted, failed)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "loop": spec["loop"],
        "box": {"nproc": cores, "cores_used": raw["env"]["cores"],
                "jvm": raw["env"]["jvm"], "driver_memory": DRIVER_MEM,
                "driver_max_heap_mb": raw["env"]["driver_max_heap_mb"],
                "spark": raw["env"]["spark"], "git_head": git_head()},
        "inputs": {"data": w["data"], "tables": table_stamp(data)},
        "queries": len(w["queries"]), "passes": raw["passes"],
        "build_s": build_s, "session_start_s": raw["session_start_s"],
        "warmup_s": raw["warmup_s"],
        "metrics": e2e, "mismatches": mismatches,
    }
    if args.trace:
        with open(spans_path) as fh:
            spans = [json.loads(x) for x in fh if x.strip()]
        layers, table = layer_metrics(raw, spans, cores)
        record["per_layer"] = layers
        print_table(args.workload, table)
        metrics = layers
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()
                   if k != "fail_frac"}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"record": record}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def record_expected():
    """Fingerprint every workload query and cross-check the outputs that
    have a DuckDB oracle with tools/check.py; rewrite expected.json."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    os.makedirs(WORK, exist_ok=True)
    cp, _ = build()
    result = {}
    for name, w in spec["workloads"].items():
        data = os.path.join(HERE, w["data"])
        out_dir = os.path.join(WORK, "expected", name)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        fps_path = os.path.join(out_dir, "fingerprints.json")
        code, err = harness(cp, ["--mode", "record", "--queries", ",".join(w["queries"]),
                                 "--data", data, "--cores", str(nproc()),
                                 "--record-dir", out_dir, "--out", fps_path], 3600)
        if code != 0:
            sys.stderr.write(err)
            fail_setup(f"record failed for {name}")
        with open(fps_path) as fh:
            fps = json.load(fh)
        code, out, _ = child([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                              data, out_dir], 3600)
        verdict = {}
        for line in out.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("OK", "FAIL", "ROWS"):
                verdict[parts[1].rstrip(":")] = parts[0]
        log(f"{name}: oracle check exit {code}\n{out}")
        if code != 0:
            fail_setup(f"{name}: outputs fail the DuckDB oracle check")
        result[name] = {q: dict(fps[q], oracle="duckdb" if verdict.get(q) == "OK" else "none")
                        for q in w["queries"]}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def interrupted(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def main():
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail_setup(f"no graft sources next to {HERE}: run from a graft checkout")
    if args.record_expected:
        return record_expected()
    if not args.workload:
        fail_setup("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
