"""Two traced runs of one query must count the same work.

Builds graft and the harness (or reuses the build) and runs the harness
twice; takes about a minute. Run from the repository root:
python3 -m unittest perfbench.tests.test_trace_repeat
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

QUERY = "q_join_agg"
EXACT = ["tables_jobs", "eager_jobs", "exec_jobs", "exec_stages", "exec_tasks",
         "scan_tasks", "input_records", "exchanges", "reused_exchanges"]


class TraceRepeatTest(unittest.TestCase):
    def traced(self, cp, n):
        out = os.path.join(run.WORK, f"test-trace-{n}.json")
        spans = os.path.join(run.WORK, f"test-trace-{n}.jsonl")
        code, err = run.harness(cp, [
            "--queries", QUERY, "--data", os.path.join(run.HERE, "data", "sf0.1"),
            "--cores", str(run.nproc()), "--seed", str(n), "--passes", "1",
            "--setups", "1", "--trace", "1", "--spans", spans, "--out", out], 600)
        self.assertEqual(code, 0, err)
        with open(out) as fh:
            raw = json.load(fh)
        with open(spans) as fh:
            names = {json.loads(x)["name"] for x in fh if x.strip()}
        (q,) = raw["trace"]["queries"]
        return q, names

    def test_counts_repeat_exactly(self):
        os.makedirs(run.WORK, exist_ok=True)
        cp, _ = run.build()
        a, names_a = self.traced(cp, 1)
        b, names_b = self.traced(cp, 2)
        for k in EXACT:
            self.assertEqual(a[k], b[k], k)
        self.assertGreater(a["input_records"], 0)
        self.assertGreater(a["exec_tasks"], 0)
        self.assertEqual(names_a, names_b)
        self.assertTrue({"query", "build", "exec", "tables_job", "exec_job",
                         "exec_tasks"} <= names_a, names_a)


if __name__ == "__main__":
    unittest.main()
