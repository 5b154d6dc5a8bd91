#!/usr/bin/env python3
"""The benchmark's own test: every workload at tiny sizes, untraced and traced.

Run from the root of a checkout (takes a few minutes, builds first if needed):

    python3 perfbench/test_smoke.py

It asserts that each run exits 0 with a correct result, that its last
line names every metric of `BENCHMARK.json` exactly once with its unit
(end-to-end metrics untraced, per-layer metrics traced), and that every
correctness check of the workload ran and passed.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# the checks each workload must print; the traced pipeline run adds its catch-up probe's
CHECKS = {
    "pipeline_batch": {
        "stg_mdr_report_key_not_null", "stg_mdr_report_key_unique", "stg_report_number_not_null",
        "stg_event_type_accepted", "stg_narrative_conditional", "fact_event_id_not_null",
        "fact_event_id_unique", "fact_narrative_conditional", "signals_identical_across_ops"},
    "similar_cases": {"recall_at_20_at_least_0.7", "repeated_calls_identical"},
}
TRACED_CHECKS = {"pipeline_batch": {"catch_up_micro_batches", "catch_up_state_equals_batch_fold"}}
REPORTS = {
    "pipeline_batch": {"setup_s", "failed_share", "pipeline_s", "stored_bytes_ratio"},
    "similar_cases": {"setup_s", "failed_share", "search_p50_ms", "search_p95_ms",
                      "search_recall_at_20", "stored_bytes_ratio"},
}


def run(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--smoke", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class Smoke(unittest.TestCase):
    def check_run(self, workload, trace):
        code, lines, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in spec))
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        checks = {l.split()[2]: l.split()[3] for l in lines if l.startswith("# check ")}
        want = CHECKS[workload] | (TRACED_CHECKS.get(workload, set()) if trace else set())
        self.assertEqual(set(checks), want)
        self.assertTrue(all(v == "ok" for v in checks.values()), checks)
        report = [json.loads(l[len("# report "):]) for l in lines if l.startswith("# report ")]
        self.assertEqual(len(report), 1)
        self.assertTrue(REPORTS[workload] <= set(report[0]))
        for name in REPORTS[workload]:
            self.assertIn("unit", report[0][name])
        env = [json.loads(l[len("# env "):]) for l in lines if l.startswith("# env ")]
        for key in ("nproc", "max_heap_bytes", "jvm", "spark", "commit", "seed"):
            self.assertIn(key, env[0])
        return result

    def test_workloads(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(CHECKS))
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    result = self.check_run(w["name"], trace)
                    if trace:
                        # a traced run measures some layer of its own
                        self.assertGreater(result["metrics"]["exec.jobs"]["value"], 0)
                        self.assertGreater(result["metrics"]["catalyst.planning_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
