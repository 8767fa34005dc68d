"""Tests of the benchmark's own checking and accounting, without a JVM.

Run: python3 -m unittest perfbench/test_run.py
"""
import contextlib
import copy
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

with open(run.EXPECTED) as fh:
    COMMITTED = json.load(fh)


def fake_record(workload="compute_bound", passes=3):
    """An untraced record whose every output matches the committed
    fingerprints."""
    queries = run.WORKLOADS[workload][1]
    rec = {"spawn_ms": 1000.0, "ready_ms": 14000, "session_s": 13.0,
           "spark_version": "4.1.2", "jdk": "17", "passes": [],
           "queries": []}
    for p in range(passes):
        rec["passes"].append({"pass": p, "traced": False,
                              "wall_s": 10.0 if p == 0 else 5.0 + p})
        for q in queries:
            rec["queries"].append({"pass": p, "query": q, "traced": False,
                                   "error": None, **COMMITTED[q]})
    return rec


class CheckOutputs(unittest.TestCase):
    def run_main(self, expected, rec):
        with tempfile.TemporaryDirectory() as tmp:
            exp_path = os.path.join(tmp, "expected.json")
            with open(exp_path, "w") as fh:
                json.dump(expected, fh)
            out = io.StringIO()
            with mock.patch.object(run, "EXPECTED", exp_path), \
                    mock.patch.object(run, "RUN_DIR", tmp), \
                    mock.patch.object(run, "sf_dir", lambda: tmp), \
                    mock.patch.object(run, "build", lambda: ("", [])), \
                    mock.patch.object(run, "run_jvm",
                                      lambda *a: copy.deepcopy(rec)), \
                    contextlib.redirect_stdout(out):
                code = run.main(["--workload", "compute_bound"])
        return code, json.loads(out.getvalue().splitlines()[-1])

    def test_committed_fingerprints_pass(self):
        code, result = self.run_main(COMMITTED, fake_record())
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]),
                         (3 * len(run.WORKLOADS["compute_bound"][1]), 0))
        self.assertEqual(result["metrics"]["setup_s"]["value"], 13.0)
        self.assertEqual(result["metrics"]["warm_pass_s"]["value"], 6.5)

    def test_corrupted_expected_fingerprint_is_caught(self):
        bad = copy.deepcopy(COMMITTED)
        bad["t26_bm25_topk"]["hash"] = str(int(bad["t26_bm25_topk"]["hash"])
                                           + 1)
        code, result = self.run_main(bad, fake_record())
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 3)

    def test_error_and_missing_fingerprint_fail(self):
        rec = fake_record(passes=2)
        n = len(rec["queries"])
        rec["queries"][0]["error"] = "java.lang.RuntimeException: boom"
        self.assertEqual(run.check_outputs(rec, COMMITTED), (n, 1))
        self.assertEqual(run.check_outputs(fake_record(passes=2), {}), (n, n))

    def test_rows_only_query_ignores_hash(self):
        rec = fake_record("reference_pipeline", passes=1)
        for q in rec["queries"]:
            if q["query"] in run.ROWS_ONLY:
                q["hash"] = "0"
        self.assertEqual(run.check_outputs(rec, COMMITTED)[1], 0)
        rec["queries"][0]["rows"] += 1
        self.assertEqual(run.check_outputs(rec, COMMITTED)[1], 1)


class LayerAccounting(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertAlmostEqual(
            run.union_s([(0, 1000), (500, 1500), (3000, 9000)], 100, 4000),
            2.4)

    def test_jobs_and_stages_attach_to_the_span_that_ran_them(self):
        spans = [
            {"id": 0, "parent": -1, "name": "session", "dur_s": 20.0},
            {"id": 1, "parent": 0, "name": "query", "dur_s": 10.0,
             "start_ms": 0, "end_ms": 10000},
            {"id": 2, "parent": 1, "name": "build", "dur_s": 6.0},
            {"id": 3, "parent": 1, "name": "plan", "dur_s": 0.5},
            {"id": 4, "parent": 1, "name": "execute", "dur_s": 3.0},
            {"id": 5, "parent": 1, "name": "release", "dur_s": 0.25},
        ]
        stage = dict(tasks=4, tasks_failed=0, run_ms=4000, cpu_ns=3e9,
                     gc_ms=100, shuffle_read_b=0, shuffle_write_b=1048576,
                     spill_b=0, input_b=0)
        rec = {
            "spans": spans,
            "jobs": [{"span": "2"}, {"span": "2"}, {"span": "4"}],
            "stages": [dict(stage, span="2", submit_ms=1000, complete_ms=3000),
                       dict(stage, span="4", submit_ms=7000, complete_ms=9000)],
            "queries": [{"traced": True, "span": 1, "pass": 1,
                         "build_s": 6.0, "plan_s": 0.5, "total_s": 10.0,
                         "release_s": 0.25, "fixture_builds": 0,
                         "released_rdds": 2, "persisted_rdds": 3,
                         "storage_peak_mb": 1.5, "files_written": 0,
                         "file_bytes_written": 0}],
        }
        run.layer_metrics(rec)
        layers = rec["queries"][0]["layers"]
        self.assertEqual(layers["SparkEntry.build_jobs"], 2)
        self.assertEqual(layers["scheduler.jobs"], 3)
        self.assertAlmostEqual(layers["SparkEntry.build_busy_s"], 2.0)
        self.assertAlmostEqual(layers["scheduler.stage_busy_s"], 4.0)
        self.assertAlmostEqual(layers["scheduler.idle_s"], 6.0)
        self.assertAlmostEqual(layers["exchange.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(spans[1]["self_s"], 0.25)
        totals = run.pass_layers(rec, 1, cores=4)
        self.assertAlmostEqual(totals["operators.cpu_util"], 6.0 / 16.0)


if __name__ == "__main__":
    unittest.main()
