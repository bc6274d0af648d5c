"""The benchmark's own tests. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The JVM tests build the library the way run.py does (cached) and run
short traced passes in their own work directories.
"""
import json
import os
import shutil
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracles  # noqa: E402
import run      # noqa: E402


def traced_run(name: str, workload: str, seed: int, gates: list) -> dict:
    """Cold pass plus three warm passes, each in a new session; passes
    1 (cold), 2 and 4 are traced."""
    wdir = os.path.join(run.WORK, "tests", name)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    spec = run.make_spec(workload, seed, 0.0, True, wdir)
    spec["gates"] = gates
    spec["min_warm_passes"] = 3
    path = os.path.join(wdir, "spec.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    run.run_jvm(run.build(), path, wdir, 170)
    with open(spec["out"]) as f:
        return json.load(f)


def op_spans(record: dict, name: str) -> dict:
    """pass number -> the op span of `name` in that pass."""
    return {s["pass"]: s for s in record["spans"]
            if s["kind"] == "op" and s["name"] == name}


class TimedPathTest(unittest.TestCase):

    def test_timed_path_runs_the_plan_count_would_prune(self):
        # count() lets Catalyst drop every column, aggregate and outer
        # join a row count does not need: q119's optimized plan shrinks
        # from 28 nodes to 8. The benchmark collects the full result, so
        # the plan it times must be the full one.
        record = traced_run("q119", "llm_pipeline", 7, ["q119_domain_mix"])
        cold = op_spans(record, "q119_domain_mix")[1]
        self.assertGreaterEqual(cold["logical_nodes"], 2 * cold["count_logical_nodes"],
                                cold)
        self.assertGreater(cold["exec_jobs"], 0)
        self.assertTrue(all(o["ok"] for p in record["passes"] for o in p["ops"]))


class SessionBuildsTest(unittest.TestCase):

    def test_new_session_pays_the_per_session_builds_again(self):
        # FrameMemo.invalidate alone leaves TextQueries.bpeMemo warm; a
        # pass in a fresh newSession() must retrain BPE, so q167's build
        # in the later traced warm pass (4) runs the same jobs as in the
        # first (2) and takes at least half the time. A memo hit would
        # take ~1% of it. The cold pass is left out: JIT dominates it.
        record = traced_run("q167", "llm_pipeline", 7, ["q167_bpe_train"])
        spans = op_spans(record, "q167_bpe_train")
        builds = {s["parent"]: s["end"] - s["start"]
                  for s in record["spans"] if s["kind"] == "build"}
        first, later = builds[spans[2]["id"]], builds[spans[4]["id"]]
        self.assertGreater(spans[2]["build_jobs"], 0)
        self.assertEqual(spans[4]["build_jobs"], spans[2]["build_jobs"])
        self.assertGreaterEqual(later, 0.5 * first, (first, later))


class OracleTest(unittest.TestCase):

    def test_exact_regime_needs_the_upper_median(self):
        vals = np.arange(10, dtype=float)
        self.assertEqual(oracles._check_group("g", vals, 10, "5"), [])
        self.assertNotEqual(oracles._check_group("g", vals, 10, "4"), [])

    def test_sampling_regime_bounds_the_rank_error(self):
        vals = np.arange(1_000_000, dtype=float)
        bound = oracles.RANK_C * len(vals) / 100   # k = 10000
        inside = "%g" % (500_000 + bound * 0.9)
        outside = "%g" % (500_000 + bound * 1.1)
        self.assertEqual(oracles._check_group("g", vals, 10_000, inside), [])
        self.assertNotEqual(oracles._check_group("g", vals, 10_000, outside), [])


class BenchmarkJsonTest(unittest.TestCase):

    def test_metric_lists_match_what_run_py_reports(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.per_layer_names())
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(run.inputs.GENERATORS))


if __name__ == "__main__":
    unittest.main()
