"""The benchmark's own tests: tiny-size smoke runs of every workload, a
negative run whose corrupted expectation must fail the command, what the
seed decides, and the refusal to run without the engine sources.

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run as bench  # noqa: E402

# headline names each workload prints as "metric <name> = <value> <unit>"
NAMED = {
    "sync_tick": ["setup_s", "tick_p50_s", "tick_tail_s", "sync_rows_per_s"],
    "accept_ingest": ["setup_s", "accept_docs_per_s", "accept_batch_p50_s",
                      "accept_batch_tail_s", "accept_near_docs_per_s", "accept_drain_s"],
    "query_mix": ["setup_s", "mix_pass_s", "mix_geomean_s", "query_tail_s"],
}
COMMON = ["error_rate", "peak_rss_mb"]

_cache = {}


def run_bench(workload, seed=1, trace=0, env=None, cwd=ROOT):
    key = (workload, seed, trace, tuple(sorted((env or {}).items())), cwd)
    if key not in _cache:
        p = subprocess.run(
            [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
            cwd=cwd, capture_output=True, text=True, timeout=600,
            env=dict(os.environ, **(env or {})))
        lines = p.stdout.strip().splitlines()
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        _cache[key] = (p.returncode, lines, result, p.stderr)
    return _cache[key]


def inputs_of(lines):
    return [l.split()[1] for l in lines if l.startswith("inputs ")][0]


class Smoke(unittest.TestCase):

    def check_run(self, workload, trace):
        rc, lines, res, err = run_bench(workload, trace=trace)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertIsNotNone(res, "last stdout line is not JSON")
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        wanted = bench.PER_LAYER if trace else [(n, u) for n, u, _, _ in bench.END_TO_END]
        self.assertEqual(set(res["metrics"]), {n for n, _ in wanted})
        for name, unit in wanted:
            m = res["metrics"][name]
            self.assertEqual(m["unit"], unit, name)
            self.assertIsInstance(m["value"], (int, float), name)
        if not trace:
            for name, _ in wanted:
                self.assertGreater(res["metrics"][name]["value"], 0, name)
        printed = [l.split() for l in lines if l.startswith("metric ")]
        for name in NAMED[workload] + COMMON:
            hits = [p for p in printed if p[1].split("(")[0] == name]
            self.assertTrue(hits, "metric %s not printed" % name)
            self.assertEqual(len(hits[0]), 5, "metric %s printed without a unit" % name)
        return res

    def test_sync_tick(self):
        self.check_run("sync_tick", 0)

    def test_sync_tick_traced(self):
        res = self.check_run("sync_tick", 1)
        self.assertGreater(res["metrics"]["operators.jobs"]["value"], 0)
        self.assertGreater(res["metrics"]["sources.bytes_written"]["value"], 0)
        self.assertGreater(res["metrics"]["trace_overhead_ratio"]["value"], 0)

    def test_accept_ingest(self):
        self.check_run("accept_ingest", 0)

    def test_accept_ingest_traced(self):
        res = self.check_run("accept_ingest", 1)
        self.assertGreater(res["metrics"]["streaming.jobs.near"]["value"], 0)
        self.assertEqual(res["metrics"]["dedup.near_planted_recall"]["value"], 1.0)

    def test_query_mix(self):
        self.check_run("query_mix", 0)

    def test_query_mix_traced(self):
        res = self.check_run("query_mix", 1)
        self.assertGreater(res["metrics"]["dedup.mix_jobs"]["value"], 0)
        self.assertGreater(res["metrics"]["sources.artifact_build_s"]["value"], 0)


class Negative(unittest.TestCase):

    def test_corrupted_expectation_fails_the_command(self):
        for workload in ("sync_tick", "accept_ingest"):
            rc, lines, res, err = run_bench(workload,
                                            env={"PERFBENCH_CORRUPT_EXPECTATION": "1"})
            self.assertNotEqual(rc, 0, workload)
            self.assertIsNotNone(res, workload)
            self.assertFalse(res["correct"], workload)
            self.assertTrue(any(l.startswith("check FAIL") for l in lines), workload)


class Seeds(unittest.TestCase):

    def test_seed_changes_inputs_not_metric_names(self):
        _, l1, r1, _ = run_bench("sync_tick", seed=1)
        _, l1b, _, _ = run_bench("sync_tick", seed=1,
                                 env={"PERFBENCH_CORRUPT_EXPECTATION": "1"})
        _, l2, r2, _ = run_bench("sync_tick", seed=2)
        self.assertEqual(inputs_of(l1), inputs_of(l1b), "same seed, different inputs")
        self.assertNotEqual(inputs_of(l1), inputs_of(l2), "the seed did not change the inputs")
        self.assertEqual(set(r1["metrics"]), set(r2["metrics"]))


class Checkout(unittest.TestCase):

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_work", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sync_tick",
                                "--seed", "1", "--seconds", "2", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip())
        finally:
            shutil.rmtree(bare, ignore_errors=True)

    def test_benchmark_json_is_current(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.assertEqual(json.load(fh), bench.benchmark_json())


if __name__ == "__main__":
    unittest.main()
