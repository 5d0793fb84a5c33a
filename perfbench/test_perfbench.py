#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each JVM-backed test runs a short workload (a few seconds of window plus
set-up), so the whole file takes several minutes.
"""
import filecmp
import json
import os
import random
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SCRATCH = os.path.join(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"),
                       "tests")


def launch(workload, *extra, seconds=3, trace=1, cwd=ROOT):
    r = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return r


def result(r):
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


class Inputs(unittest.TestCase):
    def test_same_seed_gives_same_inputs(self):
        dirs = [os.path.join(SCRATCH, f"inputs{k}") for k in range(3)]
        for d, seed in zip(dirs, (3, 3, 4)):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            bench.ingest_inputs(d, random.Random(f"ingest/{seed}"), n_events=50)
            bench.query_inputs(d, random.Random(f"queries-short/{seed}"))
        for name in ("prefill.ndjson", "events.tsv", "order.txt"):
            self.assertTrue(filecmp.cmp(os.path.join(dirs[0], name),
                                        os.path.join(dirs[1], name), shallow=False))
        self.assertFalse(filecmp.cmp(os.path.join(dirs[0], "events.tsv"),
                                     os.path.join(dirs[2], "events.tsv"), shallow=False))


class Checks(unittest.TestCase):
    def test_injected_wrong_result_raises_fail_frac(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                out = result(launch(w["name"], "--inject-fault"))
                self.assertFalse(out["correct"])
                self.assertGreater(out["failed"], 0)
                self.assertGreater(out["metrics"]["fail_frac"]["value"], 0)

    def test_every_metric_present_per_workload(self):
        common = ["exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.task_s",
                  "exec.task_cpu_s", "exec.slot_util", "exec.task_skew",
                  "exec.driver_gap_s", "jvm.jit_s", "jvm.setup_jit_s",
                  "trace.throughput_ops_s", "trace.coverage"]
        positive = {
            "ingest": ["land.s", "ingest.run_s", "ingest.raw_write_s",
                       "ingest.daily_write_s", "ingest.log_write_s",
                       "ingest.stream_overhead_s", "ingest.files_written",
                       "ingest.write_amp", "daily.bootstrap_s",
                       "daily.partitions_written", "visible.s", "retention.s",
                       "retention.dirs_dropped", "self.fetch_s", "self.clean_s",
                       "self.land.write_s", "self.visible_s", "self.retention_s"],
            "queries-short": ["queries.construct_s", "queries.construct_jobs",
                              "catalyst.analysis_s", "catalyst.optimizer_s",
                              "catalyst.planning_s", "self.construct_s",
                              "self.execute_s", "exec.shuffle_write_mb",
                              "exec.shuffle_read_mb"]}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                # ingest: long enough for the third timed event, a day rollover
                traced = result(launch(w["name"], seconds=7))
                self.assertTrue(traced["correct"])
                self.assertEqual(traced["metrics"]["fail_frac"]["value"], 0)
                self.assertEqual(sorted(traced["metrics"]),
                                 sorted(m["name"] for m in SPEC["per_layer"]))
                for m in SPEC["per_layer"]:
                    v = traced["metrics"][m["name"]]
                    self.assertEqual(v["unit"], m["unit"])
                    self.assertGreaterEqual(v["value"], 0, m["name"])
                for n in common + positive[w["name"]]:
                    self.assertGreater(traced["metrics"][n]["value"], 0, n)
                self.assertLessEqual(traced["metrics"]["trace.coverage"]["value"], 1)
                plain = result(launch(w["name"], trace=0))
                self.assertEqual(sorted(plain["metrics"]),
                                 sorted(m["name"] for m in SPEC["end_to_end"]))
                for m in SPEC["end_to_end"]:
                    self.assertGreater(plain["metrics"][m["name"]]["value"], 0)

    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = launch(SPEC["workloads"][0]["name"], cwd=bare, trace=0)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
