#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py        (about five minutes)
    PERFBENCH_QUICK=1 python3 perfbench/test_perfbench.py

The slow tests start the benchmark JVM at the tiny size (2 000 pages).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
QUICK = os.environ.get("PERFBENCH_QUICK") == "1"

sys.path.insert(0, HERE)
import compare  # noqa: E402
import run as runner  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


@unittest.skipIf(QUICK, "starts the benchmark JVM")
class TinyRuns(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-", dir=os.path.join(ROOT, ".bench_build"))
        self.records = os.path.join(self.tmp, "records.jsonl")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def check_line(self, p, metrics):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"], p.stderr[-3000:])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(line["metrics"][m["name"]]["value"], float)
        return line

    def test_checks_reject_corrupted_answers(self):
        p = run("--selftest")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertIn("SELFTEST OK", p.stdout)

    def test_each_workload_untraced_and_traced(self):
        for w in [w["name"] for w in spec()["workloads"]]:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    p = run("--workload", w, "--seed", "3", "--seconds", "2",
                            "--trace", str(trace), "--size", "tiny",
                            "--records", self.records)
                    wanted = spec()["per_layer" if trace else "end_to_end"]
                    line = self.check_line(p, wanted)
                    if trace:
                        self.assertGreaterEqual(
                            line["metrics"]["trace.coverage"]["value"], 0.9)
        with open(self.records) as f:
            recs = [json.loads(l) for l in f]
        self.assertEqual(len(recs), 2 * len(spec()["workloads"]))
        for r in recs:
            for k in ("git_sha", "seed", "workload", "n", "m", "sources",
                      "nproc", "heap", "loadavg_before", "loadavg_after"):
                self.assertIn(k, r)
        # per-run scratch is removed
        self.assertEqual(os.listdir(os.path.join(ROOT, ".bench_build", "perfbench", "runs")), [])

    def test_same_seed_same_inputs(self):
        for _ in range(2):
            run("--workload", "ppr_stream", "--seed", "5", "--seconds", "1",
                "--size", "tiny", "--records", self.records)
        with open(self.records) as f:
            a, b = [json.loads(l) for l in f]
        self.assertEqual((a["n"], a["m"], a["sources"][:1]), (b["n"], b["m"], b["sources"][:1]))


class Refusal(unittest.TestCase):
    def test_directory_without_engine_sources(self):
        d = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=lambda dir_, names: [
                n for n in names if n in ("target", "__pycache__", ".bsp")
                or (n == "project" and os.path.basename(dir_) == "project")])
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ppr_stream",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


class BuildStamp(unittest.TestCase):
    def test_changed_sources_get_the_build_limit(self):
        saved = runner.STATE
        runner.STATE = tempfile.mkdtemp(prefix="perfbench-state-",
                                        dir=os.path.join(ROOT, ".bench_build"))
        try:
            self.assertFalse(runner.is_built("aaa"))
            for name, text in (("classpath", "-cp\nx\n"), ("build.stamp", "aaa")):
                with open(os.path.join(runner.STATE, name), "w") as f:
                    f.write(text)
            self.assertTrue(runner.is_built("aaa"))
            self.assertFalse(runner.is_built("bbb"))
            self.assertEqual(runner.run_limit(True), runner.BUILD_LIMIT_S)
            self.assertEqual(runner.run_limit(False), runner.RUN_LIMIT_S)
        finally:
            shutil.rmtree(runner.STATE, ignore_errors=True)
            runner.STATE = saved


class Compare(unittest.TestCase):
    def records(self, sha, values, trace=0):
        return [{"git_sha": sha, "src_digest": sha, "workload": "ppr_stream", "seed": s,
                 "trace": trace, "host_busy_cores_before": 0.1,
                 "result": {"correct": True, "failed": 0},
                 "metrics": {"sspr_latency_p50_s": v}, "spans": {}, "latencies": [v] * 20}
                for s, v in enumerate(values)]

    def test_verdicts(self):
        base = {i: 1.0 + 0.001 * i for i in range(10)}
        faster = {i: 0.8 + 0.001 * i for i in range(10)}
        same = {i: 1.0 + 0.001 * ((i + 3) % 10) for i in range(10)}
        noisy = {i: 0.8 + 0.2 * (i % 3) for i in range(10)}
        self.assertEqual(compare.verdict(base, faster, "lower", 0.1)[0], "better")
        self.assertEqual(compare.verdict(faster, base, "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(base, faster, "higher", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(base, same, "lower", 0.1)[0], "no change")
        self.assertEqual(compare.verdict(base, noisy, "lower", 0.1)[0], "unresolved")
        # 40 % slower in 8 of 10 pairs: a regression past the bound
        slower = {i: (1.4 if i < 8 else 0.9) for i in range(10)}
        self.assertEqual(compare.verdict(base, slower, "lower", 0.25)[0], "worse")
        # every head run beats every base run, though the base is noisy
        wide = {i: 1.0 + 0.1 * i for i in range(10)}
        low = {i: 0.5 + 0.01 * i for i in range(10)}
        self.assertEqual(compare.verdict(wide, low, "lower", 0.1)[0], "better")
        self.assertEqual(compare.verdict(low, wide, "lower", 0.1)[0], "worse")

    def test_load_filters_by_commit_and_discards(self):
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            recs = self.records("aaa", [1.0] * 3) + self.records("bbb", [0.5] * 3)
            recs[0]["host_busy_cores_before"] = 3.0
            recs[1]["result"]["correct"] = False
            for r in recs:
                f.write(json.dumps(r) + "\n")
        try:
            kept, dropped = compare.load(f.name + "@aaa")
            self.assertEqual((len(kept), len(dropped)), (1, 2))
            kept, _ = compare.load(f.name + "@bbb")
            self.assertEqual(len(kept), 3)
        finally:
            os.unlink(f.name)


if __name__ == "__main__":
    unittest.main(verbosity=2)
