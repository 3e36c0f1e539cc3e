"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

Each test starts real benchmark runs (about a minute each; the first
one also builds). `test_two_sets_agree` makes 2 x PERFBENCH_SET_RUNS
runs (default 3) and is skipped unless PERFBENCH_SET_RUNS is set.
"""

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYERS = ["queries.caches", "sources.load", "preprocess", "queries.match", "operators.fuzzy",
          "queries.mutation", "sources.report", "sources.writeback"]


def run(workload, seed, trace=0, seconds=None, extra=(), cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds if seconds is not None else BENCH["run_seconds"]),
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    record = HERE / "work" / "records" / f"{workload}-seed{seed}-trace{trace}.json"
    return p, result, (json.loads(record.read_text()) if result else None)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        sys.path.insert(0, str(HERE))
        import gen
        out = HERE / "work" / "test-gen"
        digests = []
        for attempt in range(2):
            shutil.rmtree(out, ignore_errors=True)
            gen.generate("sync_match", 7, out, ROOT / "fixtures" / "vitya_config.json")
            digests.append({f.name: hashlib.sha256(f.read_bytes()).hexdigest()
                            for f in sorted(out.iterdir())})
        shutil.rmtree(out, ignore_errors=True)
        self.assertEqual(digests[0], digests[1])


class RunTest(unittest.TestCase):
    def test_injected_failure_is_counted_not_timed(self):
        p, result, record = run("sync_writeback", 3, seconds=1, extra=("--inject-fail", "0"))
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertEqual(result["failed"], 1)
        self.assertGreaterEqual(result["attempted"], 2)
        # the failed op left no timing behind: only completed ops are samples
        self.assertEqual(len(record["ops"]), result["attempted"] - result["failed"])
        # the figures come from a fixed number of ops, the first completed ones
        measured = [o for o in record["ops"] if o["measured"]]
        self.assertEqual(len(measured), 2)
        self.assertEqual(measured, record["ops"][:2])
        self.assertAlmostEqual(result["metrics"]["op_s_p50"]["value"],
                               statistics.median(o["wall_s"] for o in measured), places=9)

    def test_traced_run_emits_every_layer(self):
        p, result, record = run("sync_match", 4, trace=1)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(result["correct"])
        declared = [m["name"] for m in BENCH["per_layer"]]
        self.assertEqual(list(result["metrics"]), declared)
        for layer in LAYERS:
            self.assertIn(f"{layer}.wall_s", record["per_layer"])
            self.assertTrue(any(s["name"] == layer for s in record["spans"]), layer)
        for name in ("trace.overhead_s", "op.self_s"):
            self.assertIn(name, result["metrics"])
        # every layer span hangs off an op span of the same op
        ops = {s["id"]: s for s in record["spans"] if s["name"] == "op"}
        for s in record["spans"]:
            if s["name"] != "op":
                self.assertEqual(ops[s["parent"]]["op"], s["op"])

    def test_refuses_to_run_without_the_engine(self):
        bare = HERE / "work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=lambda d, names: [n for n in names if n in ("work", "target", "__pycache__")
                                                 or (n == "project" and d.endswith("project"))])
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sync_match",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


@unittest.skipUnless(os.environ.get("PERFBENCH_SET_RUNS"), "set PERFBENCH_SET_RUNS to run")
class AgreementTest(unittest.TestCase):
    def test_two_sets_agree(self):
        n = int(os.environ["PERFBENCH_SET_RUNS"])
        for w in BENCH["workloads"]:
            sets = []
            for first_seed in (100, 200):
                values = {}
                for seed in range(first_seed, first_seed + n):
                    p, result, _ = run(w["name"], seed)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    for k, v in result["metrics"].items():
                        values.setdefault(k, []).append(v["value"])
                sets.append({k: statistics.median(v) for k, v in values.items()})
            # the same code must agree both ways: neither set may be off
            # from the other by more than the metric's bound
            for m in BENCH["end_to_end"]:
                a, b = sets[0][m["name"]], sets[1][m["name"]]
                self.assertLessEqual(abs(b - a) / a, m["bound"], f"{w['name']} {m['name']}: {a} -> {b}")


if __name__ == "__main__":
    unittest.main()
