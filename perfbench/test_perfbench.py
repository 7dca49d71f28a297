"""Self-test of the benchmark on the smallest data directory.

    python3 -m unittest perfbench/test_perfbench.py     # from the repository root

Runs every workload for one pass at sf0.001, untraced and traced, and
checks that each metric BENCHMARK.json names is printed with its unit and
that every output matched the oracle. Then it corrupts one expected
fingerprint and checks that the run reports that query as failed.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
ENV = dict(os.environ, PERFBENCH_SF="sf0.001")


def bench(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, env=ENV, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-3000:]}")
    return p.stdout, json.loads(p.stdout.strip().splitlines()[-1])


class PerfbenchTest(unittest.TestCase):

    def check(self, result, metrics):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in metrics}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(bench(w["name"], 0)[1], SPEC["end_to_end"])
                self.check(bench(w["name"], 1)[1], SPEC["per_layer"])

    def test_corrupted_expected_hash_is_a_failure(self):
        bench("point", 0)  # makes sure the expected values are cached
        build = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
        originals = {}
        for path in glob.glob(os.path.join(build, "expected-*-point-*.json")):
            with open(path) as f:
                originals[path] = f.read()
        try:
            for path, text in originals.items():
                exp = json.loads(text)
                exp["q_key_range"] = "0:00000000:0:0"
                with open(path, "w") as f:
                    json.dump(exp, f)
            out, result = bench("point", 0)
        finally:
            for path, text in originals.items():
                with open(path, "w") as f:
                    f.write(text)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("q_key_range", out)


if __name__ == "__main__":
    unittest.main()
