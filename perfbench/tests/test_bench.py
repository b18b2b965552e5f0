"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They drive perfbench/run.py end to end with tiny inputs (--small), so the
first test in a fresh checkout also pays for the build.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
RUN = os.path.join(ROOT, "perfbench", "run.py")
PIPELINES = ["cube_aligned", "recipe_netcdf", "recipe_kerchunk"]

sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import census  # noqa: E402


def bench(*args):
    proc = subprocess.run([sys.executable, RUN, *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} failed:\n{proc.stderr[-3000:]}")
    return proc.stdout.strip().splitlines()[-1]


def result(workload, trace, *extra):
    return json.loads(bench("--workload", workload, "--seed", "3", "--seconds", "1",
                            "--trace", trace, "--small", *extra))


class InputsTest(unittest.TestCase):
    def fingerprint(self, workload, seed, tmp):
        out = os.path.join(tmp, f"{workload}-{seed}-{len(os.listdir(tmp))}")
        return bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                     "--small", "--generate", out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
            for w in PIPELINES:
                a = self.fingerprint(w, 7, tmp)
                self.assertEqual(a, self.fingerprint(w, 7, tmp), w)
                self.assertNotEqual(a, self.fingerprint(w, 8, tmp), w)


class VerifierTest(unittest.TestCase):
    def test_flipped_output_byte_fails_the_run(self):
        for w in PIPELINES:
            r = result(w, "0", "--corrupt")
            self.assertFalse(r["correct"], w)
            self.assertGreater(r["failed"], 0, w)
            self.assertEqual(r["failed"], r["attempted"], w)

    def test_clean_run_is_correct(self):
        r = result("recipe_netcdf", "0")
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)


class MetricsTest(unittest.TestCase):
    def test_every_declared_metric_is_printed_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for wl in spec["workloads"]:
            for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
                r = result(wl["name"], trace)
                self.assertTrue(r["correct"], (wl["name"], trace))
                self.assertGreaterEqual(r["attempted"], 1)
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {n: m["unit"] for n, m in r["metrics"].items()}
                self.assertEqual(want, got, (wl["name"], trace))
                for n, m in r["metrics"].items():
                    self.assertIsInstance(m["value"], (int, float), n)


class QuerySurfaceTest(unittest.TestCase):
    def test_query_list_is_the_census_pick(self):
        with open(os.path.join(ROOT, "perfbench", "census", "sf0.001.json")) as fh:
            rows = json.load(fh)["queries"]
        with open(os.path.join(ROOT, "perfbench", "src", "perfbench", "Main.scala")) as fh:
            listed = re.search(r"val Queries = Seq\(([^)]*)\)", fh.read()).group(1)
        self.assertEqual([q["query"] for q in census.surface(rows)],
                         re.findall(r'"([^"]+)"', listed))


if __name__ == "__main__":
    unittest.main()
