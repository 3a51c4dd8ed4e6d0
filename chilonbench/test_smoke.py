"""The benchmark's own test: every workload end to end at smoke size.

Run from the repository root:

    python3 -m unittest chilonbench/test_smoke.py

One JVM runs the three workloads on tiny inputs, traced (each traced job is
paired with an untraced one, so both paths and every output check run), then
one untraced smoke run checks the end-to-end result line. A harness that
cannot build or run fails here, before any timed run.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-4000:]}")
    return [json.loads(l) for l in p.stdout.splitlines() if l.startswith('{"correct"')]


def units(key):
    return {m["name"]: m["unit"] for m in SPEC[key]}


class SmokeTest(unittest.TestCase):

    def check(self, result, key):
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, units(key))

    def test_traced_all_workloads(self):
        results = run("all", 1)
        names = [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(results), len(names))
        by_name = dict(zip(["rdf_nt_infer", "ttl_declared", "pages_kg"], results))
        self.assertEqual(set(by_name), set(names))
        for name, r in by_name.items():
            with self.subTest(workload=name):
                self.check(r, "per_layer")
        v = {n: {k: m["value"] for k, m in r["metrics"].items()} for n, r in by_name.items()}
        # inference needs two rounds on rdf_nt_infer and adds nothing on ttl_declared
        self.assertGreaterEqual(v["rdf_nt_infer"]["ns.rounds"], 2)
        self.assertEqual(v["ttl_declared"]["ns.added_ns"], 0)
        self.assertGreater(v["ttl_declared"]["rdf.prefix_decls"], 0)
        # extract is idle on the RDF workloads, rdf on pages_kg
        for name in ("rdf_nt_infer", "ttl_declared"):
            self.assertEqual(v[name]["extract.s"], 0)
            self.assertGreater(v[name]["rdf.s"], 0)
        self.assertEqual(v["pages_kg"]["rdf.s"], 0)
        self.assertGreater(v["pages_kg"]["extract.s"], 0)
        self.assertGreater(v["pages_kg"]["pipeline.snapshot_mb"], 0)
        self.assertGreater(v["pages_kg"]["pipeline.core_scaling"], 0)

    def test_untraced_result_line(self):
        (r,) = run("ttl_declared", 0)
        self.check(r, "end_to_end")
        for k, m in r["metrics"].items():
            self.assertGreater(m["value"], 0, k)


if __name__ == "__main__":
    unittest.main()
