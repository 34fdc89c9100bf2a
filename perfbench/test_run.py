#!/usr/bin/env python3
"""Self-test of the benchmark, run from the repository root:

    python3 perfbench/test_run.py

At tiny sizes every workload prints every metric named in BENCHMARK.json
with its unit (end-to-end with --trace 0, per-layer with --trace 1), and
the output checks reject a pass output with one byte flipped.
"""

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
spec = importlib.util.spec_from_file_location(
    "perfbench_run", os.path.join(HERE, "run.py"))
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)

TINY = {
    "prohap_cohort": ["samples=6", "transcripts=20", "vpt=4"],
    "provar_bcf": ["samples=2", "transcripts=40", "vpt=4"],
    "corpus_neardup": ["docs=200"],
}


def bench(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    for s in TINY[workload]:
        cmd += ["--size", s]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


class Metrics(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def check(self, workload, trace):
        res, err = bench(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        for m in want:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            # the stderr summary carries each metric's sample count
            for m in want:
                self.assertRegex(err, r"perfbench: %s +median .* n=\d+"
                                 % m["name"])
            self.assertIn("error_rate 0.0000 ratio", err)
        return res

    def test_prohap_cohort(self):
        self.check("prohap_cohort", 0)
        m = self.check("prohap_cohort", 1)["metrics"]
        self.assertGreater(m["queries.haplotypes.stages"]["value"], 0)
        self.assertEqual(m["operators.dedup_pairs.stages"]["value"], 0)

    def test_provar_bcf(self):
        self.check("provar_bcf", 0)
        m = self.check("provar_bcf", 1)["metrics"]
        self.assertEqual(m["queries.haplotypes.stages"]["value"], 0)
        self.assertEqual(m["operators.dedup_clusters.stages"]["value"], 0)

    def test_corpus_neardup(self):
        self.check("corpus_neardup", 0)
        m = self.check("corpus_neardup", 1)["metrics"]
        self.assertEqual(m["queries.haplotypes.stages"]["value"], 0)
        self.assertGreater(m["operators.dedup_pairs.stages"]["value"], 0)


class Checks(unittest.TestCase):

    def test_flipped_fasta_byte_fails_the_checks(self):
        res, _ = bench("prohap_cohort", 0)
        self.assertTrue(res["correct"])
        work = os.path.join(ROOT, ".bench_build", "perfbench")
        out = os.path.join(work, "out", "prohap_cohort")
        inp = max((os.path.join(work, "inputs", d) for d in
                   os.listdir(os.path.join(work, "inputs"))
                   if d.startswith("prohap_cohort-7-")),
                  key=os.path.getmtime)
        good, problems = run.check_outputs("prohap_cohort", out, inp)
        self.assertEqual(problems, [])
        with tempfile.TemporaryDirectory(dir=work) as tmp:
            bad = os.path.join(tmp, "out")
            shutil.copytree(out, bad)
            part = sorted(f for f in os.listdir(
                os.path.join(bad, "haplo.fasta")) if f.startswith("part-")
                and os.path.getsize(os.path.join(bad, "haplo.fasta", f)))[0]
            path = os.path.join(bad, "haplo.fasta", part)
            with open(path, "rb") as fh:
                data = bytearray(fh.read())
            # first byte of the first sequence line
            i = data.index(b"\n") + 1
            data[i] = ord("#") if data[i] != ord("#") else ord("A")
            with open(path, "wb") as fh:
                fh.write(bytes(data))
            flipped, problems = run.check_outputs("prohap_cohort", bad, inp)
            self.assertNotEqual(flipped, good)
            self.assertTrue(problems, "a non-amino-acid byte must fail (d)")


if __name__ == "__main__":
    unittest.main(verbosity=2)
