#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all tests (runs each workload twice, ~3 min)
    PERFBENCH_QUICK=1 python3 perfbench/selftest.py   # skip the JVM runs

- the same seed yields byte-identical generated inputs (and another seed
  different ones);
- the span arithmetic: interval unions, and the nesting check catches a
  job outside its phase;
- end to end, for every workload: an untraced and a traced run print every
  metric BENCHMARK.json names, with its unit, as a finite number, the run
  is correct, and the traced spans nest (build, plan and exec add up to no
  more than the op's wall time; every job lies inside its op's phase).
"""
import filecmp
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SIZE = {"sf": 0.001, "docs": 300, "dup_share": 0.2, "vecs": 200}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.write_dir(a, 5, SIZE)
        gen.write_dir(b, 5, SIZE)
        gen.write_dir(c, 6, SIZE)
        names = [f"{t}.parquet" for t in gen.TABLES]
        self.assertEqual(sorted(os.listdir(a)), sorted(names))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        self.assertIn("lineitem.parquet", differ)
        self.assertIn("documents.parquet", differ)

    def test_planted_near_duplicates(self):
        docs = gen.documents(5, 2000, 0.1).column("text").to_pylist()
        originals = set()
        near = 0
        for t in docs:
            words = t.split(" ")
            if any(len(o) == len(words) and sum(x != y for x, y in zip(o, words)) <= 3
                   for o in originals):
                near += 1
            originals.add(tuple(words))
        self.assertTrue(0.07 < near / len(docs) < 0.13, near)


class SpanTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 12), (20, 25)]), 17)
        self.assertEqual(metrics.union_ms([]), 0)

    def records(self, job_start, job_end, phase):
        op = {"kind": "op", "span": "timed:1:q", "traced": True, "t0_ms": 1000.0,
              "build_ms": 10.0, "plan_ms": 5.0, "exec_ms": 80.0, "wall_ms": 96.0}
        return [op,
                {"kind": "job_start", "span": op["span"], "job": 1, "t_ms": job_start,
                 "phase": phase, "stage_ids": [1]},
                {"kind": "job_end", "span": op["span"], "job": 1, "t_ms": job_end, "ok": True}]

    def test_nested_job_passes(self):
        self.assertEqual(metrics.span_check(self.records(1020, 1090, "exec")), [])

    def test_job_outside_its_phase_fails(self):
        self.assertTrue(metrics.span_check(self.records(1001, 1009 + 30, "build")))


@unittest.skipIf(os.environ.get("PERFBENCH_QUICK"), "PERFBENCH_QUICK set")
class EndToEndTest(unittest.TestCase):
    def run_once(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace)],
            stdout=subprocess.PIPE, text=True, timeout=200)
        self.assertEqual(out.returncode, 0)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_every_metric_with_unit(self):
        spec = run.benchmark_spec()
        for workload in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    res = self.run_once(workload, trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertEqual(set(res["metrics"]), {m["name"] for m in spec[key]})
                    for m in spec[key]:
                        got = res["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"])
                        self.assertTrue(math.isfinite(got["value"]), m["name"])
                    if trace:
                        recs = metrics.load(os.path.join(
                            run.WORK, f"last-{workload}-trace1.records.jsonl"))
                        self.assertEqual(metrics.span_check(recs), [])
                        traced = [r for r in recs if r["kind"] == "op" and r["traced"]]
                        self.assertTrue(traced)
                        for r in traced:
                            parts = r["build_ms"] + r["plan_ms"] + r["exec_ms"]
                            self.assertGreaterEqual(r["wall_ms"] - parts, 0.0)


if __name__ == "__main__":
    unittest.main()
