"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The JVM tests build the program first (perfbench/build.py) and run at a
tiny input scale; together they take a few minutes.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402
import run      # noqa: E402

TINY = 0.02


def scratch():
    os.makedirs(build.build_dir(), exist_ok=True)
    return tempfile.mkdtemp(dir=build.build_dir(), prefix="test-")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_same_seed_same_digest(self):
        a = gen.generate(5, os.path.join(self.dir, "a"), TINY)
        b = gen.generate(5, os.path.join(self.dir, "b"), TINY)
        c = gen.generate(6, os.path.join(self.dir, "c"), TINY)
        self.assertEqual(a, dict(b))
        self.assertNotEqual(a["digest"], c["digest"])

    def test_manifest_profiles_every_feature(self):
        m = gen.generate(5, self.dir, TINY)
        for name, t in m["tables"].items():
            self.assertEqual(sorted(t["features"]), sorted(gen.FEATURES))
            files = os.listdir(os.path.join(self.dir, name))
            self.assertEqual(len(files), t["files"])
            mid = t["features"]["mid_1"]
            self.assertGreater(mid["missing_share"], 0.0)
            self.assertEqual(t["features"]["amt_1"]["missing_share"], 0.0)
            self.assertLessEqual(t["features"]["low_1"]["distinct"], 20)


class SpanArithmeticTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, op=1, name="x"):
        return {"id": i, "parent": parent, "op": op, "name": name,
                "start_s": start, "end_s": end, "counters": {}}

    def test_self_time_subtracts_covered_union(self):
        spans = [self.span(1, 0, 0.0, 10.0, name="op"),
                 self.span(2, 1, 1.0, 3.0), self.span(3, 1, 2.0, 4.0),
                 self.span(4, 1, 5.0, 6.0), self.span(5, 4, 5.0, 5.5)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 3.0 - 1.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertAlmostEqual(st[5], 0.5)

    def test_self_times_and_uncovered_sum_to_op_wall(self):
        spans = [self.span(1, 0, 0.0, 4.0, name="op"),
                 self.span(2, 1, 0.5, 1.5, name="a"),
                 self.span(3, 1, 2.0, 3.75, name="b"),
                 self.span(4, 3, 2.5, 3.0, name="c")]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 4.0)
        per = metrics.per_op(spans)[1]
        self.assertAlmostEqual(per["op"][0], 1.25)
        self.assertAlmostEqual(per["b"][0], 1.25)

    def test_counters_sum_per_name(self):
        spans = [self.span(1, 0, 0, 2, name="op"), self.span(2, 1, 0, 1, name="a"),
                 self.span(3, 1, 1, 2, name="a")]
        spans[1]["counters"] = {"jobs": 1.0}
        spans[2]["counters"] = {"jobs": 2.0, "tasks": 4.0}
        self.assertEqual(metrics.per_op(spans)[1]["a"][1], {"jobs": 3.0, "tasks": 4.0})


class BenchmarkFileTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_names_valid_and_unique(self):
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for x in self.b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)

    def test_metrics_match_what_the_runner_prints(self):
        e2e = {m["name"]: m["unit"] for m in self.b["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.b["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)
        self.assertEqual({w["name"] for w in self.b["workloads"]} - set(run.WORKLOADS), set())

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in self.b["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class JvmTest(unittest.TestCase):
    """Runs the compiled benchmark at a tiny scale."""

    @classmethod
    def setUpClass(cls):
        cls.classpath = build.ensure_built()

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace),
             "--scale", str(TINY)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_checksum_ignores_partitioning(self):
        d = scratch()
        try:
            data, work = os.path.join(d, "data"), os.path.join(d, "work")
            gen.generate(4, data, TINY)
            os.makedirs(os.path.join(d, "tmp"))
            cmd = run.jvm_command(self.classpath, os.path.join(d, "tmp"),
                                  ["selftest", data, work])
            out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                 text=True, timeout=300)
            self.assertIn("selftest ok", out.stdout, out.stdout[-3000:])
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_smoke_every_workload(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    r = self.run_bench(w, trace)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    names = set(r["metrics"])
                    want = metrics.PER_LAYER if trace else metrics.END_TO_END
                    self.assertLessEqual(set(want), names)
                    if w == "stream_refit":
                        extra = metrics.STREAM_LAYER if trace else metrics.STREAM_END_TO_END
                        self.assertLessEqual(set(extra), names)
                    if trace and w == "fit_wide":
                        self.assertGreater(r["metrics"]["WoeBinning.collect_rows"]["value"], 0)
                        self.assertGreater(r["metrics"]["spark.jobs"]["value"], 0)
                    if trace and w == "score_batch":
                        self.assertEqual(r["metrics"]["WoeBinningModel.vars_applied"]["value"],
                                         len(gen.FEATURES))


if __name__ == "__main__":
    unittest.main()
