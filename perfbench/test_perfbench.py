"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The unit tests run in a second.  `RunFailureTest` builds the program and
runs the benchmark twice with a fault injected into one gate (about two
minutes); set PERFBENCH_SKIP_E2E=1 to skip it.
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import oracle  # noqa: E402
import run  # noqa: E402
import layers  # noqa: E402


def query(gate, wall, ok=True, traced=False):
    return {"gate": gate, "pass": 1, "ok": ok, "construct_s": 0.0, "plan_s": 0.0,
            "exec_s": wall, "wall_s": wall, "traced": traced, "err": None}


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = Path(self.tmp.name)
        self.con = duckdb.connect()

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, sql):
        d = self.dir / "res"
        d.mkdir(exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT parquet)")
        return d

    def test_match(self):
        d = self.result("SELECT 1::BIGINT AS k, 0.5::DOUBLE AS v UNION ALL SELECT 2, 1.5")
        why, rows = oracle.compare(self.con, d, "SELECT * FROM (VALUES (2::BIGINT, 1.5::DOUBLE), (1, 0.5)) t(k, v)")
        self.assertIsNone(why)
        self.assertEqual(rows, 2)

    def test_wrong_rows(self):
        d = self.result("SELECT 1::BIGINT AS k")
        why, _ = oracle.compare(self.con, d, "SELECT * FROM (VALUES (1::BIGINT), (2)) t(k)")
        self.assertIn("rows", why)
        why, _ = oracle.compare(self.con, d, "SELECT 3::BIGINT AS k")
        self.assertIn("differs", why)

    def test_type_family_mismatch_fails(self):
        d = self.result("SELECT 10::BIGINT AS s")
        why, _ = oracle.compare(self.con, d, "SELECT 10::DECIMAL(38, 0) AS s")
        self.assertIn("type family", why)
        # width differences inside one family are fine
        why, _ = oracle.compare(self.con, d, "SELECT 10::HUGEINT AS s")
        self.assertIsNone(why)

    def test_throw_and_missing_oracle_fail(self):
        fixture = self.dir / "fx"
        fixture.mkdir()
        for t in oracle.TABLES:
            self.con.execute(f"COPY (SELECT 1 AS x) TO '{fixture}/{t}.parquet' (FORMAT parquet)")
        passes = [query("a", 1.0, ok=False) | {"err": "boom"}, query("b", 1.0)]
        failures, _ = oracle.check(fixture, self.dir, ["a", "b"], {"a": "SELECT 1"}, passes)
        self.assertEqual(set(failures), {"a", "b"})


class MetricsTest(unittest.TestCase):
    def res(self, timed):
        """Two gates per pass, in order."""
        timed = [dict(q, **{"pass": i // 2}) for i, q in enumerate(timed)]
        passes = [{"pass": p, "wall_s": sum(q["wall_s"] for q in timed if q["pass"] == p),
                   "cpu_s": 1.0} for p in range(len(timed) // 2)]
        return {"timed": timed, "timed_passes": passes, "setup_s": 1.0, "heap_mb": 10.0}

    def test_failed_gate_never_helps(self):
        timed = [query("fast", 0.1), query("slow", 1.0)] * 10
        clean, attempted, failed = run.end_to_end(self.res(timed), set())
        self.assertEqual((attempted, failed), (20, 0))
        # a wrong result: same timings, but its queries are failures
        bad, attempted, failed = run.end_to_end(self.res(timed), {"fast"})
        self.assertEqual((attempted, failed), (20, 10))
        self.assertLess(bad["queries_per_s"][0], clean["queries_per_s"][0])
        self.assertTrue(math.isinf(bad["latency_p90_s"][0]))
        # a throw that returns early does not shorten the reported latency
        thrown = [query("fast", 0.1), query("slow", 0.01, ok=False)] * 10
        m, _, failed = run.end_to_end(self.res(thrown), set())
        self.assertEqual(failed, 10)
        self.assertTrue(math.isinf(m["latency_p90_s"][0]))

    def test_one_disturbed_pass_does_not_move_medians(self):
        timed = [query("a", 0.1), query("b", 0.3)] * 5
        calm = run.end_to_end(self.res(timed), set())[0]
        timed[4], timed[5] = query("a", 1.0), query("b", 3.0)  # pass 2 slowed tenfold
        noisy = run.end_to_end(self.res(timed), set())[0]
        for k in ("queries_per_s", "latency_p50_s", "latency_p90_s"):
            self.assertAlmostEqual(noisy[k][0], calm[k][0])

    def test_percentile_interpolates(self):
        vals = list(range(1, 101))
        self.assertAlmostEqual(run.percentile(vals, 0.5), 50.5)
        self.assertAlmostEqual(run.percentile(vals, 0.9), 90.1)
        # the median of two gates' runs of equal ranks lies between them
        self.assertAlmostEqual(run.percentile([1.0] * 4 + [2.0] * 4, 0.5), 1.5)
        self.assertEqual(run.percentile([3.0], 0.9), 3.0)

    def test_self_time_excludes_children(self):
        self.assertAlmostEqual(layers.covered([(0, 2), (1, 3), (5, 6)], 0, 5), 3.0)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_E2E"), "PERFBENCH_SKIP_E2E set")
class RunFailureTest(unittest.TestCase):
    """A gate that throws, or returns wrong rows once the program is warm,
    fails the run."""

    def run_bench(self, inject):
        spec = json.loads((HERE / "workloads.json").read_text())
        workload = "exec_heavy"
        gate = spec["workloads"][workload]["gates"][0]
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject", f"{inject}:{gate}"],
            cwd=HERE.parent, stdout=subprocess.PIPE, text=True, timeout=900)
        return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout

    def test_throw(self):
        code, res, out = self.run_bench("throw")
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("failed_frac", out)

    def test_wrong_rows(self):
        code, res, out = self.run_bench("wrong")
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("rows != oracle", out)


if __name__ == "__main__":
    unittest.main()
