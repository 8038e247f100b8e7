"""Tests of the benchmark itself:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The last test builds the JVM side (once;
later runs reuse the build) and runs its self-test of the model checks.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

NAME_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-")
UNIT_CHARS = NAME_CHARS | set("/%")


def raw_result():
    """A raw result shaped like every workload's."""
    samples = {k: [float(i) for i in range(1, 41)] for k in
               ("event_latency_ms", "batch_ms", "fold_batch_ms", "update_ms", "pass_s")}
    samples.update({f: [1.0, 2.0, 3.0] for f in metrics.TRACED_TIMINGS + metrics.TRACED_MEDIANS})
    scalars = {"setup.session_s": 1.0, "setup.fixtures_s": 2.0, "setup.warmup_s": 3.0,
               "rows": 100.0, "measure_s": 10.0, "heap_end_mb": 120.0, "heap_after_setup_mb": 100.0}
    return {"samples": samples, "scalars": scalars, "checks": [], "attempted": 1}


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.spec = metrics.spec()

    def test_names_and_units_are_well_formed(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertTrue(m["name"][0].isalnum() and set(m["name"]) <= NAME_CHARS, m)
            self.assertLessEqual(len(m["name"]), 64)
            self.assertTrue(m["unit"] and set(m["unit"]) <= UNIT_CHARS, m)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in self.spec["end_to_end"])}])

    def test_end_to_end_metrics_match_the_spec(self):
        got = metrics.end_to_end(raw_result())
        self.assertEqual(sorted(got), sorted(m["name"] for m in self.spec["end_to_end"]))
        self.assertEqual(got["setup_s"], 6.0)
        self.assertEqual(got["points_per_s"], 10.0)

    def test_per_layer_metrics_match_the_spec(self):
        names = [m["name"] for m in self.spec["per_layer"]]
        spans = [{"id": 0, "parent": -1, "layer": "gngops", "name": "assign", "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 1, "parent": 0, "layer": "spark", "name": "job-1", "start_ms": 2.0, "end_ms": 6.0},
                 {"id": 2, "parent": 0, "layer": "spark", "name": "job-2", "start_ms": 5.0, "end_ms": 12.0}]
        got = metrics.per_layer(raw_result(), spans, names)
        self.assertEqual(list(got), names)
        self.assertEqual(got["gngops.self_ms"], 2.0)  # 10 ms minus the [2, 10) the jobs cover
        self.assertEqual(got["gngmodel.heap_growth_mb"], 20.0)
        for fam in metrics.TRACED_TIMINGS:
            self.assertIn(fam + "_p50", got)
            self.assertIn(fam + "_tail", got)


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(100, 0, -1))
        v, p, n = metrics.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_tail_is_never_below_the_median(self):
        self.assertEqual(metrics.tail(range(1, 16)), (8, 50.0, 15))
        self.assertEqual(metrics.tail([5.0] * 3), (5.0, 50.0, 3))
        v, p, _ = metrics.tail(range(1, 31))
        self.assertEqual((v, p), (20, 200 / 3))


class OracleRule(unittest.TestCase):
    """The fold check fails when the Spark output is corrupted."""

    def check(self, rows):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(f"{d}/q")
            con = duckdb.connect()
            con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 0.5, 'a'), (2, 1.25, 'b')) v(k, x, s)")
            con.execute(f"COPY (SELECT * FROM (VALUES {rows}) v(k, x, s)) TO '{d}/q/part-0.parquet'")
            return metrics.oracle_check(con, d, "q", "SELECT s, x, k FROM t ORDER BY k")

    def test_clean_output_passes(self):
        self.assertIsNone(self.check("(1, 0.5, 'a'), (2, 1.25, 'b')"))

    def test_corrupted_value_fails(self):
        self.assertEqual(self.check("(1, 0.5, 'a'), (2, 1.2500001, 'b')"), "value hash differs from oracle")

    def test_missing_row_fails(self):
        self.assertIn("row count", self.check("(1, 0.5, 'a')"))


class JvmChecks(unittest.TestCase):
    """Replay, invariant, stats and exactly-once checks on corrupted inputs."""

    def test_selftest(self):
        import run
        root = os.path.dirname(HERE)
        build_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
        cp = run.build(root, build_root, run.spark_jars())
        r = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--selftest"],
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr + r.stdout)
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
