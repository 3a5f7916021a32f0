"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests          # generators, helpers
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests   # + a smoke run per workload

The smoke runs build the engine on first use and then take about a minute
per workload (a fresh JVM each).
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import trace_summary  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate_all(out, seed):
    gen.fixture(out, seed, 0.001, span_days=60)
    gen.dml_ops(out, seed, 0.001, 2, 60)
    gen.dbt_windows(out, 2)
    gen.stream_batches(out, seed, 0.001, 3, 100)
    gen.query_order(out, {f"q{i}": "queries" for i in range(8)}, 3)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            generate_all(a, 7)
            generate_all(b, 7)
            generate_all(c, 8)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            for name in os.listdir(a):
                if name not in ("region.parquet", "nation.parquet", "queries.json"):  # fixed
                    with open(os.path.join(a, name), "rb") as fa, \
                            open(os.path.join(c, name), "rb") as fc:
                        self.assertNotEqual(fa.read(), fc.read(), name)

    def test_dml_keys_unique_and_ops_in_fixed_order(self):
        import duckdb
        with tempfile.TemporaryDirectory() as t:
            gen.fixture(t, 3, 0.001, ["lineitem"], 60)
            ops = gen.dml_ops(t, 3, 0.001, 2, 60)
            self.assertEqual([o["kind"] for o in ops], gen.DML_KINDS * 2)
            tables = [os.path.join(t, o["src"]) for o in ops if "src" in o]
            for path in tables + [os.path.join(t, "lineitem.parquet")]:
                dup = duckdb.sql(
                    f"SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM '{path}' "
                    f"GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
                self.assertEqual(dup, 0, path)

    def test_dbt_windows_are_disjoint_and_back_to_back(self):
        import datetime as dt
        with tempfile.TemporaryDirectory() as t:
            gen.fixture(t, 5, 0.001, ["lineitem"], 60)
            spec = gen.dbt_windows(t, 3)
            ws = [spec["setup"]] + [w["backfill"] for w in spec["passes"]]
            for a, b in zip(ws, ws[1:]):
                self.assertEqual(dt.date.fromisoformat(a["last"]) + dt.timedelta(days=1),
                                 dt.date.fromisoformat(b["first"]))
            self.assertTrue(all(w["rows"] > 0 for w in ws))
            # the check covers the set-up window and the backfills that ran
            executed = {(0, "backfill"), (2, "backfill")}
            self.assertEqual(check.dbt_days(t, executed),
                             [(w["first"], w["last"]) for w in (ws[0], ws[1], ws[3])])
            self.assertEqual(check.dbt_days(t, executed, last_pass=1),
                             [(w["first"], w["last"]) for w in (ws[0], ws[1])])

    def test_stream_batches_advance_in_event_time(self):
        import duckdb
        with tempfile.TemporaryDirectory() as t:
            gen.stream_batches(t, 1, 0.001, 3, 50)
            spans = [duckdb.sql(f"SELECT min(ts), max(ts) FROM '{t}/batch_{k:05d}.parquet'")
                     .fetchone() for k in range(3)]
            for (_, hi), (lo, _) in zip(spans, spans[1:]):
                self.assertLess(hi, lo)


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(stats.percentile([5], 0.9), 5)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 0.9), 90.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertAlmostEqual(stats.gmean([1, 4, 16]), 4.0)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(100)))[0], 0.9)
        self.assertEqual(stats.tail(list(range(1000)))[0], 0.99)
        self.assertEqual(stats.tail(list(range(40)))[0], 0.75)
        q, v, beyond = stats.tail(list(range(9)))  # too few: the median
        self.assertEqual((q, v, beyond), (0.5, 4, 4))

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertGreater(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class ManifestTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        import run
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.UNITS)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


def span(i, parent, op, name, start, end):
    return {"id": i, "parent": parent, "op": op, "name": name, "start": start, "end": end}


class TraceSummaryTest(unittest.TestCase):
    def test_self_times_nest(self):
        spans = [span(1, 0, 0, "op.merge", 0, 100),
                 span(2, 1, 0, "core.merge_into", 10, 90),
                 span(3, 2, 0, "spark.job", 20, 50),
                 span(4, 2, 0, "spark.job", 60, 70)]
        self_ns, ops = trace_summary.self_times(spans)
        self.assertEqual(self_ns[1], 20)
        self.assertEqual(self_ns[2], 40)
        self.assertEqual(self_ns[3] + self_ns[4], 40)
        s = trace_summary.summarize(spans)
        self.assertTrue(s["coverage_ok"])
        self.assertAlmostEqual(sum(s["layer_self_s"].values()), 100e-9)
        self.assertEqual(s["jobs_under"]["core.merge_into"], 2)

    def test_parallel_children_share_time(self):
        spans = [span(1, 0, 5, "op.x", 0, 100),
                 span(2, 1, 5, "spark.job", 0, 100),
                 span(3, 1, 5, "spark.job", 50, 100)]
        self_ns, ops = trace_summary.self_times(spans)
        self.assertEqual(self_ns[2], 75)
        self.assertEqual(self_ns[3], 25)
        self.assertEqual(self_ns[1], 0)
        self.assertEqual(ops[5]["attributed"], 100)

    def test_child_outside_its_op_fails_coverage(self):
        ms = 1_000_000
        spans = [span(1, 0, 0, "op.x", 0, 100 * ms),
                 span(2, 1, 0, "spark.job", 50 * ms, 110 * ms)]
        s = trace_summary.summarize(spans)
        self.assertFalse(s["coverage_ok"])
        self.assertAlmostEqual(s["coverage_worst"], 0.1)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1 to run")
class SmokeTest(unittest.TestCase):
    def run_workload(self, name, trace):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
                            "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke"],
                           cwd=os.path.dirname(BENCH), capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        return res["metrics"]

    def test_every_workload(self):
        import run
        for name in run.WORKLOADS:
            self.assertEqual(set(self.run_workload(name, 0)), set(run.UNITS))
        metrics = self.run_workload("dml_mix", 1)
        self.assertEqual(set(metrics), {k for k, _ in run.PER_LAYER})
        self.assertGreater(metrics["core.merge_into_s"]["value"], 0)
        self.assertGreater(metrics["streaming.batch_s"]["value"], 0)
        self.assertGreater(metrics["backfill.tasks"]["value"], 0)
        self.assertGreater(metrics["materialize.incremental_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
