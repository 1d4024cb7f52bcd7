"""Tests for the benchmark's own arithmetic and its failure path.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import statistics
import sys
import tempfile
import unittest
from pathlib import Path
from unittest import mock

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import benchlib  # noqa: E402
import gen_inputs  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(benchlib.tail_percentile(list(range(19))), (None, None))
        self.assertEqual(benchlib.tail_percentile(list(range(20)))[0], 50)
        self.assertEqual(benchlib.tail_percentile(list(range(39)))[0], 50)
        self.assertEqual(benchlib.tail_percentile(list(range(40)))[0], 75)
        self.assertEqual(benchlib.tail_percentile(list(range(99)))[0], 75)
        self.assertEqual(benchlib.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(benchlib.tail_percentile(list(range(1000)))[0], 99)

    def test_value_and_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(benchlib.percentile(xs, 90), (90.0, 10))
        self.assertEqual(benchlib.tail_percentile(list(reversed(xs))), (90, 90.0))


class MedianAndQuartiles(unittest.TestCase):
    def test_against_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(benchlib.median(xs), 5.5)
        self.assertEqual(benchlib.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = benchlib.quartiles(xs)
        self.assertAlmostEqual(benchlib.relative_spread(xs), (q3 - q1) / q2)

    def test_known_quartiles(self):
        self.assertEqual(benchlib.quartiles([1, 2, 3, 4, 5, 6, 7]), (2, 4, 6))


class SelfTime(unittest.TestCase):
    def span(self, name, parent, start, end, sid="q#1"):
        return {"id": sid, "name": name, "parent": parent, "start_s": start, "end_s": end}

    def test_overlapping_and_clipped_children(self):
        spans = [self.span("execute", "query", 0.0, 10.0),
                 self.span("stage1", "execute", 1.0, 3.0),
                 self.span("stage2", "execute", 2.0, 5.0),
                 self.span("stage3", "execute", 8.0, 12.0)]
        selfs = benchlib.self_times(spans)
        self.assertAlmostEqual(selfs[("q#1", "execute")], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(selfs[("q#1", "stage1")], 2.0)

    def test_only_direct_children_of_the_same_id(self):
        spans = [self.span("query", "workload", 0.0, 10.0),
                 self.span("execute", "query", 4.0, 10.0),
                 self.span("stage1", "execute", 5.0, 9.0),
                 self.span("execute", "query", 0.0, 10.0, sid="other#1")]
        selfs = benchlib.self_times(spans)
        self.assertAlmostEqual(selfs[("q#1", "query")], 4.0)
        self.assertAlmostEqual(selfs[("q#1", "execute")], 2.0)
        self.assertAlmostEqual(selfs[("other#1", "execute")], 10.0)


class PassOrder(unittest.TestCase):
    def test_deterministic_permutation(self):
        a = benchlib.pass_order(7, "etl_read", 16, 2)
        self.assertEqual(a, benchlib.pass_order(7, "etl_read", 16, 2))
        self.assertEqual(sorted(a), list(range(16)))

    def test_seed_and_pass_change_the_order(self):
        orders = {tuple(benchlib.pass_order(s, "etl_read", 16, p)) for s in range(3) for p in range(3)}
        self.assertEqual(len(orders), 9)

    def test_pinned_value(self):
        # the order both commits of a comparison see; a change here
        # changes every recorded baseline
        self.assertEqual(benchlib.pass_order(1, "etl_read", 6, 0), [2, 0, 1, 3, 4, 5])


class Manifest(unittest.TestCase):
    """BENCHMARK.json names exactly what the command prints."""

    def test_metrics_and_workloads_match(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, benchlib.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
                         benchlib.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


class PlantedMismatch(unittest.TestCase):
    """The command exits non-zero and names the query when an output does
    not match its oracle; no JVM is started."""

    def fake_harness(self, spark_value):
        def java(cp, args, cwd, log, timeout):
            out = Path(args[3])
            (out / "check" / "x1_planted").mkdir(parents=True)
            import pyarrow as pa
            import pyarrow.parquet as pq
            pq.write_table(pa.table({"x": [spark_value]}), out / "check" / "x1_planted" / "part-0.parquet")
            (out / "oracle_sql.json").write_text(json.dumps({"x1_planted": "SELECT 1::BIGINT AS x"}))
            recs = [{"kind": "setup", "start_s": 1.0, "warmup_s": 1.0, "setup_s": 2.0},
                    {"kind": "conf", "spark.version": "t", "java.version": "t", "heap_max_mb": "1"},
                    {"kind": "sample", "query": "x1_planted", "id": "x1_planted#0", "traced": False,
                     "eager": False, "construct_s": 0.1, "wall_s": 0.5},
                    {"kind": "loop", "passes": 1, "wall_s": 0.5, "cpu_s": [1.0], "jit_cpu_s": [0.5],
                     "heap_mb": [1.0]}]
            (out / "records.jsonl").write_text("".join(json.dumps(r) + "\n" for r in recs))
            return 0
        return java

    def run_command(self, spark_value):
        with tempfile.TemporaryDirectory() as tmp:
            sf = Path(tmp) / "sf"
            gen_inputs.write(str(sf), 0.001)
            work = Path(tmp) / "work"
            plan = {"etl_read": {"why": "t", "inputs": "sf0.1", "pass_s": 1.0,
                                 "queries": [("x1_planted", "planted")]}}
            out, err = io.StringIO(), io.StringIO()
            with mock.patch.object(run, "WORK", work), \
                    mock.patch.object(run, "build", return_value="cp"), \
                    mock.patch.object(run, "inputs", return_value=(sf, sf)), \
                    mock.patch.object(run, "WORKLOADS", plan), \
                    mock.patch.object(run, "java", self.fake_harness(spark_value)), \
                    contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                work.mkdir()
                rc = run.main(["--workload", "etl_read", "--seed", "1", "--seconds", "1"])
            return rc, json.loads(out.getvalue().strip().splitlines()[-1]), err.getvalue()

    def test_mismatch_exits_non_zero_and_names_the_query(self):
        rc, result, err = self.run_command(2)
        self.assertNotEqual(rc, 0)
        self.assertEqual((result["correct"], result["failed"], result["attempted"]), (False, 1, 1))
        self.assertIn("x1_planted", err)

    def test_match_exits_zero(self):
        rc, result, _ = self.run_command(1)
        self.assertEqual(rc, 0)
        self.assertEqual((result["correct"], result["failed"]), (True, 0))


if __name__ == "__main__":
    unittest.main()
