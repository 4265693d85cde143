"""Tests for the benchmark's metric reduction and its declaration.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def span(sid, parent, op, name, start, end, **attrs):
    return [sid, parent, op, name, start, end, attrs]


def raw_sample():
    """A small raw result: one traced read, one traced commit, one set-up
    commit, one operator call and one stream drain."""
    ms = 1e6
    measure_ops = [[1, "read.a", "read", 10.0, None, 0, 1], [2, "read.b", "read", 40.0, None, 0, 2]]
    traced_ops = [
        [3, "read.a", "read", 12.0, None, 0, 4],
        [4, "commit.merge", "commit", 80.0, None, 40, 0],
        [5, "operators.pagerank", "job", 50.0, None, 0, 10],
        [6, "streaming.cdc_drain", "job", 60.0, None, 0, 0],
    ]
    spans = [
        span(10, 0, 3, "op", 0, 12 * ms, jobs=2, graft_files_planned=3,
             graft_records_planned=40, catalyst_analysis_ms=2),
        span(11, 10, 3, "catalog.loadTable", 0, 1 * ms, hit=1),
        span(12, 10, 3, "exec.job", 2 * ms, 5 * ms),
        span(13, 10, 3, "exec.job", 4 * ms, 8 * ms),
        span(14, 0, 3, "metadata.load", 20 * ms, 22 * ms, bytes=500),
        span(15, 0, 3, "pruning.counts", 23 * ms, 23 * ms, manifests_kept=1,
             manifests_total=4, files_kept=2, files_total=8),
        span(20, 0, 4, "op", 30 * ms, 110 * ms, jobs=3),
        span(21, 0, 4, "commit.probe", 111 * ms, 111 * ms, manifests_added=1,
             manifests_carried=5, bytes_written=400),
        span(30, 0, 5, "op", 120 * ms, 170 * ms, jobs=10, rounds=5),
        span(40, 0, 6, "op", 180 * ms, 240 * ms, jobs=4),
        span(41, 40, 6, "streaming.batch", 181 * ms, 200 * ms, triggerExecution=19, rows=7),
        span(50, 0, 7, "op", 0, 100 * ms, jobs=1),
    ]
    return {
        "meta": {"cpus": 4},
        "setup_s": [3.0, 1.0, 2.0],
        "setup_ops": [[7, "commit.append", "commit", 100.0, None, 600, 0]],
        "live_heap_mb": 90.0,
        "storage": {"stored_bytes": 2000, "user_bytes": 1000, "live_rows": 100},
        "loops": {
            "measure": {"wall_s": 2.0, "harness_s": 0.1, "gc_ms": 1, "gc_count": 1,
                        "jit_ms": 5, "ops": measure_ops},
            "traced": {"wall_s": 2.0, "harness_s": 0.5, "gc_ms": 3, "gc_count": 2,
                       "jit_ms": 7, "ops": traced_ops},
        },
        "spans": spans,
    }


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(metrics.tail_percentile(list(range(10000)))[0], 99.9)
        self.assertEqual(metrics.tail_percentile(list(range(99)))[0], 75)
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail_percentile(list(range(39))))

    def test_interpolated_percentile(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile(list(range(101)), 90), 90)


class GroupMedians(unittest.TestCase):
    def ops(self):
        def op(kind, table, ms):
            return {"kind": kind, "tables": table, "ms": ms}
        return ([op("commit.merge", "lc.mor", ms) for ms in [1000.0, 1100.0, 900.0]] +
                [op("commit.merge", "lc.cow", ms) for ms in [300.0, 320.0, 310.0]] +
                [op("read.read_back", "lc.mor", 250.0), op("read.read_back", "lc.cow", 100.0)])

    def test_a_kind_has_one_median_per_table(self):
        meds = metrics.group_medians(self.ops())
        self.assertEqual(meds[("commit.merge", "lc.mor")], 1000.0)
        self.assertEqual(meds[("commit.merge", "lc.cow")], 310.0)

    def test_op_p50_weighs_every_group_alike(self):
        want = (1000.0 * 310.0 * 250.0 * 100.0) ** 0.25
        self.assertAlmostEqual(metrics.op_p50_ms(self.ops()), want)

    def test_kind_p50_is_over_that_kinds_groups(self):
        self.assertAlmostEqual(metrics.kind_p50_ms(self.ops(), "commit.merge"),
                               (1000.0 * 310.0) ** 0.5)
        self.assertEqual(metrics.kind_p50_ms(self.ops(), "commit.update"), 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = {"start": 0, "end": 100}
        children = [{"start": 10, "end": 30}, {"start": 20, "end": 50}, {"start": 90, "end": 120}]
        self.assertEqual(metrics.self_time(parent, children), 50)

    def test_no_children_is_the_duration(self):
        self.assertEqual(metrics.self_time({"start": 5, "end": 9}, []), 4)

    def test_between_jobs_is_op_time_outside_jobs(self):
        m = metrics.per_layer(raw_sample())
        # read op: 12 ms, jobs cover [2, 8] ms
        # others have no job spans: 80, 50, 60 ms
        self.assertAlmostEqual(m["execution.between_jobs_ms"], (6 + 80 + 50 + 60) / 4)


class LayerShares(unittest.TestCase):
    def test_shares_split_op_time_by_layer_priority(self):
        shares = metrics.layer_shares(raw_sample())
        # read op, 12 ms: jobs cover [2, 8]; the load [0, 1] lies outside them
        self.assertAlmostEqual(shares["read"]["execution"], 6 / 12)
        self.assertAlmostEqual(shares["read"]["catalog"], 1 / 12)
        self.assertAlmostEqual(shares["read"]["other"], 5 / 12)
        self.assertEqual(shares["commit"]["other"], 1.0)
        for cls in shares.values():
            self.assertAlmostEqual(sum(cls.values()), 1.0)


class MetricNames(unittest.TestCase):
    def test_declared_names_are_well_formed_and_unique(self):
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)

    def test_end_to_end_emits_exactly_the_declared_metrics(self):
        values = metrics.end_to_end(raw_sample())
        metrics.check_names(values, [m["name"] for m in BENCH["end_to_end"]])
        self.assertEqual(values["setup_s"], 2.0)
        self.assertEqual(values["live_heap_mb"], 90.0)
        self.assertEqual(values["bytes_stored_per_user_byte"], 2.0)
        self.assertEqual(values["ops_per_s"], 1.0)
        self.assertAlmostEqual(values["op_p50_ms"], 20.0)  # geometric mean of 10 and 40

    def test_per_layer_emits_exactly_the_declared_metrics(self):
        values = metrics.per_layer(raw_sample())
        metrics.check_names(values, [m["name"] for m in BENCH["per_layer"]])
        self.assertEqual(values["catalog.table_cache_hit_ratio"], 1.0)
        self.assertEqual(values["pruning.manifests_kept_ratio"], 0.25)
        self.assertEqual(values["pruning.records_per_row_returned"], 10.0)
        self.assertAlmostEqual(values["commit.merge_ms"], 80.0)
        self.assertAlmostEqual(values["commit.append_ms"], 100.0)
        self.assertEqual(values["operators.jobs_per_round"], 2.0)
        self.assertEqual(values["streaming.batches"], 1.0)
        traced_p50 = (12.0 * 80.0 * 50.0 * 60.0) ** 0.25  # one op per kind
        self.assertAlmostEqual(values["trace.overhead_ratio"], traced_p50 / 20.0)

    def test_undeclared_or_missing_names_are_refused(self):
        with self.assertRaises(ValueError):
            metrics.check_names({"a": 1, "b": 2}, ["a"])
        with self.assertRaises(ValueError):
            metrics.check_names({"a": 1}, ["a", "b"])
        with self.assertRaises(ValueError):
            metrics.check_names({"a b": 1}, ["a b"])


class Declaration(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(BENCH["workloads"]) <= 8)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})


if __name__ == "__main__":
    unittest.main()
