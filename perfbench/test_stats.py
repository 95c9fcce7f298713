"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))   # median leaves 9 beyond
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)  # p75 leaves 9
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)  # p90 leaves 9
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_beyond_counts_samples_past_the_nearest_rank(self):
        self.assertEqual(stats.beyond(100, 90.0), 10)
        self.assertEqual(stats.beyond(101, 90.0), 10)  # rank ceil(90.9) = 91
        self.assertEqual(stats.percentile(list(range(1, 101)), 90.0), 90)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "trace": 1, "name": "x", "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 80, 150), span(3, 1, -20, 10)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 20 - 10)

    def test_nested_and_disjoint(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 40), span(3, 2, 10, 20), span(4, 1, 60, 70)]
        t = stats.self_times(spans)
        self.assertEqual((t[1], t[2], t[3], t[4]), (50, 30, 10, 10))

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 5), (5, 7), (10, 12), (11, 20)]), 17)


class ErrorRate(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.error_rate(20, 0), 0.0)
        self.assertEqual(stats.error_rate(20, 5), 0.25)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.error_rate(0, 0), 1.0)

    def test_capped_at_one(self):
        self.assertEqual(stats.error_rate(3, 4), 1.0)


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ("setup_s", "sink.json_gzip.records_per_s", "query.q04_agg_basic.s", "9a-b"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "a%", "x" * 65, "ü"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_declared_per_layer_metrics_are_the_reported_ones(self):
        import run
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        fams = json.load(open(os.path.join(HERE, "workloads.json")))["query_mix"]["families"]
        declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
        reported = set(run.LAYERS) | {f"query.{q}.s" for qs in fams.values() for q in qs} | {
            f"query.{f}.s" for f in fams}
        self.assertEqual(set(declared), reported)
        for name, unit in declared.items():
            self.assertEqual(unit, run.layer_unit(name), name)

    def test_declared_and_reported_names_are_valid(self):
        import run
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        declared = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
        declared += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(declared), len(set(declared)))
        for name in declared + list(run.LAYERS):
            self.assertTrue(stats.valid_name(name), name)


class TracedReport(unittest.TestCase):
    def test_every_workload_reports_every_declared_layer(self):
        import run
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        fams = json.load(open(os.path.join(HERE, "workloads.json")))["query_mix"]["families"]
        plain = {"samples": {"batch": [1.0, 2.0]}, "intervals": [[100, 200]]}
        traced = {"samples": {"batch": [1.5, 3.0]}, "intervals": [[0, 50], [200, 250]]}
        spans = [{"id": 1, "parent": 0, "trace": 1, "name": "stream.batch", "start": 10, "end": 60},
                 {"id": 2, "parent": 1, "trace": 1, "name": "spark.job", "start": 20, "end": 40},
                 {"id": 3, "parent": 0, "trace": 3, "name": "stream.batch", "start": 210, "end": 230},
                 # starts in an untraced operation, so it is not counted
                 {"id": 4, "parent": 0, "trace": 4, "name": "stream.batch", "start": 120, "end": 130}]
        raw = {"layers": {"exec.jobs": 3.0}, "spans": spans,
               "windows": {"plain": plain, "traced": traced}}
        for workload in (w["name"] for w in bench["workloads"]):
            out = run.layers(workload, raw, fams)
            self.assertEqual(set(out), {m["name"] for m in bench["per_layer"]}, workload)
        out = run.layers("sink_stream", raw, fams)
        self.assertEqual(out["self.stream.batch_ms"], (0.03 + 0.02) / 2)
        # batch 1 is clipped to its operation's end at 50
        self.assertEqual(out["trace.span_coverage"], (40 + 20) / 100)
        self.assertEqual(out["trace.overhead"], 0.5)  # median 2.25 against 1.5
        self.assertEqual(out["exec.jobs"], 3.0)


class Overhead(unittest.TestCase):
    def test_geomean_of_per_item_median_ratios(self):
        plain = {"a": [1.0, 3.0], "b": [4.0], "only_plain": [1.0]}
        traced = {"a": [4.0], "b": [2.0, 2.0, 100.0]}
        self.assertAlmostEqual(stats.overhead(plain, traced), 0.0)  # ratios 2 and 1/2
        traced["b"] = [4.0]
        self.assertAlmostEqual(stats.overhead(plain, traced), 2 ** 0.5 - 1)

    def test_nothing_sampled_both_ways(self):
        self.assertEqual(stats.overhead({"a": [1.0]}, {}), 0.0)


class Medians(unittest.TestCase):
    def test_median_and_geomean(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertEqual(stats.geomean([]), 0.0)


if __name__ == "__main__":
    unittest.main()
