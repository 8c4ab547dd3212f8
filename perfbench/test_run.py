"""Tests for the benchmark's own logic: python3 -m unittest perfbench/test_run.py"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def spec(**kw):
    s = {
        "workloads": [{"name": "w1", "why": "x"}, {"name": "w2", "why": "y"}],
        "end_to_end": [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}],
        "per_layer": [{"name": "kg.link_s", "unit": "s", "better": "lower"}],
    }
    s.update(kw)
    return s


class MetricNames(unittest.TestCase):
    def test_well_formed_spec_passes(self):
        self.assertEqual(run.validate_spec(spec()), [])

    def test_repository_spec_passes(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            self.assertEqual(run.validate_spec(json.load(fh)), [])

    def test_bad_names_units_and_duplicates(self):
        bad = spec(per_layer=[
            {"name": "_leading", "unit": "s", "better": "lower"},
            {"name": "has space", "unit": "s", "better": "lower"},
            {"name": "x" * 65, "unit": "s", "better": "lower"},
            {"name": "ok", "unit": "no spaces!", "better": "lower"},
            {"name": "setup_s", "unit": "s", "better": "lower"},
            {"name": "dir", "unit": "s", "better": "sideways"},
        ])
        errs = run.validate_spec(bad)
        self.assertEqual(len(errs), 6, errs)

    def test_setup_s_is_required(self):
        s = spec(end_to_end=[{"name": "round_s", "unit": "s", "better": "lower", "bound": 0.1}])
        self.assertIn("end_to_end: setup_s missing", run.validate_spec(s))

    def test_metric_block_covers_declared_and_rejects_unknown(self):
        declared = spec()["per_layer"]
        block = run.metric_block(declared, {})
        self.assertEqual(block, {"kg.link_s": {"value": 0.0, "unit": "s"}})
        with self.assertRaises(ValueError):
            run.metric_block(declared, {"kg.other_s": 1.0})


class TailPercentile(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(run.tail_percentile(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(run.tail_percentile(list(range(1, 21))), (50.0, 10))

    def test_hundred_samples_give_p90(self):
        # p95 would leave only 5 samples beyond it
        self.assertEqual(run.tail_percentile(list(range(1, 101))), (90.0, 90))

    def test_thousand_samples_give_p99(self):
        self.assertEqual(run.tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_ten_thousand_samples_give_p99_9(self):
        self.assertEqual(run.tail_percentile(list(range(1, 10001))), (99.9, 9990))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail_percentile(xs[::-1]), run.tail_percentile(xs))


def span(i, name, t0, t1, parent=-1, replays="", run_id=1):
    return {"id": i, "name": name, "parent": parent, "replays": replays,
            "run": run_id, "t0": t0, "t1": t1}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, "outer", 0.0, 10.0), span(1, "a", 1.0, 3.0, parent=0),
                 span(2, "b", 4.0, 8.0, parent=0)]
        st = run.self_times(spans, {})
        self.assertAlmostEqual(st["outer"], 4.0)
        self.assertAlmostEqual(st["a"], 2.0)

    def test_replayed_upstream_is_subtracted_per_pass(self):
        spans = [span(0, "kg.extract_parse", 0.0, 2.0),
                 span(1, "kg.link", 2.0, 7.0, replays="kg.extract_parse"),
                 span(2, "kg.canonicalize", 7.0, 13.0, replays="kg.extract_parse")]
        st = run.self_times(spans, {"kg.canonicalize": 2.0})
        self.assertAlmostEqual(st["kg.link"], 3.0)  # one pass by default
        self.assertAlmostEqual(st["kg.canonicalize"], 2.0)  # two passes measured

    def test_replays_match_within_the_same_run(self):
        spans = [span(0, "up", 0.0, 1.0, run_id=1), span(1, "up", 1.0, 4.0, run_id=2),
                 span(2, "down", 4.0, 9.0, replays="up", run_id=2)]
        self.assertAlmostEqual(run.self_times(spans, {})["down"], 2.0)

    def test_same_name_spans_add_up(self):
        spans = [span(0, "turtle.parse", 0.0, 0.5, run_id=0),
                 span(1, "turtle.parse", 1.0, 1.25, run_id=0)]
        self.assertAlmostEqual(run.self_times(spans, {})["turtle.parse"], 0.75)


class StealParser(unittest.TestCase):
    L0 = "cpu  1000 10 500 8000 20 0 30 40 0 0"
    L1 = "cpu  1600 10 700 8300 20 0 30 140 50 0"

    def test_fields(self):
        # user nice system idle iowait irq softirq steal (guest excluded)
        self.assertEqual(run.parse_cpu_line(self.L0), (9600, 40))

    def test_steal_fraction_over_an_interval(self):
        # total +1200 jiffies, steal +100
        self.assertAlmostEqual(run.steal_frac(self.L0, self.L1), 100 / 1200)

    def test_no_elapsed_ticks_reads_zero(self):
        self.assertEqual(run.steal_frac(self.L0, self.L0), 0.0)

    def test_short_line_from_an_old_kernel(self):
        self.assertEqual(run.parse_cpu_line("cpu 1 2 3 4"), (10, 0))

    def test_per_cpu_lines_are_refused(self):
        with self.assertRaises(ValueError):
            run.parse_cpu_line("cpu0 1 2 3 4 5 6 7 8")


if __name__ == "__main__":
    unittest.main()
