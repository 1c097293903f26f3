"""Tests of the benchmark's own code: generator determinism, ground-truth
rules on hand-built boundary cases, and the summary helpers.

    python3 -m pytest perfbench/tests
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen_can  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _read_tree(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_logs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_can.write_objects(7, 2, 2, a)
            gen_can.write_objects(7, 2, 2, b)
            ta, tb = _read_tree(a), _read_tree(b)
        self.assertEqual(len(ta), 4)
        self.assertEqual(ta, tb)

    def test_other_seed_gives_other_logs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_can.write_objects(7, 1, 1, a)
            gen_can.write_objects(8, 1, 1, b)
            self.assertNotEqual(_read_tree(a), _read_tree(b))

    def test_logs_start_with_magic_and_one_has_a_truncated_tail(self):
        with tempfile.TemporaryDirectory() as d:
            paths, _ = gen_can.write_objects(3, 2, 2, d)
            blobs = {p: open(p, "rb").read() for ps in paths.values() for p in ps}
        self.assertTrue(all(b.startswith(gen_can.MAGIC) for b in blobs.values()))
        truncated = [p for p, b in blobs.items() if b.endswith(bytes((0xCF, 0x10, 0x00)))]
        self.assertEqual(len(truncated), 1)

    def test_truth_of_a_prefix_only_counts_admitted_hours(self):
        full = gen_can.truth(5, 1, 3)
        first = gen_can.truth(5, 1, 3, admitted=1)
        self.assertEqual(sum(c["speed"] for c in first["landing"].values()), gen_can.SPEED_HZ * 3600)
        self.assertEqual(sum(c["speed"] for c in full["landing"].values()), 3 * gen_can.SPEED_HZ * 3600)
        end = gen_can.object_start(1)
        for ivs in first["stationary"].values():
            self.assertTrue(all(e < end for _, e in ivs))

    def test_every_object_boundary_carries_a_stop_or_an_edge_across_it(self):
        speed, ap = gen_can.device_series(11, 0, 6)
        zero = gen_can.SPEED_ZERO_RAW
        for h in range(1, 6):
            k, a = h * gen_can.OBJECT_S * gen_can.SPEED_HZ, h * gen_can.OBJECT_S  # first samples of object h
            stop = speed[k - 1][1] == zero and speed[k][1] == zero
            edge = ap[a - 1][1] == 2 and ap[a][1] == 3
            self.assertTrue(stop or edge, f"boundary {h}")


class GroundTruthRulesTest(unittest.TestCase):
    @staticmethod
    def _run(span, start=100.0, step=0.5):
        """Nonzero, then zeros spanning `span` s on a `step` grid, then nonzero."""
        n = int(round(span / step)) + 1
        return ([(start - step, 5.0)] + [(start + i * step, 0.0) for i in range(n)]
                + [(start + span + step, 5.0)])

    def test_stationary_threshold_is_13_seconds(self):
        self.assertEqual(gen_can.stationary_intervals(self._run(12.0)), [])
        self.assertEqual(gen_can.stationary_intervals(self._run(12.5)), [])
        self.assertEqual(gen_can.stationary_intervals(self._run(13.0)), [(103.0, 110.0)])
        self.assertEqual(gen_can.stationary_intervals(self._run(13.5)), [(103.0, 110.5)])

    def test_stationary_run_open_at_end_of_data_is_emitted(self):
        run = self._run(20.0)[:-1]
        self.assertEqual(gen_can.stationary_intervals(run), [(103.0, 117.0)])

    def test_stationary_runs_split_by_one_nonzero_sample(self):
        samples = [(float(t), 0.0) for t in range(0, 14)] + [(14.0, 1.0)] + \
                  [(float(t), 0.0) for t in range(15, 29)]
        self.assertEqual(gen_can.stationary_intervals(samples), [(3.0, 10.0), (18.0, 25.0)])

    def test_autopilot_edges_follow_the_code_3_rule(self):
        codes = [0, 3, 3, 4, 3, 2, 1, 3, 9, 2, 3, 5, 0]
        got = gen_can.ap_transitions([(float(i), c) for i, c in enumerate(codes)])
        self.assertEqual(got, [
            (1.0, 3, "engagement"),
            (5.0, 2, "disengagement"),
            (7.0, 3, "engagement"),
            (10.0, 3, "engagement"),
        ])

    def test_first_sample_is_never_an_edge(self):
        self.assertEqual(gen_can.ap_transitions([(0.0, 3), (1.0, 3)]), [])


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(vals, n=4)
        self.assertEqual(stats.median(vals), 5.5)
        self.assertEqual(stats.quartiles(vals), (q[0], q[2]))
        self.assertAlmostEqual(stats.spread(vals), (q[2] - q[0]) / 5.5)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0, "end_ms": 100, "dur_ms": 100.0},
            {"id": 1, "parent": 0, "start_ms": 10, "end_ms": 40, "dur_ms": 30.0},
            {"id": 2, "parent": 0, "start_ms": 30, "end_ms": 50, "dur_ms": 20.0},  # overlaps 1
            {"id": 3, "parent": 0, "start_ms": 90, "end_ms": 120, "dur_ms": 30.0},  # spills out
            {"id": 4, "parent": 1, "start_ms": 15, "end_ms": 25, "dur_ms": 10.0},
        ]
        got = stats.self_times(spans)
        self.assertEqual(got[0], 100.0 - 40 - 10)
        self.assertEqual(got[1], 20.0)
        self.assertEqual(got[2], 20.0)
        self.assertEqual(got[3], 30.0)
        self.assertEqual(got[4], 10.0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_declared_metrics_are_the_reported_ones(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as f:
            doc = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in doc["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in doc["per_layer"]}, layers.UNITS)
        self.assertEqual([w["name"] for w in doc["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
