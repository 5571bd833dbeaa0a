"""Self-tests of the benchmark's Python side:
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from run import median  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_rows(self):
        a, ta = gen.locations(5, 3000)
        b, tb = gen.locations(5, 3000)
        self.assertTrue(a.equals(b))
        self.assertEqual(ta, tb)
        ca, cb = gen.catalog(5, 0.001), gen.catalog(5, 0.001)
        for name in ca:
            self.assertTrue(ca[name].equals(cb[name]), name)

    def test_different_seed_different_rows(self):
        a, _ = gen.locations(5, 3000)
        b, _ = gen.locations(6, 3000)
        self.assertFalse(a.equals(b))
        ca, cb = gen.catalog(5, 0.001), gen.catalog(6, 0.001)
        self.assertFalse(ca["events"].equals(cb["events"]))
        self.assertFalse(ca["documents"].equals(cb["documents"]))

    def test_shape(self):
        table, totals = gen.locations(1, 20000)
        uid = table.column("user_id").to_pylist()
        src = table.column("source").to_pylist()
        self.assertTrue(any(u.startswith("x") for u in uid))
        self.assertTrue(any(u.startswith("rt-") for u in uid))
        self.assertAlmostEqual(src.count("background") / len(src), 0.05, delta=0.01)
        hot = gen.METROS[0][0]
        near_hot = sum(abs(x - hot) < 1 for x in table.column("latitude").to_pylist())
        self.assertAlmostEqual(near_hot / len(uid), gen.HOT_SHARE, delta=0.02)
        self.assertEqual(totals["all"], len(src) - src.count("background"))
        self.assertEqual(totals["route"], sum(1 for u, s in zip(uid, src)
                                              if u.startswith("rt-") and s != "background"))
        self.assertNotIn("x00001", totals)

    def test_blobs_sum_to_totals(self):
        table, totals = gen.locations(2, 2000)
        per = {}
        for blob, heatmap in gen.blobs(table):
            group = blob.split("|")[0]
            for tile, n in json.loads(heatmap).items():
                key = (group, int(tile.split("_")[0]))
                per[key] = per.get(key, 0) + n
        zooms = range(gen.COARSE_ZOOM, gen.FINE_ZOOM + 1)
        self.assertEqual(per, {(g, z): float(n) for g, n in totals.items() for z in zooms})

    def test_heatmaps_store_format(self):
        rows = [("all|alltime|1_0_0", '{"6_0_1":1.0}'), ("u1|alltime|1_0_0", '{"6_0_1":2.0}')]
        with tempfile.TemporaryDirectory() as d:
            gen.write_heatmaps(rows, d, files=2)
            lines = []
            for f in sorted(os.listdir(d)):
                self.assertTrue(f.endswith(".hm"))
                with open(os.path.join(d, f)) as fh:
                    lines += fh.read().splitlines()
        self.assertEqual(sorted(lines), [f"{a}\t{b}" for a, b in rows])


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(median([7.0]), 7.0)
        with self.assertRaises(ValueError):
            median([])
        xs = [0.3, 9.1, 2.2, 5.5, 1.0, 7.7]
        self.assertEqual(median(xs), statistics.median(xs))


def record(samples, cold=None, check_error=None, traced=()):
    ok = {"seconds": 1.0, "error": None}
    return {"cold": cold or ok, "settle": ok, "samples": samples, "traced": list(traced),
            "check_error": check_error, "rows": 100,
            "session": {"start_s": 5.0, "warmup_s": 2.0}}


class SummaryTest(unittest.TestCase):
    def test_throwing_operation_counts_as_failed(self):
        samples = [{"seconds": 2.0, "error": None},
                   {"seconds": 0.5, "error": "java.lang.RuntimeException: boom"},
                   {"seconds": 4.0, "error": None}]
        correct, attempted, failed, m = run.summarize(
            "pyramid_batch", record(samples), 0.1, [], trace=False)
        self.assertTrue(correct)
        self.assertEqual((attempted, failed), (5, 1))
        self.assertEqual(m["op_s"]["value"], 3.0)  # the failed sample is not a time
        self.assertEqual(m["error_rate"]["value"], 2 / 7)
        self.assertEqual(m["setup_s"]["value"], 5.0 + 0.1 + 2.0)
        self.assertEqual(m["rows_per_s"]["value"], 100 / 3.0)

    def test_failed_check_and_oracle(self):
        samples = [{"seconds": 2.0, "error": None}]
        correct, attempted, failed, _ = run.summarize(
            "pyramid_batch", record(samples, check_error="totals"), 0.1, [], trace=False)
        self.assertEqual((correct, attempted, failed), (False, 3, 1))
        correct, attempted, failed, _ = run.summarize(
            "catalog_slice", record(samples), 0.1, ["q5_region: rowcount"], trace=False)
        self.assertEqual((correct, attempted, failed), (False, 3, 1))

    def test_all_timed_operations_failed(self):
        samples = [{"seconds": 1.0, "error": "boom"}, {"seconds": 3.0, "error": "boom"}]
        correct, attempted, failed, m = run.summarize(
            "pyramid_batch", record(samples), 0.1, [], trace=False)
        self.assertEqual((correct, attempted, failed), (False, 4, 2))
        self.assertEqual(m["op_s"]["value"], 2.0)
        self.assertEqual(m["error_rate"]["value"], 3 / 6)

    def test_error_rate_never_zero(self):
        _, _, _, m = run.summarize("blob_append", record([{"seconds": 1.0, "error": None}]),
                                   0.1, [], trace=False)
        self.assertGreater(m["error_rate"]["value"], 0.0)

    def test_traced_reports_every_per_layer_metric(self):
        traced = [{"seconds": 1.5, "error": None, "metrics": {"plans.exchanges": 3.0}},
                  {"seconds": 1.7, "error": None, "metrics": {"plans.exchanges": 3.0}}]
        _, attempted, _, m = run.summarize(
            "pyramid_batch", record([{"seconds": 1.0, "error": None}] * 2, traced=traced),
            0.1, [], trace=True)
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertEqual(attempted, 6)
        self.assertEqual(m["plans.exchanges"]["value"], 3.0)
        self.assertAlmostEqual(m["trace.overhead_s"]["value"], 0.6)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
