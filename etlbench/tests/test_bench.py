"""Tests of the benchmark's own arithmetic, generators and models.

    python3 -m unittest discover -s etlbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import caic_model, gen, metrics, stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = stats.tail(range(1, 101))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_ten_samples_lie_beyond_the_tail(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12, 13, 14, 15]
        value, _, _ = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(stats.tail(range(11))[:2], (0, 100.0 * 1 / 11))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))


class IntervalUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 100), (10, 20), (100, 110), (50, 50)]), 110)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_time_is_wall_minus_union_of_overlapping_jobs(self):
        ms = metrics.MS
        op = {"i": 0, "t0": 0, "t1": 100 * ms}
        jobs = [{"group": "op0", "t0": 10 * ms, "t1": 50 * ms, "stages": 1, "tasks": 2, "cpu_ns": 0, "run_ms": 0,
                 "gc_ms": 0, "shuffle_write": 0, "spill": 0, "input_rows": 0, "output_bytes": 0},
                {"group": "op0", "t0": 30 * ms, "t1": 70 * ms, "stages": 1, "tasks": 2, "cpu_ns": 0, "run_ms": 0,
                 "gc_ms": 0, "shuffle_write": 0, "spill": 0, "input_rows": 0, "output_bytes": 0}]
        per = metrics.per_op_scheduler([op], jobs)[0]
        # the job walls sum to 80 ms, but they cover only 60 ms of the 100
        self.assertEqual(per["driver_ms"], 40.0)
        self.assertEqual(per["jobs"], 2)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [{"id": 1, "parent": 0, "t0": 0, "t1": 100},
                 {"id": 2, "parent": 1, "t0": 10, "t1": 40},
                 {"id": 3, "parent": 1, "t0": 30, "t1": 60},
                 {"id": 4, "parent": 2, "t0": 15, "t1": 20}]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 25, 3: 30, 4: 5})


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for wl in ("olap_mix", "lakehouse_rw"):
            with tempfile.TemporaryDirectory() as d:
                a = gen.write_inputs(wl, 5, os.path.join(d, "a"), 0.001, os.path.join(d, "b"))
                gen.write_inputs(wl, 6, os.path.join(d, "c"), 0.001, os.path.join(d, "d"))
                self.assertNotEqual(a, gen.digest(os.path.join(d, "c")), wl)

    def test_caic_documents_depend_only_on_the_seed(self):
        self.assertEqual(gen.caic_docs(9), gen.caic_docs(9))
        self.assertNotEqual(gen.caic_docs(9), gen.caic_docs(10))

    def test_documents_hold_near_duplicates_for_lsh_to_find(self):
        # q31 verifies LSH candidates by word-trigram Jaccard >= 0.5; at
        # 0.7 its 16 bands of 4 rows find a pair with probability 0.99
        texts = gen.olap_tables(11, 0.01)["documents"].column("text").to_pylist()
        shingles = [{tuple(w[i:i + 3]) for i in range(len(w) - 2)} for w in (t.split() for t in texts)]
        close = sum(1 for i, a in enumerate(shingles) for b in shingles[:i] if len(a & b) >= 0.7 * len(a | b))
        self.assertGreaterEqual(close, 20)

    def test_lake_rounds_hold_fixed_counts(self):
        spec, _, _ = gen.lake_ops(3, rounds=4)
        for ops in spec["rounds"]:
            counts = {}
            for o in ops:
                counts[o["kind"]] = counts.get(o["kind"], 0) + 1
            self.assertEqual(counts, gen.LAKE_ROUND)

    def test_lake_change_feed_folds_to_the_snapshot(self):
        _, model, _ = gen.lake_ops(4, rounds=3)
        live = {}
        for v in range(1, model.version + 1):
            for kind, row in model.deltas[v]:
                if kind == "insert":
                    live[row[0]] = row
                else:
                    self.assertEqual(live.pop(row[0]), row)
            self.assertEqual(live, model.snapshots[v])


class CaicModel(unittest.TestCase):
    def test_reproduces_the_pinned_q37_golden_output(self):
        golden = json.load(open(os.path.join(HERE, "q37_golden.json")))
        rows = duckdb.connect().execute(golden["oracle_sql"]).fetchall()
        self.assertEqual(len(rows), 4)
        self.assertEqual(caic_model.features(golden["areas"], golden["products"]),
                         caic_model.golden_features(rows))

    def test_unknown_rating_wins_and_drops_the_style(self):
        areas = json.dumps({"type": "FeatureCollection", "features": [
            {"type": "Feature", "id": 1, "properties": {}, "geometry": {"type": "Point", "coordinates": [0, 0]}}]})
        products = json.dumps([{"type": "avalancheforecast", "areaId": "1",
                                "avalancheSummary": {"days": [{"content": "x"}]},
                                "dangerRatings": {"days": [{"alp": "high", "tln": "bogus", "btl": "low"}]}}])
        (feature,) = [json.loads(f) for f in caic_model.features(areas, products)]
        self.assertNotIn("callsign", feature["properties"])
        self.assertEqual(feature["properties"]["metadata"]["ratingNear"], "bogus")


if __name__ == "__main__":
    unittest.main()
