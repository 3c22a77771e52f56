"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s bench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(stats.tail_ok(99, 0.9))
        self.assertTrue(stats.tail_ok(100, 0.9))
        self.assertTrue(stats.tail_ok(20, 0.5))
        self.assertFalse(stats.tail_ok(19, 0.5))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_p90_reported_only_with_enough_ops(self):
        def result(n):
            return {"ops": [{"id": i, "name": f"q{i}", "wall_s": 1.0 + i, "error": ""}
                            for i in range(n)],
                    "nums": {"setup_s": 1.0, "timed_wall_s": float(n), "peak_rss_mb": 1.0}}
        _, few = stats.end_to_end(result(99), set())
        _, many = stats.end_to_end(result(100), set())
        self.assertNotIn("op_p90_s", few)
        self.assertEqual(many["op_p90_s"], 90.0)


class FailedFrac(unittest.TestCase):
    def test_threw_and_check_failed_count_once_each_op(self):
        self.assertAlmostEqual(stats.failed_frac(10, {1, 2}, {2, 3}), 0.3)
        self.assertEqual(stats.failed_frac(4, set(), set()), 0.0)

    def test_needs_attempts(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, set(), set())

    def test_end_to_end_counts_errors(self):
        r = {"ops": [{"id": 0, "name": "a", "wall_s": 1.0, "error": "boom"},
                     {"id": 1, "name": "b", "wall_s": 2.0, "error": ""},
                     {"id": 2, "name": "c", "wall_s": 3.0, "error": ""},
                     {"id": 3, "name": "d", "wall_s": 4.0, "error": ""}],
             "nums": {"setup_s": 5.0, "timed_wall_s": 10.0, "peak_rss_mb": 100.0}}
        m, extra = stats.end_to_end(r, {3})
        self.assertEqual(extra["failed_frac"], 0.5)
        self.assertEqual(m["op_p50_s"][0], 2.5)
        self.assertEqual(m["ops_per_s"][0], 0.4)
        r["nums"]["timed_wall_s"] = 12.0
        self.assertEqual(stats.end_to_end(r, set())[0]["ops_per_s"][0], 0.4)


class OpMedian(unittest.TestCase):
    def test_median_of_per_name_best(self):
        walls = {"kcore": [4.0, 4.2, 9.0], "hits": [3.0, 3.1, 2.9],
                 "dedup": [1.8, 1.7, 1.9], "editdist": [0.9, 0.8, 1.0]}
        ops = [{"id": i, "name": n, "wall_s": w, "error": ""}
               for i, (n, w) in enumerate((n, w) for n, ws in walls.items() for w in ws)]
        self.assertEqual(stats.name_best(ops), [4.0, 2.9, 1.7, 0.8])
        r = {"ops": ops, "nums": {"setup_s": 1.0, "timed_wall_s": 1.0, "peak_rss_mb": 1.0}}
        m, _ = stats.end_to_end(r, set())
        # middle two names (hits 2.9, dedup 1.7); the 9 s repeat does not count
        self.assertAlmostEqual(m["op_p50_s"][0], 2.3)
        self.assertAlmostEqual(m["ops_per_s"][0], 4 / 9.4)


def span(op, name, parent, s, e):
    return {"op": op, "name": name, "parent": parent, "start_ns": int(s * 1e9),
            "end_ns": int(e * 1e9)}


class SelfTime(unittest.TestCase):
    def test_children_covered_once(self):
        spans = [span(0, "op", "", 0, 10), span(0, "build", "op", 0, 3),
                 span(0, "plan", "op", 2, 5), span(0, "execute", "op", 6, 9)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[(0, "op")], 2.0)
        self.assertAlmostEqual(st[(0, "build")], 3.0)
        self.assertAlmostEqual(st[(0, "execute")], 3.0)

    def test_ops_do_not_mix_and_children_are_clipped(self):
        spans = [span(0, "op", "", 0, 4), span(1, "op", "", 0, 4),
                 span(0, "build", "op", 3, 6), span(1, "build", "op", 0, 1)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[(0, "op")], 3.0)
        self.assertAlmostEqual(st[(1, "op")], 3.0)


class Generators(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def tables(self, d):
        return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))
                if f.endswith(".parquet")}

    def test_star_same_seed_same_inputs(self):
        a, b, c = (os.path.join(self.tmp.name, x) for x in "abc")
        ta, tb = gen.star(a, 5, 0.0005, 0.002), gen.star(b, 5, 0.0005, 0.002)
        gen.star(c, 6, 0.0005, 0.002)
        self.assertEqual(ta, tb)
        A, B, C = self.tables(a), self.tables(b), self.tables(c)
        self.assertEqual(len(A), 10)
        for k in A:
            self.assertTrue(A[k].equals(B[k]), k)
        self.assertFalse(A["lineitem.parquet"].equals(C["lineitem.parquet"]))

    def test_star_planted_duplicates(self):
        d = os.path.join(self.tmp.name, "s")
        t = gen.star(d, 3, 0.0005, 0.01)
        docs = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
        self.assertTrue(t["doc_pairs"])
        for a, b in t["doc_pairs"]:
            self.assertEqual(docs[b], docs[a] + " dup")
        self.assertEqual(t["n_emb"], pq.read_metadata(f"{d}/embeddings.parquet").num_rows)

    def test_weather_ground_truth(self):
        d = os.path.join(self.tmp.name, "w")
        t = gen.weather(d, 9, cities=8, years=1, days=4)
        with open(f"{d}/truth.json") as f:
            self.assertEqual(t, json.load(f))
        self.assertEqual(t, gen.weather(os.path.join(self.tmp.name, "w2"), 9, 8, 1, 4))
        self.assertEqual(t["history_keys"], 8 * 365)
        self.assertEqual(pq.read_metadata(f"{d}/history.parquet").num_rows, t["history_rows"])
        fact = t["history_keys"]
        for i, day in enumerate(t["days"]):
            stg = pq.read_table(f"{d}/day_{i:04d}.parquet").to_pandas()
            self.assertEqual(len(stg), day["rows"])
            self.assertFalse(stg["is_processed"].any())
            fact += day["new_keys"]
            self.assertEqual(day["fact_rows"], fact)
            today = stg[stg["date"].astype(str) == day["day"]]
            # one row per known city today, plus the within-batch duplicates
            self.assertEqual(len(today), day["new_keys"] + day["dups"])
            self.assertEqual(today["city_name"].nunique(), day["new_keys"])
            late = stg[stg["date"].astype(str) != day["day"]]
            self.assertEqual(len(late), day["corrections"])
            self.assertTrue((late["precipitation"].astype(float) >= 60).all())
            nulls = today["temp_max"].isna() | today["temp_min"].isna()
            self.assertEqual(int(nulls.sum()), len(day["nulls"]))


if __name__ == "__main__":
    unittest.main()
