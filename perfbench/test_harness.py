"""Tests for the benchmark harness: python3 -m unittest discover -s perfbench"""
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness as H  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(H.tail_percentile(100), 90)
        self.assertEqual(H.tail_percentile(1000), 90)  # capped
        self.assertEqual(H.tail_percentile(40), 75)
        self.assertEqual(H.tail_percentile(20), 50)
        self.assertIsNone(H.tail_percentile(19))

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (20, 33, 40, 57, 100, 250):
            xs = list(range(n))
            v = H.percentile(xs, H.tail_percentile(n))
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(H.percentile(xs, 50), 3)
        self.assertEqual(H.percentile(xs, 100), 5)
        self.assertEqual(H.percentile(xs, 1), 1)
        self.assertEqual(H.median([4, 1, 3, 2]), 2.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_duration_minus_union_of_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 90, 120), self.span(5, 2, 12, 14)]
        st = H.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)  # children cover 10-50 and 90-100
        self.assertEqual(st[2], 20 - 2)  # grandchildren count only for their parent
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 2)

    def test_covered_merges_overlaps(self):
        self.assertEqual(H.covered([(0, 5), (3, 8), (10, 12)], 1, 11), 8)
        self.assertEqual(H.covered([], 0, 10), 0)


class Comparison(unittest.TestCase):
    ROWS = [{"q_id": q, "doc_id": d, "score": 1.0 / (d + 1), "rank": r}
            for q in range(3) for r, d in enumerate([7, 3, 9], 1)]

    def test_order_independent(self):
        shuffled = list(self.ROWS)
        random.Random(1).shuffle(shuffled)
        self.assertTrue(H.same_rows(shuffled, self.ROWS))

    def test_counts_duplicates(self):
        self.assertFalse(H.same_rows(self.ROWS + self.ROWS[:1], self.ROWS + self.ROWS[1:2]))

    def test_float_digits(self):
        a = [{"x": 0.1 + 0.2}]
        self.assertTrue(H.same_rows(a, [{"x": 0.3}]))
        self.assertFalse(H.same_rows(a, [{"x": 0.3000001}]))

    def test_frames_ignore_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
        self.assertTrue(H.frames_equal(a, b))
        b.loc[0, "v"] = 2.5000001
        self.assertFalse(H.frames_equal(a, b))

    def test_recall(self):
        want = [{"q_id": 0, "id": i} for i in range(10)]
        got = [{"q_id": 0, "id": i} for i in range(2, 12)]
        self.assertAlmostEqual(H.recall(got, want), 0.8)


class PerturbedResultFails(unittest.TestCase):
    """A wrong answer in any workload's output must count as a failure."""

    def serve_check(self, perturb):
        want = [{"q_id": 0, "doc_id": 4, "score": 2.5, "rank": 1},
                {"q_id": 0, "doc_id": 8, "score": 1.25, "rank": 2}]
        body = [dict(r) for r in want]
        for r in body:
            del r["q_id"]
        if perturb:
            body[1]["doc_id"] = 9
        return {"kind": "serve", "want": [json.dumps(r) for r in want],
                "got": [{"req": 0, "status": 200, "body": json.dumps({"results": body})},
                        {"req": 0, "status": 500, "body": "boom"} if perturb else
                        {"req": 0, "status": 200, "body": json.dumps({"results": body[::-1]})}]}

    def test_serve(self):
        manifest = {"requests": [{"kind": "lexical"}]}
        self.assertEqual(run.check_all({"checks": [self.serve_check(False)]}, manifest, {}), [])
        self.assertEqual(len(run.check_all({"checks": [self.serve_check(True)]}, manifest, {})), 2)

    def test_index_ids_and_recall(self):
        import numpy as np
        ids = np.arange(30)
        vecs = np.random.default_rng(0).normal(size=(30, 8))
        corpus = {"added": (ids, vecs), "removed": (ids[5:], vecs[5:])}
        reqs = [{"kind": "ann", "vec": list(vecs[i] + 0.01)} for i in (7, 9)]
        exact = [H.exact_topk(ids[5:], vecs[5:], [r["vec"]], 10) for r in reqs]

        def served(rows_per_req):
            body = [{"req": i, "status": 200, "body": json.dumps(
                {"results": [{"b_id": r["id"], "rank": n + 1} for n, r in enumerate(rows)]})}
                for i, rows in enumerate(rows_per_req)]
            want = [json.dumps({"q_id": i, "b_id": r["id"], "rank": n + 1})
                    for i, rows in enumerate(rows_per_req) for n, r in enumerate(rows)]
            return {"kind": "serve", "got": body, "want": want}
        manifest = {"requests": reqs}
        ok = [{"kind": "ids", "state": "removed", "got": list(range(5, 30))}, served(exact)]
        self.assertEqual(run.check_all({"checks": ok}, manifest, corpus), [])
        # the server and the operator agree, but on the wrong neighbours
        wrong = [exact[0], [{"q_id": 0, "id": i} for i in range(10)]]
        bad = [{"kind": "ids", "state": "removed", "got": list(range(30))}, served(wrong)]
        self.assertEqual(len(run.check_all({"checks": bad}, manifest, corpus)), 2)

    def test_dup_groups(self):
        want = [["/t/a", "/t/b"], ["/t/c", "/t/d", "/t/e"]]
        got = [["file:/t/e", "file:/t/c", "file:/t/d"], ["file:/t/b", "file:/t/a"]]
        chk = {"kind": "dup_groups", "want": want}
        self.assertEqual(run.check_all({"checks": [dict(chk, got=got)]}, {}), [])
        self.assertEqual(len(run.check_all({"checks": [dict(chk, got=got[:1])]}, {})), 1)

    def test_oracle(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(f"{d}/tables")
            os.makedirs(f"{d}/out/q")
            pd.DataFrame({"k": [1, 2, 2], "v": [10, 20, 30]}).to_parquet(f"{d}/tables/t.parquet")
            sql = {"q": "SELECT k, CAST(SUM(v) AS BIGINT) AS s FROM t GROUP BY k"}
            chk = {"kind": "oracle", "dir": f"{d}/out", "queries": ["q"], "sql": sql}
            pd.DataFrame({"s": [50, 10], "k": [2, 1]}).to_parquet(f"{d}/out/q/part-0.parquet")
            self.assertEqual(run.check_all({"checks": [chk]}, {"tables": f"{d}/tables"}), [])
            pd.DataFrame({"s": [51, 10], "k": [2, 1]}).to_parquet(f"{d}/out/q/part-0.parquet")
            self.assertEqual(len(run.check_all({"checks": [chk]}, {"tables": f"{d}/tables"})), 1)


if __name__ == "__main__":
    unittest.main()
