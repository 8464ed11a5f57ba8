"""The benchmark's own tests: python3 -m unittest discover perfbench/tests"""
import contextlib
import filecmp
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
from stats import median, percentile, self_times  # noqa: E402


def tree_files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def same_tree(a, b):
    fa, fb = tree_files(a), tree_files(b)
    return fa == fb and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in fa)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def gen_twice(self, workload, s1, s2):
        dirs = [os.path.join(self.dir, workload, n) for n in ("a", "b", "c")]
        ms = [gen.generate(workload, s, d, 1.0)
              for s, d in zip((s1, s1, s2), dirs)]
        return dirs, ms

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in ("ingest_batch", "ingest_stream"):
            with self.subTest(workload=w):
                (a, b, c), (ma, mb, mc) = self.gen_twice(w, 7, 8)
                self.assertTrue(same_tree(a, b))
                self.assertEqual(ma, mb)
                self.assertFalse(same_tree(a, c))
                self.assertNotEqual(ma["tables"], mc["tables"])

    def test_query_tables_are_the_fixture_in_seeded_order(self):
        import pyarrow.parquet as pq
        a, b, c = (os.path.join(self.dir, n) for n in ("a", "b", "c"))
        gen.gen_tables(3, a)
        gen.gen_tables(3, b)
        gen.gen_tables(4, c)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))
        for t in gen.QUERY_TABLES:
            want = pq.read_table(os.path.join(gen.FIXTURE, f"{t}.parquet"))
            got = pq.read_table(os.path.join(c, f"{t}.parquet"))
            self.assertEqual(got.schema, want.schema)
            self.assertNotEqual(got, want)
            key = [(n, "ascending") for n in want.column_names]
            self.assertEqual(got.sort_by(key), want.sort_by(key))

    def test_batch_plants_the_edge_rows(self):
        gen.gen_batch(5, self.dir)
        with open(os.path.join(self.dir, "load", "info.jsonl")) as f:
            docs = [json.loads(line) for line in f]
        comments = [c for d in docs for c in d["comments"]]
        self.assertTrue(any(d["description"] == gen.DEFAULT_DESC
                            for d in docs))
        self.assertTrue(any("categories" not in d for d in docs))
        self.assertTrue(any("?" in d["thumbnail"] for d in docs))
        self.assertTrue(any(d["filesize_approx"] is None for d in docs))
        self.assertTrue(any(c["parent"] == "root" for c in comments))
        parent = {c["id"]: c["parent"] for c in comments}

        def depth(cid):
            n = 0
            while parent.get(cid, "root") != "root":
                cid, n = parent[cid], n + 1
            return n
        self.assertGreaterEqual(max(depth(c) for c in parent), 3)
        self.assertEqual(len(docs), len({d["id"] for d in docs}) + 1)
        with open(os.path.join(self.dir, "upgrade", "info.jsonl")) as f:
            self.assertTrue(any(json.loads(line)["fulltitle"] is None
                                for line in f))
        with open(os.path.join(self.dir, "load", "history.json")) as f:
            hist = json.load(f)
        self.assertTrue(any("titleUrl" not in e for e in hist))
        csvs = os.listdir(os.path.join(self.dir, "load", "playlists"))
        text = "".join(open(os.path.join(self.dir, "load", "playlists", c))
                       .read() for c in csvs)
        self.assertIn(",\n", text)  # blank timestamp
        self.assertIn("  ", text)  # id wrapped in whitespace


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        self.assertEqual(percentile([5], 90), 5)
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)
        vals = list(range(1, 101))
        self.assertAlmostEqual(percentile(vals, 90), 90.1)
        self.assertEqual(percentile(vals, 0), 1)
        self.assertEqual(percentile(vals, 100), 100)
        with self.assertRaises(ValueError):
            percentile([], 50)

    @staticmethod
    def span(i, name, parent, a, b):
        return {"id": i, "name": name, "parent": parent, "op": "",
                "start_ns": int(a * 1e9), "end_ns": int(b * 1e9)}

    def test_self_time_arithmetic(self):
        s = self.span
        spans = [
            s(1, "root", -1, 0, 10),
            s(2, "a", 1, 1, 4),
            s(3, "b", 1, 3, 6),        # overlaps a: 1..6 covered once
            s(4, "c", 1, 9, 12),       # clipped to the root's end
            s(5, "a", 2, 2, 3),        # grandchild
            s(6, "other", -1, 20, 21),  # second root
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st["root"], 10 - 5 - 1)
        self.assertAlmostEqual(st["a"], 3 - 1 + 1)  # both spans named a
        self.assertAlmostEqual(st["b"], 3)
        self.assertAlmostEqual(st["c"], 3)
        self.assertAlmostEqual(st["other"], 1)

    def test_self_times_of_a_tree_sum_to_its_root(self):
        s = self.span
        spans = [s(1, "root", -1, 0, 8), s(2, "x", 1, 0, 2),
                 s(3, "y", 1, 2, 5), s(4, "z", 3, 3, 4)]
        self.assertAlmostEqual(sum(self_times(spans).values()), 8)


class CompareTest(unittest.TestCase):
    BASE = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def verdict(self, change, bound=0.1):
        return compare.verdict(self.BASE, change, "lower", bound,
                               list(zip(self.BASE, change)))

    def test_verdicts(self):
        self.assertEqual(self.verdict([v * 0.8 for v in self.BASE]), "gain")
        self.assertEqual(self.verdict([v * 1.2 for v in self.BASE]),
                         "regression")
        self.assertEqual(self.verdict([v * 1.01 for v in self.BASE]),
                         "within bound")
        # winning most pairs is not enough when the medians barely differ
        self.assertEqual(self.verdict([v - 0.01 for v in self.BASE]),
                         "within bound")

    def test_more_failed_ops_voids_a_gain(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            metrics = [m["name"] for m in json.load(f)["end_to_end"]]

        def runs(values, failed):
            return [{"seed": i, "failed": failed, "attempted": 10,
                     "metrics": {m: {"value": v} for m in metrics}}
                    for i, v in enumerate(values)]
        with tempfile.TemporaryDirectory() as d:
            for side, vals, failed in (("a", self.BASE, 0),
                                       ("b", [v * 0.8 for v in self.BASE], 1)):
                os.makedirs(os.path.join(d, side))
                for w in ("ingest_batch", "ingest_stream", "query_mix"):
                    with open(os.path.join(d, side, f"{w}.jsonl"), "w") as f:
                        for r in runs(vals, failed):
                            f.write(json.dumps(r) + "\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = compare.main(["compare.py", os.path.join(d, "a"),
                                   os.path.join(d, "b")])
        self.assertEqual(rc, 1)
        self.assertIn("no gain: more ops failed", out.getvalue())
        self.assertNotIn(" gain\n", out.getvalue())


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def write_dump(self, table, rows):
        with open(os.path.join(self.dir, f"{table}.tsv"), "w") as f:
            for r in rows:
                f.write("\x1f".join(gen.canon(v) for v in r) + "\n")

    def test_catalog_checker_rejects_a_planted_wrong_row(self):
        rows = [("v1", "Title", None, 3, 1.5, True, 1700000000000000),
                ("v2", None, "d", 4, 2.25, False, None)]
        manifest = {"tables": {"videos": gen.table_digest(rows)}}
        self.write_dump("videos", list(reversed(rows)))
        self.assertEqual(check.check_catalog(self.dir, manifest), [])
        wrong = [rows[0], ("v2", None, "d", 5, 2.25, False, None)]
        self.write_dump("videos", wrong)
        self.assertEqual(len(check.check_catalog(self.dir, manifest)), 1)
        self.write_dump("videos", rows[:1])
        self.assertEqual(len(check.check_catalog(self.dir, manifest)), 1)

    def test_catalog_checker_catches_a_downgrade(self):
        rows = [("v1", "Old"), ("v2", "New (remastered)")]
        manifest = {"tables": {}, "guard_refused": ["v1", "v2"]}
        self.write_dump("videos", rows)
        bad = check.check_catalog(self.dir, manifest)
        self.assertEqual(len(bad), 1)
        self.assertIn("W2", bad[0])

    def test_query_checker_rejects_a_planted_wrong_row(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tables = os.path.join(self.dir, "tables")
        os.makedirs(tables)
        for t in gen.QUERY_TABLES:
            pq.write_table(pa.table({"k": [1, 2, 2], "v": [1.5, 2.0, 3.0]}),
                           os.path.join(tables, f"{t}.parquet"))
        oracle = os.path.join(self.dir, "oracle.json")
        with open(oracle, "w") as f:
            json.dump({"q": "SELECT k, sum(v) AS s FROM orders GROUP BY k"}, f)
        res = os.path.join(self.dir, "results", "q")
        os.makedirs(res)
        out = os.path.join(res, "part-0.parquet")
        pq.write_table(pa.table({"s": [5.0, 1.5], "k": [2, 1]}), out)
        self.assertEqual(check.check_queries(
            os.path.join(self.dir, "results"), tables, oracle), [])
        pq.write_table(pa.table({"s": [5.0, 1.25], "k": [2, 1]}), out)
        self.assertEqual(len(check.check_queries(
            os.path.join(self.dir, "results"), tables, oracle)), 1)


if __name__ == "__main__":
    unittest.main()
