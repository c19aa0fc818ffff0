"""Tests of the benchmark's own checkers and generators.

    python3 -m unittest discover -s perfbench/tests

Each checker must accept a correct result and reject the same result with
one row dropped or one value changed; the generators must give the same
inputs for the same seed.
"""
import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import unittest
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402


def write(path, cols):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def rows_to_cols(names, rows):
    return {n: [r[i] for r in rows] for i, n in enumerate(names)}


class OracleCompareTest(unittest.TestCase):
    SQL = ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty "
           "FROM lineitem GROUP BY 1 ORDER BY 1")

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.data = os.path.join(cls.tmp, "data")
        gen.star(cls.data, 11)
        con = checks.star_connection(cls.data)
        cls.cols, cls.rows = checks._rows(con, cls.SQL)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def run_check(self, rows):
        out = os.path.join(self.tmp, "out")
        shutil.rmtree(out, ignore_errors=True)
        write(os.path.join(out, "q_test"), rows_to_cols(self.cols, rows))
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q_test": self.SQL}, f)
        return checks.check_oracle_ops(["q_test"], self.data, out)

    def test_accepts_the_oracle_result(self):
        self.assertEqual(self.run_check(self.rows), [])

    def test_rejects_a_dropped_row(self):
        self.assertTrue(self.run_check(self.rows[1:]))

    def test_rejects_a_changed_value(self):
        bad = list(self.rows)
        bad[0] = (bad[0][0], bad[0][1] + 1, bad[0][2])
        self.assertTrue(self.run_check(bad))

    def test_rejects_a_changed_order(self):
        self.assertTrue(self.run_check(list(reversed(self.rows))))


class NearDupTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        docs = gen.documents(np.random.default_rng(3), 400)
        cls.texts = dict(zip(docs["doc_id"].tolist(), docs["text"]))
        cls.pairs = sorted(checks.planted_pairs(cls.texts))
        sh = {d: checks.shingles(t) for d, t in cls.texts.items()}
        cls.rows = [(a, b, checks.jaccard(sh[a], sh[b])) for a, b in cls.pairs]
        # connected components of the pair graph -> q72 rows
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x
        for a, b in cls.pairs:
            parent[find(b)] = find(a)
        comps = {}
        for d in {d for p in cls.pairs for d in p}:
            comps.setdefault(find(d), []).append(d)
        cls.clusters = sorted((min(m), len(m), "|".join(map(str, sorted(m))))
                              for m in comps.values())

    def test_planted_pairs_exist(self):
        self.assertGreater(len(self.pairs), 10)

    def test_pairs_accepted(self):
        self.assertEqual(checks.check_near_dup_pairs(self.rows, self.texts), [])

    def test_pairs_reject_a_dropped_row(self):
        self.assertTrue(checks.check_near_dup_pairs(self.rows[1:], self.texts))

    def test_pairs_reject_a_changed_value(self):
        a, b, j = self.rows[0]
        self.assertTrue(checks.check_near_dup_pairs([(a, b, j - 0.01)] + self.rows[1:], self.texts))

    def test_pairs_reject_an_unverified_pair(self):
        dup = {d for p in self.pairs for d in p}
        a, b = [d for d in sorted(self.texts) if d not in dup][:2]
        self.assertTrue(checks.check_near_dup_pairs(self.rows + [(a, b, 0.9)], self.texts))

    def test_clusters_accepted(self):
        self.assertEqual(checks.check_clusters(self.clusters, self.texts), [])

    def test_clusters_reject_a_dropped_row(self):
        self.assertTrue(checks.check_clusters(self.clusters[1:], self.texts))

    def test_clusters_reject_a_changed_value(self):
        cid, n, members = self.clusters[0]
        self.assertTrue(checks.check_clusters([(cid, n + 1, members)] + self.clusters[1:],
                                              self.texts))

    def test_clusters_reject_a_merge_of_unconnected_sets(self):
        (c1, n1, m1), (c2, n2, m2) = self.clusters[:2]
        merged = "|".join(map(str, sorted(int(x) for x in (m1 + "|" + m2).split("|"))))
        self.assertTrue(checks.check_clusters([(c1, n1 + n2, merged)] + self.clusters[2:],
                                              self.texts))


class WikiTest(unittest.TestCase):
    CFG = {"pages": 60, "max_depth": 3}
    SEED = 5

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.out = os.path.join(self.tmp, "out")
        t = checks.wiki_truth(self.SEED, self.CFG)
        tr = t["truth"]
        self.t = t
        crawl = sorted(t["crawl"].items())
        self.tables = {
            "crawl": (["url", "depth"], crawl),
            "jdbc_pages": (["id", "file_name", "word_count", "last_edited_date"],
                           [(k + 1, t["file"][i], len(t["html"][i].split(" ")), tr["dates"][i])
                            for k, i in enumerate(t["pages"])]),
        }
        cats = sorted({c for i in t["pages"] for c in tr["categories"][i]})
        cat_id = {c: k + 1 for k, c in enumerate(cats)}
        self.tables["jdbc_categories"] = (["id", "name"], [(cat_id[c], c) for c in cats])
        self.tables["jdbc_page_categories"] = (
            ["page_id", "category_id"],
            [(k + 1, cat_id[c]) for k, i in enumerate(t["pages"]) for c in tr["categories"][i]])
        counts = Counter(c for i in t["pages"] for c in tr["categories"][i])
        self.tables["distribution"] = (
            ["name", "n_pages"], sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])))
        self.tables["converted"] = (
            ["file_name", "extracted_text"],
            [(t["file"][i], f"x {tr['bodies'][i]} y") for i in t["pages"]])
        self.tables["ledger"] = (["url"], [(t["url"][i],) for i in t["pages"]])
        self.dirs = {d: os.path.join(self.tmp, "wiki", d)
                     for d in ("html", "done", "ledger", "converted")}
        for d in ("html", "done"):
            os.makedirs(self.dirs[d])
        for i in t["pages"]:
            open(os.path.join(self.dirs["done"], t["file"][i] + ".html"), "w").close()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_check(self, table=None, rows=None):
        shutil.rmtree(self.out, ignore_errors=True)
        for name, (cols, rs) in self.tables.items():
            if name == table:
                rs = rows
            path = self.dirs[name] if name in self.dirs else os.path.join(self.out, name)
            shutil.rmtree(path, ignore_errors=True)
            write(path, rows_to_cols(cols, rs))
        with open(os.path.join(self.out, "wiki_dirs.json"), "w") as f:
            json.dump(self.dirs, f)
        return checks.check_wiki(self.SEED, self.CFG, self.out)

    def test_planted_truth_accepted(self):
        self.assertGreater(len(self.t["pages"]), 32)
        self.assertEqual(self.run_check(), [])

    def test_every_table_rejects_a_dropped_row(self):
        for name, (_, rows) in self.tables.items():
            with self.subTest(table=name):
                self.assertTrue(self.run_check(name, rows[1:]))

    def test_every_table_rejects_a_changed_value(self):
        def change(v):
            if isinstance(v, str):
                return v[:len(v) // 2] + "#" + v[len(v) // 2 + 1:]
            if isinstance(v, dt.date):
                return v + dt.timedelta(days=1)
            return v + 1
        for name, (cols, rows) in self.tables.items():
            for c in range(len(cols)):
                with self.subTest(table=name, column=cols[c]):
                    bad = list(rows)
                    bad[0] = tuple(change(v) if k == c else v for k, v in enumerate(bad[0]))
                    self.assertTrue(self.run_check(name, bad))

    def test_rejects_script_text_in_converted_output(self):
        cols, rows = self.tables["converted"]
        bad = [(rows[0][0], rows[0][1] + f" scriptnoise{self.t['pages'][0]}")] + rows[1:]
        self.assertTrue(self.run_check("converted", bad))

    def test_rejects_an_unmoved_file(self):
        open(os.path.join(self.dirs["html"], "left.html"), "w").close()
        self.assertTrue(self.run_check())


class GeneratorTest(unittest.TestCase):
    def test_star_is_deterministic_per_seed(self):
        tmp = tempfile.mkdtemp()
        try:
            for d, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.star(os.path.join(tmp, d), seed)
            for t in checks.TABLES:
                a, b, c = (pq.read_table(os.path.join(tmp, d, f"{t}.parquet")) for d in "abc")
                self.assertTrue(a.equals(b), t)
                if t not in ("region", "nation"):
                    self.assertFalse(a.equals(c), t)
        finally:
            shutil.rmtree(tmp)

    def test_wiki_is_deterministic_per_seed(self):
        self.assertEqual(gen.wiki(4, 80), gen.wiki(4, 80))
        self.assertNotEqual(gen.wiki(4, 80)[0], gen.wiki(5, 80)[0])

    def test_wiki_plants_an_unreachable_tail(self):
        _, truth = gen.wiki(4, 80)
        reach = gen.bfs_depths(truth["links"], 0, 100)
        self.assertEqual(set(reach), set(range(truth["n_reach"])))


if __name__ == "__main__":
    unittest.main()
