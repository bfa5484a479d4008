"""Tests of the benchmark's own rules. Run: python3 -m unittest discover perfbench/tests"""
import datetime
import filecmp
import os
import sys
import tempfile
import unittest
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyse  # noqa: E402
import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def write(self, seed, rows=400):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        return d, gen.write_retail(d, seed, rows)

    def test_same_seed_same_bytes(self):
        a, oa = self.write(7)
        b, ob = self.write(7)
        for day in range(4):
            self.assertTrue(filecmp.cmp(os.path.join(a, f"day{day}.csv"),
                                        os.path.join(b, f"day{day}.csv"), shallow=False))
        self.assertEqual(oa["expired_versions"], ob["expired_versions"])

    def test_other_seed_other_bytes(self):
        a, _ = self.write(7)
        b, _ = self.write(8)
        self.assertFalse(filecmp.cmp(os.path.join(a, "day0.csv"),
                                     os.path.join(b, "day0.csv"), shallow=False))

    def test_extract_quirks(self):
        d, oracle = self.write(3, rows=2000)
        with open(os.path.join(d, "day1.csv"), "rb") as f:
            raw = f.read()
        lines = raw.decode("latin1").splitlines()
        header = lines[0].split(",")
        rows = [l.split(",") for l in lines[1:]]
        cat = header.index("Category")
        self.assertEqual(len(rows), oracle["days"][1]["rows"])
        # M/d/yyyy dates, a mostly-null category, latin1 bytes
        self.assertRegex(rows[0][header.index("Order Date")], r"^\d{1,2}/\d{1,2}/\d{4}$")
        null_share = sum(1 for r in rows if r[cat] == "") / len(rows)
        self.assertGreater(null_share, 0.85)
        self.assertLess(null_share, 0.95)
        with self.assertRaises(UnicodeDecodeError):
            raw.decode("utf-8")
        # some product ids carry more than one name in one extract
        names = {}
        for r in rows:
            names.setdefault(r[header.index("Product ID")], set()).add(
                r[header.index("Product Name")])
        self.assertTrue(any(len(v) > 1 for v in names.values()))
        # later days add keys and change tracked attributes
        self.assertGreater(oracle["days"][1]["customers"], oracle["days"][0]["customers"])
        self.assertGreater(oracle["days"][1]["changed_keys"], 0)

    def test_catalog_tables_fixed(self):
        a, b = tempfile.mkdtemp(), tempfile.mkdtemp()
        self.addCleanup(lambda: [__import__("shutil").rmtree(x) for x in (a, b)])
        gen.write_catalog_tables(a, 0.0001)
        gen.write_catalog_tables(b, 0.0001)
        for t in ("lineitem", "documents", "embeddings", "events"):
            self.assertTrue(filecmp.cmp(os.path.join(a, f"{t}.parquet"),
                                        os.path.join(b, f"{t}.parquet"), shallow=False))


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertEqual(analyse.percentile(range(1, 201), 0.95), 190)
        self.assertIsNone(analyse.percentile(range(1, 200), 0.95))
        self.assertEqual(analyse.percentile(range(1, 51), 0.80), 40)
        self.assertIsNone(analyse.percentile(range(1, 50), 0.80))
        self.assertIsNone(analyse.percentile([], 0.5))

    def test_order_does_not_matter(self):
        xs = list(range(100))
        self.assertEqual(analyse.percentile(reversed(xs), 0.5), 49)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "layer": layer, "name": f"s{i}"}


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 40, 90),
                 span(3, 2, 50, 60)]
        st = analyse.self_times(spans)
        self.assertEqual(st, {0: 100 - 20 - 50, 1: 20, 2: 50 - 10, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 60)]
        self.assertEqual(analyse.self_times(spans)[0], 100 - 50)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 120)]
        self.assertEqual(analyse.self_times(spans)[0], 90)


class CheckTest(unittest.TestCase):
    def test_kpis_from_oracle_slices(self):
        day = {"slices": {"Consumer|Beauty|2015": [1000, -250, 2],
                          "Corporate|Jewellery|2016": [1, 3, 1]}}
        got = analyse.expected_answer(day, {"chart": "kpis", "slice": None, "arg": ""})
        self.assertEqual(got, [[10.01, -2.47, 3, 10.01 / 3]])
        got = analyse.expected_answer(
            day, {"chart": "categoryVsRest", "slice": ["order_year", "2015"],
                  "arg": "Jewellery"})
        self.assertEqual(got, [["rest", 10.0, -2.5]])

    def test_catalog_counts_missing_entries(self):
        a = {"name": "a", "rows": 1, "columns": ["x"], "values": [[1]]}
        want = {"a": {"rows": 1, "digest": analyse.result_digest(["x"], [[1]])},
                "b": {"rows": 2}, "c": {"rows": 3}}
        attempted, failed, problems = analyse.check_catalog(
            {"entries": [a, {"name": "b", "error": "boom"}]}, want)
        self.assertEqual((attempted, failed), (3, 2))

    def test_catalog_wrong_value_same_count_fails(self):
        want = {"a": {"rows": 1, "digest": analyse.result_digest(["total"], [[10.5]])}}
        ok = {"name": "a", "rows": 1, "columns": ["total"], "values": [[10.5]]}
        self.assertEqual(analyse.check_catalog({"entries": [ok]}, want)[1], 0)
        wrong = dict(ok, values=[[10.25]])
        attempted, failed, problems = analyse.check_catalog({"entries": [wrong]}, want)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("digest", problems[0])


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        d = analyse.result_digest(["b", "a"], [[1, "x"], [2, "y"]])
        self.assertEqual(d, analyse.result_digest(["a", "b"], [["y", 2], ["x", 1]]))

    def test_values_and_names_matter(self):
        d = analyse.result_digest(["a"], [[1], [2]])
        self.assertNotEqual(d, analyse.result_digest(["a"], [[1], [3]]))
        self.assertNotEqual(d, analyse.result_digest(["c"], [[1], [2]]))
        self.assertNotEqual(d, analyse.result_digest(["a"], [[1], [2], [2]]))

    def test_number_kinds(self):
        # whole numbers apart from doubles; decimals compare as doubles
        self.assertNotEqual(analyse.result_digest(["a"], [[170]]),
                            analyse.result_digest(["a"], [[170.0]]))
        self.assertEqual(analyse.result_digest(["a"], [[Decimal("2.5")]]),
                         analyse.result_digest(["a"], [[2.5]]))
        self.assertEqual(analyse.result_digest(["a"], [[-0.0]]),
                         analyse.result_digest(["a"], [[0.0]]))

    def test_dates_and_structs(self):
        # DuckDB hands back dates and dicts; the harness ISO strings and maps
        self.assertEqual(
            analyse.result_digest(["d", "s"], [[datetime.date(2020, 1, 2), {"y": 1, "x": [1.5]}]]),
            analyse.result_digest(["d", "s"], [["2020-01-02", {"x": [1.5], "y": 1}]]))


if __name__ == "__main__":
    unittest.main()
