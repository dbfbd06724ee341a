#!/usr/bin/env python3
"""The checks catch corrupted results.

    python3 perfbench/test_checks.py

Feeds each check a correct result and a corrupted one (a catalog row
dropped, a catalog value changed, an aggregate count off by one, a report
row off by one, a ledger entry doubled, a gzip that does not match its raw
copy) and asserts that only the corrupted one is reported.  Needs no JVM;
writes only under perfbench/.work/selftest.
"""
import gzip
import json
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work", "selftest")


def write_parquet(path, rows):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))


def agg_rows(agg):
    return [{"status": k[0], "product_type": k[1], "branch": k[2],
             "loan_count": n, "total_amount": s} for k, (n, s) in sorted(agg.items(), key=repr)]


def report_html(agg, k=10):
    top = sorted(agg.items(), key=lambda kv: -kv[1][0])[:k]
    rows = "\n".join(
        f"<tr><td>{s}</td><td>{p}</td><td>{b}</td><td style=\"x\">{n}</td>"
        f"<td style=\"x\">{(t or 0.0):.2f}</td></tr>" for (s, p, b), (n, t) in top)
    return f"<h3>Loan Aggregates</h3><table><thead></thead><tbody>\n{rows}\n</tbody></table>"


class CatalogCheck(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(WORK, "catalog")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        pq.write_table(pa.table({"k": ["a", "b", "b", "c", "c", "c"],
                                 "v": [1.5, 2.0, 2.25, 3.0, 3.0, 3.125]}),
                       os.path.join(self.dir, "t.parquet"))
        self.sql = "SELECT k, count(*) AS cnt, sum(v) AS total FROM t GROUP BY k ORDER BY k"
        self.oracle = checks.Oracle(self.dir, ["t"])
        self.good = [{"k": "a", "cnt": 1, "total": 1.5}, {"k": "b", "cnt": 2, "total": 4.25},
                     {"k": "c", "cnt": 3, "total": 9.125}]

    def check(self, rows, name):
        out = os.path.join(self.dir, name)
        write_parquet(out, rows)
        return self.oracle.check("q", self.sql, out)

    def test_correct_result_passes_in_any_order(self):
        self.assertEqual(self.check(self.good, "good"), [])
        self.assertEqual(self.check(self.good[::-1], "reversed"), [])

    def test_dropped_row_is_caught(self):
        self.assertTrue(self.check(self.good[:-1], "dropped"))

    def test_changed_value_is_caught(self):
        bad = [dict(r) for r in self.good]
        bad[1]["total"] = 4.26
        self.assertTrue(self.check(bad, "changed"))


class LoanChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        steps = gen.loan_arrivals(5)
        batch = next(files for step, files in steps if step.endswith("-batch"))
        cls.files = steps[0][1][:2] + batch[:1]
        cls.rows = [r for _, rs, _ in cls.files for r in rs]

    def setUp(self):
        self.dir = os.path.join(WORK, "loan", self.id().rsplit(".", 1)[-1])
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def tick_snapshot(self, agg, html):
        write_parquet(os.path.join(self.dir, "aggregates"), agg_rows(agg))
        with open(os.path.join(self.dir, "report.html"), "w") as f:
            f.write(html)
        return self.dir

    def test_mode_tie_break_is_count_desc_then_value_asc(self):
        self.assertEqual(checks.mode(["b", "a", "b", "a", None, None, None]), "a")
        self.assertEqual(checks.mode(["b", "a", "b"]), "b")

    def test_correct_tick_passes(self):
        agg = checks.tick_aggregates(self.rows)
        snap = self.tick_snapshot(agg, report_html(agg))
        self.assertEqual(checks.check_tick("t", self.rows, {"etl_rows": len(self.rows)}, snap), [])

    def test_aggregate_count_off_by_one_is_caught(self):
        agg = checks.tick_aggregates(self.rows)
        bad = dict(agg)
        key = sorted(bad, key=repr)[3]
        bad[key] = (bad[key][0] + 1, bad[key][1])
        snap = self.tick_snapshot(bad, report_html(agg))
        self.assertTrue(checks.check_tick("t", self.rows, {"etl_rows": len(self.rows)}, snap))

    def test_report_count_off_by_one_is_caught(self):
        agg = checks.tick_aggregates(self.rows)
        top = max(agg, key=lambda k: agg[k][0])
        bad = dict(agg)
        bad[top] = (bad[top][0] - 1, bad[top][1])
        snap = self.tick_snapshot(agg, report_html(bad))
        self.assertTrue(checks.check_tick("t", self.rows, {"etl_rows": len(self.rows)}, snap))

    def test_cleaned_row_count_off_by_one_is_caught(self):
        agg = checks.tick_aggregates(self.rows)
        snap = self.tick_snapshot(agg, report_html(agg))
        self.assertTrue(checks.check_tick("t", self.rows, {"etl_rows": len(self.rows) - 1}, snap))

    def test_stream_aggregates_keep_null_keys_and_catch_a_miscount(self):
        agg = checks.stream_aggregates(self.rows)
        self.assertTrue(any(None in k for k in agg))
        path = os.path.join(self.dir, "aggregates")
        write_parquet(path, agg_rows(agg))
        self.assertEqual(checks.compare_aggregates("s", agg, path), [])
        bad = dict(agg)
        key = sorted(bad, key=repr)[0]
        bad[key] = (bad[key][0] + 1, bad[key][1])
        write_parquet(path, agg_rows(bad))
        self.assertTrue(checks.compare_aggregates("s", agg, path))

    def test_ledger_entry_twice_or_missing_is_caught(self):
        names = [n for n, _, _ in self.files]
        path = os.path.join(self.dir, "ledger.json")
        for ids, ok in [(names, True), (names + names[:1], False), (names[:-1], False)]:
            with open(path, "w") as f:
                json.dump({"processed_file_ids": [f"file:/x/incoming/{n}" for n in ids]}, f)
            self.assertEqual(checks.check_ledger("l", names, path) == [], ok)

    def test_gzip_that_differs_from_its_raw_copy_is_caught(self):
        name, _, data = self.files[0]
        os.makedirs(os.path.join(self.dir, "raw"))
        os.makedirs(os.path.join(self.dir, "compressed"))
        with open(os.path.join(self.dir, "raw", name), "wb") as f:
            f.write(data)
        gz = os.path.join(self.dir, "compressed", name + ".gz")
        with gzip.open(gz, "wb") as f:
            f.write(data)
        self.assertEqual(checks.check_landing("g", self.dir, {name: data}), [])
        with gzip.open(gz, "wb") as f:
            f.write(data[:-1])
        self.assertTrue(checks.check_landing("g", self.dir, {name: data}))


if __name__ == "__main__":
    unittest.main()
