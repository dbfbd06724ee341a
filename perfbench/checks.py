"""Output checks, computed apart from the program.

* Catalog: each query's result is compared with DuckDB running the query's
  oracle SQL over the same parquet tables.  Rule: column names sorted,
  order-insensitive, floats at 6 places, NaN as NULL.
* Tick: from the generator's own rows, the cleaned row count, the
  (status, product_type, branch) aggregates after mode imputation
  (count desc, value asc tie-break) and the report's top-10; every gzip
  decompresses to its raw copy and the ledger holds each arrived file once.
* Stream: the running aggregates equal a group-by of the arrived rows.

Each check returns a list of problems; empty means correct.
"""
import collections
import glob
import gzip
import hashlib
import html
import json
import math
import os
import pickle
import re

import duckdb
import pyarrow.parquet as pq

from gen import LOAN_COLUMNS

# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return "NULL" if v != v else round(v, 6)
    return v


def _rows(df):
    cols = sorted(df.columns)
    return cols, [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)]


class Oracle:
    """DuckDB over the catalog tables.

    The tables are fixed, so an oracle result is computed once per
    (tables, SQL) and kept under `cache_dir`: some oracles (the recursive
    connected-components ones) take most of a minute in DuckDB.  The
    tables are known by their dir's name, which names the generator's
    version (run.catalog_data).
    """

    def __init__(self, data_dir, tables, cache_dir=None):
        self.con = duckdb.connect()
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.data_key = os.path.basename(os.path.normpath(data_dir))
        self.cache_dir = cache_dir
        self.cache = {}

    def expected(self, name, sql):
        if name not in self.cache:
            path = None
            if self.cache_dir:
                key = hashlib.sha256(f"{self.data_key}\n{name}\n{sql}".encode()).hexdigest()
                path = os.path.join(self.cache_dir, f"{name}-{key[:16]}.pickle")
            if path and os.path.exists(path):
                with open(path, "rb") as f:
                    cols, rows = pickle.load(f)
            else:
                cols, rows = _rows(self.con.execute(sql).fetchdf())
                if path:
                    os.makedirs(self.cache_dir, exist_ok=True)
                    with open(path + ".tmp", "wb") as f:
                        pickle.dump((cols, rows), f)
                    os.replace(path + ".tmp", path)
            self.cache[name] = (cols, rows, sorted(map(repr, rows)))
        return self.cache[name]

    def check(self, name, sql, result_dir):
        """Problems with the Spark result written under `result_dir`."""
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return [f"{name}: no result files"]
        got_cols, got = _rows(self.con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf())
        cols, rows, rows_sorted = self.expected(name, sql)
        if got_cols != cols:
            return [f"{name}: columns {got_cols} != {cols}"]
        if len(got) != len(rows):
            return [f"{name}: {len(got)} rows != {len(rows)}"]
        if got != rows and sorted(map(repr, got)) != rows_sorted:
            diff = [(a, b) for a, b in zip(sorted(map(repr, got)), rows_sorted) if a != b][:2]
            return [f"{name}: values differ, first: {diff}"]
        return []


# ---------------------------------------------------------------------------
# loan rows
# ---------------------------------------------------------------------------

_COL = {c: i for i, c in enumerate(LOAN_COLUMNS)}
_GROUP = ("status", "product_type", "branch")
_NUMBER = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _amount(s):
    """The double a string amount casts to, None when it is malformed."""
    return float(s) if s is not None and _NUMBER.match(s.strip()) else None


def mode(values):
    """Most frequent non-null value; ties go to the smallest value."""
    counts = collections.Counter(v for v in values if v is not None)
    if not counts:
        return None
    return min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]


def tick_aggregates(rows):
    """(status, product_type, branch) -> (count, sum of amount) after the
    tick's imputation: each of these columns, and the amount column, which
    malformed values keep a string column, has its nulls filled with the
    column's mode over every row landed so far.
    """
    modes = {c: mode(r[_COL[c]] for r in rows) for c in _GROUP + ("amount",)}
    agg = {}
    for r in rows:
        key = tuple(r[_COL[c]] if r[_COL[c]] is not None else modes[c] for c in _GROUP)
        amt = r[_COL["amount"]] if r[_COL["amount"]] is not None else modes["amount"]
        n, s = agg.get(key, (0, None))
        a = _amount(amt)
        agg[key] = (n + 1, s if a is None else (a if s is None else s + a))
    return agg


def stream_aggregates(rows):
    """The stream's running aggregates: raw group keys, nulls included, and
    the amount as the CSV reader parses it under the declared double type.
    """
    agg = {}
    for r in rows:
        key = tuple(r[_COL[c]] for c in _GROUP)
        n, s = agg.get(key, (0, None))
        a = _amount(r[_COL["amount"]])
        agg[key] = (n + 1, s if a is None else (a if s is None else s + a))
    return agg


def _same_sum(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def compare_aggregates(label, expected, agg_dir):
    """Problems with the aggregates parquet under `agg_dir`."""
    files = sorted(glob.glob(os.path.join(agg_dir, "*.parquet")))
    if not files:
        return [f"{label}: no aggregates written"]
    got = {}
    for f in files:
        for row in pq.read_table(f).to_pylist():
            key = tuple(row.get(c) for c in _GROUP)
            if key in got:
                return [f"{label}: group {key} written twice"]
            got[key] = (row["loan_count"], row["total_amount"])
    problems = []
    for key in sorted(set(got) | set(expected), key=repr):
        e, g = expected.get(key), got.get(key)
        if e is None or g is None:
            problems.append(f"{label}: group {key} expected {e} got {g}")
        elif e[0] != g[0] or not _same_sum(e[1], g[1]):
            problems.append(f"{label}: group {key} expected {e} got {g}")
    return problems[:5]


_TD = re.compile(r"<td[^>]*>(.*?)</td>", re.S)


def report_rows(html_text):
    """(status, product, branch, count, total) rows of the report's aggregate table."""
    if "Loan Aggregates" not in html_text:
        return []
    table = html_text.split("Loan Aggregates", 1)[1]
    body = table.split("<tbody>", 1)[1].split("</tbody>", 1)[0]
    rows = []
    for tr in body.split("<tr>")[1:]:
        cells = [html.unescape(c.strip()) for c in _TD.findall(tr)]
        if len(cells) == 5:
            rows.append((cells[0], cells[1], cells[2], int(cells[3]), cells[4]))
    return rows


def check_report(label, expected, html_text, k=10):
    """The report shows the k largest groups: each row's figures match its
    group, and the counts are the k largest (ties in either order).
    """
    rows = report_rows(html_text)
    want = sorted((n for n, _ in expected.values()), reverse=True)[:k]
    problems = []
    if sorted((r[3] for r in rows), reverse=True) != want:
        problems.append(f"{label}: report counts {[r[3] for r in rows]} != top-{k} {want}")
    for s, p, b, n, total in rows:
        e = expected.get((s, p, b))
        if e is None or e[0] != n or total != f"{(e[1] or 0.0):.2f}":
            problems.append(f"{label}: report row {(s, p, b, n, total)} expected {e}")
    return problems[:5]


def check_tick(label, rows, op, snapshot):
    """One tick: cleaned row count, aggregates, report top-10, ledger."""
    expected = tick_aggregates(rows)
    problems = []
    if op.get("etl_rows") != len(rows):
        problems.append(f"{label}: {op.get('etl_rows')} cleaned rows != {len(rows)} landed")
    problems += compare_aggregates(label, expected, os.path.join(snapshot, "aggregates"))
    report = os.path.join(snapshot, "report.html")
    if not os.path.exists(report):
        problems.append(f"{label}: no report written")
    else:
        with open(report, encoding="utf-8") as f:
            problems += check_report(label, expected, f.read())
    return problems


def check_ledger(label, arrived, ledger_path):
    """The ledger names each arrived file exactly once, and nothing else."""
    with open(ledger_path, encoding="utf-8") as f:
        ids = json.load(f).get("processed_file_ids", [])
    names = [i.rsplit("/", 1)[-1] for i in ids]
    problems = []
    if len(names) != len(set(names)):
        dup = [n for n, c in collections.Counter(names).items() if c > 1]
        problems.append(f"{label}: ledger lists {dup} more than once")
    if sorted(set(names)) != sorted(arrived):
        problems.append(f"{label}: ledger holds {len(set(names))} files, "
                        f"{len(arrived)} arrived")
    return problems


def check_landing(label, dag_dir, sources):
    """Every arrived file has a raw copy equal to its source bytes and a
    gzip that decompresses to that copy byte for byte.
    """
    problems = []
    for name, data in sources.items():
        raw = os.path.join(dag_dir, "raw", name)
        gz = os.path.join(dag_dir, "compressed", name + ".gz")
        if not (os.path.exists(raw) and os.path.exists(gz)):
            problems.append(f"{label}: {name} not landed")
            continue
        with open(raw, "rb") as f:
            copy = f.read()
        with gzip.open(gz, "rb") as f:
            unzipped = f.read()
        if copy != data:
            problems.append(f"{label}: raw copy of {name} differs from the arrival")
        if unzipped != copy:
            problems.append(f"{label}: {name}.gz does not decompress to its raw copy")
    return problems[:5]
