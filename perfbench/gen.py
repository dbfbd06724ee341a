"""Input generators for the benchmark.

Two kinds of input, both a pure function of their arguments:

* ``catalog_tables`` writes the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query catalog reads, one
  parquet file per table, at a given scale factor.  The layout follows the
  catalog's expectations: uniform keys, micros timestamps without a zone,
  a 30-word document vocabulary with appended near-duplicates, unit-norm
  64-d float embeddings.
* ``loan_arrivals`` builds the loan CSV files of the ``loan_ingest`` and
  ``loan_stream`` workloads: a history and a sequence of batches, with nulls in every
  column, malformed ``amount`` strings, and a ``branch`` column whose
  running mode flips at a known batch.  The rows are returned too, so the
  checks can recompute the expected outputs without going through the
  program.
"""
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")

_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "the agg key query a scan batch").split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _ts(base, seconds):
    """Micros timestamps (no zone) `seconds` after `base`."""
    us = np.asarray(np.round(np.asarray(seconds) * 1e6), dtype="int64")
    start = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(us + start, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(out_dir, sf, seed=42):
    """Write every catalog table under `out_dir` at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    tables = {}
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))

    tables["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    tables["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    ptypes = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * 86400)})
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    tables["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": i64(rng.integers(0, max(15, int(15_000 * sf)), n_ev)),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word strings; every 20th doc is another doc's text
    # with " dup" appended (the near-duplicate structure dedup queries find)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n_docs))
        while src in dups:
            src = int(rng.integers(0, n_docs))
        texts[d] = texts[src] + " dup"
    tables["documents"] = pa.table({
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in CATALOG_TABLES:
        pq.write_table(tables[name], os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


# ---------------------------------------------------------------------------
# loan arrivals
# ---------------------------------------------------------------------------

LOAN_COLUMNS = ("loan_id", "customer_id", "created_at", "amount", "interest_rate",
                "tenure_months", "status", "product_type", "branch",
                "credit_score_band")
STATUSES = ["approved", "pending", "rejected", "closed"]
PRODUCTS = ["personal", "auto", "home", "business", "education"]
BRANCHES = ["north", "south", "east", "west", "central"]
BANDS = ["A", "B", "C", "D", "E"]
MALFORMED = ["N/A", "unknown", "12.5.0", "$1200", "#VALUE!"]

# Shape of one loan_ingest round; the README quotes these.
FILES_PER_BATCH = 4
ROWS_PER_FILE = 2000
HISTORY_BATCHES = 4          # history = 4 batches' worth of files, landed
HISTORY_STEPS = 3            # in this many untimed steps
BATCHES = 4                  # timed batches per round
NULL_RATE = 0.03             # per cell, every column
MALFORMED_RATE = 0.02        # of amount cells

# branch weights before (history) and after (batches) the shift; the
# running branch mode flips when batch 1 (the second) lands. With the
# history at 4 batches' worth, north leads until batch 1 is added:
# north 4*.34+.10=1.46 > south 4*.22+.40=1.28 after batch 0,
# north 1.56 < south 1.68 after batch 1.
_BRANCH_P_HISTORY = [0.34, 0.22, 0.15, 0.15, 0.14]
_BRANCH_P_BATCH = [0.10, 0.40, 0.17, 0.17, 0.16]


def _loan_rows(rng, n, first_id, branch_p, day0):
    def pick(values, p):
        return np.asarray(values)[rng.choice(len(values), n, p=p)]
    created = [(day0 + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
               for s in rng.integers(0, 86400 * 30, n)]
    cols = [
        [f"L{first_id + i:08d}" for i in range(n)],
        [f"C{c:05d}" for c in rng.integers(0, 5000, n)],
        created,
        [f"{a:.1f}" for a in rng.integers(2, 101, n) * 500.0],
        [str(r) for r in np.round(rng.integers(14, 49, n) * 0.25, 2)],
        [str(t) for t in pick([12, 24, 36, 48, 60], None)],
        list(pick(STATUSES, [0.4, 0.3, 0.2, 0.1])),
        list(pick(PRODUCTS, [0.35, 0.25, 0.2, 0.12, 0.08])),
        list(pick(BRANCHES, branch_p)),
        list(pick(BANDS, [0.3, 0.25, 0.2, 0.15, 0.1])),
    ]
    bad = rng.random(n) < MALFORMED_RATE
    bad_value = rng.integers(0, len(MALFORMED), n)
    nulls = rng.random((n, len(cols))) < NULL_RATE
    rows = []
    for i in range(n):
        r = [str(c[i]) for c in cols]
        if bad[i]:
            r[3] = MALFORMED[bad_value[i]]
        rows.append([None if nulls[i, c] else v for c, v in enumerate(r)])
    return rows


def _csv(rows):
    lines = [",".join(LOAN_COLUMNS)]
    lines += [",".join("" if v is None else v for v in r) for r in rows]
    return ("\n".join(lines) + "\n").encode()


def loan_arrivals(seed):
    """The steps of one loan_ingest round, in order.

    Returns a list of ``(step, files)``: ``HISTORY_STEPS`` history steps
    (``00-history``, ...) and then ``BATCHES`` batches (``03-batch``, ...);
    the names sort in step order.
    ``files`` is a list of ``(filename, rows, csv_bytes)``; a row is a list
    of strings (``None`` for a null cell) in ``LOAN_COLUMNS`` order.
    """
    rng = np.random.default_rng(seed)
    next_id = 0
    files = []
    for f in range(HISTORY_BATCHES * FILES_PER_BATCH):
        rows = _loan_rows(rng, ROWS_PER_FILE, next_id, _BRANCH_P_HISTORY,
                          dt.datetime(2024, 1, 1))
        next_id += ROWS_PER_FILE
        files.append((f"loan_h{f:03d}.csv", rows, _csv(rows)))
    batches = []
    for b in range(BATCHES):
        batch = []
        for f in range(FILES_PER_BATCH):
            rows = _loan_rows(rng, ROWS_PER_FILE, next_id, _BRANCH_P_BATCH,
                              dt.datetime(2024, 2 + b, 1))
            next_id += ROWS_PER_FILE
            batch.append((f"loan_b{b:02d}_{f:02d}.csv", rows, _csv(rows)))
        batches.append(batch)
    cut = [round(i * len(files) / HISTORY_STEPS) for i in range(HISTORY_STEPS + 1)]
    history = [files[cut[i]:cut[i + 1]] for i in range(HISTORY_STEPS)]
    return ([(f"{i:02d}-history", h) for i, h in enumerate(history)] +
            [(f"{HISTORY_STEPS + b:02d}-batch", batch) for b, batch in enumerate(batches)])
