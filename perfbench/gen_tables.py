"""Seeded generator of the tables the registry queries read.

The tables have the schemas, types and value shapes of the repository's
reference test tables at scale factor 0.1 (a TPC-H-like star schema plus
`events`, `documents` and `embeddings`) and their row counts, so every
query runs unchanged and does the same amount of work. About
`near_dup_share` of the documents repeat an earlier document's text, which
may itself be a copy, with one word appended; the documents are then
shuffled. With the random-text collisions of a corpus this size, the
near-duplicate graph has chains, triangles and components of up to a dozen
or more documents, as the reference tables have.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold red small new".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _str(values):
    return pa.array([str(v) for v in values], pa.string())


ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000, lineitem=600000,
            events=100000, documents=5000, embeddings=2000)


def generate(out, seed, near_dup_share):
    """Write the tables under `out` as <table>.parquet."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _str(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c))})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": _str(rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], p)),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _str(rng.choice(["O", "F", "P"], o)),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _str(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o))})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _str(rng.choice(["N", "A", "R"], li)),
        "l_linestatus": _str(rng.choice(["O", "F"], li)),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(start + np.sort(rng.choice(span_us, e, replace=False)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": _str(rng.choice(["error", "view", "signup", "purchase", "click"], e)),
        "value": np.round(np.minimum(rng.exponential(60.0, e), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if texts and rng.random() < near_dup_share:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    texts = [texts[i] for i in rng.permutation(d)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _str(rng.choice(LANGS[0], d, p=LANGS[1])),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    m = n["embeddings"]
    v = rng.normal(size=(m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * m + 1, 64), pa.int32()),
                                              pa.array(v.ravel(), pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
