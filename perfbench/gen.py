"""Input tables for the benchmark. The program under test only sees the
parquet files these write.

``events_table`` is the click stream the replay workload renders to wire
files; ``write_tables`` is the whole star-schema + events corpus the
batch queries read. Both keep the schema and value domains of the sf0.1
fixture the query oracles were written against: uniform keys,
exponential event values and gaps, a 5 % near-duplicate tail in
``documents``, random unit vectors in ``embeddings``.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_US_2024 = 1704067200 * 1_000_000


def _ts_us(a):
    return pa.array(a.astype("int64"), type=pa.timestamp("us"))


def _day_us(day0, rng, lo, hi, n):
    return _ts_us((day0 + rng.integers(lo, hi, n)) * 86_400_000_000)


def events_table(rng, n, sources=EVENT_TYPES, users=1500):
    """Time-ordered click events over January 2024: exponential gaps
    (mean 26 s), ``event_type`` drawn uniformly from ``sources``."""
    gaps = rng.exponential(30 * 86400 / n, n)
    ts = EPOCH_US_2024 + (np.cumsum(gaps) * 1e6).astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
        "event_type": pa.array(np.array(sources)[rng.integers(0, len(sources), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def write_tables(out_dir, seed, scale=1.0):
    """All ten tables the batch mix reads, ``scale`` 1.0 = sf0.1 row
    counts. Deterministic in (seed, scale)."""
    rng = np.random.default_rng(seed)
    # documents and embeddings stay at 500 rows below sf0.01, as the
    # fixtures do: the similarity indexes need that many to train
    n = {k: max(int(v * scale), 500 if k in ("documents", "embeddings") else 10)
         for k, v in SF01_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    day0 = 9131  # 1995-01-01 in days since the epoch
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype="int64")),
        "c_name": ["Customer#%09d" % i for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, c)])})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype="int64")),
        "s_name": ["Supplier#%09d" % i for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, s), 2))})
    p = n["part"]
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    keys = np.arange(p, dtype="int64")
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "),
                                       noun[rng.integers(0, 8, p)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, p).astype(str))),
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                     "STANDARD"])[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, c, o).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
        "o_orderdate": _day_us(day0, rng, 0, 2404, o),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, o)])})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, p, li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": _day_us(day0 + 1, rng, 0, 2498, li)})
    tables["events"] = events_table(rng, n["events"])
    d = n["documents"]
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
             for _ in range(d)]
    for i in np.flatnonzero(rng.random(d) < 0.05):  # near-duplicate tail
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype="int64")),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, d, p=LANG_P)]),
        "source": ["src%d" % (i % 20) for i in range(d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})
    e = n["embeddings"]
    vec = rng.standard_normal((e, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(e, dtype="int64")),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e).astype("int32"))})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
