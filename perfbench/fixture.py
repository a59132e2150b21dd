"""Deterministic synthetic fixture tables for the batch workloads.

Writes one parquet file per table (region, nation, supplier, customer, part,
orders, lineitem, events, documents, embeddings) with the schemas and value
domains of the repository's fixture contract (see FIXTURES.md): TPC-H-like
star schema, an event stream table, a text corpus with 5% near-duplicate
documents, and unit-norm 64-d embeddings. Time columns are written as
timezone-less timestamp[us], which Spark reads as TIMESTAMP_NTZ and
`graft.Tables` normalises.

The data depend only on (scale, seed), so digests of query outputs over them
can be recorded once and compared on every run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
P_TYPES = "ECONOMY PROMO LARGE MEDIUM STANDARD SMALL".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86400 * 1_000_000


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(x):
    return np.round(x, 2)


def tables(sf, seed):
    """Returns {name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": retail})
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    l_order = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[l_order] + rng.integers(-2400, 2500, n_line) * DAY_US
    ship = np.clip(ship, _day_us(1995, 1, 2), None)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(rng.uniform(900.0, 105_000.0, n_line)),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ship)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ev_ts = _day_us(2024, 1, 1) + (np.cumsum(gaps) * 1e6).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for n in rng.integers(10, 101, n_docs):
        texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return out


def ensure(out_dir, sf, seed):
    """Writes the tables into `out_dir` unless a complete copy is there."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(sf, seed).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
