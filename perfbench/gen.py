"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` log/LLM tables) as one parquet file
each, with the schemas and value ranges of the reference fixtures: events in
January 2024 with `{"k": n}` props, word-soup documents over a 30-word
vocabulary with a few exact and near duplicates, 64-dim float embeddings
clustered by label. The same seed always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_US = 30 * 86400 * 10**6
DIM = 64


def _ts_us(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _days(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return _ts_us(lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n).astype("timedelta64[D]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, prefix=""):
    lens = rng.integers(10, 100, n)
    words = np.array([prefix + w for w in VOCAB])
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def events_table(rng, n, first_id=0, users=150):
    ts = EPOCH_2024 + np.sort(rng.integers(0, MONTH_US, n)).astype("timedelta64[us]")
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng, n, first_id=0):
    texts = _texts(rng, n)
    # a few exact duplicates and "dup"-suffixed near duplicates, so the
    # dedup and near-dup operators have work with a known answer shape
    for i in range(1, n):
        r = rng.random()
        if r < 0.004:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.02:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(rng.integers(48, 554, n, dtype=np.int64)),
    })


def embeddings_table(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.07, (n, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def corpus(seed, sf):
    """All ten tables at scale factor `sf` (sf0.1 = 100k events, 600k
    lineitems, 5k documents, 2k embeddings)."""
    rng = np.random.default_rng(seed)
    n_sup, n_cust, n_part = int(10000 * sf), int(150000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_sup))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    t["events"] = events_table(rng, int(1000000 * sf), users=max(15, int(15000 * sf)))
    t["documents"] = documents_table(rng, max(500, int(50000 * sf)))
    t["embeddings"] = embeddings_table(rng, max(500, int(20000 * sf)))
    return t


def ingest_batches(seed, base, n_batches, docs_per_batch, events_per_batch):
    """Seeded append batches for the served store: new documents (fresh
    doc_ids past the base) and new January-2024 events."""
    rng = np.random.default_rng([seed, 7])
    doc0 = base["documents"].num_rows
    ev0 = base["events"].num_rows
    out = []
    for b in range(n_batches):
        out.append((documents_table(rng, docs_per_batch, doc0 + b * docs_per_batch),
                    events_table(rng, events_per_batch, ev0 + b * events_per_batch)))
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
