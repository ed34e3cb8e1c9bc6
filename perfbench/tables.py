"""Seeded generator of the star-schema and LLM-extension tables the query
registries read (`region nation customer supplier part orders lineitem events
documents embeddings`, one parquet file each).

Columns, types and value domains follow the schemas the registries were
written against (FIXTURES.md §2); row counts scale with `sf` like TPC-H
(sf 0.01: 60,000 lineitem rows).
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["hash", "order", "table", "window", "row", "batch", "big", "group",
         "a", "spark", "filter", "sort", "join", "line", "data", "column",
         "key", "merge", "agg", "small", "scan", "vector", "stream", "value",
         "customer", "slow", "part", "fast", "query", "the"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY_US = 86_400 * 1_000_000


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def _days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(int))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet",
                   compression="snappy")


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})

    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    odate = rng.integers(d0, d1 + 1, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist()})

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li))})

    t0 = int((np.datetime64("2024-01-01") - np.datetime64("1970-01-01"))
             .astype(int)) * DAY_US
    ts = t0 + np.cumsum(rng.integers(1, 2 * 30 * DAY_US // n_events, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_events // 67), n_events,
                                         dtype=np.int64)),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    n_docs = max(500, int(50_000 * sf))
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 100, n_docs)]
    # near-duplicates: a few documents re-appear with one token changed
    for i in rng.choice(n_docs - 1, n_docs // 50, replace=False):
        toks = texts[i].split()
        toks[rng.integers(0, len(toks))] = "dup"
        texts[i + 1] = " ".join(toks)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    n_vec = max(500, int(20_000 * sf))
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32))})
