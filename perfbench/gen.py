"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the `graft` queries read (`region nation
customer supplier part orders lineitem events documents embeddings`),
with the column names, types and value distributions of the repo's
TPC-H-ish test fixtures. Every random choice comes from the seed, so the
same seed gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["O", "P", "F"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# Table size, in TPC-H scale-factor units. Per-query cost at this size is
# mostly planning and task overhead, as at sf0.1.
SCALE = 0.01


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, lo, hi):
    base = np.datetime64(lo, "us")
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150000 * SCALE))
    n_supp = max(10, int(10000 * SCALE))
    n_part = max(200, int(200000 * SCALE))
    n_ord = max(1500, int(1500000 * SCALE))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1000000 * SCALE))
    n_users = max(15, n_ev // 67)
    n_doc = max(500, int(50000 * SCALE))
    n_emb = max(500, int(20000 * SCALE))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(STATUS, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITY, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # a 30-day event stream with exponential inter-arrival gaps
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random vocabulary text; 5% are a copy of an earlier
    # document plus a trailing " dup" (near duplicates), 0.3% exact copies
    texts = [" ".join(rng.choice(VOCAB, int(w))) for w in rng.integers(7, 100, n_doc)]
    kind = rng.random(n_doc)
    src = rng.integers(0, n_doc, n_doc)
    for i in range(n_doc):
        j = int(src[i]) % max(i, 1)
        if i > 0 and kind[i] < 0.05 and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
        elif i > 0 and kind[i] > 0.997:
            texts[i] = texts[j]
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})

