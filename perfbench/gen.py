"""Seeded fixture generator for the benchmark.

Writes the ten tables graft's queries read (TPC-H-like star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
same column names, types and value domains as the fixtures the oracle
suite was written against. The same (seed, sf) always gives the same
bytes of data, so a run's inputs are fixed by its seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the row column table value key hash join merge sort scan filter "
         "group agg order line part customer query data batch stream window "
         "vector spark big small fast slow").split()
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us").astype(np.int64)
    d = rng.integers(0, ndays, n, dtype=np.int64)
    return pa.array(base + d * US_PER_DAY, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng, n):
    """Bags of words with a few planted near-duplicates (one word changed),
    so the dedup operators have real candidate pairs to find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return {
        "doc_id": _ids(n),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n):
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    offsets = np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(x.reshape(-1), pa.float32()))
    return {
        "vec_id": _ids(n),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs = n_emb = int(50_000 * sf)

    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": _ids(n_cust),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": _ids(n_supp),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": _ids(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    _write(out, "orders", {
        "o_orderkey": _ids(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_li)})
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev, dtype=np.int64)) + ts0
    _write(out, "events", {
        "event_id": _ids(n_ev),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_emb))

