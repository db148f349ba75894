"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one
parquet file each) with the schemas, value domains and shapes of the
repository testdata, drawn from ``numpy.random.default_rng(seed)``:
the same seed gives byte-identical tables, another seed gives another
sample of the same distributions. Every constant below was measured
on the testdata at sf0.01 and sf0.1 with ``testdata_stats.py``; the
figures are in README.md.

``scale=1.0`` matches the sf0.01 row counts (60k lineitems, 15k
orders, 1.5k customers, 10k events); documents and embeddings keep
500 rows there, as in the testdata. As in the testdata, one document
in twenty is a near duplicate: another document's text with the
token ``dup`` appended.

Pure numpy + pyarrow, no Spark: it runs before the session starts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the testdata's 30 document tokens, drawn uniformly; its 31st token,
# "dup", only marks near duplicates
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_TOKEN = "dup"
DUP_EVERY = 20  # one near duplicate per 20 documents (25 of 500, 250 of 5000)
DOC_TOKENS = (10, 99)  # document length in tokens, uniform, inclusive
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)  # sf0.1: 2059, 753, 744, 742, 702 of 5000
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# sf0.01 row counts, scaled by ``scale``
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
DOCS = 500
EMBED_ROWS = 500
EMBED_DIM = 64
# per-dimension spread of the label centres: same-label embeddings have
# a mean cosine of about 0.0016 in the testdata, so clusters are faint
EMBED_CENTRE_SD = 0.005
USERS_PER_EVENT = 0.015  # 150 users for 10k events, 1500 for 100k


def _pick(rng, values, n, p=None):
    return np.asarray(list(values), dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    day0 = np.datetime64(start, "us")
    return day0 + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _documents(rng, n_docs):
    lang = _pick(rng, LANGS, n_docs, LANG_P)
    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n_docs)
    texts = [" ".join(_pick(rng, VOCAB, k)) for k in lengths]
    # near duplicates: a copy of another document plus the marker
    # token; a later copy may take a near duplicate as its source
    for i in rng.choice(n_docs, n_docs // DUP_EVERY, replace=False):
        src = (i + rng.integers(1, n_docs)) % n_docs
        texts[i] = f"{texts[src]} {DUP_TOKEN}"
    text = np.asarray(texts, dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, EMBED_CENTRE_SD, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    rows = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    n_users = max(10, round(n_ev * USERS_PER_EVENT))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), pa.float64()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, "FOP", n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), pa.float64()),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2), pa.float64()),
            "l_returnflag": pa.array(_pick(rng, "ANR", n_li), pa.string()),
            "l_linestatus": pa.array(_pick(rng, "FO", n_li), pa.string()),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
        }),
        "documents": _documents(rng, DOCS),
        "embeddings": _embeddings(rng, EMBED_ROWS),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
