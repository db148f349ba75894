#!/usr/bin/env python3
"""Statistics of an input directory that ``datagen.py`` reproduces.

    python3 perfbench/testdata_stats.py DIR [DIR ...]

For each directory of the ten input tables it prints one JSON object:
row counts, the document text shape (vocabulary, length in tokens,
near duplicates, languages), the event stream shape (users per event,
time span, values) and the value ranges of the TPC-H-style tables.
Run it on the repository testdata and on a generated directory to
check that the generator's constants still match (README.md holds the
figures it was tuned on). It is not part of a benchmark run.
"""

from __future__ import annotations

import collections
import json
import sys

import duckdb
import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
RANGES = {
    "customer": ("c_acctbal",),
    "orders": ("o_totalprice", "o_orderdate"),
    "lineitem": ("l_extendedprice", "l_quantity", "l_discount", "l_tax", "l_shipdate"),
    "part": ("p_size", "p_retailprice"),
    "events": ("ts", "value"),
}


def stats(d: str) -> dict:
    con = duckdb.connect()

    def q(sql):
        return con.execute(sql).fetchall()

    def t(name):
        return f"'{d}/{name}.parquet'"

    out = {"rows": {n: q(f"SELECT count(*) FROM {t(n)}")[0][0] for n in TABLES}}
    out["ranges"] = {
        f"{tab}.{col}": [str(v) for v in q(f"SELECT min({col}), max({col}) FROM {t(tab)}")[0]]
        for tab, cols in RANGES.items() for col in cols
    }

    texts = [r[0] for r in q(f"SELECT text FROM {t('documents')} ORDER BY doc_id")]
    dups = [x for x in texts if x.endswith(" dup")]
    plain = [x.split() for x in texts if not x.endswith(" dup")]
    words = collections.Counter(w for x in plain for w in x)
    lengths = [len(x) for x in plain]
    out["documents"] = {
        "vocabulary": len(words),
        "token_share_min_max": [round(min(words.values()) / sum(words.values()), 4),
                                round(max(words.values()) / sum(words.values()), 4)],
        "tokens_min_max_mean": [min(lengths), max(lengths), round(float(np.mean(lengths)), 2)],
        "near_dup_share": round(len(dups) / len(texts), 4),
        "exact_dup_docs": len(texts) - len(set(texts)),
        "langs": dict(q(f"SELECT lang, count(*) FROM {t('documents')} GROUP BY 1 ORDER BY 1")),
        "sources": q(f"SELECT count(DISTINCT source) FROM {t('documents')}")[0][0],
    }

    n_ev, users = q(f"SELECT count(*), count(DISTINCT user_id) FROM {t('events')}")[0]
    out["events"] = {
        "users_per_event": round(users / n_ev, 4),
        "types": dict(q(f"SELECT event_type, count(*) FROM {t('events')} GROUP BY 1 ORDER BY 1")),
        "value_mean": round(q(f"SELECT avg(value) FROM {t('events')}")[0][0], 2),
    }

    rows = q(f"SELECT label, embedding FROM {t('embeddings')} ORDER BY vec_id")
    labels = np.array([r[0] for r in rows])
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    cos = vecs @ vecs.T
    same = (labels[:, None] == labels[None, :]) & ~np.eye(len(labels), dtype=bool)
    out["embeddings"] = {
        "dim": vecs.shape[1],
        "labels": len(set(labels.tolist())),
        "same_label_cosine": round(float(cos[same].mean()), 4),
        "value_sd": round(float(vecs.std()), 4),
    }
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    for d in argv:
        print(json.dumps({"dir": d, **stats(d)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
