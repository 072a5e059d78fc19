"""Seeded generator for the star-schema tables the registry queries read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one single-row-group Parquet file each, with the
schemas, key domains and value ranges of the synthetic tables the
package's tests use (see FIXTURES.md). Every value comes from one NumPy
generator seeded with ``FIXTURE_SEED``, so the same scale factor always
yields byte-identical files; that is what lets the DuckDB oracle answers
be cached by file content.

Run directly to write a fixture: ``python3 perfbench/fixtures.py 0.01 out/``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int)) + 1


def _ts(lo: np.datetime64, day_offsets: np.ndarray) -> pa.Array:
    return pa.array((lo + day_offsets).astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)


def generate(sf: float, out_dir: str) -> dict[str, int]:
    """Write every table for scale factor ``sf`` into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = 5_000 if sf >= 0.1 else 500
    n_vecs = 2_000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    lo, span = _days("1995-01-01", "2001-08-01")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(lo, rng.integers(0, span, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lo, span = _days("1995-01-02", "2001-11-04")
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(lo, rng.integers(0, span, n_line)),
    })
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            # near-duplicate: an earlier document with a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_docs, "embeddings": n_vecs,
    }


if __name__ == "__main__":
    t0 = dt.datetime.now()
    print(generate(float(sys.argv[1]), sys.argv[2]), dt.datetime.now() - t0)
