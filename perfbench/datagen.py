"""Seeded input generator for the benchmark.

Writes the ten parquet tables the ``__spark_entry__.queries()`` keys
read (TPC-H-like star schema, ``events``, ``documents``,
``embeddings``) plus the ETL workload's pipe-delimited lineitem file
and mixed-dtype pandas frame.  Schemas and value ranges follow the
repository's synthetic test data; row counts scale with ``sf``
(lineitem = 6M x sf).  The same (seed, sf) always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window data column join small line customer query order sort "
    "filter group stream big vector"
).split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMB_DIM = 64
EMB_LABELS = 10

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days + 1
    day = rng.integers(0, span, n).astype(np.int64)
    return _ts(dt.datetime(first.year, first.month, first.day), day * 86_400_000_000)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 70, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # planted duplicates: ~5% near copies (source text + " dup") and a
    # few exact copies, so every dedup operator has true positives
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, max(2, n // 600)
    for i in ids[:n_near]:
        texts[i] = texts[rng.integers(0, n)] + " dup"
    for i in ids[n_near : n_near + n_exact]:
        texts[i] = texts[rng.integers(0, n)]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n)
    vec = centers[label] + rng.normal(0.0, 1.5, (n, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the parquet tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    # one child stream per table: a table's bytes depend only on
    # (seed, sf) and its own generator code
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    rng = {t: np.random.default_rng(s) for t, s in streams.items()}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    r, k = rng["customer"], n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, k, -999.99, 9999.99)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, k)),
    })
    r, k = rng["supplier"], n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, k, -999.99, 9999.99)),
    })
    r, k = rng["part"], n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": pa.array(r.choice(names, k)),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
        "p_type": pa.array(r.choice(PART_TYPES, k)),
        "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 2)),
    })
    r, k = rng["orders"], n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(["O", "F", "P"], k)),
        "o_totalprice": pa.array(_money(r, k, 1000.0, 500000.0)),
        "o_orderdate": _days(r, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, k)),
    })
    _write(out_dir, "lineitem", lineitem_columns(rng["lineitem"], n))
    r, k = rng["events"], n["events"]
    span_us = 30 * 86_400 * 1_000_000
    # sorted, strictly increasing (unique) timestamps
    offs = np.sort(r.integers(0, span_us - k, k)) + np.arange(k)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), offs),
        "user_id": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
        "event_type": pa.array(r.choice(EVENT_TYPES, k)),
        "value": pa.array(np.round(r.gamma(1.5, 30.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
    })
    _write(out_dir, "documents", _documents(rng["documents"], n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng["embeddings"], n["embeddings"]))
    return {"region": 5, "nation": 25, **n}


def lineitem_columns(r, n: dict) -> dict:
    k = n["lineitem"]
    return {
        "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n["part"], k).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, k, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], k)),
        "l_linestatus": pa.array(r.choice(["O", "F"], k)),
        "l_shipdate": _days(r, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }


def write_lineitem_csv(path: str, seed: int, rows: int) -> None:
    """Pipe-delimited lineitem extract with a header line (the ETL
    workload's local source file)."""
    r = np.random.default_rng([seed, 1])
    cols = lineitem_columns(r, {"lineitem": rows, "orders": rows // 4,
                                "part": max(200, rows // 30),
                                "supplier": max(10, rows // 600)})
    pdf = pa.table(cols).to_pandas()
    pdf["l_shipdate"] = pdf["l_shipdate"].dt.strftime("%Y-%m-%d")
    pdf.to_csv(path, sep="|", index=False, float_format="%.2f")


def mixed_frame(seed: int, rows: int) -> pd.DataFrame:
    """Mixed-dtype pandas frame for schema inference + insert."""
    r = np.random.default_rng([seed, 2])
    return pd.DataFrame({
        "id": np.arange(rows, dtype=np.int64),
        "qty": r.integers(0, 1000, rows).astype(np.int32),
        "price": np.round(r.uniform(0, 1000, rows), 2),
        "flag": r.integers(0, 2, rows).astype(bool),
        "label": r.choice(SEGMENTS, rows),
        "day": pd.Timestamp("2020-01-01") + pd.to_timedelta(r.integers(0, 3650, rows), unit="D"),
    })
