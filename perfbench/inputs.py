"""Deterministic benchmark inputs.

The tables follow the shape of the package's sf0.1 test set: a
TPC-H-like star schema (region, nation, customer, supplier, part,
orders, lineitem) plus the ``events``, ``documents`` and ``embeddings``
tables the trial and LLM-data layers read. Every column has the same
name, type and value domain, so every registered query and its DuckDB
oracle run on them unchanged.

The tables come from a fixed data seed and are written once per
checkout under ``.bench_cache/``; a workload's ``--seed`` only picks
slices, resolution rows, delta order and CDC key classes on top of
them (see ``workloads.py``).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generator changes, so stale caches are rebuilt.
VERSION = 2
DATA_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

#: Rows per table at scale 1.0 (the sf0.1 test-set sizes).
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _rows(name: str, scale: float) -> int:
    return max(20, int(ROWS[name] * scale))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day: int, hi_day: int, n: int):
    d = rng.integers(lo_day, hi_day + 1, n)
    return _EPOCH_1995 + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _region(rng, scale):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names}
    )


def _nation(rng, scale):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, scale):
    n = _rows("customer", scale)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, segs, n),
        }
    )


def _supplier(rng, scale):
    n = _rows("supplier", scale)
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng, scale):
    n = _rows("part", scale)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    keys = np.arange(n)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(rng, names, n),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": _pick(rng, types, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )


def _orders(rng, scale):
    n = _rows("orders", scale)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(
                rng.integers(0, _rows("customer", scale), n), pa.int64()
            ),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, 0, 2404, n),
            "o_orderpriority": _pick(rng, prio, n),
        }
    )


def _lineitem(rng, scale):
    n = _rows("lineitem", scale)
    return pa.table(
        {
            "l_orderkey": pa.array(
                rng.integers(0, _rows("orders", scale), n), pa.int64()
            ),
            "l_partkey": pa.array(
                rng.integers(0, _rows("part", scale), n), pa.int64()
            ),
            "l_suppkey": pa.array(
                rng.integers(0, _rows("supplier", scale), n), pa.int64()
            ),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, 1, 2499, n),
        }
    )


def _events(rng, scale):
    n = _rows("events", scale)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    types = ["click", "error", "purchase", "signup", "view"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": _pick(rng, types, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, scale):
    """Word-bag documents with two kinds of redundancy for the dedup
    stages: ~5% near-duplicates (an earlier document plus a marker
    token) and a handful of exact copies."""
    n = _rows("documents", scale)
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, scale):
    """Isotropic unit vectors with labels drawn independently of them,
    as in the sf0.1 test set (its vectors sit no closer to their own
    label's centre than to any other)."""
    n, dim = _rows("embeddings", scale), 64
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def ensure(cache_root: str, scale: float = 1.0) -> str:
    """Return the directory holding every table at ``scale``, writing
    it first if this checkout has not yet done so. The write goes to a
    staging directory that is renamed into place, so an interrupted
    run never leaves a half-written input set behind."""
    tag = f"v{VERSION}_s{scale:g}"
    out = os.path.join(cache_root, "inputs", tag)
    if os.path.isdir(out):
        return out
    stage = out + ".partial"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name in TABLES:
        rng = np.random.default_rng([DATA_SEED, TABLES.index(name)])
        pq.write_table(
            _MAKERS[name](rng, scale), os.path.join(stage, f"{name}.parquet")
        )
    os.rename(stage, out)
    return out


def fingerprint(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def describe(sf_dir: str, tables) -> dict:
    """Rows, bytes and a content fingerprint of the named input tables
    (the fingerprint hashes the parquet bytes, which the fixed-seed
    writer makes reproducible)."""
    rows = nbytes = 0
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(sf_dir, f"{name}.parquet")
        rows += pq.ParquetFile(path).metadata.num_rows
        nbytes += os.path.getsize(path)
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return {"rows": rows, "bytes": nbytes, "fingerprint": h.hexdigest()[:16]}
