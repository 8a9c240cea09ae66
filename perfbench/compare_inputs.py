#!/usr/bin/env python3
"""Compare the benchmark's generated inputs with a reference sf0.1 set.

    python3 perfbench/compare_inputs.py <dir with the sf0.1 parquet tables>

Prints one markdown table: for each statistic the workloads depend on
(key cardinalities and correlations, value distributions, document
lengths and duplicate rates, embedding structure), its value on the
reference tables and on the generated ones. The generated tables are
written first if this checkout has none yet.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

#: (statistic, DuckDB query returning one value; ``{d}`` is the table dir)
SQL_STATS = [
    ("lineitem rows", "SELECT count(*) FROM '{d}/lineitem.parquet'"),
    ("lineitem distinct l_orderkey", "SELECT count(DISTINCT l_orderkey) FROM '{d}/lineitem.parquet'"),
    ("lineitem distinct l_partkey", "SELECT count(DISTINCT l_partkey) FROM '{d}/lineitem.parquet'"),
    ("lineitem distinct l_suppkey", "SELECT count(DISTINCT l_suppkey) FROM '{d}/lineitem.parquet'"),
    ("corr(l_partkey, l_suppkey)", "SELECT corr(l_partkey, l_suppkey) FROM '{d}/lineitem.parquet'"),
    ("distinct (l_partkey, l_suppkey) pairs", "SELECT count(DISTINCT (l_partkey, l_suppkey)) FROM '{d}/lineitem.parquet'"),
    ("suppliers per part, mean", "SELECT avg(c) FROM (SELECT count(DISTINCT l_suppkey) c FROM '{d}/lineitem.parquet' GROUP BY l_partkey)"),
    ("lines per order, mean", "SELECT avg(c) FROM (SELECT count(*) c FROM '{d}/lineitem.parquet' GROUP BY l_orderkey)"),
    ("lines per order, max", "SELECT max(c) FROM (SELECT count(*) c FROM '{d}/lineitem.parquet' GROUP BY l_orderkey)"),
    ("corr(l_orderkey, l_shipdate)", "SELECT corr(l_orderkey, epoch(l_shipdate)) FROM '{d}/lineitem.parquet'"),
    ("l_extendedprice mean", "SELECT avg(l_extendedprice) FROM '{d}/lineitem.parquet'"),
    ("l_quantity distinct", "SELECT count(DISTINCT l_quantity) FROM '{d}/lineitem.parquet'"),
    ("l_discount distinct", "SELECT count(DISTINCT l_discount) FROM '{d}/lineitem.parquet'"),
    ("share l_returnflag = 'R'", "SELECT avg((l_returnflag = 'R')::INT) FROM '{d}/lineitem.parquet'"),
    ("l_shipdate range (days)", "SELECT datediff('day', min(l_shipdate), max(l_shipdate)) FROM '{d}/lineitem.parquet'"),
    ("orders distinct o_custkey", "SELECT count(DISTINCT o_custkey) FROM '{d}/orders.parquet'"),
    ("orders per customer, max", "SELECT max(c) FROM (SELECT count(*) c FROM '{d}/orders.parquet' GROUP BY o_custkey)"),
    ("o_totalprice mean", "SELECT avg(o_totalprice) FROM '{d}/orders.parquet'"),
    ("o_orderdate range (days)", "SELECT datediff('day', min(o_orderdate), max(o_orderdate)) FROM '{d}/orders.parquet'"),
    ("share c_mktsegment = 'BUILDING'", "SELECT avg((c_mktsegment = 'BUILDING')::INT) FROM '{d}/customer.parquet'"),
    ("part distinct p_name / p_brand / p_type", "SELECT count(DISTINCT p_name) || ' / ' || count(DISTINCT p_brand) || ' / ' || count(DISTINCT p_type) FROM '{d}/part.parquet'"),
    ("events distinct user_id", "SELECT count(DISTINCT user_id) FROM '{d}/events.parquet'"),
    ("events per user, min / max", "SELECT min(c) || ' / ' || max(c) FROM (SELECT count(*) c FROM '{d}/events.parquet' GROUP BY user_id)"),
    ("events ts range (days)", "SELECT datediff('day', min(ts), max(ts)) FROM '{d}/events.parquet'"),
    ("events value mean", "SELECT avg(value) FROM '{d}/events.parquet'"),
    ("events value median", "SELECT median(value) FROM '{d}/events.parquet'"),
    ("events value p99", "SELECT quantile_cont(value, 0.99) FROM '{d}/events.parquet'"),
    ("events distinct props", "SELECT count(DISTINCT props) FROM '{d}/events.parquet'"),
    ("documents n_chars mean", "SELECT avg(n_chars) FROM '{d}/documents.parquet'"),
    ("documents n_chars min / max", "SELECT min(n_chars) || ' / ' || max(n_chars) FROM '{d}/documents.parquet'"),
    ("documents distinct text", "SELECT count(DISTINCT text) FROM '{d}/documents.parquet'"),
    ("documents ending in ' dup'", "SELECT count(*) FROM '{d}/documents.parquet' WHERE text LIKE '% dup'"),
    ("share lang = 'en'", "SELECT avg((lang = 'en')::INT) FROM '{d}/documents.parquet'"),
    ("documents n_chars >= 300 (classifier label)", "SELECT avg((n_chars >= 300)::INT) FROM '{d}/documents.parquet'"),
]


def _doc_stats(d: str) -> dict:
    texts = pq.read_table(os.path.join(d, "documents.parquet"))["text"].to_pylist()
    words = [t.split(" ") for t in texts]
    return {
        "words per document, mean": np.mean([len(w) for w in words]),
        "vocabulary size": len({x for w in words for x in w}),
    }


def _embedding_stats(d: str) -> dict:
    t = pq.read_table(os.path.join(d, "embeddings.parquet"))
    v = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    lab = t["label"].to_numpy()
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cen = np.stack([v[lab == k].mean(0) for k in np.unique(lab)])
    cen /= np.linalg.norm(cen, axis=1, keepdims=True)
    rng = np.random.default_rng(0)
    i, j = rng.integers(0, len(v), (2, 20_000))
    cos = np.sum(v[i] * v[j], axis=1)
    same = lab[i] == lab[j]
    return {
        "embedding dim": v.shape[1],
        "cosine to own label centre, mean": np.mean(np.sum(v * cen[np.searchsorted(np.unique(lab), lab)], axis=1)),
        "cosine of same-label pairs, mean": cos[same & (i != j)].mean(),
        "cosine of other-label pairs, mean": cos[~same].mean(),
    }


def stats(d: str) -> dict:
    con = duckdb.connect()
    out = {name: con.sql(sql.format(d=d)).fetchone()[0] for name, sql in SQL_STATS}
    out.update(_doc_stats(d))
    out.update(_embedding_stats(d))
    return out


def _fmt(v) -> str:
    if isinstance(v, (float, np.floating)):
        return f"{v:.4g}"
    return str(v)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import inputs

    gen = inputs.ensure(os.path.join(os.path.dirname(HERE), ".bench_cache"))
    ref, got = stats(argv[0]), stats(gen)
    print("| statistic | reference | generated |")
    print("| --- | --- | --- |")
    for name in ref:
        print(f"| {name} | {_fmt(ref[name])} | {_fmt(got[name])} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
