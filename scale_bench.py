#!/usr/bin/env python
"""Scale-slope measurement (VERDICT r4 ask 1): replicate sf0.1 by a
factor F with KEY OFFSETS (builder-side synthetic data — NOT driver
data; lives under /tmp and is rebuilt on demand), run the top steady
bench entries at 1x and Fx, and record the per-query scaling exponent

    slope = log(t_Fx / t_1x) / log(F)

in BENCH_scale_r05.json. slope ~= 1 means the plan's cost is linear in
data volume — the property that lets a 1000-executor cluster eat 100 TB
by adding machines. Entries that are quadratic BY CONSTRUCTION (the
registered ANN queries score a query set that is a fixed FRACTION of
the corpus, so 10x data = 10x queries x 10x corpus) are measured at a
smaller factor and paired with a FIXED-QUERY-SET variant whose slope
isolates corpus growth — the regime a production index actually runs.

Replication strategy: copy i of each fact table offsets every key
column by i * (max_key + 1), so key cardinalities, group sizes, join
fan-outs and skew profiles scale the way a larger TPC-H SF would
(more customers/orders/parts/users — not hotter ones). Dims
(nation/region) stay fixed, like real dimensions. Document text gets a
per-copy suffix token so corpus growth adds NEAR-duplicates (the
realistic case) instead of 10x exact clones of every doc.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bench import _cleaning_dag_e2e  # noqa: E402
from bohemia_kenya_data_pipeline_spark.operators import similarity as sim  # noqa: E402
from bohemia_kenya_data_pipeline_spark.queries import QUERIES, _events, _t  # noqa: E402
from bohemia_kenya_data_pipeline_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = "/tmp/spark_graft_scale"

#: key columns offset per copy (per-table); everything else is copied
OFFSET_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["nation", "region"]

#: top-10 steady entries of BENCH_r05 expected to scale linearly,
#: measured at the full factor
LINEAR = [
    "cleaning_dag_e2e",
    "spatial_cluster_assign",
    "goals_cascade",
    "pagerank_trade_graph",
    "rdt_state_machine",
    "market_basket_brand_pairs",
    "tpch_q21_waiting_supplier",
    # extras beyond the top-10 for family coverage
    "resolution_delete_set",
    "sessionize_events",
    "minhash_lsh_pairs_capped",
    # round-5 continuation: union+fill-down as-of join, scan-local
    # Gopher flags, narrow-aggregate drift gates, broadcast-rate remix
    "asof_last_click",
    "gopher_quality_gate",
    "psi_price_drift",
    "temperature_mix_sample",
    "jsd_lang_drift",
    # round-6 composed/scalable entries
    "pretrain_mix_spans",
    "rfm_segments_scalable",
    "randomization_preselection",
    "hybrid_rank_fusion",
    # round-7: CDC log replay (window over the log + broadcast anti
    # join against the snapshot — both sides scale, plan is linear)
    "cdc_log_compaction",
    # round-7: serving-index regime — fixed query batch, index build
    # (one corpus pass + partitioned write) dominates; pruned read
    "ann_index_fixedq",
    # round-8 stragglers (VERDICT r7 ask 4): all linear by
    # construction — keyed range join over per-user windows; one-pass
    # keyed histograms; delta-broadcast view maintenance (deltas are a
    # fixed FRACTION of the fact, so both sides scale linearly); PIT
    # equi-join against a 2-version history
    "attribution_multi_touch",
    "quantile_sketch_prices",
    "quantile_sketch_by_priority",
    "ivm_join_view",
    "pit_feature_join",
    # round-8: composed CDC lakehouse maintenance — 3 chained batches,
    # each a log window + broadcast touched-key joins + delta folds;
    # deltas are a fixed fraction of the fact, so the chain is linear
    "lakehouse_cdc_e2e",
    # round-8 continuation: IVF-PQ serving index (fixed query batch —
    # the vec_id<500 cap — so build pass + pruned ADC scan are both
    # corpus-linear); manifest skipping (fixed predicate window over a
    # growing range-clustered copy: write + stats + pruned scan all
    # linear); bloom lookup (keys grow with the corpus but probe work
    # is keys x n_hashes rows against a file-count-sized word table);
    # incremental minhash (three delta/probe passes, banded join)
    "ann_ivfpq_fixedq",
    "ann_ivfpq_rerank_fixedq",
    "manifest_skip_scan",
    "bloom_skip_lookup",
    "incremental_minhash_dedup",
    # round-10: manifest lifecycle (append + fingerprint-diff extend +
    # pruned read), z-order + two-sided box skipping, tombstoned
    # near-dup probe, compressed-index ingest — all linear: each pass
    # is one scan/write of data that scales, never a cross join
    "incremental_manifest_extend",
    "zorder_manifest_scan",
    "minhash_index_delete_probe",
    "incremental_ivfpq_ann",
    # round-11 curation trio: classifier = two combinable token/doc
    # shuffles + broadcast weight join; skew profile = one count
    # shuffle + TakeOrdered; quantile gate = one percentile agg +
    # broadcast threshold join — all single-pass linear
    "quality_classifier_score",
    "skew_key_profile",
    "quantile_gate_by_source",
    # round-11: incremental z-order — init + delta re-cluster are both
    # one pass over data that scales; the extend reads only delta files
    "incremental_zorder_scan",
    # round-12: generation folding — fold I/O is the non-base
    # generations' bytes (a fixed fraction here), one clustered pass
    "zorder_fold_scan",
    # round-12: composed curation DAG — percentile agg + 2 combinable
    # classifier shuffles + dedup groupBy + one stratum window, all
    # single-pass linear in corpus bytes
    "curation_release_e2e",
    # round-13 contract migrations (same plans, new hashed columns —
    # re-measured because the implementations changed): exact integer
    # moments = one pruned scan + one partial-agg shuffle; rdt integer
    # sufficient statistics = the state-machine scan + one groupBy.
    # pagerank_trade_graph (now fixed-point ppm) is already above.
    "corr_covar_rollup",
    "rdt_irr",
]

#: quadratic BY CONSTRUCTION (query set = fixed fraction of corpus, or
#: fixed-area point density): measured at the small factor, each with
#: a note naming cause + fix
QUADRATIC = {
    "ivf_topk": (
        "query set is vec_id%50 (scales with corpus) and probes are "
        "exhaustive for oracle-exactness -> pairs scale F^2; fix: fixed "
        "query batch + n_probe<n_centroids (see ivf_ann_fixedq)"
    ),
    "quantized_cosine_topk": (
        "query set scales with corpus -> F^2 pairs; fix: fixed query "
        "batch (see quantized_fixedq)"
    ),
    "spatial_nearest_hf_bucketed": (
        "facilities AND customers replicate into the SAME fixed "
        "geographic area, so per-grid-cell density rises F on both "
        "sides -> F^2 candidates; a real scale-up grows AREA at ~fixed "
        "density, keeping per-cell work constant. The grid join is the "
        "right plan; the synthetic replica violates its density "
        "assumption, the fix is coordinate-space scaling, not a plan "
        "change"
    ),
    "semantic_dedup_pairs": (
        "the replica clones every embedding F times, so every semantic "
        "cluster is F x denser and within-cluster pairs grow F^2 — the "
        "same density artifact as the spatial entry, but ALSO the real "
        "semdedup failure mode on duplicate-heavy corpora; the designed "
        "bound is max_cluster_size (see semantic_dedup_capped) plus the "
        "drop_exact_duplicates-first contract"
    ),
    "interval_overlap_promos": (
        "the replica packs F x more promo windows into the SAME "
        "1995-2001 span, so every order overlaps F x more promos and "
        "output pairs grow F^2 — the temporal twin of the spatial "
        "density artifact; a real scale-up grows the TIME SPAN at "
        "~constant promo density (see interval_overlap_time_scaled)"
    ),
    "hard_negatives_mining": (
        "anchors = vec_id%100 scale WITH the corpus, so the cosine_topk "
        "candidate pass pays F anchors x F corpus = F^2 pairs by "
        "construction; fix: fixed anchor batch (see "
        "hard_negatives_fixeda) and/or an IVF/Arrow candidate generator"
    ),
}


def _fixed_queries(spark, sf_dir: str, n1_max: int):
    emb = _t(spark, sf_dir, "embeddings")
    return emb, emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") <= n1_max)
    )


def _quantized_fixedq(spark, sf_dir: str, n1_max: int):
    emb, q = _fixed_queries(spark, sf_dir, n1_max)
    return sim.quantized_cosine_topk(emb, q, k=5)


def _ivf_ann_fixedq(spark, sf_dir: str, n1_max: int):
    # the PRODUCTION IVF regime: sampled training, pruned probes
    # (n_probe=2 of 8), fixed query batch — corpus-only scaling
    emb, q = _fixed_queries(spark, sf_dir, n1_max)
    cents = sim.ivf_train_centroids(
        emb, n_centroids=8, n_iters=2, train_fraction=0.2
    )
    return sim.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=2, centroids=cents)


def _cosine_fixedq(spark, sf_dir: str, n1_max: int):
    emb, q = _fixed_queries(spark, sf_dir, n1_max)
    return sim.cosine_topk(emb, q, k=5)


def _cosine_fixedq_arrow(spark, sf_dir: str, n1_max: int):
    # the r6 fix for the fold's GC knee: numpy matmul in mapInPandas
    emb, q = _fixed_queries(spark, sf_dir, n1_max)
    return sim.cosine_topk_arrow(emb, q, k=5)


def _quantized_fixedq_arrow(spark, sf_dir: str, n1_max: int):
    emb, q = _fixed_queries(spark, sf_dir, n1_max)
    return sim.quantized_topk_arrow(emb, q, k=5)


def _ivf_ann_fixedq_arrow(spark, sf_dir: str, n1_max: int):
    emb, q = _fixed_queries(spark, sf_dir, n1_max)
    cents = sim.ivf_train_centroids(
        emb, n_centroids=8, n_iters=2, train_fraction=0.2
    )
    return sim.ivf_topk_arrow(emb, q, centroids=cents, k=5, n_probe=2)


def _nearest_area_scaled(spark, sf_dir: str, n1_max: int):
    # spatial_nearest in its DESIGNED regime: the replica's key offsets
    # let us place each copy in its own 1-degree latitude band, so a
    # bigger dataset grows AREA at constant density (the real-world
    # scale-up), not density in a fixed box. Measures the grid join's
    # true corpus slope; the registered entry's F^2 is a density
    # artifact (see QUADRATIC note).
    from bohemia_kenya_data_pipeline_spark.operators import spatial as sp

    # replica index = (key-1) DIV (1x max_key + 1): build_replica offsets
    # copy i's keys by i*(max+1), so this recovers i on any scale dir
    c_off = (
        spark.read.parquet(os.path.join(SRC, "customer.parquet"))
        .agg(F.max("c_custkey")).collect()[0][0] + 1
    )
    s_off = (
        spark.read.parquet(os.path.join(SRC, "supplier.parquet"))
        .agg(F.max("s_suppkey")).collect()[0][0] + 1
    )
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    ck = F.col("c_custkey")
    copy = F.expr(f"CAST((c_custkey - 1) DIV {c_off} AS DOUBLE)")
    pts = c.select(
        ck.alias("id"),
        (F.lit(-4.0) + copy + ((ck % 997) + 0.5) / 1000.0).alias("lat"),
        (F.lit(39.0) + (((ck * 7) % 997) + 0.5) / 1000.0).alias("lon"),
    )
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    sk = F.col("s_suppkey")
    scopy = F.expr(f"CAST((s_suppkey - 1) DIV {s_off} AS DOUBLE)")
    hf = s.select(
        sk.alias("hf_id"),
        (F.lit(-4.0) + scopy + ((sk * sk) % 97) / 100.0).alias("lat"),
        (F.lit(39.0) + ((sk * 13) % 89) / 100.0).alias("lon"),
    )
    return sp.nearest_neighbor_bucketed(pts, hf)


def _semantic_dedup_capped(spark, sf_dir: str, n1_max: int):
    # the production regime on a duplicate-heavy corpus: per-cluster
    # membership capped, so pair volume is bounded at 8*C(cap,2) while
    # assignment + the cid shuffle stay linear in corpus size
    from bohemia_kenya_data_pipeline_spark.operators import dedup as dd

    emb = _t(spark, sf_dir, "embeddings")
    return dd.semantic_dedup_pairs(
        emb, n_anchors=8, threshold=0.3, max_cluster_size=200
    )


def _semantic_decontamination_fixedb(spark, sf_dir: str, n1_max: int):
    # FIXED benchmark set (the production shape — a benchmark suite
    # does not grow with the corpus): the registered entry's bench =
    # vec_id % 100 == 0 would grow 10x with the replica and the
    # broadcast-matmul flops would look quadratic by construction
    from bohemia_kenya_data_pipeline_spark.operators import similarity as s_

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") <= n1_max))
    return s_.decontaminate_by_embedding(emb, bench, threshold=0.3).select("vec_id")


def _interval_overlap_time_scaled(spark, sf_dir: str, n1_max: int):
    # the range join in its DESIGNED regime: each replica copy's orders
    # AND promos shift into their own 2500-day band (copy index
    # recovered from the key offsets, same trick as
    # _nearest_area_scaled), so the time span grows with data at
    # constant per-bucket density — measures the bucket equi-join
    # itself, not the replica's density artifact
    from bohemia_kenya_data_pipeline_spark.operators import windows as W

    DAY = 86_400_000_000
    BAND = 2500 * DAY
    o_off = (
        spark.read.parquet(os.path.join(SRC, "orders.parquet"))
        .agg(F.max("o_orderkey")).collect()[0][0] + 1
    )
    s_off = (
        spark.read.parquet(os.path.join(SRC, "supplier.parquet"))
        .agg(F.max("s_suppkey")).collect()[0][0] + 1
    )
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ocopy = F.expr(f"(o_orderkey - 1) DIV {o_off}")
    ts_us = F.unix_micros(F.col("o_orderdate").cast("timestamp")) + ocopy * F.lit(BAND)
    left = o.select(
        F.col("o_orderkey").alias("aid"),
        ts_us.alias("ls"),
        (ts_us + (F.col("o_orderkey") % 30 + 1) * F.lit(DAY)).alias("le"),
    )
    sup = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    scopy = F.expr(f"(s_suppkey - 1) DIV {s_off}")
    rs = (
        F.lit(788_918_400_000_000)
        + scopy * F.lit(BAND)
        + (F.col("s_suppkey") % 300) * F.lit(7 * DAY)
    )
    right = sup.select(
        F.col("s_suppkey").alias("pid"),
        rs.alias("rs"),
        (rs + (F.col("s_suppkey") % 10 + 1) * F.lit(3 * DAY)).alias("re"),
    )
    return W.interval_overlap_join(
        left, right, "ls", "le", "rs", "re",
        bucket_width=32 * DAY, max_buckets_per_row=3,
    )


def _hard_negatives_fixeda(spark, sf_dir: str, n1_max: int):
    # production shape: the labeled anchor set is FIXED (training pairs
    # do not grow with the crawled corpus); slope isolates corpus
    # growth through the candidate top-k pass
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") <= n1_max)
    )
    positives = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        (F.col("vec_id") + 1).alias("positive_id"),
    )
    return sim.mine_hard_negatives(emb, anchors, positives, n_neg=3, k_cand=8)


def _hard_negatives_scaleda_ivfarrow(spark, sf_dir: str, n1_max: int):
    # the scaled-anchor regime (anchors = vec_id%100 grow WITH the
    # corpus — hard_negatives_mining's construction) but with the
    # candidates= seam fed by the IVF+Arrow generator: assignment +
    # probe-restricted BLAS scoring in one corpus pass instead of the
    # exact all-pairs fold (VERDICT r9 ask 3 — was slope 1.236)
    from bohemia_kenya_data_pipeline_spark.queries import _IVF_FIXED_RAW

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 100 == 0)
    positives = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        (F.col("vec_id") + 1).alias("positive_id"),
    )
    pool = sim.ivf_topk_arrow(
        emb, anchors, centroids=_IVF_FIXED_RAW, k=8, n_probe=2
    )
    return sim.mine_hard_negatives(
        emb, anchors, positives, n_neg=3, candidates=pool
    )


FIXEDQ = {
    "quantized_fixedq": _quantized_fixedq,
    "ivf_ann_fixedq": _ivf_ann_fixedq,
    "cosine_fixedq": _cosine_fixedq,
    "cosine_fixedq_arrow": _cosine_fixedq_arrow,
    "quantized_fixedq_arrow": _quantized_fixedq_arrow,
    "ivf_ann_fixedq_arrow": _ivf_ann_fixedq_arrow,
    "spatial_nearest_area_scaled": _nearest_area_scaled,
    "semantic_dedup_capped": _semantic_dedup_capped,
    "interval_overlap_time_scaled": _interval_overlap_time_scaled,
    "semantic_decontamination_fixedb": _semantic_decontamination_fixedb,
    "hard_negatives_fixeda": _hard_negatives_fixeda,
    "hard_negatives_scaleda_ivfarrow": _hard_negatives_scaleda_ivfarrow,
}


def build_replica(spark, factor: int) -> str:
    dst = f"{SCRATCH}/x{factor}"
    marker = os.path.join(dst, "_BUILD_DONE")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    copies = spark.range(factor).withColumnRenamed("id", "__copy")
    for name, keys in OFFSET_KEYS.items():
        df = _events(spark, SRC) if name == "events" else spark.read.parquet(
            os.path.join(SRC, f"{name}.parquet")
        )
        offs = {
            k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys
        }
        out = df.crossJoin(F.broadcast(copies))
        for k in keys:
            typ = dict(df.dtypes)[k]
            out = out.withColumn(
                k, (F.col(k) + F.col("__copy") * offs[k]).cast(typ)
            )
        if name == "documents":
            # per-copy suffix: corpus growth adds near-duplicates, not
            # exact clones (keeps dedup outputs from exploding F^2)
            out = out.withColumn(
                "text",
                F.when(
                    F.col("__copy") == 0, F.col("text")
                ).otherwise(
                    F.concat(
                        F.col("text"), F.lit(" cp"),
                        F.col("__copy").cast("string"),
                    )
                ),
            )
        out.drop("__copy").write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
    for name in DIMS:
        shutil.copy(
            os.path.join(SRC, f"{name}.parquet"),
            os.path.join(dst, f"{name}.parquet"),
        )
    open(marker, "w").write("ok")
    return dst


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time(fn, runs: int = 2) -> float:
    """warm + steady; returns the steady (last) run."""
    t = 0.0
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        t = time.perf_counter() - t0
    return round(t, 3)


#: heavy-entry set for the CORE-scaling pair (VERDICT r14 ask 5): at
#: sf0.1 every bench entry is overhead-bound and 8-vs-32-core ratios
#: sit at ~1, so parallelism claims rested on plan shapes alone; at
#: the 10x replica these entries carry enough compute to show a real
#: ratio. Registered names run as-is; the two *_scaled/_capped names
#: use the FIXEDQ density-correct variants (the registered twins are
#: quadratic-by-replica-construction, see QUADRATIC).
CORESCALE = [
    "zorder_fold_scan",
    "incremental_zorder_scan",
    "incremental_manifest_extend",
    "pretrain_mix_spans",
    "incremental_minhash_dedup",
    "minhash_index_delete_probe",
    "lakehouse_cdc_e2e",
    "incremental_ivfpq_ann",
    "ann_ivfpq_fixedq",
    "semantic_dedup_capped",
    "spatial_nearest_area_scaled",
    "curation_release_e2e",
]


def corescale_main() -> None:
    """SCALE_MODE=cores: time the CORESCALE entries at the 10x replica
    on local[$SPARK_GRAFT_CPUS] and print one JSON record line — run
    twice (SPARK_GRAFT_CPUS=32 and =8) for the core-scaling pair. The
    noop sink + warm-then-steady methodology matches bench.py."""
    big = int(os.environ.get("SCALE_FACTOR", "10"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = get_spark(app_name="bkdp-corescale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    d = build_replica(spark, big)
    n1_max = (
        spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
        .agg(F.max("vec_id"))
        .collect()[0][0]
    )
    only = os.environ.get("SCALE_ENTRIES")
    names = [n for n in CORESCALE if not only or n in set(only.split(","))]
    out: dict[str, float] = {}
    for name in names:
        if name in FIXEDQ:
            make = lambda f=FIXEDQ[name]: _noop(f(spark, d, n1_max))
        else:
            make = lambda q=QUERIES[name]: _noop(q(spark, d))
        spark.sparkContext.setJobDescription(f"corescale:{name}")
        out[name] = _time(make, runs=3)  # warm + 2, keep the last
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: {out[name]}s", file=sys.stderr, flush=True)
    print(json.dumps({
        "metric": "corescale_heavy_10x",
        "cpus": cpus,
        "factor": big,
        "queries": out,
        "value": round(sum(out.values()), 3),
        "unit": "sec",
    }), flush=True)


def main() -> None:
    if os.environ.get("SCALE_MODE") == "cores":
        corescale_main()
        return
    big = int(os.environ.get("SCALE_FACTOR", "10"))
    small = int(os.environ.get("SCALE_FACTOR_QUAD", "4"))
    spark = get_spark(app_name="bkdp-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    dirs = {1: SRC, big: build_replica(spark, big)}
    if small != big:
        dirs[small] = build_replica(spark, small)

    rows = {
        f: {
            t: spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
            for t in ("lineitem", "events", "documents", "embeddings")
        }
        for f, d in dirs.items()
    }
    n1_max = (
        spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
        .agg(F.max("vec_id"))
        .collect()[0][0]
    )

    results: dict[str, dict] = {}

    def measure(name, factor, make):
        t1 = _time(lambda: make(dirs[1]))
        tf = _time(lambda: make(dirs[factor]))
        slope = round(math.log(max(tf, 1e-3) / max(t1, 1e-3)) / math.log(factor), 3)
        results[name] = {"t_1x": t1, f"t_{factor}x": tf, "factor": factor,
                         "slope": slope}
        print(f"{name}: 1x={t1}s {factor}x={tf}s slope={slope}",
              file=sys.stderr, flush=True)

    only = os.environ.get("SCALE_ENTRIES")
    if only:
        keep = set(only.split(","))
        LINEAR[:] = [n for n in LINEAR if n in keep]
        for n in list(QUADRATIC):
            if n not in keep:
                del QUADRATIC[n]
        for n in list(FIXEDQ):
            if n not in keep:
                del FIXEDQ[n]
    for name in LINEAR:
        if name == "cleaning_dag_e2e":
            measure(name, big, lambda d: _cleaning_dag_e2e(spark, d))
        else:
            measure(name, big,
                    lambda d, q=QUERIES[name]: _noop(q(spark, d)))
    for name, note in QUADRATIC.items():
        measure(name, small, lambda d, q=QUERIES[name]: _noop(q(spark, d)))
        results[name]["note"] = note
    fixedq_notes = {
        "semantic_dedup_capped": (
            "max_cluster_size=200 bounds within-cluster pairs; slope "
            "measures assignment + cid shuffle, the linear part"
        ),
        "spatial_nearest_area_scaled": (
            "area grows with data at constant density (the real-world "
            "scale-up): slope measures the grid join itself, not the "
            "replica's density artifact"
        ),
        "interval_overlap_time_scaled": (
            "time span grows with data at constant promo density (the "
            "real-world scale-up): slope measures the bucketed range "
            "join itself, not the replica's density artifact"
        ),
        "semantic_decontamination_fixedb": (
            "fixed benchmark set (the production shape): slope "
            "isolates corpus growth — one zero-shuffle Arrow scan"
        ),
        "hard_negatives_scaleda_ivfarrow": (
            "anchors scale WITH the corpus (hard_negatives_mining's "
            "regime, exact slope 1.236) but candidates= is fed by the "
            "IVF+Arrow generator — probe-restricted BLAS scoring in "
            "one corpus pass"
        ),
    }
    for name, fn in FIXEDQ.items():
        measure(name, big, lambda d, f=fn: _noop(f(spark, d, n1_max)))
        results[name]["note"] = fixedq_notes.get(
            name,
            "fixed query batch (the production regime): slope isolates "
            "corpus growth",
        )

    # r10 (VERDICT r9 ask 1/6): manifest extend vs rebuild — the
    # manifest covers an Fx history, ONE fixed-size delta batch (the
    # 1x lineitem) lands, and the question 100 TB cares about is what
    # bringing stats current costs: extend stats ONLY the delta
    # (fixed work as F grows) while rebuild re-scans the whole
    # history (work grows with F) — the ratio should WIDEN with F.
    if not only or "manifest_extend_vs_rebuild" in keep:
        from bohemia_kenya_data_pipeline_spark.operators import (
            skipping as skp,
        )

        for fct in sorted({1, big}):
            mpath = f"{SCRATCH}/manifest_ext_x{fct}"
            shutil.rmtree(mpath, ignore_errors=True)
            li = spark.read.parquet(
                os.path.join(dirs[fct], "lineitem.parquet")
            )
            li.repartitionByRange(
                max(8, 8 * fct), "l_shipdate"
            ).write.mode("overwrite").parquet(mpath)
            skp.build_file_manifest(
                spark, mpath, ["l_shipdate", "l_quantity"]
            )
            delta = spark.read.parquet(
                os.path.join(dirs[1], "lineitem.parquet")
            )
            delta.repartitionByRange(4, "l_shipdate").write.mode(
                "append"
            ).parquet(mpath)
            t_ext = _time(lambda: skp.extend_file_manifest(spark, mpath))
            t_reb = _time(
                lambda: skp.build_file_manifest(
                    spark, mpath, ["l_shipdate", "l_quantity"]
                )
            )
            results[f"manifest_extend_vs_rebuild_x{fct}"] = {
                "t_extend": t_ext,
                "t_rebuild": t_reb,
                "rebuild_over_extend": round(t_reb / max(t_ext, 1e-3), 2),
                "factor": fct,
                "note": (
                    "fixed 1x delta appended to an Fx history: extend "
                    "re-stats only the delta files, rebuild re-scans "
                    "everything — the append-heavy history regime"
                ),
            }
            print(
                f"manifest_extend_vs_rebuild_x{fct}: extend={t_ext}s "
                f"rebuild={t_reb}s ratio="
                f"{results[f'manifest_extend_vs_rebuild_x{fct}']['rebuild_over_extend']}",
                file=sys.stderr, flush=True,
            )
            shutil.rmtree(mpath, ignore_errors=True)
            shutil.rmtree(mpath + "__manifest", ignore_errors=True)

    # r8 (VERDICT r7 ask 1): the index BUILD at a production centroid
    # count — one full corpus pass of centroid assignment + the
    # partitioned write. Centroids are trained ONCE on the 1x corpus
    # and reused at both scales, so the slope isolates the
    # assignment+write pass (the thing a 100 TB deployment pays). The
    # kernel is the size rule's (similarity.ARROW_ASSIGN_MIN_CXD): at
    # the default C=64, C x D = 4096 runs the Arrow argmax kernel.
    from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt

    ANN_C = int(os.environ.get("SCALE_ANN_CENTROIDS", "64"))
    build_name = f"ann_index_build_c{ANN_C}_arrow"
    if not only or build_name in keep:
        cents_big = sim.ivf_train_centroids(
            _t(spark, SRC, "embeddings"), n_centroids=ANN_C, n_iters=3
        )

        def mk(d):
            rt.build_ann_index(
                _t(spark, d, "embeddings"),
                os.path.join(SCRATCH, "annbuild_arrow"),
                centroids=cents_big,
            )

        measure(build_name, big, mk)
        results[build_name]["note"] = (
            f"index build, n_centroids={ANN_C} (C x D = {ANN_C * 64}): "
            "assignment + partitioned write over the full corpus with "
            "FIXED pre-trained centroids; numpy argmax per Arrow batch "
            "at C x D >= 1024 — the production kernel"
        )

    # r8 follow-on: TRAINING at production C — each Lloyd round is one
    # mapInPandas partial-sum pass at C x D >= 1024 (the size rule),
    # instead of the interpreted assignment fold + posexplode shuffle.
    # 2 rounds at C=64, full corpus (train_fraction is the independent
    # sampling knob).
    train_name = f"ivf_train_c{ANN_C}_arrow"
    if not only or train_name in keep:

        def mk_t(d):
            sim.ivf_train_centroids(
                _t(spark, d, "embeddings"), n_centroids=ANN_C, n_iters=2
            )

        measure(train_name, big, mk_t)
        results[train_name]["note"] = (
            f"2 Lloyd rounds at n_centroids={ANN_C}, full corpus; one "
            "mapInPandas partial-sum pass per round (partials = "
            "partitions x occupied cids) at C x D >= 1024 — the "
            "production trainer"
        )

    # r10: the maintenance-loop ACTION — warm-start Lloyd retrain over
    # the live index (tombstoned 10%) + re-assign + in-place rewrite.
    # The whole job reads the INDEX only; slope ~1 in index size is
    # the expected (and acceptable) shape — the 100 TB win is what it
    # AVOIDS (re-running the corpus -> embedding -> ingest pipeline),
    # so the record pins that the per-byte cost is flat, no knee.
    retrain_name = f"ann_index_retrain_c{ANN_C}"
    if not only or retrain_name in keep:
        cents_r = sim.ivf_train_centroids(
            _t(spark, SRC, "embeddings"), n_centroids=ANN_C, n_iters=3
        )
        rpaths = {}
        for fct in sorted({1, big}):
            p = os.path.join(SCRATCH, f"annretrain_x{fct}")
            shutil.rmtree(p, ignore_errors=True)
            emb_f = _t(spark, dirs[fct], "embeddings")
            rt.build_ann_index(emb_f, p, centroids=cents_r)
            rt.delete_from_index(
                emb_f.filter(F.col("vec_id") % 10 == 7), p
            )
            rpaths[fct] = p

        def mk_r(d):
            fct = 1 if d == dirs[1] else big
            rt.retrain_index(spark, rpaths[fct], n_iters=1)

        measure(retrain_name, big, mk_r)
        results[retrain_name]["note"] = (
            f"one warm-start Lloyd round at n_centroids={ANN_C} over the "
            "LIVE index rows (10% tombstoned; first run folds them away) "
            "+ re-assignment + staged rewrite — index-only I/O, the "
            "corpus is never re-read"
        )
        for p in rpaths.values():
            shutil.rmtree(p, ignore_errors=True)
            shutil.rmtree(p + "__centroids", ignore_errors=True)

    # r11 (VERDICT r10 ask 5): the IDLE maintenance tick — the number a
    # scheduler actually budgets, because the tick runs before every
    # pruned read / on every cron beat and is a no-op almost always.
    # Each persistent structure is built over the 1x and Fx corpora
    # with NOTHING stale (no delta, live share 1.0, manifest current),
    # and the tick alone is timed. Expected shapes, pinned honestly:
    # manifest tick = one FS listing diff (O(#files), zero data files
    # opened); vector/PQ ticks = one column-pruned (id,cid) scan for
    # index_stats (O(index rows) on two thin columns, vectors/codes
    # never read); minhash tick = one band-rows groupBy (O(band rows)).
    idle_names = ["idle_tick_manifest", "idle_tick_ann",
                  "idle_tick_pq", "idle_tick_minhash",
                  "idle_tick_table"]
    if not only or any(n in keep for n in idle_names):
        from bohemia_kenya_data_pipeline_spark.operators import (
            dedup as dd,
            maintenance as mt,
            skipping as skp,
        )

        ipaths: dict[int, dict[str, str]] = {}
        cents_i = sim.ivf_train_centroids(
            _t(spark, SRC, "embeddings"), n_centroids=ANN_C, n_iters=3
        )
        for fct in sorted({1, big}):
            ps = {
                "manifest": os.path.join(SCRATCH, f"idlemani_x{fct}"),
                "ann": os.path.join(SCRATCH, f"idleann_x{fct}"),
                "pq": os.path.join(SCRATCH, f"idlepq_x{fct}"),
                "minhash": os.path.join(SCRATCH, f"idlemh_x{fct}"),
            }
            for p in ps.values():
                shutil.rmtree(p, ignore_errors=True)
                for side in ("__manifest", "__centroids", "__codebooks",
                             "__tombstones", "__stats"):
                    shutil.rmtree(p + side, ignore_errors=True)
            li = spark.read.parquet(
                os.path.join(dirs[fct], "lineitem.parquet")
            )
            li.repartitionByRange(
                max(8, 8 * fct), "l_shipdate"
            ).write.mode("overwrite").parquet(ps["manifest"])
            skp.build_file_manifest(
                spark, ps["manifest"], ["l_shipdate", "l_quantity"]
            )
            emb_f = _t(spark, dirs[fct], "embeddings")
            rt.build_ann_index(emb_f, ps["ann"], centroids=cents_i)
            rt.build_ivfpq_index(emb_f, ps["pq"], centroids=cents_i)
            dd.minhash_index_write(
                _t(spark, dirs[fct], "documents"), ps["minhash"]
            )
            ipaths[fct] = ps

        def _fct(d):
            return 1 if d == dirs[1] else big

        ticks = {
            "idle_tick_manifest": lambda d: skp.maintain_file_manifest(
                spark, ipaths[_fct(d)]["manifest"]
            ),
            "idle_tick_ann": lambda d: rt.maintain_vector_index(
                spark, ipaths[_fct(d)]["ann"]
            ),
            "idle_tick_pq": lambda d: rt.maintain_pq_index(
                spark, ipaths[_fct(d)]["pq"]
            ),
            "idle_tick_minhash": lambda d: dd.maintain_minhash_index(
                spark, ipaths[_fct(d)]["minhash"]
            ),
            # healthy-layout guard: files are MBs, threshold 0.001 MB,
            # so the tick is the pure listing check
            "idle_tick_table": lambda d: mt.maintain_table_layout(
                spark, ipaths[_fct(d)]["manifest"], small_file_mb=0.001
            ),
        }
        idle_notes = {
            "idle_tick_manifest": (
                "no-op tick = one FS listing + join diff, zero data "
                "files opened — cost is O(#files), flat in data bytes"
            ),
            "idle_tick_ann": (
                "no-op tick = index_stats on a column-pruned (id,cid) "
                "scan; vectors never leave the footer — the slope is "
                "the thin-column scan, not the index bytes"
            ),
            "idle_tick_pq": (
                "no-op tick = same (id,cid) stats spine as the ANN "
                "layout; codes never read"
            ),
            "idle_tick_minhash": (
                "no-op tick = one groupBy over band rows (B-row "
                "result); no signatures recomputed"
            ),
            "idle_tick_table": (
                "no-op tick = one FS listing, small-file count only — "
                "no data file opened, no Spark job at all"
            ),
        }
        for name in idle_names:
            if only and name not in keep:
                continue
            # assert the tick really is a no-op before timing it
            r1 = ticks[name](dirs[1])
            assert not (
                r1.get("repaired") or r1.get("extended")
                or r1.get("compacted") or r1.get("retrained")
            ), f"{name}: tick acted on a fresh structure: {r1}"
            measure(name, big, ticks[name])
            results[name]["note"] = idle_notes[name]
        for ps in ipaths.values():
            for p in ps.values():
                shutil.rmtree(p, ignore_errors=True)
                for side in ("__manifest", "__centroids", "__codebooks",
                             "__tombstones", "__stats"):
                    shutil.rmtree(p + side, ignore_errors=True)

    # Deep pass (VERDICT r5 ask 5): the entries whose 10x slope was
    # >= 0.8 get a 30x point to confirm the slope holds and no memory
    # knee appears past 10x. slope_tail isolates the 10x->30x segment:
    # a knee shows up as slope_tail >> slope (the 1x->30x average).
    deep = int(os.environ.get("SCALE_FACTOR_DEEP", "0"))
    if deep:
        # r7: pretrain_mix_spans / rfm_segments_scalable added (VERDICT
        # r6 ask 6) — confirm no knee where the span postings and the
        # boundary-bucket windows get hot past 10x
        DEEP_Q = ["market_basket_brand_pairs", "tpch_q21_waiting_supplier",
                  "pretrain_mix_spans", "rfm_segments_scalable",
                  # r7: confirm the broadcast-anti MERGE plan holds depth
                  "cdc_log_compaction"]
        DEEP_F = ["quantized_fixedq", "cosine_fixedq", "cosine_fixedq_arrow",
                  "quantized_fixedq_arrow", "ivf_ann_fixedq",
                  "ivf_ann_fixedq_arrow",
                  # r7: the density-constant range-join regime at depth
                  "interval_overlap_time_scaled"]
        if only:
            DEEP_Q = [n for n in DEEP_Q if n in keep]
            DEEP_F = [n for n in DEEP_F if n in keep]
        dirs[deep] = build_replica(spark, deep)

        def deepen(name, make):
            if name not in results:
                measure(name, big, make)
            td = _time(lambda: make(dirs[deep]))
            r = results[name]
            r[f"t_{deep}x"] = td
            r["slope_deep"] = round(
                math.log(max(td, 1e-3) / max(r["t_1x"], 1e-3))
                / math.log(deep), 3)
            r["slope_tail"] = round(
                math.log(max(td, 1e-3) / max(r[f"t_{big}x"], 1e-3))
                / math.log(deep / big), 3)
            print(f"{name}: {deep}x={td}s slope_deep={r['slope_deep']} "
                  f"slope_tail={r['slope_tail']}", file=sys.stderr, flush=True)

        for name in DEEP_Q:
            deepen(name, lambda d, q=QUERIES[name]: _noop(q(spark, d)))
        for name in DEEP_F:
            deepen(name, lambda d, f=FIXEDQ[name]: _noop(f(spark, d, n1_max)))

    print(json.dumps({
        "metric": "scale_slopes",
        "factors": sorted(dirs),
        "rows": rows,
        "sf_base": SRC,
        "queries": results,
    }), flush=True)


if __name__ == "__main__":
    main()
