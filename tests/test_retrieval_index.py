"""Persistent ANN index (jobs.retrieval): exact parity with ivf_topk,
file-level partition pruning on the probed centroids, sidecar
round-trip."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt
from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
from bohemia_kenya_data_pipeline_spark.operators import tombstones as tb
from tests.conftest import count_jobs as _count_jobs


def _toy_corpus(spark, n=400, dim=8):
    return spark.range(1, n + 1).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: ((F.col("id") * 37 + j * 11) % 19 - 9.0) / 9.0,
        ).alias("embedding"),
    )


def test_index_query_matches_ivf_topk_exactly(spark, tmp_path):
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "idx")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    got = rt.query_ann_index(spark, path, queries, k=5, n_probe=2)
    want = sim.ivf_topk(
        corpus, queries, k=5, n_centroids=4, n_probe=2, centroids=cents
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # sidecar round-trips the exact centroids
    assert rt.load_ann_centroids(spark, path) == [list(map(float, c)) for c in cents]


def test_index_scan_prunes_unprobed_partitions(spark, tmp_path):
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 40)  # one query: n_probe dirs
    path = str(tmp_path / "idx2")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    assert len(glob.glob(f"{path}/cid=*")) == 4  # all buckets materialized
    out = rt.query_ann_index(spark, path, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probed-cid filter reaches the scan as a PARTITION filter
    # (directory-level skip), not a post-scan row filter
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters", 1)[1][:200]
    assert out.count() == 3


def test_index_build_accepts_pretrained_and_drops_nulls(spark, tmp_path):
    corpus = _toy_corpus(spark, n=50).unionByName(
        spark.createDataFrame([(999, None)], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    )
    path = str(tmp_path / "idx3")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    out = rt.build_ann_index(corpus, path, centroids=cents)
    assert out == cents
    stored = spark.read.parquet(path)
    assert stored.count() == 50  # NULL embedding never indexed
    assert stored.filter(F.col("vec_id") == 999).count() == 0


def test_extend_ann_index_equals_rebuild(spark, tmp_path):
    corpus = _toy_corpus(spark, n=300)
    late = _toy_corpus(spark, n=400).filter(F.col("vec_id") > 300)
    queries = corpus.filter(F.col("vec_id") % 60 == 0)
    path = str(tmp_path / "idx_grow")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.extend_ann_index(late, path)
    got = rt.query_ann_index(spark, path, queries, k=5, n_probe=2)
    # a rebuild over the full corpus with the SAME centroids must agree
    path2 = str(tmp_path / "idx_full")
    rt.build_ann_index(_toy_corpus(spark, n=400), path2, centroids=cents)
    want = rt.query_ann_index(spark, path2, queries, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert spark.read.parquet(path).count() == 400


def _fold_index(corpus, path, cents, mode="overwrite"):
    """Write (vec_id, embedding, cid) with the expression-fold
    assignment kernel, laid out like a build_ann_index index."""
    sim._assign_centroids_fold(
        corpus.select("vec_id", "embedding"), cents, "embedding", "cid"
    ).write.mode(mode).partitionBy("cid").parquet(path)


def test_arrow_assignment_parity_with_fold(spark, tmp_path):
    """The Arrow assignment kernel (numpy argmax) writes a
    hash-identical index to the expression-fold kernel — same rows,
    same cids, same partition layout — at a C x D where the size rule
    picks Arrow (VERDICT r7 ask 1)."""
    corpus = _toy_corpus(spark, n=600, dim=16)
    cents = sim.ivf_train_centroids(
        corpus, n_centroids=64, n_iters=2
    )
    assert sim._use_arrow(cents)
    p_fold = str(tmp_path / "fold")
    p_arrow = str(tmp_path / "arrow")
    _fold_index(corpus, p_fold, cents)
    rt.build_ann_index(corpus, p_arrow, centroids=cents)

    def snap(path):
        rows = spark.read.parquet(path).collect()
        return sorted((r.vec_id, int(r.cid), tuple(r.embedding)) for r in rows)

    a, b = snap(p_fold), snap(p_arrow)
    assert a == b and len(a) == 600
    # partition layout identical too (file-level pruning contract)
    import os

    dirs = lambda p: sorted(os.path.basename(x) for x in glob.glob(f"{p}/cid=*"))
    assert dirs(p_fold) == dirs(p_arrow)


def test_assign_auto_threshold_and_extend_parity(spark, tmp_path):
    """The size rule: fold below ARROW_ASSIGN_MIN_CXD, arrow at/above;
    extend with the arrow kernel appends the same rows the fold kernel
    would."""
    corpus = _toy_corpus(spark, n=200, dim=16)
    small = [[1.0] + [0.0] * 15, [0.0] * 15 + [1.0]]  # 2x16 = 32 < 1024
    assert not sim._use_arrow(small)
    path = str(tmp_path / "auto_small")
    rt.build_ann_index(corpus, path, centroids=small)  # must not need Arrow
    assert len(rt.load_ann_centroids(spark, path)) == 2

    # extend: arrow vs fold parity on the appended delta
    cents = sim.ivf_train_centroids(corpus, n_centroids=64, n_iters=2)
    assert sim._use_arrow(cents)
    delta = _toy_corpus(spark, n=700, dim=16).filter(F.col("vec_id") > 600)
    p1, p2 = str(tmp_path / "e_fold"), str(tmp_path / "e_arrow")
    _fold_index(corpus, p1, cents)
    _fold_index(delta, p1, cents, mode="append")
    rt.build_ann_index(corpus, p2, centroids=cents)
    rt.extend_ann_index(delta, p2)
    s1 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p1).collect())
    s2 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p2).collect())
    assert s1 == s2 and len(s1) == 300  # 200 corpus + 100 appended


def test_assign_centroids_arrow_passthrough_and_guards(spark):
    """The kernel passes non-vector columns through untouched, drops
    NULL vectors, and refuses an out_col collision (both kernels)."""
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b"), (3, None, "c")],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, tag STRING",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = sim.assign_centroids_arrow(df, cents).orderBy("vec_id").collect()
    assert [(r.vec_id, r.cid, r.tag) for r in out] == [(1, 0, "a"), (2, 1, "b")]
    with pytest.raises(ValueError, match="already exists"):
        sim.assign_centroids_arrow(df.withColumn("cid", F.lit(1)), cents)
    with pytest.raises(ValueError, match="already exists"):
        sim.assign_centroids(df.withColumn("cid", F.lit(1)), cents)


def _lloyd_with(round_fn, corpus, n_centroids, n_iters, seed=None):
    """Seed (md5-smallest ids, or ``seed``) and run ``n_iters`` rounds
    of one Lloyd kernel directly."""
    base = corpus.select(
        F.col("vec_id").alias("id"), sim._as_double("embedding").alias("v")
    )
    cents = seed or sim._seed_centroids(base, n_centroids, None)
    for _ in range(n_iters):
        cents = round_fn(base, cents)
    return cents


def test_build_train_kernel_auto_and_parity(spark, tmp_path):
    """Both Lloyd kernels yield the same index content on the fixture
    (identical Lloyd fixed point -> identical assignments), and
    build_ann_index's implicit training at production C (the Arrow
    round) indexes correctly end to end."""
    corpus = _toy_corpus(spark, n=300, dim=16)
    p1, p2 = str(tmp_path / "tf"), str(tmp_path / "ta")
    c_fold = _lloyd_with(sim._lloyd_round_fold, corpus, 4, 2)
    c_arrow = _lloyd_with(sim._lloyd_round_arrow, corpus, 4, 2)
    rt.build_ann_index(corpus, p1, centroids=c_fold)
    rt.build_ann_index(corpus, p2, centroids=c_arrow)
    assert len(c_fold) == len(c_arrow) == 4
    s1 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p1).collect())
    s2 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p2).collect())
    assert s1 == s2 and len(s1) == 300

    # C=64 trains via Arrow end-to-end and the index queries
    p3 = str(tmp_path / "auto64")
    cents = rt.build_ann_index(corpus, p3, n_centroids=64, n_iters=1)
    assert len(cents) == 64
    q = corpus.filter(F.col("vec_id") % 100 == 0)
    out = rt.query_ann_index(spark, p3, q, k=3, n_probe=64)
    want = sim.cosine_topk(corpus, q, k=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_build_small_cxd_trains_with_fold_round(spark, tmp_path, monkeypatch):
    """C x D is read off the data: 64 centroids over a dim-8 corpus is
    512 < ARROW_ASSIGN_MIN_CXD, so the build trains AND assigns with
    the fold kernels — never the Arrow round."""

    def no_arrow(*a, **k):
        raise AssertionError("Arrow kernel called below the size threshold")

    monkeypatch.setattr(sim, "_lloyd_round_arrow", no_arrow)
    monkeypatch.setattr(sim, "assign_centroids_arrow", no_arrow)
    corpus = _toy_corpus(spark, n=400, dim=8)
    cents = rt.build_ann_index(
        corpus, str(tmp_path / "c64d8"), n_centroids=64, n_iters=1
    )
    assert len(cents) == 64 and len(cents[0]) == 8


def test_every_ivf_entry_point_follows_one_size_rule(spark, tmp_path, monkeypatch):
    """At C x D = 1023 every kernel choice is the fold, at 1024 the
    Arrow kernel: build (training + assignment), extend, retrain,
    ingest drift and direct training all agree."""
    calls: list[str] = []

    def spy(kind, fn):
        def wrapped(*a, **k):
            calls.append(kind)
            return fn(*a, **k)

        return wrapped

    for name, kind in [
        ("assign_centroids_arrow", "arrow"),
        ("_lloyd_round_arrow", "arrow"),
        ("_assign_centroids_fold", "fold"),
        ("_lloyd_round_fold", "fold"),
    ]:
        monkeypatch.setattr(sim, name, spy(kind, getattr(sim, name)))

    for n_cents, dim, want in [(31, 33, "fold"), (32, 32, "arrow")]:
        assert n_cents * dim == sim.ARROW_ASSIGN_MIN_CXD - (want == "fold")
        corpus = _toy_corpus(spark, n=200, dim=dim)
        delta = _toy_corpus(spark, n=240, dim=dim).filter(F.col("vec_id") > 200)
        path = str(tmp_path / f"rule_{want}")
        steps = {
            "build": lambda: rt.build_ann_index(
                corpus, path, n_centroids=n_cents, n_iters=1
            ),
            "extend": lambda: rt.extend_ann_index(delta, path),
            "drift": lambda: rt.index_ingest_drift(spark, path, delta).collect(),
            "retrain": lambda: rt.retrain_index(spark, path, n_iters=1),
            "train": lambda: sim.ivf_train_centroids(
                corpus, n_centroids=n_cents, n_iters=1
            ),
        }
        for step, run in steps.items():
            calls.clear()
            run()
            assert calls and set(calls) == {want}, (n_cents * dim, step, calls)


# ---------------------------------------------------------------------------
# IVF-PQ index: compressed codes on disk, ADC + exact rerank
# ---------------------------------------------------------------------------


def _toy_codebooks(dim=8, m=4, k=8):
    return sim.pq_codebooks(dim, m, k)


def test_ivfpq_adc_matches_pq_topk_under_exhaustive_probes(spark, tmp_path):
    # n_probe = n_centroids: partition pruning keeps everything, the
    # per-query cid restriction is vacuous, so ADC over the persisted
    # codes must equal pq_topk over the raw corpus exactly
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    cb = _toy_codebooks()
    path = str(tmp_path / "pqidx")
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=cb)
    got = rt.query_ivfpq_index(spark, path, queries, k=5, n_probe=len(cents))
    want = sim.pq_topk(corpus, queries, cb, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_rerank_exhaustive_equals_exact_brute_force(spark, tmp_path):
    # exhaustive probes + rerank pool >= corpus: the two-stage path
    # degenerates to exact cosine_topk — the recall-repair ceiling
    corpus = _toy_corpus(spark, n=120)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    cb = _toy_codebooks()
    path = str(tmp_path / "pqidx_rr")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    rt.build_ivfpq_index(
        corpus, path, centroids=cents, codebooks=cb, store_vec=True
    )
    got = rt.query_ivfpq_index(
        spark, path, queries, k=5, n_probe=2, rerank=200
    )
    want = sim.cosine_topk(corpus, queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_rerank_requires_stored_vectors(spark, tmp_path):
    import pytest

    corpus = _toy_corpus(spark, n=60)
    cb = _toy_codebooks()
    path = str(tmp_path / "pqidx_novec")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=cb)
    with pytest.raises(ValueError, match="store_vec"):
        rt.query_ivfpq_index(
            spark, path, corpus.limit(2), k=3, n_probe=2, rerank=10
        ).collect()


def test_ivfpq_index_is_compressed_and_prunes_partitions(spark, tmp_path):
    import os as _os

    # high-entropy vectors (xxhash64-derived, ~unique doubles): the
    # _toy_corpus LCG has 19 distinct values per position, which
    # dictionary-encodes to almost nothing and hides the code/vector
    # size gap; real embeddings are incompressible, like these
    corpus = (
        spark.range(1, 6001)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.pmod(F.xxhash64(F.col("id") * 131 + j), F.lit(100000))
                / 50000.0
                - 1.0,
            ).alias("embedding"),
        )
        .coalesce(2)
    )
    cb = _toy_codebooks()
    pq_path = str(tmp_path / "pq_small")
    raw_path = str(tmp_path / "raw_big")
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    rt.build_ivfpq_index(corpus, pq_path, centroids=cents, codebooks=cb)
    rt.build_ann_index(corpus, raw_path, centroids=cents)

    def _bytes(root):
        return sum(
            _os.path.getsize(_os.path.join(d, f))
            for d, _, fs in _os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    # codes (4 ints) vs vectors (8 doubles): the pq layout must be
    # materially smaller on disk, not just in theory
    assert _bytes(pq_path) < 0.7 * _bytes(raw_path)

    # sidecar round-trip
    assert rt.load_pq_codebooks(spark, pq_path) == [
        [[float(x) for x in cw] for cw in book] for book in cb
    ]

    # probed-cid filter reaches the scan as a partition filter
    queries = corpus.filter(F.col("vec_id") == 40)
    out = rt.query_ivfpq_index(spark, pq_path, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters", 1)[1][:200]


def test_pq_adc_topk_probe_restricts_candidates_per_query(spark):
    # two well-separated clusters: with n_probe=1 each query may only
    # see neighbors from its own centroid's bucket
    corpus = _toy_corpus(spark, n=100)
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    assigned = corpus.withColumn(
        "cid", F.expr(sim._nearest_cid_sql("`embedding`", sim._centroid_literal_sql(cents)))
    )
    codes = sim.pq_encode(assigned, cb, extra_cols=("cid",)).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    queries = corpus.filter(F.col("vec_id") % 25 == 0)
    got = sim.pq_adc_topk(codes, queries, cb, k=50, probe=(cents, 1))
    cid_of = {
        r.neighbor_id: r.cid for r in codes.select("neighbor_id", "cid").collect()
    }
    qcid = {
        r.vec_id: r.cid
        for r in assigned.select("vec_id", "cid")
        .filter(F.col("vec_id") % 25 == 0)
        .collect()
    }
    for r in got.collect():
        assert cid_of[r.neighbor_id] == qcid[r.query_id]


def test_ivfpq_rerank_pool_smaller_than_k_raises(spark, tmp_path):
    # regression for the r9 guard (retrieval.py): a rerank pool
    # smaller than k would silently return `rerank` rows per query
    import pytest

    corpus = _toy_corpus(spark, n=60)
    path = str(tmp_path / "pqidx_guard")
    rt.build_ivfpq_index(
        corpus, path, centroids=[[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]],
        codebooks=_toy_codebooks(), store_vec=True,
    )
    with pytest.raises(ValueError, match="rerank=3 must be >= k=5"):
        rt.query_ivfpq_index(
            spark, path, corpus.limit(2), k=5, n_probe=2, rerank=3
        )


def test_extend_ivfpq_index_equals_rebuild(spark, tmp_path):
    # extension exactness for the compressed layout: sidecar-driven
    # assignment + encoding of the delta must answer exactly like a
    # full rebuild, with AND without stored vectors / rerank
    full = _toy_corpus(spark, n=400)
    base = full.filter(F.col("vec_id") <= 300)
    late = full.filter(F.col("vec_id") > 300)
    queries = full.filter(F.col("vec_id") % 60 == 0)
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    for store_vec, rerank in ((False, 0), (True, 20)):
        pe = str(tmp_path / f"pq_ext_{store_vec}")
        pf = str(tmp_path / f"pq_full_{store_vec}")
        rt.build_ivfpq_index(
            base, pe, centroids=cents, codebooks=cb, store_vec=store_vec
        )
        rt.extend_ivfpq_index(late, pe)
        rt.build_ivfpq_index(
            full, pf, centroids=cents, codebooks=cb, store_vec=store_vec
        )
        got = rt.query_ivfpq_index(
            spark, pe, queries, k=5, n_probe=2, rerank=rerank
        )
        want = rt.query_ivfpq_index(
            spark, pf, queries, k=5, n_probe=2, rerank=rerank
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), (store_vec, rerank)
        assert spark.read.parquet(pe).count() == 400
        # appended rows carry the vector column iff the index does
        assert ("embedding" in spark.read.parquet(pe).columns) == store_vec


# ---------------------------------------------------------------------------
# Tombstone deletes: mutable-corpus serving without index rewrites
# ---------------------------------------------------------------------------


def test_delete_equals_index_built_over_survivors_ann(spark, tmp_path):
    # the strong contract: after delete_from_index, queries answer
    # EXACTLY as if the index had been built over the surviving
    # corpus with the same centroids — deleted ids never surface and
    # never displace a survivor's rank
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    deleted = corpus.filter(F.col("vec_id") % 7 == 3)
    path = str(tmp_path / "del_ann")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.delete_from_index(deleted, path)
    got = rt.query_ann_index(spark, path, queries, k=5, n_probe=2)
    path2 = str(tmp_path / "del_ann_want")
    rt.build_ann_index(
        corpus.filter(F.col("vec_id") % 7 != 3), path2, centroids=cents
    )
    want = rt.query_ann_index(spark, path2, queries, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert (
        got.filter(F.col("neighbor_id") % 7 == 3).count() == 0
    )  # no tombstoned id surfaces
    # the cid partitions were NOT rewritten (delta-sized delete)
    assert spark.read.parquet(path).count() == 400


def test_delete_equals_survivor_index_ivfpq_with_rerank(spark, tmp_path):
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    path = str(tmp_path / "del_pq")
    rt.build_ivfpq_index(
        corpus, path, centroids=cents, codebooks=cb, store_vec=True
    )
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 7 == 3), path)
    path2 = str(tmp_path / "del_pq_want")
    rt.build_ivfpq_index(
        corpus.filter(F.col("vec_id") % 7 != 3), path2,
        centroids=cents, codebooks=cb, store_vec=True,
    )
    for rerank in (0, 20):
        got = rt.query_ivfpq_index(
            spark, path, queries, k=5, n_probe=2, rerank=rerank
        )
        want = rt.query_ivfpq_index(
            spark, path2, queries, k=5, n_probe=2, rerank=rerank
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), rerank


def test_extend_readmission_compacts_so_no_duplicate_rows(spark, tmp_path):
    import os

    corpus = _toy_corpus(spark, n=300)
    path = str(tmp_path / "readd")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    doomed = corpus.filter(F.col("vec_id") % 50 == 7)  # 6 ids
    rt.delete_from_index(doomed, path)
    # re-admitting tombstoned ids triggers an implicit compaction:
    # the stale stored rows are folded away BEFORE the append lands,
    # so no id ever has two rows behind it
    rt.extend_ann_index(doomed, path)
    assert spark.read.parquet(path).count() == 300  # no duplicate rows
    assert not os.path.exists(tb.sidecar_path(path))
    got = rt.query_ann_index(spark, path, doomed.limit(1), k=3, n_probe=4)
    # with exhaustive probes the re-added neighbors are queryable
    assert got.count() == 3
    # steady-state extends (no re-admission) never pay the compaction:
    # a fresh-id append with live tombstones leaves the sidecar alone
    rt.delete_from_index(corpus.filter(F.col("vec_id") == 1), path)
    fresh = _toy_corpus(spark, n=310).filter(F.col("vec_id") > 300)
    rt.extend_ann_index(fresh, path)
    assert os.path.exists(tb.sidecar_path(path))
    assert spark.read.parquet(path).count() == 310  # still masked, not folded


def test_compact_index_is_query_invisible_and_drops_sidecar(spark, tmp_path):
    import os

    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "vac")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 7 == 3), path)
    before = sorted(
        map(tuple, rt.query_ann_index(spark, path, queries, k=5, n_probe=2).collect())
    )
    rt.compact_index(spark, path)
    after = sorted(
        map(tuple, rt.query_ann_index(spark, path, queries, k=5, n_probe=2).collect())
    )
    assert before == after  # vacuum changes nothing a query can see
    assert not os.path.exists(tb.sidecar_path(path))  # sidecar folded
    stored = spark.read.parquet(path)
    assert stored.count() == 400 - 57  # tombstoned rows physically gone
    assert stored.filter(F.col("vec_id") % 7 == 3).count() == 0
    assert len(glob.glob(f"{path}/cid=*")) > 0  # cid layout preserved


def test_rebuild_at_same_path_clears_stale_tombstones(spark, tmp_path):
    corpus = _toy_corpus(spark, n=200)
    path = str(tmp_path / "rebuild")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.delete_from_index(corpus.filter(F.col("vec_id") <= 100), path)
    # a rebuild is a new index: yesterday's tombstones must not hide
    # today's corpus
    rt.build_ann_index(corpus, path, centroids=cents)
    q = corpus.filter(F.col("vec_id") == 50)
    got = rt.query_ann_index(spark, path, q, k=5, n_probe=4)
    assert got.count() == 5
    import os

    assert not os.path.exists(tb.sidecar_path(path))


def test_index_stats_reports_live_vs_stored_per_cid(spark, tmp_path):
    corpus = _toy_corpus(spark, n=200)
    path = str(tmp_path / "stats_ann")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    # no tombstones: live == stored, shares sum to 1
    s0 = rt.index_stats(spark, path).collect()
    assert sum(r.stored_rows for r in s0) == 200
    assert all(r.live_rows == r.stored_rows for r in s0)
    assert abs(sum(r.live_share for r in s0) - 1.0) < 1e-4
    # tombstone a batch: stored unchanged, live drops by exactly the
    # per-cid tombstone counts (cross-checked from the index itself)
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 4 == 1), path)
    dead_by_cid = {
        r.cid: r.n
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id") % 4 == 1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    s1 = {r.cid: r for r in rt.index_stats(spark, path).collect()}
    assert sum(r.stored_rows for r in s1.values()) == 200
    assert sum(r.live_rows for r in s1.values()) == 150
    for cid, r in s1.items():
        assert r.stored_rows - r.live_rows == dead_by_cid.get(cid, 0)
    # same spine works on the compressed layout
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    pqp = str(tmp_path / "stats_pq")
    rt.build_ivfpq_index(corpus, pqp, centroids=cents, codebooks=cb)
    sp = rt.index_stats(spark, pqp).collect()
    assert sum(r.stored_rows for r in sp) == 200


def test_index_ingest_drift_psi_separates_stable_from_drifted(spark, tmp_path):
    corpus = _toy_corpus(spark, n=400)
    path = str(tmp_path / "drift_ann")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    # a batch drawn from the same generator: near-zero PSI per cid
    same = _toy_corpus(spark, n=800).filter(F.col("vec_id") > 400)
    stable = rt.index_ingest_drift(spark, path, same).collect()
    assert len(stable) == 4 and [r.cid for r in stable] == [0, 1, 2, 3]
    assert sum(r.psi_term for r in stable) < 0.1  # "stable" band
    assert abs(sum(r.batch_share for r in stable) - 1.0) < 1e-3
    # a batch collapsed onto ONE stored vector's bucket: drifted —
    # its cid gains mass, the others fall to the eps floor
    one = corpus.filter(F.col("vec_id") == 17)
    hot = one.collect()[0]
    drifted = rt.index_ingest_drift(
        spark, path, one.union(one).union(one).union(one)
    ).collect()
    total_psi = sum(r.psi_term for r in drifted)
    assert total_psi > 0.25  # "rebuild" band
    by_cid = {r.cid: r for r in drifted}
    # zero-mass cids sit on the eps floor, never NULL/NaN
    import math

    for r in drifted:
        assert r.batch_share >= 1e-4 and not math.isnan(r.psi_term)
    # the hot bucket carries the batch mass
    hot_cid = (
        spark.read.parquet(path).filter(F.col("vec_id") == hot.vec_id).collect()[0].cid
    )
    assert by_cid[hot_cid].batch_share > 0.99


def test_retrain_index_recenters_on_live_rows_only(spark, tmp_path):
    """retrain_index = warm-started Lloyd over the LIVE stored vectors
    + in-place rewrite: the refined centroids must match refining over
    the survivor corpus directly, the rewritten index must equal a
    fresh build over the survivors with those centroids, and the
    retrain must double as compaction (tombstones folded away)."""
    import os

    corpus = _toy_corpus(spark, n=200)
    path = str(tmp_path / "retrain_ann")
    cents0 = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 4 == 1), path)
    survivors = corpus.filter(F.col("vec_id") % 4 != 1)
    new_cents = rt.retrain_index(spark, path, n_iters=2)
    want_cents = sim.ivf_refine_centroids(survivors, cents0, n_iters=2)
    assert len(new_cents) == len(want_cents) == 4
    for got_c, want_c in zip(new_cents, want_cents):
        for g, w in zip(got_c, want_c):
            assert abs(g - w) < 1e-9  # summation-order drift only
    # rewritten index == fresh build over survivors w/ the refined cents
    fresh = str(tmp_path / "fresh_ann")
    rt.build_ann_index(survivors, fresh, centroids=new_cents)
    got = sorted(
        map(tuple, spark.read.parquet(path).select("vec_id", "cid").collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(fresh).select("vec_id", "cid").collect())
    )
    assert got == want and len(got) == 150
    # sidecar holds the refined centroids; tombstones are gone;
    # stats agree (retrain doubled as compaction)
    assert rt.load_ann_centroids(spark, path) == [
        [float(x) for x in c] for c in new_cents
    ]
    assert not os.path.exists(tb.sidecar_path(path))
    st = rt.index_stats(spark, path).collect()
    assert all(r.stored_rows == r.live_rows for r in st)
    assert sum(r.stored_rows for r in st) == 150
    # queries against the retrained index match the fresh-built one
    q = survivors.filter(F.col("vec_id") % 40 == 0)
    got_q = sorted(
        map(tuple, rt.query_ann_index(spark, path, q, k=3, n_probe=2).collect())
    )
    want_q = sorted(
        map(tuple, rt.query_ann_index(spark, fresh, q, k=3, n_probe=2).collect())
    )
    assert got_q == want_q


def test_retrain_index_rejects_pq_layout(spark, tmp_path):
    import pytest

    corpus = _toy_corpus(spark, n=100)
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    path = str(tmp_path / "retrain_pq")
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=_toy_codebooks())
    with pytest.raises(ValueError, match="build_ivfpq_index"):
        rt.retrain_index(spark, path)


def test_refine_kernels_agree_and_validate(spark):
    import pytest

    corpus = _toy_corpus(spark, n=120)
    seed = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4]
    fold = _lloyd_with(sim._lloyd_round_fold, corpus, 2, 2, seed=seed)
    arrow = _lloyd_with(sim._lloyd_round_arrow, corpus, 2, 2, seed=seed)
    for fc, ac in zip(fold, arrow):
        for f_x, a_x in zip(fc, ac):
            assert abs(f_x - a_x) < 1e-9
    # the public warm start runs the same (fold, 2x8) rounds
    refined = sim.ivf_refine_centroids(corpus, seed, n_iters=2)
    for rc, fc in zip(refined, fold):
        for r_x, f_x in zip(rc, fc):
            assert abs(r_x - f_x) < 1e-9
    with pytest.raises(ValueError, match="empty"):
        sim.ivf_refine_centroids(corpus, [])


def test_maintain_vector_index_policy_ticks(spark, tmp_path):
    """One scheduler tick composes the monitoring signals into the
    documented decisions: stable batch -> plain extend; drifted batch
    -> retrain THEN extend; tombstone debt past the vacuum threshold
    -> compact; healthy index -> no action."""
    import os

    corpus = _toy_corpus(spark, n=400)
    path = str(tmp_path / "maint_ann")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    # stable batch: same generator -> low PSI -> extend only
    batch1 = _toy_corpus(spark, n=500).filter(F.col("vec_id") > 400)
    r1 = rt.maintain_vector_index(spark, path, batch1)
    assert r1["psi"] is not None and r1["psi"] < 0.25
    assert r1["extended"] and not r1["retrained"] and not r1["compacted"]
    assert r1["ingested_rows"] == 100
    assert spark.read.parquet(path).count() == 500
    # RETRIED tick with the same batch: the live-id anti-join empties
    # the delta — no double-ingest, no PSI pass (ADVICE r10)
    r1b = rt.maintain_vector_index(spark, path, batch1)
    assert r1b["ingested_rows"] == 0 and not r1b["extended"]
    assert r1b["psi"] is None
    assert spark.read.parquet(path).count() == 500
    # drifted batch: everything collapses onto one stored vector's
    # bucket -> PSI past the rebuild band -> retrain before the extend
    one = corpus.filter(F.col("vec_id") == 17).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    drifted = one
    for k in range(1, 4):
        drifted = drifted.union(
            one.select((F.col("vec_id") + k).alias("vec_id"), "embedding")
        )
    r2 = rt.maintain_vector_index(spark, path, drifted)
    assert r2["psi"] > 0.25 and r2["retrained"] and r2["extended"]
    assert spark.read.parquet(path).count() == 504
    # tombstone debt: delete ~half, tick with no batch -> compaction
    rt.delete_from_index(
        spark.read.parquet(path).filter(F.col("vec_id") % 2 == 0), path
    )
    r3 = rt.maintain_vector_index(spark, path)
    assert r3["psi"] is None and r3["compacted"]
    assert r3["live_share"] < 0.8
    assert not os.path.exists(tb.sidecar_path(path))
    # healthy index: the tick is a no-op
    r4 = rt.maintain_vector_index(spark, path)
    assert r4 == {
        "psi": None, "ingested_rows": 0, "retrained": False,
        "extended": False, "live_share": 1.0, "compacted": False,
    }


def test_maintain_pq_index_policy_ticks(spark, tmp_path):
    """The IVF-PQ maintenance tick (VERDICT r10 ask 4): extend is
    delta-sized and idempotent; drift past the rebuild band is
    REPORTED (rebuild_from_corpus) instead of retrained — PQ codes are
    lossy, only a corpus pass can rebuild — while the batch still
    lands; tombstone debt compacts; a healthy tick is a no-op."""
    import os

    corpus = _toy_corpus(spark, n=400, dim=16)
    path = str(tmp_path / "maint_pq")
    rt.build_ivfpq_index(
        corpus, path, n_centroids=4, n_subspaces=4, n_codewords=8, n_iters=2
    )
    cents_before = rt.load_ann_centroids(spark, path)
    # stable batch: same generator -> low PSI -> extend only
    batch1 = _toy_corpus(spark, n=500, dim=16).filter(F.col("vec_id") > 400)
    r1 = rt.maintain_pq_index(spark, path, batch1)
    assert r1["psi"] is not None and r1["psi"] < 0.25
    assert r1["ingested_rows"] == 100 and r1["extended"]
    assert not r1["rebuild_from_corpus"] and not r1["compacted"]
    assert spark.read.parquet(path).count() == 500
    # retried tick with the same batch: no double-ingest
    r1b = rt.maintain_pq_index(spark, path, batch1)
    assert r1b["ingested_rows"] == 0 and not r1b["extended"]
    assert spark.read.parquet(path).count() == 500
    # drifted batch: PSI past the band -> flagged, NOT retrained (the
    # centroid sidecar is untouched) -- and the batch still lands
    one = corpus.filter(F.col("vec_id") == 17).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    drifted = one
    for k in range(1, 4):
        drifted = drifted.union(
            one.select((F.col("vec_id") + k).alias("vec_id"), "embedding")
        )
    r2 = rt.maintain_pq_index(spark, path, drifted)
    assert r2["psi"] > 0.25 and r2["rebuild_from_corpus"] and r2["extended"]
    assert rt.load_ann_centroids(spark, path) == cents_before
    assert spark.read.parquet(path).count() == 504
    # tombstone debt: delete ~half, tick with no batch -> compaction
    rt.delete_from_index(
        spark.read.parquet(path).filter(F.col("vec_id") % 2 == 0), path
    )
    r3 = rt.maintain_pq_index(spark, path)
    assert r3["psi"] is None and r3["compacted"]
    assert r3["live_share"] < 0.8
    assert not os.path.exists(tb.sidecar_path(path))
    # healthy index: the tick is a no-op
    r4 = rt.maintain_pq_index(spark, path)
    assert r4 == {
        "psi": None, "ingested_rows": 0, "rebuild_from_corpus": False,
        "extended": False, "live_share": 1.0, "compacted": False,
    }
    # queries keep working through the whole lifecycle (ADC over the
    # surviving codes; probe everything so the check is exact-shape)
    out = rt.query_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") == 3), k=3, n_probe=4
    )
    assert out.count() == 3


# ---------------------------------------------------------------------------
# driver-side index metadata: job counts and probe parity
# ---------------------------------------------------------------------------


def _served_pq_index(spark, tmp_path, name):
    """A store_vec IVF-PQ index over 400 toy vectors with a tombstoned
    class, so every serving-path piece (sidecars, tombstones, re-rank
    vectors) is live."""
    corpus = _toy_corpus(spark)
    path = str(tmp_path / name)
    rt.build_ivfpq_index(
        corpus, path,
        centroids=[[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
                   [0.0] * 7 + [1.0], [0.5] * 8],
        codebooks=_toy_codebooks(), store_vec=True,
    )
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 10 == 7), path)
    return corpus, path


def test_ivfpq_serving_round_runs_at_most_five_jobs(spark, tmp_path):
    # one round = query collect, literal query-frame broadcast,
    # tombstone broadcast, window shuffle, final stage: the sidecars,
    # probes and LUTs are driver-side (12 jobs when each was its own)
    corpus, path = _served_pq_index(spark, tmp_path, "pq_jobs")
    queries = corpus.filter(F.col("vec_id") % 40 == 1)
    out = []
    n = _count_jobs(
        spark,
        lambda: out.extend(
            rt.query_ivfpq_index(
                spark, path, queries, k=5, n_probe=2, rerank=20
            ).collect()
        ),
    )
    assert n <= 5, n
    assert len(out) == 5 * queries.count()
    assert not {r.neighbor_id for r in out} & {
        r.vec_id for r in corpus.filter(F.col("vec_id") % 10 == 7).collect()
    }


def test_maintain_pq_index_readmitting_tick_job_count(spark, tmp_path):
    # a re-admitting tick (the batch holds the tombstoned class, so it
    # compacts first) stays at its pinned job count: the sidecars are
    # read on the driver, the delta's row and re-admission counts are
    # observed on its checkpoint pass, and the live share is one
    # aggregate (32 jobs when every helper re-read and re-counted)
    corpus, path = _served_pq_index(spark, tmp_path, "pq_tick_jobs")
    batch = corpus.filter(F.col("vec_id") % 10 == 7)
    report = {}
    n = _count_jobs(
        spark, lambda: report.update(rt.maintain_pq_index(spark, path, batch))
    )
    assert report["ingested_rows"] == 40 and report["extended"]
    assert n <= 15, n
    assert spark.read.parquet(path).count() == 400


def test_maintain_pq_index_tick_reads_each_sidecar_once(spark, tmp_path, monkeypatch):
    corpus, path = _served_pq_index(spark, tmp_path, "pq_tick_reads")
    reads = []
    real = tb.read_sidecar
    monkeypatch.setattr(
        tb, "read_sidecar", lambda s, p, ddl: reads.append(p) or real(s, p, ddl)
    )
    rt.maintain_pq_index(spark, path, corpus.filter(F.col("vec_id") % 10 == 7))
    # centroids, codebooks and tombstones: each exactly once
    assert sorted(reads) == sorted(
        [rt._centroid_sidecar(path), rt._codebook_sidecar(path),
         tb.sidecar_path(path)]
    ), reads


def _sql_probes(spark, rows, cents, n_probe):
    qs = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    probe = F.expr(sim._probe_cids_sql("`qv`", sim._centroid_literal_sql(cents), n_probe))
    got = (
        sim._drop_null_vecs(qs, "embedding")
        .select("vec_id", sim._as_double("embedding").alias("qv"))
        .select("vec_id", probe.alias("p"))
        .collect()
    )
    return {r.vec_id: list(r.p) for r in got}


def _driver_probes(spark, rows, cents, n_probe):
    qs = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    q = sim._collect_queries(qs, "embedding", "vec_id", "test")
    probes = sim._probe_cids(sim._query_matrix(q, 4), cents, n_probe)
    return {r["qid"]: p for r, p in zip(q, probes.tolist())}


def test_driver_probes_equal_sql_probes_on_edge_cases(spark):
    import random

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 2.0, 0.0], [-1.0, 0.0, 0.0, 0.0], [0.3, -0.2, 0.1, 0.9]]
    rnd = random.Random(7)
    rows = [
        (1, [0.5, 0.5, 0.0, 0.0]),  # equidistant from cids 0 and 1
        (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero: every dot ties
        (3, None),  # NULL vector: dropped on both paths
        (4, [0.0, 0.7, 0.7, 0.0]),  # tie between cid 1 and unit cid 2
    ] + [(10 + i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(40)]
    for n_probe in (1, 2, 5):
        want = _sql_probes(spark, rows, cents, n_probe)
        got = _driver_probes(spark, rows, cents, n_probe)
        assert got == want, n_probe
    assert _driver_probes(spark, rows, cents, 1)[1] == [0]  # smaller cid wins
    assert _driver_probes(spark, rows, cents, 2)[2] == [0, 1]
    assert _driver_probes(spark, rows, cents, 2)[4] == [1, 2]
    assert 3 not in _driver_probes(spark, rows, cents, 1)
    # an empty batch probes nothing on either path
    assert _driver_probes(spark, [(3, None)], cents, 2) == {}
    assert _sql_probes(spark, [(3, None)], cents, 2) == {}
    assert sim._probe_cids(sim._query_matrix([], 4), cents, 2).shape == (0, 2)


def test_delete_is_one_job_and_repeated_ids_change_nothing(spark, tmp_path):
    # the tombstone append is one write job (no distinct shuffle):
    # every reader dedupes the id set on the driver, so a batch that
    # repeats ids leaves the same query answers and index_stats as
    # the deduped batch
    corpus = _toy_corpus(spark)
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4, [0.0] * 7 + [1.0]]
    p_rep, p_once = str(tmp_path / "del_rep"), str(tmp_path / "del_once")
    rt.build_ann_index(corpus, p_rep, centroids=cents)
    rt.build_ann_index(corpus, p_once, centroids=cents)
    dead = corpus.filter(F.col("vec_id") % 5 == 0)
    repeated = dead.union(dead).union(dead.filter(F.col("vec_id") < 100))
    assert _count_jobs(spark, lambda: rt.delete_from_index(repeated, p_rep)) == 1
    rt.delete_from_index(dead, p_once)
    q = corpus.filter(F.col("vec_id") % 40 == 3)

    def answers(path):
        rows = rt.query_ann_index(spark, path, q, k=5, n_probe=2).collect()
        return sorted(map(tuple, rows)), [
            tuple(r) for r in rt.index_stats(spark, path).collect()
        ]

    got, want = answers(p_rep), answers(p_once)
    assert got == want
    assert sum(r[2] for r in got[1]) == 320  # 400 stored, 80 deleted
    assert not {r[1] for r in got[0]} & {r.vec_id for r in dead.collect()}
