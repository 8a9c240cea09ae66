"""Property tests for the round-7 operators: the bucketed range join
must equal the theta join on ANY interval set and bucket width; CDC
log replay must be idempotent and delivery-order-invariant; quantile
sketch merge must equal the union's sketch under ANY split."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import stats as ST
from bohemia_kenya_data_pipeline_spark.operators.scd import apply_cdc_log
from bohemia_kenya_data_pipeline_spark.operators.windows import (
    interval_overlap_join,
)

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def interval_sets(draw):
    n = draw(st.integers(1, 12))
    m = draw(st.integers(1, 12))
    mk = lambda i: (  # noqa: E731
        i,
        draw(st.integers(-30, 90)),
        draw(st.integers(-30, 120)),
    )
    return [mk(i) for i in range(n)], [mk(100 + j) for j in range(m)], draw(
        st.sampled_from([3, 7, 10, 25])
    )


@given(data=interval_sets())
@settings(**_SETTINGS)
def test_bucketed_range_join_equals_theta(spark, data):
    lrows, rrows, w = data
    left = spark.createDataFrame(lrows, "lid BIGINT, ls BIGINT, le BIGINT")
    right = spark.createDataFrame(rrows, "rid BIGINT, rs BIGINT, re BIGINT")
    theta = interval_overlap_join(left, right, "ls", "le", "rs", "re")
    bucketed = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_width=w
    )
    key = lambda df: sorted(  # noqa: E731
        (r.lid, r.rid) for r in df.select("lid", "rid").collect()
    )
    assert key(bucketed) == key(theta)


@st.composite
def cdc_logs(draw):
    n = draw(st.integers(1, 15))
    rows = []
    for seq in range(n):
        k = draw(st.integers(1, 4))
        op = draw(st.sampled_from(["I", "U", "D"]))
        rows.append((k, op, draw(st.integers(0, 5)), seq, f"v{seq}"))
    return rows


@given(log_rows=cdc_logs(), perm_seed=st.integers(0, 99))
@settings(**_SETTINGS)
def test_cdc_replay_idempotent_and_order_invariant(spark, log_rows, perm_seed):
    import random

    schema = "k BIGINT, op STRING, ts BIGINT, seq BIGINT, v STRING"
    snap = spark.createDataFrame([(1, "s1"), (3, "s3")], "k BIGINT, v STRING")
    log = spark.createDataFrame(log_rows, schema)
    once = apply_cdc_log(snap, log, ["k"], ["ts", "seq"])
    # idempotence: replaying the same log changes nothing
    twice = apply_cdc_log(once, log, ["k"], ["ts", "seq"])
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(twice) == rows(once)
    # delivery order cannot matter: a shuffled copy of the log
    shuffled = list(log_rows)
    random.Random(perm_seed).shuffle(shuffled)
    other = apply_cdc_log(
        snap, spark.createDataFrame(shuffled, schema), ["k"], ["ts", "seq"]
    )
    assert rows(other) == rows(once)


@given(
    vals=st.lists(st.floats(-50, 150, allow_nan=False), min_size=1, max_size=40),
    cut=st.integers(0, 40),
)
@settings(**_SETTINGS)
def test_quantile_sketch_merge_equals_union_any_split(spark, vals, cut):
    cut = min(cut, len(vals))
    a = spark.createDataFrame([(float(v),) for v in vals[:cut]] or [(None,)], "v DOUBLE")
    b = spark.createDataFrame([(float(v),) for v in vals[cut:]] or [(None,)], "v DOUBLE")
    both = spark.createDataFrame([(float(v),) for v in vals], "v DOUBLE")
    lo, hi, bins = 0.0, 100.0, 13
    merged = ST.merge_quantile_sketches(
        ST.build_quantile_sketch(a, "v", lo, hi, bins),
        ST.build_quantile_sketch(b, "v", lo, hi, bins),
    )
    union = ST.build_quantile_sketch(both, "v", lo, hi, bins)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(merged) == rows(union)


# ---------------------------------------------------------------------------
# r8: composed lakehouse maintenance on RANDOM CDC logs — after any
# chain of random batches, every maintained artifact equals its
# from-scratch recompute (the deterministic op-matrix golden in
# test_lakehouse.py, generalized by hypothesis)
# ---------------------------------------------------------------------------


@st.composite
def lakehouse_worlds(draw):
    keys = list(range(1, draw(st.integers(3, 8))))
    dims = [10, 20, 30]
    fact = [
        (k, draw(st.sampled_from(dims)), draw(st.integers(0, 500)))
        for k in keys
    ]
    n_batches = draw(st.integers(1, 3))
    batches, seq = [], 0
    for _ in range(n_batches):
        rows = []
        batch_keys = draw(
            st.lists(st.integers(1, 12), min_size=1, max_size=5, unique=True)
        )
        for k in batch_keys:
            seq += 1
            rows.append(
                (
                    k,
                    draw(st.sampled_from(dims + [99])),  # 99 = no dim match
                    draw(st.integers(0, 500)),
                    seq,
                    draw(st.sampled_from(["I", "U", "D"])),
                )
            )
        batches.append(rows)
    return fact, batches


@given(world=lakehouse_worlds())
@settings(**_SETTINGS)
def test_lakehouse_maintained_equals_recompute_random(spark, world):
    from bohemia_kenya_data_pipeline_spark import jobs
    from bohemia_kenya_data_pipeline_spark.operators import ivm

    fact_rows, batches = world
    fact0 = spark.createDataFrame(fact_rows, "k BIGINT, ckey BIGINT, cents BIGINT")
    dim = spark.createDataFrame(
        [(10, "A"), (20, "B"), (30, "C")], "ckey BIGINT, seg STRING"
    )
    fact, view = fact0, fact0.join(dim, ["ckey"])
    agg = ivm.aggregate_state(view, ["seg"], ["cents"])
    schema = "k BIGINT, ckey BIGINT, cents BIGINT, seq BIGINT, op STRING"
    replay = fact0
    for rows in batches:
        log = spark.createDataFrame(rows, schema)
        fact, view, agg = jobs.maintain_cdc_lakehouse(
            fact, view, agg, dim, log,
            key_cols=["k"], seq_cols=["seq"], join_on=["ckey"],
            group_cols=["seg"], sum_cols=["cents"],
        )
        replay = apply_cdc_log(replay, log, ["k"], ["seq"])
    srt = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert srt(fact) == srt(replay)
    assert srt(view.select("k", "ckey", "cents", "seg")) == srt(
        replay.join(dim, ["ckey"]).select("k", "ckey", "cents", "seg")
    )
    assert srt(agg.select("seg", "n_rows", "sum_cents")) == srt(
        ivm.aggregate_state(replay.join(dim, ["ckey"]), ["seg"], ["cents"])
        .select("seg", "n_rows", "sum_cents")
    )


# ---------------------------------------------------------------------------
# r10: the mutable-index lifecycle on RANDOM op sequences — after any
# chain of extend / delete / compact / retrain, the live index must
# equal a fresh build over the tracked survivor corpus, and an
# exhaustive-probe query must equal brute-force cosine over exactly
# those survivors (the deterministic lifecycle goldens in
# test_retrieval_index.py, generalized by hypothesis)
# ---------------------------------------------------------------------------


@st.composite
def index_lifecycles(draw):
    base = draw(st.sets(st.integers(1, 40), min_size=6, max_size=15))
    n_ops = draw(st.integers(1, 4))
    ops = []
    for _ in range(n_ops):
        kind = draw(
            st.sampled_from(["extend", "tick", "delete", "compact", "retrain"])
        )
        if kind in ("extend", "tick", "delete"):
            ops.append(
                (kind, draw(st.sets(st.integers(1, 60), min_size=1, max_size=8)))
            )
        else:
            ops.append((kind, None))
    return sorted(base), ops


@given(world=index_lifecycles())
@settings(**_SETTINGS)
def test_index_lifecycle_equals_fresh_build_random(spark, world):
    import shutil
    import tempfile

    from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt
    from bohemia_kenya_data_pipeline_spark.operators import tombstones as tb
    from bohemia_kenya_data_pipeline_spark.operators import (
        similarity as sim,
    )

    base_ids, ops = world

    def vecs(ids):
        return spark.createDataFrame(
            [(i,) for i in sorted(ids)], "vec_id BIGINT"
        ).select(
            "vec_id",
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: ((F.col("vec_id") * 37 + j * 11) % 19 - 9.0) / 9.0,
            ).alias("embedding"),
        )

    root = tempfile.mkdtemp(prefix="idx_prop_")
    path = f"{root}/idx"
    try:
        live = set(base_ids)
        rt.build_ann_index(vecs(live), path, n_centroids=3, n_iters=2)
        for kind, ids in ops:
            if kind == "extend":
                # the low-level ingest contract: the delta is deduped
                # upstream (incremental_exact_dedup), so only ids not
                # currently live are appended; tombstoned ids may
                # re-admit (extend compacts first)
                batch = ids - live
                if not batch:
                    continue
                rt.extend_ann_index(vecs(batch), path)
                live |= batch
            elif kind == "tick":
                # the maintenance tick takes the RAW batch — its
                # live-id anti-join must drop already-live ids itself
                # (the ADVICE r10 idempotency guard), so no upstream
                # dedup here, and overlapping/repeated batches are
                # exactly what this op is meant to survive
                rt.maintain_vector_index(spark, path, vecs(ids))
                live |= ids
            elif kind == "delete":
                rt.delete_from_index(vecs(ids), path)
                live -= ids
            elif kind == "compact":
                rt.compact_index(spark, path)
            else:
                rt.retrain_index(spark, path, n_iters=1)
        # membership + payload: the tombstone-masked stored rows are
        # exactly the tracked survivors, vectors intact
        stored = tb.drop_dead(
            spark.read.parquet(path).select("vec_id", "embedding"),
            spark,
            path,
            "vec_id",
        ).collect()
        assert sorted(r.vec_id for r in stored) == sorted(live)
        want_vecs = {r.vec_id: list(r.embedding) for r in vecs(live).collect()}
        for r in stored:
            assert list(r.embedding) == want_vecs[r.vec_id]
        # exhaustive-probe queries are EXACT over the live rows, for
        # whatever centroids the op chain left behind: must equal
        # brute-force cosine over the survivor corpus
        n_cents = len(rt.load_ann_centroids(spark, path))
        q = vecs(sorted(live)[:2])
        got = sorted(
            map(
                tuple,
                rt.query_ann_index(spark, path, q, k=3, n_probe=n_cents).collect(),
            )
        )
        want = sorted(
            map(tuple, sim.cosine_topk(vecs(live), q, k=3).collect())
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


@st.composite
def manifest_lifecycles(draw):
    n_ops = draw(st.integers(1, 4))
    return [
        (
            draw(st.sampled_from(["append", "rewrite", "delete"])),
            draw(st.integers(0, 7)),
        )
        for _ in range(n_ops)
    ]


@given(ops=manifest_lifecycles())
@settings(**_SETTINGS)
def test_manifest_lifecycle_extend_equals_rebuild_random(spark, ops):
    """Random append / file-rewrite / file-delete sequences against a
    plain parquet directory (VERDICT r10 ask 6): after every op the
    staleness report must match the op's ground truth, the delta-sized
    extend must repair to clean, and at the end the extended manifest
    (stats + bloom) must equal a from-scratch rebuild as a multiset."""
    import glob
    import os
    import shutil
    import tempfile

    from bohemia_kenya_data_pipeline_spark.operators import skipping as sk

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )

    root = tempfile.mkdtemp(prefix="manifest_prop_")
    path = f"{root}/tbl"
    donor_dir = f"{root}/donor"
    try:
        batch(0, 40).repartition(2).write.parquet(path)
        # donor file with the same schema but different content/size:
        # copied over an existing name it is a REWRITE (new fingerprint)
        batch(900, 903).coalesce(1).write.parquet(donor_dir)
        donor = glob.glob(f"{donor_dir}/*.parquet")[0]
        sk.build_file_manifest(spark, path, ["k"], bloom_col="k")
        nxt = 100
        for kind, sel in ops:
            files = sorted(glob.glob(f"{path}/*.parquet"))
            if kind == "append":
                batch(nxt, nxt + 10).repartition(2).write.mode(
                    "append"
                ).parquet(path)
                nxt += 10
                n_after = len(glob.glob(f"{path}/*.parquet"))
                want = {"n_new": n_after - len(files), "n_changed": 0,
                        "n_deleted": 0}
            elif kind == "rewrite":
                tgt = files[sel % len(files)]
                shutil.copy(donor, tgt)
                # Hadoop's local FS keeps a .<name>.crc checksum
                # sidecar; a byte-level rewrite must drop the stale one
                crc = os.path.join(
                    os.path.dirname(tgt), f".{os.path.basename(tgt)}.crc"
                )
                if os.path.exists(crc):
                    os.remove(crc)
                want = {"n_new": 0, "n_changed": 1, "n_deleted": 0}
            else:
                if len(files) <= 1:
                    continue  # never drop the last data file
                tgt = files[sel % len(files)]
                os.remove(tgt)
                crc = os.path.join(
                    os.path.dirname(tgt), f".{os.path.basename(tgt)}.crc"
                )
                if os.path.exists(crc):
                    os.remove(crc)
                want = {"n_new": 0, "n_changed": 0, "n_deleted": 1}
            rep = sk.manifest_staleness(spark, path)
            assert rep["stale"]
            assert {k: rep[k] for k in want} == want
            sk.extend_file_manifest(spark, path)
            assert not sk.manifest_staleness(spark, path)["stale"]
        ext_stats = sorted(
            map(repr, spark.read.parquet(sk._stats_path(path)).collect())
        )
        ext_bloom = sorted(
            map(repr, spark.read.parquet(sk._bloom_path(path)).collect())
        )
        sk.build_file_manifest(spark, path, ["k"], bloom_col="k")
        assert ext_stats == sorted(
            map(repr, spark.read.parquet(sk._stats_path(path)).collect())
        )
        assert ext_bloom == sorted(
            map(repr, spark.read.parquet(sk._bloom_path(path)).collect())
        )
        # and the repaired manifest actually prunes correctly
        got = sk.read_with_skipping(spark, path, [("k", ">=", 100)])
        want_rows = spark.read.parquet(path).filter(F.col("k") >= 100)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want_rows.collect())
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
