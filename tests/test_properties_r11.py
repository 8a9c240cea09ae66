"""Property tests for the round-11 curation operators: each is
checked differentially against an independent plain-Python/numpy
reimplementation on randomized inputs — the classifier against a
dict-based NB, the skew profile against collections.Counter math, the
quantile gate against numpy's linear-interpolation percentile."""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import clean as cl
from bohemia_kenya_data_pipeline_spark.operators import quality as ql
from bohemia_kenya_data_pipeline_spark.operators import skew as sk
from bohemia_kenya_data_pipeline_spark.operators import text as tx

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]


@st.composite
def labeled_corpora(draw):
    n = draw(st.integers(2, 12))
    docs = []
    has = {True: False, False: False}
    for i in range(n):
        words = draw(st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6))
        pos = draw(st.booleans())
        has[pos] = True
        docs.append((i, " ".join(words), pos))
    # NB prior needs both classes non-empty
    if not has[True]:
        docs[0] = (0, docs[0][1], True)
    if not has[False]:
        docs[-1] = (len(docs) - 1, docs[-1][1], False)
    return docs, draw(st.sampled_from([2, 4, 16]))


def _nb_reference(docs, v):
    """Plain-dict NB log-odds mirror of quality_classifier_score."""
    occ = Counter()
    pc = Counter()
    nc = Counter()
    for _, text, pos in docs:
        for t in text.split():
            occ[t] += 1
            (pc if pos else nc)[t] += 1
    vocab = sorted(occ, key=lambda t: (-occ[t], t))[:v]
    pt = sum(pc[t] for t in vocab)
    nt = sum(nc[t] for t in vocab)
    w = {
        t: math.log((pc[t] + 1.0) / (pt + v)) - math.log((nc[t] + 1.0) / (nt + v))
        for t in vocab
    }
    n_pos = sum(1 for d in docs if d[2])
    prior = math.log(n_pos / (len(docs) - n_pos))
    out = {}
    for i, text, _ in docs:
        hits = [t for t in text.split() if t in w]
        out[i] = (len(hits), prior + sum(w[t] for t in hits))
    return out


@given(data=labeled_corpora())
# an exact log-odds tie: doc 4 scores log(2/3) + log(3/2) = 0, which
# the unrounded float sum puts at 5.55e-17
@example(
    data=(
        [(0, "", False), (1, "", False), (2, "alpha", False),
         (3, "alpha", True), (4, "beta", True)],
        2,
    )
)
@settings(**_SETTINGS)
def test_quality_classifier_matches_dict_nb(spark, data):
    docs, v = data
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING, pos BOOLEAN")
    got = {
        r.doc_id: r
        for r in tx.quality_classifier_score(
            df, label=F.col("pos"), vocab_size=v
        ).collect()
    }
    ref = _nb_reference(docs, v)
    assert set(got) == set(ref)
    for i, (n_hits, score) in ref.items():
        assert got[i].n_vocab_tokens == n_hits
        assert abs(got[i].score - score) < 1e-6
        # the operator takes the sign of the score rounded to 6 places
        assert got[i].pred == (round(score, 6) > 0)


@given(
    keys=st.lists(st.integers(0, 6), min_size=1, max_size=40),
    top_n=st.sampled_from([1, 3, 10]),
    p=st.sampled_from([4, 32]),
)
@settings(**_SETTINGS)
def test_skew_profile_matches_counter(spark, keys, top_n, p):
    df = spark.createDataFrame([(k,) for k in keys], "k INT")
    prof = sk.skew_profile(df, "k", top_n=top_n, n_partitions=p).collect()
    cnt = Counter(str(k) for k in keys)
    order = sorted(cnt, key=lambda k: (-cnt[k], k))[:top_n]
    total = len(keys)
    assert [r.key for r in sorted(prof, key=lambda r: r.rank)] == order
    cum = 0
    for r in sorted(prof, key=lambda r: r.rank):
        n = cnt[r.key]
        cum += n
        assert r.n == n
        assert r.share_ppm == n * 1000000 // total
        assert r.cum_share_ppm == cum * 1000000 // total
        assert r.salts_rec == -((-n * p) // total)  # ceil
        assert r.total_rows == total and r.n_keys == len(cnt)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    ),
    q=st.sampled_from([0.1, 0.25, 0.5, 0.9]),
)
@settings(**_SETTINGS)
def test_group_quantile_gate_matches_numpy(spark, rows, q):
    import numpy as np

    df = spark.createDataFrame(rows, "src STRING, score INT")
    kept, report = ql.group_quantile_gate(df, "src", "score", q=q)
    by_src = {}
    for s, v in rows:
        by_src.setdefault(s, []).append(v)
    rep = {r.group: r for r in report.collect()}
    kept_rows = Counter((r.src, r.score) for r in kept.collect())
    for s, vals in by_src.items():
        thr = float(np.percentile(vals, q * 100, method="linear"))
        assert abs(rep[s].threshold - round(thr, 4)) < 1e-9
        expect = Counter((s, v) for v in vals if v >= thr)
        got = Counter({k: c for k, c in kept_rows.items() if k[0] == s})
        assert got == expect
        assert rep[s].n_kept == sum(expect.values())
        assert rep[s].n_total == len(vals)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", None]), st.integers(0, 2), st.integers(0, 999)
        ),
        min_size=1,
        max_size=25,
    ),
    k=st.sampled_from([1, 2, 4]),
)
@settings(**_SETTINGS)
def test_k_anonymity_suppression_matches_counter(spark, rows, k):
    # row_id column keeps rows distinguishable; NULL quasi-values are a
    # class of their own on both sides
    data = [(a, b, i) for i, (a, b, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "qa STRING, qb INT, row_id INT")
    sizes = Counter((a, b) for a, b, _ in data)
    kept = cl.suppress_small_groups(df, ["qa", "qb"], k=k).collect()
    expect = sorted(i for a, b, i in data if sizes[(a, b)] >= k)
    assert sorted(r.row_id for r in kept) == expect
    rep = cl.k_anonymity_report(df, ["qa", "qb"], k=k).collect()
    assert {(r.qa, r.qb): r.n for r in rep} == dict(sizes)
    assert all(r.risky == (r.n < k) for r in rep)


@st.composite
def zorder_op_sequences(draw):
    # random alternation of raw appends, extend ticks and generation
    # FOLDS (r12), with random delta sizes and an optional
    # double-extend (idempotency probe)
    n_ops = draw(st.integers(1, 4))
    ops = []
    lo = 1000
    for _ in range(n_ops):
        size = draw(st.integers(50, 400))
        ops.append(("append", lo, lo + size))
        lo += size
        if draw(st.booleans()):
            ops.append(("extend", None, None))
        if draw(st.booleans()):
            ops.append(("extend", None, None))
        if draw(st.booleans()):
            ops.append(("fold", draw(st.integers(1, 3)), None))
    return ops


@given(ops=zorder_op_sequences())
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_lifecycle_content_and_pruning_exact(spark, ops, tmp_path_factory):
    """Any interleaving of raw appends, extend ticks and generation
    folds preserves the exact table content, keeps the generation
    count at the fold cap, and a manifest-pruned box read over the
    mixed-generation tiles equals the full-scan filter."""
    from bohemia_kenya_data_pipeline_spark.operators import (
        maintenance as mt,
        skipping as skp,
    )

    path = str(tmp_path_factory.mktemp("zprop") / "t")

    def mk(a, b):
        return spark.range(a, b).select(
            (F.col("id") % 41).alias("a"), ((F.col("id") * 13) % 41).alias("b"),
            F.col("id").alias("v"),
        )

    mt.zorder_init(mk(0, 1000), path, "a", "b", n_files=4, bits=6)
    skp.build_file_manifest(spark, path, ["a", "b"])
    expect_hi = 1000
    for op, a, b in ops:
        if op == "append":
            mk(a, b).coalesce(1).write.mode("append").parquet(path)
            expect_hi = max(expect_hi, b)
        elif op == "fold":
            rep = mt.zorder_fold(spark, path, max_generations=a)
            gens = mt._zgenerations(
                skp._read_json(spark, mt._zparams_path(path))
            )
            assert len(gens) <= max(a, 2)  # base + one folded at most
            assert rep["folded"] == (rep["n_generations"] > a)
        else:
            mt.zorder_extend(spark, path)
    # close with one extend so the table ends clustered
    mt.zorder_extend(spark, path)
    assert mt.zorder_extend(spark, path)["extended"] is False  # converged

    got = spark.read.parquet(path)
    # content exact: ids 0..999 plus every appended range, no dup/loss
    expected_ids = set(range(1000))
    for op, a, b in ops:
        if op == "append":
            expected_ids |= set(range(a, b))
    assert sorted(r.v for r in got.select("v").collect()) == sorted(expected_ids)

    skp.maintain_file_manifest(spark, path)
    pruned = skp.read_with_skipping(
        spark, path, [("a", "between", (5, 15)), ("b", "between", (20, 30))]
    )
    want = got.filter(F.col("a").between(5, 15) & F.col("b").between(20, 30))
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, want.collect()))


@given(
    sw=st.integers(1, 24), sh=st.integers(1, 12),
    ow=st.integers(1, 16), oh=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_resize_matches_numpy_indexing_any_dims(spark, sw, sh, ow, oh, seed):
    import numpy as np

    from bohemia_kenya_data_pipeline_spark.operators import multimodal as mmod

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(sh, sw, 3), dtype=np.uint8)
    src = mmod.encode_bmp(px)
    df = spark.createDataFrame([(1, src)], "doc_id BIGINT, payload BINARY")
    out = mmod.resize_images(df, ow, oh).collect()[0]
    got = mmod._bmp_pixels(bytes(out.payload))
    ri = (np.arange(oh, dtype=np.int64) * sh) // oh
    ci = (np.arange(ow, dtype=np.int64) * sw) // ow
    assert np.array_equal(got, px[ri][:, ci])


@given(
    n=st.integers(1, 300), irate=st.sampled_from([4000, 8000, 44100]),
    orate=st.sampled_from([2000, 8000, 16000]), ch=st.integers(1, 2),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_resample_matches_numpy_indexing_any_rates(spark, n, irate, orate, ch, seed):
    import numpy as np

    from bohemia_kenya_data_pipeline_spark.operators import multimodal as mmod

    rng = np.random.default_rng(seed)
    frames = rng.integers(-32768, 32768, size=(n, ch)).astype("<i2")
    src = mmod.encode_wav(irate, frames)
    df = spark.createDataFrame([(1, src)], "doc_id BIGINT, payload BINARY")
    out = mmod.resample_audio(df, orate).collect()[0]
    n_out = (n * orate) // irate
    if n_out == 0:
        assert out.valid is False and out.payload is None
        return
    assert out.valid and out.n_frames == n_out
    _, got_ch, got = mmod._wav_pcm16_raw(bytes(out.payload))
    assert got_ch == ch
    idx = (np.arange(n_out, dtype=np.int64) * irate) // orate
    assert np.array_equal(got, frames[idx])
