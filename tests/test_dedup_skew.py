"""Skew-hardening tests for the LSH pair-generators.

The adversarial corpus (1k identical docs) is the classic LSH killer:
identical texts share every band bucket, so the uncapped band join
emits C(1000,2) ~= 500k candidate pairs from a single bucket. The cap
must bound that, leave normal corpora untouched, and keep the existing
oracle semantics when disabled (max_bucket_size=None is the default —
those paths are covered by the driver oracle checks).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import dedup
from bohemia_kenya_data_pipeline_spark.operators import tombstones as tb
from tests.conftest import count_jobs


def _adversarial_df(spark, n_hot=200, n_normal=30):
    """n_hot identical docs + n_normal distinct docs."""
    hot = [(i, "the same boilerplate template text repeated everywhere") for i in range(n_hot)]
    normal = [
        (10_000 + i, f"unique document number {i} with distinct words alpha{i} beta{i} gamma{i}")
        for i in range(n_normal)
    ]
    return spark.createDataFrame(hot + normal, ["doc_id", "text"])


def test_minhash_cap_bounds_adversarial_pairs(spark):
    df = _adversarial_df(spark)
    cap = 8
    uncapped = dedup.minhash_lsh_pairs(df).count()
    capped = dedup.minhash_lsh_pairs(df, max_bucket_size=cap).count()
    # 200 identical docs -> C(200,2)=19900 uncapped pairs at minimum
    assert uncapped >= 19900
    # sample strategy keeps cap members/bucket -> <= C(cap,2) hot pairs
    # (+ any normal-corpus pairs, none expected among distinct docs)
    assert capped <= cap * (cap - 1) // 2 + 10


def test_minhash_cap_noop_on_normal_corpus(spark):
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, text_col="text", id_col="doc_id").collect()
    }
    # generous cap: no bucket on the normal corpus exceeds it
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, text_col="text", id_col="doc_id", max_bucket_size=1000
        ).collect()
    }
    assert base == capped


def test_minhash_drop_strategy_removes_hot_bucket_entirely(spark):
    df = _adversarial_df(spark)
    capped = dedup.minhash_lsh_pairs(df, max_bucket_size=8, cap_strategy="drop")
    # hot docs pair only through the oversized buckets -> all dropped
    hot_pairs = capped.filter(F.col("id_a") < 10_000).count()
    assert hot_pairs == 0


def test_simhash_cap_bounds_adversarial_pairs(spark):
    df = _adversarial_df(spark)
    cap = 8
    capped = dedup.simhash_neardup_pairs(df, max_bucket_size=cap)
    hot = capped.filter(F.col("id_a") < 10_000).count()
    assert hot <= cap * (cap - 1) // 2


def test_embedding_cap_bounds_adversarial_pairs(spark):
    # 100 identical vectors + a few distinct ones
    dim = 64
    hot = [(i, [1.0] * dim) for i in range(100)]
    normal = [(10_000 + i, [float((i * 7 + j) % 5 - 2) for j in range(dim)]) for i in range(10)]
    df = spark.createDataFrame(hot + normal, ["vec_id", "embedding"])
    cap = 6
    capped = dedup.embedding_neardup_pairs(df, dim=dim, max_bucket_size=cap)
    hot_pairs = capped.filter(F.col("id_a") < 10_000).count()
    assert hot_pairs <= cap * (cap - 1) // 2


def test_bucket_stats_reports_hot_bucket(spark):
    df = _adversarial_df(spark, n_hot=50, n_normal=10)
    stats = dedup.minhash_bucket_stats(df, min_size=40).collect()
    # identical docs share all 4 band buckets -> 4 rows of n_members>=50
    assert len(stats) == 4
    assert all(r.n_members >= 50 for r in stats)
    sim_stats = dedup.simhash_bucket_stats(df, min_size=40).collect()
    assert len(sim_stats) >= 4


def test_cap_validation(spark):
    df = _adversarial_df(spark, n_hot=3, n_normal=2)
    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.minhash_lsh_pairs(df, max_bucket_size=1).count()
    with pytest.raises(ValueError, match="strategy"):
        dedup.minhash_lsh_pairs(df, max_bucket_size=4, cap_strategy="bogus").count()


def test_minhash_index_probe_matches_batch_pairs(spark, tmp_path):
    """Index probe must return exactly the (new x corpus) slice of the
    full-union pair generation, with parameters read from the index."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark shuffles"),
            (3, "the quick brown fox jumps over the lazy cat"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "nothing like anything in the corpus whatsoever"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_index")
    dedup.minhash_index_write(corpus, path, num_hashes=8, bands=4)
    got = set(map(tuple, dedup.minhash_index_query(new, path).collect()))

    full = dedup.minhash_lsh_pairs(
        corpus.unionByName(new), num_hashes=8, bands=4
    )
    expect = {
        (b, a)  # pairs come out id_a < id_b; new ids are the large side
        for a, b in map(tuple, full.collect())
        if b >= 100 and a < 100
    }
    assert got == expect
    assert (100, 1) in got  # identical doc must hit
    assert all(n != 101 for n, _ in got)  # unrelated doc hits nothing


def test_minhash_index_extend_equals_rebuild(spark, tmp_path):
    """Appending a batch must leave the index equal (as a band-row
    set) to one built over the concatenated corpus, so later probes
    see identical candidates — the incremental ingest contract."""
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark shuffles"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely novel content with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    inc_path = str(tmp_path / "mh_inc")
    full_path = str(tmp_path / "mh_full")
    dedup.minhash_index_write(base, inc_path, num_hashes=8, bands=4)
    dedup.minhash_index_extend(batch, inc_path)
    dedup.minhash_index_write(base.unionByName(batch), full_path, num_hashes=8, bands=4)
    inc_rows = set(map(tuple, spark.read.parquet(inc_path).collect()))
    full_rows = set(map(tuple, spark.read.parquet(full_path).collect()))
    assert inc_rows == full_rows

    # and a probe against the extended index sees the appended doc
    probe = spark.createDataFrame(
        [(200, "the quick brown fox jumps over the lazy cat")],
        ["doc_id", "text"],
    )
    got = set(map(tuple, dedup.minhash_index_query(probe, inc_path).collect()))
    assert (200, 3) in got


def test_minhash_index_delete_hides_candidates_and_matches_rebuild(spark, tmp_path):
    """Deleted docs must stop surfacing as candidates — and the probe
    must equal one against an index BUILT over the surviving corpus
    (the C1 DELETE-resolution semantics, VERDICT r9 ask 5)."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark shuffles"),
            (3, "the quick brown fox jumps over the lazy cat"),
        ],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_del")
    dedup.minhash_index_write(corpus, path, num_hashes=8, bands=4)
    before = set(map(tuple, dedup.minhash_index_query(probe, path).collect()))
    assert (100, 1) in before
    dedup.minhash_index_delete(
        corpus.filter(F.col("doc_id") == 1), path
    )
    after = set(map(tuple, dedup.minhash_index_query(probe, path).collect()))
    assert all(i != 1 for _, i in after)
    survivors_path = str(tmp_path / "mh_survivors")
    dedup.minhash_index_write(
        corpus.filter(F.col("doc_id") != 1), survivors_path,
        num_hashes=8, bands=4,
    )
    want = set(
        map(tuple, dedup.minhash_index_query(probe, survivors_path).collect())
    )
    assert after == want


def test_minhash_index_extend_resurrects_and_compact_folds(spark, tmp_path):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark shuffles"),
        ],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_resurrect")
    dedup.minhash_index_write(corpus, path, num_hashes=8, bands=4)
    dedup.minhash_index_delete(corpus.filter(F.col("doc_id") == 1), path)
    assert all(
        i != 1
        for _, i in map(tuple, dedup.minhash_index_query(probe, path).collect())
    )
    # re-admitting the same doc compacts-then-appends: the candidate
    # is back, the stale band rows are NOT duplicated (re-admission is
    # exact — a rebuilt index over the same corpus holds the same
    # multiset of band rows), and the tombstone sidecar is gone
    dedup.minhash_index_extend(corpus.filter(F.col("doc_id") == 1), path)
    got = set(map(tuple, dedup.minhash_index_query(probe, path).collect()))
    assert (100, 1) in got
    import os as _os

    assert not _os.path.exists(tb.sidecar_path(path))
    rebuilt = str(tmp_path / "mh_rebuilt")
    dedup.minhash_index_write(corpus, rebuilt, num_hashes=8, bands=4)

    def _rows(p):
        return sorted(
            map(tuple, spark.read.parquet(p).select("id", "band", "bucket").collect())
        )

    assert _rows(path) == _rows(rebuilt)
    # delete again, compact: band rows physically dropped, tombstone
    # sidecar gone, probe still equals the surviving-corpus index,
    # and extension exactness still holds post-compaction
    dedup.minhash_index_delete(corpus.filter(F.col("doc_id") == 1), path)
    dedup.minhash_index_compact(spark, path)
    import os

    assert not os.path.exists(tb.sidecar_path(path))
    ids = {r.id for r in spark.read.parquet(path).select("id").collect()}
    assert 1 not in ids and 2 in ids
    assert dedup.read_minhash_index_params(spark, path)["num_hashes"] == 8
    batch = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy cat")],
        ["doc_id", "text"],
    )
    dedup.minhash_index_extend(batch, path)
    got2 = set(map(tuple, dedup.minhash_index_query(probe, path).collect()))
    assert all(i != 1 for _, i in got2)


def test_minhash_index_stats_tracks_debt_and_hot_bucket(spark, tmp_path):
    """Per-band health: stored vs live separates tombstone debt, the
    exact-dup pair shows up as a >=2 bucket in every band, and
    compaction folds stored down to live."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark shuffles"),
            (3, "completely unrelated prose concerning window functions"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_stats")
    dedup.minhash_index_write(corpus, path, num_hashes=8, bands=4)
    s0 = {r.band: r for r in dedup.minhash_index_stats(spark, path).collect()}
    assert sorted(s0) == [0, 1, 2, 3]
    for r in s0.values():
        assert r.stored_rows == 4 and r.live_rows == 4
        # docs 1 and 4 are byte-identical -> identical signatures ->
        # they share a bucket in EVERY band
        assert r.max_bucket >= 2
        assert r.n_buckets <= 3
    # tombstone the duplicate: stored unchanged, live drops, the hot
    # bucket cools to 1 unless other docs collide
    dedup.minhash_index_delete(corpus.filter(F.col("doc_id") == 4), path)
    s1 = {r.band: r for r in dedup.minhash_index_stats(spark, path).collect()}
    for r in s1.values():
        assert r.stored_rows == 4 and r.live_rows == 3
    # compact: the debt is folded away, stats converge
    dedup.minhash_index_compact(spark, path)
    s2 = {r.band: r for r in dedup.minhash_index_stats(spark, path).collect()}
    for b, r in s2.items():
        assert r.stored_rows == 3 and r.live_rows == 3
        assert r.n_buckets == s1[b].n_buckets
        assert r.max_bucket == s1[b].max_bucket


def test_maintain_minhash_index_policy_ticks(spark, tmp_path):
    """The near-dup maintenance tick: extend is delta-sized, debt past
    the vacuum threshold compacts, hot live buckets are flagged (not
    rewritten), and a healthy tick is a no-op."""
    import os

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark shuffles"),
            (3, "completely unrelated prose concerning window functions"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_maint")
    dedup.minhash_index_write(corpus, path, num_hashes=8, bands=4)
    # extend a new doc + flag the exact-dup hot bucket (docs 1,4 share
    # every band bucket, so max_live_bucket=1 flags all 4 bands)
    batch = spark.createDataFrame(
        [(5, "a fresh fifth document never seen before")], ["doc_id", "text"]
    )
    r1 = dedup.maintain_minhash_index(
        spark, path, batch, max_live_bucket=1
    )
    assert r1["extended"] and not r1["compacted"]
    assert r1["ingested_docs"] == 1
    assert r1["live_share"] == 1.0 and r1["hot_buckets"] == 4
    assert spark.read.parquet(path).count() == 20  # 5 docs x 4 bands
    # RETRIED tick with the same batch: live-id anti-join makes the
    # rerun a no-op — no double-appended band rows (ADVICE r10)
    r1b = dedup.maintain_minhash_index(spark, path, batch)
    assert r1b["ingested_docs"] == 0 and not r1b["extended"]
    assert spark.read.parquet(path).count() == 20
    # delete 2 of 5 docs -> live share 0.6 < 0.8 -> compaction
    dedup.minhash_index_delete(
        corpus.filter(F.col("doc_id").isin(2, 4)), path
    )
    r2 = dedup.maintain_minhash_index(spark, path)
    assert not r2["extended"] and r2["compacted"]
    assert abs(r2["live_share"] - 0.6) < 1e-9
    assert not os.path.exists(tb.sidecar_path(path))
    assert spark.read.parquet(path).count() == 12
    # healthy tick: no-op
    r3 = dedup.maintain_minhash_index(spark, path, max_live_bucket=10)
    assert r3 == {
        "ingested_docs": 0, "extended": False, "live_share": 1.0,
        "compacted": False, "hot_buckets": 0,
    }
    # a tombstoned id in the batch is a RE-ADMISSION, not a dup: it
    # passes the live-id guard and compacts first via extend's guard
    dedup.minhash_index_delete(
        corpus.filter(F.col("doc_id") == 1), path
    )
    r4 = dedup.maintain_minhash_index(
        spark, path, corpus.filter(F.col("doc_id") == 1)
    )
    assert r4["ingested_docs"] == 1 and r4["extended"]
    assert spark.read.parquet(path).count() == 12  # compact dropped 4, re-added 4
    assert not os.path.exists(tb.sidecar_path(path))


_DOCS = [
    (i, f"document number {i % 40} with some shared words {i}") for i in range(200)
]


def _band_rows(spark, p):
    return sorted(
        map(tuple, spark.read.parquet(p).select("id", "band", "bucket").collect())
    )


def test_minhash_index_delete_is_one_job(spark, tmp_path):
    # the delete appends the ids as given; readers dedupe them on the
    # driver, so a batch with repeated ids hides the same docs
    docs = spark.createDataFrame(_DOCS, "doc_id BIGINT, text STRING")
    path = str(tmp_path / "mh_del_jobs")
    dedup.minhash_index_write(docs, path, num_hashes=16, bands=4)
    dead = docs.filter(F.col("doc_id") % 10 == 3)
    n = count_jobs(
        spark, lambda: dedup.minhash_index_delete(dead.unionByName(dead), path)
    )
    assert n == 1, n
    probe = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    hits = {r.index_id for r in dedup.minhash_index_query(probe, path).collect()}
    assert hits and not hits & {r.doc_id for r in dead.collect()}


def test_maintain_minhash_index_readmitting_tick_job_count(spark, tmp_path):
    # a tick whose batch re-admits a tombstoned class: the tombstones are
    # read on the driver, the delta's row and re-admission counts are
    # observed on its checkpoint pass, the compaction runs once and the
    # live share is one aggregate (25 jobs when the tick re-read and
    # re-counted through minhash_index_extend and minhash_index_stats)
    docs = spark.createDataFrame(_DOCS, "doc_id BIGINT, text STRING")
    path = str(tmp_path / "mh_tick_jobs")
    dedup.minhash_index_write(docs, path, num_hashes=16, bands=4)
    back = docs.filter(F.col("doc_id") % 10 == 3)
    dedup.minhash_index_delete(back, path)
    report = {}
    n = count_jobs(
        spark,
        lambda: report.update(dedup.maintain_minhash_index(spark, path, back)),
    )
    assert report["ingested_docs"] == 20 and report["extended"]
    assert report["live_share"] == 1.0 and not report["compacted"]
    assert n <= 9, n
    assert not os.path.exists(tb.sidecar_path(path))
    rebuilt = str(tmp_path / "mh_tick_rebuilt")
    dedup.minhash_index_write(docs, rebuilt, num_hashes=16, bands=4)
    assert _band_rows(spark, path) == _band_rows(spark, rebuilt)


def test_minhash_compact_crash_after_swap_recovers(spark, tmp_path, monkeypatch):
    """A compaction that dies right after its swap leaves an index that
    probes as the surviving corpus, and re-running the compaction
    converges on the survivors' index."""
    from bohemia_kenya_data_pipeline_spark.operators import skipping as skp

    docs = spark.createDataFrame(_DOCS[:30], "doc_id BIGINT, text STRING")
    dead = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "mh_crash")
    dedup.minhash_index_write(docs, path, num_hashes=8, bands=4)
    dedup.minhash_index_delete(dead, path)
    survivors = str(tmp_path / "mh_crash_survivors")
    dedup.minhash_index_write(
        docs.join(dead, "doc_id", "anti"), survivors, num_hashes=8, bands=4
    )
    real = skp._swap_in

    def swap_then_crash(*args):
        real(*args)
        raise OSError("crash after the swap")

    monkeypatch.setattr(skp, "_swap_in", swap_then_crash)
    with pytest.raises(OSError, match="crash after the swap"):
        dedup.minhash_index_compact(spark, path)
    monkeypatch.undo()

    probe = docs.withColumn("doc_id", F.col("doc_id") + 1000)

    def candidates(p):
        return set(map(tuple, dedup.minhash_index_query(probe, p).collect()))

    want = candidates(survivors)
    assert want and candidates(path) == want
    dedup.minhash_index_compact(spark, path)
    assert not os.path.exists(tb.sidecar_path(path))
    assert _band_rows(spark, path) == _band_rows(spark, survivors)
    assert candidates(path) == want


def test_minhash_index_with_params_inside_probes_extends_and_compacts(
    spark, tmp_path
):
    """An index written with its params inside the index directory
    (``_params.json``, the layout before the sibling sidecar) still
    probes, extends and compacts; the compaction keeps the params."""
    import shutil

    docs = spark.createDataFrame(_DOCS[:30], "doc_id BIGINT, text STRING")
    base = docs.filter(F.col("doc_id") < 20)
    path = str(tmp_path / "mh_legacy")
    dedup.minhash_index_write(base, path, num_hashes=8, bands=4)
    shutil.move(path + "__params.json", path + "/_params.json")
    fresh = str(tmp_path / "mh_legacy_fresh")
    dedup.minhash_index_write(base, fresh, num_hashes=8, bands=4)
    probe = docs.withColumn("doc_id", F.col("doc_id") + 1000)

    def candidates(p):
        return set(map(tuple, dedup.minhash_index_query(probe, p).collect()))

    assert candidates(path) == candidates(fresh)
    for p in (path, fresh):
        dedup.minhash_index_extend(docs.filter(F.col("doc_id") >= 20), p)
        dedup.minhash_index_delete(docs.filter(F.col("doc_id") % 5 == 0), p)
        dedup.minhash_index_compact(spark, p)
    assert not os.path.exists(path + "/_params.json")
    assert dedup.read_minhash_index_params(spark, path) == (
        dedup.read_minhash_index_params(spark, fresh)
    )
    assert _band_rows(spark, path) == _band_rows(spark, fresh)
    assert candidates(path) == candidates(fresh)
