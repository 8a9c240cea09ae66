"""End-to-end cleaning-DAG golden test (SURVEY §3.2 / §5.2): a
miniature ODK form runs raw → clean (name normalization, resolution
fixes, standardization) → sanitized (PII drop/hash, jitter, empty-col
drop) → anomaly detection, with row-level golden assertions at each
zone boundary."""

from __future__ import annotations

from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import clean as cl
from bohemia_kenya_data_pipeline_spark.operators import quality as ql

RAW_COLS = [
    "meta-instanceID", "group_hh-hhid", "group_hh-village",
    "group_geo-Latitude", "group_geo-Longitude", "group_geo-Accuracy",
    "firstname", "unused_note", "age",
]


def _raw(spark):
    rows = [
        ("uuid:a", "00001", "NGUZ0", -4.10, 39.20, 8.0, "Alice", None, "30"),
        ("uuid:b", "00001", "nguzo", -4.10, 39.20, 22.0, "Bob", None, "40"),
        ("uuid:c", "00002", "KIJIJI", -4.30, 39.40, 5.0, "Carol", None, "bad"),
        ("uuid:d", "00003", "KIJIJI", -4.50, 39.60, 6.0, "Dan", None, "50"),
    ]
    return spark.createDataFrame(
        rows,
        "`meta-instanceID` string, `group_hh-hhid` string, `group_hh-village` string, "
        "`group_geo-Latitude` double, `group_geo-Longitude` double, "
        "`group_geo-Accuracy` double, firstname string, unused_note string, age string",
    )


def _resolution(spark):
    return spark.createDataFrame(
        [
            ("demo", "uuid:d", None, None, "DELETE", "", 0, 1),
            ("demo", "uuid:c", "age", "51", "SET", "", 0, 1),
            ("demo", "uuid:c", "age", "52", "SET", "", 0, 2),
        ],
        "`Form` string, `instanceID` string, `Column` string, `Set To` string, "
        "`Operation` string, `RepeatName` string, `RepeatKey` int, "
        "`resolution_order` int",
    )


def test_clean_sanitize_anomalies_pipeline(spark):
    # --- raw -> clean ---
    raw = _raw(spark)
    named = ql.normalize_column_names(raw)  # P8
    assert "instanceID" in named.columns and "hhid" in named.columns

    typed = named.withColumn("age", F.col("age").try_cast("double"))
    fixed = cl.google_sheets_fix(typed, _resolution(spark), "demo")  # C1-C3
    clean = cl.fix_typos(
        cl.standardize_strings(fixed, ["village"]), "village", {"NGUZ0": "NGUZO"}
    )  # C10
    rows = {r.instanceID: r for r in clean.collect()}
    assert set(rows) == {"uuid:a", "uuid:b", "uuid:c"}  # uuid:d deleted
    assert rows["uuid:c"].age == 52.0  # keep-last SET, typed cast
    assert rows["uuid:a"].age == 30.0  # untouched, CSV string -> double
    assert rows["uuid:a"].village == "NGUZO" and rows["uuid:b"].village == "NGUZO"

    # --- clean -> sanitized ---
    dropped = cl.drop_pii(clean, ["firstname"])  # C5
    hashed = cl.hash_pii(dropped, ["instanceID", "hhid"])  # C6
    jittered = cl.jitter_locations(hashed, group_col="hhid")  # C7
    sanitized = ql.drop_empty_columns(jittered)  # P9
    assert "firstname" not in sanitized.columns
    assert "unused_note" not in sanitized.columns  # all-NULL column dropped
    s_rows = sanitized.collect()
    assert all(len(r.hhid) == 40 for r in s_rows)  # sha1 hex
    # jitter moved points but both uuid:a/uuid:b (same hhid) together
    lat_by_hash = {}
    for r in s_rows:
        lat_by_hash.setdefault(r.hhid, set()).add(round(r.Latitude, 9))
    assert all(len(v) == 1 for v in lat_by_hash.values())
    assert all(abs(r.Latitude - -4.10) < 0.011 or abs(r.Latitude - -4.30) < 0.011
               for r in s_rows)

    # --- clean -> anomalies (detectors run on the CLEAN zone) ---
    acc = ql.detect_threshold(
        clean.withColumnRenamed("instanceID", "KEY"),
        "Accuracy", "demo", "gps_accuracy", "GPS accuracy above 15m", 15.0,
    )
    dup = ql.detect_duplication(
        clean.withColumnRenamed("instanceID", "KEY"), "hhid", "demo", "dup_hhid"
    )
    final = ql.consolidate([acc, dup])
    got = {(r.resolution_id, r.anomalies_id) for r in final.collect()}
    assert ("demo__uuid:b__gps_accuracy", "gps_accuracy") in got  # Accuracy 22
    assert ("demo__uuid:a__dup_hhid", "dup_hhid") in got  # hhid 00001 x2
    assert ("demo__uuid:b__dup_hhid", "dup_hhid") in got
    assert len(got) == 3
    summary = {
        (r.form_id, r.anomalies_id): r.anomalies_count
        for r in ql.summary_rollup(final).collect()
    }
    assert summary[("demo", "dup_hhid")] == 2


def test_jobs_api_mirrors_inline_pipeline(spark):
    """The jobs/ API produces the same zone outputs as the inline
    composition above."""
    from bohemia_kenya_data_pipeline_spark import jobs

    raw = _raw(spark)
    clean = jobs.clean_form(
        raw.withColumn("age", F.col("age").try_cast("double")),
        _resolution(spark),
        "demo",
        typo_fixes={"village": {"NGUZ0": "NGUZO"}},
    )
    rows = {r.instanceID: r for r in clean.collect()}
    assert set(rows) == {"uuid:a", "uuid:b", "uuid:c"}
    assert rows["uuid:c"].age == 52.0
    assert rows["uuid:a"].village == "NGUZO"

    sanitized = jobs.sanitize_form(clean, ["firstname"], ["instanceID", "hhid"])
    assert "firstname" not in sanitized.columns
    assert all(len(r.hhid) == 40 for r in sanitized.collect())

    keyed = clean.withColumnRenamed("instanceID", "KEY")
    final, summary = jobs.run_anomaly_detection(
        [
            lambda: ql.detect_threshold(
                keyed, "Accuracy", "demo", "gps_accuracy", "GPS accuracy above 15m", 15.0
            ),
            lambda: ql.detect_duplication(keyed, "hhid", "demo", "dup_hhid"),
        ]
    )
    assert final.count() == 3
    assert {r.anomalies_count for r in summary.collect()} == {1, 2}


def test_curate_corpus_end_to_end(spark):
    from bohemia_kenya_data_pipeline_spark.jobs import curate_corpus

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox " * 10),          # long, kept
            (2, "THE  quick brown FOX " * 10),         # normalizes to doc 1 -> deduped
            (3, "tiny doc"),                           # under min_tokens -> dropped
            (4, ("w1 w2 w3 w4 w5 w6 w7 w8 " * 5) + "mail me@x.com"),  # PII scrubbed
        ],
        "doc_id INT, text STRING",
    )
    out = curate_corpus(df, min_tokens=10, min_uniq_ratio=0.0)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 4}
    assert rows[1].split in ("train", "valid", "test")
    assert "<EMAIL>" in rows[4].text_clean and "me@x.com" not in rows[4].text_clean
    assert rows[1].n_tokens == 40


def test_read_csv_form_audited_captures_corrupt_rows(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from bohemia_kenya_data_pipeline_spark.catalog import read_csv_form

    p = tmp_path / "form.csv"
    p.write_text("instanceID,age\nuuid:1,40\nuuid:2,notanumber\nuuid:3,12\n")
    schema = StructType(
        [StructField("instanceID", StringType()), StructField("age", IntegerType())]
    )
    df = read_csv_form(
        spark, str(p), schema, corrupt_record_col="_corrupt"
    ).cache()  # corrupt-record column requires materialization before filtering
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert "notanumber" in bad.collect()[0]._corrupt


def test_ingest_batch_end_to_end(spark, tmp_path):
    """Two-batch incremental ingest: exact dups (in-batch + vs store)
    and corpus near-dups rejected; novel and batch-internal-near-dup
    docs accepted; state deltas cover exactly the accepted docs."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark import jobs
    from bohemia_kenya_data_pipeline_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about catalyst optimizer rules"),
        ],
        ["doc_id", "text"],
    )
    index = str(tmp_path / "mh_index")
    dd.minhash_index_write(corpus, index, num_hashes=8, bands=4)
    store = corpus.select(F.md5("text").alias("content_hash"))

    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
            (101, "the quick brown fox jumps over the lazy cat today"),   # near-dup of 1
            (102, "a genuinely novel document about arrow batches"),      # novel
            (103, "a genuinely novel document about arrow batches"),      # in-batch exact dup
        ],
        ["doc_id", "text"],
    )
    # the near-dup pair agrees on 1 of 4 bands (s~0.67 -> s^r~0.45
    # per band); 0.25 = reject on any band agreement
    accepted, new_hashes, new_bands = jobs.ingest_batch(
        batch, store, index, min_band_agreement=0.25
    )
    ids = sorted(r.doc_id for r in accepted.collect())
    assert ids == [102]
    # at a stricter agreement bar the same near-dup passes — the knob
    # trades precision against recall exactly like banding theory says
    loose, _, _ = jobs.ingest_batch(batch, store, index, min_band_agreement=0.5)
    assert sorted(r.doc_id for r in loose.collect()) == [101, 102]
    assert new_hashes.count() == 1
    # band rows only for the accepted doc, index-layout columns
    bands = new_bands.collect()
    assert {r.id for r in bands} == {102}
    assert set(new_bands.columns) == {"id", "bucket", "band"}

    # append state and re-ingest the SAME batch: everything suppresses
    new_bands.write.mode("append").partitionBy("band").parquet(index)
    store2 = store.unionByName(new_hashes.select("content_hash"))
    accepted2, _, _ = jobs.ingest_batch(batch, store2, index, min_band_agreement=0.25)
    assert accepted2.count() == 0

    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError):
        jobs.ingest_batch(batch, store, index, min_band_agreement=0.0)


def test_ingest_batch_ignores_tombstoned_index_docs(spark, tmp_path):
    """A deleted index doc no longer rejects its near-duplicates: the
    ingest probe reads the index through the tombstone mask, exactly
    as minhash_index_query does."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark import jobs
    from bohemia_kenya_data_pipeline_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about catalyst optimizer rules"),
        ],
        ["doc_id", "text"],
    )
    index = str(tmp_path / "mh_index_del")
    dd.minhash_index_write(corpus, index, num_hashes=8, bands=4)
    dd.minhash_index_delete(corpus.filter(F.col("doc_id") == 1), index)
    store = corpus.filter(F.col("doc_id") == 2).select(
        F.md5("text").alias("content_hash")
    )
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    assert dd.minhash_index_query(batch, index).count() == 0
    accepted, _, new_bands = jobs.ingest_batch(
        batch, store, index, min_band_agreement=0.25
    )
    assert [r.doc_id for r in accepted.collect()] == [100]
    assert {r.id for r in new_bands.collect()} == {100}


def test_gated_ingest_routes_then_gates(spark):
    from bohemia_kenya_data_pipeline_spark import jobs
    from bohemia_kenya_data_pipeline_spark.operators import quality as ql

    batch = spark.createDataFrame(
        [(1, 10.0), (2, None), (None, 5.0), (4, 900.0)], "id int, amt double"
    )
    route = [ql.expect_not_null("id"), ql.expect_in_range("amt", 0, 100)]
    good, bad, report = jobs.gated_ingest(batch, route)
    assert sorted(r.id for r in good.collect()) == [1, 2]
    assert {r.quarantine_reason for r in bad.collect()} == {
        "not_null", "in_range[0,100]"
    }
    # gate re-checks the same rules on survivors -> all pass
    assert all(r.passed for r in report.collect())
    jobs.assert_expectations(report)  # must not raise


def test_gated_ingest_hard_gate_raises_with_detail(spark):
    import pytest as _pytest

    from bohemia_kenya_data_pipeline_spark import jobs
    from bohemia_kenya_data_pipeline_spark.operators import quality as ql

    batch = spark.createDataFrame([(1,), (1,), (2,)], "id int")
    good, bad, report = jobs.gated_ingest(
        batch, [ql.expect_not_null("id")], gate_rules=[ql.expect_unique("id")]
    )
    with _pytest.raises(ValueError, match="unique on id: 1"):
        jobs.assert_expectations(report)


def test_pretrain_dataset_substring_dedup_stage(spark):
    # substring_dedup=True cuts the shared 12-token boilerplate from
    # BOTH docs but keeps each doc's unique remainder — the Lee et al.
    # span-cut contract, inside the composed DAG. Without the flag the
    # same docs survive intact (line dedup alone can't see sub-line
    # duplication), so exact dedup keeps both.
    from bohemia_kenya_data_pipeline_spark import jobs

    boiler = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler}", "en"),
            (2, f"{boiler} delta epsilon zeta", "en"),
            (3, "completely unique document text here", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    kw = dict(mix={"en": 1.0}, token_budget=10_000, pack_tokens=512)
    plain = {
        r["doc_id"]: r["n_tokens"]
        for r in jobs.build_pretrain_dataset(docs, **kw).collect()
    }
    cut = {
        r["doc_id"]: r["n_tokens"]
        for r in jobs.build_pretrain_dataset(
            docs, substring_dedup=True, **kw
        ).collect()
    }
    assert plain == {1: 15, 2: 15, 3: 5}
    # span cut removes the 12 boilerplate tokens from each sharer
    assert cut == {1: 3, 2: 3, 3: 5}


def test_pretrain_dataset_span_cut_drops_wall_to_wall_dupes(spark):
    from bohemia_kenya_data_pipeline_spark import jobs

    boiler = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, boiler, "en"),
            (2, boiler + " tail words", "en"),
            (3, "unique doc body stays put", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {
        r["doc_id"]: r["n_tokens"]
        for r in jobs.build_pretrain_dataset(
            docs, substring_dedup=True, mix={"en": 1.0}
        ).collect()
    }
    # doc 1 is cut to nothing -> dropped; doc 2 keeps its unique tail
    assert 1 not in out
    assert out[2] == 2 and out[3] == 5


def test_curate_release_end_to_end(spark):
    """curate_release (gate -> classify -> dedup -> pack), planted:
    the gate drops each source's worst n_chars quartile, the
    classifier (trained on the gated corpus, length-proxy label)
    rejects the negative-vocabulary doc, exact dedup keeps the min-id
    duplicate, and packing emits integer shard assignments."""
    from bohemia_kenya_data_pipeline_spark.jobs import curate_release

    good = "signal quality prose " * 40   # pos-class vocabulary
    bad = "junk spam noise " * 40         # neg-class vocabulary
    df = spark.createDataFrame(
        [
            # source a: n_chars 100 is a's q25 tail -> gated out
            (1, good, "a", 400),
            (2, good, "a", 350),           # duplicate text of doc 1
            (3, bad, "a", 320),            # survives gate, pred False
            (4, bad, "a", 100),            # gated out (worst quartile)
            (5, bad, "a", 100),            # gated out
            # source b: its own threshold; pos docs survive
            (6, good + "extra b words", "b", 500),
            (7, bad, "b", 90),             # gated out in b
            (8, bad, "b", 80),             # gated out in b
            (9, good + "more b prose", "b", 450),
        ],
        "doc_id INT, text STRING, source STRING, n_chars INT",
    )
    out = curate_release(df, pack_tokens=100)
    rows = {r.doc_id: r for r in out.collect()}
    # doc 2 deduped into doc 1; bad docs rejected by gate or classifier
    assert set(rows) == {1, 6, 9}
    assert rows[1].source == "a" and rows[1].n_tokens == 120
    # per-source packing: cumulative sums restart per stratum and
    # chunk ids are the 100-token shard of the row's starting offset
    for r in rows.values():
        assert r.chunk_id == (r.cum_tokens - r.n_tokens) // 100
    b_rows = sorted(
        (r for r in rows.values() if r.source == "b"),
        key=lambda r: r.cum_tokens,
    )
    assert b_rows[-1].cum_tokens == sum(r.n_tokens for r in b_rows)
