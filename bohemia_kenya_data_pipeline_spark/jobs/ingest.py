"""Incremental corpus-ingest job: the batch pipeline that keeps a
100 TB training corpus deduplicated WITHOUT ever re-processing it.

Per batch:

1. exact dedup — within the batch and against the corpus hash store
   (:func:`~..operators.dedup.incremental_exact_dedup`: anti-join on
   16-byte content hashes);
2. near-dup probe — surviving docs are signed once and probed against
   the persisted MinHash band index; a corpus match is REJECTED when
   at least ``min_band_agreement`` of the bands collide (multi-band
   agreement is the LSH-native similarity gate — a single-band hit is
   a candidate, agreement across bands is evidence; exact Jaccard
   verification would need the corpus TEXT, which this job
   deliberately never re-reads);
3. accept — docs that survive both gates are returned together with
   the state deltas (new hash rows, new band rows) the caller appends
   AFTER committing the accepted docs (same accepted-before-state
   ordering contract as ``streaming.incremental_dedup_sink``).

The whole batch cost is proportional to the BATCH, not the corpus:
the corpus contributes one hash anti-join probe and one band-bucket
equi-join probe, both on indexed keys with band-partition pruning.
Near-dups WITHIN the batch are deliberately kept (the offline
minhash_lsh_pairs flow flags those for policy); only near-dups of the
EXISTING corpus are rejected here, because on real crawls those
re-arrive forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import quality as ql


def ingest_batch(
    batch: DataFrame,
    hash_store: DataFrame,
    minhash_index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_band_agreement: float = 0.5,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run one ingest batch; returns ``(accepted, new_hashes,
    new_band_rows)`` — see the module docstring for the contract.

    ``new_band_rows`` match the index layout
    (:func:`~..operators.dedup.minhash_index_write`: id, bucket, band)
    so the caller appends them with
    ``df.write.mode('append').partitionBy('band')``.
    """
    if not 0 < min_band_agreement <= 1:
        raise ValueError(
            f"min_band_agreement must be in (0, 1], got {min_band_agreement}"
        )
    spark = batch.sparkSession
    params = dd.read_minhash_index_params(spark, minhash_index_path)
    n_bands = params["bands"]

    exact_ok, new_hashes = dd.incremental_exact_dedup(
        batch, hash_store, text_col, id_col
    )
    exact_ok = exact_ok.drop("content_hash")

    batch_bands = dd._minhash_band_rows(exact_ok, text_col, id_col, **params).select(
        F.col("id").alias("new_id"), "band", "bucket"
    )
    # tombstoned docs neither reject a batch doc nor count toward the
    # bucket cap, exactly as in minhash_index_query
    index_bands = dd._cap_buckets(
        dd._live_band_rows(spark, minhash_index_path).select(
            F.col("id").alias("index_id"), "band", "bucket"
        ),
        ["band", "bucket"],
        "index_id",
        max_bucket_size,
    )
    near_dup_ids = (
        batch_bands.join(index_bands, ["band", "bucket"])
        .groupBy("new_id", "index_id")
        .agg(F.count(F.lit(1)).alias("n_agree"))
        .filter(F.col("n_agree") / n_bands >= min_band_agreement)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    accepted = exact_ok.join(near_dup_ids, id_col, "left_anti")

    # state deltas restricted to what actually got accepted. Hashes
    # come straight off the accepted rows (one per doc by
    # construction: exact dedup already kept one representative per
    # distinct text) — a semi-join back through new_hashes would pay
    # an extra shuffle for the identical set. NULL texts never enter
    # the store (incremental_exact_dedup's contract).
    new_hashes = accepted.select(
        F.md5(F.col(text_col)).alias("content_hash")
    ).filter(F.col("content_hash").isNotNull())
    new_band_rows = batch_bands.join(
        accepted.select(F.col(id_col).alias("new_id")), "new_id", "left_semi"
    ).select(F.col("new_id").alias("id"), "bucket", "band")
    return accepted, new_hashes, new_band_rows


def gated_ingest(
    batch: DataFrame,
    route_rules: list[dict],
    gate_rules: list[dict] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Quality-gated ingest: the load-side composition of the
    validation operators —

    1. **Route** (row-level): ``quality.quarantine_split`` sends rows
       failing any ``route_rules`` to the dead-letter side with the
       first failing rule's name; good rows continue.
    2. **Gate** (table-level): ``quality.check_expectations`` runs
       ``gate_rules`` (defaults to the route rules — they should now
       all pass) over the SURVIVING rows, producing the batch report
       a scheduler alerts on or :func:`assert_expectations` hard-fails.

    Returns ``(good, quarantined, report)`` — all lazy; the caller
    owns writes. The routing is one when-cascade filter per side and
    the report costs 1 + #unique + #fk aggregation passes over the
    good rows only.
    """
    good, bad = ql.quarantine_split(batch, route_rules)
    report = ql.check_expectations(good, gate_rules or route_rules)
    return good, bad, report


def assert_expectations(report: DataFrame) -> None:
    """Evaluate an expectations report and raise ValueError naming
    every failed rule (rule, column, violation count) — the hard-gate
    ending for gated_ingest. Triggers one action (the report is
    rule-count-sized)."""
    failed = [r for r in report.collect() if not r.passed]
    if failed:
        detail = "; ".join(
            f"{r.rule} on {r.column}: {r.n_violations} violations" for r in failed
        )
        raise ValueError(f"expectations failed: {detail}")
