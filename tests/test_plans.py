"""Physical-plan regression tests: the scale properties SCALING.md
claims (pushdown, broadcast choices, exchange counts) asserted against
the actual Catalyst output, so a refactor that silently de-optimizes a
plan fails CI instead of only showing up at 100 TB.

Assertions are deliberately coarse (operator presence / counts in the
explain string) — they pin the plan *shape*, not its formatting.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _plan(df) -> str:
    # pre-execution plan: AQE leaves the initial exchanges visible,
    # which is exactly what we want to count
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )


def test_hash_sample_is_scan_local(spark):
    # md5-threshold sampling must stay a filter over the scan: no
    # shuffle, no aggregation
    plan = _plan(QUERIES["hash_sample_docs"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


def test_pricing_summary_prunes_and_pushes(spark):
    plan = _plan(QUERIES["pricing_summary"](spark, SF_DIR))
    # shipdate filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the 16-column table is read with a subset schema
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_comment" not in read[0]


def test_contamination_broadcasts_benchmark_grams(spark):
    # the deduped benchmark gram set must broadcast; the corpus side
    # must not shuffle into the join
    plan = _plan(QUERIES["ngram_contamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_dim_join_broadcasts(spark):
    plan = _plan(QUERIES["join_left_broadcast_dim"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_window_exchange(spark):
    plan = _plan(QUERIES["pack_sequences"](spark, SF_DIR))
    # one hash-partitioned exchange for the window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1


def test_spatial_assign_zero_exchange(spark):
    # literal-polygon fold: the whole assignment is scan-local
    plan = _plan(QUERIES["spatial_cluster_assign"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_q4_semi_join_and_date_pushdown(spark):
    # EXISTS must decorrelate to a semi join, and the order-date range
    # must reach the orders scan
    plan = _plan(QUERIES["tpch_q4_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_q7_dims_broadcast(spark):
    # both nation dims broadcast; the fact never shuffles for them
    plan = _plan(QUERIES["tpch_q7_volume_shipping"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2


def test_q17_reuses_partkey_shuffle(spark):
    # the decorrelated per-part aggregate and its join back to the fact
    # share the l_partkey hash layout: the brand dim broadcasts and the
    # plan carries at most the two l_partkey exchanges (agg + join side)
    plan = _plan(QUERIES["tpch_q17_small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(l_partkey") <= 2


def test_q21_semi_and_anti_join(spark):
    plan = _plan(QUERIES["tpch_q21_waiting_supplier"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_icf_metrics_pushes_event_type(spark):
    # each stream's event_type filter reaches the parquet scan
    plan = _plan(QUERIES["icf_verification_metrics"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(event_type)" in plan


def test_pharmacy_ledger_single_scan_shape(spark):
    # all four movement cohorts group on (run_date, drug); the
    # reduce-left-join chain must not introduce a non-key exchange
    plan = _plan(QUERIES["pharmacy_ledger_reconciliation"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(run_date") <= 4


def test_pretrain_mix_window_exchange_shared(spark):
    # token-budget and shard-packing windows both sort on
    # (lang, hash-priority) / (lang, doc_id): the plan may carry at
    # most 2 lang-keyed exchanges (budget+pack) on top of the two
    # dedup exchanges — anything more means a lost exchange reuse
    plan = _plan(QUERIES["pretrain_mix"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(lang") <= 2


def test_q19_pushes_common_disjunct_implications(spark):
    # the disjunction's per-side implications must prefilter: the part
    # side broadcasts and the lineitem scan carries a quantity filter
    plan = _plan(QUERIES["tpch_q19_disjunctive_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan or "l_quantity" in [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ][0]


def test_q20_double_semi_join(spark):
    plan = _plan(QUERIES["tpch_q20_part_promotion_suppliers"](spark, SF_DIR))
    assert plan.count("LeftSemi") >= 2


def test_dedup_within_gap_single_exchange(spark):
    # sessionize + first-per-session share one (user_id) exchange
    plan = _plan(QUERIES["dedup_within_gap"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_bloom_probe_streams_through_one_broadcast(spark):
    # the orders side must reach the verify join through broadcasts
    # only; the single hashpartitioning exchange belongs to the bloom
    # BUILD aggregation (map-side partial bit_or present)
    plan = _plan(QUERIES["bloom_pruned_join"](spark, SF_DIR))
    assert "bit_or" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bitmap_rollup_single_fact_scan(spark):
    # the fact table is scanned ONCE (index build); the rollup answers
    # from word rows: 3 narrow aggregations (build, OR-merge, popcount)
    opt = QUERIES["bitmap_distinct_rollup"](spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation [") == 1
    assert opt.count("Aggregate [") == 3
    plan = _plan(QUERIES["bitmap_distinct_rollup"](spark, SF_DIR))
    assert "bit_or" in plan and "bit_count" in plan


def test_winsorize_broadcasts_percentile_cuts(spark):
    plan = _plan(QUERIES["winsorize_prices"](spark, SF_DIR))
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower()


def test_ivm_two_aggregates_no_recompute(spark):
    # exactly TWO aggregations — state bootstrap + delta fold. A third
    # would be the full recompute over the new snapshot that IVM
    # exists to avoid (the oracle runs that recompute; the engine must
    # not). Joins: snapshot diff (full outer) + 2 image joins + state
    # merge (full outer).
    opt = QUERIES["ivm_maintained_agg"](spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Aggregate [") == 2
    assert opt.count("FullOuter") == 2


def test_cusum_windows_share_one_user_shuffle(spark):
    # prefix sum + running min are over the same (user_id, ts) spec:
    # Catalyst must plan ONE exchange on user_id, not two
    plan = _plan(QUERIES["cusum_drift_alarms"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_basket_supports_broadcast_back(spark):
    plan = _plan(QUERIES["market_basket_brand_pairs"](spark, SF_DIR))
    assert "BroadcastExchange" in plan


def test_asof_join_single_union_exchange(spark):
    # union + fill-down as-of plan: ONE hash exchange on the by-keys
    # carries the window; no range/theta join (which would explode to
    # pair candidates), no extra shuffle of either side
    plan = _plan(QUERIES["asof_last_click"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2  # clicks pre-agg + window
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_temperature_mix_rates_broadcast_no_data_shuffle(spark):
    # the data side must receive the rates by BROADCAST; the only hash
    # exchanges belong to the group-count aggregates (rate metadata)
    plan = _plan(QUERIES["temperature_mix_sample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_flags_scan_local(spark):
    # pure Column expressions: no shuffle, no join, no aggregation
    plan = _plan(QUERIES["gopher_quality_gate"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semantic_dedup_one_cluster_exchange(spark):
    # anchor assignment is a map-side literal fold; the ONLY exchanges
    # are the cid equi-join's (both sides hash on cid)
    plan = _plan(QUERIES["semantic_dedup_pairs"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan  # never a cross join
    # anchor scores/argmax must not introduce an aggregate before join
    assert plan.count("Exchange hashpartitioning") <= 2


def test_psi_bucket_aggregates_are_narrow(spark):
    # two snapshot scans feed 10-group aggregates; the scaffold joins
    # are broadcasts of bucket-cardinality metadata
    plan = _plan(QUERIES["psi_price_drift"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_semi_filters_postings_before_any_shuffle(spark):
    # the inverted-index contract: the corpus never shuffles — postings
    # are broadcast-semi-filtered to the query vocabulary at the scan
    plan = _plan(QUERIES["bm25_search_topk"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" not in phys
    assert "LeftSemi" in phys and "BroadcastHashJoin" in phys


def test_duplicate_spans_two_exchanges(spark):
    # r14 window plan: ONE position shuffle on the shingle key (the
    # dense_rank/max distinct-doc count rides it), one island window
    # on doc — no (key, doc)-distinct shuffle, no join-back, and the
    # gram+md5 scan appears exactly once in the plan
    plan = _plan(QUERIES["duplicate_spans"](spark, SF_DIR))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in phys
    assert "Join" not in phys


def test_rfm_scalable_no_global_ntile_sort(spark):
    # the scalable RFM variant must not funnel fact rows through a
    # global NTILE window; ranks come from range repartition + local
    # windows keyed by the range-partition id. The only empty-partition
    # window runs over the <=P-row offset metadata.
    plan = _plan(QUERIES["rfm_segments_scalable"](spark, SF_DIR))
    assert "ntile" not in plan
    for line in plan.splitlines():
        if "Window" in line and "row_number()" in line:
            assert "__b" in line or "__pid" in line


def test_interval_overlap_join_semantics_and_plan(spark):
    # half-open boundaries, canonical-bucket exactly-once across
    # multi-bucket spans, equality with the theta path, and the plan
    # pin: the bucketed rewrite is a hash equi-join, never a nested
    # loop / cartesian product
    from bohemia_kenya_data_pipeline_spark.operators.windows import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [
            (1, 0, 100),     # spans buckets 0-9 at w=10
            (2, 95, 105),    # crosses a bucket edge
            (3, 200, 210),
            (4, 50, 50),     # degenerate: matches nothing
        ],
        "lid BIGINT, ls BIGINT, le BIGINT",
    )
    right = spark.createDataFrame(
        [
            (10, 5, 15),
            (11, 99, 101),   # overlaps BOTH lid=1 and lid=2
            (12, 100, 110),  # touches lid=1's end — half-open: NO match for 1
            (13, 210, 220),  # touches lid=3's end — no match
            (14, 300, 290),  # degenerate
        ],
        "rid BIGINT, rs BIGINT, re BIGINT",
    )
    expect = [(1, 10), (1, 11), (2, 11), (2, 12)]
    bucketed = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_width=10
    )
    got = sorted((r.lid, r.rid) for r in bucketed.select("lid", "rid").collect())
    assert got == expect  # exactly-once despite multi-bucket co-spans
    theta = interval_overlap_join(left, right, "ls", "le", "rs", "re")
    assert sorted((r.lid, r.rid) for r in theta.select("lid", "rid").collect()) == expect

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    theta_plan = theta._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" in theta_plan or "CartesianProduct" in theta_plan


def test_interval_overlap_join_fanout_guard_and_keys(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from bohemia_kenya_data_pipeline_spark.operators.windows import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [("a", 1, 0, 10), ("b", 2, 0, 10)], "grp STRING, lid BIGINT, ls BIGINT, le BIGINT"
    )
    right = spark.createDataFrame(
        [("a", 10, 5, 6)], "grp STRING, rid BIGINT, rs BIGINT, re BIGINT"
    )
    # by-keys: same interval in another group must not match
    keyed = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", by=["grp"], bucket_width=10
    )
    assert [(r.lid, r.rid) for r in keyed.select("lid", "rid").collect()] == [(1, 10)]
    # an interval fanning out past max_buckets_per_row fails LOUD at
    # eval (raise_error lives inside the sequence bound, so Catalyst
    # cannot prune it away)
    wide = spark.createDataFrame([(9, 0, 1000)], "lid BIGINT, ls BIGINT, le BIGINT")
    with pytest.raises((Py4JJavaError, PySparkException), match="spans more than"):
        interval_overlap_join(
            wide,
            right.drop("grp"),
            "ls",
            "le",
            "rs",
            "re",
            bucket_width=10,
            max_buckets_per_row=3,
        ).collect()
    with pytest.raises(ValueError, match="rename shared"):
        interval_overlap_join(left, left, "ls", "le", "ls", "le")


def test_plan_stats_counts_known_shapes(spark, tmp_path):
    from bohemia_kenya_data_pipeline_spark import plans as P

    src = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(src)
    base = spark.read.parquet(src)

    # filtered scan: pushdown visible, zero shuffles, codegen active
    s = P.plan_stats(base.filter(F.col("id") == 5).select("id"))
    assert s["scans"] == 1 and s["scans_with_pushdown"] == 1
    assert s["exchanges"] == 0 and s["nested_loop_joins"] == 0
    assert s["codegen_spans"] >= 1 and s["row_python_nodes"] == 0

    # groupBy: exactly one shuffle exchange
    s = P.plan_stats(base.groupBy("k").count())
    assert s["exchanges"] == 1

    # broadcast join vs cartesian are told apart
    dim = spark.range(10).selectExpr("id AS k2")
    s = P.plan_stats(base.join(F.broadcast(dim), base.k == dim.k2))
    assert s["broadcast_hash_joins"] == 1 and s["nested_loop_joins"] == 0
    s = P.plan_stats(base.join(dim, base.k < dim.k2))
    assert s["nested_loop_joins"] == 1

    # Arrow-batched Python counted separately from row-Python
    import pandas as pd

    def ident(it):
        yield from it

    arrowed = base.mapInPandas(ident, base.schema)
    s = P.plan_stats(arrowed)
    assert s["arrow_python_nodes"] == 1 and s["row_python_nodes"] == 0


def test_assert_plan_gates_fail_loud(spark, tmp_path):
    import pytest

    from bohemia_kenya_data_pipeline_spark import plans as P

    src = str(tmp_path / "t2")
    spark.range(100).selectExpr("id", "id % 3 AS k").write.parquet(src)
    base = spark.read.parquet(src)
    dim = spark.range(5).selectExpr("id AS k2")

    # clean plan returns its stats
    stats = P.assert_plan(
        base.filter(F.col("id") > 5), require_pushdown=True, max_exchanges=0
    )
    assert stats["scans_with_pushdown"] == 1

    with pytest.raises(AssertionError, match="nested-loop"):
        P.assert_plan(base.join(dim, base.k < dim.k2))
    with pytest.raises(AssertionError, match="shuffle exchanges > bound"):
        P.assert_plan(base.groupBy("k").count(), max_exchanges=0)
    with pytest.raises(AssertionError, match="no scan carries PushedFilters"):
        P.assert_plan(base, require_pushdown=True)
    # row-at-a-time Python UDF (banned in the engine, so built here
    # inline purely as the negative fixture)
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    with pytest.raises(AssertionError, match="row-at-a-time Python"):
        P.assert_plan(base.select(slow(F.col("id"))))
    # double-read of one source without persist
    two = base.filter(F.col("k") == 0).unionByName(base.filter(F.col("k") == 1))
    with pytest.raises(AssertionError, match="scans > bound"):
        P.assert_plan(two, max_scans=1)


def test_interval_overlap_join_left_outer(spark):
    import pytest

    from bohemia_kenya_data_pipeline_spark.operators.windows import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, 0, 10), (2, 50, 60), (3, 80, 80)],  # 3 is degenerate: kept w/ NULLs
        "lid BIGINT, ls BIGINT, le BIGINT",
    )
    right = spark.createDataFrame(
        [(10, 5, 15), (11, 200, 210)], "rid BIGINT, rs BIGINT, re BIGINT"
    )
    for bw in (None, 10):
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re",
            bucket_width=bw, how="left", left_id_col="lid",
        )
        got = sorted((r.lid, r.rid) for r in out.select("lid", "rid").collect())
        assert got == [(1, 10), (2, None), (3, None)], bw
    with pytest.raises(ValueError, match="requires left_id_col"):
        interval_overlap_join(left, right, "ls", "le", "rs", "re", how="left")
    with pytest.raises(ValueError, match="how must be"):
        interval_overlap_join(left, right, "ls", "le", "rs", "re", how="full")


def test_round7_query_plans_hold_their_invariants(spark):
    # dogfood plans.assert_plan on the registered round-7 queries:
    # the CDC replay must broadcast-anti the snapshot, the bucketed
    # range join must never nested-loop, and none of them may touch
    # row-at-a-time Python
    from bohemia_kenya_data_pipeline_spark import plans as P

    cdc = QUERIES["cdc_log_compaction"](spark, SF_DIR)
    stats = P.assert_plan(cdc, forbid_nested_loop=True, forbid_row_python=True)
    assert stats["broadcast_hash_joins"] >= 1
    plan = P.plan_text(cdc)
    assert "LeftAnti" in plan  # the snapshot side is anti-joined, not rewritten

    rng = QUERIES["interval_overlap_promos"](spark, SF_DIR)
    P.assert_plan(rng, forbid_nested_loop=True, forbid_row_python=True)

    dec = QUERIES["semantic_decontamination"](spark, SF_DIR)
    s = P.assert_plan(dec, forbid_nested_loop=True, forbid_row_python=True)
    assert s["arrow_python_nodes"] >= 1  # the sanctioned Arrow kernel

    ivm = QUERIES["ivm_join_view"](spark, SF_DIR)
    s = P.assert_plan(ivm, forbid_nested_loop=True, forbid_row_python=True)
    assert s["broadcast_hash_joins"] >= 2  # both delta terms broadcast the delta


def test_plan_text_final_reports_post_aqe_plan(spark):
    """Default plan_text is the INITIAL adaptive plan (isFinalPlan=
    false — static gates only); final=True executes once and returns
    the AQE-final tree (ADVICE r7: the docstring used to overclaim)."""
    from bohemia_kenya_data_pipeline_spark import plans as pl

    a = spark.range(2000).selectExpr("id % 7 AS k", "id AS x")
    b = spark.range(50).selectExpr("id AS k", "id * 2 AS y")
    df = a.join(b, "k").groupBy("k").count()
    initial = pl.plan_text(df)
    assert "isFinalPlan=false" in initial
    final = pl.plan_text(df, final=True)
    assert "isFinalPlan=true" in final
    # stats parse on both modes
    assert pl.plan_stats(df)["scans"] == pl.plan_stats(df, final=True)["scans"]


def test_round8_lakehouse_and_arrow_assign_plans(spark, tmp_path):
    """r8 plan pins: the composed lakehouse chain stays broadcast-
    joined (touched keys + deltas) with no nested loop and no row
    Python through THREE chained batches; the Arrow index build plans
    exactly one Arrow python node and no shuffle before the write."""
    from bohemia_kenya_data_pipeline_spark import plans as P
    from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    lk = QUERIES["lakehouse_cdc_e2e"](spark, SF_DIR)
    s = P.assert_plan(lk, forbid_nested_loop=True, forbid_row_python=True)
    # every touched-key/delta join in the chain broadcasts: 3 batches x
    # (anti + semi + view-delta + view semi/anti splits) >> 6
    assert s["broadcast_hash_joins"] >= 6, s

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [[float(i == j) for j in range(64)] for i in range(32)]
    assigned = sim.assign_centroids_arrow(emb, cents)
    s = P.assert_plan(assigned, forbid_row_python=True)
    assert s["arrow_python_nodes"] == 1
    assert s["exchanges"] == 0  # assignment is scan-side, shuffle-free


def test_ivfpq_query_plan_is_hash_join_no_python_rows(spark, tmp_path):
    """The IVF-PQ query: probe-restricted candidates must come from a
    broadcast HASH join on cid (never a nested-loop), with only
    Arrow-batched Python nodes (LUT UDF), and the probed-cid filter
    must reach the scan as a partition filter."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark import plans as P
    from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    corpus = spark.range(1, 301).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: ((F.col("id") * 37 + j * 11) % 19 - 9.0) / 9.0,
        ).alias("embedding"),
    )
    cb = sim.pq_codebooks(8, 4, 8)
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    path = str(tmp_path / "pqplan")
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=cb)
    out = rt.query_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") % 100 == 0), k=3, n_probe=1
    )
    stats = P.assert_plan(out)  # no nested loop, no row-Python
    assert stats["broadcast_hash_joins"] >= 1
    txt = P.plan_text(out)
    assert "PartitionFilters" in txt


def test_skipping_pruned_scan_pushes_exact_predicate(spark, tmp_path):
    """read_with_skipping re-applies the exact predicate AFTER file
    pruning — it must reach the kept files' scan as a pushed filter
    (row-group skipping inside kept files composes with the
    file-level prune), with a single scan and no Python nodes."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark import plans as P
    from bohemia_kenya_data_pipeline_spark.operators import skipping as skp

    path = str(tmp_path / "skiptbl")
    spark.range(1, 5001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(4, "k").write.mode("overwrite").parquet(path)
    skp.build_file_manifest(spark, path, ["k"])
    out = skp.read_with_skipping(spark, path, [("k", "between", (1000, 1499))])
    stats = P.assert_plan(out, require_pushdown=True, max_scans=1)
    assert stats["scans"] == 1


def test_round10_lifecycle_query_plans_hold_invariants(spark, tmp_path):
    """Round-10 additions: (a) a pruned read over an EXTENDED manifest
    keeps the skipping contract (single scan, exact predicate pushed);
    (b) the composed candidates= hard-negative plan is broadcast-anti
    + window with only Arrow-batched Python (the generator kernel);
    (c) a tombstoned index probe stays a hash join with the tombstone
    anti-join broadcast."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark import plans as P
    from bohemia_kenya_data_pipeline_spark.operators import dedup as dd
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
    from bohemia_kenya_data_pipeline_spark.operators import skipping as skp

    # (a) extend -> pruned read
    path = str(tmp_path / "extplan")
    spark.range(1, 4001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(4, "k").write.mode("overwrite").parquet(path)
    skp.build_file_manifest(spark, path, ["k"])
    spark.range(4001, 6001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.mode("append").parquet(path)
    skp.extend_file_manifest(spark, path)
    out = skp.read_with_skipping(spark, path, [("k", "between", (3500, 4500))])
    stats = P.assert_plan(out, require_pushdown=True, max_scans=1)
    assert stats["scans"] == 1

    # (b) composed hard negatives: Arrow pool + broadcast anti + window
    emb = spark.range(1, 201).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: ((F.col("id") * 37 + j * 11) % 19 - 9.0) / 9.0,
        ).alias("embedding"),
    )
    anchors = emb.filter(F.col("vec_id") % 40 == 0)
    positives = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        (F.col("vec_id") + 1).alias("positive_id"),
    )
    pool = sim.cosine_topk_arrow(emb, anchors, k=8)
    neg = sim.mine_hard_negatives(
        emb, anchors, positives, n_neg=3, candidates=pool
    )
    s = P.assert_plan(neg, forbid_nested_loop=True, forbid_row_python=True)
    assert s["broadcast_hash_joins"] >= 1  # the anti join vs positives

    # (c) tombstoned minhash probe
    docs = spark.createDataFrame(
        [(i, f"common shingle text block number {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "mh_planidx")
    dd.minhash_index_write(docs, idx, num_hashes=8, bands=4)
    dd.minhash_index_delete(docs.filter(F.col("doc_id") % 5 == 0), idx)
    probe = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    q = dd.minhash_index_query(probe, idx)
    s = P.assert_plan(q, forbid_nested_loop=True, forbid_row_python=True)
    assert s["broadcast_hash_joins"] >= 1  # tombstone anti-join broadcasts

    # (d) tombstoned ANN index query: the delete mask must not break
    # the partition-pruned scan, and the anti-join must broadcast the
    # metadata-sized tombstones (never shuffle the index)
    from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt

    aidx = str(tmp_path / "ann_planidx")
    rt.build_ann_index(emb, aidx, n_centroids=4, n_iters=2)
    rt.delete_from_index(emb.filter(F.col("vec_id") % 5 == 0), aidx)
    out = rt.query_ann_index(spark, aidx, anchors, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split(
        "PartitionFilters", 1
    )[1][:200]  # file-level pruning survives the tombstone mask
    s = P.assert_plan(out, forbid_nested_loop=True, forbid_row_python=True)
    assert s["broadcast_hash_joins"] >= 1  # tombstone anti-join broadcasts

    # (e) index health monitoring must stay metadata-cheap: the
    # index_stats scan reads ONLY (id, cid) — the vector column never
    # leaves the parquet footer — and the tombstone mask joins
    # broadcast, never shuffling the index
    st = rt.index_stats(spark, aidx)
    stp = st._jdf.queryExecution().executedPlan().toString()
    read_schema = stp.split("ReadSchema", 1)[1][:200]
    assert "vec_id" in read_schema and "embedding" not in read_schema
    s = P.assert_plan(st, forbid_nested_loop=True, forbid_row_python=True)
    # minhash band stats: two map-side-combined aggregates over the
    # (id, band, bucket) rows, broadcast tombstone mask, no Python
    ms = dd.minhash_index_stats(spark, idx)
    s = P.assert_plan(ms, forbid_nested_loop=True, forbid_row_python=True)
    assert s["broadcast_hash_joins"] >= 1


def test_round11_curation_query_plans_hold_invariants(spark):
    """Round-11 additions: (a) the learned-classifier scoring join
    broadcasts the <=V-row weight table and keeps Python out of the
    plan entirely; (b) the skew profile's top-k cut is a distributed
    TakeOrdered, never a global single-partition sort of the count
    frame; (c) the quantile gate broadcasts the per-group thresholds
    so the fact is scanned once and never sort-merge-shuffled."""
    plan = _plan(QUERIES["quality_classifier_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # weight-table scoring join
    assert "Python" not in plan  # pure Column expressions end-to-end

    df = QUERIES["skew_key_profile"](spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys
    # the only global-sort window runs over the <= top_n survivors,
    # downstream of the TakeOrdered cut — no rangepartitioning of the
    # full count frame
    assert "rangepartitioning" not in phys.lower()

    plan = _plan(QUERIES["quantile_gate_by_source"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_round11_multimodal_chains_are_scan_local(spark):
    """resize_pixel_stats / resample_audio_stats: synthesize ->
    transform -> re-parse is a pure chain of Arrow map stages — no
    exchange anywhere (one row out per row in, parallelizes with the
    scan), and no row-at-a-time Python (ArrowEvalPython/MapInPandas
    only)."""
    for name in (
        "resize_pixel_stats",
        "resample_audio_stats",
        "png_resize_roundtrip",  # r14: the all-PNG chain keeps the shape
    ):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name  # row-Python banned


def test_curation_release_dag_plan_invariants(spark):
    """curation_release_e2e (gate -> classify -> dedup -> pack): the
    per-group thresholds and the <=V-row weight table must broadcast
    into the corpus scan (no corpus-sized sort-merge join against a
    group-sized frame), no cartesian products, and no row-at-a-time
    Python anywhere in the composed DAG."""
    plan = _plan(QUERIES["curation_release_e2e"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # broadcast semi join routes classifier survivors back onto the
    # gated rows without shuffling the corpus a second time
    assert "LeftSemi" in plan


def test_corr_moments_single_scan_single_shuffle(spark):
    """Round-13 migrated corr_covar_rollup: the integer-moment contract
    must still be ONE pruned scan + ONE partial-aggregated shuffle —
    the migration changed the hashed columns, not the plan shape."""
    plan = _plan(QUERIES["corr_covar_rollup"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    opt = (
        QUERIES["corr_covar_rollup"](spark, SF_DIR)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert opt.count("Relation [") == 1  # lineitem scanned once
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # only the four source columns are read from the 16-column table
    assert read and "l_comment" not in read[0] and "l_shipdate" not in read[0]


def test_report_refresh_plans_start_no_python_worker(spark):
    """The trial reports and the RDT queries run JVM-only: no Python
    exec node (row UDF, Arrow UDF, mapInPandas/mapInArrow) anywhere in
    their plans, so refreshing them never starts a Python worker."""
    import re

    for name in (
        "rdt_state_machine", "rdt_incidence_rates", "goals_cascade",
        "resolution_delete_set", "efficacy_status_matrix", "icf_verification_metrics",
    ):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert not re.search(r"Python|InPandas|InArrow", plan), name
