#!/usr/bin/env python
"""Adversarial scale-stress bench: hostile skewed data, measured.

The standard bench (bench.py) runs on the driver's benign sf0.1
tables. This harness synthesizes the pathologies that kill naive
plans at 100 TB and MEASURES that the engine's guarded paths survive
them while the unguarded paths blow up — converting the repo's
central scale claims from prose to numbers:

- **boilerplate corpus** — one template duplicated 10^4x on top of
  the real sf0.1 documents table. LSH's classic killer: identical
  docs share every band bucket, so the uncapped band self-join emits
  C(10^4,2) ~= 5*10^7 candidate pairs from one bucket.
  Measured: `minhash_lsh_pairs` uncapped vs `max_bucket_size=16`
  (operators/dedup.py:76 `_cap_buckets`) vs the documented contract
  (drop_exact_duplicates first, then uncapped LSH).
- **hot join/agg key** — orders inflated to 6M rows with 30% of rows
  remapped to a single custkey, joined/aggregated against customer
  with broadcast disabled (at 100 TB the right side may not fit).
  Measured: plain vs `salted_join`/`salted_aggregate`
  (operators/skew.py:48,85) wall-clock AND the per-reducer load
  metric `max_rows_one_reducer` — the number that decides survival
  on a real cluster (see local_mode_caveat in the output).
- **giant group** — sessionize with one user holding 30% of 1M
  events; the RDT state machine with one extid holding 300k visits
  (vs <=7 in real data). Measured: both finish, with the giant-group
  overhead quantified.

Result-identity is asserted in-line (salted == plain counts; capped
pair count within its C(cap,2)-per-bucket bound; giant-group row
counts preserved) so the speed numbers can't silently come from
wrong answers.

Run:  python bench_skew.py [--out BENCH_skew_r04.json]
Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
      SPARK_GRAFT_CPUS (default all cores).

Prints ONE JSON line and (with --out) writes it to the given file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bohemia_kenya_data_pipeline_spark.operators import (  # noqa: E402
    dedup,
    skew as sk,
    stats as st,
    windows as W,
)
from bohemia_kenya_data_pipeline_spark.queries import _events  # noqa: E402
from bohemia_kenya_data_pipeline_spark.session import get_spark  # noqa: E402

#: Hostile-data knobs (documented in the output record).
N_HOT_DOCS = 10_000  # boilerplate copies stacked on the documents table
LSH_CAP = 16  # max_bucket_size for the capped run
ORDERS_INFLATE = 40  # orders x40 -> 6M rows at sf0.1
HOT_FRACTION = 0.3  # share of rows remapped to the hot key
HOT_CUSTKEY = 7
N_SALTS = 32
EVENTS_INFLATE = 10  # events x10 -> 1M rows at sf0.1
GIANT_USER = 1
GIANT_EXTID_VISITS = 300_000
RDT_NORMAL_EXTIDS = 10_000


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(out: dict, name: str, fn, runs: int = 2):
    """warm + steady timings (steady is the headline, like bench.py).
    Returns the last call's return value (for count assertions)."""
    result = None
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        result = fn()
        times.append(round(time.perf_counter() - t0, 3))
    out[name] = {"steady_s": times[-1], "warm_s": times[0], "runs": runs}
    return result


# ---------------------------------------------------------------------------
# Hostile frames (deterministic: derived from sf parquet + hash remaps)
# ---------------------------------------------------------------------------


def hostile_documents(spark, sf_dir: str) -> DataFrame:
    """sf0.1 documents + N_HOT_DOCS copies of one boilerplate template
    under fresh doc_ids — every copy lands in the same bucket of every
    LSH band."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    template = (
        "the same boilerplate template text repeated across the corpus "
        "with shared shingles everywhere in every copy"
    )
    hot = spark.range(N_HOT_DOCS).select(
        (F.col("id") + 1_000_000).alias("doc_id"), F.lit(template).alias("text")
    )
    return docs.unionByName(hot)


def hostile_orders(spark, sf_dir: str) -> DataFrame:
    """orders x ORDERS_INFLATE with HOT_FRACTION of rows remapped to
    one custkey (deterministic hash remap — reproducible without
    rand())."""
    rep = F.explode(F.array(*[F.lit(i) for i in range(ORDERS_INFLATE)]))
    infl = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .withColumn("rep", rep)
        .withColumn("o_orderkey", F.col("o_orderkey") * ORDERS_INFLATE + F.col("rep"))
        .drop("rep")
    )
    cut = int(HOT_FRACTION * 10)
    return infl.withColumn(
        "c_custkey",
        F.when(F.pmod(F.hash("o_orderkey"), F.lit(10)) < cut, F.lit(HOT_CUSTKEY)).otherwise(
            F.col("o_custkey")
        ),
    ).drop("o_custkey")


def hostile_events(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(benign, giant): events x EVENTS_INFLATE with per-replica ts
    jitter; `giant` additionally remaps HOT_FRACTION of rows to one
    user, producing a single ~300k-event window partition."""
    rep = F.explode(F.array(*[F.lit(i) for i in range(EVENTS_INFLATE)]))
    benign = (
        _events(spark, sf_dir)
        .withColumn("rep", rep)
        .withColumn("event_id", F.col("event_id") * EVENTS_INFLATE + F.col("rep"))
        .withColumn(
            "ts",
            F.col("ts")
            + F.make_interval(secs=F.pmod(F.hash("event_id"), F.lit(86400)).cast("double")),
        )
        .drop("rep")
    )
    cut = int(HOT_FRACTION * 10)
    giant = benign.withColumn(
        "user_id",
        F.when(F.pmod(F.hash("event_id"), F.lit(10)) < cut, F.lit(GIANT_USER)).otherwise(
            F.col("user_id")
        ),
    )
    return benign, giant


def _rdt_visits(spark, n_ext: int, vis_per: int) -> DataFrame:
    """Synthetic RDT visit rows shaped like evaluate_rdts input."""
    i = F.col("id")
    h = lambda s: F.pmod(F.hash("id", F.lit(s)), F.lit(5))  # noqa: E731
    return spark.range(n_ext * vis_per).select(
        (i / vis_per).cast("long").cast("string").alias("extid"),
        (F.pmod(i, F.lit(vis_per)) + 1).cast("int").alias("visit_number"),
        F.date_add(
            F.lit("2023-01-01").cast("date"), (F.pmod(i, F.lit(vis_per)) * 30).cast("int")
        ).alias("todays_date"),
        F.when(h(0) == 0, "Positive").when(h(0) == 1, "Negative").otherwise("").alias(
            "pan_result"
        ),
        F.when(h(1) == 0, "Positive").when(h(1) == 1, "Negative").otherwise("").alias(
            "pf_result"
        ),
        F.when(F.pmod(F.hash("id", F.lit(2)), F.lit(3)) == 0, "yes")
        .otherwise("no")
        .alias("child_took_coartem"),
    )


def _rdt_giant(spark) -> DataFrame:
    """One extid with GIANT_EXTID_VISITS sequential visits — 4 orders
    of magnitude beyond the real-data <=7, stressing the mapInPandas
    cross-batch carry path (operators/stats.py:102-120)."""
    i = F.col("id")
    h = lambda s: F.pmod(F.hash("id", F.lit(s)), F.lit(5))  # noqa: E731
    return spark.range(GIANT_EXTID_VISITS).select(
        F.lit("GIANT").alias("extid"),
        (i + 1).cast("int").alias("visit_number"),
        F.date_add(F.lit("2000-01-01").cast("date"), (i / 100).cast("int")).alias(
            "todays_date"
        ),
        F.when(h(0) == 0, "Positive").when(h(0) == 1, "Negative").otherwise("").alias(
            "pan_result"
        ),
        F.when(h(1) == 0, "Positive").when(h(1) == 1, "Negative").otherwise("").alias(
            "pf_result"
        ),
        F.when(F.pmod(F.hash("id", F.lit(2)), F.lit(3)) == 0, "yes")
        .otherwise("no")
        .alias("child_took_coartem"),
    )


# ---------------------------------------------------------------------------
# Sub-benches
# ---------------------------------------------------------------------------


def bench_lsh(spark, sf_dir: str, entries: dict, checks: dict) -> None:
    docs = hostile_documents(spark, sf_dir)
    docs.cache()
    n_docs = docs.count()

    capped = _timed(
        entries,
        "minhash_lsh_capped",
        lambda: dedup.minhash_lsh_pairs(docs, max_bucket_size=LSH_CAP).count(),
    )
    # the documented contract: exact-dedup first collapses the 10^4
    # identical copies to one representative, so even UNCAPPED LSH
    # stays linear afterwards
    deduped = dedup.drop_exact_duplicates(docs)
    exact_then_lsh = _timed(
        entries,
        "minhash_lsh_exact_dedup_first",
        lambda: dedup.minhash_lsh_pairs(deduped).count(),
    )
    # the unguarded path: single run (it is the known-quadratic blowup
    # this bench exists to measure; warm/steady split adds no info at
    # 2.5 min/run)
    uncapped = _timed(
        entries,
        "minhash_lsh_uncapped",
        lambda: dedup.minhash_lsh_pairs(docs).count(),
        runs=1,
    )
    entries["minhash_lsh_uncapped"]["pairs"] = uncapped
    entries["minhash_lsh_capped"]["pairs"] = capped
    entries["minhash_lsh_exact_dedup_first"]["pairs"] = exact_then_lsh

    hot_floor = N_HOT_DOCS * (N_HOT_DOCS - 1) // 2
    checks["lsh_uncapped_is_quadratic"] = bool(uncapped >= hot_floor)
    # sample-cap keeps <=LSH_CAP members/bucket -> hot cluster emits
    # <=C(cap,2) pairs; the rest come from genuine near-dups in the
    # real documents table (same in both runs)
    checks["lsh_capped_bounded"] = bool(
        capped <= LSH_CAP * (LSH_CAP - 1) // 2 + (uncapped - hot_floor)
    )
    checks["lsh_n_docs"] = n_docs
    docs.unpersist()


def bench_salted(spark, sf_dir: str, entries: dict, checks: dict) -> None:
    orders = hostile_orders(spark, sf_dir)
    orders.cache()
    n_orders = orders.count()
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))

    # at 100 TB the right side may not broadcast — force the shuffle
    # path the salt exists for; AQE (incl. skew-join splitting) stays
    # ON for both sides of the comparison, as it would in production
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain_n = _timed(
            entries, "join_plain_hotkey", lambda: orders.join(cust, "c_custkey").count()
        )
        salted_n = _timed(
            entries,
            "join_salted_hotkey",
            lambda: sk.salted_join(orders, cust, "c_custkey", n_salts=N_SALTS).count(),
        )
        checks["salted_join_identical"] = bool(plain_n == salted_n)

        aggs = {"n": ("count", "o_orderkey"), "s": ("sum", "o_totalprice")}
        plain_agg = _timed(
            entries,
            "agg_plain_hotkey",
            lambda: orders.groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n"), F.sum("o_totalprice").alias("s"))
            .count(),
        )
        salted_agg = _timed(
            entries,
            "agg_salted_hotkey",
            lambda: sk.salted_aggregate(orders, ["c_custkey"], aggs, n_salts=N_SALTS).count(),
        )
        checks["salted_agg_identical"] = bool(plain_agg == salted_agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    # The cluster-survival metric wall-clock can't show in one shared-
    # memory JVM: the largest row count any single reducer must hold.
    # Plain hash(key) partitioning sends EVERY row of the hot key to
    # one reducer at ANY cluster size; salting divides it by N_SALTS.
    plain_max = (
        orders.groupBy("c_custkey").count().agg(F.max("count")).collect()[0][0]
    )
    salted_max = (
        orders.withColumn("__salt", F.pmod(F.hash(*orders.columns), F.lit(N_SALTS)))
        .groupBy("c_custkey", "__salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    checks["max_rows_one_reducer_plain"] = plain_max
    checks["max_rows_one_reducer_salted"] = salted_max
    checks["reducer_balance_gain"] = round(plain_max / salted_max, 2)
    checks["hot_rows"] = plain_max
    checks["n_orders"] = n_orders
    orders.unpersist()


def bench_giant_groups(spark, sf_dir: str, entries: dict, checks: dict) -> None:
    benign, giant = hostile_events(spark, sf_dir)
    benign.cache()
    n_events = benign.count()
    giant.cache()
    giant.count()

    sess = lambda df: W.sessionize(  # noqa: E731
        df, "user_id", "ts", 30, order_tiebreakers=["event_id"]
    )
    _timed(entries, "sessionize_benign", lambda: _noop(sess(benign)))
    _timed(entries, "sessionize_giant_user", lambda: _noop(sess(giant)))
    # row preservation + the giant partition really is ~30% of rows
    checks["sessionize_rows_preserved"] = bool(sess(giant).count() == n_events)
    checks["n_events"] = n_events
    checks["giant_user_rows"] = giant.filter(F.col("user_id") == GIANT_USER).count()
    benign.unpersist()
    giant.unpersist()

    normal = _rdt_visits(spark, RDT_NORMAL_EXTIDS, 7)
    normal.cache()
    n_normal = normal.count()
    with_giant = normal.unionByName(_rdt_giant(spark))
    with_giant.cache()
    n_with_giant = with_giant.count()
    _timed(entries, "rdt_benign", lambda: _noop(st.evaluate_rdts(normal)))
    _timed(entries, "rdt_giant_group", lambda: _noop(st.evaluate_rdts(with_giant)))
    checks["rdt_rows_preserved"] = bool(
        st.evaluate_rdts(with_giant).count() == n_with_giant
    )
    checks["rdt_normal_rows"] = n_normal
    checks["rdt_giant_visits"] = GIANT_EXTID_VISITS
    normal.unpersist()
    with_giant.unpersist()


# ---------------------------------------------------------------------------
# Round-4 continuation families under hostile data
# ---------------------------------------------------------------------------


def bench_new_families(spark, sf_dir: str, entries: dict, checks: dict) -> None:
    from bohemia_kenya_data_pipeline_spark.operators import basket as bk
    from bohemia_kenya_data_pipeline_spark.operators import bloom as bl
    from bohemia_kenya_data_pipeline_spark.operators import graph as gr

    # -- giant basket: one 3000-item crawler session among 20k normal
    # 5-item baskets. Uncapped pair generation pays the 4.5M-pair
    # quadratic block; max_basket drops it while leaving every normal
    # basket's pairs untouched.
    normal = (
        spark.range(20_000 * 5)
        .selectExpr("id % 20000 AS bid", "CAST(id % 400 AS STRING) AS item")
    )
    giant = spark.range(3_000).selectExpr(
        "99999 AS bid", "CAST(100000 + id AS STRING) AS item"
    )
    hostile = normal.unionByName(giant)
    n_unc = _timed(
        entries, "basket_uncapped_giant",
        lambda: bk.frequent_item_pairs(hostile, "bid", "item", min_support=1).count(),
    )
    n_cap = _timed(
        entries, "basket_capped_giant",
        lambda: bk.frequent_item_pairs(
            hostile, "bid", "item", min_support=1, max_basket=100
        ).count(),
    )
    n_normal_only = bk.frequent_item_pairs(
        normal, "bid", "item", min_support=1
    ).count()
    checks["basket_giant_pairs_avoided"] = n_unc - n_cap
    checks["basket_capped_equals_normal_only"] = bool(n_cap == n_normal_only)

    # -- bloom pruning: selective semi join of a wide fact against 2%
    # of keys. Record the shuffle-volume proxy (rows surviving the
    # scan-side prune) and prove the sizing guard: a deliberately
    # undersized bitmap is DETECTABLE from fill_factor before trusting
    # the prune.
    fact = spark.range(4_000_000).selectExpr(
        "id AS k", "id % 1000 AS payload"
    )
    dim = spark.range(80_000).selectExpr("id * 50 AS k")  # 2% hit rate
    def _bloom_run():
        out = bl.bloom_pruned_semi_join(fact, dim, "k", n_bits=1 << 21)
        return out.count()
    n_bloom = _timed(entries, "bloom_pruned_semi_join", _bloom_run)
    n_plain = _timed(
        entries, "plain_semi_join",
        lambda: fact.join(dim, "k", "semi").count(),
    )
    words = bl.bloom_words(dim, "k", n_bits=1 << 21)
    pruned_rows = bl.might_contain(fact, words, "k", n_bits=1 << 21).count()
    fill_ok = bl.bloom_stats(words, n_bits=1 << 21).collect()[0].fill_factor
    tiny = bl.bloom_words(dim, "k", n_bits=1 << 12)
    fill_bad = bl.bloom_stats(tiny, n_bits=1 << 12).collect()[0].fill_factor
    checks["bloom_results_identical"] = bool(n_bloom == n_plain)
    checks["bloom_fact_rows"] = 4_000_000
    checks["bloom_rows_after_prune"] = pruned_rows
    checks["bloom_prune_kept_fraction"] = round(pruned_rows / 4_000_000, 4)
    checks["bloom_fill_sized"] = round(fill_ok, 4)
    checks["bloom_fill_undersized"] = round(fill_bad, 4)
    checks["bloom_undersized_detected"] = bool(fill_bad > 0.5 > fill_ok)

    # -- hub-degree wedge explosion: star hub with MEDIAN id makes the
    # ordered-wedge join generate ~n^2/4 wedges at the hub; relabeling
    # the hub to an EXTREME id (what degree-orientation achieves
    # data-independently) collapses the wedge count. Triangle count is
    # graph-isomorphic so both runs must agree exactly.
    n_star = 3000
    ring = spark.range(n_star - 1).selectExpr(
        "CAST(id AS STRING) AS src", "CAST(id + 1 AS STRING) AS dst"
    )
    hub_mid = spark.range(n_star).filter("id <> 1500").selectExpr(
        "CAST(id AS STRING) AS src", "CAST(1500 AS STRING) AS dst"
    )
    # string ids sort lexicographically; pad to keep numeric order
    def _pad(df):
        return df.selectExpr(
            "lpad(src, 5, '0') AS src", "lpad(dst, 5, '0') AS dst"
        )
    edges_mid = _pad(ring.unionByName(hub_mid))
    tri_mid = _timed(
        entries, "triangles_hub_median",
        lambda: gr.triangle_count(edges_mid).collect()[0].n_triangles,
    )
    # isomorphic relabel: swap hub id 01500 with 00000 on BOTH
    # endpoints — the hub becomes the globally smallest id, so the
    # ordered-wedge join never uses it as the middle vertex
    swap = (
        "CASE WHEN {c} = '01500' THEN '00000' "
        "WHEN {c} = '00000' THEN '01500' ELSE {c} END"
    )
    edges_ext = edges_mid.selectExpr(
        swap.format(c="src") + " AS src", swap.format(c="dst") + " AS dst"
    )
    tri_ext = _timed(
        entries, "triangles_hub_extreme",
        lambda: gr.triangle_count(edges_ext).collect()[0].n_triangles,
    )
    checks["triangle_counts_agree"] = bool(tri_mid == tri_ext)
    checks["triangles_found"] = tri_mid




def bench_spans_hot_shingle(spark, sf_dir: str, entries: dict, checks: dict) -> None:
    """r15 (VERDICT r14 what's-wrong 3): the r14 default
    ``duplicate_spans`` plan computes the distinct-doc count as
    ``max(dense_rank) over (partition by shingle key)`` — every
    position of ONE key sorts in one partition, exactly what a
    boilerplate corpus concentrates. Hostile corpus: 20k copies of a
    30-token boilerplate block (≈19 hot shingle keys × 20k positions
    each) on top of the sf0.1 documents. Both plans must return
    IDENTICAL spans; the record keeps their steady times and the hot
    key's position count (the volume one window reducer absorbs)."""
    from bohemia_kenya_data_pipeline_spark.operators import dedup as dd

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    template = " ".join(
        ["boilerplate token w%d shared across every copy" % i for i in range(6)]
    )  # 30 tokens -> 19 duplicated 12-gram positions per copy
    hot = spark.range(20_000).select(
        (F.col("id") + 5_000_000).alias("doc_id"), F.lit(template).alias("text")
    )
    hostile = docs.unionByName(hot)

    _timed(
        entries, "spans_window_hotshingle",
        lambda: dd.duplicate_spans(hostile, plan="window").count(),
    )
    _timed(
        entries, "spans_join_hotshingle",
        lambda: dd.duplicate_spans(hostile, plan="join").count(),
    )
    a = dd.duplicate_spans(hostile, plan="window")
    b = dd.duplicate_spans(hostile, plan="join")
    checks["spans_plans_identical"] = bool(
        a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    )
    checks["spans_hot_key_positions"] = 20_000  # by construction
    checks["spans_window_over_join"] = round(
        entries["spans_window_hotshingle"]["steady_s"]
        / max(entries["spans_join_hotshingle"]["steady_s"], 1e-3), 2,
    )


def bench_asof_giant_key(spark, sf_dir: str, entries: dict, checks: dict) -> None:
    """As-of join under a giant key: the union+fill-down plan
    (windows.asof_join) is O(n log n) in the key's row count, while the
    naive range-join-then-argmax formulation generates (purchase x
    prior-clicks) candidate PAIRS — quadratic in the hot key. Measured
    at two inflation levels so the record shows the naive slope ~2 vs
    the operator's ~1, with result identity asserted at the small size
    (the same reason the LSH cap and salted join exist: bound pair
    growth, never generate it)."""
    from bohemia_kenya_data_pipeline_spark.operators import windows as W

    def giant_events(inflate: int) -> DataFrame:
        rep = F.explode(F.array(*[F.lit(i) for i in range(inflate)]))
        ev = (
            _events(spark, sf_dir)
            .withColumn("rep", rep)
            .withColumn("event_id", F.col("event_id") * inflate + F.col("rep"))
            .withColumn(
                "ts",
                F.col("ts")
                + F.make_interval(
                    secs=F.pmod(F.hash("event_id"), F.lit(86400)).cast("double")
                ),
            )
            .drop("rep")
        )
        cut = int(HOT_FRACTION * 10)
        return ev.withColumn(
            "user_id",
            F.when(
                F.pmod(F.hash("event_id"), F.lit(10)) < cut, F.lit(GIANT_USER)
            ).otherwise(F.col("user_id")),
        )

    def sides(inflate: int):
        ev = giant_events(inflate)
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("click_value"))
        )
        return purchases, clicks

    def asof_run(inflate: int):
        p_, c_ = sides(inflate)
        _noop(W.asof_join(p_, c_, ["user_id"], "ts", "ts", ["click_value"]))

    def naive_run(inflate: int):
        # the formulation asof_join exists to avoid: range join emits
        # every (purchase, earlier-click) pair, then argmax per purchase
        p_, c_ = sides(inflate)
        j = p_.join(
            c_.withColumnRenamed("ts", "cts"),
            (p_["user_id"] == c_["user_id"]) & (F.col("cts") <= p_["ts"]),
        )
        agg = j.groupBy("event_id").agg(F.max("cts").alias("asof_ts"))
        _noop(agg)

    for inflate in (2, 8):
        _timed(entries, f"asof_union_filldown_x{inflate}", lambda i=inflate: asof_run(i))
        _timed(entries, f"asof_naive_rangejoin_x{inflate}", lambda i=inflate: naive_run(i))
    for kind in ("union_filldown", "naive_rangejoin"):
        t2 = entries[f"asof_{kind}_x2"]["steady_s"]
        t8 = entries[f"asof_{kind}_x8"]["steady_s"]
        checks[f"asof_{kind}_slope"] = round(
            math.log(max(t8, 1e-3) / max(t2, 1e-3)) / math.log(4), 2
        )
    # result identity at the small size: fill-down matched ts == the
    # range join's MAX(cts) per purchase
    p_, c_ = sides(2)
    # purchases with no earlier click keep a NULL asof_ts; the inner
    # range join cannot produce them, so compare the matched rows only
    a = (
        W.asof_join(p_, c_, ["user_id"], "ts", "ts", ["click_value"])
        .select("event_id", "asof_ts")
        .filter(F.col("asof_ts").isNotNull())
    )
    n = p_.join(
        c_.withColumnRenamed("ts", "cts"),
        (p_["user_id"] == c_["user_id"]) & (F.col("cts") <= p_["ts"]),
    ).groupBy("event_id").agg(F.max("cts").alias("asof_ts"))
    checks["asof_result_identical"] = (
        a.exceptAll(n).count() == 0 and n.exceptAll(a).count() == 0
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="also write the JSON record here")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bkdp-bench-skew")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    entries: dict = {}
    checks: dict = {}
    bench_lsh(spark, sf_dir, entries, checks)
    bench_salted(spark, sf_dir, entries, checks)
    bench_giant_groups(spark, sf_dir, entries, checks)
    bench_new_families(spark, sf_dir, entries, checks)
    bench_asof_giant_key(spark, sf_dir, entries, checks)
    bench_spans_hot_shingle(spark, sf_dir, entries, checks)

    record = {
        "metric": "adversarial_skew_bench",
        "unit": "sec",
        "sf_dir": sf_dir,
        "hostile_data": {
            "boilerplate_copies": N_HOT_DOCS,
            "lsh_cap": LSH_CAP,
            "orders_rows": checks.get("n_orders"),
            "hot_key_fraction": HOT_FRACTION,
            "n_salts": N_SALTS,
            "events_rows": checks.get("n_events"),
            "giant_user_fraction": HOT_FRACTION,
            "rdt_giant_visits": GIANT_EXTID_VISITS,
        },
        "entries": entries,
        "checks": checks,
        "headline_new_families": {
            "basket_capped_vs_uncapped_speedup": round(
                entries["basket_uncapped_giant"]["steady_s"]
                / entries["basket_capped_giant"]["steady_s"], 1,
            ),
            "bloom_prune_kept_fraction": checks["bloom_prune_kept_fraction"],
            "bloom_undersized_detected": checks["bloom_undersized_detected"],
            "triangles_hub_speedup": round(
                entries["triangles_hub_median"]["steady_s"]
                / entries["triangles_hub_extreme"]["steady_s"], 1,
            ),
        },
        "headline": {
            "lsh_capped_vs_uncapped_speedup": round(
                entries["minhash_lsh_uncapped"]["steady_s"]
                / entries["minhash_lsh_capped"]["steady_s"],
                1,
            ),
            "lsh_pair_explosion_avoided": entries["minhash_lsh_uncapped"]["pairs"]
            - entries["minhash_lsh_capped"]["pairs"],
            "reducer_balance_gain": checks["reducer_balance_gain"],
        },
        "local_mode_caveat": (
            "salted join/agg wall-clock parity is expected at sf0.1 in one "
            "shared-memory JVM: AQE skew-split and map-side combine absorb a "
            "~2M-row straggler when all 32 threads share 128 GiB. The salted "
            "paths are asserted result-identical and their win condition is "
            "per-reducer volume (max_rows_one_reducer): plain partitioning "
            "pins hot_key_fraction of ALL rows on one reducer at any cluster "
            "size, salting divides it by n_salts — the difference between a "
            "30 TB task and a 1 TB task at the 100 TB target. The LSH cap, by "
            "contrast, wins outright even at sf0.1 (quadratic pair blowup is "
            "CPU, not memory). The bloom prune shows the same local-mode "
            "shape: a 4M-row broadcast semi join is trivial in-process, so "
            "plain wins wall-clock here; the bloom's win condition is "
            "bloom_rows_after_prune (2% of the fact reaches the join/shuffle "
            "instead of 100%) — scan-side volume, the binding constraint "
            "when the big side is 100 TB and the dim side exceeds broadcast."
        ),
    }
    line = json.dumps(record)
    print(line, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
