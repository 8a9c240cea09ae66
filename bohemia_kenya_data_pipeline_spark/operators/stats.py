"""Epi-analysis operators: the RDT incident-case state machine (W9)
and the prevalence/incidence CI expressions.

Reference (in /root/reference/):
- RDT flowchart: pipeline-analysis/data_prep/evaluate_rdts.R:82-135
  (ordered per-extid loop; incident_case[i] reads the *computed*
  incident_case[i-1])
- rates + CIs: pipeline-analysis/prevalence_incidence/
  prevalence_incidence.qmd:22-47

Spark-first design (100 TB):
- The flowchart's recurrence reduces to run parity, so it is two
  window passes over ONE extid exchange, all JVM-side. Only one
  branch reads incident_case[i-1]: pf Positive, pan not Positive, a
  consecutive visit, previous pf Positive and previous coartem 'yes'
  (call it A[i]); there incident[i] = NOT incident[i-1]. The row
  before a run of A rows has pf Positive and is not itself an A row,
  and every such row is incident (enrollment with pf Positive, pan
  Positive, or the pf Positive fall-through). So inside a run the
  flags alternate F, T, F, ... counted from the last non-A row:
  ``incident[i] = (idx[i] - max(idx[j] : j <= i, not A[j])) % 2 == 0``,
  which is TRUE on the non-A row itself. ``lag`` supplies the
  previous visit's fields.
- The rate/CI math is pure Column expressions (qnorm(0.975) embedded
  as a literal, like the reference's constant).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_df

#: qnorm(0.975) — the reference's CI constant.
Z975 = 1.959963984540054


def evaluate_rdts(
    df: DataFrame,
    extid_col: str = "extid",
    visit_col: str = "visit_number",
    date_col: str = "todays_date",
    pan_col: str = "pan_result",
    pf_col: str = "pf_result",
    coartem_col: str = "child_took_coartem",
) -> DataFrame:
    """W9: classify each visit as incident case / not / unknown per
    the RDT flowchart (evaluate_rdts.R:82-135), adding
    days_since_prev_visit, days_at_risk, incident_case (double,
    double, boolean) after the input columns.

    Rows are ordered per extid by visit_number. Enrollment (the first
    row) is incident iff either RDT is Positive. Later rows: pan
    Positive -> TRUE; pf Negative -> FALSE; pf Positive -> TRUE unless
    the previous visit was consecutive, pf Positive and treated
    (coartem 'yes'), where the flag flips the previous visit's; any
    other result (blank or NULL) -> unknown (NULL). The flip is
    evaluated as run parity (module docstring): one exchange on
    extid, two window passes, no Python worker.
    """
    w = Window.partitionBy(extid_col).orderBy(visit_col)
    lag = lambda c: F.lag(c).over(w)  # noqa: E731
    lagged = df.select(
        "*",
        F.datediff(F.col(date_col), lag(date_col))
        .cast("double")
        .alias("days_since_prev_visit"),
        F.row_number().over(w).alias("__idx"),
        lag(visit_col).alias("__prev_visit"),
        lag(pf_col).alias("__prev_pf"),
        lag(coartem_col).alias("__prev_coartem"),
    )
    is_ = lambda c, v: F.col(c).eqNullSafe(v)  # noqa: E731  (NULL -> FALSE)
    pan_pos, pf_pos = is_(pan_col, "Positive"), is_(pf_col, "Positive")
    treated = is_("__prev_coartem", "yes")
    flips = (
        ~pan_pos
        & pf_pos
        & F.coalesce(F.col(visit_col) == F.col("__prev_visit") + 1, F.lit(False))
        & is_("__prev_pf", "Positive")
        & treated
    )
    idx = F.col("__idx")
    last_fixed = F.max(F.when(~flips, idx)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return lagged.select(
        *[F.col(f"`{c}`") for c in df.columns],
        "days_since_prev_visit",
        (
            F.col("days_since_prev_visit")
            - F.when(treated, F.lit(14.0)).otherwise(F.lit(0.0))
        ).alias("days_at_risk"),
        F.when(idx == 1, pan_pos | pf_pos)
        .when(pan_pos, F.lit(True))
        .when(is_(pf_col, "Negative"), F.lit(False))
        .when(pf_pos, (idx - last_fixed) % 2 == 0)
        .alias("incident_case"),
    )


def incidence_rates(
    evaluated: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Prevalence + incidence-rate rollup with Wald CIs
    (prevalence_incidence.qmd:25-36) over evaluate_rdts output.

    One shuffle on the group keys; all math is post-agg expressions.
    """
    group_cols = group_cols or ["assignment", "visit_number"]
    g = evaluated.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("Children"),
        F.sum(F.when(F.col("incident_case"), 1).otherwise(0)).alias("Cases"),
        (F.sum(F.coalesce(F.col("days_at_risk"), F.lit(0.0))) / 365.25).alias(
            "Child_years_at_risk"
        ),
    )
    prev = F.col("Cases") / F.col("Children")
    cyr = F.col("Child_years_at_risk")
    inc = F.when(cyr > 0, F.col("Cases") / cyr)
    se = F.sqrt(inc / cyr)
    return g.select(
        *group_cols,
        "Children",
        "Cases",
        F.round(prev, 6).alias("Prevalence"),
        F.round(F.when(cyr > 0, cyr), 6).alias("Child_years_at_risk"),
        F.round(inc, 6).alias("Incidence"),
        F.round(inc - Z975 * se, 6).alias("Incidence_lwr"),
        F.round(inc + Z975 * se, 6).alias("Incidence_upr"),
    )


def irr_by_group(
    rates: DataFrame,
    group_col: str = "visit_number",
    assignment_col: str = "assignment",
    incidence_col: str = "Incidence",
    cases_col: str = "Cases",
) -> DataFrame:
    """Incidence-rate ratio per group across the two arms with its
    Wald CI (prevalence_incidence.qmd:37-44): IRR = prod(irr_factor)
    where arm 1 contributes 1/Incidence and arm 0 contributes
    Incidence; se = sqrt(sum(1/Cases)); bounds IRR ∓ exp(z*se).

    ``prod`` has no Spark aggregate — expressed as exp(sum(ln)), the
    SURVEY §2.7 mapping. Groups where any arm has zero cases or zero
    incidence are dropped (log undefined; the reference assumes
    positive rates).
    """
    factor = F.when(
        F.col(assignment_col) == 1, 1.0 / F.col(incidence_col)
    ).otherwise(F.col(incidence_col))
    ok = (F.col(incidence_col) > 0) & (F.col(cases_col) > 0)
    g = (
        rates.filter(ok)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("_arms"),
            F.exp(F.sum(F.log(factor))).alias("IRR_raw"),
            F.sqrt(F.sum(1.0 / F.col(cases_col))).alias("_se"),
        )
        .filter(F.col("_arms") == 2)
    )
    spread = F.exp(F.lit(Z975) * F.col("_se"))
    return g.select(
        group_col,
        F.round(F.col("IRR_raw"), 6).alias("IRR"),
        F.round(F.col("IRR_raw") / spread, 6).alias("IRR_lwr"),
        F.round(F.col("IRR_raw") * spread, 6).alias("IRR_upr"),
    )


def prevalence_incidence_report(
    evaluated: DataFrame,
    assignment_col: str = "assignment",
    visit_col: str = "visit_number",
    days_col: str = "days_at_risk",
) -> DataFrame:
    """The COMPOSED prevalence/incidence report
    (prevalence_incidence.qmd:25-56) in one output table: per-
    (assignment, visit) Children/Cases/Prevalence with the
    visit-over-visit prevalence change, child-years at risk, incidence
    with Wald CI, the per-visit IRR across the two arms, and the
    cumulative (visit > 1) cases / child-years / incidence-CI /
    cumulative-IRR block — the full analysis table the reference
    renders, not just its class-representative pieces.

    Determinism note (cross-engine oracle): cumulative child-years are
    computed as (running sum of exact day totals) / 365.25 — ONE
    division of an exact integer-valued double sum — rather than the
    reference's cumsum of per-visit quotients, whose FP association
    order is engine-dependent in the last ulp. Semantics identical.

    Scale shape: one shuffle to (assignment, visit) grain — a tiny
    aggregate table (arms x visits) — then windows/joins over that
    driver-sized frame. The 100 TB cost is the first groupBy only.
    """
    from pyspark.sql import Window

    g = evaluated.groupBy(assignment_col, visit_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("Children"),
        F.sum(F.when(F.col("incident_case"), 1).otherwise(0))
        .cast("bigint")
        .alias("Cases"),
        F.sum(F.coalesce(F.col(days_col), F.lit(0.0))).alias("_days"),
    )
    cyr = F.col("_days") / 365.25
    inc = F.when(cyr > 0, F.col("Cases") / cyr)
    se = F.sqrt(inc / cyr)
    rates = g.select(
        assignment_col,
        visit_col,
        "Children",
        "Cases",
        "_days",
        (F.col("Cases") / F.col("Children")).alias("_prev"),
        cyr.alias("_cyr"),
        inc.alias("_inc"),
        F.round(inc - Z975 * se, 6).alias("Incidence_lwr"),
        F.round(inc + Z975 * se, 6).alias("Incidence_upr"),
    )
    w = Window.partitionBy(assignment_col).orderBy(visit_col)
    lagp = F.lag("_prev").over(w)
    rates = rates.withColumn(
        "Prevalence_change_pct",
        F.when(lagp > 0, F.round(100.0 * (F.col("_prev") - lagp) / lagp, 2)),
    )

    # per-visit IRR across arms, from the 6-dp-rounded incidence (same
    # contract as irr_by_group; prod == exp(sum(ln)))
    irr = irr_by_group(
        rates.select(
            assignment_col,
            visit_col,
            "Cases",
            F.round(F.col("_inc"), 6).alias("Incidence"),
        ),
        group_col=visit_col,
        assignment_col=assignment_col,
    )

    # cumulative (visit > 1) block: exact running day/case sums, one
    # division at the end
    cw = w.rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        rates.filter(F.col(visit_col) > 1)
        .select(
            assignment_col,
            visit_col,
            F.sum("Cases").over(cw).cast("bigint").alias("cumulative_cases"),
            F.sum("_days").over(cw).alias("_cum_days"),
        )
    )
    ct = F.col("_cum_days") / 365.25
    cinc = F.when(ct > 0, F.col("cumulative_cases") / ct)
    cse = F.sqrt(cinc / ct)
    cum = cum.select(
        assignment_col,
        visit_col,
        "cumulative_cases",
        F.round(ct, 6).alias("cumulative_time"),
        F.round(cinc, 6).alias("cumulative_incidence"),
        F.round(cinc - Z975 * cse, 6).alias("cumulative_incidence_lwr"),
        F.round(cinc + Z975 * cse, 6).alias("cumulative_incidence_upr"),
    )
    cum_irr = irr_by_group(
        cum.select(
            assignment_col,
            visit_col,
            F.col("cumulative_cases").alias("Cases"),
            F.col("cumulative_incidence").alias("Incidence"),
        ),
        group_col=visit_col,
        assignment_col=assignment_col,
    ).select(
        visit_col,
        F.col("IRR").alias("cumulative_IRR"),
        F.col("IRR_lwr").alias("cumulative_IRR_lwr"),
        F.col("IRR_upr").alias("cumulative_IRR_upr"),
    )

    out = (
        rates.select(
            assignment_col,
            visit_col,
            "Children",
            "Cases",
            F.round(F.col("_prev"), 6).alias("Prevalence"),
            "Prevalence_change_pct",
            F.round(F.when(cyr > 0, F.col("_cyr")), 6).alias(
                "Child_years_at_risk"
            ),
            F.round(F.col("_inc"), 6).alias("Incidence"),
            "Incidence_lwr",
            "Incidence_upr",
        )
        .join(F.broadcast(irr), visit_col, "left")
        .join(F.broadcast(cum), [assignment_col, visit_col], "left")
        .join(F.broadcast(cum_irr), visit_col, "left")
    )
    return out


def numeric_profile(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    quantiles: Sequence[float] = (0.5, 0.95),
    approx: bool = False,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Distribution profile of a numeric column, optionally per group:
    count, min, max, mean, sample stddev, and quantiles — the
    data-profiling pass a pipeline runs before setting quality-filter
    thresholds (token-count or price distributions).

    ``approx=False`` (default): exact interpolated quantiles
    (F.percentile) — sorts values inside the aggregate, oracle-exact.
    ``approx=True``: percentile_approx (Greenwald-Khanna sketch,
    rank error <= 1/approx_accuracy) — one streaming pass with bounded
    memory, the 100 TB path; an exact-match oracle is impossible by
    design, so the error bound is golden-tested instead.
    """
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min(value_col), 4).alias("vmin"),
        F.round(F.max(value_col), 4).alias("vmax"),
        F.round(F.avg(value_col), 4).alias("vmean"),
        F.round(F.stddev_samp(value_col), 4).alias("vstddev"),
    ]
    # name by the exact quantile value ("p99_9" for 0.999) — rounding
    # to whole percents collides (0.995 and 0.999 would both be "p100").
    # Single-digit integer percents keep their historical zero padding
    # ("p05"); '-' (scientific notation for extreme q) maps to 'm' so
    # names stay valid identifiers.
    def _qname(q: float) -> str:
        s = format(q * 100, "g")
        if s.isdigit() and len(s) == 1:
            s = "0" + s
        return "p" + s.replace(".", "_").replace("-", "m")

    names = [_qname(q) for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantiles produce colliding columns: {names}")
    for q, name in zip(quantiles, names):
        if approx:
            qcol = F.percentile_approx(value_col, F.lit(q), F.lit(approx_accuracy))
        else:
            qcol = F.percentile(value_col, F.lit(q))
        aggs.append(F.round(qcol, 4).alias(name))
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def build_distinct_sketches(
    df: DataFrame,
    value_col: str,
    bucket_cols: Sequence[str],
    lg_k: int = 12,
) -> DataFrame:
    """Pre-aggregated mergeable distinct-count sketches: one Apache
    DataSketches HLL per bucket (e.g. per day, per form). The 100 TB
    pattern for "distinct users over ANY date range": scan the corpus
    ONCE to build per-bucket sketches (a few KB each), persist them,
    and answer every later range query by merging sketches — no
    rescan, and sketch-of-union == union-of-sketches by construction
    (golden-tested), which plain approx_count_distinct results can
    never give (estimates don't add).
    """
    return df.groupBy(*bucket_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )


def estimate_distinct_over(
    sketches: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge stored sketches (optionally re-grouped onto coarser keys
    — day sketches to month estimates, per-form to global) and
    estimate the distinct count of the UNION of their buckets."""
    agg = F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias("n_distinct")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(agg)
    return sketches.agg(agg)


# ---------------------------------------------------------------------------
# Count-min sketch store: mergeable approximate frequencies.
# Companion to the HLL distinct-count store above — HLL answers "how
# many distinct", CMS answers "how often does THIS key occur" without
# storing per-key counts. depth x width counters; estimate = min over
# rows; one-sided error (never underestimates), eps = e/width with
# probability 1 - e^-depth.
#
# Hashes are the repo's portable md5-prefix family (sampling.py), so
# the ENTIRE estimate is reproducible in ANSI SQL — the registered
# oracle recomputes the sketch and the min-over-depth estimate
# value-for-value, unlike opaque binary sketch blobs.
# ---------------------------------------------------------------------------


def _cms_idx(key: Column, width: int, depth_i: int, seed: int) -> Column:
    """Portable counter index: first 8 md5 hex chars of "<key>|cms<seed>_<i>"
    as a 32-bit unsigned int, mod width. DuckDB mirror:
    CAST('0x' || substring(md5(k || '|cms<seed>_<i>'), 1, 8) AS BIGINT) % width."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f"|cms{seed}_{depth_i}"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width))


def build_cms(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 7,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a sparse count-min sketch ``(d, idx, cnt)`` over
    ``df[key_col]`` (optionally weighted). NULL keys are skipped.

    One pass: posexplode the depth indices, then groupBy(d, idx) SUM.
    Map-side combine collapses every scan partition to at most
    depth*width rows before the shuffle — like the bloom build, the
    shuffle volume is O(partitions * depth * width), independent of
    row count. The sketch itself is <= depth*width rows: persist it
    per day/source and answer later frequency queries by merging,
    no rescan (same contract as build_distinct_sketches).
    """
    key = F.col(key_col)
    idxs = F.array(*[_cms_idx(key, width, i, seed) for i in range(depth)])
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.filter(key.isNotNull())
        .select(F.posexplode(idxs).alias("d", "idx"), w.alias("w"))
        .groupBy("d", "idx")
        .agg(F.sum("w").cast("long").alias("cnt"))
    )


def merge_cms(*sketches: DataFrame) -> DataFrame:
    """Union-of-sketches: elementwise counter sum. Exactly equals the
    sketch built over the union of the inputs (same width/depth/seed —
    caller invariant, as in bloom.merge_blooms)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "idx").agg(F.sum("cnt").cast("long").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 7,
    out_col: str = "est_n",
) -> DataFrame:
    """Attach the CMS frequency estimate (min over depth rows) to every
    probe row. The sketch collapses to one broadcast map row keyed by
    d*width+idx (<= depth*width entries); probes stream through with
    ``element_at`` lookups — zero shuffles on the probe side.
    Guarantee: ``est >= true count`` for every key the sketch saw.
    """
    key = F.col(key_col)
    m = sketch.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("d") * width + F.col("idx")).cast("long").alias("k"), F.col("cnt")
                )
            )
        ).alias("__cms_map")
    )
    est = F.least(
        *[
            F.coalesce(
                F.element_at(
                    F.col("__cms_map"),
                    (F.lit(i) * width + _cms_idx(key, width, i, seed)).cast("long"),
                ),
                F.lit(0).cast("long"),
            )
            for i in range(depth)
        ]
    )
    return probes.join(F.broadcast(m)).withColumn(out_col, est).drop("__cms_map")


# ---------------------------------------------------------------------------
# Survival analysis + categorical association — the epi-analysis pack's
# classic estimators (the reference's domain is a malaria trial; its
# incidence/prevalence math lives above in incidence_rates/irr_by_group;
# Kaplan-Meier and chi-square are the companion analyses every such
# trial reports).
# ---------------------------------------------------------------------------


def build_quantile_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
    by: Sequence[str] = (),
) -> DataFrame:
    """Mergeable fixed-bin quantile sketch ``(bin, cnt)``: a
    deterministic histogram over ``[lo, hi)`` with underflow bin ``-1``
    and overflow bin ``n_bins``. NULLs are skipped.

    The streaming/incremental percentile primitive: persist one sketch
    per day/source (≤ ``n_bins + 2`` rows each), answer later quantile
    queries over ANY union of them by counter-summing
    (:func:`merge_quantile_sketches`) — no rescan of 100 TB of history.
    Unlike ``percentile_approx`` state, the sketch is a plain
    DataFrame: it survives in parquet, merges exactly (sum of counters
    is EXACTLY the sketch of the union — property-tested), and its
    error is a hard bound you chose up front: answers are bin upper
    edges, so in-range quantiles are off by at most ``(hi-lo)/n_bins``.

    One pass, map-side combine: the shuffle carries at most
    ``partitions × (n_bins+2)`` rows (× group count with ``by``),
    independent of row count — the same contract as :func:`build_cms`
    / ``build_distinct_sketches``. ``by`` keys the sketch per group
    (per-source/day percentile monitoring); every reader takes the
    same ``by``.
    """
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    v = F.col(value_col).cast("double")
    width = (hi - lo) / n_bins
    b = (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(n_bins))
        .otherwise(F.floor((v - lo) / width).cast("int"))
    )
    return (
        df.filter(v.isNotNull())
        .select(*by, b.cast("int").alias("bin"))
        .groupBy(*by, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def merge_quantile_sketches(*sketches: DataFrame) -> DataFrame:
    """Counter sum — exactly the sketch of the union of the inputs
    (same lo/hi/n_bins/by: caller invariant, as in merge_cms). Grouped
    sketches merge per group (all non-cnt columns key the sum)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("cnt"))


def sketch_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    by: Sequence[str] = (),
) -> DataFrame:
    """Quantiles from a :func:`build_quantile_sketch` sketch: for each
    ``q`` the upper edge of the first bin whose cumulative count
    reaches ``ceil(q * n)`` — a DETERMINISTIC answer (ties and all)
    both engines reproduce bit-for-bit, with error ≤ one bin width
    for in-range data. Underflow answers ``lo`` (the true quantile is
    below the sketch range), overflow answers ``hi`` (above it) —
    range misconfiguration is visible, not silent.

    The sketch is ≤ ``n_bins + 2`` rows per group, so the cumulative
    window and the quantile probe join are metadata-sized; nothing
    here touches the original data. With ``by``, answers come back
    per group (pass the SAME ``by`` the sketch was built with).
    """
    from pyspark.sql import Window

    # mirror build_quantile_sketch's loud input guards: q=0 would match
    # every cumulative count (ceil(0*n)=0 -> lowest occupied bin's
    # upper edge, not lo), q>1 falls off the cumulative curve into a
    # null-bin row — both silent wrong answers without this check
    for q in qs:
        if not 0 < q <= 1:
            raise ValueError(f"quantile probes must be in (0, 1], got {q}")
    by = list(by)
    width = (hi - lo) / n_bins
    cum = sketch.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy(*by)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).select(*[F.col(c).alias(f"__g_{c}") for c in by], "bin", "cum")
    total = sketch.groupBy(*by).agg(F.sum("cnt").cast("long").alias("n"))
    probes = local_df(
        sketch.sparkSession, [(float(q),) for q in qs], "q DOUBLE"
    ).crossJoin(F.broadcast(total))
    cond = F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    for c in by:
        cond = cond & (F.col(c) == F.col(f"__g_{c}"))
    picked = (
        probes.join(F.broadcast(cum), cond, "left")
        .groupBy("q", *by, "n")
        .agg(F.min("bin").alias("bin"))
    )
    val = (
        F.when(F.col("bin") == -1, F.lit(float(lo)))
        .when(F.col("bin") == n_bins, F.lit(float(hi)))
        .otherwise(F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width))
    )
    return picked.select(
        "q",
        *by,
        F.round(val, 9).alias("approx_value"),
        F.col("n").alias("n_rows"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: Sequence[str] = (),
    out_round: int | None = None,
) -> DataFrame:
    """Kaplan-Meier survival estimator, exactly and distributedly:
    one row per (group, event time) with the at-risk count, event
    count, and the survival probability

        S(t) = prod over event times u <= t of (1 - d_u / n_u)

    ``event_col`` is 1 for an observed event, 0 for right-censoring.
    Censored subjects leave the risk set at their duration but
    contribute no factor — the estimator's whole point.

    With empty ``group_cols`` the windows run unpartitioned (one
    reducer over the DISTINCT DURATIONS — fine, that's time
    cardinality, not subject cardinality; pass groups when curves are
    per-arm anyway).

    Plan: one groupBy(duration) per group (d and leaving counts in one
    pass), then two windows over the time-ordered per-group rows
    (cumulative leavers -> n_at_risk; cumulative sum of ln factors ->
    S(t) via exp). The product is exp(sum(ln)) — the same
    prod-via-log trick as the scalar math pack, and the reason the
    whole estimator is a plain window plan that any SQL engine can
    mirror. Shuffles on (group, duration) only; time cardinality per
    group is bounded by distinct durations, so windows stay small
    even at 100 TB of subjects.
    """
    from pyspark.sql import Window

    g = list(group_cols)
    ev = F.col(event_col).cast("double")
    per_t = df.groupBy(*g, F.col(duration_col).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("n_leaving"),
        F.sum(ev).cast("long").alias("d"),
    )
    totals = df.groupBy(*g).agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    joined = per_t.join(F.broadcast(totals), g) if g else per_t.join(F.broadcast(totals))
    w_order = Window.partitionBy(*[F.col(c) for c in g]).orderBy("t")
    prior_leavers = F.coalesce(
        F.sum("n_leaving").over(w_order.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    at_risk = (F.col("n_total") - prior_leavers).alias("n_risk")
    stepped = joined.select(*g, "t", "n_leaving", "d", at_risk)
    # ln(1 - d/n) at event times; 0 contribution elsewhere. d == n
    # (everyone at risk dies at t) needs an explicit -inf: Spark's
    # ln(0) is NULL (silently DROPPED by the window SUM — survival
    # would stay positive), DuckDB's is -inf. -inf sums to -inf and
    # exp(-inf) == 0.0 exactly in both engines; no event times can
    # follow in that group (the risk set is empty), so the terminal 0
    # is the only affected row.
    factor = (
        F.when(F.col("d") >= F.col("n_risk"), F.lit(float("-inf")))
        .when(F.col("d") > 0, F.log(1.0 - F.col("d") / F.col("n_risk")))
        .otherwise(F.lit(0.0))
    )
    surv = F.exp(
        F.sum(factor).over(w_order.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = (
        stepped.withColumn("survival", surv)
        .filter(F.col("d") > 0)  # report at event times (KM convention)
        .select(*g, "t", "n_risk", "d", "survival")
    )
    if out_round is not None:
        out = out.withColumn("survival", F.round("survival", out_round))
    return out


def chisq_independence(
    df: DataFrame, a_col: str, b_col: str, out_round: int | None = None
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: one row (chi2, dof, n). Expected counts from the margin
    product; dof = (|A|-1)(|B|-1). Pure aggregations — the observed
    table shuffles once on (a, b), margins broadcast back. (No p-value
    on purpose: that needs the chi-square CDF, which is neither an
    expression in Spark nor portable; downstream R/scipy owns it —
    like the reference reports test statistics into Rmd.)
    """
    obs = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).cast("double").alias("o"))
    row_m = obs.groupBy(a_col).agg(F.sum("o").alias("ra"))
    col_m = obs.groupBy(b_col).agg(F.sum("o").alias("cb"))
    tot = obs.agg(F.sum("o").alias("n"))
    # full |A| x |B| grid (margin cross join — category-sized, tiny):
    # zero-observed cells still contribute (0-e)^2/e = e to the
    # statistic; summing observed cells only would understate chi2.
    grid = row_m.crossJoin(F.broadcast(col_m))
    e = (
        grid.join(obs, [a_col, b_col], "left")
        .withColumn("o", F.coalesce("o", F.lit(0.0)))
        .join(F.broadcast(tot))
        .withColumn("e", F.col("ra") * F.col("cb") / F.col("n"))
    )
    out = e.agg(
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")).alias("chi2"),
        ((F.countDistinct(a_col) - 1) * (F.countDistinct(b_col) - 1))
        .cast("long")
        .alias("dof"),
        F.max("n").cast("long").alias("n"),
    )
    if out_round is not None:
        out = out.withColumn("chi2", F.round("chi2", out_round))
    return out


# ---------------------------------------------------------------------------
# Bitmap distinct-count index: EXACT mergeable distinct counting for
# dense integer keys — the third member of the sketch-store family
# (HLL: approximate distinct; CMS: approximate frequency; bitmap:
# exact distinct when the key space is dense integers, e.g. surrogate
# user ids). Classic OLAP bitmap-index aggregation.
# ---------------------------------------------------------------------------


def build_bitmap_index(
    df: DataFrame,
    key_col: str,
    bucket_cols: Sequence[str],
) -> DataFrame:
    """Per-bucket bitmaps over a non-negative integer key: rows
    ``(*bucket_cols, word_idx, word)`` where bit ``key % 64`` of the
    ``key div 64``-th word is set. One groupBy with map-side bit_or
    combine — shuffle volume O(partitions x buckets x distinct words),
    independent of row count (same argument as bloom.bloom_words, but
    EXACT because the identity mapping has no collisions).

    Persist per day/source and answer any later union/intersection
    distinct-count by merging words — no rescan, and exactness
    survives merging (union-of-bitmaps == bitmap-of-union by
    construction, unlike resummed COUNT(DISTINCT) results).
    """
    key = F.col(key_col)
    return (
        df.filter(key.isNotNull() & (key >= 0))
        .select(
            *bucket_cols,
            F.expr(f"CAST({key_col} / 64 AS BIGINT)").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({key_col}, 64) AS INT))"
            ).alias("mask"),
        )
        .groupBy(*bucket_cols, "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bitmap_distinct_over(
    bitmaps: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT distinct count of the union of buckets, from stored
    bitmaps (optionally re-grouped onto coarser keys): OR the words
    per (group, word_idx), then sum popcounts. Two narrow
    aggregations over word rows — never touches the fact table."""
    g = list(group_cols)
    ored = bitmaps.groupBy(*g, "word_idx").agg(F.bit_or("word").alias("word"))
    agg = F.sum(F.bit_count("word")).cast("long").alias("n_distinct")
    if g:
        return ored.groupBy(*g).agg(agg)
    return ored.agg(agg)


def bitmap_intersect_over(
    bitmaps: DataFrame,
    set_col: str,
    set_a,
    set_b,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT distinct count of keys present in BOTH named bucket sets
    — audience overlap ("users who did A and also B") straight from
    stored bitmaps: OR words within each side, AND across sides, sum
    popcounts. Set algebra on bitmaps is the whole point of the
    index: HLL sketches cannot intersect without error blowup, but
    AND of exact bitmaps is exact.
    """
    g = list(group_cols)
    a = (
        bitmaps.filter(F.col(set_col) == set_a)
        .groupBy(*g, "word_idx")
        .agg(F.bit_or("word").alias("wa"))
    )
    b = (
        bitmaps.filter(F.col(set_col) == set_b)
        .groupBy(*g, "word_idx")
        .agg(F.bit_or("word").alias("wb"))
    )
    both = a.join(b, [*g, "word_idx"]).select(
        *g, F.col("wa").bitwiseAND(F.col("wb")).alias("word")
    )
    agg = F.sum(F.bit_count("word")).cast("long").alias("n_both")
    if g:
        return both.groupBy(*g).agg(agg)
    return both.agg(agg)


# ---------------------------------------------------------------------------
# Distribution drift: Population Stability Index (PSI)
# ---------------------------------------------------------------------------


def population_stability(
    base: DataFrame,
    cur: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-4,
    scale: int = 100,
    bucket_mode: str = "width",
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    snapshot of a numeric column — the standard drift gate for model
    features and corpus statistics (PSI < 0.1 stable, 0.1-0.25 watch,
    > 0.25 drifted).

    ``bucket_mode='width'``: equi-width buckets from the BASELINE
    min/max (current values outside the baseline range clamp into the
    edge buckets, the convention that makes new-range drift visible as
    edge-bucket mass). ``bucket_mode='quantile'``: equal-frequency
    buckets at baseline order statistics — the textbook PSI
    formulation, robust to heavy tails (an equi-width bucketing of a
    log-normal feature parks 99% of mass in bucket 0). Cuts are TRUE
    order statistics computed with integer ranks (``ceil(i*N/nb)`` as
    ``(i*N + nb - 1) DIV nb``), never interpolated floats — so the
    whole statistic stays engine-exact in quantile mode too. Heavy
    ties can merge adjacent cuts (some buckets legitimately empty; the
    eps guard covers them).

    Bucket math is integer end-to-end in BOTH modes: values are scaled
    to integer units (``scale``, e.g. cents) and bucket indexes come
    from integer multiply-divides or integer-cut comparisons — float
    boundary ulps can't flip a row's bucket, cross-engine or
    cross-run. ``eps`` guards empty-bucket shares before the
    log-ratio (the standard PSI zero-share convention).

    Quantile-mode scale note: the cut derivation runs a cumulative
    window over the DISTINCT baseline values — bounded by value
    cardinality, not row count (quantized features keep this small;
    same single-partition-over-distincts shape as the weighted-median
    query, with the same caveat in its plan).

    Scale notes (100 TB): two scans (one per snapshot), each feeding a
    map-side-combined ``n_buckets``-group aggregate; the baseline
    bounds are a 1-row broadcast; the bucket scaffold/share math runs
    on ``n_buckets`` rows of driver-size data. Engine-portability:
    per-bucket terms are quantized to integer micro-units before the
    grand total so the PSI sum is exact integer addition, immune to
    float summation order (hazards #1-#3 in SCALING.md).

    Returns one row per bucket: (bucket, n_base, n_cur, p, q,
    psi_term, psi_total) — psi_total repeated on every row.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if bucket_mode not in ("width", "quantile"):
        raise ValueError(
            f"bucket_mode must be 'width' or 'quantile', got {bucket_mode!r}"
        )
    spark = base.sparkSession

    def cents(df: DataFrame) -> DataFrame:
        return df.select(
            F.round(F.col(col) * scale, 0).cast("bigint").alias("c")
        ).filter(F.col("c").isNotNull())

    b, c = cents(base), cents(cur)

    if bucket_mode == "width":
        bounds = b.agg(
            F.min("c").alias("minc"), F.max("c").alias("maxc")
        )

        def bucketed(df: DataFrame) -> DataFrame:
            # (c - minc) * nb DIV span, clamped. DIV truncates toward
            # zero in Spark but floors in DuckDB for negative
            # numerators — the GREATEST(0, ...) clamp absorbs the
            # divergence (both engines land at 0 below-range).
            return (
                df.crossJoin(F.broadcast(bounds))
                .withColumn(
                    "bucket",
                    F.least(
                        F.lit(n_buckets - 1),
                        F.greatest(
                            F.lit(0),
                            F.expr(
                                f"CAST((c - minc) * {n_buckets} DIV (maxc - minc + 1) AS INT)"
                            ),
                        ),
                    ),
                )
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )

    else:
        # quantile cuts as exact order statistics, integer ranks only:
        # cut_i = smallest value with at least ceil(i*N/nb) baseline
        # rows at-or-below it. One groupBy on the value + a cumulative
        # window over DISTINCT values (cardinality-bounded).
        from pyspark.sql import Window as _W

        cnts = b.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        tot = cnts.agg(F.sum("n").alias("base_total"))
        cum = cnts.withColumn(
            "cum",
            F.sum("n").over(
                _W.orderBy("c").rowsBetween(_W.unboundedPreceding, 0)
            ),
        )
        pos = spark.range(1, n_buckets).select(F.col("id").alias("i"))
        cuts = (
            cum.crossJoin(F.broadcast(pos))
            .crossJoin(F.broadcast(tot))
            .filter(
                F.col("cum")
                >= F.expr(f"(i * base_total + {n_buckets} - 1) DIV {n_buckets}")
            )
            .groupBy("i")
            .agg(F.min("c").alias("cut"))
        )
        cut_arr = cuts.agg(F.array_sort(F.collect_list("cut")).alias("cuts"))

        def bucketed(df: DataFrame) -> DataFrame:
            # bucket = number of cuts strictly below the value — pure
            # integer comparisons against a broadcast 1-row cut array.
            # BOUNDED HOF (tests/test_hof_inventory.py): the filter
            # lambda runs over the CUT array (≤ n_buckets−1 elements,
            # default 9 — never data-sized), so interpreted work per
            # row is a constant ~n_buckets compares; the native
            # alternative (explode cuts + join + count) would inflate
            # the scan n_buckets× through a shuffle. Measured: psi_*
            # entries scale at slope ≤0.42 (BENCH_scale_r06/r07).
            return (
                df.crossJoin(F.broadcast(cut_arr))
                .withColumn(
                    "bucket",
                    F.size(
                        F.filter(F.col("cuts"), lambda x: x < F.col("c"))
                    ).cast("int"),
                )
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )

    nb = bucketed(b).withColumnRenamed("n", "n_base")
    nc = bucketed(c).withColumnRenamed("n", "n_cur")
    scaffold = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    full = (
        scaffold.join(F.broadcast(nb), "bucket", "left")
        .join(F.broadcast(nc), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    w = Window.partitionBy(F.lit(1))
    shares = full.select(
        "bucket",
        "n_base",
        "n_cur",
        (F.col("n_base") / F.sum("n_base").over(w)).alias("p_raw"),
        (F.col("n_cur") / F.sum("n_cur").over(w)).alias("q_raw"),
    )
    padj = F.greatest(F.col("p_raw"), F.lit(float(eps)))
    qadj = F.greatest(F.col("q_raw"), F.lit(float(eps)))
    term = (padj - qadj) * F.log(padj / qadj)
    # quantize each term to integer micro-units BEFORE summing: the
    # grand total becomes exact integer addition (order-invariant and
    # engine-portable); ROUND-then-CAST because a bare bigint cast
    # truncates in Spark but rounds in DuckDB
    termed = shares.withColumn(
        "term_u", F.round(term * 1_000_000, 0).cast("bigint")
    )
    return termed.select(
        "bucket",
        "n_base",
        "n_cur",
        F.round("p_raw", 6).alias("p"),
        F.round("q_raw", 6).alias("q"),
        (F.col("term_u") / 1_000_000).alias("psi_term"),
        (F.sum("term_u").over(w) / 1_000_000).alias("psi_total"),
    )
