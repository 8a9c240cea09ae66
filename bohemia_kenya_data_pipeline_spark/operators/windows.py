"""Window / ordered / sequential operators (SURVEY §2.5, J10).

All are single-shuffle window plans: one hash-partition on the group
keys, sort within partition — no driver loops, no collect. At 100 TB
these scale with the number of distinct keys; skewed keys are handled
by AQE (enabled in session.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _desc_keys(order_by: Sequence[str | Column], descending: bool) -> list[Column]:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    return [c.desc() for c in cols] if descending else cols


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    keep: str = "last",
) -> DataFrame:
    """Keep the newest (or oldest) row per key — J10/W5/W6.

    Reference patterns: grouped ``max(end_time)`` filter
    (00.store_se_goals.R:552-556), ``slice_tail`` keep-last duplicate
    resolution (processing_utils.R:242-246), ``arrange(desc) %>%
    distinct(.keep_all=TRUE)`` (efficacy_status...Rmd:143-148).

    The reference relies on file row order for ties; we require an
    explicit total order (SURVEY §7.4.2) — pass tiebreaker columns in
    ``order_by``.
    """
    w = Window.partitionBy(*keys).orderBy(*_desc_keys(order_by, keep == "last"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fill_down(
    df: DataFrame,
    cols: Sequence[str],
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """tidyr::fill(.direction='down') per group — W4
    (00.store_se_goals.R:307-312): last non-null value so far."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*_desc_keys(order_by, False))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def with_group_count(df: DataFrame, keys: Sequence[str], out_col: str = "n") -> DataFrame:
    """group_by + mutate(n = n()) — A5, duplication detection
    (anomalies_utils.R:10-14). Window count, no second join."""
    return df.withColumn(out_col, F.count(F.lit(1)).over(Window.partitionBy(*keys)))


def cumulative_sum(
    df: DataFrame,
    value: str | Column,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    out_col: str = "cumsum",
) -> DataFrame:
    """Running total — W3 (prevalence_incidence.qmd:54-56).

    SCALE GUARD: an empty ``partition_by`` makes this a single-task
    global window — acceptable only on already-aggregated frames
    (e.g. ~100 monthly rows), never on raw fact data. Partition by a
    real key (or pre-aggregate) before cumulating at scale.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*_desc_keys(order_by, False))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value) if isinstance(value, str) else value
    return df.withColumn(out_col, F.sum(v).over(w))


def explode_by_count(df: DataFrame, count_col: str, ordinal_col: str = "ordinal") -> DataFrame:
    """tidyr::uncount — W8 (ento_lab_templates.Rmd:197): replicate each
    row ``count_col`` times with a 1-based ordinal. Rows with count<=0
    or NULL are dropped (uncount semantics)."""
    c = F.col(count_col).cast("int")
    return (
        df.filter(c.isNotNull() & (c > 0))
        .withColumn(ordinal_col, F.explode(F.sequence(F.lit(1), c)))
    )


def asof_snapshots(
    df: DataFrame,
    ts_col: str,
    start: Column,
    stop: Column,
    step: str = "interval 1 week",
    snapshot_col: str = "run_date",
) -> DataFrame:
    """As-of snapshot expansion — W10 (create_snapshot_tbl,
    icf.Rmd:100-113): for each date d in [start, stop] by ``step``,
    emit all rows with ts <= d tagged run_date=d.

    The reference loops over dates; here it's one set-based plan:
    a 1-row date-sequence frame exploded then range-joined. The
    multiplicative blowup is bounded by pruning on ts <= stop before
    the join (SURVEY §7.4.6); downstream writes should partition on
    ``snapshot_col``.
    """
    spark = df.sparkSession
    dates = spark.range(1).select(
        F.explode(F.sequence(start, stop, F.expr(step))).alias(snapshot_col)
    )
    pruned = df.filter(F.col(ts_col).cast("date") <= stop)
    return pruned.join(dates, F.col(ts_col).cast("date") <= F.col(snapshot_col))


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    session_col: str = "session_id",
    order_tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the user's previous event exceeds ``gap_minutes``.

    Classic lag + cumsum-of-boundaries plan — one shuffle on user_col.
    Pass ``order_tiebreakers`` (e.g. the event id) so the plan stays
    deterministic when a user has duplicate timestamps.
    (Scale-pack operator: not in the reference, standard for event
    logs / training-data pipelines.)
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, *order_tiebreakers)
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = (
        prev.isNull()
        | ((F.col(ts_col).cast("long") - prev.cast("long")) > gap_minutes * 60)
    ).cast("int")
    return df.withColumn("__new", is_new).withColumn(
        session_col, F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__new")


def seeded_shuffle_sample(
    df: DataFrame,
    keys: Sequence[str],
    n: int,
    seed: int = 1001,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Stratified seeded sample of n rows per group — W11
    (randomize.R:64-88). With ``order_tiebreak`` (a unique row key)
    the shuffle order is ``hash(tiebreak, seed)`` — fully
    deterministic regardless of partitioning, the property Spark's
    per-partition-seeded rand(seed) cannot give. Without it, falls
    back to rand(seed): distributional parity only (SURVEY §4.1)."""
    if order_tiebreak:
        order = [F.hash(F.col(order_tiebreak), F.lit(seed)), F.col(order_tiebreak)]
    else:
        order = [F.rand(seed)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    partition_cols: Sequence[str],
    max_tokens: int,
    out_col: str = "chunk_id",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign rows (documents) to fixed-token-budget training chunks:
    within each partition, walk rows in ``order_col`` order and start a
    new chunk every time the running token total crosses a multiple of
    ``max_tokens`` — the deterministic, order-preserving form of
    sequence packing for LLM training shards.

    chunk_id = floor((cumsum_inclusive - own_tokens) / max_tokens), i.e.
    a document lands in the chunk its *starting* offset falls in; a
    document longer than the budget spills into its own chunk(s) by the
    same rule. Adds ``cum_tokens`` (inclusive running total) and
    ``out_col``.

    PRECONDITION: ``order_col`` (plus ``tiebreak_cols``) must be
    unique within each partition — with ties the running sum over a
    rowsBetween frame is partition-layout-dependent and shard
    assignment stops being reproducible, which is the operator's whole
    point. Pass the doc id as a tiebreak when the sort key can repeat
    (e.g. ordering by timestamp).

    Scale: one shuffle on ``partition_cols`` (the window), everything
    else is scan-local; at 100 TB partition by shard/source so no
    single window partition is unbounded.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col, *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col).cast("bigint")).over(w)
    return df.withColumn("cum_tokens", cum).withColumn(
        out_col,
        F.floor((F.col("cum_tokens") - F.col(token_col)) / F.lit(max_tokens)).cast(
            "bigint"
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    matched_ts_col: str = "asof_ts",
) -> DataFrame:
    """Generic as-of join (pandas ``merge_asof`` / DuckDB ``ASOF JOIN``
    semantics): for every left row, attach ``value_cols`` from the
    single right row with the largest ``right_ts`` <= ``left_ts``
    (direction='backward', inclusive) or the smallest >= (forward),
    within the same ``by`` keys. Unmatched left rows keep NULLs
    (left-join contract); ``matched_ts_col`` carries the matched right
    timestamp. ``tolerance_seconds`` voids matches farther than the
    bound (match ts AND values null out together).

    Scale-first plan — union + fill-down, NOT a range join: a range-
    predicate join explodes to (left × right-rows-before) candidate
    pairs per key before picking the max; skewed keys make that
    quadratic. Here both sides union into one stream, one shuffle on
    ``by``, and a running last-non-null window fills each left row
    from the nearest preceding right row — O(n log n) per key with no
    pair blowup, the same discipline as the sessionizer. At 100 TB:
    the window's sort rides the union's single exchange; AQE handles
    moderate key skew, and a giant key degrades to its own sorted
    partition, never to a pair explosion.

    CONTRACT: right must be unique per (by, right_ts) — pre-aggregate
    duplicates (e.g. keep-last) or the filled value is the union
    sort's tiebreak pick, not a defined winner. Matches DuckDB ASOF
    (which is likewise ambiguous under duplicate right timestamps).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    by = list(by)
    vals = list(value_cols)
    for c in (matched_ts_col, "_is_left"):
        if c in left.columns:
            raise ValueError(f"left already has a column named {c!r}")
    r = right.select(
        *by,
        F.col(right_ts).alias(matched_ts_col),
        *[F.col(v).alias(f"_r_{v}") for v in vals],
        F.lit(0).alias("_is_left"),
    )
    keep = [c for c in left.columns]
    l_ = left.select(
        *keep,
        F.lit(None).cast(r.schema[matched_ts_col].dataType).alias(matched_ts_col),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_r_{v}") for v in vals],
        F.lit(1).alias("_is_left"),
    )
    # right rows sort BEFORE left rows at equal ts (backward) so the
    # at-or-before match is inclusive; forward mirrors with desc order
    ts_order = F.col("_ts_u") if direction == "backward" else F.col("_ts_u").desc()
    u = (
        l_.unionByName(r.withColumns({c: F.lit(None).cast(left.schema[c].dataType) for c in keep if c not in by + [matched_ts_col]}), allowMissingColumns=True)
        .withColumn(
            "_ts_u",
            F.when(F.col("_is_left") == 1, F.col(left_ts)).otherwise(
                F.col(matched_ts_col)
            ),
        )
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_order, F.col("_is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumns(
        {
            matched_ts_col: F.last(matched_ts_col, ignorenulls=True).over(w),
            **{f"_r_{v}": F.last(f"_r_{v}", ignorenulls=True).over(w) for v in vals},
        }
    )
    out = filled.filter(F.col("_is_left") == 1)
    if tolerance_seconds is not None:
        dist = F.abs(
            F.col(left_ts).cast("double") - F.col(matched_ts_col).cast("double")
        )
        ok = F.col(matched_ts_col).isNotNull() & (dist <= float(tolerance_seconds))
        out = out.withColumns(
            {
                **{
                    f"_r_{v}": F.when(ok, F.col(f"_r_{v}")) for v in vals
                },
                matched_ts_col: F.when(ok, F.col(matched_ts_col)),
            }
        )
    return out.select(
        *keep,
        F.col(matched_ts_col),
        *[F.col(f"_r_{v}").alias(v) for v in vals],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    by: Sequence[str] | None = None,
    bucket_width: int | None = None,
    max_buckets_per_row: int | None = None,
    how: str = "inner",
    left_id_col: str | None = None,
) -> DataFrame:
    """Interval-overlap (range) join: pair every left interval with
    every right interval it overlaps, half-open semantics —
    ``[s, e)`` overlap iff ``l_start < r_end AND r_start < l_end``
    (touching endpoints do NOT match; degenerate ``end <= start``
    intervals match nothing and are filtered up front). Sessions ×
    outages, exposure windows × trial windows, genomic ranges — the
    operator Spark has no native join strategy for: a raw range
    predicate plans as a broadcast nested loop (or cartesian product),
    quadratic per key.

    Scale path (``bucket_width`` set): each side explodes its interval
    into coarse grid buckets of that width, the join becomes an
    EQUI-join on (``by``…, bucket) — hash-partitioned, AQE-eligible,
    never a nested loop — and the true overlap predicate runs as a
    post-join filter. A pair overlapping across several buckets would
    match once per shared bucket, so pairs are emitted only in their
    CANONICAL bucket (the one containing ``greatest(l_start,
    r_start)``, the overlap's first instant — which both sides
    provably occupy): exactly-once without any dedup shuffle.

    Choosing ``bucket_width``: row blow-up is ~``interval_len/width``
    per side, candidate pairs per bucket grow as density × width —
    set it near the P95 interval length (one-to-few buckets per row),
    and pass ``max_buckets_per_row`` to fail loudly (``raise_error``)
    when an outlier interval would fan out past the bound instead of
    silently exploding a 100 TB job. Bounds must be integer-valued
    (epoch seconds/micros — see ``trailing_window_7d`` for the
    micros-parity convention).

    ``bucket_width=None`` keeps the plain theta join — correct on any
    domain, but only for inputs where a nested loop is affordable
    (small side broadcastable, or selective ``by`` keys).

    ``how="left"`` additionally keeps unmatched (and degenerate) left
    rows with NULL right columns. It needs ``left_id_col`` — a column
    UNIQUE per left row — because the unmatched set is computed as an
    anti join of ids against the matched pairs (an anti join on full
    row values would silently merge duplicate left rows and is
    float-fragile). Built the same way in both physical paths, so the
    bucketed rewrite stays exactly-once for matches and exactly-one
    NULL row per unmatched left row.
    """
    keys = list(by or [])
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if how == "left" and left_id_col is None:
        raise ValueError("how='left' requires left_id_col (unique per left row)")
    clash = (set(left.columns) & set(right.columns)) - set(keys)
    if clash:
        raise ValueError(
            f"rename shared non-key columns before joining: {sorted(clash)}"
        )
    for tmp in ("__ivb", "__ivnb"):
        if tmp in left.columns or tmp in right.columns:
            raise ValueError(f"column name {tmp!r} is reserved")
    overlap = (F.col(l_start) < F.col(r_end)) & (F.col(r_start) < F.col(l_end))
    lf = left.filter(F.col(l_end) > F.col(l_start))
    rf = right.filter(F.col(r_end) > F.col(r_start))

    def with_left_outer(matched: DataFrame) -> DataFrame:
        if how == "inner":
            return matched
        r_payload = [c for c in right.columns if c not in keys]
        unmatched = left.join(
            matched.select(left_id_col).distinct(), [left_id_col], "left_anti"
        ).select(
            *left.columns,
            *[
                F.lit(None).cast(right.schema[c].dataType).alias(c)
                for c in r_payload
            ],
        )
        return matched.select(*unmatched.columns).unionByName(unmatched)

    if bucket_width is None:
        if keys:
            return with_left_outer(lf.join(rf, on=keys, how="inner").filter(overlap))
        return with_left_outer(lf.join(rf, overlap, how="inner"))
    w = int(bucket_width)
    if w <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")

    def explode_buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        first = F.floor(F.col(s) / w)
        last = F.floor((F.col(e) - 1) / w)
        if max_buckets_per_row is not None:
            # the guard must live INSIDE the used expression — a
            # separate dropped check column gets pruned by Catalyst
            # and the raise_error never evaluates
            over = (last - first + 1) > max_buckets_per_row
            last = F.when(
                over,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "interval_overlap_join: interval spans more "
                            f"than {max_buckets_per_row} buckets of width "
                            f"{w} (start="
                        ),
                        F.col(s).cast("string"),
                        F.lit(", end="),
                        F.col(e).cast("string"),
                        F.lit(") — raise bucket_width or split upstream"),
                    )
                ).cast("long"),
            ).otherwise(last)
        return df.withColumn("__ivb", F.explode(F.sequence(first, last)))

    lb = explode_buckets(lf, l_start, l_end)
    rb = explode_buckets(rf, r_start, r_end)
    canonical = F.col("__ivb") == F.floor(
        F.greatest(F.col(l_start), F.col(r_start)) / w
    )
    return with_left_outer(
        lb.join(rb, on=keys + ["__ivb"], how="inner")
        .filter(overlap & canonical)
        .drop("__ivb")
    )


def gap_fill_interpolate(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "day",
) -> DataFrame:
    """Regularize an irregular time series: bucket each key's
    observations onto a fixed grid, emit EVERY grid cell between the
    key's first and last observation, and linearly interpolate the
    value across interior gaps (the resample→interpolate step every
    sensor/metrics pipeline runs before modeling).

    Observed cells carry the bucket mean computed in integer cents
    (exact rational — a float SUM would re-associate across partitions
    and flip the last decimals between engines); interpolated cells
    blend the previous/next observed means by integer day distance.
    Leading/trailing cells outside the observed range do not exist by
    construction (the grid spans min..max per key).

    Plan: one (key, bucket) aggregate, a per-key min/max + sequence
    explode for the grid (linear in emitted cells), one co-keyed LEFT
    join, and ONE window shuffle on the key for both fill directions
    (last-non-null behind, first-non-null ahead). 100 TB: every stage
    is keyed on ``key_col``; no global window, no driver state.

    Returns (key, bucket_ts, value_filled DOUBLE round-6, src
    'observed' | 'interpolated').
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    obs = (
        df.select(F.col(key_col), b.alias("bucket_ts"),
                  F.round(F.col(value_col) * 100).cast("bigint").alias("cents"))
        .groupBy(key_col, "bucket_ts")
        .agg(F.sum("cents").alias("sum_c"), F.count(F.lit(1)).alias("n"))
    )
    step = {"day": 86400, "hour": 3600, "week": 604800}[bucket]
    idx = (F.unix_timestamp(F.col("bucket_ts")) / step).cast("bigint")
    obs = obs.withColumn("t", idx)
    # grid carries the key's FIRST truncated timestamp alongside its
    # grid index: emitted bucket_ts is reconstructed as
    # ts0 + (t - t0) * step, preserving date_trunc's phase. Re-deriving
    # from t * step alone would snap 'week' buckets to the epoch phase
    # (a Thursday — 4 days early vs date_trunc's Mondays) and shift
    # 'day' buckets under non-UTC FIXED-OFFSET session timezones (the
    # covered case, e.g. Asia/Kathmandu). DST zones are NOT supported
    # for bucket='day'/'week': date_trunc'd days there are 23/25 h
    # apart across a transition while the t = unix/86400 grid and this
    # reconstruction both assume exact 86400 s spacing, so emitted
    # buckets would drift 1 h off date_trunc midnights after the
    # transition. Run with a fixed-offset or UTC session timezone.
    grid = (
        obs.groupBy(key_col)
        .agg(
            F.min("t").alias("t0"),
            F.max("t").alias("t1"),
            F.min("bucket_ts").alias("ts0"),
        )
        .select(
            key_col, "t0", "ts0", F.explode(F.sequence("t0", "t1")).alias("t")
        )
    )
    joined = grid.join(obs.select(key_col, "t", "sum_c", "n"), [key_col, "t"], "left")
    w_back = Window.partitionBy(key_col).orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_fwd = Window.partitionBy(key_col).orderBy("t").rowsBetween(
        0, Window.unboundedFollowing
    )
    filled = (
        joined
        .withColumn("p_sum", F.last("sum_c", ignorenulls=True).over(w_back))
        .withColumn("p_n", F.last("n", ignorenulls=True).over(w_back))
        .withColumn("p_t", F.last(F.when(F.col("sum_c").isNotNull(), F.col("t")),
                                  ignorenulls=True).over(w_back))
        .withColumn("n_sum", F.first("sum_c", ignorenulls=True).over(w_fwd))
        .withColumn("n_n", F.first("n", ignorenulls=True).over(w_fwd))
        .withColumn("n_t", F.first(F.when(F.col("sum_c").isNotNull(), F.col("t")),
                                   ignorenulls=True).over(w_fwd))
    )
    # observed mean and the linear blend, both from exact integer state
    p_val = F.col("p_sum") / (F.col("p_n") * 100.0)
    n_val = F.col("n_sum") / (F.col("n_n") * 100.0)
    interp = p_val + (n_val - p_val) * (F.col("t") - F.col("p_t")) / (
        F.col("n_t") - F.col("p_t")
    )
    value = F.when(
        F.col("sum_c").isNotNull(), F.col("sum_c") / (F.col("n") * 100.0)
    ).otherwise(interp)
    return filled.select(
        key_col,
        F.timestamp_seconds(
            F.unix_timestamp(F.col("ts0")) + (F.col("t") - F.col("t0")) * step
        ).alias("bucket_ts"),
        F.round(value, 6).alias("value_filled"),
        F.when(F.col("sum_c").isNotNull(), "observed")
        .otherwise("interpolated")
        .alias("src"),
    )


def lex_ge(cols: Sequence[Column], values: Sequence) -> Column:
    """Lexicographic ``(cols...) >= (values...)`` as a flat boolean
    expression — equivalent to comparing two structs but stays inside
    whole-stage codegen (struct comparisons and higher-order folds are
    interpreted; measured ~3x slower on a 45k-row bucket assignment)."""
    c0, v0 = cols[0], F.lit(values[0])
    if len(cols) == 1:
        return c0 >= v0
    return (c0 > v0) | ((c0 == v0) & lex_ge(cols[1:], values[1:]))


def _sql_literal(v) -> str:
    """Exact SQL literal for a boundary value (the driver-collected
    sample types: ints, floats, strings, dates, timestamps,
    decimals). Same one-parse rationale as
    ``similarity._sql_dbl``."""
    import datetime as _dt
    import decimal as _dec

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return repr(v) + "D"
    if isinstance(v, _dec.Decimal):
        return f"{v}BD"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP'{v}'"
    if isinstance(v, _dt.date):
        return f"DATE'{v.isoformat()}'"
    raise TypeError(f"unsupported boundary literal type {type(v).__name__}")


def _lex_ge_sql(col_sqls: list[str], values: Sequence) -> str:
    c0, v0 = col_sqls[0], _sql_literal(values[0])
    if len(col_sqls) == 1:
        return f"({c0} >= {v0})"
    return (
        f"(({c0} > {v0}) OR (({c0} = {v0}) AND "
        f"{_lex_ge_sql(col_sqls[1:], values[1:])}))"
    )


def boundary_bucket(
    cols: Sequence[str | Column], boundaries: list[tuple]
) -> Column:
    """``count of boundaries <= (cols...)`` — the range-bucket
    assignment of :func:`distributed_global_rank` — emitted as ONE
    ``F.expr`` SQL parse instead of P × ``lex_ge`` Column chains:
    composing ~31 boundaries × a 2-column lexicographic compare costs
    hundreds of py4j round trips per dimension (r14; the rfm entry
    spent more driver time BUILDING its bucket chains than executing
    them). Identical expression semantics: the CASE chain is the same
    flat codegen-friendly boolean/addition shape ``lex_ge`` produces.
    The one-parse path needs column NAMES; expression Columns keep the
    per-boundary ``lex_ge`` chain (correct, just slower to build)."""
    if not boundaries:
        return F.lit(0)
    if all(isinstance(c, str) for c in cols):
        col_sqls = ["`" + c.replace("`", "``") + "`" for c in cols]
        terms = " + ".join(
            f"(CASE WHEN {_lex_ge_sql(col_sqls, b)} THEN 1 ELSE 0 END)"
            for b in boundaries
        )
        return F.expr(f"({terms})")
    cc = [F.col(c) if isinstance(c, str) else c for c in cols]
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(lex_ge(cc, b), 1).otherwise(0)
    return bucket


def pick_boundary_cuts(sample: list[tuple], num_partitions: int) -> list[tuple]:
    """Evenly spaced boundary tuples from a sorted(!) sample — at most
    ``num_partitions - 1`` cuts. Boundary quality only affects balance,
    never rank correctness (bucket = count of boundaries <= key is
    monotone whatever the cuts are)."""
    if not sample:
        return []
    sample = sorted(sample)
    step = max(1, len(sample) // num_partitions)
    cuts = sorted({sample[i] for i in range(step, len(sample), step)})
    return cuts[: num_partitions - 1]


def rank_boundaries(
    df: DataFrame,
    key_sets: dict[str, Sequence[str]],
    num_partitions: int | None = None,
    sample_per_partition: int = 100,
    seed: int = 17,
) -> tuple[int, dict[str, list[tuple]]]:
    """Batched boundary derivation for ranking the SAME input on
    SEVERAL key sets (e.g. RFM's three quintile dimensions): ONE count
    + ONE deterministic md5-sample collect, boundaries sliced per key
    set driver-side. Returns (n_rows, {name: boundaries}) ready to
    pass to :func:`distributed_global_rank`; calling it per key set
    instead would pay the scan per dimension.

    The sampling hash is keyed on the union of all key columns, so one
    filter serves every dimension (any uniform row sample bounds every
    per-dimension bucket equally well)."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    all_cols = sorted({c for cols in key_sets.values() for c in cols})
    n = df.count()
    if n <= num_partitions:
        return n, {name: [] for name in key_sets}
    target = num_partitions * sample_per_partition
    frac = target / n
    sampled = df
    if frac < 1.0:
        # frac >= 1.0 means "take everything" — applying the hash cap
        # there would format 16**8 as the 9-char '100000000', and the
        # 8-char lexicographic compare then keeps only hashes starting
        # with '0' (~1/16 of rows) exactly when a full sample was
        # intended. Balance-only, but skip the filter instead.
        cap = format(max(1, int(frac * 16**8)), "08x")
        h = F.md5(
            F.concat_ws("|", *[F.col(c).cast("string") for c in all_cols], F.lit(seed))
        )
        sampled = df.filter(F.substring(h, 1, 8) < F.lit(cap))
    rows = sampled.select(*all_cols).collect()
    out = {}
    for name, cols in key_sets.items():
        sample = [tuple(r[c] for c in cols) for r in rows]
        out[name] = pick_boundary_cuts(sample, num_partitions)
    return n, out


def distributed_global_rank(
    df: DataFrame,
    order_by: Sequence[str | Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
    sample_per_partition: int = 100,
    seed: int = 17,
    boundaries: list[tuple] | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over ``order_by`` WITHOUT a
    single-reducer sort — the 100 TB replacement for
    ``Window.orderBy(...)`` (whose empty partitionBy funnels every row
    through one task).

    ``order_by`` must be a total order (include a unique tiebreak
    column) with NON-NULL keys, or ranks are nondeterministic.

    Deliberately NOT ``repartitionByRange``: Spark's range exchange
    samples boundaries with a fresh random seed per materialization,
    so two plan branches over the same input can land rows in
    DIFFERENT partitions unless AQE happens to reuse the exchange —
    offsets computed on one branch silently disagree with local ranks
    on the other (observed: ranks off by 2 on a 15k-row input).
    Instead the range bucket is a PURE ROW FUNCTION: boundary key
    tuples are collected once from a deterministic md5 hash-sample
    (~``num_partitions * sample_per_partition`` rows of driver state,
    same size class as IVF centroids) and folded into the plan as
    struct literals; bucket = count of boundaries <= row key. Every
    branch then agrees by construction, runs included.

    Plan: scan-local bucket assignment → local row_number per bucket
    (one hash-partition window over P buckets) → per-bucket counts
    cumulated into offsets (a <=P-row metadata window) broadcast back.
    rank = offset + local rn. No stage funnels fact rows through one
    task; boundary skew only affects balance, never correctness.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    key = F.struct(*[c.alias(f"k{i}") for i, c in enumerate(cols)])

    if boundaries is None:
        # self-serve boundary derivation: one count + one sample
        # collect. Callers ranking the SAME input on several key sets
        # should batch this themselves (one scan, one collect) and
        # pass `boundaries` per call — see rank_boundaries().
        n = df.count()
        boundaries = []
        if n > num_partitions:
            target = num_partitions * sample_per_partition
            frac = target / n
            sampled = df
            if frac < 1.0:
                # see rank_boundaries: at frac >= 1.0 the 8-char cap
                # compare would under-sample ~1/16 instead of taking all
                cap = format(max(1, int(frac * 16**8)), "08x")
                h = F.md5(
                    F.concat_ws("|", *[c.cast("string") for c in cols], F.lit(seed))
                )
                sampled = df.filter(F.substring(h, 1, 8) < F.lit(cap))
            sample = sorted(
                tuple(r["__k"]) for r in
                sampled.select(key.alias("__k")).collect()
            )
            boundaries = pick_boundary_cuts(sample, num_partitions)
    # sum-of-CASEs over lexicographic compares, NOT an F.aggregate fold
    # over an array of struct literals: the flat boolean/addition chain
    # stays inside whole-stage codegen (higher-order folds and struct
    # comparisons are interpreted — measured ~6x slower on a 150k-row
    # assign+rank); emitted as one SQL parse (see boundary_bucket) —
    # pass order_by AS GIVEN so string names take the one-parse path
    bucket = boundary_bucket(list(order_by), boundaries)
    part = df.withColumn("__pid", bucket)
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    loc = part.withColumn("__lrn", F.row_number().over(w_local))
    # offsets: exclusive prefix sum of per-bucket counts (<=P rows)
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        part.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        loc.join(F.broadcast(offs), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__lrn")).cast("bigint"))
        .drop("__pid", "__lrn", "__off")
    )


def ntile_from_rank(rn: Column, n_total: Column, n_buckets: int) -> Column:
    """SQL NTILE(n) reconstructed from an exact global rank: the first
    ``n_total mod n`` buckets take ``q+1`` rows (q = n_total div n),
    the rest take q — bit-identical to the window NTILE, but computable
    from :func:`distributed_global_rank` output with no global sort.
    Pure integer arithmetic; the q=0 tiny-input case is guarded (all
    rows then land in the first r buckets via the q+1 branch).
    """
    q = F.floor(n_total / n_buckets).cast("bigint")
    r = (n_total % n_buckets).cast("bigint")
    cut = r * (q + 1)
    in_big = F.floor((rn + q) / (q + 1))
    in_small = r + F.floor((rn - cut + F.greatest(q, F.lit(1)) - 1) / F.greatest(q, F.lit(1)))
    return F.when(rn <= cut, in_big).otherwise(in_small).cast("int")
