"""Similarity search over embedding columns (array<float>).

Scale pack: brute-force cosine top-k as the exact baseline, and an
LSH-bucketed variant as the 100 TB path (candidates come from an
equi-join on hash buckets instead of a cross join).

All vector math is built-in ``zip_with``/``aggregate`` expressions —
JVM-side, no Python UDF in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..session import local_df


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    n = norm(a) * norm(b)
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms staged per SIDE instead of per PAIR — in an
    n×m scoring join the per-pair ``cosine`` re-folds each vector's
    norm m (resp. n) times; precomputing a norm column per side cuts
    the fold work to the dot product alone, with bit-identical values
    (same norm expression, evaluated earlier)."""
    n = na * nb
    return F.when(n > 0, dot(a, b) / n).otherwise(F.lit(0.0))


#: Unrolled-dot dim ceiling: above this the fixed-dim cosine falls
#: back to the generic fold (ADVICE r14 — measured in r15: a 184 KB
#: unrolled expression defeats codegen and runs 14x SLOWER than the
#: interpreted fold, so big unrolls are a pathology, not a win).
UNROLL_MAX_DIM = 256


def cosine_prenormed_fixed(
    a: str, b: str, na: Column, nb: Column, dim: int
) -> Column:
    """:func:`cosine_prenormed` with a KNOWN vector dimension: the dot
    product unrolls to ``(((0.0D + a[0]*b[0]) + a[1]*b[1]) + ...)`` —
    the same left-to-right IEEE addition order as the ``aggregate``
    fold (including the leading ``0.0 + x`` term, which differs from
    bare ``x`` only at ``-0.0``), so values are BIT-IDENTICAL, but the
    unrolled arithmetic participates in whole-stage codegen while
    higher-order folds are interpreted (CodegenFallback) — measured
    4.0 → 2.6 s on the semantic-dedup pair stage at sf0.1 with 0
    mismatches over all 252,560 pairs (r14, guide §1.2 per-task work).

    A ``size == dim`` guard keeps ANSI index safety and exactness for
    malformed rows: any vector of a different length falls back to the
    fold branch (evaluated only when taken), preserving the generic
    semantics — NULL-poisoned shorter vectors, full-length fold for
    longer ones. ``a``/``b`` are column NAMES (the unrolled expression
    is one SQL parse, same plan-construction class as §2/§7).

    Dims above ``UNROLL_MAX_DIM`` fall back to the generic fold
    (ADVICE r14): a left-nested chain thousands of terms deep risks
    parser/codegen pathologies (deep recursion, the 64 KB method
    split back to interpreted) — and past the split point the unroll
    loses its reason to exist anyway."""
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    if dim > UNROLL_MAX_DIM:
        return cosine_prenormed(F.col(a), F.col(b), na, nb)
    terms = "0.0D"
    for i in range(dim):
        terms = f"({terms} + (`{a}`[{i}] * `{b}`[{i}]))"
    guard = (F.size(a) == dim) & (F.size(b) == dim)
    n = na * nb
    fast = F.when(n > 0, F.expr(terms) / n).otherwise(F.lit(0.0))
    return F.when(guard, fast).otherwise(
        cosine_prenormed(F.col(a), F.col(b), na, nb)
    )


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def validate_embeddings(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Ingest gate for vector columns — the quarantine pattern
    ``catalog.read_csv_form`` applies to malformed CSV rows, applied
    to embeddings: annotate every row with an ``embedding_status`` so
    callers split good from quarantined BEFORE a bad vector poisons
    an index build or a scoring join (NULL scores holding ranked
    slots, NaN propagating through every dot product it touches,
    zero vectors folding to cosine 0 against everything).

    Statuses, first match wins: ``null_vector`` (no payload),
    ``wrong_dim`` (size ≠ dim — a model-version mixup),
    ``null_element`` (ragged upstream join), ``non_finite``
    (NaN/±Inf — overflow in the embedder), ``zero_vector``
    (un-normalizable), ``ok``.

    Every check is a native expression — equality/size/array_contains/
    array_compact, no interpreted per-element lambda — so the gate
    whole-stage-codegens and costs one scan. NaN detection rides
    Spark SQL's NaN-equals-NaN comparison semantics (array_contains
    uses the same equality as joins/grouping), and the null-element
    guard runs FIRST among content checks because array_contains
    returns NULL, not False, on arrays holding NULLs."""
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    v = F.col(vec_col)
    status = (
        F.when(v.isNull(), F.lit("null_vector"))
        .when(F.size(v) != dim, F.lit("wrong_dim"))
        .when(F.size(F.array_compact(v)) < F.size(v), F.lit("null_element"))
        .when(
            F.array_contains(_as_double(vec_col), F.lit(float("nan")))
            | F.array_contains(_as_double(vec_col), F.lit(float("inf")))
            | F.array_contains(_as_double(vec_col), F.lit(float("-inf"))),
            F.lit("non_finite"),
        )
        .when(
            _as_double(vec_col) == F.array_repeat(F.lit(0.0), dim),
            F.lit("zero_vector"),
        )
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("embedding_status", status)


def quarantine_embeddings(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split on :func:`validate_embeddings` — good
    rows come back without the status column (ready for an index
    build), quarantined rows keep it (the triage key, same shape as
    the CSV quarantine sink)."""
    flagged = validate_embeddings(df, dim, vec_col)
    ok = F.col("embedding_status") == "ok"
    return (
        flagged.filter(ok).drop("embedding_status"),
        flagged.filter(~ok),
    )


def _drop_null_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Shared retrieval contract: NULL embedding rows are dropped on
    BOTH sides of every top-k / pair generator. A NULL vector carries
    no signal but poisons pair scoring three different ways depending
    on path (NULL scores that still occupy ranked top-k slots in the
    cross-join paths, bucket-0 placement in sign-LSH because
    ``F.when(NULL > 0, ...)`` falls to otherwise(), executor crashes
    in the Arrow LUT kernels) — so the filter lives here, once, and
    every fold AND Arrow entry point applies it, keeping the
    documented exact-parity between the paths true for null-bearing
    inputs too."""
    return df.filter(F.col(vec_col).isNotNull())


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top ``k`` (query_id, neighbor_id, score, rank) rows per query by
    (score desc, neighbor_id asc) — the determinism contract every
    top-k path shares: one window shuffle on query_id."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k: each query row is scored against
    the whole corpus; top k per query by (score desc, neighbor id).

    Plan: broadcast(queries) × corpus — a map-side nested loop, then a
    single window shuffle on query_id. Linear in corpus size per query;
    the right exact baseline when the query set is small. Self-matches
    are excluded.

    Returns (query_id, neighbor_id, score, rank).
    """
    q = _drop_null_vecs(queries, vec_col).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = _drop_null_vecs(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 4
            ),
        )
    )
    return _rank_topk(scored, k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, no numpy
    RNG state) for sign-LSH bucketing."""
    planes: list[list[float]] = []
    state = seed
    for _ in range(n_planes):
        row: list[float] = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % (2**31)
            row.append((state / (2**31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec · plane_i) > 0, packed to int."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        # one SQL parse per plane, not one py4j call per coordinate
        p = F.expr("array(" + ",".join(_sql_dbl(v) for v in plane) + ")")
        bucket = bucket + F.when(dot(vec, p) > 0, F.lit(2**i)).otherwise(0)
    return bucket


def lsh_table_buckets(vec: Column, planes: list[list[float]], n_tables: int) -> Column:
    """Multi-table sign-LSH (OR-construction): split ``planes`` into
    ``n_tables`` groups of k planes; returns array<struct<tbl,bucket>>
    — one bucket per table. Explode + equi-join on (tbl, bucket) gives
    candidate recall 1-(1-p^k)^L instead of single-table p^k, at L×
    the (still linear) join volume. This is the knob that makes
    sign-LSH usable for real near-dup recall at scale."""
    if len(planes) % n_tables:
        raise ValueError("len(planes) must be divisible by n_tables")
    k = len(planes) // n_tables
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(vec, planes[t * k : (t + 1) * k]).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def _unit(v: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else list(v)


def _sql_dbl(v: float) -> str:
    """Exact SQL double literal: ``repr`` round-trips the IEEE-754
    bits and the ``D`` suffix forces DoubleType — the building block
    for one-parse literal arrays (see :func:`_centroid_literal_sql`)."""
    return repr(float(v)) + "D"


def _centroid_literal_sql(centroids: list[list[float]]) -> str:
    """SQL text of the centroids as an ``array<struct<cid, cv>>``
    literal, each vector UNIT-NORMALIZED driver-side: argmax over
    centroids of cosine(v, c) equals argmax of dot(v, c/|c|) (the row
    vector's own norm is a constant positive factor), so assignment
    and probing need one dot fold per centroid instead of a full
    cosine.

    Emitted as text so callers splice it into ONE larger ``F.expr``
    parse (:func:`_nearest_cid_sql`, :func:`_probe_cids_sql`):
    composing C×D literal Columns cost a py4j round trip per value —
    0.32 s of pure driver time per build at 8×64 vs 0.002 s for the
    parsed string (r14)."""
    return "array(" + ",".join(
        "named_struct('cid', {}, 'cv', array({}))".format(
            i, ",".join(_sql_dbl(v) for v in _unit(c))
        )
        for i, c in enumerate(centroids)
    ) + ")"


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of :func:`dot` — the identical left-to-right
    ``aggregate(zip_with(...))`` fold (same Catalyst nodes, same IEEE
    order), emitted as a string for one-parse composition."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _nearest_cid_sql(vec_sql: str, cents_sql: str) -> str:
    """SQL text of the argmax-similarity centroid id over a spliced
    :func:`_centroid_literal_sql` (ties -> smaller cid, via the strict
    ``>`` in the fold; a zero or all-negative vector still gets the
    best-scoring cid). The per-centroid dot is staged via transform so
    it evaluates once, then a struct fold picks the argmax; the whole
    expression is ONE ``F.expr`` parse (r15 — lambda composition cost
    py4j traffic per call), executed as an interpreted fold."""
    dot_s = _dot_sql(vec_sql, "c.cv")
    return (
        "aggregate("
        f"transform({cents_sql}, c -> named_struct('s', {dot_s}, 'cid', c.cid)), "
        "named_struct('best', CAST('-Infinity' AS DOUBLE), 'cid', -1), "
        "(acc, x) -> CASE WHEN x.s > acc.best "
        "THEN named_struct('best', x.s, 'cid', x.cid) ELSE acc END"
        ").cid"
    )


def _probe_cids_sql(qv_sql: str, cents_sql: str, n_probe: int) -> str:
    """SQL text of the per-query probe-cid array (sort (neg-dot, cid)
    structs, slice ``n_probe``, project cid) — one parse for the whole
    probe-selection expression (r15, same class as
    :func:`_nearest_cid_sql`)."""
    dot_s = _dot_sql(qv_sql, "ce.cv")
    return (
        "transform(slice(sort_array(transform("
        f"{cents_sql}, ce -> named_struct('d', -({dot_s}), 'cid', ce.cid)"
        f")), 1, {int(n_probe)}), p -> p.cid)"
    )


#: C×D (n_centroids × dim) at or above which centroid assignment and
#: every Lloyd round run the Arrow kernel. Below it (e.g. the 8×64
#: bench fixture = 512) the expression fold's per-row cost is a few
#: hundred interpreted ops and JVM-side evaluation avoids the Arrow
#: transfer; at production centroid counts (10²–10⁴ centroids) the
#: fold is O(C×D) interpreted PER ROW on the one full-corpus pass a
#: 100 TB deployment pays, while the numpy argmax stays one
#: (B×D)@(D×C) BLAS call per batch (measured: 64×64 build 2.0×
#: faster at sf0.1 and flat in C, see BENCH_scale_r08.json).
ARROW_ASSIGN_MIN_CXD = 1024


def _use_arrow(centroids: list[list[float]]) -> bool:
    """The one size rule behind every IVF kernel choice: the Arrow
    kernel at C×D ≥ ``ARROW_ASSIGN_MIN_CXD``, the expression fold
    below it. D is read off the centroids themselves (trained from,
    or seeded by, the data), so assignment and training always agree
    on the kernel."""
    return len(centroids) * len(centroids[0]) >= ARROW_ASSIGN_MIN_CXD


def _assign_input(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    base = _drop_null_vecs(df, vec_col)
    if out_col in base.columns:
        raise ValueError(f"column name {out_col!r} already exists")
    return base


def assign_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cid",
) -> DataFrame:
    """Nearest-centroid assignment: every non-NULL-vector row of ``df``
    gains ``out_col`` = its argmax-cosine centroid id (ties → smaller
    cid); all other columns pass through. The kernel follows the size
    rule (:func:`_use_arrow`): :func:`assign_centroids_arrow` at
    production C×D, else the JVM-side expression fold
    (:func:`_assign_centroids_fold`). Both kernels give hash-identical
    assignments (``tests/test_retrieval_index.py``). No shuffle —
    assignment happens scan-side."""
    kernel = assign_centroids_arrow if _use_arrow(centroids) else _assign_centroids_fold
    return kernel(df, centroids, vec_col, out_col)


def _assign_centroids_fold(
    df: DataFrame, centroids: list[list[float]], vec_col: str, out_col: str
) -> DataFrame:
    """The expression-fold kernel of :func:`assign_centroids`: one SQL
    parse for literal + cast + argmax (:func:`_nearest_cid_sql`)."""
    vec_sql = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    return _assign_input(df, vec_col, out_col).withColumn(
        out_col,
        F.expr(_nearest_cid_sql(vec_sql, _centroid_literal_sql(centroids))),
    )


def assign_centroids_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cid",
) -> DataFrame:
    """The Arrow kernel of :func:`assign_centroids`: the same contract
    (centroids unit-normalized driver-side so argmax dot == argmax
    cosine; ties → smaller cid, which is numpy ``argmax``'s
    first-occurrence rule just as it is the fold's strict-``>`` rule)
    computed as one (B×D)@(D×C) numpy argmax per Arrow batch instead
    of an interpreted O(C×D)-per-row expression fold. The index BUILD
    is the one full-corpus pass a serving deployment pays, and at
    production centroid counts (10²–10⁴) the fold's interpreted cost
    dominates it. All non-vector columns pass through untouched."""
    base = _assign_input(df, vec_col, out_col)
    cents = np.asarray([_unit(c) for c in centroids], dtype=np.float64)
    bc = base.sparkSession.sparkContext.broadcast(cents)

    def assign(batches):
        m = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            pdf[out_col] = np.argmax(cm @ m.T, axis=1).astype(np.int32)
            yield pdf

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in base.schema.fields
    ) + f", `{out_col}` int"
    return base.mapInPandas(assign, schema)


def _seed_centroids(
    base: DataFrame, n_centroids: int, train_fraction: float | None
) -> list[list[float]]:
    """Deterministic k-means init: the ``n_centroids`` vectors with the
    smallest md5(id) — order-stable across partitioning, no RNG state.
    Degrades to the corpus size on a tiny full corpus (ivf_topk works
    with any centroid count; exhaustive probing stays exact), raises on
    a too-thin explicit sample."""
    seed_rows = (
        base.withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        raise ValueError("cannot train centroids on an empty corpus")
    if len(seed_rows) < n_centroids and train_fraction is not None:
        # the caller's sample is too thin — say so, and name the knob
        # they actually used
        raise ValueError(
            f"training sample has only {len(seed_rows)} vectors for "
            f"{n_centroids} centroids — raise train_fraction"
        )
    return [list(r.v) for r in seed_rows]


def ivf_train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    n_iters: int = 5,
    train_fraction: float | None = None,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic spherical-k-means centroids for IVF bucketing.

    Init: the ``n_centroids`` corpus vectors with the smallest
    md5(id) (:func:`_seed_centroids`). Then ``n_iters`` Lloyd rounds,
    the loop :func:`ivf_refine_centroids` runs: each round assigns
    every vector to its argmax-cosine centroid and takes the
    per-dimension mean (:func:`_lloyd_round`, kernel by C×D). Per-round
    driver traffic is k×dim doubles (centroid metadata, like a
    schema). Empty clusters keep their previous centroid.

    ``train_fraction`` is the 100 TB knob: centroid quality needs
    representativeness, not the full corpus, and full-corpus training
    costs n_iters+1 complete scans. Passing e.g. 0.01 trains on a
    deterministic hash-sample of ids (``sampling.sample_by_hash`` —
    partition-invariant, reproducible across runs and engines), cutting
    every scan 100× while the Lloyd fixed point stays statistically
    unchanged (tests/test_similarity.py asserts recall parity).
    ``None`` trains on everything — fine at bench scale, wasteful at
    corpus scale. Raises if the sample is too thin to seed
    ``n_centroids`` distinct centroids.
    """
    if train_fraction is not None:
        from .sampling import sample_by_hash

        if not 0 < train_fraction <= 1:
            raise ValueError(
                f"train_fraction must be in (0, 1], got {train_fraction}"
            )
        corpus = sample_by_hash(corpus, id_col, train_fraction, seed)
    return _lloyd(
        corpus, vec_col, id_col, n_iters,
        lambda base: _seed_centroids(base, n_centroids, train_fraction),
    )


def ivf_refine_centroids(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 1,
) -> list[list[float]]:
    """Warm-start Lloyd: refine GIVEN centroids over a corpus for
    ``n_iters`` rounds — the same loop :func:`ivf_train_centroids`
    runs after seeding. Used by ``jobs.retrieval.retrain_index`` to
    re-center a serving index's centroids on its LIVE stored vectors
    after ``index_ingest_drift`` crosses the rebuild band, without
    touching the source corpus."""
    if not centroids:
        raise ValueError("cannot refine an empty centroid list")
    return _lloyd(corpus, vec_col, id_col, n_iters, lambda base: centroids)


def _lloyd(corpus, vec_col, id_col, n_iters, init) -> list[list[float]]:
    """The one Lloyd loop: project ``corpus`` to (id, v) once and
    persist it (the seed pass and every round scan it), start from
    ``init(base)``, run ``n_iters`` rounds."""
    base = _drop_null_vecs(corpus, vec_col).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    base.persist()
    try:
        centroids = init(base)
        for _ in range(n_iters):
            centroids = _lloyd_round(base, centroids)
    finally:
        base.unpersist()
    return [[float(x) for x in c] for c in centroids]


def _lloyd_round(
    base: DataFrame, centroids: list[list[float]]
) -> list[list[float]]:
    """One Lloyd round over (id, v) rows, kernel by the size rule
    (:func:`_use_arrow`). Both kernels share the contract:
    argmax-cosine assignment with ties to the smaller cid,
    per-dimension mean, empty clusters keep their previous centroid.
    Their centroids agree to ~1e-9 per component (float summation
    order) and give identical downstream assignments."""
    if _use_arrow(centroids):
        return _lloyd_round_arrow(base, centroids)
    return _lloyd_round_fold(base, centroids)


def _lloyd_round_fold(
    base: DataFrame, centroids: list[list[float]]
) -> list[list[float]]:
    """One Lloyd round, expression-fold kernel: assign every (id, v)
    row to its argmax-cosine centroid (map-side fold over the centroid
    literal), then the per-dimension mean in the label_centroids
    shape: posexplode -> groupBy(cid, pos) avg -> reassemble. Same
    shuffle volume as a dim-wide avg row (k x dim groups, map-side
    combined) but the generated code is one 2-column aggregate instead
    of dim avg expressions — codegen compiles in milliseconds, and the
    plan is dimension-independent. Empty clusters keep their previous
    centroid."""
    assigned = base.withColumn(
        "cid",
        # one SQL parse per round (r15): the lambda-composed fold cost
        # ~0.08 s of py4j traffic per build x (n_iters + assigns)
        F.expr(_nearest_cid_sql("`v`", _centroid_literal_sql(centroids))),
    )
    means = (
        assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("mv")
        )
        .collect()
    )
    new = {r["cid"]: list(r["mv"]) for r in means}
    return [new.get(i, centroids[i]) for i in range(len(centroids))]


def _lloyd_round_arrow(
    base: DataFrame, centroids: list[list[float]]
) -> list[list[float]]:
    """One Lloyd round, Arrow kernel: a single ``mapInPandas`` pass
    emitting per-PARTITION partial sums ``(cid, count, Σv)``; the
    per-dimension means reduce driver-side over
    ``partitions × occupied_cids`` partial rows, combined in sorted
    (cid, partition) order so the result is deterministic for a fixed
    input layout. Empty clusters keep their previous centroid."""
    sc = base.sparkSession.sparkContext
    bc = sc.broadcast(
        np.asarray([_unit(c) for c in centroids], dtype=np.float64)
    )

    def partials(batches):
        from pyspark import TaskContext

        m = bc.value
        counts = np.zeros(m.shape[0], dtype=np.int64)
        sums = np.zeros_like(m)
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            cid = np.argmax(vm @ m.T, axis=1)
            np.add.at(counts, cid, 1)
            np.add.at(sums, cid, vm)
        occ = np.flatnonzero(counts)
        if not len(occ):
            return
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame(
            {
                "part_id": np.full(len(occ), pid, dtype=np.int32),
                "cid": occ.astype(np.int32),
                "n": counts[occ],
                "s": [sums[i].tolist() for i in occ],
            }
        )

    rows = base.mapInPandas(
        partials, "part_id int, cid int, n bigint, s array<double>"
    ).collect()
    agg: dict[int, tuple[int, np.ndarray]] = {}
    for r in sorted(rows, key=lambda r: (r.cid, r.part_id)):
        n0, s0 = agg.get(r.cid, (0, None))
        sv = np.asarray(list(r.s), dtype=np.float64)
        agg[r.cid] = (n0 + r.n, sv if s0 is None else s0 + sv)
    return [
        (agg[i][1] / agg[i][0]).tolist() if i in agg else centroids[i]
        for i in range(len(centroids))
    ]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    n_probe: int = 2,
    n_iters: int = 5,
    centroids: list[list[float]] | None = None,
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is bucketed
    by nearest trained centroid; each query probes its ``n_probe``
    closest centroids and scores only those buckets.

    The second 100 TB ANN path alongside :func:`lsh_topk` — candidates
    come from an equi-join on centroid id (corpus shuffles once by
    cid; expected candidate volume n_probe/n_centroids of the corpus
    per query), never a cross join. Unlike sign-LSH, buckets adapt to
    the data distribution, so recall at equal candidate volume is
    typically higher on clustered real-world embeddings.

    ``n_probe = n_centroids`` degenerates to exact brute force
    (identical results to :func:`cosine_topk` — tested). Pass
    pre-trained ``centroids`` to amortize training across calls; when
    training implicitly, set ``train_fraction`` so the hidden training
    cost is a sample scan, not n_iters+1 full-corpus scans.

    Returns (query_id, neighbor_id, score, rank) — rank within
    candidates only.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, vec_col, id_col, n_centroids, n_iters, train_fraction
        )
    cents_sql = _centroid_literal_sql(centroids)
    c = (
        _drop_null_vecs(corpus, vec_col)
        .select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
        .withColumn("cn", norm(F.col("cv")))
        .withColumn("cid", F.expr(_nearest_cid_sql("`cv`", cents_sql)))
    )
    # per-query probe list: sort (neg-sim, cid) structs, slice n_probe
    # (unit-normalized centroids: dot order == cosine order per query);
    # assignment + probe selection are ONE SQL parse each (r15 — the
    # lambda composition was ~0.4 s of the entry's driver time)
    q = (
        _drop_null_vecs(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
        .withColumn(
            "cid",
            F.explode(F.expr(_probe_cids_sql("`qv`", cents_sql, n_probe))),
        )
    )
    cand = q.join(c, "cid").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.withColumn(
        "score",
        F.round(cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 4),
    )
    return _rank_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH (``n_tables`` tables ×
    ``n_planes`` planes each), candidates = distinct union of per-table
    bucket equi-join matches, exact cosine + rank within candidates.

    The 100 TB path — candidate generation is a shuffle-partitioned
    equi-join on (tbl, bucket) (≈ L·n/2^k candidates per query), never
    a cross join. Candidate recall = 1-(1-p^k)^L where
    p = 1-θ/π; k=4, L=8 gives ~0.98 for cosine ≥ 0.8 neighbors.

    Returns (query_id, neighbor_id, score, rank) — rank within
    candidates only.
    """
    planes = random_hyperplanes(dim, n_planes * n_tables, seed)
    q = (
        _drop_null_vecs(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("tb", F.explode(lsh_table_buckets(F.col("qv"), planes, n_tables)))
    )
    c = (
        _drop_null_vecs(corpus, vec_col)
        .select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
        .withColumn("cn", norm(F.col("cv")))
        .withColumn("tb", F.explode(lsh_table_buckets(F.col("cv"), planes, n_tables)))
    )
    cand = (
        q.join(c, "tb")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "score",
        F.round(cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 4),
    )
    return _rank_topk(scored, k)


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    decimals: int = 6,
) -> DataFrame:
    """Per-label embedding centroids in long form: (label, pos, c) with
    ``c`` the mean of vector component ``pos`` — class prototypes for
    nearest-centroid classification / cluster quality checks.

    Plan: posexplode → groupBy(label, pos) average. The explode
    multiplies rows by the dimension, but partial aggregation combines
    map-side, so the shuffle carries only (labels × dims) groups — the
    distributed vector-mean shape (an array-valued aggregate would
    haul whole vectors through the shuffle instead).

    ``decimals`` quantizes the reported mean; cross-engine
    comparisons should use 4 (the measured hash-safe granularity for
    a float AVG whose summation order re-associates — see
    tests/test_hash_boundary_audit.py).
    """
    # + 0.0 normalizes IEEE negative zero: a small negative mean that
    # rounds to zero would otherwise be -0.0 here and possibly +0.0 in
    # another engine — equal by ==, different by repr/hash
    return (
        df.select(F.col(label_col), F.posexplode(_as_double(vec_col)).alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg((F.round(F.avg("v"), int(decimals)) + F.lit(0.0)).alias("c"))
    )


def nearest_centroid_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classification confusion matrix: assign every
    vector to its closest class prototype (from
    :func:`label_centroids`) and count (true label, assigned label)
    pairs — the standard embedding-space sanity check for labeled
    corpora.

    Plan: centroids reassemble to one array row per label (labels ×
    dims values — tiny) and broadcast; each vector scores against all
    K centroids with a zip_with/aggregate fold (JVM-side), then a
    per-vector top-1 window ordered by the RAW distance with a label
    tiebreak. Hash audit r12: centroids quantize at 4 decimals (so
    both engines score against identical prototypes — 6 decimals sat
    1.1e-7 relative from a rounding boundary), and the argmin orders
    on the raw distance (ordering by a 6dp-rounded distance was
    hostage to 1e-6 jumps; the measured top-2 raw-distance margin is
    3.1e-5 relative vs ~1e-13 summation-order drift).
    """
    cents = label_centroids(df, vec_col, label_col, decimals=4)
    cvec = (
        cents.groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("cent")
        )
        .withColumnRenamed(label_col, "c_label")
    )
    scored = df.select(
        F.col(id_col), F.col(label_col), _as_double(vec_col).alias("_v")
    ).crossJoin(F.broadcast(cvec))
    diff2 = F.zip_with(F.col("_v"), F.col("cent"), lambda a, b: (a - b) * (a - b))
    scored = scored.withColumn(
        "_d", F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("_d"), F.asc("c_label"))
    top = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    return top.groupBy(label_col, F.col("c_label").alias("assigned_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the third ANN family (LSH, IVF, PQ)
# ---------------------------------------------------------------------------


def pq_codebooks(
    dim: int, n_subspaces: int, n_codewords: int, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic codebooks ``[subspace][codeword][sub_dim]`` from
    the same LCG as :func:`random_hyperplanes` — the fixed-codebook
    path that makes the whole PQ pipeline (encode + ADC scoring)
    exactly reproducible cross-engine, mirroring how the sign-LSH
    queries share literal planes with their SQL oracle.
    Data-trained codebooks (:func:`pq_train_codebooks`) drop in
    unchanged."""
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    flat = random_hyperplanes(sub, n_subspaces * n_codewords, seed)
    return [
        flat[m * n_codewords : (m + 1) * n_codewords] for m in range(n_subspaces)
    ]


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2sq_lit(vec: Column, base: int, cw: list[float]) -> Column:
    """L2² between the sub-slice of ``vec`` at ``base`` and a LITERAL
    codeword, as one compact zip_with fold. Fully-unrolled getItem
    arithmetic was tried and REJECTED: 1024 explicit terms per
    projection exceeds Janino's 64 KB method limit, and the failed
    compile + interpreted fallback cost ~3x the fold plan. ``vec``
    must be a plain array column (cast("array<double>") upstream, a
    native cast) — never a transform(...) expression, whose getItem
    re-runs the whole lambda per element (the bind_once lesson)."""
    return _l2sq(
        F.slice(vec, base + 1, len(cw)), F.array(*[F.lit(float(v)) for v in cw])
    )


def pq_code(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ code of a vector: array<int> of length n_subspaces, entry m =
    argmin-L2 codeword id of subvector m (ties -> smaller id, via
    strict ``<`` in the fold). Pure Column math — encoding 10^12 rows
    is a scan, no shuffle."""
    sub = len(codebooks[0][0])
    parts = []
    # argmin via array_position(d, array_min(d)): no higher-order
    # lambdas beyond one zip_with fold per (m, k) with unique literal
    # children — sibling transform-over-struct-literal expressions
    # made Catalyst conflate their lambda variables (subspace m scored
    # against another subspace's codewords with NULL padding), and a
    # chained when(...).otherwise(best_struct) doubles the tree per
    # codeword (2^K nodes). array_position returns the FIRST match,
    # so ties break to the smaller codeword id, deterministically.
    for m, cb_m in enumerate(codebooks):
        d_arr = F.array(*[_l2sq_lit(vec, m * sub, cw) for cw in cb_m])
        parts.append((F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("int"))
    return F.array(*parts)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    plan: str = "arrow",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, pq_code): the compressed corpus representation — M small
    ints instead of dim floats (64-dim float32 -> 8 bytes at M=8, an
    8x memory cut before any scoring happens).

    ``plan='arrow'`` (default) encodes in a vectorized pandas UDF —
    one (batch, M, K) numpy distance tensor per Arrow batch. This is
    the deliberate exception to the engine's built-ins-first rule:
    the Column formulation needs K*M nested folds whose Catalyst
    ANALYSIS alone costs seconds per query (and an unrolled
    arithmetic version breaks Janino's 64 KB method limit — see
    ``_l2sq_lit``), while the numpy tensor op is a microseconds-per-
    row scan. ``plan='expr'`` keeps the pure-Column path as the
    cross-engine bit-exactness reference (both hash-match the SQL
    oracle: numpy's small-axis sums are sequential left-to-right,
    same IEEE-double order as the fold and the SQL chain; ties break
    to the first/smallest codeword id in all three).

    ``extra_cols`` are carried through unchanged (e.g. a centroid id
    for an IVF-PQ layout) so encoding composes with an assignment pass
    without a re-join shuffle."""
    carry = [F.col(c) for c in extra_cols]
    if plan == "expr":
        return df.select(
            F.col(id_col),
            pq_code(F.col(vec_col).cast("array<double>"), codebooks).alias("pq_code"),
            *carry,
        )
    if plan != "arrow":
        raise ValueError(f"unknown plan {plan!r}: use 'arrow' or 'expr'")
    cb = np.asarray(codebooks, dtype=np.float64)  # (M, K, sub)
    n_sub, _, sub = cb.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        x = np.asarray(list(vecs), dtype=np.float64)  # (n, dim)
        xs = x.reshape(len(x), n_sub, 1, sub)
        d = ((xs - cb[None, :, :, :]) ** 2).sum(axis=-1)  # (n, M, K)
        codes = d.argmin(axis=-1).astype("int32")  # first min -> smallest k
        return pd.Series(list(codes))

    return df.select(
        F.col(id_col), encode(F.col(vec_col)).alias("pq_code"), *carry
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: corpus rows are scored through
    their PQ codes only — per pair the cost is M table lookups + M
    adds instead of a dim-length dot product, and the corpus side
    ships codes (bytes), not vectors.

    Shape: each query's lookup table (M x K subspace distances) is
    computed ONCE on the driver (:func:`pq_adc_topk`); the scoring
    join then indexes that literal array by the corpus code. Queries
    broadcast (the top-k contract keeps the query set small, guarded
    at 10k); corpus streams.
    Returns (query_id, neighbor_id, adc_dist, rank) — approximate by
    construction; recall vs exact is golden-tested, and the whole
    deterministic pipeline is oracle-mirrored in SQL with the same
    literal codebooks.
    """
    corpus = _drop_null_vecs(corpus, vec_col)
    codes = pq_encode(corpus, codebooks, vec_col, id_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    return pq_adc_topk(codes, queries, codebooks, k=k, vec_col=vec_col, id_col=id_col)


def _collect_queries(
    queries: DataFrame, vec_col: str, id_col: str, caller: str
) -> list:
    """The query batch on the driver as ``(qid, qv)`` rows, NULL vectors
    dropped (the :func:`_drop_null_vecs` contract) and ``qv`` cast to
    double. Every driver-side query kernel collects its batch ONCE
    through here and then broadcasts it or turns it into literals, so
    the batch must be the small fixed production batch: guarded at
    10k."""
    rows = (
        _drop_null_vecs(queries, vec_col)
        .select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv"))
        .collect()
    )
    if len(rows) > 10_000:
        raise ValueError(
            f"{len(rows)} query vectors: {caller} broadcasts the query "
            "batch — pass the fixed production batch, not a corpus-sized "
            "query set (use lsh_topk/ivf_topk for that)"
        )
    return rows


def _query_matrix(rows: list, dim: int | None = None) -> np.ndarray:
    """(Q, D) float64 matrix of collected query vectors (NULL elements
    become NaN). ``dim`` defaults to the first vector's width; a
    vector of any other width fails loud, on the driver."""
    vecs = [list(r["qv"]) for r in rows]
    if dim is None:
        dim = len(vecs[0]) if vecs else 0
    bad = next((len(v) for v in vecs if len(v) != dim), None)
    if bad is not None:
        raise ValueError(f"query vectors must all have dim {dim}, got {bad}")
    return np.asarray(vecs, dtype=np.float64).reshape(len(vecs), dim)


def _probe_cids(
    qm: np.ndarray, centroids: list[list[float]], n_probe: int
) -> np.ndarray:
    """(Q, n_probe) probed centroid ids, computed on the driver and
    bit-identical to the SQL probe expression :func:`_probe_cids_sql`:
    the same :func:`_unit` centroids, the same left-to-right
    ``0.0 + x0*c0 + x1*c1 + ...`` double fold as :func:`_dot_sql` (one
    elementwise IEEE multiply and add per dimension, no BLAS
    reordering) and the same (-dot, cid) ascending order, in which
    -0.0 == 0.0 and NaN sorts last, so ties go to the smaller cid. A
    query whose width differs from the centroids' folds to NULL
    against every centroid in SQL (``zip_with`` pads with NULL): an
    all-tie row, which probes cids ``0..n_probe-1`` in both."""
    cents = np.asarray([_unit(c) for c in centroids], dtype=np.float64)
    dots = np.zeros((len(qm), len(cents)), dtype=np.float64)
    if qm.shape[1] != cents.shape[1]:
        dots[:] = np.nan
    else:
        for i in range(cents.shape[1]):
            dots = dots + qm[:, i, None] * cents[None, :, i]
    # stable sort: equal keys (including -0.0 vs 0.0 and NaN vs NaN)
    # keep cid order
    return np.argsort(-dots, axis=1, kind="stable")[:, :n_probe].astype(np.int32)


def _adc_luts(qm: np.ndarray, codebooks: list[list[list[float]]]) -> np.ndarray:
    """(Q, M, K) ADC lookup tables: squared L2 between each query's
    subvector m and every codeword of subspace m, the same numpy
    expression as :func:`pq_encode`'s distance tensor. The one LUT
    kernel, run once per query batch on the driver."""
    cb = np.asarray(codebooks, dtype=np.float64)  # (M, K, sub)
    xs = qm.reshape(len(qm), cb.shape[0], 1, cb.shape[2])
    return ((xs - cb[None, :, :, :]) ** 2).sum(axis=-1)


def _adc_query_frame(
    spark,
    rows: list,
    id_type: T.DataType,
    codebooks: list[list[list[float]]],
    probe: tuple[list[list[float]], int] | None = None,
    with_vec: bool = False,
) -> tuple[DataFrame, list[int]]:
    """The query side of ADC scoring as a literal frame
    (``LocalTableScan``), built from the ONE collected batch ``rows``
    (:func:`_collect_queries`): ``(query_id, lut[, cid][, qv])``, with
    the LUTs (:func:`_adc_luts`) and, for ``probe=(centroids,
    n_probe)``, the probed cids (:func:`_probe_cids`) computed on the
    driver, so the query side runs no Python worker and no scan.
    ``cid`` is exploded in the plan from a per-query array, so each
    LUT ships once per query. ``with_vec`` carries the raw query
    vector for an exact re-rank. Returns the frame and the sorted
    union of probed cids (empty without ``probe``)."""
    n_sub, _, sub = np.asarray(codebooks, dtype=np.float64).shape
    qm = _query_matrix(rows, n_sub * sub)
    recs = [[r["qid"], lut] for r, lut in zip(rows, _adc_luts(qm, codebooks).tolist())]
    fields = [
        T.StructField("query_id", id_type),
        T.StructField("lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
    cids: list[int] = []
    if probe is not None:
        probes = _probe_cids(qm, *probe)
        cids = sorted({int(c) for c in probes.flat})
        fields.append(T.StructField("cids", T.ArrayType(T.IntegerType())))
        for rec, p in zip(recs, probes.tolist()):
            rec.append(p)
    if with_vec:
        fields.append(T.StructField("qv", T.ArrayType(T.DoubleType())))
        for rec, r in zip(recs, rows):
            rec.append(list(r["qv"]))
    q = local_df(spark, [tuple(rec) for rec in recs], T.StructType(fields))
    if probe is not None:
        q = q.select(
            *[F.explode("cids").alias("cid") if c == "cids" else c for c in q.columns]
        )
    return q, cids


def _adc_rank(
    codes: DataFrame, q: DataFrame, n_sub: int, k: int, carry: tuple = ()
) -> DataFrame:
    """Top-``k`` by ADC distance per query: broadcast the literal query
    frame ``q`` (:func:`_adc_query_frame`) against ``codes`` (a hash
    join on ``cid`` when ``q`` carries probed cids, else the
    exhaustive cross join), score M LUT lookups + adds per pair,
    exclude self-matches, rank by (adc_dist, neighbor_id). ``carry``
    columns ride through the window, so an exact re-rank over the
    top-k needs no second scan."""
    code = F.col("pq_code")
    score = None
    for m in range(n_sub):
        # element_at is 1-based and takes a Column index (getItem with
        # a Column key silently yields NULL on arrays)
        term = F.element_at(F.col("lut")[m], code[m] + 1)
        score = term if score is None else score + term
    if "cid" in q.columns:
        # equi-join on cid: each corpus code lives in exactly one cid
        # and a query's probed cids are distinct, so pairs are unique
        pairs = F.broadcast(q).join(codes, "cid")
    else:
        pairs = F.broadcast(q).crossJoin(codes)
    pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", F.round(score, 6).alias("adc_dist"), *carry
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe: tuple[list[list[float]], int] | None = None,
) -> DataFrame:
    """ADC top-k over a PRE-ENCODED corpus: ``codes`` is
    ``(neighbor_id, pq_code[, cid])`` — the output of
    :func:`pq_encode` or the scan of a persisted IVF-PQ index — so the
    scan ships M small ints per row and the raw vectors never move.

    The query side is driver-side metadata: the batch is collected
    once (:func:`_collect_queries`: NULL vectors dropped, guarded at
    10k), each query's M x K lookup table is one numpy expression on
    the driver, and both enter the plan as a literal frame
    (:func:`_adc_query_frame`), not a per-batch UDF.
    ``probe=(centroids, n_probe)`` turns the scorer into IVF-PQ:
    ``codes`` must then carry the index's ``cid`` column, each query's
    probed cids come from :func:`_probe_cids` (bit-identical to
    :func:`ivf_topk`'s SQL probe order), and candidates come from a
    broadcast hash join on ``cid`` — never a cross join, expected
    n_probe/n_centroids of the scanned codes per query. Without
    ``probe`` the candidate set is the whole ``codes`` input
    (broadcast-queries cross join), which is :func:`pq_topk`'s
    exhaustive regime. An empty query batch gives an empty result.

    Returns (query_id, neighbor_id, adc_dist, rank), rank by
    (adc_dist asc, neighbor_id asc) — same determinism contract as
    :func:`pq_topk`, whose SQL oracle hash-checks this scorer."""
    rows = _collect_queries(queries, vec_col, id_col, "pq_adc_topk")
    q, _ = _adc_query_frame(
        codes.sparkSession, rows, queries.schema[id_col].dataType, codebooks, probe
    )
    return _adc_rank(codes, q, len(codebooks), k)


def pq_train_codebooks(
    corpus: DataFrame,
    n_subspaces: int,
    n_codewords: int,
    n_iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_fraction: float | None = None,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks: independent L2 Lloyd per subspace, seeded
    from deterministic hash-ranked rows (no RNG state), optionally on
    a hash-sample of the corpus (``train_fraction`` — same 100 TB
    knob as :func:`ivf_train_centroids`; codeword quality needs
    representativeness, not the full corpus).

    One exploded (row x subspace) frame drives all subspaces at once,
    so each Lloyd round is ONE groupBy over (subspace, assigned code)
    — M independent k-means without M separate scans. Only the k x M
    codeword means ever reach the driver.
    """
    from .sampling import sample_by_hash

    if train_fraction is not None:
        if not 0 < train_fraction <= 1:
            raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
        corpus = sample_by_hash(corpus, id_col, train_fraction, seed)
    corpus = _drop_null_vecs(corpus, vec_col)
    first = corpus.select(F.col(vec_col)).first()
    if first is None:
        raise ValueError("cannot train codebooks on an empty corpus")
    dim = len(first[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    subs = corpus.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[F.slice(_as_double(vec_col), m * sub + 1, sub) for m in range(n_subspaces)]
            )
        ).alias("m", "sv"),
    )
    subs = subs.persist()
    try:
        # deterministic seeds: the n_codewords hash-smallest rows per
        # subspace (hash of id|seed, same everywhere)
        wseed = Window.partitionBy("m").orderBy(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}"))), F.col(id_col)
        )
        seeds = (
            subs.withColumn("__r", F.row_number().over(wseed))
            .filter(F.col("__r") <= n_codewords)
            .select("m", (F.col("__r") - 1).alias("k"), F.col("sv"))
            .collect()
        )
        books: list[list[list[float]]] = [
            [None] * n_codewords for _ in range(n_subspaces)  # type: ignore[list-item]
        ]
        for r in seeds:
            books[r.m][r.k] = [float(x) for x in r.sv]
        for m in range(n_subspaces):
            for k_ in range(n_codewords):
                if books[m][k_] is None:  # tiny corpus: repeat seed 0
                    books[m][k_] = list(books[m][0])
        for _ in range(n_iters):
            # per-subspace argmin (array_position of array_min — see
            # pq_code for why not transform/when-chain) dispatched on m
            def argmin_m(m: int):
                d_arr = F.array(
                    *[_l2sq_lit(F.col("sv"), 0, cw) for cw in books[m]]
                )
                return (F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("int")

            assign = F.lit(None).cast("int")
            for m in range(n_subspaces):
                assign = F.when(F.col("m") == m, argmin_m(m)).otherwise(assign)
            assigned = subs.withColumn("k", assign)
            means = (
                assigned.groupBy("m", "k")
                .agg(
                    F.array(
                        *[F.avg(F.col("sv")[i]).alias(f"c{i}") for i in range(sub)]
                    ).alias("mean_sv")
                )
                .collect()
            )
            for r in means:
                books[r.m][r.k] = [float(x) for x in r.mean_sv]
        return books
    finally:
        subs.unpersist()


# ---------------------------------------------------------------------------
# Embedding quantization (int8 storage for ANN at scale)
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) — a 4x (float32) / 8x (float64)
    memory cut for the candidate side of ANN search, with dot products
    recoverable as dot(q_a, q_b) * scale_a * scale_b.

    Returns (id, q: array<int>, scale: double); zero vectors get
    scale 0 and all-zero codes. Arrow-vectorized like pq_encode — a
    pure-Column formulation needs the scale bound through nested
    lambdas, and Catalyst's projection collapse mis-bound those
    variables under column pruning (observed: correct q when collected
    directly, silently different q feeding a pruned downstream
    expression). floor(x+0.5), not round(): portable halfway
    semantics, and numpy float64 math is bit-identical to the SQL
    mirror.
    """

    @pandas_udf("struct<q: array<int>, scale: double>")
    def quant(vecs: pd.Series) -> pd.DataFrame:
        qs, scales = [], []
        for v in vecs:
            x = np.asarray(v, dtype=np.float64)
            scale = float(np.abs(x).max() / 127.0) if len(x) else 0.0
            if scale > 0:
                q = np.floor(x / scale + 0.5).astype("int32")
            else:
                q = np.zeros(len(x), dtype="int32")
            qs.append(list(map(int, q)))
            scales.append(scale)
        return pd.DataFrame({"q": qs, "scale": scales})

    packed = quant(F.col(vec_col))
    cols = [F.col(id_col), packed["q"].alias("q"), packed["scale"].alias("scale")]
    if keep_vec:
        # callers comparing against the original vector take it from
        # THIS select (one lineage, no second scan or join back)
        cols.append(F.col(vec_col).cast("array<double>").alias("v"))
    return df.select(*cols)


def dequantize(q: Column, scale: Column) -> Column:
    """array<double> reconstruction of a quantized vector."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k scored entirely on int8 codes: both sides are
    quantized (:func:`quantize_embeddings`) and cosine computed as
    dot(q_a, q_b) / (|q_a| * |q_b|) — the per-vector scales cancel in
    the ratio, so scoring is INTEGER dot products and two square
    roots per pair. The memory/bandwidth story of int8 ANN with
    deterministic, engine-exact arithmetic (integer sums have no
    float accumulation order); accuracy vs float cosine is bounded by
    the quantization error (golden-tested).

    Same shape as :func:`cosine_topk`: broadcast(queries) x corpus,
    one window shuffle. Zero vectors score 0.
    """
    return quantized_topk_prequantized(
        quantize_embeddings(_drop_null_vecs(corpus, vec_col), vec_col, id_col),
        quantize_embeddings(_drop_null_vecs(queries, vec_col), vec_col, id_col),
        k=k,
        id_col=id_col,
    )


def quantized_topk_prequantized(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Scoring half of :func:`quantized_cosine_topk` over ALREADY
    quantized frames (``(id_col, q)`` from
    :func:`quantize_embeddings`) — the steady-state usage: a corpus
    is quantized ONCE at ingest and persisted as the int8 table;
    every search pays only integer dot products. The composed
    function above is the one-shot convenience path (and the bench
    entry that measures quantize+score); this is the one a long-lived
    100 TB index actually runs per query batch.
    """
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # self-dots are per-VECTOR facts: compute them once per side
    # before the cross join (|q|+|c| aggregates), not per pair
    # (|q|*|c| of them was 2/3 of the scoring cost; same precompute
    # pattern as cosine_topk's prenormed norms). Integer arithmetic,
    # so the hoisted form is value-identical to the inline one.
    q = _drop_null_vecs(queries_q, "q").select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qa")
    ).withColumn("na", idot(F.col("qa"), F.col("qa")))
    c = _drop_null_vecs(corpus_q, "q").select(
        F.col(id_col).alias("neighbor_id"), F.col("q").alias("qb")
    ).withColumn("nb", idot(F.col("qb"), F.col("qb")))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dd", idot(F.col("qa"), F.col("qb")))
        .withColumn(
            "score",
            F.round(
                F.when(
                    (F.col("na") > 0) & (F.col("nb") > 0),
                    F.col("dd") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))),
                ).otherwise(0.0),
                6,
            ),
        )
    )
    return _rank_topk(pairs, k)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    group_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — the standard way
    to combine heterogeneous rankers (BM25 + dense ANN + priors) in
    hybrid search: fused score = sum over rankers of 1/(k + rank).

    Each input carries (group, id, rank); candidates missing from a
    ranker simply contribute nothing (RRF over the union). Per-ranker
    contributions are quantized to integer nano-units so the fused sum
    is order-invariant exact addition, then re-ranked per group with
    id tie-break.

    Plan: unionByName of the (already small, top-k-sized) rankings,
    one groupBy on (group, id), one window per group. Nothing here is
    corpus-sized — RRF runs downstream of rankers that already cut to
    top-k. Returns (group, id, rrf_nanos, rank).
    """
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking")
    slim = [
        r.select(
            F.col(group_col),
            F.col(id_col),
            F.round(F.lit(1e9) / (F.col(rank_col) + k)).cast("bigint").alias("c_nanos"),
        )
        for r in rankings
    ]
    u = slim[0]
    for s in slim[1:]:
        u = u.unionByName(s)
    fused = u.groupBy(group_col, id_col).agg(F.sum("c_nanos").alias("rrf_nanos"))
    w = Window.partitionBy(group_col).orderBy(F.desc("rrf_nanos"), F.asc(id_col))
    out = fused.withColumn("rank", F.row_number().over(w).cast("int"))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out.select(group_col, id_col, "rrf_nanos", "rank")


def _map_query_batch(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    caller: str,
    prepare,
    per_batch,
) -> DataFrame:
    """The collect-and-broadcast prologue and the corpus pass every
    Arrow query kernel shares. The query batch is collected once
    (:func:`_collect_queries`: NULL vectors dropped, guarded at 10k —
    tiny BY CONTRACT, the production fixed-batch regime), its (Q, D)
    matrix goes through ``prepare`` on the driver, and ``(qids,
    prepare(qm))`` is broadcast to every task. The corpus (NULL
    vectors dropped) then streams through ONE ``mapInPandas`` pass:
    ``per_batch(qids, payload, ids, cm)`` turns each Arrow batch's ids
    and (B, D) float64 vectors into ``(query_id, neighbor_id, score)``
    rows. No shuffle."""
    q_rows = _collect_queries(queries, vec_col, id_col, caller)
    if not q_rows:
        raise ValueError("empty query batch (no rows, or every query vector NULL)")
    qids = np.asarray([r["qid"] for r in q_rows], dtype=np.int64)
    bq = corpus.sparkSession.sparkContext.broadcast(
        (qids, prepare(_query_matrix(q_rows)))
    )

    def run(batches):
        b_qids, payload = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            cm = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
            yield per_batch(b_qids, payload, ids, cm)

    return (
        _drop_null_vecs(corpus, vec_col)
        .select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v"))
        .mapInPandas(run, "query_id bigint, neighbor_id bigint, score double")
    )


def _arrow_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    batch_keep: int | None,
    decimals: int,
    caller: str,
    prepare,
    scorer,
) -> DataFrame:
    """The one body of the Arrow top-k kernels; only the scoring
    differs. ``scorer(payload, cm)`` is called once per Arrow batch
    and returns ``score(j, ok) -> (rows, s)``: the scores ``s`` of
    batch rows ``rows`` for query ``j``, drawn from the rows where the
    bool mask ``ok`` (self-match excluded) holds. Each batch keeps its
    top ``batch_keep`` (default ``3k``) candidates per query; the
    exact global top-k per query comes from one window over the
    ~(batches × Q × 3k)-row candidate set, with scores rounded to
    ``decimals`` and ties broken on neighbor id. ``batch_keep > k``
    absorbs rounded-score ties at the raw-score cutoff (a row
    infinitesimally below the kth raw score can still win after
    rounding on the neighbor-id tie-break; a >2k-deep tie cluster
    inside one batch is the only way to get this wrong, at vanishing
    probability)."""
    keep = 3 * k if batch_keep is None else batch_keep

    def per_batch(qids, payload, ids, cm):
        score = scorer(payload, cm)
        out_q, out_n, out_s = [], [], []
        for j, qid in enumerate(qids):
            rows, s = score(j, ids != qid)
            if len(rows) > keep:
                sel = np.argpartition(-s, keep - 1)[:keep]
                rows, s = rows[sel], s[sel]
            out_q.append(np.full(len(rows), qid, dtype=np.int64))
            out_n.append(ids[rows])
            out_s.append(s)
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    cand = _map_query_batch(
        corpus, queries, vec_col, id_col, caller, prepare, per_batch
    )
    return _rank_topk(cand.withColumn("score", F.round("score", decimals)), k)


def _safe_norms(m: np.ndarray) -> np.ndarray:
    """Row norms with 0 replaced by 1, so a zero vector scores 0."""
    n = np.linalg.norm(m, axis=1)
    return np.where(n > 0, n, 1.0)


def _cosine_prepare(qm: np.ndarray):
    return qm, _safe_norms(qm)


def _dense(s: np.ndarray):
    """``score(j, ok)`` over a precomputed (B, Q) score matrix."""

    def score(j, ok):
        rows = np.flatnonzero(ok)
        return rows, s[rows, j]

    return score


def _cosine_scorer(payload, cm):
    qm, qn = payload
    return _dense((cm @ qm.T) / _safe_norms(cm)[:, None] / qn[None, :])


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_keep: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k, Arrow-vectorized: same contract
    as :func:`cosine_topk` (scores rounded to 4 dp, self-matches
    excluded, (score desc, neighbor_id) tie-break) but the scoring is
    one BLAS (B×dim)@(dim×Q) matmul per Arrow batch instead of a
    per-pair ``zip_with``/``aggregate`` fold.

    Why it exists: the expression fold is a Catalyst higher-order
    function — interpreted per element, never codegen'd — and the 30x
    scale run (`BENCH_scale_r06.json`) showed it becoming GC-bound
    (cosine_fixedq slope_tail 1.18). This is the narrow case where
    SCALING.md's "Python stays off the hot path" inverts: the
    JVM-side formulation is the interpreted one, and the Arrow batch
    transfer buys vectorized compute. Plan: :func:`_arrow_topk`.

    Returns (query_id, neighbor_id, score, rank).
    """
    return _arrow_topk(
        corpus, queries, k, vec_col, id_col, batch_keep, 4,
        "cosine_topk_arrow", _cosine_prepare, _cosine_scorer,
    )


def _quantize(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Int8 codes and the norms of the codes (0 for a zero vector):
    scale = max|v|/127, q = floor(v/scale + 0.5)."""
    scales = np.abs(m).max(axis=1) / 127.0
    safe = np.where(scales > 0, scales, 1.0)
    q = np.floor(m / safe[:, None] + 0.5).astype(np.int64)
    q[scales == 0] = 0
    return q, np.sqrt((q * q).sum(axis=1).astype(np.float64))


def _quantized_scorer(payload, cm):
    qq, qn = payload
    cq, cn = _quantize(cm)
    s = (cq @ qq.T) / np.where(cn > 0, cn, 1.0)[:, None]
    s /= np.where(qn > 0, qn, 1.0)[None, :]
    s[cn == 0, :] = 0.0
    s[:, qn == 0] = 0.0
    return _dense(s)


def quantized_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_keep: int | None = None,
) -> DataFrame:
    """Int8-scored cosine top-k, Arrow-vectorized — the numpy-matmul
    counterpart of :func:`quantized_cosine_topk` (same contract:
    symmetric per-vector quantization scale = max|v|/127,
    q = floor(v/scale + 0.5), score = dot(q_a,q_b) /
    (|q_a| |q_b|) rounded to 6 dp, self-matches excluded,
    (score desc, neighbor_id) tie-break).

    Unlike the float path, parity here is EXACT by construction: the
    pair math is integer dot products (no accumulation-order hazard),
    and the final division/sqrt are single IEEE operations identical
    on every engine — asserted against the expression-fold path in
    tests/test_similarity.py. The query batch is quantized on the
    driver; each corpus batch is quantized and scored as one int64
    matmul (:func:`_arrow_topk`).
    """
    return _arrow_topk(
        corpus, queries, k, vec_col, id_col, batch_keep, 6,
        "quantized_topk_arrow", _quantize, _quantized_scorer,
    )


def _ivf_scorer(payload, cm):
    qm, qn, probes, cents = payload
    cn = _safe_norms(cm)
    # assignment: argmax dot (first max -> smaller cid, same tie rule
    # as the strict-> fold)
    cid = np.argmax(cm @ cents.T, axis=1)

    def score(j, ok):
        rows = np.flatnonzero(ok & np.isin(cid, probes[j]))
        return rows, (cm[rows] @ qm[j]) / cn[rows] / qn[j]

    return score


def ivf_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_keep: int | None = None,
) -> DataFrame:
    """IVF approximate top-k, Arrow-vectorized — same semantics as
    :func:`ivf_topk` with pre-trained ``centroids`` (assignment =
    argmax dot against unit-normalized centroids, ties -> smaller cid;
    per-query probes = top ``n_probe`` centroids by dot, cid
    tie-break; exact cosine over probed buckets, 4-dp rounding,
    (score desc, neighbor_id) tie-break) but with both the assignment
    and the scoring as numpy matmuls in ONE mapInPandas corpus pass.

    The fold-based :func:`ivf_topk` spends most of its time in the
    interpreted nearest-cid fold (8 centroids x 64 dims per row);
    here each Arrow batch assigns via one (B x dim)@(dim x k_c) argmax
    and scores ONLY the probe-matched (query, row) pairs, so total
    scoring flops stay at the IVF candidate volume
    (~n_probe/n_centroids of brute force). Plan: :func:`_arrow_topk`;
    the probe lists are computed on the driver (:func:`_probe_cids`).
    """
    cents = np.asarray([_unit(c) for c in centroids], dtype=np.float64)

    def prepare(qm):
        # per-query probe list: dot desc, cid asc, the fold path's order
        return qm, _safe_norms(qm), _probe_cids(qm, centroids, n_probe), cents

    return _arrow_topk(
        corpus, queries, k, vec_col, id_col, batch_keep, 4,
        "ivf_topk_arrow", prepare, _ivf_scorer,
    )


def cosine_threshold_pairs_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All (query, corpus) pairs with cosine similarity ≥ ``threshold``
    — the threshold-join sibling of :func:`cosine_topk_arrow` (same
    collected-and-broadcast query batch ≤ 10k, same one-pass
    mapInPandas matmul, :func:`_map_query_batch`; ZERO shuffle), for
    workloads that want every match above a floor rather than a fixed
    k: decontamination against a benchmark suite, blocklist screening,
    semantic recall sweeps.

    Scores are rounded to 6 dp BEFORE the comparison so the membership
    predicate is reproducible across engines (the DuckDB oracle
    mirrors ``ROUND(cos, 6) >= threshold`` exactly). Self-matches are
    NOT excluded — when the benchmark leaked into the corpus, the
    self-pair IS the contamination. NULL vectors drop on both sides
    (the shared `_drop_null_vecs` contract); zero vectors score NaN
    and never match.

    Returns (query_id, neighbor_id, score).
    """
    thr = float(threshold)

    def per_batch(qids, payload, ids, cm):
        qm, qn = payload
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.round(
                (cm @ qm.T) / np.linalg.norm(cm, axis=1)[:, None] / qn[None, :], 6
            )
        ci, qi = np.nonzero(s >= thr)  # NaN compares False: zero vecs out
        return pd.DataFrame(
            {"query_id": qids[qi], "neighbor_id": ids[ci], "score": s[ci, qi]}
        )

    return _map_query_batch(
        corpus, queries, vec_col, id_col, "cosine_threshold_pairs_arrow",
        lambda qm: (qm, np.linalg.norm(qm, axis=1)), per_batch,
    )


def decontaminate_by_embedding(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic decontamination: drop every corpus row whose embedding
    scores cosine ≥ ``threshold`` against ANY benchmark vector — the
    eval-leakage stage of a pretraining pipeline (n-gram
    decontamination catches verbatim leaks; this catches paraphrased
    ones the embedding space still collapses).

    Plan: one zero-shuffle :func:`cosine_threshold_pairs_arrow` scan
    (benchmark suite broadcast), contaminated ids distinct'd (bounded
    by the corpus side of the matches), one anti join. Linear in
    corpus size; benchmark suites are small by nature (≤ 10k enforced
    by the kernel).
    """
    pairs = cosine_threshold_pairs_arrow(
        corpus, bench, threshold, vec_col=vec_col, id_col=id_col
    )
    contaminated = pairs.select(F.col("neighbor_id").alias(id_col)).distinct()
    return corpus.join(contaminated, [id_col], "left_anti")


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    positives: DataFrame,
    n_neg: int = 3,
    k_cand: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    anchor_col: str = "anchor_id",
    positive_col: str = "positive_id",
    flag_shortfall: bool = False,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Hard negatives for contrastive / reranker training: per anchor,
    the ``n_neg`` most-similar corpus items that are NOT its known
    positives — the highest-loss negatives, the ones worth training on
    (random negatives are trivially separable).

    ``positives`` is (anchor_col, positive_col); self-matches are
    already excluded by the top-k contract. ``k_cand`` must exceed
    ``n_neg`` plus the anchor's positive count or true negatives get
    crowded out of the candidate pool — sizing it is the CALLER's
    responsibility (``n_neg + max positives per anchor``; the default
    ``2 * n_neg + 2`` covers anchors with ≤ ``n_neg + 2`` positives).
    Crowding is NOT asserted row-by-row by default (the survivors are
    still the hardest available negatives, just fewer or softer);
    pass ``flag_shortfall=True`` to append a boolean ``shortfall``
    column marking every row of an anchor that returned fewer than
    ``n_neg`` negatives — the visible symptom of an undersized pool —
    at the cost of one extra count over the (anchor, ≤ n_neg)-sized
    output window.

    Plan: one candidate pass, one broadcast anti join against
    positives, one re-rank window. Returns (anchor_id, negative_id,
    score, rank) (+ ``shortfall`` when requested).

    ``candidates=None`` (default) generates the pool with the exact
    :func:`cosine_topk` — oracle-exact, but all-pairs anchors x
    corpus, which is the WRONG plan when anchors scale with the
    corpus (measured slope 1.236, BENCH_scale_r08.json). At scale
    pass any pre-computed (query_id, neighbor_id, score) frame —
    :func:`cosine_topk_arrow` for vectorized-exact, :func:`ivf_topk`
    / ``retrieval.query_ann_index`` for sublinear candidate
    generation (recall-floor-tested in ``tests/test_recall.py``;
    hash-parity with the default proven by the
    ``hard_negatives_composed`` gate entry). ``k_cand`` sizing then
    belongs to the caller's generator; self-pairs are dropped here
    either way.
    """
    if k_cand is None:
        k_cand = 2 * n_neg + 2
    if candidates is None:
        q = anchors.select(F.col(id_col), F.col(vec_col))
        cand = cosine_topk(corpus, q, k=k_cand, vec_col=vec_col, id_col=id_col)
    else:
        cand = candidates.select(
            "query_id", "neighbor_id", "score"
        ).filter(F.col("query_id") != F.col("neighbor_id"))
    pos = positives.select(
        F.col(anchor_col).alias("query_id"),
        F.col(positive_col).alias("neighbor_id"),
    )
    neg = cand.join(F.broadcast(pos), ["query_id", "neighbor_id"], "left_anti")
    out = _rank_topk(neg, n_neg).select(
        F.col("query_id").alias(anchor_col),
        F.col("neighbor_id").alias("negative_id"),
        "score",
        "rank",
    )
    if flag_shortfall:
        wc = Window.partitionBy(anchor_col)
        out = out.withColumn("shortfall", F.count(F.lit(1)).over(wc) < n_neg)
    return out


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    score_col: str = "score",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank of an ANN candidate pool:
    per query, greedily select ``k`` neighbors maximizing
    ``lam * score - (1 - lam) * max_cosine_to_already_selected`` — the
    standard diversity-aware selection for RAG context assembly and
    training-example curation, where the plain top-k is often k
    near-duplicates of the same passage.

    Composes downstream of ANY candidate generator (``cosine_topk``,
    ``ivf_topk``, ``query_ann_index``, a ``candidates=``-style frame):
    ``candidates`` is (query_id, neighbor_id, score), vectors are
    joined from ``corpus`` once. MMR itself is inherently sequential
    PER QUERY, so it runs as one Arrow ``applyInPandas`` over the
    query group — the pool is generator-bounded (tens to hundreds of
    rows), the greedy loop is O(k·|pool|·dim) numpy on that bounded
    batch, and queries parallelize embarrassingly across the shuffle.
    Nothing here scales with the corpus: the corpus-sized work already
    happened in the generator. The penalty term is the SIGNED max
    cosine to the already-selected set (textbook MMR: the first pick
    carries no penalty; anti-correlated candidates are genuinely
    rewarded, not floored at 0 — ADVICE r10). Ties in the marginal
    gain break by (score desc, neighbor id asc) — the exact order the
    ``mmr_rerank_fixedq`` SQL oracle mirrors; ``lam=1.0`` degrades to
    pure score order (golden-asserted). Id and score columns are
    schema-polymorphic (long/int/string ids, float/double scores —
    the output types mirror the candidate frame's). Returns
    (query_col, neighbor_col, score_col, mmr_rank 1..k).
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    pool = candidates.select(query_col, neighbor_col, score_col).join(
        corpus.select(
            F.col(id_col).alias(neighbor_col),
            _as_double(vec_col).alias("_v"),
        ),
        neighbor_col,
    )
    # output types mirror the candidate frame's (string/int ids, float
    # scores all pass through) — hardcoding long/double broke the text
    # doc_id regime (ADVICE r10)
    cand_t = {f.name: f.dataType.simpleString() for f in candidates.schema.fields}
    out_schema = (
        f"`{query_col}` {cand_t[query_col]}, "
        f"`{neighbor_col}` {cand_t[neighbor_col]}, "
        f"`{score_col}` {cand_t[score_col]}, mmr_rank int"
    )

    def pick(pdf):
        import numpy as _np
        import pandas as _pd

        # deterministic frame order: score desc, id asc (tie-break)
        pdf = pdf.sort_values(
            [score_col, neighbor_col], ascending=[False, True]
        ).reset_index(drop=True)
        vm = _np.asarray(pdf["_v"].tolist(), dtype=_np.float64)
        norms = _np.linalg.norm(vm, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0
        unit = vm / norms[:, None]
        scores = pdf[score_col].to_numpy(dtype=_np.float64)
        n = len(pdf)
        selected: list[int] = []
        # penalty is the SIGNED max cosine to the selected set: None
        # until the first pick (no penalty round 1), then the true
        # signed running max — zero-init would floor anti-correlated
        # candidates at 0 and under-reward maximal diversity (ADVICE
        # r10; -inf init would NaN out at lam=1.0 via 0 * -inf)
        max_sim = None
        free = _np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if max_sim is None:
                gain = lam * scores
            else:
                gain = lam * scores - (1.0 - lam) * max_sim
            gain[~free] = -_np.inf
            # argmax ties resolve to the first maximum in frame order
            # (score desc, id asc) — i.e. higher score, then smaller
            # neighbor id, the order the SQL oracle mirrors
            i = int(_np.argmax(gain))
            selected.append(i)
            free[i] = False
            sims = unit @ unit[i]
            max_sim = sims if max_sim is None else _np.maximum(max_sim, sims)
        return _pd.DataFrame(
            {
                query_col: pdf[query_col].iloc[selected].to_numpy(),
                neighbor_col: pdf[neighbor_col].iloc[selected].to_numpy(),
                score_col: pdf[score_col].iloc[selected].to_numpy(),
                "mmr_rank": _np.arange(1, len(selected) + 1, dtype=_np.int32),
            }
        )

    return pool.groupBy(query_col).applyInPandas(pick, out_schema)
