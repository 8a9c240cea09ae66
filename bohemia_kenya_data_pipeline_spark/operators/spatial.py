"""Spatial operators (J11/J12 + C8): haversine distance, ray-casting
point-in-polygon with a buffered fallback, cluster assignment, and
nearest-facility join.

Reference (in /root/reference/):
- cluster reassignment, strict then 50 m buffer —
  pipeline-cleaning/R/processing_utils.R:434-508 (sp::over +
  rgeos::gBuffer over UTM-projected points)
- anomaly geo check — pipeline-cleaning/R/anomalies_utils.R:75-91
- nearest health facility — pipeline-analysis/distance_analyses/
  hh_to_hf.qmd:62-64 (st_distance matrix + per-row argmin)

Spark-first design (100 TB):
- Polygon sets are tiny (96 trial clusters): they are embedded as a
  *literal* array-of-structs column, so point-in-polygon is a pure
  map-side expression — zero shuffle, whole-stage codegen, no UDF.
- Ray casting + point-to-segment distance are higher-order-function
  folds (``aggregate``/``transform``) over the vertex arrays — JVM
  expressions, not Python.
- Nearest-neighbor broadcasts the (small) facility side; the result
  is one window shuffle on the point id. For facility sets too large
  to broadcast, grid-bucket both sides first (same pattern as the
  similarity LSH join).
- The buffered fallback uses a local equirectangular projection
  around each point (exact enough at 50 m scales) instead of a UTM
  reprojection round-trip.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0
#: meters per degree of latitude (WGS84 mean)
M_PER_DEG_LAT = 110574.0
M_PER_DEG_LON_EQ = 111320.0


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (pure Column expression)."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon) * F.sin(dlon)
    )
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


# ---------------------------------------------------------------------------
# Polygon literals + ray casting
# ---------------------------------------------------------------------------


def polygon_literal(polygons: Sequence[tuple[int, Sequence[tuple[float, float]]]]) -> Column:
    """Embed a small polygon set as a literal
    array<struct<pid,verts,minlon,maxlon,minlat,maxlat>> column —
    driver-side metadata (≤ a few hundred polygons), evaluated
    map-side. The precomputed bounding box is the per-point pruning
    index: candidate selection is 4 comparisons instead of a ray-cast."""
    from .similarity import _sql_dbl

    # one SQL parse for the whole polygon set, not a py4j call per
    # coordinate (see similarity._centroid_literal_sql — same r14 fix)
    entries = []
    for pid, verts in polygons:
        lons = [float(lon) for lon, _ in verts]
        lats = [float(lat) for _, lat in verts]
        vs = ",".join(
            "named_struct('lon', {}, 'lat', {})".format(
                _sql_dbl(lon), _sql_dbl(lat)
            )
            for lon, lat in verts
        )
        entries.append(
            "named_struct('pid', {}, 'verts', array({}), "
            "'minlon', {}, 'maxlon', {}, 'minlat', {}, 'maxlat', {})".format(
                int(pid), vs, _sql_dbl(min(lons)), _sql_dbl(max(lons)),
                _sql_dbl(min(lats)), _sql_dbl(max(lats)),
            )
        )
    return F.expr("array(" + ",".join(entries) + ")")


def _edges(verts: Column) -> Column:
    """Close the ring and pair consecutive vertices:
    [v1..vn] -> [(v1,v2), ..., (vn,v1)]."""
    nxt = F.concat(F.slice(verts, 2, F.size(verts) - 1), F.slice(verts, 1, 1))
    return F.arrays_zip(verts.alias("a"), nxt.alias("b"))


def point_in_polygon(lon: Column, lat: Column, verts: Column) -> Column:
    """Ray-casting test (odd number of edge crossings of the +x ray)
    as an ``aggregate`` fold over the closed edge list — no UDF."""
    def cross(acc: Column, e: Column) -> Column:
        y1, y2 = e["a"]["lat"], e["b"]["lat"]
        x1, x2 = e["a"]["lon"], e["b"]["lon"]
        crosses = ((y1 > lat) != (y2 > lat)) & (
            lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        )
        return F.when(crosses, ~acc).otherwise(acc)

    return F.aggregate(_edges(verts), F.lit(False), cross)


def point_to_polygon_m(lon: Column, lat: Column, verts: Column) -> Column:
    """Min distance (meters) from a point to a polygon boundary: fold
    of point-to-segment distances in a local equirectangular frame
    (exact enough for ≤100 m buffers)."""
    mlon = F.lit(M_PER_DEG_LON_EQ) * F.cos(F.radians(lat))
    mlat = F.lit(M_PER_DEG_LAT)

    def seg_dist(e: Column) -> Column:
        ax = (e["a"]["lon"] - lon) * mlon
        ay = (e["a"]["lat"] - lat) * mlat
        bx = (e["b"]["lon"] - lon) * mlon
        by = (e["b"]["lat"] - lat) * mlat
        dx, dy = bx - ax, by - ay
        seg_len2 = dx * dx + dy * dy
        t_raw = F.when(seg_len2 > 0, -(ax * dx + ay * dy) / seg_len2).otherwise(F.lit(0.0))
        t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
        px, py = ax + t * dx, ay + t * dy
        return F.sqrt(px * px + py * py)

    return F.aggregate(
        _edges(verts),
        F.lit(float("inf")),
        lambda acc, e: F.least(acc, seg_dist(e)),
    )


def assign_clusters(
    points: DataFrame,
    polygons: Sequence[tuple[int, Sequence[tuple[float, float]]]],
    lon_col: str = "Longitude",
    lat_col: str = "Latitude",
    buffer_m: float = 50.0,
) -> DataFrame:
    """C8/J11: tag each point with its containing cluster; points not
    strictly inside any polygon fall back to the nearest polygon
    within ``buffer_m`` (processing_utils.R:456-495 semantics:
    old_cluster_correct = coalesce(strict, buffered),
    geo_not_in_cluster = no buffered match either).

    Zero-shuffle plan: the polygon set rides along as a literal; both
    matches are folds over it. Ties (overlapping polygons) resolve to
    the smallest pid for determinism.
    """
    lon, lat = F.col(lon_col), F.col(lat_col)
    polys = polygon_literal(polygons)

    # 1) bbox prune: 4 comparisons per polygon cut the candidate set
    #    to the 0-2 polygons whose (buffer-padded) box contains the
    #    point — the expensive folds below then run on ~1 element,
    #    not the whole polygon set.
    #    BOUNDED HOF (tests/test_hof_inventory.py): this filter (and
    #    the vertex folds in point_in_polygon/point_to_polygon_m) run
    #    over the POLYGON LITERAL — tens of study clusters by domain
    #    (reference: Kwale cluster shapefile), never data-sized; the
    #    filter IS the prune that keeps the O(vertices) folds off
    #    all but ~1 candidate. Measured: spatial_cluster_assign 10×
    #    slope 0.30 (BENCH_scale_r06); at 100s+ of polygons the
    #    grid-bucketed variant (assign_clusters_bucketed) replaces
    #    the literal entirely.
    pad_lat = buffer_m / M_PER_DEG_LAT + 1e-9
    pad_lon = (buffer_m / M_PER_DEG_LON_EQ) / F.greatest(
        F.cos(F.radians(lat)), F.lit(0.01)
    ) + 1e-9
    cand = F.filter(
        polys,
        lambda p: (lon >= p["minlon"] - pad_lon)
        & (lon <= p["maxlon"] + pad_lon)
        & (lat >= p["minlat"] - pad_lat)
        & (lat <= p["maxlat"] + pad_lat),
    )

    # 2) evaluate inside/distance exactly ONCE per candidate
    #    (transform materializes the per-polygon structs), then reduce
    #    in one fold — separate strict/buffered folds would re-run the
    #    ray-cast and segment-distance subtrees 3x.
    per_poly = F.transform(
        cand,
        lambda p: F.struct(
            p["pid"].alias("pid"),
            point_in_polygon(lon, lat, p["verts"]).alias("inside"),
            point_to_polygon_m(lon, lat, p["verts"]).alias("d"),
        ),
    )
    res = F.aggregate(
        per_poly,
        F.struct(
            F.lit(None).cast("int").alias("strict"),
            F.lit(None).cast("int").alias("bpid"),
            F.lit(float("inf")).alias("bd"),
        ),
        lambda acc, x: F.struct(
            F.when(
                x["inside"] & (acc["strict"].isNull() | (x["pid"] < acc["strict"])),
                x["pid"],
            )
            .otherwise(acc["strict"])
            .alias("strict"),
            F.when(x["d"] < acc["bd"], x["pid"]).otherwise(acc["bpid"]).alias("bpid"),
            F.least(x["d"], acc["bd"]).alias("bd"),
        ),
    )
    # materialize the fold once; CollapseProject keeps multi-referenced
    # non-trivial exprs in their own Project instead of re-inlining.
    staged = points.withColumn("_pip", res)
    strict = F.col("_pip")["strict"]
    buffered = F.when(F.col("_pip")["bd"] <= buffer_m, F.col("_pip")["bpid"])
    return (
        staged.withColumn("geo_cluster_num", F.coalesce(strict, buffered))
        .withColumn("geo_not_in_cluster", strict.isNull() & buffered.isNull())
        .drop("_pip")
    )


# ---------------------------------------------------------------------------
# J12 — nearest neighbor
# ---------------------------------------------------------------------------


def nearest_neighbor(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str = "id",
    facility_id: str = "hf_id",
    point_lat: str = "lat",
    point_lon: str = "lon",
    fac_lat: str = "lat",
    fac_lon: str = "lon",
    round_m: int = 1,
) -> DataFrame:
    """Nearest facility per point (hh_to_hf.qmd:62-64: st_distance
    matrix + row argmin). Broadcast(facilities) × points — map-side
    nested loop, then one window shuffle on the point id. Distance is
    rounded before ranking so results are reproducible across engines.

    Returns (point_id, facility_id, dist_m).
    """
    p = points.select(
        F.col(point_id).alias("_pid"),
        F.col(point_lat).alias("_plat"),
        F.col(point_lon).alias("_plon"),
    )
    f = facilities.select(
        F.col(facility_id).alias("_fid"),
        F.col(fac_lat).alias("_flat"),
        F.col(fac_lon).alias("_flon"),
    )
    scored = p.crossJoin(F.broadcast(f)).withColumn(
        "dist_m",
        F.round(
            haversine_m(F.col("_plat"), F.col("_plon"), F.col("_flat"), F.col("_flon")),
            round_m,
        ),
    )
    w = Window.partitionBy("_pid").orderBy(F.col("dist_m"), F.col("_fid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_pid").alias(point_id),
            F.col("_fid").alias(facility_id),
            "dist_m",
        )
    )


def assign_clusters_bucketed(
    points: DataFrame,
    polygons: DataFrame,
    id_col: str = "id",
    lon_col: str = "Longitude",
    lat_col: str = "Latitude",
    pid_col: str = "pid",
    seq_col: str = "seq",
    plon_col: str = "lon",
    plat_col: str = "lat",
    buffer_m: float = 50.0,
    cell_m: float = 20000.0,
    lat_ref: float = 0.0,
) -> DataFrame:
    """C8/J11 at scale: cluster assignment when the polygon set is too
    large to embed as a plan literal (:func:`assign_clusters` caps out
    at a few hundred rings). Same output contract: ``geo_cluster_num``
    (strict containment, min pid; else nearest boundary within
    ``buffer_m``), ``geo_not_in_cluster``.

    ``polygons`` is the tabular ring-vertex form (pid, seq, lon, lat —
    what :func:`load_polygons_csv` reads), kept distributed:

    1. per-pid payload: sorted vertex array + bbox (one groupBy over
       vertex rows — polygon metadata, not point data);
    2. each polygon explodes onto the grid cells its buffer-padded
       bbox covers (pad computed at the polygon's worst latitude);
       each point lands in its single cell — the equi-join on (cx, cy)
       yields each (point, polygon) candidate at most once, and every
       point within ``buffer_m`` of a polygon shares a cell with it by
       construction;
    3. bbox filter, then the same ray-cast/segment-distance folds as
       the literal variant, aggregated per point (min-pid strict,
       min-(distance, pid) buffered); a left join re-attaches points
       with no candidates.

    Costs 3 point-side shuffles (cell join, per-point agg, re-attach)
    vs the literal plan's zero — the price of unbounded polygon sets;
    prefer :func:`assign_clusters` below a few hundred polygons.
    Requires a unique ``id_col`` on ``points``.
    """
    dlat = cell_m / M_PER_DEG_LAT
    dlon = cell_m / (M_PER_DEG_LON_EQ * math.cos(math.radians(lat_ref)))

    sv = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(seq_col).alias("seq"),
                F.col(plon_col).alias("lon"),
                F.col(plat_col).alias("lat"),
            )
        )
    )
    polys = polygons.groupBy(F.col(pid_col).alias("pid")).agg(
        F.transform(sv, lambda s: F.struct(s["lon"].alias("lon"), s["lat"].alias("lat"))).alias(
            "verts"
        ),
        F.min(plon_col).alias("minlon"),
        F.max(plon_col).alias("maxlon"),
        F.min(plat_col).alias("minlat"),
        F.max(plat_col).alias("maxlat"),
    )
    cos_worst = F.greatest(
        F.cos(F.radians(F.greatest(F.abs("minlat"), F.abs("maxlat")))), F.lit(0.01)
    )
    pad_lat = F.lit(buffer_m / M_PER_DEG_LAT + 1e-9)
    pad_lon = F.lit(buffer_m) / (F.lit(M_PER_DEG_LON_EQ) * cos_worst) + 1e-9
    cells = polys.withColumn(
        "cx",
        F.explode(
            F.sequence(
                F.floor((F.col("minlon") - pad_lon) / dlon),
                F.floor((F.col("maxlon") + pad_lon) / dlon),
            )
        ),
    ).withColumn(
        "cy",
        F.explode(
            F.sequence(
                F.floor((F.col("minlat") - pad_lat) / dlat),
                F.floor((F.col("maxlat") + pad_lat) / dlat),
            )
        ),
    )

    lon, lat = F.col(lon_col), F.col(lat_col)
    p = points.select(
        F.col(id_col).alias("_pid_pt"),
        lon.alias("_lon"),
        lat.alias("_lat"),
        F.floor(lon / dlon).alias("cx"),
        F.floor(lat / dlat).alias("cy"),
    )
    plon, plat = F.col("_lon"), F.col("_lat")
    cand = (
        p.join(cells, ["cx", "cy"])
        .filter(
            (plon >= F.col("minlon") - pad_lon)
            & (plon <= F.col("maxlon") + pad_lon)
            & (plat >= F.col("minlat") - pad_lat)
            & (plat <= F.col("maxlat") + pad_lat)
        )
        .withColumn("_inside", point_in_polygon(plon, plat, F.col("verts")))
        .withColumn("_d", point_to_polygon_m(plon, plat, F.col("verts")))
    )
    agg = cand.groupBy("_pid_pt").agg(
        F.min(F.when(F.col("_inside"), F.col("pid"))).alias("_strict"),
        F.min(F.struct(F.col("_d").alias("d"), F.col("pid").alias("pid"))).alias("_best"),
    )
    out = points.join(
        agg.withColumnRenamed("_pid_pt", id_col), id_col, "left"
    )
    strict = F.col("_strict")
    buffered = F.when(F.col("_best.d") <= buffer_m, F.col("_best.pid"))
    return (
        out.withColumn("geo_cluster_num", F.coalesce(strict, buffered))
        .withColumn("geo_not_in_cluster", strict.isNull() & buffered.isNull())
        .drop("_strict", "_best")
    )


def _bucketed_accept(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str,
    facility_id: str,
    point_lat: str,
    point_lon: str,
    fac_lat: str,
    fac_lon: str,
    round_m: int,
    cell_m: float,
    lat_ref: float,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Steps 1-3 of the bucketed nearest-neighbor plan (grid bucketing,
    3x3 candidate equi-join, provable-argmin proof gate), shared by
    :func:`nearest_neighbor_bucketed` (which adds the fallback pass)
    and :func:`nearest_bucket_stats` (which prices the fallback without
    running it). Returns lazy (points, facilities, accepted) frames in
    the internal (_pid/_fid/...) naming."""
    dlat = cell_m / M_PER_DEG_LAT
    dlon = cell_m / (M_PER_DEG_LON_EQ * math.cos(math.radians(lat_ref)))

    p = points.select(
        F.col(point_id).alias("_pid"),
        F.col(point_lat).alias("_plat"),
        F.col(point_lon).alias("_plon"),
    )
    f = facilities.select(
        F.col(facility_id).alias("_fid"),
        F.col(fac_lat).alias("_flat"),
        F.col(fac_lon).alias("_flon"),
    )
    fc = f.select(
        "*",
        F.floor(F.col("_flon") / dlon).alias("cx"),
        F.floor(F.col("_flat") / dlat).alias("cy"),
    )
    neighborhood = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    pc = p.select(
        "*",
        F.floor(F.col("_plon") / dlon).alias("_cx0"),
        F.floor(F.col("_plat") / dlat).alias("_cy0"),
    ).select(
        "*",
        F.explode(neighborhood).alias("_nb"),
    ).select(
        "_pid",
        "_plat",
        "_plon",
        (F.col("_cx0") + F.col("_nb.dx")).alias("cx"),
        (F.col("_cy0") + F.col("_nb.dy")).alias("cy"),
    )
    cand = pc.join(fc, ["cx", "cy"]).withColumn(
        "dist_m",
        F.round(
            haversine_m(F.col("_plat"), F.col("_plon"), F.col("_flat"), F.col("_flon")),
            round_m,
        ),
    )
    best = cand.groupBy("_pid").agg(
        F.min(F.struct(F.col("dist_m"), F.col("_fid"))).alias("_best"),
        F.first("_plat").alias("_plat"),
    )
    # meters to the nearest edge of the 3x3 block: one full cell —
    # cell_m vertically, cell_m * cos(lat)/cos(lat_ref) horizontally.
    margin = F.least(
        F.lit(cell_m),
        F.lit(cell_m)
        * F.cos(F.radians(F.col("_plat")))
        / F.lit(math.cos(math.radians(lat_ref))),
    )
    accepted = best.filter(F.col("_best.dist_m") <= 0.99 * margin).select(
        "_pid", F.col("_best._fid").alias("_fid"), F.col("_best.dist_m").alias("dist_m")
    )
    return p, f, accepted


def nearest_bucket_stats(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str = "id",
    facility_id: str = "hf_id",
    point_lat: str = "lat",
    point_lon: str = "lon",
    fac_lat: str = "lat",
    fac_lon: str = "lon",
    round_m: int = 1,
    cell_m: float = 5000.0,
    lat_ref: float = 0.0,
) -> DataFrame:
    """Spill report for sizing ``cell_m`` in
    :func:`nearest_neighbor_bucketed` — the :func:`minhash_bucket_stats`
    pattern (dedup.py) applied to the spatial grid. Runs ONLY the cheap
    accept pass (grid join + proof gate) and prices the fallback
    instead of running it: one row

        (n_points, n_facilities, n_leftover, leftover_fraction,
         fallback_pairs, max_cell_facilities)

    where ``fallback_pairs = n_leftover * n_facilities`` is the exact
    join volume the broadcast-leftovers fallback would score, and
    ``max_cell_facilities`` flags hot grid cells (a dense facility
    cluster inside one cell inflates the candidate join instead).

    Heuristic that keeps both numbers small at uniform density: size
    ``cell_m`` so a 3x3 neighborhood holds a handful of facilities —
    ``cell_m ≈ sqrt(area_km2 / n_facilities) * 1000`` puts ~9 expected
    facilities in the block (leftovers become the sparse-border tail)
    while any single cell holds ~1. Halve it if
    ``max_cell_facilities`` says cells are hot; double it if
    ``leftover_fraction`` says neighborhoods are empty.
    """
    p, f, accepted = _bucketed_accept(
        points, facilities, point_id, facility_id,
        point_lat, point_lon, fac_lat, fac_lon, round_m, cell_m, lat_ref,
    )
    dlat = cell_m / M_PER_DEG_LAT
    dlon = cell_m / (M_PER_DEG_LON_EQ * math.cos(math.radians(lat_ref)))
    n_points = p.agg(F.count(F.lit(1)).alias("n_points"))
    n_fac = f.agg(F.count(F.lit(1)).alias("n_facilities"))
    n_acc = accepted.agg(F.count(F.lit(1)).alias("n_accepted"))
    hot = (
        f.groupBy(
            F.floor(F.col("_flon") / dlon).alias("cx"),
            F.floor(F.col("_flat") / dlat).alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.max("n"), F.lit(0)).alias("max_cell_facilities"))
    )
    return (
        n_points.crossJoin(n_fac)
        .crossJoin(n_acc)
        .crossJoin(hot)
        .select(
            "n_points",
            "n_facilities",
            (F.col("n_points") - F.col("n_accepted")).alias("n_leftover"),
            F.round(
                (F.col("n_points") - F.col("n_accepted"))
                / F.greatest(F.col("n_points"), F.lit(1)),
                4,
            ).alias("leftover_fraction"),
            (
                (F.col("n_points") - F.col("n_accepted")) * F.col("n_facilities")
            ).alias("fallback_pairs"),
            "max_cell_facilities",
        )
    )


def nearest_neighbor_bucketed(
    points: DataFrame,
    facilities: DataFrame,
    point_id: str = "id",
    facility_id: str = "hf_id",
    point_lat: str = "lat",
    point_lon: str = "lon",
    fac_lat: str = "lat",
    fac_lon: str = "lon",
    round_m: int = 1,
    cell_m: float = 5000.0,
    lat_ref: float = 0.0,
    levels: int = 3,
    pin_leftovers: bool = False,
) -> DataFrame:
    """J12 at scale: exact nearest facility WITHOUT broadcasting the
    facility side — the grid-bucketed fallback the module docstring
    promises for facility sets too large for a broadcast
    (hh_to_hf.qmd:62-64 semantics, same output contract as
    :func:`nearest_neighbor`).

    Plan (same shape as the similarity LSH joins):

    1. Bucket both sides into a fixed lon/lat grid of ``cell_m``-sized
       cells (sized at ``lat_ref``). Facilities land in their own cell;
       each point explodes into its 3x3 cell neighborhood — a 9x
       fan-out of the (cheap) point keys, never of facility payloads.
    2. Equi-join on cell → candidates; per-point argmin via a
       map-side-combining ``min(struct(dist, fid))`` groupBy (no
       window: partial aggregation beats a full sort at scale).
    3. PROOF GATE: a point strictly inside its center cell is at least
       one full cell (in meters, at its latitude) away from anything
       outside the 3x3 block — so a candidate at distance
       <= 0.99 * that margin is provably the GLOBAL argmin. Points
       that can't prove it (empty neighborhood, or best candidate
       beyond the margin) fall through.
    4. Fallback pass for the leftovers only: broadcast the (few)
       unresolved POINTS against the full facility table and argmin —
       the big side streams, nothing large is broadcast. Size
       ``cell_m`` to facility density so this pass stays small; at
       uniform density it is the empty-neighborhood tail only.

    Exactness: pass-3 acceptance is conservative (0.99 safety covers
    the equirectangular-vs-haversine gap and the ``round_m`` rounding),
    so accepted rows equal the broadcast variant's bit-for-bit; the
    fallback recomputes globally. Ties resolve (dist, fid)-lexico in
    both passes, matching :func:`nearest_neighbor`.

    A mis-sized ``cell_m`` silently turns the fallback into
    broadcast(everything); run :func:`nearest_bucket_stats` first when
    in doubt — it prices the leftover fraction for a candidate
    ``cell_m`` WITHOUT running the fallback pass.

    ``pin_leftovers`` (r15 — guide §3.3/§5): materialize each level's
    leftover set with ``localCheckpoint`` so escalation level k reads
    a TRUNCATED plan instead of re-deriving the whole accept/anti-join
    chain of levels 0..k-1 — the lazy chain recomputes the level-0
    accept pass once per downstream reference (profiled: two ~1.3 s
    single-task rederivation jobs on the dense bench shape, then the
    slowest entry in the bench). The pinned frame is the LEFTOVER set
    only — (id, lat, lon) keys, ~leftover_fraction of the points at
    level 1 and geometrically less after — never facility payloads or
    accepted output. Row values are identical (a checkpoint is a
    materialization barrier, not a transformation).

    Default OFF: pinning pays levels-1 eager checkpoint jobs, which
    only wins when the accept pass is expensive per reference (dense
    cells — the fixed-area bench shape: 2.12 → 1.89 s). On the
    constant-density area-scaled replica it REGRESSED the 10× time
    5.7 → 7.6 s (slope 0.30 → 0.51), so the lazy chain stays the
    default and dense-shape callers opt in.
    """
    p, f, accepted = _bucketed_accept(
        points, facilities, point_id, facility_id,
        point_lat, point_lon, fac_lat, fac_lon, round_m, cell_m, lat_ref,
    )
    accepted_levels = [accepted]
    remaining = p.join(accepted.select("_pid"), "_pid", "left_anti")
    # Hierarchical escalation BEFORE the terminal cross join: re-run
    # the accept pass on the leftovers at 4x coarser cells per level.
    # Measured necessity (BENCH_scale_r05.json, area-scaled replica):
    # at ~constant point/facility density the leftover FRACTION is
    # constant (~10%), so a single-level fallback's join volume is
    # leftovers x ALL facilities = F^2 — the one superlinear term in
    # the whole plan. Each escalation level is a linear grid join and
    # multiplies the accept radius by 4, so the residual that reaches
    # the cross join decays geometrically; 'levels' bounds plan depth.
    for k in range(1, levels):
        # leftovers shrink geometrically; narrow their partitioning so
        # each escalation stage schedules a handful of tasks, not a
        # full shuffle-width of near-empty ones
        remaining = remaining.coalesce(8)
        if pin_leftovers:
            remaining = remaining.localCheckpoint()
        _, _, acc_k = _bucketed_accept(
            remaining, f, "_pid", "_fid",
            "_plat", "_plon", "_flat", "_flon",
            round_m, cell_m * (4.0 ** k), lat_ref,
        )
        accepted_levels.append(acc_k)
        remaining = remaining.join(acc_k.select("_pid"), "_pid", "left_anti")
    fallback = (
        F.broadcast(remaining)
        .crossJoin(f)
        .withColumn(
            "dist_m",
            F.round(
                haversine_m(F.col("_plat"), F.col("_plon"), F.col("_flat"), F.col("_flon")),
                round_m,
            ),
        )
        .groupBy("_pid")
        .agg(F.min(F.struct(F.col("dist_m"), F.col("_fid"))).alias("_best"))
        .select(
            "_pid", F.col("_best._fid").alias("_fid"), F.col("_best.dist_m").alias("dist_m")
        )
    )
    out = accepted_levels[0]
    for acc_k in accepted_levels[1:]:
        out = out.unionByName(acc_k)
    return out.unionByName(fallback).select(
        F.col("_pid").alias(point_id),
        F.col("_fid").alias(facility_id),
        "dist_m",
    )


def load_polygons_csv(
    spark, path: str
) -> list[tuple[int, list[tuple[float, float]]]]:
    """S6: load cluster polygons from a landed ring-vertex CSV
    (columns: pid, seq, lon, lat) into the literal-polygon form
    :func:`assign_clusters` consumes.

    The reference ships polygons as .RData/shapefiles loaded per run
    (processing_utils.R:467, anomalies_utils.R:71-73); the engine's
    contract is a one-time conversion to this open tabular fixture
    (FIXTURES.md §7). Polygon sets are driver metadata (≤ a few
    hundred rings), so collecting here is by design.
    """
    rows = (
        spark.read.option("header", "true")
        .schema("pid INT, seq INT, lon DOUBLE, lat DOUBLE")
        .csv(path)
        .collect()
    )
    by_pid: dict[int, list[tuple[int, float, float]]] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append((r.seq, r.lon, r.lat))
    return [
        (pid, [(lon, lat) for _, lon, lat in sorted(verts)])
        for pid, verts in sorted(by_pid.items())
    ]
