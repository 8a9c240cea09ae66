"""Resolution-file engine (C1-C11): apply human-entered corrections
(DELETE / SET rows from a tracking sheet) to form tables, plus the
sanitation pack (PII drop/hash, jitter, standardization).

Reference semantics (cited file:line are in /root/reference/):

- C1 batch DELETE with parent→child cascade —
  pipeline-cleaning/R/processing_utils.R:335-400
- C2 batch SET: keep-last dedup of SETs (:242-246) → pivot_wider
  (:255-264) → left join (:278-296) → per-column typed coalesce
  (:305-318)
- C3 DELETE-before-SET composition — :403-429
- C4 cascade expansion via a source→cascade_to mapping + value
  recoding — :512-552
- C5 PII denylist drop — :49-118; C6 sha1 of id columns — :120-144
- C7 seeded location jitter — :156-178
- C9 ad-hoc row nullification — :559-626
- C10 standardize case/typos/dob — :180-209; C11 corrected age — :23-38

Spark-first design notes (100 TB):
- The resolution sheet is human-entered (≤ thousands of rows): it is
  always broadcast; applying corrections costs one broadcast-hash
  anti-join (DELETE) + one broadcast-hash left join (SET) per table —
  no shuffle of the data side at all.
- Keep-last needs a total order; the reference relies on sheet row
  order (slice_tail), we require an explicit ``order_col``.
- Typed coalesce: the data column's *declared schema type* always
  wins (Spark schemas are typed, unlike R tibbles, so the reference's
  "left side unless all-NA" dance collapses to a cast).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType

from ..session import local_df

# ---------------------------------------------------------------------------
# Repeat-key parsing (shared by C1/C2 repeat paths)
# ---------------------------------------------------------------------------


def with_repeat_parts(
    df: DataFrame,
    key_col: str = "KEY",
    name_col: str = "repeat_name",
    ordinal_col: str = "repeat_key",
) -> DataFrame:
    """Parse ``.../<repeat_name>[<k>]`` from the tail of a child KEY
    into ``repeat_name`` (string) and ``repeat_key`` (int) columns —
    processing_utils.R:272-275 (str_split on [ / ]).
    """
    base = F.element_at(F.split(F.col(key_col), "/"), -1)
    # try_cast: a KEY without a [k] suffix extracts '' — must become
    # NULL, not an ANSI cast abort.
    return df.withColumn(
        name_col, F.regexp_extract(base, r"^([^\[]+)", 1)
    ).withColumn(ordinal_col, F.regexp_extract(base, r"\[(\d+)\]", 1).try_cast("int"))


def _is_main(col: Column) -> Column:
    """RepeatName '' or NULL ⇒ the resolution row targets the main table."""
    return col.isNull() | (col == "")


def _normalize_repeat_coords(resolution: DataFrame) -> DataFrame:
    """Canonicalize the repeat coordinates of a resolution sheet:
    RepeatName NULL→'' and RepeatKey to int (NULL→0). Sheets arrive
    with both encodings (a CSV landed through read_csv_form nullifies
    '', a literal-built frame may not) — without this, keep-last
    windows and pivots treat them as distinct cells and the SET join
    fans out."""
    return resolution.withColumn(
        "RepeatName", F.coalesce(F.col("RepeatName"), F.lit(""))
    ).withColumn(
        "RepeatKey", F.coalesce(F.col("RepeatKey").try_cast("int"), F.lit(0))
    )


# ---------------------------------------------------------------------------
# C1 — batch DELETE (anti-join; parent deletes cascade to children)
# ---------------------------------------------------------------------------


def apply_deletes(
    data: DataFrame,
    resolution: DataFrame,
    form_id: str,
    repeat_name: str | None = None,
) -> DataFrame:
    """Drop rows named by DELETE resolutions — processing_utils.R:335-400.

    Main table: anti-join on instanceID. Repeat table: anti-join on
    (form_id, repeat_name, repeat_key, PARENT_KEY) for repeat-level
    deletes, THEN drop all children of deleted parents (the cascade).
    Both joins broadcast the (tiny) resolution side.
    """
    # restrict to this form on EVERY path — a mixed sheet must never
    # delete formA rows because formB recorded the same instanceID.
    dels = resolution.filter(
        (F.col("Operation") == "DELETE") & (F.col("Form") == form_id)
    )
    if repeat_name is None:
        to_delete = dels.filter(_is_main(F.col("RepeatName"))).select("instanceID")
        return data.join(
            F.broadcast(to_delete), data["instanceID"] == to_delete["instanceID"], "left_anti"
        )

    # parse into __-prefixed temp columns so a data-side form_id /
    # repeat_name / repeat_key column survives untouched.
    staged = with_repeat_parts(data, name_col="__rp_name", ordinal_col="__rp_key")
    to_delete_rep = dels.filter(~_is_main(F.col("RepeatName"))).select(
        F.col("RepeatName").alias("__rp_name"),
        F.col("RepeatKey").try_cast("int").alias("__rp_key"),
        F.col("instanceID").alias("PARENT_KEY"),
    )
    to_delete_parent = dels.filter(_is_main(F.col("RepeatName"))).select(
        F.col("instanceID").alias("PARENT_KEY")
    )
    out = staged.join(
        F.broadcast(to_delete_rep),
        ["__rp_name", "__rp_key", "PARENT_KEY"],
        "left_anti",
    ).join(F.broadcast(to_delete_parent), "PARENT_KEY", "left_anti")
    return out.drop("__rp_name", "__rp_key")


# ---------------------------------------------------------------------------
# C2 — batch SET (keep-last → pivot → typed coalesce)
# ---------------------------------------------------------------------------


def apply_sets(
    data: DataFrame,
    resolution: DataFrame,
    repeat_name: str | None = None,
    order_col: str = "resolution_order",
    form_id: str | None = None,
) -> DataFrame:
    """Apply SET resolutions — processing_utils.R:237-332.

    1. keep-last per (instanceID, Column[, RepeatName, RepeatKey]) by
       ``order_col`` (the reference keeps sheet row order; we demand an
       explicit ordering column for determinism under shuffle); on the
       main table the repeat coordinates are not part of the cell;
    2. fold each target row's surviving SETs into one
       ``map<Column, Set To>``;
    3. broadcast left-join the maps onto the data (main: instanceID;
       repeat: PARENT_KEY=instanceID + repeat coordinates);
    4. per atomic-typed data column:
       ``coalesce(try_cast(map[c] AS <declared type>), old)`` — a
       column no SET names looks up NULL and keeps its value.

    Only columns present in ``data`` are applied (any_of semantics);
    complex-typed columns (array/map/struct) are never SET targets.
    The target columns are never read on the driver, so building the
    plan starts no Spark job.

    ``form_id`` restricts the sheet to one form, like
    :func:`apply_deletes` does unconditionally. When ``None`` the
    CALLER must pre-filter a mixed multi-form sheet by ``Form``
    (:func:`google_sheets_fix` does) — otherwise SETs recorded for
    form B hit form A rows that share an instanceID.
    """
    targets = {
        f.name: f.dataType.simpleString()
        for f in data.schema.fields
        if isinstance(f.dataType, AtomicType)
    }
    if not targets:
        return data
    if form_id is not None:
        resolution = resolution.filter(F.col("Form") == form_id)
    sets = _normalize_repeat_coords(resolution.filter(F.col("Operation") == "SET"))
    cell = ["instanceID", "Column"]
    if repeat_name is None:
        sets = sets.filter(_is_main(F.col("RepeatName")))
    else:
        sets = sets.filter(F.col("RepeatName") == repeat_name)
        cell += ["RepeatName", "RepeatKey"]
    sets = sets.filter(F.col("Column").isin(list(targets)))

    w = Window.partitionBy(*cell).orderBy(F.col(order_col).desc())
    last = sets.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    # main path: one map row per instanceID, period — grouping by the
    # (already-filtered-constant) repeat coords would let mixed
    # NULL/'' encodings fan the join out.
    group_cols = (
        ["instanceID"]
        if repeat_name is None
        else [
            "instanceID",
            F.col("RepeatName").alias("__rp_name"),
            F.col("RepeatKey").alias("__rp_key"),
        ]
    )
    pvt = last.groupBy(*group_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("Column", "Set To"))).alias("__sets")
    )

    if repeat_name is None:
        d = data.alias("d")
        p = pvt.alias("p")
        joined = d.join(
            F.broadcast(p), F.col("d.instanceID") == F.col("p.instanceID"), "left"
        )
    else:
        d = with_repeat_parts(data, name_col="__rp_name", ordinal_col="__rp_key").alias("d")
        p = pvt.withColumnRenamed("instanceID", "PARENT_KEY").alias("p")
        joined = d.join(
            F.broadcast(p),
            (F.col("d.PARENT_KEY") == F.col("p.PARENT_KEY"))
            & (F.col("d.__rp_name") == F.col("p.__rp_name"))
            & (F.col("d.__rp_key") == F.col("p.__rp_key")),
            "left",
        )

    # one selectExpr parse for the whole typed-coalesce projection
    # (r15, §7.3 one-parse class): the Column-composed loop cost ~5
    # py4j round trips per column on every clean_form build.
    # try_cast, not cast: a malformed human-entered value must degrade
    # to NULL -> coalesce keeps the old value (matches R's
    # as.numeric->NA->coalesce), not abort the job under ANSI mode.
    exprs = []
    for c in data.columns:
        if c in targets:
            key = c.replace("\\", "\\\\").replace("'", "\\'")
            exprs.append(
                f"coalesce(try_cast(p.__sets['{key}'] AS {targets[c]}), d.`{c}`) AS `{c}`"
            )
        else:
            exprs.append(f"d.`{c}` AS `{c}`")
    return joined.selectExpr(*exprs)


# ---------------------------------------------------------------------------
# C3 — DELETE before SET (google_sheets_fix)
# ---------------------------------------------------------------------------


def google_sheets_fix(
    data: DataFrame,
    resolution: DataFrame,
    form_id: str,
    repeat_name: str | None = None,
    order_col: str = "resolution_order",
) -> DataFrame:
    """C3: DELETE supersedes SET — deletion first, then SET on the
    survivors (processing_utils.R:403-429)."""
    res = resolution.filter(F.col("Form") == form_id)
    deleted = apply_deletes(data, res, form_id, repeat_name)
    return apply_sets(deleted, res, repeat_name, order_col)


# ---------------------------------------------------------------------------
# C4 — cascade expansion of the resolution file
# ---------------------------------------------------------------------------

#: source column → dependent columns that must receive the same SET
#: (processing_utils.R:515-527).
DEFAULT_CASCADE_MAPPING: list[tuple[str, str]] = [
    ("dob", "dob_select"),
    ("dob", "dob_string"),
    ("extid", "extid_calculate"),
    ("hhid", "hhid_calculate"),
    ("hhid", "hh_qr"),
    ("person_absent_reason", "person_absent"),
    ("person_absent_reason", "person_unenrolled_migrated"),
    ("person_absent_reason", "person_out_absent"),
    ("person_absent_reason", "out"),
    ("person_absent_reason", "migrated_status"),
]

#: (set_to, column, form) → recoded value for the efficacy-absence
#: fan-out (processing_utils.R:539-545).
EFFICACY_ABSENT_RECODE: dict[str, str] = {
    "person_absent": "1",
    "person_unenrolled_migrated": "0",
    "person_out_absent": "1",
    "out": "1",
    "migrated_status": "0",
}


def expand_resolution(
    resolution: DataFrame,
    mapping: Sequence[tuple[str, str]] | None = None,
) -> DataFrame:
    """C4: fan a SET on a source column out to its dependent columns
    via the mapping, recoding 'Absent' for the efficacy flags; union
    the expansion under the original rows (processing_utils.R:512-552).
    """
    spark = resolution.sparkSession
    mapping = list(mapping if mapping is not None else DEFAULT_CASCADE_MAPPING)
    map_df = local_df(spark, mapping, ["source", "cascade_to"])
    expanded = (
        resolution.filter(F.col("Operation") == "SET")
        .join(F.broadcast(map_df), F.col("Column") == F.col("source"), "inner")
        .withColumn("Column", F.col("cascade_to"))
        .drop("source", "cascade_to")
    )
    # the efficacy-absence recode as ONE parsed CASE chain (r15, §7.3
    # one-parse class — the nested F.when loop cost a py4j round trip
    # per map entry on every expansion build). Same CaseWhen tree,
    # innermost-first order preserved: iteration k wraps the previous
    # chain as its ELSE, so the LAST map entry is the outermost WHEN —
    # the string renders the entries reversed to match exactly.
    arms = "".join(
        "WHEN `Set To` = 'Absent' AND `Column` = '{}' AND `Form` = 'efficacy' "
        "THEN '{}' ".format(col, val)
        for col, val in reversed(list(EFFICACY_ABSENT_RECODE.items()))
    )
    expanded = expanded.withColumn(
        "Set To", F.expr(f"CASE {arms}ELSE `Set To` END")
    ).select(*resolution.columns)
    return resolution.unionByName(expanded)


# ---------------------------------------------------------------------------
# C5/C6 — PII drop + hash
# ---------------------------------------------------------------------------

#: Identity columns sha1-hashed during sanitation
#: (processing_utils.R:120-144).
DEFAULT_HASH_COLS: list[str] = [
    "KEY", "PARENT_KEY", "instanceID", "extid", "hhid", "wid", "fa_id",
    "device_id", "DeviceID", "SubmitterID", "pk_id", "sample",
    "dbs_barcode", "hh_qr", "extid_calculate", "hhid_calculate",
]


def drop_pii(df: DataFrame, denylist: Sequence[str]) -> DataFrame:
    """C5: drop every denylisted column that exists (any_of semantics,
    processing_utils.R:49-118 — the fixed 60+ name denylist is a
    per-deployment config, passed in)."""
    present = [c for c in denylist if c in df.columns]
    return df.drop(*present)


def hash_pii(
    df: DataFrame, cols: Sequence[str] | None = None, algo: str = "sha1"
) -> DataFrame:
    """C6: hash the identity columns that exist
    (processing_utils.R:120-144, across(any_of(...), sha1) — built-in
    hash functions, no UDF). ``algo``: 'sha1' (reference parity) or
    'sha256' (for deployments that need a stronger digest)."""
    if algo not in ("sha1", "sha256"):
        raise ValueError(f"unknown hash algo {algo!r}: use 'sha1' or 'sha256'")
    cols = DEFAULT_HASH_COLS if cols is None else list(cols)
    fn = F.sha1 if algo == "sha1" else (lambda c: F.sha2(c, 256))
    out = df
    for c in cols:
        if c in df.columns:
            out = out.withColumn(c, fn(F.col(c).cast("string")))
    return out


# ---------------------------------------------------------------------------
# C7 — seeded location jitter
# ---------------------------------------------------------------------------


def jitter_locations(
    df: DataFrame,
    group_col: str = "hhid",
    lat_col: str = "Latitude",
    lon_col: str = "Longitude",
    radius_deg: float = 0.01,
    seed: int = 1001,
) -> DataFrame:
    """C7: displace every row of a household by one deterministic
    random offset (processing_utils.R:156-178: set.seed(1001), one
    runif angle/radius per hhid).

    Parity is distributional, not bitwise (R's RNG differs); the group
    offset is derived from a hash of the group key + seed, so it is
    deterministic per group, independent of partitioning.
    """
    # pmod, not abs+%: F.abs(INT_MIN) stays negative (non-ANSI
    # wraparound), which would make radius = sqrt(<0) = NaN for
    # ~2^-32 of groups.
    u1 = F.pmod(F.hash(F.col(group_col), F.lit(seed)), F.lit(100000)) / 100000.0
    u2 = F.pmod(F.hash(F.col(group_col), F.lit(seed + 1)), F.lit(100000)) / 100000.0
    angle = u1 * 2.0 * 3.141592653589793
    radius = F.sqrt(u2) * radius_deg
    return df.withColumn(lat_col, F.col(lat_col) + radius * F.sin(angle)).withColumn(
        lon_col, F.col(lon_col) + radius * F.cos(angle)
    )


# ---------------------------------------------------------------------------
# C9 — ad-hoc row nullification
# ---------------------------------------------------------------------------


def nullify_rows(
    df: DataFrame,
    key_col: str,
    keys: Sequence[str],
    keep_cols: Sequence[str],
) -> DataFrame:
    """C9: for rows whose key is listed, blank every column outside
    ``keep_cols`` (processing_utils.R:559-626 — exception-list rows
    are kept but scrubbed, then unioned back; here a single pass of
    ``when`` per column, no union needed)."""
    hit = F.col(key_col).isin(list(keys))
    out = df
    for c in df.columns:
        if c not in keep_cols:
            out = out.withColumn(c, F.when(hit, F.lit(None)).otherwise(F.col(c)))
    return out


# ---------------------------------------------------------------------------
# C10/C11 — standardization + corrected age
# ---------------------------------------------------------------------------


def standardize_strings(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """C10 (case part): upper + squish (collapse inner whitespace,
    trim) — processing_utils.R:183."""
    out = df
    for c in cols:
        if c in df.columns:
            out = out.withColumn(c, F.upper(F.trim(F.regexp_replace(F.col(c), r"\s+", " "))))
    return out


def fix_typos(df: DataFrame, col: str, fixes: dict[str, str]) -> DataFrame:
    """C10 (typo part): exact-string recode map (NGUZ0→NGUZO,
    processing_utils.R:202-204)."""
    if col not in df.columns:
        return df
    expr = F.col(col)
    for wrong, right in fixes.items():
        expr = F.when(F.col(col) == wrong, F.lit(right)).otherwise(expr)
    return df.withColumn(col, expr)


# ---------------------------------------------------------------------------
# k-anonymity: the release-gate check after C5/C6/C7 sanitization
# ---------------------------------------------------------------------------


def k_anonymity_report(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Re-identification risk audit: group the table by its
    quasi-identifier combination and report every equivalence class
    with its size and a ``risky`` flag (``n < k``). The check that
    belongs AFTER the C5 drop / C6 hash / C7 jitter passes: those
    remove direct identifiers, but a rare combination of innocuous
    columns (village x age-band x species, say) can still single a
    household out — the reference ships the sanitization but not the
    audit; releasing at 100 TB needs the audit to be a query, not a
    review.

    Output: ``(*quasi_cols, n, risky)``, one row per distinct
    combination (NULLs group as their own class, matching both
    engines' GROUP BY semantics).

    Scale: one map-side-combinable count shuffle on the quasi-id key;
    the result is #equivalence-classes rows.
    """
    if not quasi_cols:
        raise ValueError("k_anonymity_report needs at least one quasi column")
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).withColumn("risky", F.col("n") < int(k))


def suppress_small_groups(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """Enforce k-anonymity by suppression: keep only rows whose
    quasi-identifier class has at least ``k`` members (the standard
    suppression step; generalization/binning is the caller's move when
    the suppressed share comes back too high — compose with
    ``F.floor(col / w) * w`` bands upstream and re-audit).

    Scale: the class-size frame from :func:`k_anonymity_report` is
    #classes rows; rather than assume it is broadcast-small (a high-
    cardinality quasi-key can approach table size), this joins it back
    as a plain equi-join and lets AQE pick broadcast vs shuffle from
    its measured size. One count shuffle + one join — the fact is
    never shuffled twice on different keys.
    """
    sizes = k_anonymity_report(df, quasi_cols, k).filter(~F.col("risky")).select(
        *quasi_cols
    )
    # NULL-safe equality: NULL quasi-values form a real equivalence
    # class in the report (GROUP BY semantics), so the suppression join
    # must match them too — a plain equi-join would silently drop every
    # row with a NULL quasi-identifier no matter how large its class
    cond = [df[c].eqNullSafe(sizes[c]) for c in quasi_cols]
    return df.join(sizes, cond, "left_semi")
