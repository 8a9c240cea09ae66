"""Table-maintenance operators: the layout jobs a 100 TB lakehouse
needs between writes — small-file detection, compaction, and
range-clustered rewrites for data-skipping.

The reference's serving layer is rebuilt by bulk parquet loads
(pipeline-cleaning/R/03.run_parquet_load_clean_form.R,
04.run_parquet_load_sanitized_form.R); single-node R never needs
layout maintenance, but its Spark re-expression does: a streaming
or per-form append pipeline produces many small files (each task
writes one), and parquet footer min/max stats only prune reads when
files are clustered on the predicate columns.

Design notes (100 TB):
- `dataset_file_stats` is a metadata aggregation over
  ``input_file_name()`` — one scan, no extra listing RPCs per file.
- `compact` sizes its output file count from the MEASURED dataset
  bytes (filesystem listing, driver-side metadata only), not a
  guessed repartition number.
- `cluster_write` uses repartitionByRange + sortWithinPartitions:
  a range exchange (sampled bounds) instead of a global sort — the
  same total-ordering layout at a fraction of the shuffle cost, and
  each output file covers a disjoint key range so footer stats prune.
"""

from __future__ import annotations

import math
import os
import threading
import time
import uuid
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df


class ConcurrentMaintenanceError(RuntimeError):
    """Another maintenance tick holds this table's writer lock."""


#: paths whose tick lock THIS process already holds (re-entrancy for
#: the composed tick: maintain_table -> zorder_extend/fold -> layout)
_TICK_LOCKS = threading.local()


@contextmanager
def _single_writer(spark: SparkSession, path: str, stale_seconds: float = 3600.0):
    """Advisory single-writer lock for a table's maintenance window
    (VERDICT r11 ask 7): every staged rewrite in this module swaps
    through the deterministic ``__zstage``/``__stage``/``__old``
    sibling names, so two ticks targeting the same path concurrently
    would collide on those paths and corrupt each other's journals.
    The single-writer contract was previously documentation-only; this
    asserts it with a ``__tick.lock`` sibling created atomically
    (``fs.create(overwrite=False)`` — the create itself is the race
    arbiter, not the exists pre-check). A lock older than
    ``stale_seconds`` is presumed crashed and stolen (the journaled
    swaps make that safe — recovery is idempotent). Re-entrant within
    one process so the composed tick's stages share one lock.

    Ownership is tokened (ADVICE r12): the lock file holds a unique
    ``pid:uuid`` token, a background heartbeat refreshes the lock
    mtime every ``stale_seconds / 4`` while the tick runs (so a LIVE
    tick longer than ``stale_seconds`` is never presumed crashed),
    and release deletes the lock ONLY if it still holds this tick's
    token — a holder that somehow lost the lock to a steal can no
    longer delete the NEW holder's lock and admit a third writer.

    Advisory, not ironclad: two writers stealing the SAME stale lock
    in the same instant can both proceed (delete-then-create has a
    window), and create-then-write-token is two steps — a crash
    between them leaves a zero-byte lock that blocks ticks until it
    goes stale (the heartbeat never runs for a crashed holder, so the
    block is bounded by ``stale_seconds``). The lock turns the
    silent-corruption hazard into a detected error for the realistic
    case (a scheduler double-firing a live tick), while crash
    recovery stays journal-based.
    """
    held = getattr(_TICK_LOCKS, "paths", None)
    if held is None:
        held = set()
        _TICK_LOCKS.paths = held
    key = path.rstrip("/")
    if key in held:
        yield
        return
    jvm, fs, _ = _fs(spark, path)
    lock = jvm.org.apache.hadoop.fs.Path(key + "__tick.lock")
    if fs.exists(lock):
        age = time.time() - fs.getFileStatus(lock).getModificationTime() / 1000.0
        if age < stale_seconds:
            raise ConcurrentMaintenanceError(
                f"maintenance tick already running on {key} "
                f"(lock age {age:.0f}s < {stale_seconds:.0f}s)"
            )
        fs.delete(lock, False)  # crashed writer: steal the stale lock
    try:
        out = fs.create(lock, False)  # atomic create-if-absent
    except Exception as exc:  # raced by another writer between steps
        raise ConcurrentMaintenanceError(
            f"lost the lock race on {key}: {exc}"
        ) from None
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    try:
        out.write(bytearray(token.encode()))
        out.close()
    except Exception:
        # a failed token write must not leave the table locked for
        # stale_seconds with no tick running (review finding)
        fs.delete(lock, False)
        raise
    # heartbeat: a live tick longer than stale_seconds must never be
    # presumed crashed and stolen (ADVICE r12 — fold/compaction over a
    # large table can legitimately run for hours). setTimes on a path
    # the new holder already replaced is harmless (it only freshens
    # THEIR lock once) and on a deleted path just errors out.
    stop_heartbeat = threading.Event()
    beat = threading.Thread(
        target=_heartbeat_loop,
        args=(fs, lock, stop_heartbeat, stale_seconds / 4.0),
        name=f"tick-lock-heartbeat:{key}",
        daemon=True,
    )
    beat.start()
    held.add(key)
    try:
        yield
    finally:
        stop_heartbeat.set()
        held.discard(key)
        # tokened release: only delete a lock we still own — after a
        # (stale-presumption) steal, the file holds the NEW holder's
        # token and must survive this holder's exit
        if _lock_token(fs, lock) == token:
            fs.delete(lock, False)


def _heartbeat_loop(fs, lock, stop, interval: float) -> None:
    """Freshen the lock mtime every ``interval`` seconds until stopped
    or the lock file is provably gone (stolen/released).

    Any other ``setTimes`` failure — a transient FS hiccup, or an
    object store where setTimes is unsupported — is a MISSED BEAT,
    not a reason to exit: a permanently-dead heartbeat silently
    re-opens the exact stale-steal window it exists to close (an
    hours-long live tick would become stealable after stale_seconds —
    ADVICE r13). Module-level (not a closure) so the resilience
    contract is unit-testable with a duck-typed fs."""
    while not stop.wait(interval):
        try:
            now_ms = int(time.time() * 1000)
            fs.setTimes(lock, now_ms, now_ms)
        except Exception:
            try:
                if not fs.exists(lock):
                    return  # lock gone: nothing left to freshen
            except Exception:
                pass  # can't even stat: transient — keep beating


def _lock_token(fs, lock) -> str | None:
    """Read a ``__tick.lock`` file's ownership token (None if the lock
    is gone or unreadable — either way, not provably ours)."""
    try:
        stream = fs.open(lock)
        try:
            return bytes(stream.readAllBytes()).decode("utf-8", "replace")
        finally:
            stream.close()
    except Exception:
        return None


def dataset_file_stats(
    spark: SparkSession, path: str, small_file_mb: float = 16.0
) -> DataFrame:
    """Per-file layout report of a parquet dataset: (file, n_rows,
    size_bytes, is_small). The small-file detector that decides
    whether :func:`compact` is worth a rewrite.

    Row counts come from one distributed scan grouped by
    ``input_file_name()``; sizes come from the driver's filesystem
    listing (metadata-only, no data read) joined in as a broadcast.
    """
    # input_file_name() and Hadoop Path.toString() render the same
    # file with different scheme forms (file:/// vs file:/) — join on
    # the scheme-stripped path
    norm = lambda c: F.regexp_replace(c, r"^[a-z0-9.+-]+:/+", "/")  # noqa: E731
    rows = (
        spark.read.parquet(path)
        .groupBy(norm(F.input_file_name()).alias("file"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    sizes = _list_parquet_files(spark, path).select(
        norm(F.col("file")).alias("file"), "size_bytes"
    )
    return (
        rows.join(F.broadcast(sizes), "file", "left")
        .withColumn("is_small", F.col("size_bytes") < int(small_file_mb * 1024 * 1024))
        .select("file", "n_rows", "size_bytes", "is_small")
    )


def _list_parquet_file_infos(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Driver-side ``[(file, size_bytes)]`` listing via the Hadoop
    FileSystem API — works for any scheme Spark can read (file://,
    s3a://, ...). This is pure metadata: callers that only need the
    Python list (every maintenance tick's measure/decide step) must
    use THIS, not a createDataFrame/collect round trip — the round
    trip costs a full Spark job per call for data that never left the
    driver (r14 optimization: the zorder/layout ticks paid 6-8 such
    jobs per maintenance pass). Local paths walk natively
    (:func:`skipping._local_root` — the Hadoop iterator costs ~5 py4j
    round trips per file, pure driver latency)."""
    from . import skipping as _skp

    local = _skp._local_root(path, spark)
    if local is not None:
        return [
            (f, s)
            for f, s, _ in _skp._walk_local_files(local)
            if f.endswith(".parquet")
        ]
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if name.endswith(".parquet"):
            out.append((name, st.getLen()))
    return out


def _list_parquet_files(spark: SparkSession, path: str) -> DataFrame:
    """(file, size_bytes) for every data file under ``path`` as a
    DataFrame — for callers that JOIN the listing against distributed
    data (:func:`dataset_file_stats`). Driver-only consumers use
    :func:`_list_parquet_file_infos` directly."""
    return local_df(
        spark,
        _list_parquet_file_infos(spark, path),
        "file STRING, size_bytes BIGINT",
    )


def _qualified_uri(spark: SparkSession, path: str) -> str:
    """Filesystem-qualified URI of ``path`` — 'file:///data/t',
    '/data/t' and 'file:/data/t' all normalize to the same string, so
    the compact src==dst guard can't be bypassed by spelling the same
    location in a different URI form."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    return str(fs.makeQualified(hpath))


def dataset_size_bytes(spark: SparkSession, path: str) -> int:
    """Total data bytes of a parquet dataset (driver-side listing)."""
    return sum(s for _, s in _list_parquet_file_infos(spark, path))


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: float = 128.0,
    partition_by: Sequence[str] = (),
) -> int:
    """Rewrite a many-small-files dataset into ~``target_file_mb``
    files; returns the output file count it sized.

    File count = ceil(measured_bytes / target) — measured from the
    source listing, never guessed. With ``partition_by``, rows are
    repartitioned on the partition columns first so each Hive
    partition is written by as few tasks as fan-in allows (the
    standard append-pipeline compaction job).

    ``dst`` must differ from ``src``: the swap (write new, validate,
    rename) is the caller's transaction, matching the reference's
    bulk-load-then-replace pattern
    (03.run_parquet_load_clean_form.R's full-refresh semantics).
    """
    if _qualified_uri(spark, src) == _qualified_uri(spark, dst):
        raise ValueError("compact writes to a new location; src == dst")
    total = dataset_size_bytes(spark, src)
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    writer = df.repartition(n_files, *partition_by) if partition_by else df.repartition(n_files)
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dst)
    return n_files


def cluster_write(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int,
    mode: str = "overwrite",
    drop_cols: Sequence[str] = (),
) -> None:
    """Range-clustered rewrite: repartitionByRange on
    ``cluster_cols`` (sampled range bounds — one exchange, NOT a
    global sort) + sortWithinPartitions, so every output file covers
    a disjoint, internally-sorted key range.

    Why it matters at 100 TB: parquet row-group/footer min-max stats
    prune reads only when values are clustered; after this rewrite a
    point or range predicate on the cluster key touches O(1) files
    instead of all of them. The verification that ranges really are
    disjoint lives in tests/test_maintenance.py.
    """
    if not cluster_cols:
        raise ValueError("cluster_write needs at least one cluster column")
    cols = [F.col(c) if isinstance(c, str) else c for c in cluster_cols]
    if n_files == 1:
        # single-tile write (the steady-state zorder_extend delta and
        # every small fold land here): one partition sorted locally IS
        # the range layout — skip the range exchange entirely (no
        # bounds-sampling pass, no shuffle write/fetch; r14, guide
        # §2.4 "remove shuffles outright"). Identical file content:
        # same rows, same within-file sort.
        out = df.coalesce(1).sortWithinPartitions(*cols)
    else:
        out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    if drop_cols:
        out = out.drop(*drop_cols)
    out.write.mode(mode).parquet(path)


def zorder_value(a, b, bits: int = 16):
    """Morton/Z-order interleave of two non-negative ints (``bits``
    low bits each) into one sortable key: bit i of ``a`` lands at
    position 2i, bit i of ``b`` at 2i+1.

    Range-clustering on this key (:func:`cluster_write`) gives
    TWO-dimensional data-skipping: consecutive z-values cover compact
    (a, b) tiles, so each output file's footer min/max bounds a small
    box in BOTH columns — a lat/lon or (tenant, time) predicate prunes
    files that a single-column sort cannot (sorting on `a` alone
    leaves every file spanning the full `b` range; proven by the tile-
    area golden in tests/test_maintenance.py). Pure shift/and
    arithmetic — whole-stage codegen, scan-local.

    Callers bucket continuous values first (e.g.
    ``CAST((lat + 90) / 180 * 65535 AS INT)`` for 16-bit lat).

    Column-NAME inputs (every production caller: zorder_write and the
    extend/fold sidecar replays) emit the whole interleave as ONE
    ``F.expr`` parse — the value-by-value Column chain costs
    ~6 x bits py4j round trips of pure driver plan-construction
    (~0.2 s per call at bits=15, measured r14; guide §7.3 driver
    work). Column-expression inputs keep the chain (their SQL text is
    not recoverable from the Column), bit-identical by construction —
    parity pinned in tests/test_maintenance.py.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    if isinstance(a, str) and isinstance(b, str):
        terms = []
        for name, off in ((a, 0), (b, 1)):
            src = f"CAST(`{name}` AS BIGINT)"
            terms.extend(
                f"shiftleft((shiftright({src}, {i}) & CAST(1 AS BIGINT)), {2 * i + off})"
                for i in range(bits)
            )
        return F.expr("(" + " + ".join(terms) + ")")
    ca = a if not isinstance(a, str) else F.col(a)
    cb = b if not isinstance(b, str) else F.col(b)
    ca, cb = ca.cast("bigint"), cb.cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered rewrite on two integer-bucketed columns: adds
    the interleaved key, range-clusters on it (:func:`cluster_write`
    semantics), and drops the key from the stored files."""
    keyed = df.withColumn("__z", zorder_value(col_a, col_b, bits))
    cluster_write(keyed, path, ["__z"], n_files, mode=mode, drop_cols=["__z"])


def gc_versions(spark: SparkSession, path: str, keep_last: int = 2) -> list[int]:
    """Garbage-collect a ``v=<n>`` versioned directory (the layout
    `streaming.scd2_history_sink` publishes): keep the newest
    ``keep_last`` versions, delete the rest, return the deleted
    version numbers.

    Readers take the max version, so any version below the kept window
    is unreachable except to time-travel consumers — size
    ``keep_last`` to the time-travel horizon. Deletion is metadata-only
    driver work (recursive FileSystem delete per retired version).
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    versions = sorted(
        int(st.getPath().getName()[2:])
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("v=")
    )
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    for v in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/v={v}"), True)
    return doomed


def maintain_table_layout(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 16.0,
    small_share_threshold: float = 0.5,
    target_file_mb: float = 128.0,
    max_z_generations: int = 4,
) -> dict:
    """Single-writer-locked entry point; see :func:`_maintain_table_layout`."""
    with _single_writer(spark, path):
        return _maintain_table_layout(
            spark,
            path,
            small_file_mb=small_file_mb,
            small_share_threshold=small_share_threshold,
            target_file_mb=target_file_mb,
            max_z_generations=max_z_generations,
        )


def _maintain_table_layout(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 16.0,
    small_share_threshold: float = 0.5,
    target_file_mb: float = 128.0,
    max_z_generations: int = 4,
) -> dict:
    """The TABLE's maintenance tick — completing the symmetry with the
    index and manifest ticks (``retrieval.maintain_vector_index``,
    ``dedup.maintain_minhash_index``, ``skipping.maintain_file_manifest``):
    every persistent structure in the engine now has a one-call
    check-then-repair policy a scheduler can run on a beat.

    Check (metadata-only): the driver's filesystem listing counts data
    files and how many are under ``small_file_mb`` — no data file is
    opened, so an idle tick costs one listing RPC sweep regardless of
    table bytes (the priced property of every tick,
    ``BENCH_scale_r11.json`` idle_tick_*). Repair (only when the small
    share exceeds ``small_share_threshold``): :func:`compact` into a
    staged sibling sized from MEASURED bytes, swapped in with the
    crash-recoverable rename-aside pattern (``skipping._swap_in`` —
    every non-atomic gap leaves a copy on disk). After a compaction,
    any file manifest for ``path`` is rebuilt from its stored params:
    a rewrite invalidates every per-file fingerprint, and a stale
    manifest would silently un-prune reads.

    Returns the decision trail:
    ``{"n_files", "n_small", "small_share", "compacted",
    "n_files_after", "manifest"}`` (``manifest``:
    ``"absent" | "rebuilt"``).

    Idempotent: re-running after a completed compaction degrades to
    the listing check — the repair fires only when the measured-size
    target (``ceil(bytes / target_file_mb)``) is actually FEWER files
    than the table has, so a table that is merely small (one
    under-threshold file) is never rewritten in a loop.
    """
    from . import skipping as _skp

    # Z-ordered tables first go through zorder_fold, which (a) replays
    # a crashed extend's swap journal BEFORE anything measures or
    # compacts (advice finding: a direct layout tick compacting a
    # half-swapped table would bake the duplicated delta rows in and
    # then clear the journal — permanent duplicates), and (b) folds
    # accumulated tile generations back together once their count
    # passes ``max_z_generations`` (overlapping small generations decay
    # box-pruning selectivity; VERDICT r11 ask 4). Both actions are
    # idempotent and journaled.
    jvm, fs, _p = _fs(spark, path)
    zp = jvm.org.apache.hadoop.fs.Path(_zparams_path(path))
    has_z = fs.exists(zp)
    zrecovered = False
    if has_z:
        # replay a crashed swap journal NOW (cheap, correctness-
        # critical) — but defer the fold itself until after the
        # compaction decision: a fold whose tiles the compactor is
        # about to rewrite anyway would be pure wasted I/O (review
        # finding)
        zparams = _skp._read_json(spark, _zparams_path(path))
        if zparams.get("pending_add") or zparams.get("pending_remove"):
            _zreplay(spark, path, zparams)
            zrecovered = True

    files = _list_parquet_file_infos(spark, path)
    n_files = len(files)
    n_small = sum(1 for _, s in files if s < small_file_mb * 1024 * 1024)
    share = round(n_small / n_files, 6) if n_files else 0.0
    report = {
        "n_files": n_files,
        "n_small": n_small,
        "small_share": share,
        "compacted": False,
        "n_files_after": n_files,
        "manifest": "absent",
    }
    total = sum(s for _, s in files)
    n_target = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    if n_files == 0 or share <= float(small_share_threshold) or n_target >= n_files:
        zfold = None
        if has_z:
            zfold = zorder_fold(spark, path, max_generations=max_z_generations)
            report["zfold"] = zfold
        # a fold OR a journal replay rewrote/removed files without
        # compacting: repair any manifest here so a DIRECT layout-tick
        # caller never reads stale fingerprints (review finding: the
        # recovery path needs this as much as the fold path — replay
        # deletes delta originals and moves staged tiles in)
        if zrecovered or (zfold is not None and zfold["folded"]):
            if fs.exists(jvm.org.apache.hadoop.fs.Path(_skp._params_path(path))):
                report["manifest"] = "repaired"
                _skp.maintain_file_manifest(spark, path)
        return report
    stage = path.rstrip("/") + "__stage"
    n_after = compact(spark, path, stage, target_file_mb=target_file_mb)
    _skp._swap_in(spark, path, stage)
    report["compacted"] = True
    report["n_files_after"] = n_after
    # the compaction rewrote every data file: any manifest's
    # fingerprints are all stale, so rebuild from the stored params
    params_p = jvm.org.apache.hadoop.fs.Path(_skp._params_path(path))
    if fs.exists(params_p):
        params = _skp._read_json(spark, _skp._params_path(path))
        # thread the stored bloom sizing through (n_bits/n_hashes/seed)
        # — rebuilding with defaults would permanently downgrade a
        # manifest sized for its key cardinality (review finding), and
        # extend_file_manifest already preserves these on its path
        _skp.build_file_manifest(
            spark,
            path,
            params["stats_cols"],
            bloom_col=params.get("bloom_col"),
            n_bits=params.get("n_bits", _skp.FILE_BLOOM_N_BITS),
            n_hashes=params.get("n_hashes", _skp.DEFAULT_N_HASHES),
            seed=params.get("seed", 42),
        )
        report["manifest"] = "rebuilt"
    # a z-order sidecar's file list is equally stale after a
    # compaction: reset it HERE (not only in the composed tick) so a
    # direct layout-tick call can never make the next zorder_extend
    # misread the whole rewritten table as "delta" and re-cluster it
    zp = jvm.org.apache.hadoop.fs.Path(_zparams_path(path))
    if fs.exists(zp):
        zparams = _skp._read_json(spark, _zparams_path(path))
        zparams["files"] = sorted(
            os.path.basename(f)
            for f, _ in _list_parquet_file_infos(spark, path)
        )
        # a compaction collapses every tile generation into one
        zparams["generations"] = [zparams["files"]]
        zparams["pending_add"] = []
        zparams["pending_remove"] = []
        _skp._write_json(spark, _zparams_path(path), zparams)
        report["zorder_sidecar"] = "reset"
    return report


# ---------------------------------------------------------------------------
# Incremental z-order maintenance: OPTIMIZE-style re-clustering of the
# unclustered tail only — a 100 TB table is never fully rewritten
# ---------------------------------------------------------------------------


def _zparams_path(path: str) -> str:
    # sibling file, not inside the data dir (same rule as the manifest
    # and ANN sidecars: a nested file would be read as table data)
    return path.rstrip("/") + "__zorder.json"


# one FS-handle helper for the whole engine — maintenance shares
# skipping's (review finding: a byte-identical local copy had crept in)
from .skipping import _fs  # noqa: E402


def zorder_init(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Z-order-cluster ``df`` into ``path`` (:func:`zorder_write`) and
    record the clustering params + the clustered file set in a sidecar
    — the tracking that makes :func:`zorder_extend` possible: later
    appends land as UNclustered files, and the extend pass can tell
    them apart from the tiles it already built without reading a row.
    """
    from . import skipping as _skp

    zorder_write(df, path, col_a, col_b, n_files, bits=bits)
    spark = df.sparkSession
    files = _list_parquet_file_infos(spark, path)
    total = sum(s for _, s in files)
    names = sorted(os.path.basename(f) for f, _ in files)
    _skp._write_json(
        spark,
        _zparams_path(path),
        {
            "col_a": col_a,
            "col_b": col_b,
            "bits": int(bits),
            # per-tile byte target measured from the initial build, so
            # every extend sizes its tile count the same way
            "target_file_bytes": max(1, total // max(1, len(files))),
            "files": names,
            # tile GENERATIONS: the init build is generation 0; every
            # extend appends one. zorder_fold re-clusters the non-base
            # generations together once the count passes its threshold
            # (overlapping small generations degrade box pruning)
            "generations": [names],
            "pending_add": [],
            "pending_remove": [],
        },
    )


def _zgenerations(params: dict) -> list[list[str]]:
    """The sidecar's tile-generation list; legacy sidecars (written
    before generations were tracked) degrade to one generation holding
    every known file — fold then treats the whole table as base and
    no-ops, which is the safe reading."""
    gens = params.get("generations")
    if gens:
        return [sorted(g) for g in gens]
    return [sorted(params["files"])]


def zorder_fold(
    spark: SparkSession, path: str, max_generations: int = 4
) -> dict:
    """Single-writer-locked entry point; see :func:`_zorder_fold`."""
    with _single_writer(spark, path):
        return _zorder_fold(spark, path, max_generations=max_generations)


def _zorder_fold(
    spark: SparkSession, path: str, max_generations: int = 4
) -> dict:
    """Fold accumulated z-order tile GENERATIONS back into one:
    :func:`zorder_extend` re-clusters only each append's delta, so a
    steady-state append workload accrues one small generation per
    tick; their (a, b) boxes overlap the older generations', so a box
    read opens ~one tile per generation and pruning selectivity decays
    linearly with tick count. Once the generation count passes
    ``max_generations``, this pass re-clusters every NON-BASE
    generation together into fresh tiles — bounded I/O (the base
    build, normally the vast majority of a 100 TB table's bytes, is
    never rewritten) and journaled exactly like the extend swap
    (``pending_add``/``pending_remove`` commit before any visible
    mutation; replay is idempotent).

    Returns ``{"folded", "recovered", "n_generations",
    "n_new_tiles"}`` — ``n_generations`` is the count BEFORE folding.

    Unclustered raw appends (files newer than the last extend) are
    untouched: they belong to no generation and remain the next
    extend's delta.
    """
    from . import skipping as _skp

    params = _skp._read_json(spark, _zparams_path(path))
    recovered = _zreplay(spark, path, params)

    gens = _zgenerations(params)
    report = {
        "folded": False,
        "recovered": recovered,
        "n_generations": len(gens),
        "n_new_tiles": 0,
    }
    # clamp: the base generation is never a fold victim, so any
    # max_generations <= 0 means "fold everything but the base" — a
    # raw 0 with a single-generation (or legacy) sidecar would pass
    # the gate (1 <= 0 is false) with an EMPTY victims list and throw
    # on the zero-path read below (ADVICE r12)
    if len(gens) <= max(1, int(max_generations)):
        return report

    victims = sorted(set().union(*gens[1:]))
    if not victims:
        return report
    sizes = {
        os.path.basename(f): s
        for f, s in _list_parquet_file_infos(spark, path)
    }
    victim_bytes = sum(sizes.get(n, 0) for n in victims)
    report["n_new_tiles"] = _zrecluster(
        spark, path, params, victims, victim_bytes, gens[:1]
    )
    report["folded"] = True
    return report


def _zrecluster(
    spark: SparkSession,
    path: str,
    params: dict,
    victims: list[str],
    victim_bytes: int,
    keep_gens: list[list[str]],
) -> int:
    """The swap behind :func:`zorder_extend` and :func:`zorder_fold`:
    re-cluster the ``victims`` files into fresh z-tiles in the stage
    dir, journal the swap intent and the post-swap state in the
    sidecar (``pending_add``/``pending_remove``, the file set, and the
    generations ``keep_gens`` plus the new tiles) BEFORE any visible
    mutation, then replay the journal and clear it. Returns the
    number of new tiles."""
    from . import skipping as _skp

    n_tiles = max(1, math.ceil(victim_bytes / params["target_file_bytes"]))
    stage_dir = path.rstrip("/") + "__zstage"
    ddf = spark.read.parquet(*[path.rstrip("/") + "/" + n for n in victims])
    keyed = ddf.withColumn(
        "__z", zorder_value(params["col_a"], params["col_b"], params["bits"])
    )
    cluster_write(keyed, stage_dir, ["__z"], n_tiles, drop_cols=["__z"])
    staged = sorted(
        os.path.basename(f)
        for f, _ in _list_parquet_file_infos(spark, stage_dir)
    )
    params["pending_add"] = staged
    params["pending_remove"] = victims
    params["files"] = sorted(set(params["files"]) - set(victims) | set(staged))
    params["generations"] = keep_gens + [staged]
    _skp._write_json(spark, _zparams_path(path), params)
    _zreplay(spark, path, params)
    return len(staged)


def _zreplay(spark: SparkSession, path: str, params: dict) -> bool:
    """Replay the sidecar's swap journal (:func:`_zrecover`) and clear
    it: the file set and generations it was written with already
    describe the post-swap state. Returns whether the replay moved or
    deleted a file."""
    from . import skipping as _skp

    acted = _zrecover(spark, path, params)
    if params.get("pending_add") or params.get("pending_remove"):
        params["pending_add"] = []
        params["pending_remove"] = []
        _skp._write_json(spark, _zparams_path(path), params)
    return acted


def _zrecover(spark: SparkSession, path: str, params: dict) -> bool:
    """Replay a crashed extend's journal: staged tiles still in the
    stage dir move in; originals listed for removal are deleted. Both
    actions are idempotent (move-if-present / delete-if-present), so
    recovery itself can crash and re-run."""
    jvm, fs, _ = _fs(spark, path)
    acted = False
    stage_dir = path.rstrip("/") + "__zstage"
    for name in params.get("pending_add", []):
        src = jvm.org.apache.hadoop.fs.Path(stage_dir + "/" + name)
        if fs.exists(src):
            fs.rename(src, jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + name))
            acted = True
    for name in params.get("pending_remove", []):
        victim = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + name)
        if fs.exists(victim):
            fs.delete(victim, False)
            acted = True
    fs.delete(jvm.org.apache.hadoop.fs.Path(stage_dir), True)
    return acted


def zorder_extend(spark: SparkSession, path: str) -> dict:
    """Single-writer-locked entry point; see :func:`_zorder_extend`."""
    with _single_writer(spark, path):
        return _zorder_extend(spark, path)


def _zorder_extend(spark: SparkSession, path: str) -> dict:
    """Incrementally restore z-order after appends: read ONLY the
    files that postdate the last clustering pass (delta-sized I/O),
    re-cluster those rows into new z-tiles, and atomically-enough swap
    them for the raw originals. The table's clustered generations
    coexist — every tile still covers a compact (a, b) box, so
    manifest/footer pruning keeps working across generations — and a
    100 TB history is NEVER fully rewritten to stay skippable (the
    full :func:`zorder_write` is a one-time init, not a maintenance
    cost; this is the OPTIMIZE-shaped upkeep).

    Durability: the swap is journaled in the sidecar
    (``pending_add``/``pending_remove``) BEFORE any visible mutation —
    staged tiles are written outside the data dir, the journal
    commits, then tiles move in and originals are deleted. A crash
    anywhere replays from the journal on the next call (move-in and
    delete are both idempotent), so the worst visible state is
    transient duplicate rows DURING the swap window of a concurrent
    reader — the same single-writer maintenance-window contract as
    ``compact``'s staged swap, with loss impossible because originals
    are only deleted after their replacement tiles are in place.

    Returns ``{"extended", "recovered", "n_delta_files",
    "n_new_tiles"}``.
    """
    from . import skipping as _skp

    params = _skp._read_json(spark, _zparams_path(path))
    recovered = _zreplay(spark, path, params)

    current = {
        os.path.basename(f): s
        for f, s in _list_parquet_file_infos(spark, path)
    }
    delta = sorted(set(current) - set(params["files"]))
    report = {
        "extended": False,
        "recovered": recovered,
        "n_delta_files": len(delta),
        "n_new_tiles": 0,
    }
    if not delta:
        return report
    delta_bytes = sum(current[name] for name in delta)
    report["n_new_tiles"] = _zrecluster(
        spark, path, params, delta, delta_bytes, _zgenerations(params)
    )
    report["extended"] = True
    return report


def maintain_table(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 16.0,
    small_share_threshold: float = 0.5,
    target_file_mb: float = 128.0,
    max_z_generations: int = 4,
) -> dict:
    """Single-writer-locked entry point; see :func:`_maintain_table`."""
    with _single_writer(spark, path):
        return _maintain_table(
            spark,
            path,
            small_file_mb=small_file_mb,
            small_share_threshold=small_share_threshold,
            target_file_mb=target_file_mb,
            max_z_generations=max_z_generations,
        )


def _maintain_table(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 16.0,
    small_share_threshold: float = 0.5,
    target_file_mb: float = 128.0,
    max_z_generations: int = 4,
) -> dict:
    """One scheduler call per table: compose the layout tick, the
    incremental z-order extend (when the table was ``zorder_init``-ed),
    and the manifest repair tick, in the order that avoids paying any
    pass twice:

    1. **z-order extend first** (if a z-order sidecar exists): it
       rewrites only delta files, and doing it before the small-file
       check means freshly clustered tiles are counted at their real
       size instead of tripping the compactor;
    2. **layout tick**: compacts only if the small-file share still
       exceeds the threshold after clustering (a compaction would
       destroy z-locality, so a z-ordered table should normally be
       healthy here — if it does fire, the layout tick itself resets
       the z sidecar's file list so the next extend re-inits from the
       compacted layout);
    3. **manifest tick last**: one staleness check + delta-sized
       repair covering whatever 1–2 changed.

    Each stage is itself idempotent and crash-recoverable (journaled
    z-swap, staged compaction swap, fingerprint-diffed manifest), so
    the composition is too: re-running after any crash converges.
    Returns ``{"zorder", "layout", "manifest"}`` — each stage's own
    decision trail (``None`` for stages whose structure is absent).
    """
    from . import skipping as _skp

    jvm, fs, _ = _fs(spark, path)
    report: dict = {"zorder": None, "layout": None, "manifest": None}

    zp = jvm.org.apache.hadoop.fs.Path(_zparams_path(path))
    if fs.exists(zp):
        report["zorder"] = zorder_extend(spark, path)

    layout = maintain_table_layout(
        spark,
        path,
        small_file_mb=small_file_mb,
        small_share_threshold=small_share_threshold,
        target_file_mb=target_file_mb,
        max_z_generations=max_z_generations,
    )
    report["layout"] = layout
    # a firing compaction resets the z sidecar inside the layout tick
    # itself, so a direct maintain_table_layout caller gets the same
    # protection as this composed path

    mp = jvm.org.apache.hadoop.fs.Path(_skp._params_path(path))
    if fs.exists(mp):
        report["manifest"] = _skp.maintain_file_manifest(spark, path)
    return report
