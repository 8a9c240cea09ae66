"""Soft deletes for the persistent indexes: one tombstone lifecycle
shared by the vector index (``jobs.retrieval``, rows partitioned by
``cid``) and the minhash index (``operators.dedup``, band rows
partitioned by ``band``).

Format: a delete appends the deleted ids to a parquet sidecar
``<index>__tombstones`` (one column, ``id``). It is a SIBLING of the
index directory, never nested inside it, where it would be read as
index rows. A delete never rewrites the index's partitions.

Visibility: a stored row is live iff its id is not tombstoned.
Tombstones are metadata-sized, so each call reads them once on the
driver (:func:`read`: pyarrow on local paths, no Spark job, ids
deduped here) and hands them to the plan as a broadcast literal frame
(:func:`drop_dead` anti-joins it, :func:`flag` left-joins it).

Lifecycle: :func:`compact` folds the tombstones into the stored rows
on a cadence (stage, ``skipping._swap_in``, drop the sidecar), and an
append that re-admits a tombstoned id compacts first
(:func:`compact_if_readmitting`, or the re-admission count of
:func:`live_delta` in a maintenance tick), so a stale stored row never
coexists with its re-added replacement.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_df, parquet_scan
from . import skipping as _skp


def sidecar_path(index_path: str) -> str:
    return index_path.rstrip("/") + "__tombstones"


def read_sidecar(spark: SparkSession, path: str, ddl: str) -> list[tuple] | None:
    """Rows of a metadata-sized sidecar dataset, or ``None`` when it
    does not exist. A local path (the ``skipping._local_root`` seam
    that ``session.parquet_scan`` uses) is read in-process with
    pyarrow: no Spark job and no footer-inference pass. Hidden files
    and directories (``_SUCCESS``, ``.crc``, ``_temporary``) are
    skipped, as Spark's file index skips them. Any other filesystem
    takes one explicit-schema (``ddl``) Spark read."""
    names = T.StructType.fromDDL(ddl).fieldNames()
    local = _skp._local_root(path, spark)
    if local is None:
        _, fs, p = _skp._fs(spark, path)
        if not fs.exists(p):
            return None
        return [tuple(r) for r in spark.read.schema(ddl).parquet(path).collect()]
    if not os.path.isdir(local):
        return None
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    for f, _, _ in sorted(_skp._walk_local_files(local)):
        if any(p.startswith(("_", ".")) for p in os.path.relpath(f, local).split(os.sep)):
            continue
        t = pq.read_table(f, columns=names)
        rows.extend(zip(*(t.column(n).to_pylist() for n in names)))
    return rows


def read(spark: SparkSession, index_path: str, id_type: T.DataType) -> list | None:
    """The index's deleted ids as a sorted, distinct driver-side list,
    or ``None`` when no delete has landed since the last compaction.
    ``id_type`` is the index's id column type (the explicit schema of
    a non-local read). NULL ids never match an anti-join, so they are
    dropped."""
    rows = read_sidecar(spark, sidecar_path(index_path), f"id {id_type.simpleString()}")
    if rows is None:
        return None
    return sorted({r[0] for r in rows if r[0] is not None})


#: "not read yet" marker for the tombstone argument of the helpers
#: below (``None`` means "read, and there are none")
UNREAD = object()


def resolve(spark, index_path: str, scan: DataFrame, id_col: str, tombs):
    if tombs is UNREAD:
        return read(spark, index_path, scan.schema[id_col].dataType)
    return tombs


def append(deleted: DataFrame, index_path: str, id_col: str) -> None:
    """The delete: append ``deleted``'s ids to the sidecar, as given,
    in one write job (every reader dedupes them on the driver)."""
    deleted.select(F.col(id_col).alias("id")).write.mode("append").parquet(
        sidecar_path(index_path)
    )


def clear(spark: SparkSession, index_path: str) -> None:
    """Delete the sidecar, if any: after a compaction folded it in, and
    when a rebuilt index starts clean (tombstones from a previous index
    at the same path must not hide the new corpus)."""
    _, fs, p = _skp._fs(spark, sidecar_path(index_path))
    fs.delete(p, True)


def _dead_frame(spark, tombs: list, id_type: T.DataType, name: str) -> DataFrame:
    """Tombstones as a literal ``(name, __dead)`` frame (``__dead`` = 1)."""
    return local_df(
        spark,
        [(i, 1) for i in tombs],
        T.StructType(
            [T.StructField(name, id_type), T.StructField("__dead", T.IntegerType())]
        ),
    )


def flag(df: DataFrame, spark, id_col: str, tombs) -> DataFrame:
    """``df`` plus ``__dead`` (1 for a tombstoned id, else NULL): a
    broadcast left join against the literal tombstone frame."""
    if not tombs:
        return df.withColumn("__dead", F.lit(None).cast("int"))
    dead = _dead_frame(spark, tombs, df.schema[id_col].dataType, id_col)
    return df.join(F.broadcast(dead), id_col, "left")


def drop_dead(
    scan: DataFrame, spark, index_path: str, id_col: str, tombs=UNREAD
) -> DataFrame:
    """``scan`` minus the tombstoned ids: a broadcast anti-join against
    the literal tombstone frame. ``tombs`` is a list already read this
    call (or ``None``); left out, it is read here."""
    tombs = resolve(spark, index_path, scan, id_col, tombs)
    if not tombs:
        return scan
    dead = _dead_frame(spark, tombs, scan.schema[id_col].dataType, id_col)
    return scan.join(F.broadcast(dead), id_col, "anti")


def compact(
    spark: SparkSession, index_path: str, part_col: str, id_col: str, tombs=UNREAD
) -> None:
    """Fold the tombstones into the index: rewrite the stored rows
    without the deleted ids (one index-sized pass keeping the
    ``part_col`` partitioning; every other column passes through) to a
    stage sibling, swap it in (Spark cannot overwrite a path it is
    reading), then drop the sidecar. A crash after the swap leaves
    tombstones that mask ids no longer stored, so a re-run converges."""
    scan = parquet_scan(spark, index_path, [(part_col, "int")])
    tombs = resolve(spark, index_path, scan, id_col, tombs)
    if tombs is None:
        return
    stage = index_path.rstrip("/") + "__stage"
    drop_dead(scan, spark, index_path, id_col, tombs).write.mode(
        "overwrite"
    ).partitionBy(part_col).parquet(stage)
    _skp._swap_in(spark, index_path, stage)
    clear(spark, index_path)


def compact_if_readmitting(
    new_rows: DataFrame, index_path: str, part_col: str, id_col: str
) -> None:
    """An append batch holding a currently-tombstoned id is a
    RE-ADMISSION: the id's stale stored rows are still in the
    partitions, and appending beside them would put two versions behind
    one id. Compact first, so the append lands clean and extended ==
    rebuilt holds in every case. The check is one broadcast semi-join
    over the batch's ``id_col``; the index-sized rewrite is paid only
    when a batch actually re-admits."""
    spark = new_rows.sparkSession
    id_type = new_rows.schema[id_col].dataType
    tombs = read(spark, index_path, id_type)
    if not tombs:
        return
    dead = _dead_frame(spark, tombs, id_type, id_col)
    if new_rows.select(id_col).join(F.broadcast(dead), id_col, "semi").count():
        compact(spark, index_path, part_col, id_col, tombs)


def live_delta(
    new_rows: DataFrame, stored_ids: DataFrame, id_col: str, tombs
) -> tuple[DataFrame, int, int]:
    """A maintenance tick's idempotency guard: ``new_rows`` minus the
    ids already LIVE in the index (``stored_ids``: the index scan's one
    id column), so a retried tick cannot ingest a batch twice. A
    tombstoned id still passes: the batch re-admits it. Returns
    ``(delta, n_rows, n_readmitted)``.

    The delta is checkpointed eagerly: its plan READS the index, and
    the tick's later steps REWRITE it (retrain swap, compaction,
    append), so a lazy delta would re-list deleted files mid-tick. Its
    row and re-admission counts are observed on that one pass."""
    spark = new_rows.sparkSession
    flagged = flag(new_rows, spark, id_col, tombs)
    live = F.col("__dead").isNull() & (F.col(id_col) == F.col("__stored_id"))
    delta = flagged.join(stored_ids.toDF("__stored_id"), live, "anti")
    counts = Observation()
    delta = delta.observe(
        counts, F.count(F.lit(1)).alias("rows"), F.count("__dead").alias("readmit")
    ).localCheckpoint(eager=True).drop("__dead")
    return delta, int(counts.get["rows"]), int(counts.get["readmit"])


def live_share(stored_ids: DataFrame, id_col: str, tombs) -> float:
    """Share of the stored rows that are live, in one aggregate job
    over ``stored_ids`` (the index scan's id column): the vacuum signal
    a tick compares with its ``min_live_share``. An empty index reads
    1.0."""
    stored, dead = (
        flag(stored_ids, stored_ids.sparkSession, id_col, tombs)
        .agg(F.count(F.lit(1)), F.count("__dead"))
        .collect()[0]
    )
    return float(stored - dead) / float(stored) if stored else 1.0
