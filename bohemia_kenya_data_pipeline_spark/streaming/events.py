"""Streaming event operators: file-source ingestion, watermarked window
aggregation, and custom stateful sessionization.

Differential contract (tested in tests/test_streaming.py): each
operator run with ``trigger(availableNow=True)`` over a static
directory equals its batch counterpart on the same data — streaming is
an execution mode here, not different semantics.

Scale notes:
- watermarks bound state: a windowed agg keeps only windows newer than
  (max event time - watermark); sessionization state times out one gap
  after a user's last event. Without these, 100 TB of streams grows
  executor state without bound;
- ``applyInPandasWithState`` groups by user — the same single-shuffle
  shape as the batch window plan, with Arrow-batched per-group state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import local_df
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StructField, StructType, TimestampType,
)


def stream_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source readStream over a parquet events zone. Streaming
    reads REQUIRE a declared schema (no inference pass over an
    unbounded source) — same rule as the batch S1 contract."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling (or sliding) window counts per key.

    Late rows beyond ``watermark`` are dropped and their windows
    finalized — bounded state. Emits
    (window_start, window_end, key, n).
    """
    win = F.window(F.col(ts_col), window, slide or window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col(key_col),
            "n",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = "start LONG, last LONG, n LONG"


def sessionize_stream(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (``applyInPandasWithState``, event-time timeout).

    Same session rule as the batch :func:`..operators.windows.
    sessionize`: a session closes when the next event of the user is
    more than ``gap_minutes`` later. Closed sessions emit in the batch
    that closes them (data-driven); the final open session of each user
    emits when the watermark passes its end + gap (timeout-driven).
    Emits (user_id, session_start, session_end, n_events).

    State per user is three longs — bounded by active users, not by
    stream length.

    Append-mode determinism: each session emits exactly once, by
    exactly one mechanism — a data-close updates state to the new
    session within the same batch, and a timeout removes state before
    any further emission, so the two can never both fire for one
    session. Input rows beyond the watermark are filtered before this
    operator runs (verified in tests/test_streaming.py: a late event
    can neither resurrect an evicted session nor change its counts),
    and rows within a batch are sorted here — so emitted values are a
    pure function of (event set, gap, watermark schedule); arrival
    order can only move WHICH batch emits a session, never its values.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out: list[tuple[int, int, int, int]] = []
        uid = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            out.append((uid, start, last, n))
            state.remove()
        else:
            parts = [p for p in pdfs if len(p)]
            if not parts:
                return
            rows = pd.concat(parts)
            # epoch MICROSECONDS — full timestamp precision, so the
            # streaming==batch differential holds on sub-second data
            ts = (
                rows[ts_col].astype("datetime64[ns]").astype("int64") // 1_000
            ).sort_values()
            if state.exists:
                start, last, n = state.get
            else:
                start = last = n = None
            for t in ts:
                t = int(t)
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_us:
                    out.append((uid, start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = max(last, t), n + 1
            state.update((start, last, n))
            state.setTimeoutTimestamp((last + gap_us) // 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": pd.to_datetime([o[1] for o in out], unit="us"),
                    "session_end": pd.to_datetime([o[2] for o in out], unit="us"),
                    "n_events": [o[3] for o in out],
                }
            )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    inner-joins the static dimension — the standard streaming
    dimension-lookup (no watermark required; a stream-static inner
    join is stateless, every matched row emits exactly once in append
    mode, so the availableNow run equals the batch join row-for-row).

    The static side is re-planned per micro-batch (a dim refresh on
    disk is picked up at the next batch) and broadcast explicitly —
    at 100 TB of stream the dim lookup must never shuffle the stream.
    """
    return stream.join(F.broadcast(dim), on, "inner")


def dedup_stream(stream: DataFrame, keys: list[str], within_watermark: str | None = None) -> DataFrame:
    """Streaming key-dedup: emit the first arrival per key.

    With ``within_watermark`` (production): state is bounded — a key is
    remembered only while it can still recur inside the watermark
    (``dropDuplicatesWithinWatermark``; requires an upstream
    ``withWatermark``). Without it, state grows with distinct keys —
    acceptable only for bounded backfills (the availableNow
    differential in the registered query runs this mode).

    Determinism note: WHICH physical row represents a key depends on
    arrival order, so only the key columns themselves are
    deterministic output — project to the keys before comparing, as
    the oracle does.
    """
    if within_watermark is not None:
        return stream.dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lookback: str,
    watermark: str,
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    match right rows whose timestamp falls within ``lookback`` BEFORE
    the left row's timestamp (attribution shape: purchase joined to
    the signup/click that preceded it).

    Both sides carry watermarks and the join condition bounds
    right_ts relative to left_ts, so Spark can expire buffered state
    once the watermark passes the interval — bounded memory on
    unbounded streams. Inner-join append emission is exactly the match
    set, so an availableNow run over a static directory equals the
    batch range join row-for-row (the registered query's oracle).
    """
    return _interval_join(
        left, right, left_key, right_key, left_ts, right_ts, lookback, watermark, "inner"
    )


def interval_join_streams_left(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lookback: str,
    watermark: str,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every left row emits —
    matched rows as soon as the match arrives, UNMATCHED rows
    NULL-padded only once the watermark proves no match can still
    come (the state-timeout semantics inner joins never need).

    Differential contract (tested): an availableNow run over static
    data, where the terminal watermark finalizes everything, equals
    the batch left range join row-for-row — including which rows got
    NULL padding.
    """
    return _interval_join(
        left, right, left_key, right_key, left_ts, right_ts, lookback, watermark, "leftOuter"
    )


def _interval_join(
    left, right, left_key, right_key, left_ts, right_ts, lookback, watermark, how
):
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    return lw.join(rw, cond, how)


def incremental_dedup_sink(
    stream: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming corpus ingest with exact dedup against an append-only
    hash store: each micro-batch runs
    :func:`~..operators.dedup.incremental_exact_dedup` against the
    store as of the batch start, appends accepted documents to
    ``out_path`` and their hashes to ``store_path``.

    foreachBatch because the dedup needs a fresh read of the
    (batch-updated) store every trigger — a static join would pin the
    store snapshot at query start, and dropDuplicates-with-state would
    hold every hash in executor state forever (the store IS the state,
    spilled to the lakehouse where it belongs at 10^12-doc scale).

    Delivery contract (documented, tested): accepted docs are written
    BEFORE their hashes commit, so a crash between the two writes
    replays the batch and re-emits its rows — at-least-once on
    ``out_path``, while the store stays a strict subset of emitted
    hashes (never claims a doc it lost). Replayed batches whose hashes
    DID commit self-suppress to zero rows. Downstream exactly-once =
    dedup on content_hash, which the output carries for that purpose.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from ..operators import dedup as _dd

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            history = spark.read.parquet(store_path).select("content_hash")
        except AnalysisException:  # first batch: store does not exist yet
            # ONLY the path-missing case may degrade to an empty
            # history — a transient IO/permission failure must raise,
            # not silently disable dedup for the batch
            history = local_df(spark, [], "content_hash STRING")
        accepted, new_hashes = _dd.incremental_exact_dedup(
            batch_df, history, text_col, id_col
        )
        accepted = accepted.persist()
        try:
            accepted.write.mode("append").parquet(out_path)
            new_hashes.write.mode("append").parquet(store_path)
        finally:
            accepted.unpersist()

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def neardup_ingest_sink(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    quarantine_path: str | None = None,
    max_bucket_size: int | None = None,
):
    """Streaming corpus ingest with NEAR-dup suppression against a
    persistent minhash index — the fuzzy sibling of
    :func:`incremental_dedup_sink`: each micro-batch (a) probes the
    index (:func:`~..operators.dedup.minhash_index_query` — sign the
    batch only, band-partition-pruned join), (b) generates
    within-batch candidate pairs with the INDEX'S OWN signature
    params (a probe can never out-run the index's hashing), (c)
    appends survivors to ``out_path`` and admits them into the index
    (:func:`~..operators.dedup.minhash_index_extend`).

    Suppression rule, deterministic: a doc is dropped iff it
    candidates against ANY indexed doc, or against a SMALLER-id doc
    in its own batch (keep-lowest-id — the same representative choice
    as ``drop_exact_duplicates``). Flagged docs land in
    ``quarantine_path`` (when set) with a ``reason`` column
    (``index`` / ``batch``) for review — candidates are minhash-level
    (Jaccard-likely), so a human/verify stage downstream of
    quarantine is the intended shape, exactly like the reference's
    anomaly-review loop rather than silent deletion.

    The index must exist (seed it with ``minhash_index_write``, even
    on an empty corpus). Delivery contract mirrors the exact-dedup
    sink: survivors are written BEFORE their band rows commit, so the
    index stays a strict subset of emitted docs (at-least-once on
    ``out_path``/quarantine; a replayed batch whose band rows DID
    commit self-suppresses — each replayed doc candidates against its
    own indexed band rows). Downstream exactly-once = dedup on
    ``id_col``.

    100 TB shape: per batch, work is batch-signature + a pruned
    equi-join against the band partitions + a batch-sized extend —
    the corpus is signed once, ever; ``max_bucket_size`` caps
    hot-bucket blowup on boilerplate-heavy streams (same contract as
    the batch generators).
    """
    from ..operators import dedup as _dd

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        params = _dd.read_minhash_index_params(spark, index_path)
        vs_index = (
            _dd.minhash_index_query(
                batch_df, index_path, text_col, id_col,
                max_bucket_size=max_bucket_size,
            )
            .select(F.col("new_id").alias("_flag_id"))
            .distinct()
        )
        in_batch = (
            _dd.minhash_lsh_pairs(
                batch_df,
                text_col,
                id_col,
                num_hashes=params["num_hashes"],
                bands=params["bands"],
                shingle_n=params["shingle_n"],
                seed=params["seed"],
                max_bucket_size=max_bucket_size,
            )
            .select(F.col("id_b").alias("_flag_id"))  # keep-lowest-id
            .distinct()
        )
        key = F.col(id_col)
        accepted = (
            batch_df.join(
                vs_index.unionByName(in_batch).distinct(),
                key == F.col("_flag_id"),
                "left_anti",
            ).persist()
        )
        try:
            accepted.write.mode("append").parquet(out_path)
            if quarantine_path is not None:
                reason = (
                    batch_df.join(
                        vs_index, key == F.col("_flag_id"), "semi"
                    )
                    .withColumn("reason", F.lit("index"))
                    .unionByName(
                        batch_df.join(
                            vs_index, key == F.col("_flag_id"), "anti"
                        )
                        .join(in_batch, key == F.col("_flag_id"), "semi")
                        .withColumn("reason", F.lit("batch"))
                    )
                )
                reason.write.mode("append").parquet(quarantine_path)
            _dd.minhash_index_extend(accepted, index_path, text_col, id_col)
        finally:
            accepted.unpersist()

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _committed_versions(spark: SparkSession, store_path: str) -> list[int]:
    """Version ids under ``store_path/v=<id>`` whose parquet
    ``_SUCCESS`` marker exists. A crash mid-write leaves a ``v=`` dir
    WITHOUT the marker (Spark's output committer creates it only at
    job commit) — treating such a partial directory as committed
    would (a) make a replayed batch skip itself, permanently losing
    that batch's rows, and (b) let later versions merge from a torn
    store. Partial directories are invisible here; the replaying
    batch's ``mode("overwrite")`` write replaces them.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = root.getFileSystem(conf)
    versions: list[int] = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v=") and fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    f"{store_path}/{name}/_SUCCESS"
                )
            ):
                versions.append(int(name[2:]))
    return sorted(versions)


def _gc_old_versions(
    spark: SparkSession, store_path: str, keep_versions: int
) -> None:
    """Drop all but the newest ``keep_versions`` committed ``v=`` dirs.

    Without retention a version-publishing sink grows O(table_size ×
    n_batches) — only the latest version is ever read back
    (``read_cdc_table`` / "latest committed" everywhere), so older
    versions are pure storage leak once the stream's replay window has
    passed them. Keep at least 2: the newest version plus its
    predecessor, so a crash between "write v=N" and "checkpoint commit
    N" can replay batch N (which reads max(v < N)) — with
    ``availableNow`` + checkpointing, replays only ever target the
    most recent uncommitted batch, never older ones. Uncommitted
    (no ``_SUCCESS``) partial dirs are not GC'd here; the replaying
    batch's own overwrite replaces them.
    """
    versions = _committed_versions(spark, store_path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = root.getFileSystem(conf)
    for v in versions[:-keep_versions]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/v={v}"), True)


def scd2_history_sink(
    stream: DataFrame,
    history_path: str,
    checkpoint: str,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_date_col: str,
    tiebreak_cols: list[str] | None = None,
    keep_versions: int | None = None,
):
    """Continuous SCD2 history maintenance from a stream of snapshot
    rows: each micro-batch merges into the current history via
    :func:`~..operators.scd.merge_scd2` (close changed rows, append
    successors, insert new keys) and publishes a NEW immutable history
    version under ``history_path/v=<batch_id>``.

    Versioned-directory publication instead of in-place overwrite: the
    merge lazily READS the current history while writing the next one
    — overwriting the same files mid-scan is the classic
    self-overwrite corruption. Readers take the max ``v=``; old
    versions are compaction/GC fodder (operators/maintenance.py).
    Each batch's effective date is the max of its
    ``effective_date_col`` (deterministic per batch content). Batch
    snapshots are keep-last deduped per key on (effective_date_col
    desc) before the merge, so one batch holding several versions of a
    key records only the newest (intra-batch history is finer-grained
    than micro-batch cadence — documented, not silently wrong). Pass
    ``tiebreak_cols`` (a unique row key) so same-date updates for one
    key resolve deterministically — latest_per_key's total-order
    contract.

    Replay-safe: foreachBatch is at-least-once, and a replayed batch
    would otherwise read its OWN v=<batch_id> output as 'current'
    while overwriting that same path (self-overwrite corruption). A
    replay therefore (a) skips entirely when v=<batch_id> is COMMITTED
    (``_SUCCESS`` marker present — a crash mid-write leaves no marker,
    so the replay re-runs and overwrites the partial dir instead of
    losing the batch) and (b) only ever reads committed versions
    strictly below its own batch id.

    ``keep_versions`` (≥ 2): retain only the newest N versions after
    each commit (:func:`_gc_old_versions`); ``None`` keeps all — the
    history table inside each version is complete, so old versions
    are redundant once past the replay window.

    Returns the started StreamingQuery.
    """
    if keep_versions is not None and keep_versions < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (newest + replay predecessor), "
            f"got {keep_versions}"
        )
    from ..operators import scd as _scd
    from ..operators import windows as _W

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        versions = _committed_versions(spark, history_path)
        if batch_id in versions:
            return  # replayed batch: its output already committed
        versions = [v for v in versions if v < batch_id]
        if versions:
            current = spark.read.parquet(f"{history_path}/v={max(versions)}")
        else:
            fields = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in batch_df.schema.fields
                if f.name in (*key_cols, *tracked_cols)
            )
            current = local_df(
                spark, [], fields + ", valid_from DATE, valid_to DATE"
            )
        effective = batch_df.agg(
            F.max(F.col(effective_date_col).cast("date")).alias("d")
        ).collect()[0][0]
        if effective is None:
            # all-NULL effective dates would stringify to 'None' ->
            # NULL valid_from rows, which merge_scd2 treats as absent
            # on the next merge (silent row loss) — refuse loudly
            raise ValueError(
                f"batch {batch_id}: every {effective_date_col!r} value is NULL"
            )
        snapshot = _W.latest_per_key(
            batch_df,
            key_cols,
            order_by=[effective_date_col, *(tiebreak_cols or [])],
            keep="last",
        ).select(*key_cols, *tracked_cols)
        merged = _scd.merge_scd2(
            current, snapshot, key_cols, tracked_cols, str(effective)
        )
        merged.write.mode("overwrite").parquet(f"{history_path}/v={batch_id}")
        if keep_versions is not None:
            _gc_old_versions(spark, history_path, keep_versions)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_upsert_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    payload_cols: list[str] | None = None,
    tombstone_min_seq=None,
    keep_versions: int | None = None,
):
    """Continuous MERGE INTO: a stream of CDC ops (Debezium-style
    ``I``/``U``/``D`` row images) maintains an upsert table, publishing
    an immutable version under ``table_path/v=<batch_id>`` per
    micro-batch (same committed-version replay safety as
    :func:`scd2_history_sink`; read the live rows back with
    :func:`read_cdc_table`).

    Unlike a naive per-batch MERGE (batch-local last-writer-wins, e.g.
    one :func:`~..operators.scd.apply_cdc_log` call per batch), this
    sink reconciles ACROSS batches: the table itself carries each
    row's winning ``seq_cols`` plus a tombstone marker, and every
    batch compacts ``current-table ∪ batch-log`` with one
    last-writer-wins window. Consequences, all tested:

    - a late entry arriving in a LATER batch with an OLDER sequence
      loses to the row already in the table (naive per-batch MERGE
      would let it clobber newer data);
    - deletes persist as tombstones, so a late stale update cannot
      resurrect a deleted key (tombstones are retained indefinitely —
      GC them past the transport's max disorder with a filtered
      compaction when that bound is known);
    - at-least-once transport is fine: replaying any suffix of the
      log is absorbed by last-writer-wins idempotence.

    The compaction window runs over current ∪ batch — the table IS the
    state, spilled to the lakehouse instead of executor memory (same
    design as :func:`incremental_dedup_sink`'s hash store). At 100 TB
    the per-batch rewrite becomes partition-scoped: route keys to
    partitions on write and compact only partitions the batch touches.

    ``seq_cols`` must totally order entries per key across the whole
    transport (ts + LSN); ops outside I/U/D fail the batch loudly.

    ``tombstone_min_seq``: retention watermark for tombstone GC,
    applied inside each batch's compaction (a separate GC job would
    publish a version number that collides with a future batch id and
    make that batch self-suppress — so GC lives here). Tombstones
    whose FIRST seq column is below the watermark are dropped from
    the published version. Correctness contract: the watermark must
    trail the transport's maximum disorder — any late update that
    could still arrive must carry a seq ABOVE every GC'd tombstone,
    otherwise a stale update can resurrect a deleted key (that is the
    inherent tombstone-retention tradeoff, not a bug here).

    ``keep_versions`` (≥ 2): version retention — after each commit,
    drop all but the newest N ``v=`` directories. Without it storage
    grows O(table_size × n_batches) while only the latest version is
    ever read (``read_cdc_table``); ``None`` keeps everything (a
    time-travel archive the caller GCs). See :func:`_gc_old_versions`
    for the replay-safety argument.
    """
    if keep_versions is not None and keep_versions < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (newest + replay predecessor), "
            f"got {keep_versions}"
        )
    from pyspark.sql.window import Window

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        payload = payload_cols or [
            c
            for c in batch_df.columns
            if c not in (*key_cols, *seq_cols, op_col)
        ]
        versions = _committed_versions(spark, table_path)
        if batch_id in versions:
            return  # replayed batch: output already committed
        versions = [v for v in versions if v < batch_id]
        bad_op = F.raise_error(
            F.concat(
                F.lit(f"cdc_upsert_sink batch {batch_id}: unknown op '"),
                F.coalesce(F.col(op_col).cast("string"), F.lit("<null>")),
                F.lit("' (expected I/U/D)"),
            )
        )
        # I and U both mean "this row image wins if newest" — collapse
        # to 'U' so the stored marker is a pure live/tombstone bit
        entries = batch_df.select(
            *key_cols,
            *seq_cols,
            F.when(F.col(op_col).isin("I", "U"), F.lit("U"))
            .when(F.col(op_col) == "D", F.lit("D"))
            .otherwise(bad_op)
            .alias("__cdc_op"),
            *payload,
        )
        if versions:
            current = spark.read.parquet(f"{table_path}/v={max(versions)}")
            entries = current.unionByName(entries)
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in seq_cols]
        )
        compacted = (
            entries.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if tombstone_min_seq is not None:
            compacted = compacted.filter(
                (F.col("__cdc_op") != "D")
                | (F.col(seq_cols[0]) >= F.lit(tombstone_min_seq))
            )
        compacted.write.mode("overwrite").parquet(f"{table_path}/v={batch_id}")
        if keep_versions is not None:
            _gc_old_versions(spark, table_path, keep_versions)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Live rows of a :func:`cdc_upsert_sink` table: latest committed
    version, tombstones filtered, bookkeeping columns dropped."""
    versions = _committed_versions(spark, table_path)
    if not versions:
        raise AnalysisException(
            f"read_cdc_table: no committed version under {table_path}"
        )
    return (
        spark.read.parquet(f"{table_path}/v={max(versions)}")
        .filter(F.col("__cdc_op") != "D")
        .drop("__cdc_op")
    )


def quantile_sketch_sink(
    stream: DataFrame,
    value_col: str,
    store_path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
    keep_versions: int | None = None,
):
    """Continuous percentile monitoring: each micro-batch builds a
    :func:`~..operators.stats.build_quantile_sketch` over its rows and
    counter-merges it into the store, publishing an immutable version
    under ``store_path/v=<batch_id>`` (the committed-version replay
    safety of :func:`scd2_history_sink`). Because sketch merge is
    EXACTLY the union's sketch, the store after N batches equals the
    batch sketch of all N batches' rows — the differential the tests
    assert — so quantile queries over a day/month/lifetime of a 100 TB
    stream read ≤ ``n_bins + 2`` rows, never the data.

    Read back with the latest committed ``v=`` dir and
    ``stats.sketch_quantiles`` (same lo/hi/n_bins — caller invariant).
    ``keep_versions`` (≥ 2) retains only the newest N store versions
    (:func:`_gc_old_versions`; each version already holds the full
    merged sketch, ≤ n_bins + 2 rows, so loss is nil past the replay
    window).
    """
    from ..operators import stats as _st

    if keep_versions is not None and keep_versions < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (newest + replay predecessor), "
            f"got {keep_versions}"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        versions = _committed_versions(spark, store_path)
        if batch_id in versions:
            return  # replayed batch: output already committed
        versions = [v for v in versions if v < batch_id]
        sk = _st.build_quantile_sketch(batch_df, value_col, lo, hi, n_bins)
        if versions:
            prev = spark.read.parquet(f"{store_path}/v={max(versions)}")
            sk = _st.merge_quantile_sketches(prev, sk)
        sk.write.mode("overwrite").parquet(f"{store_path}/v={batch_id}")
        if keep_versions is not None:
            _gc_old_versions(spark, store_path, keep_versions)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("ewma_before", DoubleType()),
        StructField("is_alert", BooleanType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [StructField("ewma", DoubleType()), StructField("n", LongType())]
)


def ewma_alert_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    threshold: float = 3.0,
    watermark: str = "1 hour",
    idle_timeout_minutes: int = 120,
) -> DataFrame:
    """Per-key EWMA drift detection as the second custom stateful
    operator (``applyInPandasWithState``): every event emits with the
    key's EWMA BEFORE the event and an alert flag when
    ``|value - ewma_before| > threshold`` — the online anomaly monitor
    a quality pipeline runs on live submissions (the batch anomaly
    detectors in operators/quality.py are its scheduled counterparts).

    The EWMA is a true recurrence (state_i = a*x_i + (1-a)*state_{i-1})
    — inexpressible as a Spark window over unbounded history without
    recomputation, which is exactly what per-key state is for. State
    per key is one double + one long; idle keys evict
    ``idle_timeout_minutes`` after their last event's event time
    (bounded state on unbounded key churn). First event of a key never
    alerts (no baseline). Rows sort by event time within each batch,
    so the streaming run over a static directory equals the batch
    recurrence (differential golden).
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    idle_us = idle_timeout_minutes * 60 * 1_000_000

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        uid = key[0]
        rows = pd.concat(parts).sort_values(ts_col)
        ewma, n = state.get if state.exists else (None, 0)
        ts_us = rows[ts_col].astype("datetime64[ns]").astype("int64") // 1_000
        out_ts, out_v, out_before, out_alert = [], [], [], []
        for t, v in zip(ts_us, rows[value_col].astype("float64")):
            v = float(v)
            before = ewma
            alert = before is not None and abs(v - before) > threshold
            ewma = v if ewma is None else alpha * v + (1 - alpha) * ewma
            n += 1
            out_ts.append(int(t))
            out_v.append(v)
            out_before.append(before)
            out_alert.append(alert)
        state.update((float(ewma), int(n)))
        state.setTimeoutTimestamp((int(ts_us.max()) + idle_us) // 1000)
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(out_ts),
                "ts": pd.to_datetime(out_ts, unit="us"),
                "value": out_v,
                "ewma_before": pd.array(out_before, dtype="Float64"),
                "is_alert": out_alert,
            }
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "10 hours",
) -> DataFrame:
    """Spark-NATIVE session windows (``F.session_window``) — the
    built-in counterpart of :func:`sessionize_stream`'s custom
    applyInPandasWithState operator. Two events join one session when
    they are strictly less than ``gap`` apart; the session's window is
    [first_ts, last_ts + gap). State is per OPEN session and evicted
    when the watermark passes the session end — bounded, like the
    tumbling-window agg.

    Differential contract: both sessionizers agree on session
    membership; this one reports session_end = last_ts + gap (Spark's
    window convention) where the custom one reports last_ts — callers
    pick per downstream convention.

    Emits (key, session_start, session_end, n_events) in append mode
    (one row per FINALIZED session).
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def bitmap_store_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    bucket_cols: list[str] | None = None,
):
    """Streaming maintenance of the EXACT bitmap distinct-count store
    (stats.build_bitmap_index): each micro-batch builds its own
    per-bucket word table and bit_or-merges it into the lakehouse
    store — so "distinct users per (type, day)" stays queryable
    mid-stream without ever rescanning the event history, and
    union-of-bitmaps == bitmap-of-union makes the merge EXACT.

    foreachBatch for the same reason as incremental_dedup_sink: the
    merge needs the store as of the batch start. OR-ing is an
    idempotent monoid — re-merging the same batch's bits is a no-op —
    so at-least-once replay yields exactly-correct counts with no
    dedup step; this is the property that makes bitmap (and bloom)
    stores the easiest sketches to stream.

    Publication is the same immutable ``v=<batch_id>`` layout as
    scd2_history_sink (the merge lazily READS the previous store
    while writing the next — in-place overwrite is the classic
    self-overwrite corruption; a replayed batch whose version is
    COMMITTED — ``_SUCCESS`` present, see _committed_versions — skips,
    while a partial crash-leftover dir is overwritten). The store is
    word-table-sized (KBs per bucket), so a
    version per trigger is cheap; maintenance.gc_versions prunes.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from ..operators import stats as _st

    buckets = list(bucket_cols or ["event_type"])

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = _committed_versions(spark, store_path)
        if batch_id in versions:
            return  # replay of a committed batch: version is immutable
        versions = [v for v in versions if v < batch_id]
        batch_words = _st.build_bitmap_index(batch_df, key_col, buckets)
        if versions:
            store = spark.read.parquet(f"{store_path}/v={max(versions)}")
            merged = (
                store.unionByName(batch_words)
                .groupBy(*buckets, "word_idx")
                .agg(F.bit_or("word").alias("word"))
            )
        else:
            merged = batch_words
        merged.write.mode("overwrite").parquet(f"{store_path}/v={batch_id}")

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def vector_ingest_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    dim: int,
    quarantine_path: str | None = None,
    trail_path: str | None = None,
    psi_rebuild: float = 0.25,
    min_live_share: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming embedding ingest into a persistent vector index — the
    ANN face of :func:`neardup_ingest_sink`, closing the loop between
    the round-10 ingest gate and the idempotent maintenance ticks:
    each micro-batch is (a) split by
    :func:`~..operators.similarity.quarantine_embeddings` (NULL /
    wrong-dim / NaN / zero vectors land in ``quarantine_path`` with
    their ``embedding_status``, never in the index), then (b) handed
    to the layout's maintenance tick
    (:func:`~..jobs.retrieval.maintain_vector_index` for the plain
    layout, :func:`~..jobs.retrieval.maintain_pq_index` for IVF-PQ —
    the index with a codebook sidecar), which owns the whole policy: live-id anti-join (idempotency), PSI
    drift gate, delta-sized extend, live-share vacuum.

    Delivery contract: foreachBatch is at-least-once, and the tick's
    live-id anti-join is exactly what makes that safe — a replayed
    batch whose extend DID commit is an empty delta, so the index
    converges to exactly-once content with no version bookkeeping
    (contrast :func:`bitmap_store_sink`, whose merge is not naturally
    idempotent and needs ``_committed_versions``). The quarantine and
    trail sidecars stay at-least-once appends: both carry
    ``batch_id``, so downstream exactly-once = keep-first on it.

    The index must exist (seed it with
    :func:`~..jobs.retrieval.build_ann_index` /
    :func:`~..jobs.retrieval.build_ivfpq_index` — centroids, and for
    PQ the codebooks, are trained by that corpus pass; a stream can
    only EXTEND a trained layout, same contract as
    :func:`neardup_ingest_sink`).

    ``trail_path`` materializes each tick's decision trail (psi,
    ingested rows, retrain/rebuild flags, post-ingest live share) as
    one appended row per batch — the scheduler-facing log the batch
    ticks return as a dict, made queryable. The idle-tick scale record
    (``BENCH_scale_r11.json``) prices the steady state: a no-op tick
    costs one column-pruned stats scan, flat in index bytes.

    100 TB shape: per batch, work is quarantine-gate scan + tick
    (delta-sized assign/encode + append into cid partitions); the
    corpus is embedded and bucketed once, ever. Retrain (plain
    layout, PSI-gated) is the one index-sized pass, and the PQ layout
    never self-retrains — drift is REPORTED (``rebuild_from_corpus``)
    for the caller to schedule as a corpus job.
    """
    from ..jobs import retrieval as _rt
    from ..operators import similarity as _sim

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        good, bad = _sim.quarantine_embeddings(batch_df, dim, vec_col)
        if quarantine_path is not None:
            bad.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(quarantine_path)
        kwargs = dict(
            new_rows=good.select(id_col, vec_col),
            psi_rebuild=psi_rebuild,
            min_live_share=min_live_share,
            vec_col=vec_col,
            id_col=id_col,
        )
        if _rt._is_pq_layout(spark, index_path):
            report = _rt.maintain_pq_index(spark, index_path, **kwargs)
        else:
            report = _rt.maintain_vector_index(spark, index_path, **kwargs)
        if trail_path is not None:
            local_df(
                spark,
                [(
                    int(batch_id),
                    report.get("psi"),
                    int(report["ingested_rows"]),
                    bool(report["extended"]),
                    bool(report.get("retrained", False)),
                    bool(report.get("rebuild_from_corpus", False)),
                    float(report["live_share"]),
                    bool(report["compacted"]),
                )],
                "batch_id BIGINT, psi DOUBLE, ingested_rows BIGINT, "
                "extended BOOLEAN, retrained BOOLEAN, "
                "rebuild_from_corpus BOOLEAN, live_share DOUBLE, "
                "compacted BOOLEAN",
            ).write.mode("append").parquet(trail_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
