"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; production is a multi-executor cluster
reading ~100 TB. All scale-sensitive knobs are set here once so every
job/test shares the same execution profile:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (the few Pandas-UDF operators move data in columnar batches)
- shuffle partitions sized for the local harness; on a real cluster AQE
  coalesces from a deliberately high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

APP_NAME = "bohemia-kenya-data-pipeline-spark"


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """JVM-literal frame (``LocalTableScan``) from driver-side rows.

    ``spark.createDataFrame(list, schema)`` builds an RDD-backed plan
    (``Scan ExistingRDD``) whose scan re-enters a **Python worker at
    execution time** — measured 0.3-4.5 s of pure handshake/pickle wait
    per task that touches it (r14 thread-dump evidence: the manifest
    stats write blocked 4.4 s in ``BasePythonRunner.ReaderInputStream``
    with 0.1 s CPU). Routing the same rows through pandas takes the
    Arrow path (guide §4/§6: Arrow for driver transfers), which
    materializes a ``LocalTableScan``: no Python process in the executed
    plan, and the optimizer sees a sized literal it can broadcast.

    ``schema`` is a DDL string (``"a INT, b STRING"``), a
    ``StructType``, or a list of column names (types inferred, same as
    the classic list path: int→bigint, str→string, float→double).
    Result rows are identical to the classic path for the types this
    engine stores in sidecars/manifests (strings, ints, floats, bools,
    dates, array<double>); ``tests/test_local_df.py`` pins the parity.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if isinstance(schema, StructType):
        rows = list(rows)
        if not rows:
            # empty pandas frames fall back to the RDD path — project a
            # typed empty frame from range(0) instead (pure JVM)
            from pyspark.sql import functions as F

            return spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
            )
        pdf = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
        return spark.createDataFrame(pdf, schema=schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=list(schema))
    return spark.createDataFrame(pdf)


def parquet_scan(spark: SparkSession, path: str, partition_cols=()) -> DataFrame:
    """Read an ENGINE-WRITTEN parquet dataset with its schema taken
    from one local footer instead of a Spark inference pass.

    Schema-less ``spark.read.parquet`` runs a footer-inference job
    (listing + footer fetch + merge) at plan time — ~0.1-0.25 s per
    call (r14; the §6 metadata class the table-schema memo already
    retired for the STATIC tables). Index/sidecar datasets are fresh
    per build, so a memo never hits; instead the schema comes from one
    ``pyarrow.parquet.read_schema`` of any data file (~1 ms, matching
    the default first-footer semantics — the engine never writes
    mixed-schema datasets). ``partition_cols`` appends the
    directory-partition columns as ``(name, ddl_type)`` pairs, exactly
    as the engine wrote them (e.g. ``[("cid", "int")]``).

    Falls back to plain inference for remote schemes, empty dirs, or
    any pyarrow hiccup. Timestamps map as Spark's own inference does
    (module helper below); nanosecond timestamps fall back, because
    ``spark.sql.legacy.parquet.nanosAsLong`` reads them as long."""
    st = _local_footer_schema(path, partition_cols, spark)
    if st is None:
        return spark.read.parquet(path)
    return spark.read.schema(st).parquet(path)


def _local_footer_schema(path: str, partition_cols=(), spark=None):
    """Spark schema of the local parquet file ``path`` (or of the
    first data file under the directory ``path``) from its footer,
    typed as ``spark.read.parquet(path).schema`` would be, or ``None``
    when that cannot be told without asking Spark.

    A tz-naive arrow timestamp is a parquet TIMESTAMP with
    isAdjustedToUTC=false, which Spark infers as TIMESTAMP_NTZ while
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on (the
    default); a tz-aware one is TIMESTAMP. Nanosecond (and INT96,
    which arrow reads as nanoseconds) timestamps return ``None``: the
    session reads them as long (``nanosAsLong``). Types arrow cannot
    map (unsigned ints, dictionaries, date64, ...) raise inside
    ``from_arrow_schema`` and return ``None`` too."""
    from .operators.skipping import _local_root, _walk_local_files

    local = _local_root(path, spark)
    if local is None:
        return None
    try:
        if os.path.isfile(local):
            data = local
        else:
            data = next(
                (
                    f
                    for f, _, _ in _walk_local_files(local)
                    if f.endswith(".parquet")
                    and not os.path.basename(f).startswith(("_", "."))
                ),
                None,
            )
        if data is None:
            return None
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        arrow = pq.read_schema(data)
        text = str(arrow)
        ntz = False
        if "timestamp[" in text:
            if "timestamp[ns" in text or spark is None:
                return None
            ntz = (
                spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower()
                == "true"
            )
        st = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    except Exception:
        return None
    from pyspark.sql.types import _parse_datatype_string

    for name, ddl in partition_cols:
        if name not in st.fieldNames():
            st = st.add(name, _parse_datatype_string(ddl))
    return st


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so the driver harness, tests and bench all agree.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python interop: Arrow batches for the few pandas ops ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # pyspark's DataFrame call-site capture costs 3 py4j round
        # trips per Column-function call (and imports IPython on the
        # first); plan builders make thousands of such calls
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- IO: vectorized parquet + pushdown are default-on; keep
        #     session timezone pinned so date/ts semantics are stable ---
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet from older generations stores ts as INT64
        # TIMESTAMP(NANOS), which the reader rejects unless read as
        # long (queries._events normalizes both encodings)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # dims in this workload are tiny (<= a few thousand rows);
        # default 10 MB broadcast threshold is fine, AQE raises it at
        # runtime via local shuffle reader when beneficial.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # robustness-sweep hook: `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` lets
    # the gate/bench harnesses run adversarial configs (e.g. AQE off —
    # AQE's exchange reuse can MASK plan-branch nondeterminism, see the
    # round-6 repartitionByRange lesson in BASELINE.md) without code
    # changes. Applied last, so it overrides the defaults above.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        for pair in env_conf.split(";"):
            if pair.strip():
                k, sep, v = pair.partition("=")
                if not sep or not k.strip():
                    # fail LOUD: a typo'd pair ("k:v", "k") would
                    # otherwise apply as an unknown no-op key and the
                    # adversarial sweep would green-light the DEFAULT
                    # config — the exact masking this hook exists to
                    # prevent.
                    raise ValueError(
                        f"SPARK_GRAFT_EXTRA_CONF pair {pair!r} is not 'key=value'"
                    )
                builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
