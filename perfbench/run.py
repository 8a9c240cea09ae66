#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one mode.

    python3 perfbench/run.py --workload trial_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` runs the same ops traced and reports the
per-layer metrics plus the tracing overhead. The last line of stdout is
the JSON result; the lines before it print every metric by name with
its unit, and the environment record. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bohemia_kenya_data_pipeline_spark"
#: Environment overrides that would make two sides of an A/B differ.
REFUSED_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_BENCH_ONLY")
ORIGINAL_ENV = dict(os.environ)
#: Set-ups per untraced run; ``setup_s`` is their median. The first
#: also launches the JVM.
SETUPS = 2

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
    "op_ok_ratio": "ratio",
}
#: Nominal seconds per op on the reference machine (4 cores): a run
#: makes as many ops as fit in ``--seconds`` at this rate, at least one,
#: so both sides of an A/B time the same number of ops.
NOMINAL_OP_S = {"trial_etl": 25, "corpus_release": 16, "maintenance_ticks": 20}


class Ctx:
    """What a workload sees: the session, the tracer, the inputs and a
    private work directory that the run removes when it ends."""

    def __init__(self, sf_dir: str, work: str, seed: int, n_ops: int):
        self.sf_dir, self.work, self.seed, self.n_ops = sf_dir, work, seed, n_ops
        self.spark = None
        self.tr = None
        self.session_info: dict = {}
        self.views: dict[str, str] = {}
        self._con = None

    def duck(self):
        """DuckDB connection with one view per input table (a workload's
        seeded slice replaces the table it slices)."""
        if self._con is None:
            import duckdb

            import inputs

            self._con = duckdb.connect()
            self._con.execute(f"SET threads TO {_nproc()}")
            self._con.execute("SET TimeZone = 'UTC'")
            for t in inputs.TABLES:
                path = self.views.get(t, os.path.join(self.sf_dir, f"{t}.parquet"))
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._con


# ---------------------------------------------------------------------------
# process-tree memory


def _tree_pids() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def reset_peak_rss() -> None:
    """Restart every process's peak-RSS counter (``clear_refs`` 5)."""
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) per process of the tree: the driver,
    the JVM and the Python workers. Summing them can exceed the tree's
    true simultaneous peak."""
    out: dict[str, float] = {}
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            out[f"{p}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            pass
    return out


# ---------------------------------------------------------------------------
# session


def _session_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby -XX:+UseSerialGC"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, cpus: int, event_log: str | None = None):
    from bohemia_kenya_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf=_session_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the JVM this process launched and wait for it to exit (it
    exits when its stdin, the link to this process, closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def set_up(ctx, wl, cpus: int, event_log: str | None = None) -> float:
    """Stop any session, clear the workload's state, then time session
    start, JVM warm-up and the workload's set-up."""
    from spans import Tracer

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    shutil.rmtree(wl.out, ignore_errors=True)
    t0 = time.perf_counter()
    ctx.spark = start_session(ctx.work, cpus, event_log)
    ctx.tr = Tracer(ctx.spark, enabled=event_log is not None)
    with ctx.tr.span("bench", "setup", kind="setup"):
        ctx.spark.range(1000).selectExpr("sum(id)").collect()
        wl.setup(ctx)
    elapsed = time.perf_counter() - t0
    ctx.session_info = session_record(ctx.spark)
    return elapsed


def run_ops(ctx, wl, ops, check: bool = True) -> dict:
    """The closed loop: ops one after the other, each checked outside
    the timed region. The peak RSS is taken per op, before its check."""
    tr = ctx.tr
    op_s, reads, failed, check_s, rss = [], [], 0, 0.0, {}
    for i in ops:
        ok = True
        tr.op = i
        reset_peak_rss()
        t0 = time.perf_counter()
        try:
            with tr.span("bench", "op", kind="op"):
                r = wl.op(ctx, i)
        except Exception:
            traceback.print_exc()
            ok = False
        op_s.append(time.perf_counter() - t0)
        tr.op = None
        peak = peak_rss_mb()
        if sum(peak.values()) > sum(rss.values()):
            rss = peak
        t1 = time.perf_counter()
        if ok and check:
            try:
                with tr.span("bench", "check", kind="check"):
                    wl.check(ctx, i)
            except Exception:
                traceback.print_exc()
                ok = False
        check_s += time.perf_counter() - t1
        if ok:
            reads.extend(r)
        else:
            failed += 1
    return {"op_s": op_s, "reads": reads, "failed": failed, "check_s": check_s,
            "rss_mb": rss}


# ---------------------------------------------------------------------------
# environment record


def session_record(spark) -> dict:
    """What the session says about itself, taken while it is live."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "java": sc._jvm.System.getProperty("java.version"),
        "jvm_options": sc.getConf().get("spark.driver.extraJavaOptions"),
    }


def env_record(ctx, args, cpus: int, spec: dict, inputs_info: dict) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        **ctx.session_info,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "inputs": inputs_info,
        "seeded": spec,
        "env_overrides": {
            k: v for k, v in ORIGINAL_ENV.items() if k.startswith("SPARK_")
        },
    }


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def measure(args, work: str, scale: float = 1.0) -> dict:
    """One run. ``scale`` sizes the inputs relative to sf0.1; only the
    tests use less than 1."""
    import inputs
    import workloads

    cpus = _nproc()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    sf_dir = inputs.ensure(os.path.join(ROOT, ".bench_cache"), scale)
    n_ops = max(1, round(args.seconds / NOMINAL_OP_S[args.workload]))
    ctx = Ctx(sf_dir, work, args.seed, n_ops)
    wl = workloads.WORKLOADS[args.workload]()
    spec = wl.prepare(ctx)
    info = inputs.describe(sf_dir, inputs.TABLES)
    info["seeded_fingerprint"] = inputs.fingerprint(json.dumps(spec, sort_keys=True))
    try:
        run = _traced if args.trace else _untraced
        failed, metrics, units, extra = run(ctx, wl, cpus, n_ops)
        return {
            "correct": failed == 0,
            "attempted": n_ops,
            "failed": failed,
            "metrics": {
                k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                for k, u in units.items()
            },
            "record": env_record(ctx, args, cpus, spec, info),
            "detail": extra,
        }
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        shutdown_jvm()


def _gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def _untraced(ctx, wl, cpus: int, n_ops: int):
    """End-to-end metrics: ``SETUPS`` set-ups, then ``n_ops`` ops, the
    first of them in a JVM that has run only set-up work."""
    import workloads

    setups = [set_up(ctx, wl, cpus) for _ in range(SETUPS)]
    gc0 = _gc_seconds(ctx.spark)
    res = run_ops(ctx, wl, range(n_ops))
    gc_s = _gc_seconds(ctx.spark) - gc0
    rss = res["rss_mb"]
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": sum(res["op_s"]),
        "op_p50_s": statistics.median(res["op_s"]),
        "read_p50_s": statistics.median(res["reads"]) if res["reads"] else 0.0,
        "peak_rss_mb": sum(rss.values()),
        "output_mb": workloads.tree_bytes(wl.out) / (1024 * 1024),
        "op_ok_ratio": 1.0 - res["failed"] / n_ops,
    }
    extra = {"setups_s": setups, "op_s": res["op_s"], "reads_s": res["reads"],
             "check_s": res["check_s"], "rss_mb": rss, "jvm_gc_s": gc_s}
    return res["failed"], metrics, E2E_UNITS, extra


def _traced(ctx, wl, cpus: int, n_ops: int):
    """Per-layer metrics: the same ``n_ops`` ops twice, each time in a
    freshly launched JVM after one set-up, first traced with the event
    log on, then untraced. Both sides time the same ops at the same
    place in their JVM, so their ratio is the tracing overhead; the
    traced side, first in the process, also carries the process's own
    warm-up, so the ratio errs high."""
    import spans as tracing

    event_log = os.path.join(ctx.work, "eventlog")
    set_up(ctx, wl, cpus, event_log)
    res = run_ops(ctx, wl, range(n_ops))
    tr = ctx.tr
    ctx.spark.stop()  # flushes the event log
    ctx.spark = None
    shutdown_jvm()
    set_up(ctx, wl, cpus)
    plain = run_ops(ctx, wl, range(n_ops), check=False)
    jobs, stages = tracing.parse_event_log(event_log)
    groups = {s.group for s in tr.spans}
    metrics = tracing.layer_metrics(tr.spans, tr.counters, jobs, stages, n_ops)
    metrics.update(wl.extras(tr.counters))
    acct = tracing.accounting(tr.spans)
    metrics["bench.glue_s"] = statistics.median(a["glue_s"] for a in acct)
    metrics["trace.overhead_ratio"] = sum(res["op_s"]) / sum(plain["op_s"])
    extra = {
        "accounting": acct,
        "untagged_jobs": [j for j, v in jobs.items() if v["group"] not in groups],
        "n_jobs": len(jobs),
        "op_s": res["op_s"],
        "untraced_op_s": plain["op_s"],
        "spans": [s.asdict() for s in tr.spans],
    }
    return res["failed"], metrics, per_layer_units(), extra


def per_layer_units() -> dict[str, str]:
    """Unit of every per-layer metric name."""
    import spans as tracing

    unit = {"calls": "count", "eager_jobs": "count", "jobs": "count",
            "shuffle_mb": "MB"}
    out = {}
    for layer in tracing.LAYERS:
        for m in tracing.STANDARD:
            out[f"{layer}.{m}"] = unit.get(m, "s")
    out.update({
        "catalog.write_mb": "MB",
        "jobs.cleaning.rows_kept_ratio": "ratio",
        "jobs.curation.rows_kept_ratio": "ratio",
        "jobs.retrieval.write_amp": "ratio",
        "operators.maintenance.write_amp": "ratio",
        "operators.skipping.files_read_ratio": "ratio",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_s": "s",
        "spark.shuffle_mb": "MB",
        "spark.spill_mb": "MB",
        "bench.glue_s": "s",
        "trace.overhead_ratio": "ratio",
    })
    return out


def run_isolated(args, scale: float = 1.0) -> dict:
    """:func:`measure` in a fresh work directory under the checkout's
    ``.bench_tmp/``, which holds every temporary file the run, Spark
    and the JVM write, and is removed when the run ends."""
    os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".bench_tmp"))
    os.makedirs(os.path.join(work, "tmp"))
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    saved_tempdir = tempfile.tempdir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        return measure(args, work, scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        tempfile.tempdir = saved_tempdir
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_OP_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    refused = [k for k in REFUSED_ENV if os.environ.get(k)]
    if refused:
        print(f"refusing to run with {', '.join(refused)} set", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ beside perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    result = run_isolated(args)
    save = os.path.join(ROOT, ".bench_results")
    os.makedirs(save, exist_ok=True)
    with open(os.path.join(save, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    print(json.dumps({"env": result["record"]}, default=str))
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"op_fail_ratio = {result['failed'] / result['attempted']:.6g} ratio "
              f"({result['failed']} of {result['attempted']} ops)")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
