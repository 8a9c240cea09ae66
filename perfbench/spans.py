"""Spans around the benchmark's calls into the package, and the
per-layer metrics built from them and from Spark's event log.

A span records one call into a layer (a module of
``bohemia_kenya_data_pipeline_spark``): name, start, end, parent and
op id. While tracing, each span sets its own Spark job group, so every
job in the event log names the span that started it. Spans stay in
memory; :func:`layer_metrics` joins them with the parsed event log
after the session has stopped.

Span kinds:

- ``build``: a call that returns a lazy plan, or runs eager jobs
  itself (``build_s``, ``eager_jobs``);
- ``plan``: Catalyst analysis, optimization and planning of a frame,
  forced with ``executedPlan()`` before its sink (``plan_s``);
- ``exec``: the sink that runs a frame's plan (``exec_s``). A sink
  that goes through a ``catalog`` writer or reader also counts as a
  ``catalog`` call;
- ``op``, ``setup``, ``check``: the benchmark's own spans.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager

#: Layers, named after the package's modules.
LAYERS = (
    "catalog",
    "queries",
    "jobs.cleaning",
    "jobs.curation",
    "jobs.lakehouse",
    "jobs.retrieval",
    "operators.maintenance",
    "operators.skipping",
)
STANDARD = (
    "calls", "build_s", "eager_jobs", "plan_s", "exec_s",
    "jobs", "task_s", "shuffle_mb", "gap_s", "self_s",
)
_PHASES = ("analysis", "optimization", "planning")
_MB = 1024 * 1024


class Span:
    __slots__ = ("id", "parent", "layer", "name", "kind", "op", "sink",
                 "group", "start", "end", "catalyst_s")

    def __init__(self, sid, parent, layer, name, kind, op, sink):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.kind, self.op, self.sink = kind, op, sink
        self.group = f"perfbench-{sid}"
        self.start = self.end = 0.0
        self.catalyst_s = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start

    def asdict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Records spans when ``enabled``; otherwise each span only times
    its body (the untraced runs use it to time read calls)."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, dict[str, float]] = {}
        self.op: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, layer: str, name: str, kind: str = "build", sink: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None,
                 layer, name, kind, self.op, sink)
        if self.enabled:
            self._set_group(s)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)
                self.spans.append(s)

    def plan(self, layer: str, df) -> None:
        """Force and time Catalyst planning of ``df`` before its sink.
        A sink runs its own command QueryExecution, so the frame's own
        tracker only fills once ``executedPlan()`` has been asked for."""
        if not self.enabled:
            return
        with self.span(layer, "plan", kind="plan") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for name in _PHASES:
                opt = phases.get(name)
                if opt.isDefined():
                    s.catalyst_s += opt.get().durationMs() / 1000.0

    def add(self, layer: str, key: str, value) -> None:
        """Accumulate a layer counter; ``value`` may be a thunk, which
        runs only while tracing."""
        if not self.enabled:
            return
        if callable(value):
            value = value()
        bucket = self.counters.setdefault(layer, {})
        bucket[key] = bucket.get(key, 0.0) + float(value)


# ---------------------------------------------------------------------------
# event log


def parse_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and stages from an uncompressed, non-rolling event log.

    Returns ``(jobs, stages)``: ``jobs[id] = {"group", "start", "end",
    "stages"}`` (epoch seconds) and ``stages[id] = {"tasks", "task_s",
    "shuffle_bytes", "spill_bytes"}`` for stages that ran tasks. A
    shuffle stage reused by a later job keeps its id and is listed by
    both jobs; only the first job, which ran it, keeps it."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    ev["Stage ID"],
                    {"tasks": 0, "task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0},
                )
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    seen: set[int] = set()
    for jid in sorted(jobs):
        own = [i for i in jobs[jid]["stages"] if i not in seen]
        seen.update(own)
        jobs[jid]["stages"] = own
    return jobs, stages


def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - _union(kids.get(s.id, ())) for s in spans}


def layer_metrics(spans: list[Span], counters: dict, jobs: dict, stages: dict,
                  n_ops: int) -> dict[str, float]:
    """Per-layer metrics over the spans inside ops, per op.

    A layer's ``jobs``/``task_s``/``shuffle_mb`` cover every job its
    spans started; ``eager_jobs`` only those started inside ``build``
    calls. ``gap_s`` is span wall time minus the union of the wall time
    of the span's own jobs. The ``catalog`` layer also counts every
    sink that went through a catalog writer or reader, so its time
    overlaps the producing layer's ``exec_s``; ``self_s`` counts each
    span once, under the layer that produced the plan."""
    by_group: dict[str, list] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    selfs = self_times(spans)
    in_op = [s for s in spans if s.op is not None and s.kind != "op"]
    acc = {layer: dict.fromkeys(STANDARD, 0.0) for layer in LAYERS}
    eng = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, "task_s": 0.0,
           "shuffle_mb": 0.0, "spill_mb": 0.0}
    for s in in_op:
        js = by_group.get(s.group, [])
        ran = [stages[i] for j in js for i in j["stages"] if i in stages]
        job_wall = _union(
            (max(j["start"], s.start), min(j["end"] or s.end, s.end)) for j in js
        )
        vals = {
            "jobs": len(js),
            "task_s": sum(st["task_s"] for st in ran),
            "shuffle_mb": sum(st["shuffle_bytes"] for st in ran) / _MB,
            "gap_s": max(0.0, s.wall - job_wall),
        }
        eng["jobs"] += len(js)
        eng["stages"] += len(ran)
        eng["tasks"] += sum(st["tasks"] for st in ran)
        eng["task_s"] += vals["task_s"]
        eng["shuffle_mb"] += vals["shuffle_mb"]
        eng["spill_mb"] += sum(st["spill_bytes"] for st in ran) / _MB
        targets = [s.layer] + ([s.sink] if s.sink and s.sink != s.layer else [])
        for layer in targets:
            if layer not in acc:
                continue
            a = acc[layer]
            for k, v in vals.items():
                a[k] += v
            if s.kind == "build":
                a["calls"] += 1
                a["build_s"] += s.wall
                a["eager_jobs"] += len(js)
            elif s.kind == "exec":
                a["exec_s"] += s.wall
                if layer == s.sink:
                    a["calls"] += 1
            elif s.kind == "plan":
                a["plan_s"] += s.catalyst_s
        if s.layer in acc:
            acc[s.layer]["self_s"] += selfs[s.id]
    out: dict[str, float] = {}
    n = max(1, n_ops)
    for layer, a in acc.items():
        for k, v in a.items():
            out[f"{layer}.{k}"] = v / n
    for k, v in eng.items():
        out[f"spark.{k}"] = v / n
    for layer, c in counters.items():
        for k, v in c.items():
            out[f"{layer}.{k}"] = v / n
    return out


def accounting(spans: list[Span]) -> list[dict]:
    """Per op: its wall time, the self time of every span inside it,
    and the benchmark glue (the op span's own self time)."""
    selfs = self_times(spans)
    rows = []
    for root in (s for s in spans if s.kind == "op"):
        inner = [s for s in spans if s.op == root.op and s.id != root.id
                 and s.start >= root.start and s.end <= root.end]
        rows.append({
            "op": root.op,
            "wall_s": root.wall,
            "layers_self_s": sum(selfs[s.id] for s in inner),
            "glue_s": selfs[root.id],
        })
    return rows
