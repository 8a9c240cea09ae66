"""The three workloads. Each has four steps:

- ``prepare``: seeded input slices, written with pyarrow before any
  timing starts;
- ``setup``: the program state the ops start from (timed as part of
  ``setup_s``);
- ``op``: one closed-loop operation, timed; returns the latencies of
  the read calls it made;
- ``check``: verifies the op's outputs outside the timed region and
  raises :class:`CheckFailed` on any mismatch.

Every call into the package goes through a tracer span named after the
module it calls (see ``spans.py``).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark import catalog, jobs
from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt
from bohemia_kenya_data_pipeline_spark.operators import ivm
from bohemia_kenya_data_pipeline_spark.operators import maintenance as mt
from bohemia_kenya_data_pipeline_spark.operators import quality as ql
from bohemia_kenya_data_pipeline_spark.operators import skipping as skp
from bohemia_kenya_data_pipeline_spark.queries import ORACLES, QUERIES

import checks
from checks import expect

_MB = 1024 * 1024


def oracle_sql(name: str) -> str:
    """The DuckDB oracle of a registered query."""
    return ORACLES[name]


def _scan(path: str) -> str:
    return f"SELECT * FROM read_parquet('{_parquet_glob(path)}')"


def tree_bytes(path: str) -> int:
    return sum(size for size, _ in _files(path).values())


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class _Snapshot:
    """Bytes written under a set of paths between ``__init__`` and
    :meth:`written`; a no-op when tracing is off."""

    def __init__(self, tr, paths):
        self.paths = paths if tr.enabled else []
        self.before = self._scan()

    def _scan(self) -> dict:
        out: dict = {}
        for p in self.paths:
            out.update(_files(p))
        return out

    def written(self) -> int:
        return sum(v[0] for p, v in self._scan().items() if self.before.get(p) != v)


def write(ctx, layer: str, df, zone_dir: str, name: str) -> None:
    """Plan ``df`` (traced runs only), then sink it through the catalog
    writer into ``zone_dir/name.parquet``, the path ``catalog.read_table``
    reads."""
    path = os.path.join(zone_dir, f"{name}.parquet")
    ctx.tr.plan(layer, df)
    snap = _Snapshot(ctx.tr, [path])
    with ctx.tr.span(layer, f"write:{name}", kind="exec", sink="catalog"):
        catalog.write_parquet(df, path)
    ctx.tr.add("catalog", "write_mb", lambda: snap.written() / _MB)


def collect(ctx, layer: str, df, name: str) -> list:
    ctx.tr.plan(layer, df)
    with ctx.tr.span(layer, f"collect:{name}", kind="exec"):
        return df.collect()


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def _pq_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in _files(path)
        if p.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# trial_etl


REPORTS = (
    "goals_cascade",
    "resolution_delete_set",
    "rdt_state_machine",
    "efficacy_status_matrix",
    "icf_verification_metrics",
)


def odk_raw(sf_dir: str) -> str:
    """ODK-shaped raw form derived from the events table (one row per
    submission, group-path column names, one all-NULL column), cached
    beside the inputs."""
    out = os.path.join(sf_dir, "odk_raw.parquet")
    if os.path.exists(out):
        return out
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    eid = ev["event_id"].to_numpy()
    uid = ev["user_id"].to_numpy()
    tbl = pa.table(
        {
            "meta-instanceID": [f"uuid:{e}" for e in eid],
            "group_hh-hhid": [f"{u:05d}" for u in uid],
            "group_hh-village": pc.utf8_upper(ev["event_type"]),
            "group_geo-Latitude": -4.0 + (uid % 999) / 1000.0,
            "group_geo-Longitude": 39.0 + (uid * 7 % 999) / 1000.0,
            "group_geo-Accuracy": ev["value"],
            "firstname": [f"name{u}" for u in uid],
            "unused_note": pa.nulls(len(eid), pa.string()),
            "age": (eid % 90).astype(np.float64),
        }
    )
    pq.write_table(tbl, out + ".partial")
    os.rename(out + ".partial", out)
    return out


class TrialEtl:
    """The reference's hourly refresh: raw form -> clean -> sanitized +
    anomalies, four zone writes, then the trial reports."""

    name = "trial_etl"
    n_resolutions = 200

    def prepare(self, ctx) -> dict:
        self.raw_path = odk_raw(ctx.sf_dir)
        self.n_raw = pq.ParquetFile(self.raw_path).metadata.num_rows
        rng = np.random.default_rng([ctx.seed, 1])
        ids = rng.choice(self.n_raw, min(self.n_resolutions, self.n_raw), replace=False)
        half = len(ids) // 2
        self.set_ids = sorted(f"uuid:{i}" for i in ids[:half])
        self.del_ids = sorted(f"uuid:{i}" for i in ids[half:])
        self.zones = self.out = os.path.join(ctx.work, "zones")
        return {"set_ids": self.set_ids, "delete_ids": self.del_ids}

    def setup(self, ctx) -> None:
        import pandas as pd

        rows = [("SET", i, "age", "42") for i in self.set_ids]
        rows += [("DELETE", i, None, None) for i in self.del_ids]
        pdf = pd.DataFrame(
            {
                "Form": "bench",
                "instanceID": [r[1] for r in rows],
                "Column": [r[2] for r in rows],
                "Set To": [r[3] for r in rows],
                "Operation": [r[0] for r in rows],
                "RepeatName": "",
                "RepeatKey": 0,
                "resolution_order": range(len(rows)),
            }
        )
        self.resolution = ctx.spark.createDataFrame(
            pdf,
            "Form string, instanceID string, Column string, `Set To` string, "
            "Operation string, RepeatName string, RepeatKey int, "
            "resolution_order int",
        )
        self.raw = ctx.spark.read.parquet(self.raw_path)

    def op(self, ctx, i: int) -> list[float]:
        tr = ctx.tr
        with tr.span("jobs.cleaning", "clean_form"):
            clean = jobs.clean_form(
                self.raw, self.resolution, "bench",
                typo_fixes={"village": {"CLICK": "CLICKED"}},
            )
        # four zone sinks fan out from one cleaned frame
        clean = clean.persist()
        try:
            with tr.span("jobs.cleaning", "sanitize_form"):
                sanitized = jobs.sanitize_form(
                    clean, ["firstname"], ["instanceID", "hhid"]
                )
            keyed = clean.withColumnRenamed("instanceID", "KEY")
            with tr.span("jobs.cleaning", "run_anomaly_detection"):
                final, summary = jobs.run_anomaly_detection(
                    [
                        lambda: ql.detect_threshold(
                            keyed, "Accuracy", "bench", "gps_accuracy",
                            "GPS accuracy above 15m", 15.0,
                        ),
                        lambda: ql.detect_duplication(keyed, "hhid", "bench", "dup_hhid"),
                    ]
                )
            final = final.persist()
            try:
                for zone, df in (
                    ("clean", clean), ("sanitized", sanitized),
                    ("anomalies", final), ("summary", summary),
                ):
                    write(ctx, "jobs.cleaning", df, self.zones, zone)
            finally:
                final.unpersist()
        finally:
            clean.unpersist()
        # the report refresh is one read call: the five reports differ
        # several-fold in cost, so a median over them would jump
        # between reports from run to run
        t0 = time.perf_counter()
        for name in REPORTS:
            with tr.span("queries", name):
                df = QUERIES[name](ctx.spark, ctx.sf_dir)
            write(ctx, "queries", df, os.path.join(self.zones, "reports"), name)
        return [time.perf_counter() - t0]

    def check(self, ctx, i: int) -> None:
        con = ctx.duck()
        z = self.zones
        n_clean = _pq_rows(os.path.join(z, "clean.parquet"))
        n_san = _pq_rows(os.path.join(z, "sanitized.parquet"))
        want = self.n_raw - len(self.del_ids)
        expect(n_clean == want, f"clean rows {n_clean} != raw - deletes {want}")
        expect(n_san == want, f"sanitized rows {n_san} != {want}")
        clean = f"read_parquet('{_parquet_glob(os.path.join(z, 'clean.parquet'))}')"
        con.execute("CREATE OR REPLACE TEMP TABLE set_ids (i VARCHAR)")
        con.executemany("INSERT INTO set_ids VALUES (?)", [[s] for s in self.set_ids])
        con.execute("CREATE OR REPLACE TEMP TABLE del_ids (i VARCHAR)")
        con.executemany("INSERT INTO del_ids VALUES (?)", [[s] for s in self.del_ids])
        n_del = con.sql(
            f"SELECT count(*) FROM {clean} WHERE instanceID IN (SELECT i FROM del_ids)"
        ).fetchone()[0]
        expect(n_del == 0, f"{n_del} DELETEd submissions survived cleaning")
        n_set = con.sql(
            f"SELECT count(*) FROM {clean} "
            f"WHERE instanceID IN (SELECT i FROM set_ids) AND age = 42"
        ).fetchone()[0]
        expect(n_set == len(self.set_ids), f"{n_set} of {len(self.set_ids)} SET rows applied")
        ctx.tr.add("jobs.cleaning", "rows_kept", n_san)
        ctx.tr.add("jobs.cleaning", "rows_in", self.n_raw)
        for name in REPORTS:
            got = _scan(os.path.join(z, "reports", name + ".parquet"))
            checks.same_sql(con, got, oracle_sql(name), name)

    def extras(self, counters: dict) -> dict:
        c = counters.get("jobs.cleaning", {})
        return {"jobs.cleaning.rows_kept_ratio": _ratio(c, "rows_kept", "rows_in")}


def _ratio(c: dict, num: str, den: str) -> float:
    return c.get(num, 0.0) / c[den] if c.get(den) else 0.0


# ---------------------------------------------------------------------------
# corpus_release


class CorpusRelease:
    """A curation release plus a pretraining mixture with substring
    dedup, both written as parquet, then a read of the release."""

    name = "corpus_release"
    drop_share = 0.1

    def prepare(self, ctx) -> dict:
        docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"))
        rng = np.random.default_rng([ctx.seed, 2])
        keep = rng.random(docs.num_rows) >= self.drop_share
        self.docs_path = os.path.join(ctx.work, "inputs", "documents.parquet")
        os.makedirs(os.path.dirname(self.docs_path), exist_ok=True)
        pq.write_table(docs.filter(pa.array(keep)), self.docs_path)
        self.n_docs = int(keep.sum())
        self.release = self.out = os.path.join(ctx.work, "release")
        ctx.views["documents"] = self.docs_path
        return {"docs": self.n_docs}

    def setup(self, ctx) -> None:
        self.docs = ctx.spark.read.parquet(self.docs_path)

    def op(self, ctx, i: int) -> list[float]:
        tr = ctx.tr
        with tr.span("jobs.curation", "curate_release"):
            rel = jobs.curate_release(self.docs)
        write(ctx, "jobs.curation", rel, self.release, "curated")
        d = self.docs.select(
            "doc_id", F.regexp_replace("text", " table ", "\n").alias("text"), "lang"
        )
        with tr.span("jobs.curation", "build_pretrain_dataset"):
            pre = jobs.build_pretrain_dataset(
                d, mix={"en": 0.9, "de": 0.6}, default_mix=0.1, substring_dedup=True
            )
        write(ctx, "jobs.curation", pre, self.release, "pretrain")
        t0 = time.perf_counter()
        with tr.span("catalog", "read_table"):
            shards = catalog.read_table(ctx.spark, self.release, "curated")
        summary = shards.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.max("chunk_id").alias("max_chunk"),
        )
        self.summary = collect(ctx, "catalog", summary, "release_summary")
        return [time.perf_counter() - t0]

    def check(self, ctx, i: int) -> None:
        con = ctx.duck()
        for part, name in (("curated", "curation_release_e2e"), ("pretrain", "pretrain_mix_spans")):
            got = _scan(os.path.join(self.release, part + ".parquet"))
            checks.same_sql(con, got, oracle_sql(name), name)
        want = con.sql(
            "SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens, "
            f"max(chunk_id) AS max_chunk FROM ({oracle_sql('curation_release_e2e')}) "
            "GROUP BY source"
        )
        checks.same(checks.spark_rows(self.summary), checks.duck_rows(want), "release summary read")
        ctx.tr.add("jobs.curation", "rows_kept", _pq_rows(os.path.join(self.release, "curated.parquet")))
        ctx.tr.add("jobs.curation", "rows_in", self.n_docs)

    def extras(self, counters: dict) -> dict:
        c = counters.get("jobs.curation", {})
        return {"jobs.curation.rows_kept_ratio": _ratio(c, "rows_kept", "rows_in")}


# ---------------------------------------------------------------------------
# maintenance_ticks


_CLASSES = 20  # delta granularity: one class is 5% of a table


def _classes(n: int, rng) -> np.ndarray:
    """Equal-sized seeded classes 0..19 over n rows."""
    cls = np.empty(n, dtype=np.int64)
    cls[rng.permutation(n)] = np.arange(n) % _CLASSES
    return cls


def _kmeans(x: np.ndarray, k: int, rng, iters: int = 8, spherical: bool = False):
    c = x[rng.choice(len(x), k, replace=False)]
    for _ in range(iters):
        if spherical:
            c = c / np.linalg.norm(c, axis=1, keepdims=True)
            assign = np.argmax(x @ c.T, axis=1)
        else:
            assign = np.argmin(((x[:, None, :] - c[None]) ** 2).sum(-1), axis=1)
        for j in range(k):
            if (assign == j).any():
                c[j] = x[assign == j].mean(axis=0)
    if spherical:
        c = c / np.linalg.norm(c, axis=1, keepdims=True)
    return c


def _train_ivfpq(vecs: np.ndarray, rng, n_centroids=8, n_subspaces=8, n_codewords=16):
    """Offline-trained IVF centroids and PQ codebooks, passed to the
    index build as literals (the serving shape: training is amortized
    outside the tick)."""
    cents = _kmeans(vecs, n_centroids, rng, spherical=True)
    width = vecs.shape[1] // n_subspaces
    books = [
        _kmeans(vecs[:, m * width:(m + 1) * width], n_codewords, rng).tolist()
        for m in range(n_subspaces)
    ]
    return cents.tolist(), books


def lakehouse_sql(dim: str) -> dict[str, str]:
    """Expected lakehouse fact, view and aggregate, as DuckDB queries
    over the expected fact table ``exp_fact`` and the dimension
    ``dim``; typed as the program's contract types them."""
    return {
        "fact": "SELECT k, ckey, cents FROM exp_fact",
        "view": f"SELECT k, ckey, cents, seg FROM exp_fact JOIN {dim} USING (ckey)",
        "agg": (
            "SELECT seg, count(*) AS n_rows, sum(cents)::BIGINT AS sum_cents "
            f"FROM exp_fact JOIN {dim} USING (ckey) GROUP BY seg"
        ),
    }


class MaintenanceTicks:
    """Lifecycle ticks over four pieces of persistent state: a CDC
    lakehouse snapshot, an IVF-PQ index, a z-ordered table with a file
    manifest and a curated release. Each tick admits a seeded 5% delta
    into each and then serves reads from the index and the table."""

    name = "maintenance_ticks"
    serving_rounds = 3

    def prepare(self, ctx) -> dict:
        rng = np.random.default_rng([ctx.seed, 3])
        src = os.path.join(ctx.work, "inputs")
        os.makedirs(src, exist_ok=True)
        self.src = src
        self.state = self.out = os.path.join(ctx.work, "state")
        # each structure in its own directory, beside its sidecars
        self.index = os.path.join(self.state, "ann", "index")
        self.table = os.path.join(self.state, "tbl", "table")
        self.n_ticks = ctx.n_ops
        # index: all embeddings, one class tombstoned; tick t re-admits
        # the class deleted last and deletes the next one
        emb = pq.read_table(os.path.join(ctx.sf_dir, "embeddings.parquet"))
        self.emb_path = os.path.join(src, "embeddings.parquet")
        pq.write_table(emb, self.emb_path)
        ecls = _classes(emb.num_rows, rng)
        self.n_emb = emb.num_rows
        self.del_order = [int(c) for c in rng.permutation(_CLASSES)]
        for c in range(_CLASSES):
            pq.write_table(emb.filter(pa.array(ecls == c)), self._emb_class(c))
        self.emb_class_rows = int((ecls == 0).sum())
        vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.centroids, self.codebooks = _train_ivfpq(vecs, rng)
        qids = np.sort(rng.choice(emb.num_rows, 16, replace=False))
        pq.write_table(emb.take(pa.array(qids)), os.path.join(src, "queries.parquet"))
        # table: a third of lineitem; 55% z-ordered at set-up plus one
        # extended 5% class, so every tick folds; one 5% class appended
        # per tick (new keys once the pool runs out)
        li = pq.read_table(os.path.join(ctx.sf_dir, "lineitem.parquet"))
        li = li.filter(pa.array(li["l_orderkey"].to_numpy() % 3 == 0))
        lcls = _classes(li.num_rows, rng)
        base = lcls < 11
        pq.write_table(li.filter(pa.array(base)), os.path.join(src, "table_base.parquet"))
        pq.write_table(li.filter(pa.array(lcls == 11)), os.path.join(src, "table_setup.parquet"))
        self.table_rows = [int((lcls < 12).sum())]
        offset = int(li["l_orderkey"].to_numpy().max()) + 1
        for t in range(self.n_ticks):
            part = li.filter(pa.array(lcls == 12 + t % 8))
            cycle = t // 8
            if cycle:
                keys = pc.add(part["l_orderkey"], offset * cycle)
                part = part.set_column(0, "l_orderkey", keys)
            pq.write_table(part, os.path.join(src, f"table_delta{t}.parquet"))
            self.table_rows.append(self.table_rows[-1] + part.num_rows)
        parts = int(pq.read_metadata(os.path.join(ctx.sf_dir, "part.parquet")).num_rows)
        supps = int(pq.read_metadata(os.path.join(ctx.sf_dir, "supplier.parquet")).num_rows)
        lo_p = int(rng.integers(0, max(1, parts - parts // 30)))
        lo_s = int(rng.integers(0, max(1, supps - supps // 25)))
        self.box = [
            ("l_partkey", "between", (lo_p, lo_p + parts // 30)),
            ("l_suppkey", "between", (lo_s, lo_s + supps // 25)),
        ]
        # lakehouse: orders as (k, ckey, cents); one class parked
        # (absent) at a time, so the live row count stays constant
        o = pq.read_table(os.path.join(ctx.sf_dir, "orders.parquet"))
        k = o["o_orderkey"].to_numpy()
        ckey = o["o_custkey"].to_numpy()
        cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
        ocls = _classes(len(k), rng)
        cdc_order = [int(c) for c in rng.permutation(_CLASSES)]
        parked = cdc_order[0]
        live = ocls != parked
        pq.write_table(
            pa.table({"k": k[live], "ckey": ckey[live], "cents": cents[live]}),
            os.path.join(src, "fact_base.parquet"),
        )
        self.n_fact = int(live.sum())
        for t in range(self.n_ticks):
            live_classes = [c for c in cdc_order if c != parked]
            upd = live_classes[(2 * t) % len(live_classes)]
            gone = live_classes[(2 * t + 1) % len(live_classes)]
            seq = 3 * t
            batches = [
                # re-insert the parked class, update another
                [(ocls == parked, 111 + t, seq + 1, "I"), (ocls == upd, 100 + t, seq + 1, "U")],
                # override half the update, delete a live class
                [((ocls == upd) & (k % 2 == 0), 200 + t, seq + 2, "U"),
                 (ocls == gone, 0, seq + 2, "D")],
                # update half the re-inserted class
                [((ocls == parked) & (k % 2 == 1), 333 + t, seq + 3, "U")],
            ]
            for b, entries in enumerate(batches):
                cols = {"k": [], "ckey": [], "cents": [], "seq": [], "op": []}
                for mask, bump, sq, op in entries:
                    n = int(mask.sum())
                    cols["k"].append(k[mask])
                    cols["ckey"].append(ckey[mask])
                    cols["cents"].append(cents[mask] + bump)
                    cols["seq"].append(np.full(n, sq, dtype=np.int32))
                    cols["op"].append(np.full(n, op, dtype=object))
                pq.write_table(
                    pa.table({c: np.concatenate(v) for c, v in cols.items()}),
                    os.path.join(src, f"cdc{t}_{b}.parquet"),
                )
            parked = gone
        # release: tick t curates one 5% class of newly arrived documents
        docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"))
        dcls = _classes(docs.num_rows, rng)
        self.doc_order = [int(c) for c in rng.permutation(_CLASSES)]
        for c in range(_CLASSES):
            pq.write_table(docs.filter(pa.array(dcls == c)), self._doc_class(c))
        return {
            "embedding_delete_order": self.del_order,
            "cdc_class_order": cdc_order,
            "document_order": self.doc_order,
            "box": [list(map(str, p)) for p in self.box],
        }

    def _emb_class(self, c: int) -> str:
        return os.path.join(self.src, f"emb_class{c}.parquet")

    def _doc_class(self, c: int) -> str:
        return os.path.join(self.src, f"doc_class{c}.parquet")

    def setup(self, ctx) -> None:
        spark, tr = ctx.spark, ctx.tr
        read = spark.read.parquet
        with tr.span("jobs.retrieval", "build_ivfpq_index"):
            rt.build_ivfpq_index(
                read(self.emb_path), self.index, centroids=self.centroids,
                codebooks=self.codebooks, store_vec=True,
            )
        with tr.span("jobs.retrieval", "delete_from_index"):
            rt.delete_from_index(read(self._emb_class(self.del_order[0])), self.index)
        with tr.span("operators.maintenance", "zorder_init"):
            mt.zorder_init(
                read(os.path.join(self.src, "table_base.parquet")), self.table,
                "l_partkey", "l_suppkey", n_files=6, bits=15,
            )
        with tr.span("operators.skipping", "build_file_manifest"):
            skp.build_file_manifest(spark, self.table, ["l_partkey", "l_suppkey"])
        with tr.span("catalog", "write:append", kind="exec", sink="catalog"):
            catalog.write_parquet(
                read(os.path.join(self.src, "table_setup.parquet")).repartition(1),
                self.table, mode="append",
            )
        with tr.span("operators.maintenance", "zorder_extend"):
            mt.zorder_extend(spark, self.table)
        with tr.span("operators.skipping", "maintain_file_manifest"):
            skp.maintain_file_manifest(spark, self.table)
        self.dim = catalog.read_table(spark, ctx.sf_dir, "customer").select(
            F.col("c_custkey").alias("ckey"), F.col("c_mktsegment").alias("seg")
        )
        fact = read(os.path.join(self.src, "fact_base.parquet"))
        view = fact.join(self.dim, ["ckey"])
        agg = ivm.aggregate_state(view, ["seg"], ["cents"])
        self.version = 0
        for name, df in (("fact", fact), ("view", view), ("agg", agg)):
            write(ctx, "jobs.lakehouse", df, self._cdc(0), name)
        self.queries = read(os.path.join(self.src, "queries.parquet"))
        self.release = os.path.join(self.state, "release")
        # the band the table's file count must stay in from tick to tick
        self.table_files = self._table_files()
        self.expected_fresh = True

    def _cdc(self, v: int) -> str:
        return os.path.join(self.state, f"cdc_v{v}")

    def op(self, ctx, i: int) -> list[float]:
        spark, tr = ctx.spark, ctx.tr
        read = spark.read.parquet
        # lakehouse: three chained CDC batches, new snapshot persisted
        cur = self._cdc(self.version)
        with tr.span("catalog", "read_table"):
            fact, view, agg = (catalog.read_table(spark, cur, n) for n in ("fact", "view", "agg"))
        for b in range(3):
            log = read(os.path.join(self.src, f"cdc{i}_{b}.parquet"))
            with tr.span("jobs.lakehouse", "maintain_cdc_lakehouse"):
                fact, view, agg = jobs.maintain_cdc_lakehouse(
                    fact, view, agg, self.dim, log,
                    key_cols=["k"], seq_cols=["seq"], join_on=["ckey"],
                    group_cols=["seg"], sum_cols=["cents"],
                    payload_cols=["ckey", "cents"], check_contract=(b == 0),
                )
        nxt = self._cdc(self.version + 1)
        for name, df in (("fact", fact), ("view", view), ("agg", agg)):
            write(ctx, "jobs.lakehouse", df, nxt, name)
        shutil.rmtree(cur)
        self.version += 1
        # index: re-admit the class deleted last tick, delete the next
        snap = _Snapshot(tr, [os.path.dirname(self.index)])
        readmit = self.del_order[i % _CLASSES]
        with tr.span("jobs.retrieval", "maintain_pq_index"):
            self.index_report = rt.maintain_pq_index(
                spark, self.index, new_rows=read(self._emb_class(readmit))
            )
        with tr.span("jobs.retrieval", "delete_from_index"):
            rt.delete_from_index(
                read(self._emb_class(self.del_order[(i + 1) % _CLASSES])), self.index
            )
        tr.add("jobs.retrieval", "bytes_written", snap.written)
        tr.add("jobs.retrieval", "bytes_admitted", self.emb_class_rows * (8 + 4 * 64))
        # table: raw append, z-order extend, layout tick, manifest upkeep
        delta = os.path.join(self.src, f"table_delta{i}.parquet")
        with tr.span("catalog", "write:append", kind="exec", sink="catalog"):
            catalog.write_parquet(read(delta).repartition(1), self.table, mode="append")
        snap = _Snapshot(tr, [os.path.dirname(self.table)])
        with tr.span("operators.maintenance", "zorder_extend"):
            mt.zorder_extend(spark, self.table)
        with tr.span("operators.maintenance", "maintain_table_layout"):
            self.layout_report = mt.maintain_table_layout(
                spark, self.table, small_file_mb=0.0001, max_z_generations=2
            )
        with tr.span("operators.skipping", "maintain_file_manifest"):
            skp.maintain_file_manifest(spark, self.table)
        tr.add("operators.maintenance", "bytes_written", snap.written)
        tr.add("operators.maintenance", "bytes_admitted", os.path.getsize(delta))
        # release: curate the tick's new documents, replacing the last
        # tick's release
        with tr.span("jobs.curation", "curate_release"):
            rel = jobs.curate_release(read(self._doc_class(self.doc_order[i % _CLASSES])))
        write(ctx, "jobs.curation", rel, self.release, "curated")
        # serving reads: a few rounds of the ANN query batch plus the
        # box read, as dashboards poll between ticks. The burst is one
        # read call: the median over single rounds spread up to 22%
        # between runs
        self.answers = []
        t0 = time.perf_counter()
        for _ in range(self.serving_rounds):
            with tr.span("jobs.retrieval", "query_ivfpq_index"):
                ann = rt.query_ivfpq_index(
                    spark, self.index, self.queries, k=5, n_probe=2, rerank=20
                )
            ann_rows = collect(ctx, "jobs.retrieval", ann, "ann")
            with tr.span("operators.skipping", "read_with_skipping"):
                box = skp.read_with_skipping(spark, self.table, self.box)
            summary = box.groupBy("l_linestatus").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
            box_rows = collect(ctx, "operators.skipping", summary, "box")
            self.answers.append((ann_rows, box_rows))
            tr.add("operators.skipping", "files_read", lambda: len(box.inputFiles()))
            tr.add("operators.skipping", "files_total", self._table_files)
        return [time.perf_counter() - t0]

    def _table_files(self) -> int:
        return sum(1 for p in _files(self.table) if p.endswith(".parquet"))

    def check(self, ctx, i: int) -> None:
        con = ctx.duck()
        spark = ctx.spark
        if self.expected_fresh:
            # expected lakehouse state, kept beside the program's from set-up on
            con.execute(
                "CREATE OR REPLACE TABLE exp_fact AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.src, 'fact_base.parquet')}')"
            )
            self.expected_fresh = False
        # lakehouse: maintained == recomputed from the same batches
        logs = ", ".join(
            f"'{os.path.join(self.src, f'cdc{i}_{b}.parquet')}'" for b in range(3)
        )
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE last AS
            SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
                           FROM read_parquet([{logs}])) WHERE rn = 1""")
        con.execute("DELETE FROM exp_fact WHERE k IN (SELECT k FROM last)")
        con.execute("INSERT INTO exp_fact SELECT k, ckey, cents FROM last WHERE op <> 'D'")
        cur = self._cdc(self.version)
        dim = f"(SELECT c_custkey AS ckey, c_mktsegment AS seg FROM read_parquet('{ctx.sf_dir}/customer.parquet'))"
        for name, sql in lakehouse_sql(dim).items():
            got = _scan(os.path.join(cur, name + ".parquet"))
            checks.same_sql(con, got, sql, f"lakehouse {name}")
        # index: answer == a fresh build over the live set with the
        # same centroids and codebooks
        gone = self.del_order[(i + 1) % _CLASSES]
        live = spark.read.parquet(self.emb_path).join(
            spark.read.parquet(self._emb_class(gone)).select("vec_id"), "vec_id", "anti"
        )
        fresh = os.path.join(ctx.work, "fresh", "index")
        rt.build_ivfpq_index(
            live, fresh,
            centroids=rt.load_ann_centroids(spark, self.index),
            codebooks=rt.load_pq_codebooks(spark, self.index),
            store_vec=True,
        )
        want = rt.query_ivfpq_index(spark, fresh, self.queries, k=5, n_probe=2, rerank=20)
        ann, box = self.answers[0]
        for other in self.answers[1:]:
            expect(other == self.answers[0], "serving rounds disagree")
        checks.same(checks.spark_rows(ann), checks.spark_rows(want.collect()), "ann answer")
        shutil.rmtree(os.path.dirname(fresh))
        expect(self.index_report["ingested_rows"] == self.emb_class_rows,
               f"index tick admitted {self.index_report['ingested_rows']} rows")
        # box read == full-scan filter over every table file
        (plo, phi), (slo, shi) = self.box[0][2], self.box[1][2]
        full = con.sql(f"""
            SELECT l_linestatus, count(*) AS n_rows, round(sum(l_extendedprice), 2) AS revenue
            FROM read_parquet('{os.path.join(self.table, '*.parquet')}')
            WHERE l_partkey BETWEEN {plo} AND {phi} AND l_suppkey BETWEEN {slo} AND {shi}
            GROUP BY 1""")
        checks.same(checks.spark_rows(box), checks.duck_rows(full), "box read")
        # release: the tick's shard == the oracle over the same documents
        docs = self._doc_class(self.doc_order[i % _CLASSES])
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        got = _scan(os.path.join(self.release, "curated.parquet"))
        checks.same_sql(con, got, oracle_sql("curation_release_e2e"), "tick release")
        ctx.tr.add("jobs.curation", "rows_kept", _pq_rows(os.path.join(self.release, "curated.parquet")))
        ctx.tr.add("jobs.curation", "rows_in", pq.read_metadata(docs).num_rows)
        # stationary state: live index rows, table rows and files,
        # lakehouse rows all stay in one band from tick to tick
        live_rows = con.sql(f"""
            SELECT count(*) FROM read_parquet('{_parquet_glob(self.index)}')
            WHERE vec_id NOT IN (SELECT id FROM read_parquet('{_parquet_glob(self.index + '__tombstones')}'))
        """).fetchone()[0]
        expect(live_rows == self.n_emb - self.emb_class_rows,
               f"live index rows {live_rows} != {self.n_emb - self.emb_class_rows}")
        n_rows = _pq_rows(self.table)
        expect(n_rows == self.table_rows[i + 1], f"table rows {n_rows} != {self.table_rows[i + 1]}")
        n_files = self._table_files()
        expect(n_files <= self.table_files + 2,
               f"table files grew to {n_files} from {self.table_files} after set-up")
        n_fact = _pq_rows(os.path.join(cur, "fact.parquet"))
        expect(n_fact == self.n_fact, f"lakehouse rows {n_fact} != {self.n_fact}")

    def extras(self, counters: dict) -> dict:
        r = counters.get("jobs.retrieval", {})
        m = counters.get("operators.maintenance", {})
        s = counters.get("operators.skipping", {})
        c = counters.get("jobs.curation", {})
        return {
            "jobs.curation.rows_kept_ratio": _ratio(c, "rows_kept", "rows_in"),
            "jobs.retrieval.write_amp": _ratio(r, "bytes_written", "bytes_admitted"),
            "operators.maintenance.write_amp": _ratio(m, "bytes_written", "bytes_admitted"),
            "operators.skipping.files_read_ratio": _ratio(s, "files_read", "files_total"),
        }


WORKLOADS = {w.name: w for w in (TrialEtl, CorpusRelease, MaintenanceTicks)}
