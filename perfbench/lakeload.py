"""The two maintenance workloads: ``fleet_sweep`` and
``ingest_compact_scan``.

One cycle is: ingest commits (closed loop, one client) → plant stray
files → reader queries on the now-stale tables → advance the injected
clock two days → one ``Orchestrator.run()`` with every stage due →
the same reader queries again. An epoch is a fresh warehouse and as
many cycles as the seeded slices last; an epoch outlasts a timed run,
so cycle ``i`` of every run sees tables of the same sizes.

The benchmark keeps its own model of every table — which source rows
are live and how often each was updated — in NumPy, and after every
sweep (untimed) checks each table's ``content_hash()`` against the hash
of the modelled rows, that no stray file older than the cutoff
survived and that expiry kept the retention.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import Row

from trino_iceberg_maintenance_spark.orchestrator import Orchestrator
from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable
from trino_iceberg_maintenance_spark.sources.schedule import (
    SCHEDULE_SCHEMA,
    write_schedule,
)

from perfbench import datagen, trace

#: injected clock start; each cycle advances it two days, and every
#: stage's period and retention is one day, so every sweep is fully due
CLOCK_START = dt.datetime(2026, 1, 1)
CYCLE_ADVANCE = dt.timedelta(days=2)
RETENTION_DAYS = 1


@dataclass
class LakeSpec:
    source: str                       # "orders" | "lineitem"
    #: (name, partition columns, takes row-level deletes and merges)
    tables: list[tuple[str, list[str] | None, bool]]
    source_rows: int                  # orders rows, or lineitem order count
    n_slices: int                     # appends per table per epoch
    appends_per_cycle: int
    orphans_per_cycle: int
    deletes_per_cycle: int = 0
    merges_per_cycle: int = 0
    merge_rows: int = 0
    max_delete_files: int | None = None
    #: cycles a timed run makes at least, whatever ``--seconds`` says
    min_cycles: int = 1


#: per source: the key ``delete_where`` picks rows by, the merge keys
#: and the column a merge update changes
KEY_COL = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
MERGE_ON = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
UPDATE_COL = {"orders": "o_totalprice", "lineitem": "l_quantity"}

_LINEITEM_TABLES = [("li_part", ["l_returnflag", "l_linestatus"], True),
                    ("li_flat", None, True)]

SPECS = {
    # one partitioned table takes the row-level commits, so the sweep
    # reaches the incremental ANALYZE and the delete-file maintenance
    "fleet_sweep": {
        "full": LakeSpec("orders",
                         [("fleet_00", ["o_orderstatus"], True),
                          ("fleet_01", None, False)],
                         source_rows=16_000, n_slices=16,
                         appends_per_cycle=4, orphans_per_cycle=2,
                         deletes_per_cycle=1, max_delete_files=0),
        "smoke": LakeSpec("orders", [("fleet_00", ["o_orderstatus"], True),
                                     ("fleet_01", None, False)],
                          source_rows=1_000, n_slices=4,
                          appends_per_cycle=2, orphans_per_cycle=1,
                          deletes_per_cycle=1, max_delete_files=0),
    },
    "ingest_compact_scan": {
        "full": LakeSpec("lineitem", _LINEITEM_TABLES,
                         source_rows=15_000, n_slices=24,
                         appends_per_cycle=8, orphans_per_cycle=2,
                         deletes_per_cycle=1, merges_per_cycle=1,
                         merge_rows=64, max_delete_files=1, min_cycles=2),
        "smoke": LakeSpec("lineitem", _LINEITEM_TABLES,
                          source_rows=1_500, n_slices=4,
                          appends_per_cycle=2, orphans_per_cycle=1,
                          deletes_per_cycle=1, merges_per_cycle=1,
                          merge_rows=8, max_delete_files=1),
    },
}

#: lake methods whose per-call time is a per-layer metric, by who calls
#: them: the client's commits, and the sweep's maintenance actions.
#: ``merge_into`` runs on ``ingest_compact_scan`` only, and its latency
#: is in that workload's commit figures.
CLIENT_METHODS = ("append", "delete_where")
SWEEP_METHODS = ("optimize", "remove_orphan_files", "expire_snapshots",
                 "compact_delete_files", "purge_deletes")


@dataclass
class TableModel:
    """Independent model of one table: live source rows and the number
    of merge updates applied to each."""
    name: str
    partition_cols: list[str] | None
    rowlevel: bool                    # takes deletes and merges
    path: str
    src_path: str
    key: np.ndarray                   # o_orderkey / l_orderkey per rid
    part: np.ndarray | None           # first partition column per rid
    slice_of: np.ndarray
    slice_order: np.ndarray           # seeded append order of slices
    appended: int = 0
    columns: list[str] | None = None  # the table's read() column order
    #: per rid, the row hash of the un-merged source row
    base_hash: np.ndarray | None = None

    def __post_init__(self):
        self.live = np.zeros(len(self.key), dtype=bool)
        self.version = np.zeros(len(self.key), dtype=np.int64)


def _dir_bytes(paths) -> dict[str, int]:
    out = {}
    for root in paths:
        for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
            if os.path.isfile(f):
                out[f] = os.path.getsize(f)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[8] if len(xs) > 1 else _median(xs)


def _span_s(spans, name) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


class LakeWorkload:
    def __init__(self, ctx, name: str, size: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.name = name
        self.spec: LakeSpec = SPECS[name][size]
        self.commit_ms: list[float] = []
        self.stale_read_s: list[float] = []
        self.read_s: list[float] = []
        self.batch_s: list[float] = []
        self.traced_batch_s: list[float] = []
        self.ingest_bytes = 0
        self.maint_bytes = 0
        self.space_amp: list[float] = []
        self.layer: dict[str, list[float]] = {}
        #: untraced wall time per cycle phase, for the info line
        self.phase_s: dict[str, list[float]] = {}
        self.epochs = 0
        self.inputs: dict = {}

    # -- set-up -----------------------------------------------------------
    def prepare(self, root: str) -> None:
        """The benchmark's half of a fresh warehouse under ``root``
        (untimed): seeded source files and the table models. Each
        epoch draws its own inputs from the run's seed."""
        rng = np.random.default_rng([self.ctx.seed, self.epochs])
        self.epochs += 1
        self.rng = rng
        spec = self.spec
        self.now = CLOCK_START
        self.cycles = 0
        self.models: dict[str, TableModel] = {}
        rows = nbytes = 0
        order = rng.permutation(len(spec.tables))  # seeded table order
        for i in order:
            name, pcols, rowlevel = spec.tables[i]
            if spec.source == "orders":
                tbl = datagen.orders(rng, spec.source_rows, 1_500)
            else:
                tbl = datagen.lineitem(rng, spec.source_rows, 2_000, 100)
            key = tbl.column(KEY_COL[spec.source]).to_numpy()
            pcol = pcols[0] if pcols else None
            part = (tbl.column(pcol).to_numpy(zero_copy_only=False)
                    if pcol else None)
            tbl = datagen.with_slices(tbl, rng, spec.n_slices, by=pcol)
            src = os.path.join(root, "src", f"{name}.parquet")
            os.makedirs(os.path.dirname(src), exist_ok=True)
            pq.write_table(tbl, src)
            rows += tbl.num_rows
            nbytes += os.path.getsize(src)
            self.models[name] = TableModel(
                name, pcols, rowlevel, os.path.join(root, "lake", name), src,
                key, part, tbl.column("slice").to_numpy(),
                rng.permutation(spec.n_slices),
            )
        self.sources = {
            n: self.spark.read.parquet(m.src_path)
            for n, m in self.models.items()
        }
        self.schedule_path = os.path.join(root, "schedule")
        self.schedule_df = self.spark.createDataFrame([
            Row(**({f.name: None for f in SCHEDULE_SCHEMA.fields} | {
                "table_name": n,
                "should_analyze": 1, "days_to_analyze": 1,
                "should_optimize": 1, "days_to_optimize": 1,
                "should_expire_snapshots": 1,
                "retention_days_snapshots": RETENTION_DAYS,
                "should_remove_orphan_files": 1,
                "retention_days_orphan_files": RETENTION_DAYS,
            }))
            for n in self.models
        ], SCHEDULE_SCHEMA)
        self.inputs = {"tables": len(self.models), "source_rows": rows,
                       "source_files": len(self.models),
                       "source_bytes": nbytes,
                       "appends_per_epoch": spec.n_slices * len(self.models)}

    def setup(self) -> None:
        """The program's half (timed as ``setup_s``): create the empty
        tables and write the schedule."""
        for m in self.models.values():
            ParquetMaintainedTable.create(self.spark, m.path, m.partition_cols)
        write_schedule(self.schedule_df, self.schedule_path)

    # -- table handles ----------------------------------------------------
    def _table(self, name: str, traced: bool) -> ParquetMaintainedTable:
        cls = self.ctx.traced_table if traced else ParquetMaintainedTable
        t = cls(self.spark, self.models[name].path)
        t.bench_name = name
        return t

    def _resolver(self, traced: bool):
        def resolve(name):
            if traced:
                self.ctx.counters.tag(f"task:{name}")
            return self._table(name, traced)
        return resolve

    # -- client operations (timed) ----------------------------------------
    def _commit(self, fn) -> bool:
        self.ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # one failed op must not end the run
            self.ctx.fail(f"commit: {exc!r}")
            return False
        self.commit_ms.append((time.perf_counter() - t0) * 1e3)
        return True

    def _ingest(self, traced: bool) -> None:
        spec = self.spec
        for name, m in self.models.items():
            t = self._table(name, traced)
            src = self.sources[name]
            for _ in range(spec.appends_per_cycle):
                if m.appended >= spec.n_slices:
                    break
                s = int(m.slice_order[m.appended])
                m.appended += 1
                df = src.where(F.col("slice") == s).drop("rid", "slice")
                if self._commit(lambda: t.append(df, clock=self.clock)):
                    m.live |= m.slice_of == s
            if not m.rowlevel:
                continue
            key = KEY_COL[spec.source]
            for _ in range(spec.deletes_per_cycle):
                mod = int(self.rng.integers(40, 60))
                r = int(self.rng.integers(0, mod))
                cond, hit = self._in_one_partition(m)
                cond += f"{key} % {mod} = {r}"
                hit &= m.key % mod == r
                if self._commit(lambda: t.delete_where(cond, clock=self.clock)):
                    m.live &= ~hit
            for _ in range(spec.merges_per_cycle):
                live = np.flatnonzero(m.live & self._in_one_partition(m)[1])
                rids = self.rng.choice(live, min(spec.merge_rows, len(live)),
                                       replace=False)
                ver = m.version[rids] + 1
                upd = self._versioned(name, rids, ver)
                if self._commit(lambda: t.merge_into(
                        upd, on=MERGE_ON[spec.source], clock=self.clock)):
                    m.version[rids] = ver

    def _in_one_partition(self, m: TableModel) -> tuple[str, np.ndarray]:
        """A seeded partition of a partitioned table: the SQL condition
        prefix that selects it and the rows in it. Row-level commits
        stay inside one partition, so the incremental ANALYZE has
        partitions left to skip. An unpartitioned table is one
        partition."""
        if m.part is None:
            return "", np.ones(len(m.key), dtype=bool)
        values = np.unique(m.part[m.live])
        v = values[int(self.rng.integers(0, len(values)))]
        return f"{m.partition_cols[0]} = '{v}' AND ", m.part == v

    def _versioned(self, name: str, rids: np.ndarray, ver: np.ndarray):
        """Source rows ``rids`` with a merge update applied ``ver``
        times (the update column plus ``ver``), without the bookkeeping
        columns."""
        vdf = self.spark.createDataFrame(
            pa.table({"rid": rids.astype(np.int64),
                      "ver": ver.astype(np.int64)}).to_pandas())
        col = UPDATE_COL[self.spec.source]
        return (self.sources[name].join(F.broadcast(vdf), "rid")
                .withColumn(col, F.col(col) + F.col("ver").cast("double"))
                .drop("rid", "slice", "ver"))

    def _reads(self, traced: bool, out: list[float]) -> None:
        """Reader queries on the tables that take row-level commits:
        their reads merge pending delete files before the sweep."""
        for name, m in self.models.items():
            if not m.rowlevel:
                continue
            t = self._table(name, traced)
            if self.spec.source == "orders":
                queries = [("full", lambda: t.read().agg(
                    F.count(F.lit(1)).alias("n")).collect())]
            else:
                lo = dt.datetime(1996, 1, 1) + dt.timedelta(
                    days=int(self.rng.integers(0, 365)))
                queries = [
                    ("full", lambda: t.read()
                     .groupBy("l_returnflag", "l_linestatus")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum("l_quantity").alias("q"))
                     .collect()),
                    ("pruned", lambda: t.read_pruned(
                        "l_shipdate", lo, lo + dt.timedelta(days=120))
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum("l_extendedprice").alias("p"))
                     .collect()),
                ]
            for kind, q in queries:
                self.ctx.attempted += 1
                t0 = time.perf_counter()
                try:
                    res = q()
                except Exception as exc:
                    self.ctx.fail(f"read {name}: {exc!r}")
                    continue
                out.append(time.perf_counter() - t0)
                n = sum(r["n"] for r in res)
                if kind == "full" and n != int(m.live.sum()):
                    self.ctx.fail(f"{name}: read {n} rows, "
                                  f"model has {int(m.live.sum())}")

    def clock(self) -> dt.datetime:
        return self.now

    def _plant_orphans(self) -> None:
        """Stray files no snapshot references, dated before the next
        sweep's cutoff."""
        stamp = (self.now - dt.timedelta(hours=1)).replace(
            tzinfo=dt.timezone.utc).timestamp()
        for m in self.models.values():
            for i in range(self.spec.orphans_per_cycle):
                d = os.path.join(m.path, "data",
                                 f"snap-orphan{self.cycles:03d}{i}")
                os.makedirs(d, exist_ok=True)
                f = os.path.join(d, "part-00000.parquet")
                with open(f, "wb") as fh:
                    fh.write(self.rng.bytes(int(self.rng.integers(512, 4096))))
                os.utime(f, (stamp, stamp))

    # -- one cycle --------------------------------------------------------
    def cycle(self, traced: bool) -> None:
        """One cycle; with ``traced`` the caller has switched the tracer
        on, and the cycle's per-layer figures are recorded."""
        ctx = self.ctx
        roots = [m.path for m in self.models.values()]
        c0 = time.perf_counter()
        if traced:
            ctx.counters.tag("client")
        before = _dir_bytes(roots)
        self._ingest(traced)
        after = _dir_bytes(roots)
        self.ingest_bytes += sum(s for f, s in after.items() if f not in before)
        self._plant_orphans()
        r0 = time.perf_counter()
        self._reads(traced, [] if traced else self.stale_read_s)
        r1 = time.perf_counter()
        pre = self._table_shape()
        self.now += CYCLE_ADVANCE

        def sink(name, df):
            with ctx.tracer.span("stats.analyze", "stats", name):
                df.collect()

        orch = (ctx.traced_orchestrator if traced else Orchestrator)(
            self.spark, self.schedule_path, self._resolver(traced),
            stats_sink=sink, clock=self.clock, num_workers=ctx.nproc,
            max_delete_files=self.spec.max_delete_files,
        )
        before = _dir_bytes(roots)
        if traced:
            ctx.counters.tag("sweep")
            with trace.orchestrator_layers(ctx.tracer):
                t0 = time.perf_counter()
                orch.run()
                t1 = time.perf_counter()
            self.traced_batch_s.append(t1 - t0)
            ctx.counters.tag("client")
        else:
            t0 = time.perf_counter()
            orch.run()
            t1 = time.perf_counter()
            self.batch_s.append(t1 - t0)
        after = _dir_bytes(roots)
        written = sum(s for f, s in after.items() if f not in before)
        self.maint_bytes += written
        ctx.attempted += len(self.models)
        for err in orch.errors:
            ctx.fail(f"sweep task: {err!r}")

        r2 = time.perf_counter()
        self._reads(traced, [] if traced else self.read_s)
        r3 = time.perf_counter()
        if not traced:
            for phase, d in (("ingest", r0 - c0), ("reads", r1 - r0 + r3 - r2),
                             ("sweep", t1 - t0)):
                self.phase_s.setdefault(phase, []).append(d)
        if traced:
            self._sweep_metrics(orch, t0, t1, pre, before, after, written)
            self._client_metrics(c0, t0, t1, time.perf_counter())
        else:
            live = sum(self._table(n, False).live_bytes() for n in self.models)
            self.space_amp.append(sum(_dir_bytes(roots).values()) / live)
        self.cycles += 1

    def _table_shape(self) -> dict:
        files = pending = 0
        for n in self.models:
            snap = self._table(n, False).current_snapshot()
            if snap is not None:
                files += len(snap.files)
                pending += len(snap.delete_files or [])
        k = len(self.models)
        return {"files": files / k, "pending": pending / k}

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(float(value))

    def _sweep_metrics(self, orch, t0, t1, pre, before, after,
                       written) -> None:
        """Per-layer figures of the traced sweep ``[t0, t1]``."""
        ctx = self.ctx
        spans = ctx.tracer.between(t0, t1)
        by_id = {s.sid: s for s in spans}
        tasks = [s for s in spans if s.name == "orchestrator.task"]
        task_ids = {s.sid for s in tasks}

        def under_task(s):
            while s is not None:
                if s.sid in task_ids:
                    return True
                s = by_id.get(s.parent)
            return False

        # worker-thread spans: a table task and everything it called
        selfs = trace.self_times([s for s in spans if under_task(s)])
        busy = sum(s.end - s.start for s in tasks)
        for layer in ("orchestrator", "schedule", "lake", "stats"):
            self._add(f"{layer}.self_s", selfs.get(layer, 0.0))
        self._add("orchestrator.worker_busy_frac",
                  busy / (ctx.nproc * (t1 - t0)))
        jobs = set()
        for n in self.models:
            jobs |= ctx.counters.job_ids(f"task:{n}")
        jobs -= self._task_jobs_seen
        self._task_jobs_seen |= jobs
        self._add("orchestrator.jobs_per_table", len(jobs) / len(self.models))
        self._add("schedule.reads_per_sweep",
                  sum(1 for s in spans if s.name == "schedule.read"))
        self._add("schedule.read_s", sum(s.end - s.start for s in spans
                                         if s.layer == "schedule"))
        lake = trace.outermost(spans, "lake")
        for meth in SWEEP_METHODS:
            self._add(f"lake.{meth}_s", _span_s(lake, f"lake.{meth}"))
        self._add("lake.bytes_rewritten", written)
        self._add("lake.files_removed", sum(1 for f in before if f not in after))
        self._add("lake.files_per_table", pre["files"])
        self._add("lake.pending_delete_files", pre["pending"])
        self._add("stats.analyze_s", _span_s(spans, "stats.analyze"))
        parts = rescanned = 0
        for n, m in self.models.items():
            if m.partition_cols:
                data_dir = os.path.join(m.path, "data")
                parts += len({
                    os.path.relpath(os.path.dirname(f), data_dir)
                    .split(os.sep, 1)[-1]
                    for f in self._table(n, False).current_files()
                })
                rescanned += len(orch.last_recomputed.get(n, []))
            else:  # an unpartitioned ANALYZE rescans the whole table
                parts += 1
                rescanned += 1
        self._add("stats.rescan_frac", rescanned / parts)

    def _client_metrics(self, c0, t0, t1, c1) -> None:
        """Per-call lake costs of the client's commits and reads: the
        traced cycle ``[c0, c1]`` outside its sweep ``[t0, t1]``."""
        spans = trace.outermost(
            self.ctx.tracer.between(c0, t0) + self.ctx.tracer.between(t1, c1),
            "lake")
        for meth in CLIENT_METHODS:
            self._add(f"lake.{meth}_s", _median(
                [s.end - s.start for s in spans if s.name == f"lake.{meth}"]))
        self._add("lake.read_s", _median(
            [s.end - s.start for s in spans
             if s.name in ("lake.read", "lake.read_pruned")]))
        sizes = [
            sum(os.path.getsize(p) for p in (
                os.path.join(m.path, "_manifest.json"),
                os.path.join(m.path, "_manifest.log")) if os.path.exists(p))
            for m in self.models.values()
        ]
        self._add("lake.manifest_bytes", sum(sizes) / len(sizes))

    # -- correctness (untimed) --------------------------------------------
    def _row_hash(self, m: TableModel):
        """The row hash ``content_hash()`` sums, over the table's
        columns in read order."""
        return F.xxhash64(*[
            F.coalesce(F.col(c).cast("string"), F.lit("\0"))
            for c in m.columns
        ])

    def _expected_hash(self, name: str, m: TableModel) -> int:
        """Sum of the row hashes of the modelled rows: un-merged rows
        from hashes taken once from the source file, merged rows
        rebuilt from the source with their updates applied."""
        if m.base_hash is None:
            rows = (self.sources[name].select("rid", self._row_hash(m))
                    .toPandas().to_numpy())
            m.base_hash = np.zeros(len(m.key), dtype=np.int64)
            m.base_hash[rows[:, 0]] = rows[:, 1]
        plain = m.live & (m.version == 0)
        h = sum(m.base_hash[plain].tolist())
        rids = np.flatnonzero(m.live & (m.version > 0))
        if len(rids):
            df = self._versioned(name, rids, m.version[rids])
            h += int(df.select(F.sum(self._row_hash(m).cast("decimal(38,0)")))
                     .collect()[0][0])
        return h

    def check(self) -> None:
        """After a sweep: content matches the model, no stray file older
        than the cutoff survives, and expiry kept at most one snapshot
        older than the cutoff (``retain_last=1``). Tables are checked
        in parallel threads."""
        cutoff = self.now - dt.timedelta(days=RETENTION_DAYS)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(self.models)) as pool:
            found = list(pool.map(lambda nm: self._check_table(*nm, cutoff),
                                  self.models.items()))
        for errors in found:
            self.ctx.attempted += 1
            for err in errors:
                self.ctx.fail(err)
        self.phase_s.setdefault("check", []).append(time.perf_counter() - t0)

    def _check_table(self, name: str, m: TableModel,
                     cutoff: dt.datetime) -> list[str]:
        errors = []
        t = self._table(name, False)
        if m.columns is None:
            m.columns = t.read().columns
        got, want = t.content_hash(), self._expected_hash(name, m)
        if got != want:
            errors.append(f"{name}: content_hash {got} != expected {want}")
        referenced = {
            r["file_path"] for r in t.entries_df()
            .where("status != 'DELETED'").select("file_path").collect()
        }
        snap = t.current_snapshot()
        referenced |= {e["path"] for e in (snap.delete_files or [])}
        stale = []
        for f in glob.glob(os.path.join(m.path, "data", "**", "*"),
                           recursive=True):
            base = os.path.basename(f)
            if (not os.path.isfile(f) or f in referenced
                    or base.startswith((".", "_"))):
                continue
            mtime = dt.datetime.fromtimestamp(
                os.path.getmtime(f), dt.timezone.utc).replace(tzinfo=None)
            if mtime < cutoff:
                stale.append(f)
        if stale:
            errors.append(f"{name}: {len(stale)} unreferenced files older "
                          f"than the cutoff survived, e.g. {stale[0]}")
        old = t.snapshots_df().where(
            F.col("committed_at") < F.lit(cutoff)).count()
        if old > 1:
            errors.append(f"{name}: {old} snapshots older than the cutoff")
        return errors

    # -- run hooks --------------------------------------------------------
    def warm(self) -> None:
        """One untimed cycle on the run's warehouse, checked: every
        operation the timed cycles run, so the JVM, codegen and Python
        workers are warm."""
        self.cycle(traced=False)
        self.check()

    @property
    def min_cycles(self) -> int:
        return self.spec.min_cycles

    def reset(self) -> None:
        """Forget everything measured so far (after the warm-up)."""
        for xs in (self.commit_ms, self.stale_read_s, self.read_s,
                   self.batch_s, self.traced_batch_s, self.space_amp):
            xs.clear()
        self.layer.clear()
        self.phase_s.clear()
        self.ingest_bytes = self.maint_bytes = 0
        self._task_jobs_seen = self.ctx.counters.all_job_ids()

    def needs_setup(self) -> bool:
        """The slices are used up: the next cycle needs a fresh
        warehouse."""
        return all(m.appended >= self.spec.n_slices
                   for m in self.models.values())

    def end_to_end(self) -> dict:
        return {
            "batch_s": (_median(self.batch_s), "s"),
            "op_ms": (_median(self.commit_ms), "ms"),
        }

    def extra_metrics(self) -> dict:
        """The workload's own figures, by the names of the metric
        glossary, measured in the untraced cycles."""
        e = self.end_to_end()
        return {
            "sweep_s": e["batch_s"],
            "commit_ms_p50": e["op_ms"],
            "commit_ms_p90": (_p90(self.commit_ms), "ms"),
            "commits": (len(self.commit_ms), "count"),
            "stale_scan_s": (_median(self.stale_read_s), "s"),
            "scan_s": (_median(self.read_s), "s"),
            "write_amp": (self.maint_bytes / self.ingest_bytes
                          if self.ingest_bytes else 0.0, "ratio"),
            "space_amp": (_median(self.space_amp), "ratio"),
        } | {f"phase.{k}_s": (_median(v), "s") for k, v in self.phase_s.items()}
