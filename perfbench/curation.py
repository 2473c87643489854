"""The ``curation_queries`` workload: a fixed mix of registry queries
from ``__spark_entry__.queries()`` over a seeded star schema.

One cycle is one pass over the mix, one client, closed loop: each query
is materialised through the noop sink and the next starts when it
ends. Once per run, outside the timed passes, every query's collected
output is compared with its ``oracle_sql()`` DuckDB twin on row count
and an order-insensitive hash of the normalised rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import statistics
import time
from decimal import Decimal

import duckdb
import numpy as np

import __spark_entry__ as entry_mod
from trino_iceberg_maintenance_spark.sources.tables import register_views

from perfbench import datagen

#: the mix, in pass order
QUERIES = (
    "bm25_scores", "q1_pricing_summary", "shipping_priority",
    "events_sessionize",
)
#: plain scan-and-aggregate readers, whose median latency is ``reader_s``
READERS = ("q1_pricing_summary", "events_sessionize")

SCALE = {"full": 0.01, "smoke": 0.001}
#: passes a timed run makes at least, whatever ``--seconds`` says
MIN_PASSES = {"full": 5, "smoke": 1}
#: untimed passes after the oracle check; pass times settle after
#: about four runs of each query
WARM_PASSES = {"full": 3, "smoke": 0}


def _norm(v):
    if isinstance(v, Decimal):
        f = float(v)
        return int(f) if f.is_integer() else f
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(columns, rows) -> str:
    """Hash of the rows with columns sorted by name and rows sorted by
    their normalised ``repr``, so neither order matters."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for k in keyed:
        h.update(k.encode())
    return h.hexdigest()


class CurationWorkload:
    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf = SCALE[size]
        self.min_cycles = MIN_PASSES[size]
        self.warm_passes = WARM_PASSES[size]
        self.queries = entry_mod.queries()
        self.oracles = entry_mod.oracle_sql()
        self.batch_s: list[float] = []
        self.traced_batch_s: list[float] = []
        self.checked = False
        #: first (cold) run of each query, in the oracle check
        self.cold_s: dict[str, float] = {}
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.layer: dict[str, list[float]] = {}
        self.inputs: dict = {}
        self._tables = None

    def prepare(self, root: str) -> None:
        """Write the seeded star schema under ``root`` (untimed). It is
        generated once per run; every set-up gets its own copy."""
        if self._tables is None:
            self._tables = datagen.star_schema(
                np.random.default_rng(self.ctx.seed), self.sf)
        tables = self._tables
        self.sf_dir = os.path.join(root, "star")
        nbytes = datagen.write_tables(tables, self.sf_dir)
        self.tables = list(tables)
        self.inputs = {
            "sf": self.sf,
            "source_rows": sum(t.num_rows for t in tables.values()),
            "source_files": len(tables),
            "source_bytes": nbytes,
        }

    def setup(self) -> None:
        """The program's half (timed as ``setup_s``): open every table
        of the fresh copy through the program's SQL front door."""
        register_views(self.spark, self.sf_dir)

    def _run(self, name: str) -> float | None:
        ctx = self.ctx
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"operators.{name}", "operators", name):
                self.queries[name](self.spark, self.sf_dir) \
                    .write.format("noop").mode("overwrite").save()
        except Exception as exc:  # one failed query must not end the run
            ctx.fail(f"{name}: {exc!r}")
            return None
        return time.perf_counter() - t0

    def cycle(self, traced: bool) -> None:
        """One pass over the mix; with ``traced`` the caller has
        switched the tracer on, and each query's time and Spark job
        count are recorded."""
        ctx = self.ctx
        t0 = time.perf_counter()
        for q in QUERIES:
            if traced:
                ctx.counters.tag(f"query:{q}")
                jobs0 = ctx.counters.job_ids(f"query:{q}")
            d = self._run(q)
            if d is None:
                continue
            if traced:
                self._add(f"operators.{q}_s", d)
                self._add(f"operators.{q}.jobs",
                          len(ctx.counters.job_ids(f"query:{q}") - jobs0))
            else:
                self.query_s[q].append(d)
        t1 = time.perf_counter()
        if traced:
            ctx.counters.tag("client")
            self.traced_batch_s.append(t1 - t0)
        else:
            self.batch_s.append(t1 - t0)

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(float(value))

    def warm(self) -> None:
        """The oracle check, then untimed passes: the first run of a
        query pays JVM class loading, codegen and Python worker
        start-up, and the next few are still slower while the JIT
        compiles the generated code."""
        self.check()
        for _ in range(self.warm_passes):
            self.cycle(traced=False)

    def reset(self) -> None:
        """Forget everything measured so far (after the warm-up)."""
        self.batch_s.clear()
        self.traced_batch_s.clear()
        self.layer.clear()
        for xs in self.query_s.values():
            xs.clear()

    def needs_setup(self) -> bool:
        return False

    # -- correctness (untimed) --------------------------------------------
    def check(self) -> None:
        """Once per run: every query against its DuckDB oracle."""
        if self.checked:
            return
        self.checked = True
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.sf_dir}/{t}.parquet')")
            for q in QUERIES:
                self.ctx.attempted += 1
                t0 = time.perf_counter()
                try:
                    sdf = self.queries[q](self.spark, self.sf_dir)
                    rows = sdf.collect()
                    self.cold_s[q] = time.perf_counter() - t0
                    cur = con.execute(self.oracles[q])
                    d_cols = [d[0] for d in cur.description]
                    d_rows = cur.fetchall()
                except Exception as exc:  # one failed query must not end the run
                    self.ctx.fail(f"{q} oracle check: {exc!r}")
                    continue
                if len(rows) != len(d_rows):
                    self.ctx.fail(f"{q}: {len(rows)} rows, oracle {len(d_rows)}")
                elif (result_hash(sdf.columns, rows)
                      != result_hash(d_cols, d_rows)):
                    self.ctx.fail(f"{q}: result hash differs from oracle")
        finally:
            con.close()

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        """``op_ms`` is the geometric mean over the mix of each query's
        median latency, so no one query decides it."""
        logs = [math.log(statistics.median(xs)) for xs in self.query_s.values()]
        return {
            "batch_s": (statistics.median(self.batch_s), "s"),
            "op_ms": (math.exp(statistics.fmean(logs)) * 1e3, "ms"),
        }

    def extra_metrics(self) -> dict:
        readers = [x for q in READERS for x in self.query_s[q]]
        ms = sorted(x * 1e3 for xs in self.query_s.values() for x in xs)
        out = {"query_pass_s": (statistics.median(self.batch_s), "s"),
               "reader_s": (statistics.median(readers), "s"),
               "query_ms_p90": (statistics.quantiles(ms, n=10)[8], "ms")}
        for q in QUERIES:
            out[f"query.{q}_s"] = (statistics.median(self.query_s[q]), "s")
            out[f"query.{q}.cold_s"] = (self.cold_s.get(q, 0.0), "s")
        return out
