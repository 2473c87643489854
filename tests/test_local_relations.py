"""Driver-side metadata relations, the incremental ANALYZE over
merge-on-read deletes, and the schedule's write lock.

Metadata-sized relations (the schedule, the lake's ``$`` relations,
stats state and ``fleet_report``) are built by
``sources.tables.local_frame`` as Arrow ``LocalRelation`` frames:
collecting them must run no Spark job, and they must hold the same rows
and schema as ``spark.createDataFrame(<rows>)`` gives.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import os
import sys
import threading
import time

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from trino_iceberg_maintenance_spark import orchestrator as orch_mod
from trino_iceberg_maintenance_spark.orchestrator import (
    MaintenanceProperties,
    Orchestrator,
)
from trino_iceberg_maintenance_spark.plans.incremental import (
    partition_fingerprints,
)
from trino_iceberg_maintenance_spark.sources import lake as lake_mod
from trino_iceberg_maintenance_spark.sources import schedule as sched_mod
from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable
from trino_iceberg_maintenance_spark.sources.schedule import (
    SCHEDULE_SCHEMA,
    read_schedule,
    to_rows,
    write_rows,
)

#: a wall-clock time that does not exist in America/Los_Angeles (the
#: 2026 spring-forward gap)
DST_GAP = dt.datetime(2026, 3, 8, 2, 30)
ROWS_SCHEMA = "id long, val string, p int, ts timestamp"


def schedule_rows(*rows: dict) -> list[tuple]:
    out = []
    for r in rows:
        base = {f.name: None for f in SCHEDULE_SCHEMA.fields}
        base.update(r)
        out.append(tuple(base[f.name] for f in SCHEDULE_SCHEMA.fields))
    return out


def source_rows(ids) -> list[tuple]:
    return [(i, None if i % 4 == 0 else f"v{i}", i % 3,
             DST_GAP + dt.timedelta(hours=i % 5)) for i in ids]


@contextlib.contextmanager
def no_spark_jobs(spark, group: str):
    """Assert that the block runs no Spark job on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def local_tz(name: str):
    """Python's local timezone (what naive datetimes convert through)
    set to ``name`` for the block."""
    prior = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if prior is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prior
        time.tzset()


def list_frame(spark, data, schema):
    """The RDD-backed construction the metadata relations used before
    ``local_frame``: ``createDataFrame`` over Python rows."""
    if isinstance(data, pa.Table):
        data = to_rows(data, schema)
    return spark.createDataFrame(data, schema)


def test_local_frame_round_trips_rows_without_a_job(spark):
    from trino_iceberg_maintenance_spark.sources.tables import local_frame

    rows = source_rows(range(12))
    with local_tz("America/Los_Angeles"):
        want = spark.createDataFrame(rows, ROWS_SCHEMA)
        with no_spark_jobs(spark, "local-frame"):
            df = local_frame(spark, rows, ROWS_SCHEMA)
            got = df.collect()
            empty = local_frame(spark, [], ROWS_SCHEMA).collect()
        assert got == want.collect()
        assert df.schema == want.schema
        assert empty == []


def test_metadata_relations_run_no_job_and_match_row_path(
    spark, tmp_path, monkeypatch
):
    """Every converted relation collects with no Spark job and returns
    the rows and schema of the row-list construction, timestamps
    included, under a DST-observing local timezone with values in its
    spring-forward gap."""
    with local_tz("America/Los_Angeles"):
        clock = lambda: DST_GAP  # noqa: E731
        t = ParquetMaintainedTable.create(
            spark, str(tmp_path / "meta"), partition_cols=["p"])
        t.append(spark.createDataFrame(source_rows(range(30)), ROWS_SCHEMA),
                 clock=clock)
        t.append(spark.createDataFrame(source_rows(range(30, 40)),
                                       ROWS_SCHEMA), clock=clock)
        t.create_tag("v1")
        t.delete_where("id < 5", clock=clock)
        sched = str(tmp_path / "schedule")
        write_rows(sched, schedule_rows(
            {"table_name": "meta", "should_analyze": 1,
             "last_analyzed_on": DST_GAP, "columns_to_analyze": ["id"]},
        ), SCHEDULE_SCHEMA)
        o = Orchestrator(spark, sched, table_resolver=lambda n: t,
                         clock=clock)

        relations = {
            "read_schedule": lambda: read_schedule(spark, sched),
            "snapshots_df": t.snapshots_df,
            "entries_df": t.entries_df,
            "history_df": t.history_df,
            "files_df": t.files_df,
            "partitions_df": t.partitions_df,
            "manifests_df": t.manifests_df,
            "refs_df": t.refs_df,
            "delete_files_df": t.delete_files_df,
            "fleet_report": o.fleet_report,
        }
        # the footer aggregates refuse a table with pending deletes
        pure = ParquetMaintainedTable.create(spark, str(tmp_path / "pure"))
        pure.append(spark.createDataFrame(source_rows(range(8)), ROWS_SCHEMA),
                    clock=clock)
        relations["metadata_aggregate"] = pure.metadata_aggregate
        relations["metadata_numeric_stats"] = pure.metadata_numeric_stats

        got = {}
        for name, build in relations.items():
            with no_spark_jobs(spark, f"local-relation-{name}"):
                df = build()
                got[name] = (df.collect(), df.schema)

        for mod in (lake_mod, sched_mod, orch_mod):
            monkeypatch.setattr(mod, "local_frame", list_frame)
        for name, build in relations.items():
            df = build()
            assert got[name] == (df.collect(), df.schema), name

    # the timestamp columns carry the gap value as Spark converts it
    assert {r.committed_at for r in got["snapshots_df"][0]} == {
        r.made_current_at for r in got["history_df"][0]}
    assert got["read_schedule"][0][0].columns_to_analyze == ["id"]
    assert got["metadata_aggregate"][0][0].count_star == 8
    assert got["delete_files_df"][0][0].content == "position"


def _analyze_tables(spark, tmp_path, clock):
    rows = spark.createDataFrame(source_rows(range(100)), ROWS_SCHEMA)
    part = ParquetMaintainedTable.create(
        spark, str(tmp_path / "part"), partition_cols=["p"])
    flat = ParquetMaintainedTable.create(spark, str(tmp_path / "flat"))
    for t in (part, flat):
        t.append(rows, clock=clock)
    return part, flat


def _analyze_orchestrator(spark, tmp_path, tables, clock, log):
    sched = str(tmp_path / "schedule")
    write_rows(sched, schedule_rows(*[
        {"table_name": n, "should_analyze": 1, "days_to_analyze": 1}
        for n in tables
    ]), SCHEDULE_SCHEMA)

    def sink(name, df):
        log[name] = {r.column_name: (r.row_count, r.null_count,
                                     r.null_fraction)
                     for r in df.collect()}

    return Orchestrator(spark, sched, table_resolver=tables.__getitem__,
                        stats_sink=sink, clock=clock)


def test_partitioned_analyze_applies_merge_on_read_deletes(spark, tmp_path):
    """Partitioned (incremental) and unpartitioned ANALYZE agree with
    ``read().count()`` after a merge-on-read DELETE, and a later
    DELETE that leaves the data files alone re-arms exactly the
    partition it touches."""
    now = [dt.datetime(2026, 8, 1)]
    clock = lambda: now[0]  # noqa: E731
    part, flat = _analyze_tables(spark, tmp_path, clock)
    # no pending delete: the fingerprint is the data-file list alone,
    # as in stats state written before deletes were fingerprinted
    for p, (fp, files, entries) in partition_fingerprints(part).items():
        assert entries == []
        assert fp == hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()

    for t in (part, flat):
        t.delete_where("id < 30", clock=clock)
    log: dict = {}
    o = _analyze_orchestrator(spark, tmp_path, {"part": part, "flat": flat},
                              clock, log)
    assert len(o.run()) == 2 and not o.errors
    assert sorted(o.last_recomputed["part"]) == ["p=0", "p=1", "p=2"]
    assert part.read().count() == 70
    assert log["part"] == log["flat"]
    assert {v[0] for v in log["part"].values()} == {70}

    # id 31 lives in p=1 only; the data files stay as they are
    files_before = part.current_files()
    for t in (part, flat):
        t.delete_where("id = 31", clock=clock)
    assert part.current_files() == files_before
    now[0] += dt.timedelta(days=2)
    assert len(o.run()) == 2 and not o.errors
    assert o.last_recomputed["part"] == ["p=1"]
    assert part.read().count() == 69
    assert log["part"] == log["flat"]
    assert {v[0] for v in log["part"].values()} == {69}


def test_current_partitioned_analyze_runs_no_job(spark, tmp_path):
    """Re-ANALYZE of a partitioned table whose partitions did not
    change: the state is carried forward, written, folded and handed
    to the sink without a Spark job."""
    now = [dt.datetime(2026, 8, 1)]
    clock = lambda: now[0]  # noqa: E731
    part, _ = _analyze_tables(spark, tmp_path, clock)
    log: dict = {}
    o = _analyze_orchestrator(spark, tmp_path, {"part": part}, clock, log)
    assert o.run() and not o.errors
    first = log.pop("part")
    props = MaintenanceProperties.from_row(
        read_schedule(spark, o.schedule_path).collect()[0])
    now[0] += dt.timedelta(days=2)
    with no_spark_jobs(spark, "current-analyze"):
        assert o._analyze(part, props, now[0], lambda: True)
    assert o.last_recomputed["part"] == []
    assert log["part"] == first
    assert {v[0] for v in first.values()} == {100}


def test_write_schedule_serializes_with_stamps(spark, tmp_path):
    """One thread rewrites the schedule while stamping threads run:
    the last edit and the last stamp of every thread both survive,
    because a stamp never writes back a table read before an edit."""
    from trino_iceberg_maintenance_spark.sources.schedule import (
        write_schedule,
    )

    sched = str(tmp_path / "schedule")
    names = [f"s{i}" for i in range(4)]
    edits = 12
    write_rows(sched, schedule_rows(*[{"table_name": n} for n in names]),
               SCHEDULE_SCHEMA)
    edit_dfs = [
        spark.createDataFrame(schedule_rows(
            *[{"table_name": n, "days_to_optimize": k} for n in names],
            {"table_name": f"edit_{k}"},
        ), SCHEDULE_SCHEMA)
        for k in range(edits)
    ]
    local = threading.local()
    o = Orchestrator(spark, sched, table_resolver=lambda n: None,
                     clock=lambda: local.now)
    editing = threading.Event()
    editing.set()
    errors: list[BaseException] = []
    final = {}

    def stamper(name):
        try:
            i = 0
            while editing.is_set():
                local.now = dt.datetime(2026, 8, 1) + dt.timedelta(minutes=i)
                o._stamp_watermark(name, "last_optimized_on")
                i += 1
            final[name] = dt.datetime(2027, 1, 1) + dt.timedelta(minutes=i)
            local.now = final[name]
            o._stamp_watermark(name, "last_optimized_on")
        except BaseException as exc:  # surfaced by the main thread
            errors.append(exc)

    def editor():
        try:
            for df in edit_dfs:
                write_schedule(df, sched)
        except BaseException as exc:
            errors.append(exc)
        finally:
            editing.clear()

    prior_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=stamper, args=(n,))
                   for n in names] + [threading.Thread(target=editor)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(prior_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = {r.table_name: r for r in read_schedule(spark, sched).collect()}
    assert sorted(got) == sorted(names + [f"edit_{edits - 1}"])
    for n in names:
        assert got[n].days_to_optimize == edits - 1, n
        assert got[n].last_optimized_on == final[n], n


@pytest.mark.parametrize("rows", [[], [("p=0", "x", 0, 0), ("p=1", "y", 0, 0)]])
def test_null_fraction_fold_keeps_empty_table_behaviour(spark, rows):
    """The driver-side fold over no partitions (or zero-row ones)
    gives what the Spark aggregate over the same state gave: NULL sums
    over no rows, and Spark's own double division."""
    from trino_iceberg_maintenance_spark.plans.incremental import (
        table_null_fractions,
    )

    schema = "partition string, fingerprint string, row_count long, null_a long"
    state = spark.createDataFrame(rows, schema)
    want = state.agg(F.sum("row_count").alias("row_count"),
                     F.sum("null_a").alias("null_count")).select(
        F.lit("a").alias("column_name"), "row_count", "null_count",
        (F.col("null_count").cast("double")
         / F.col("row_count").cast("double")).alias("null_fraction"))
    got = table_null_fractions(spark, state.collect(), ["a"])
    assert got.dtypes == want.dtypes
    if rows:
        # 0 / 0 under the session's ANSI setting: both raise or both
        # give the same value
        try:
            expected = want.collect()
        except Exception as exc:  # noqa: BLE001
            with pytest.raises(type(exc)):
                got.collect()
            return
        assert got.collect() == expected
    else:
        assert got.collect() == want.collect()
