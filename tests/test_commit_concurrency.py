"""Commits as deltas against a base: concurrent writers, crashes and
partition-aligned rewrites.

Each lake writer plans from the snapshot it read and commits only its
delta; ``_commit`` applies the delta to the head under the table lock
and validates it when the head moved (Iceberg's optimistic
concurrency, https://iceberg.apache.org/spec/#optimistic-concurrency).
Every race here is forced deterministically by wrapping a handle's
``_commit`` or ``_write_manifest``.
"""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys
import textwrap
import threading
import time

import pytest

import trino_iceberg_maintenance_spark
from trino_iceberg_maintenance_spark.sources.lake import (
    ParquetMaintainedTable,
)

SCHEMA = "id long, v string"
T0 = dt.datetime(2026, 8, 1)
PKG_ROOT = os.path.dirname(os.path.dirname(trino_iceberg_maintenance_spark.__file__))


def _rows(spark, ids, schema=SCHEMA):
    if "p int" in schema:
        return spark.createDataFrame([(i, f"v{i}", i % 3) for i in ids], schema)
    return spark.createDataFrame([(i, f"v{i}") for i in ids], schema)


def _table(spark, path, batches, schema=SCHEMA, partition_cols=None):
    t = ParquetMaintainedTable.create(spark, str(path), partition_cols)
    for i, ids in enumerate(batches):
        t.append(_rows(spark, ids, schema),
                 clock=lambda i=i: T0 + dt.timedelta(hours=i))
    return t


def _ids(t):
    return sorted(r.id for r in t.read().collect())


def _run(code: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(code)],
        env={**os.environ, "PYTHONPATH": PKG_ROOT},
    )


def test_append_during_optimize_rebases(spark, tmp_path):
    """A second handle appends 5 rows between optimize's write and its
    commit: optimize rebases onto the head and keeps them (35 rows,
    not 30)."""
    t = _table(spark, tmp_path / "t", [range(0, 10), range(10, 20),
                                       range(20, 30)])
    other = ParquetMaintainedTable(spark, t.path)
    orig = t._commit

    def racing_commit(*args, **kw):
        other.append(_rows(spark, range(30, 35)))
        return orig(*args, **kw)

    t._commit = racing_commit
    t.optimize()
    assert _ids(t) == list(range(35))


def test_append_during_expire_survives(spark, tmp_path):
    """A second handle appends 3 rows while expire_snapshots is between
    its manifest load and its base rewrite. The table lock makes the
    append wait for the rewrite, so it survives (33 rows, not 30)."""
    t = _table(spark, tmp_path / "t", [range(0, 10), range(10, 20),
                                       range(20, 30)])
    other = ParquetMaintainedTable(spark, t.path)
    reached, go, errors = threading.Event(), threading.Event(), []
    orig_commit = other._commit

    def gated_commit(*args, **kw):
        reached.set()
        go.wait(60)
        return orig_commit(*args, **kw)

    other._commit = gated_commit

    def append():
        try:
            other.append(_rows(spark, range(30, 33)))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    appender = threading.Thread(target=append)
    appender.start()
    assert reached.wait(120)
    orig_write = t._write_manifest

    def racing_write(snapshots):
        go.set()
        appender.join(timeout=2)  # unlocked, the append lands here
        orig_write(snapshots)

    t._write_manifest = racing_write
    t.expire_snapshots(dt.datetime(2100, 1, 1), retain_last=1)
    appender.join(120)
    assert not appender.is_alive() and not errors
    assert _ids(t) == list(range(33))


def test_stale_positional_delete_conflicts(spark, tmp_path):
    """A merge-on-read delete planned before a concurrent optimize
    commits targets files that left the head: it raises CommitConflict,
    and no row deleted earlier comes back."""
    from trino_iceberg_maintenance_spark.sources.lake import CommitConflict

    t = _table(spark, tmp_path / "t", [range(0, 10), range(10, 20),
                                       range(20, 30)])
    t.delete_where("id < 3")
    other = ParquetMaintainedTable(spark, t.path)
    orig = t._commit

    def racing_commit(*args, **kw):
        t._commit = orig
        other.optimize()
        return orig(*args, **kw)

    t._commit = racing_commit
    with pytest.raises(CommitConflict):
        t.delete_where("id >= 25")
    assert t.current_snapshot().operation == "replace"
    assert _ids(t) == list(range(3, 30))


def test_concurrent_writers_match_model(spark, tmp_path):
    """4 appenders, a looping optimize/purge_deletes/expire_snapshots
    and a merge-on-read deleter on one table. Appends never conflict;
    the final content equals the model built from the commits that
    succeeded. Expiry and the deleter's scan share a guard: expiry
    must not delete files under a live reader (a retention policy,
    not a commit rule)."""
    from trino_iceberg_maintenance_spark.sources.lake import CommitConflict

    t = _table(spark, tmp_path / "t", [range(0, 10)])
    lock, guard = threading.Lock(), threading.Lock()
    committed, deleted, errors = list(range(10)), [], []
    done = threading.Event()

    def appender(k):
        h = ParquetMaintainedTable(spark, t.path)
        for j in range(3):
            ids = range(1000 * (k + 1) + 10 * j, 1000 * (k + 1) + 10 * j + 5)
            h.append(_rows(spark, ids))
            with lock:
                committed.extend(ids)

    def maintenance():
        h = ParquetMaintainedTable(spark, t.path)
        while not done.is_set():
            for op in (h.optimize, h.purge_deletes):
                try:
                    op()
                except CommitConflict:
                    pass
            with guard:
                h.expire_snapshots(dt.datetime(2100, 1, 1), retain_last=2)

    def deleter():
        h = ParquetMaintainedTable(spark, t.path)
        for _ in range(4):
            with lock:
                victim = next(i for i in reversed(committed)
                              if i not in deleted)
            try:
                with guard:
                    h.delete_where(f"id = {victim}")
                deleted.append(victim)
            except CommitConflict:
                pass

    def run(fn, *args):
        try:
            fn(*args)
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    writers = [threading.Thread(target=run, args=(appender, k))
               for k in range(4)]
    writers.append(threading.Thread(target=run, args=(deleter,)))
    sweeper = threading.Thread(target=run, args=(maintenance,))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for th in writers + [sweeper]:
            th.start()
        for th in writers:
            th.join(600)
        done.set()
        sweeper.join(600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in writers + [sweeper])
    assert not errors
    model = sorted(set(committed) - set(deleted))
    assert _ids(t) == model
    assert t.content_hash() == _table(spark, tmp_path / "m",
                                      [model]).content_hash()


def test_sweep_records_commit_conflict(spark, tmp_path):
    """A stage whose commit conflicts fails its table task: the sweep
    records a MaintenanceTaskException caused by CommitConflict in
    Orchestrator.errors, and the concurrent delete stays applied."""
    from trino_iceberg_maintenance_spark.orchestrator import Orchestrator
    from trino_iceberg_maintenance_spark.sources.lake import CommitConflict
    from trino_iceberg_maintenance_spark.sources.schedule import (
        SCHEDULE_SCHEMA,
        write_rows,
    )

    t = _table(spark, tmp_path / "t", [range(0, 10), range(10, 20)])
    other = ParquetMaintainedTable(spark, t.path)
    orig = t._commit

    def racing_commit(*args, **kw):
        t._commit = orig
        other.delete_where("id < 5")
        return orig(*args, **kw)

    t._commit = racing_commit
    sched = str(tmp_path / "schedule")
    row = {f.name: None for f in SCHEDULE_SCHEMA.fields}
    row.update(table_name="t", should_optimize=1, days_to_optimize=1)
    write_rows(sched, [tuple(row[f.name] for f in SCHEDULE_SCHEMA.fields)],
               SCHEDULE_SCHEMA)
    o = Orchestrator(spark, sched, table_resolver=lambda n: t,
                     stats_sink=lambda n, df: None, clock=lambda: T0)
    assert o.run() == []
    assert len(o.errors) == 1
    assert isinstance(o.errors[0].cause, CommitConflict)
    assert t.file_count() == 2
    assert _ids(t) == list(range(5, 20))


def test_schedule_stamps_from_two_processes_all_survive(tmp_path):
    """Two processes (no Spark) each stamp 50 watermarks of distinct
    tables on one schedule; the schedule lock reaches across
    processes, so all 100 stamps survive."""
    from trino_iceberg_maintenance_spark.sources.schedule import (
        SCHEDULE_SCHEMA,
        read_table,
        to_rows,
        write_rows,
    )

    sched = str(tmp_path / "schedule")
    names = [f"t{i:03d}" for i in range(100)]
    empty = {f.name: None for f in SCHEDULE_SCHEMA.fields}
    write_rows(sched, [
        tuple(dict(empty, table_name=n)[f.name] for f in SCHEDULE_SCHEMA.fields)
        for n in names
    ], SCHEDULE_SCHEMA)
    go = tmp_path / "go"
    procs = [_run(f"""
        import datetime as dt, os, time
        from trino_iceberg_maintenance_spark.sources.schedule import stamp
        open({str(tmp_path / f"ready{k}")!r}, "w").close()
        while not os.path.exists({str(go)!r}):
            time.sleep(0.001)
        for n in {names[k::2]!r}:
            stamp({sched!r}, n, "last_optimized_on", dt.datetime(2030, 1, 1))
    """) for k in range(2)]
    deadline = time.time() + 120
    while not all((tmp_path / f"ready{k}").exists() for k in range(2)):
        assert time.time() < deadline
        time.sleep(0.01)
    go.touch()
    assert [p.wait(120) for p in procs] == [0, 0]
    rows = to_rows(read_table(sched), SCHEDULE_SCHEMA)
    i = SCHEDULE_SCHEMA.fieldNames().index("last_optimized_on")
    assert sorted(r[0] for r in rows if r[i] is not None) == names


def test_crash_after_journal_append_keeps_sequence_numbers(spark, tmp_path):
    """A process killed right after the journal append, before
    ``_table.json`` records the file's sequence number. The next
    commit must not stamp its own id on that file, and
    expire_snapshots records the true number before it drops the
    snapshot that added the file, so an equality delete committed
    later still removes the file's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = _table(spark, tmp_path / "t", [range(0, 10)])
    extra = os.path.join(t.data_dir, "snap-external", "part-0.parquet")
    os.makedirs(os.path.dirname(extra))
    pq.write_table(pa.table({
        "id": pa.array(range(10, 20), pa.int64()),
        "v": [f"v{i}" for i in range(10, 20)],
    }), extra)
    proc = _run(f"""
        import os
        from trino_iceberg_maintenance_spark.sources.lake import (
            ParquetMaintainedTable as T,
        )
        orig = T._append_manifest_entry

        def crash(self, *args):
            orig(self, *args)
            os._exit(3)

        T._append_manifest_entry = crash
        T(None, {t.path!r}).add_files([{extra!r}])
    """)
    assert proc.wait(120) == 3
    assert t.current_snapshot().snapshot_id == 2
    assert os.path.abspath(extra) not in t._load_meta()["file_seq"]
    t.delete_by_key(spark.createDataFrame([(3,), (15,)], "id long"), ["id"])
    expected = [i for i in range(20) if i not in (3, 15)]
    assert _ids(t) == expected
    t.expire_snapshots(dt.datetime(2100, 1, 1), retain_last=1)
    assert [s.snapshot_id for s in t._load_manifest()] == [3]
    assert t._load_meta()["file_seq"][os.path.abspath(extra)] == 2
    assert _ids(t) == expected


def test_partitioned_rewrites_write_at_most_removed_files(spark, tmp_path):
    """At P=3 partitions, purge_deletes, copy-on-write delete_where
    and merge_into write each partition with at most as many files as
    they removed from it (12 files in, not 36 out), and the content
    equals the model."""
    schema = "id long, v string, p int"
    # 4 appends × 3 partitions = 12 files of 10 ids each (a step-3
    # run), so every file holds a multiple of 7 and of 5
    t = _table(spark, tmp_path / "t", [range(b, b + 30)
                                       for b in range(0, 120, 30)],
               schema, ["p"])
    full = t.current_snapshot()
    assert len(full.files) == 12

    def check(before, model, name):
        after = t.current_snapshot()
        gone = set(before.files) - set(after.files)
        new = set(after.files) - set(before.files)
        for part in ("p=0", "p=1", "p=2"):
            n_new = sum(t._partition_of(f) == part for f in new)
            n_gone = sum(t._partition_of(f) == part for f in gone)
            assert 1 <= n_new <= n_gone == 4, (name, part, n_new, n_gone)
        m = ParquetMaintainedTable.create(spark, str(tmp_path / name), ["p"])
        m.append(spark.createDataFrame(model, schema))
        assert t.content_hash() == m.content_hash()

    kept = [(i, f"v{i}", i % 3) for i in range(120) if i % 7 != 0]
    t.delete_where("id % 7 = 0")
    before = t.current_snapshot()
    t.purge_deletes()
    check(before, kept, "purge")

    t.rollback(full.snapshot_id)
    t.delete_where("id % 7 = 0", mode="copy-on-write")
    check(full, kept, "cow")

    t.rollback(full.snapshot_id)
    src = [(i, "m", i % 3) for i in range(0, 120, 5)]
    t.merge_into(spark.createDataFrame(src, schema), on=["id"],
                 insert_not_matched=False)
    check(full, [(i, "m" if i % 5 == 0 else f"v{i}", i % 3)
                 for i in range(120)], "merge")
