"""The one rewrite planner: ``purge_deletes(bin_pack=True)`` compacts
and materializes pending deletes in one read, one partition-aligned
write and one commit, and a sweep whose optimize is due purges through
it instead of a second rewrite.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from trino_iceberg_maintenance_spark.orchestrator import Orchestrator
from trino_iceberg_maintenance_spark.plans.incremental import (
    incremental_partition_stats,
)
from trino_iceberg_maintenance_spark.sources.lake import (
    CommitConflict,
    ParquetMaintainedTable,
)
from trino_iceberg_maintenance_spark.sources.schedule import (
    SCHEDULE_SCHEMA,
    write_rows,
)

SCHEMA = "id long, v string, p int"
T0 = dt.datetime(2026, 8, 1)


def _table(spark, path, n_parts=3, appends=4, per=30,
           cls=ParquetMaintainedTable):
    t = cls.create(spark, str(path), ["p"])
    for b in range(appends):
        ids = range(b * per, (b + 1) * per)
        t.append(spark.createDataFrame(
            [(i, f"v{i}", i % n_parts) for i in ids], SCHEMA),
            clock=lambda: T0)
    return t


def _model_hash(spark, path, rows):
    m = ParquetMaintainedTable.create(spark, str(path), ["p"])
    m.append(spark.createDataFrame(rows, SCHEMA))
    return m.content_hash()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _per_part(t, files):
    out: dict[str, int] = {}
    for f in files:
        out[t._partition_of(f)] = out.get(t._partition_of(f), 0) + 1
    return out


@pytest.mark.parametrize("kind", ["position", "equality", "targetless"])
def test_fused_rewrite_matches_model(spark, tmp_path, kind):
    """Positional, equality and target-less positional deletes: one
    fused rewrite leaves no delete entry and the content equals a
    model table."""
    t = _table(spark, tmp_path / "t")
    if kind == "equality":
        t.delete_by_key(spark.createDataFrame(
            [(i,) for i in range(0, 120, 7)], "id long"), ["id"])
    else:
        t.delete_where("id % 7 = 0")
    if kind == "targetless":
        snaps = t._load_manifest()
        for e in snaps[-1].delete_files:
            e.pop("targets", None)
        t._write_manifest(snaps)
    n = len(t._load_manifest())
    snap = t.purge_deletes(bin_pack=True)
    assert snap.delete_files is None
    assert len(t._load_manifest()) == n + 1
    kept = [(i, f"v{i}", i % 3) for i in range(120) if i % 7 != 0]
    assert t.content_hash() == _model_hash(spark, tmp_path / "m", kept)


@pytest.mark.parametrize("n_parts", [3, 6])
def test_fused_rewrite_is_partition_aligned(spark, tmp_path, n_parts):
    """Each partition gets at most k_p = min(removed, ceil(bytes /
    target)) files, both when the rewrite fits one target file and
    when it is spread over several tasks."""
    for target in (1 << 30, None):
        t = _table(spark, tmp_path / f"t{target}", n_parts)
        t.delete_where("id % 5 = 0")
        before = t.current_snapshot()
        per_part_bytes = {}
        for f in before.files:
            p = t._partition_of(f)
            per_part_bytes[p] = per_part_bytes.get(p, 0) + os.path.getsize(f)
        tgt = target or max(1, min(per_part_bytes.values()) // 2)
        t.purge_deletes(bin_pack=True, target_file_size=tgt)
        after = t.current_snapshot()
        assert after.delete_files is None
        new = _per_part(t, set(after.files) - set(before.files))
        gone = _per_part(t, set(before.files) - set(after.files))
        for p, n_gone in gone.items():
            k_p = min(n_gone, -(-per_part_bytes[p] // tgt))
            assert 1 <= new.get(p, 0) <= k_p, (target, p, new, k_p)
        kept = [(i, f"v{i}", i % n_parts) for i in range(120) if i % 5]
        assert t.content_hash() == _model_hash(
            spark, tmp_path / f"m{target}", kept)


def test_delete_during_fused_rewrite_conflicts(spark, tmp_path):
    """A merge-on-read DELETE committed between the fused rewrite's
    write and its commit applies to rewritten files: CommitConflict,
    and the delete stays in force."""
    t = _table(spark, tmp_path / "t")
    t.delete_where("id % 7 = 0")
    other = ParquetMaintainedTable(spark, t.path)
    orig = t._commit

    def racing_commit(*args, **kw):
        other.delete_where("id = 1")
        return orig(*args, **kw)

    t._commit = racing_commit
    with pytest.raises(CommitConflict):
        t.purge_deletes(bin_pack=True)
    ids = {r.id for r in t.read().collect()}
    assert 1 not in ids and 0 not in ids and 2 in ids


def test_job_count_does_not_grow_with_partitions(spark, tmp_path):
    """The fused rewrite, in one task and spread over tasks, and the
    incremental ANALYZE scan run as many Spark jobs at P=6 as at P=3."""
    counts = {}
    for n_parts in (3, 6):
        for target in (1 << 30, 2048):
            t = _table(spark, tmp_path / f"o{n_parts}_{target}", n_parts)
            t.delete_where("id % 5 = 0")
            counts[("optimize", target, n_parts)] = _jobs(
                spark, f"opt{n_parts}_{target}",
                lambda: t.purge_deletes(bin_pack=True,
                                        target_file_size=target))
        t = _table(spark, tmp_path / f"s{n_parts}", n_parts)
        t.delete_where("id % 5 = 0")
        state, recomputed = incremental_partition_stats(t, ["id", "v", "p"])
        assert len(recomputed) == n_parts
        counts[("analyze", 0, n_parts)] = _jobs(
            spark, f"analyze{n_parts}", state.collect)
    for (what, target, n_parts), n in counts.items():
        if n_parts == 6:
            assert n == counts[(what, target, 3)], (what, target, counts)


def test_read_with_pending_positional_delete_runs_no_job(spark, tmp_path):
    """Building ``read()`` over a pending positional delete reads the
    delete file with its fixed schema: no Spark job before an
    action."""
    t = _table(spark, tmp_path / "t", appends=2)
    t.delete_where("id % 7 = 0")
    assert _jobs(spark, "build-read", t.read) == 0


def _recording(calls):
    import functools

    def wrap(name):
        orig = getattr(ParquetMaintainedTable, name)

        @functools.wraps(orig)
        def method(self, *args, **kwargs):
            calls.append(name + ("(bin_pack)" if kwargs.get("bin_pack")
                                 else ""))
            return orig(self, *args, **kwargs)
        return method

    return type("Recording", (ParquetMaintainedTable,), {
        n: wrap(n) for n in ("optimize", "purge_deletes",
                             "compact_delete_files")
    })


def _sweep(spark, tmp_path, t, optimize_due, **row_values):
    sched = str(tmp_path / "schedule")
    row = {f.name: None for f in SCHEDULE_SCHEMA.fields}
    row.update(table_name="t", should_optimize=1 if optimize_due else None,
               days_to_optimize=1)
    row.update(row_values)
    write_rows(sched, [tuple(row[f.name] for f in SCHEDULE_SCHEMA.fields)],
               SCHEDULE_SCHEMA)
    o = Orchestrator(spark, sched, table_resolver=lambda n: t,
                     clock=lambda: T0 + dt.timedelta(days=2),
                     max_delete_files=0)
    o.run()
    return o.errors


def test_sweep_with_optimize_due_rewrites_once(spark, tmp_path):
    """Optimize due and the table over its delete budget: one rewrite
    (the optimize stage's purge with bin-pack), one snapshot, no merge
    and no delete entry left."""
    calls: list[str] = []
    t = _table(spark, tmp_path / "t", cls=_recording(calls))
    t.delete_where("id % 7 = 0")
    t.delete_where("id % 11 = 0")
    n = len(t._load_manifest())
    assert not _sweep(spark, tmp_path, t, optimize_due=True)
    assert calls == ["purge_deletes(bin_pack)"]
    assert len(t._load_manifest()) == n + 1
    assert not t.current_snapshot().delete_files
    kept = [(i, f"v{i}", i % 3) for i in range(120) if i % 7 and i % 11]
    assert t.content_hash() == _model_hash(spark, tmp_path / "m", kept)


def test_budget_stage_alone_merges_and_purges(spark, tmp_path):
    """Optimize not due: the delete-file budget stage still merges the
    positional entries and purges them."""
    calls: list[str] = []
    t = _table(spark, tmp_path / "t", cls=_recording(calls))
    t.delete_where("id % 7 = 0")
    t.delete_where("id % 11 = 0")
    assert not _sweep(spark, tmp_path, t, optimize_due=False)
    assert calls == ["compact_delete_files", "purge_deletes"]
    assert not t.current_snapshot().delete_files
    kept = [(i, f"v{i}", i % 3) for i in range(120) if i % 7 and i % 11]
    assert t.content_hash() == _model_hash(spark, tmp_path / "m", kept)


def test_budget_stage_purges_when_optimize_stage_raises(spark, tmp_path):
    """A watermark with NULL days makes the optimize stage raise. The
    budget stage runs before it, so the table still gets its merge and
    purge, and the sweep records the optimize error."""
    calls: list[str] = []
    t = _table(spark, tmp_path / "t", cls=_recording(calls))
    t.delete_where("id % 7 = 0")
    t.delete_where("id % 11 = 0")
    errors = _sweep(spark, tmp_path, t, optimize_due=True,
                    last_optimized_on=T0, days_to_optimize=None)
    assert len(errors) == 1 and "days period is NULL" in str(errors[0])
    assert calls == ["compact_delete_files", "purge_deletes"]
    assert not t.current_snapshot().delete_files


def test_unpartitioned_optimize_splits_an_oversized_file(spark, tmp_path):
    """An unpartitioned table is rewritten into ceil(bytes / target)
    files, so one file three targets large becomes three files."""
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(300)], SCHEMA).coalesce(1))
    (only,) = t.current_snapshot().files
    t.optimize(target_file_size=os.path.getsize(only) // 3 + 1)
    assert len(t.current_snapshot().files) == 3
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (i, f"v{i}", i % 3) for i in range(300)]
