"""Behavioral ports of the reference's tests plus coverage it lacks.

Reference tests (tests/test_maintenance.py): test_optimize (:41),
test_analyze_without_colums (:81), test_analyze_with_colums (:126) —
golden assertions on file counts and exact null fractions, schedule
semantics driven by a frozen clock. Orphan removal and snapshot expiry
had NO tests in the reference (SURVEY.md §5) — covered here.
"""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from trino_iceberg_maintenance_spark.orchestrator import (
    MaintenanceTaskException,
    Orchestrator,
)
from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable
from trino_iceberg_maintenance_spark.sources.schedule import (
    SCHEDULE_SCHEMA,
    read_schedule,
)

T0 = dt.datetime(2026, 8, 1, 12, 0, 0)


class FakeClock:
    """freezegun stand-in (tests/test_maintenance.py:75): the
    orchestrator's 'now' is injectable per SURVEY.md §3.3."""

    def __init__(self, now: dt.datetime = T0):
        self.now = now

    def __call__(self) -> dt.datetime:
        return self.now

    def advance(self, **kw) -> None:
        self.now += dt.timedelta(**kw)


def data_files_on_disk(t):
    """Physical parquet data files (excluding committer bookkeeping)."""
    import glob

    return [
        f
        for f in glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith((".", "_"))
    ]


def schedule_row(table_name: str, **overrides):
    base = {f.name: None for f in SCHEDULE_SCHEMA.fields}
    base["table_name"] = table_name
    base.update(overrides)
    return base


def write_schedule(spark, path, rows):
    spark.createDataFrame(
        [tuple(r[f.name] for f in SCHEDULE_SCHEMA.fields) for r in rows],
        SCHEDULE_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(path)


def make_table(spark, tmp_path, name, rows, clock, n_appends=None):
    """One append per row batch — each insert is one data file, the
    granularity the reference's compaction test depends on
    (tests/test_maintenance.py:48-51)."""
    t = ParquetMaintainedTable.create(spark, str(tmp_path / name))
    for batch in rows:
        t.append(spark.createDataFrame(batch, "a string, b string"), clock=clock)
    return t


@pytest.fixture
def env(spark, tmp_path):
    clock = FakeClock()
    sched = str(tmp_path / "schedule")
    tables: dict[str, ParquetMaintainedTable] = {}
    stats_log: dict[str, list] = {}

    def sink(name, df):
        stats_log.setdefault(name, []).append(
            {r["column_name"]: r["null_fraction"] for r in df.collect()}
        )

    def orch(num_workers=5, **kwargs):
        return Orchestrator(
            spark,
            sched,
            table_resolver=lambda n: tables[n],
            stats_sink=sink,
            clock=clock,
            num_workers=num_workers,
            **kwargs,
        )

    return spark, tmp_path, clock, sched, tables, stats_log, orch


def test_optimize_compacts_and_respects_period(env):
    """Port of test_optimize (tests/test_maintenance.py:41-78):
    2 files → 1 after optimize, data unchanged; re-run before the
    period is a no-op; +11 days past a 10-day period runs again."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(
        spark, tmp_path, "t1", [[("a", "b")], [("c", "d")]], clock
    )
    tables["t1"] = t
    assert t.file_count() == 2
    before = t.content_hash()

    write_schedule(
        spark, sched,
        [schedule_row("t1", should_optimize=1, days_to_optimize=10)],
    )
    assert orch().run() and t.file_count() == 1
    assert t.content_hash() == before
    snap_after_first = t.current_snapshot().snapshot_id

    # within the period: no-op (tests/test_maintenance.py:69-72)
    clock.advance(days=1)
    orch().run()
    assert t.current_snapshot().snapshot_id == snap_after_first

    # past the period: runs again (tests/test_maintenance.py:75-78)
    clock.advance(days=10)
    orch().run()
    assert t.current_snapshot().snapshot_id > snap_after_first
    assert t.file_count() == 1 and t.content_hash() == before


def test_analyze_null_fractions(env):
    """Port of test_analyze_without_colums
    (tests/test_maintenance.py:81-123): null fraction 1.0, then after
    the period 2 nulls / 3 rows = 0.6666666666666666 exactly."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "t2", [[(None, None), (None, None)]], clock)
    tables["t2"] = t

    write_schedule(
        spark, sched,
        [schedule_row("t2", should_analyze=1, days_to_analyze=10)],
    )
    orch().run()
    assert stats_log["t2"][-1] == {"a": 1.0, "b": 1.0}

    t.append(spark.createDataFrame([("x", "y")], "a string, b string"), clock=clock)

    # before the period: stale stats (tests/test_maintenance.py:112-116)
    clock.advance(days=1)
    orch().run()
    assert len(stats_log["t2"]) == 1

    clock.advance(days=10)
    orch().run()
    assert stats_log["t2"][-1] == {
        "a": 0.6666666666666666,
        "b": 0.6666666666666666,
    }


def test_analyze_column_subset(env):
    """Port of test_analyze_with_colums
    (tests/test_maintenance.py:126-169): only listed columns are
    analyzed; the others' stats stay stale."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "t3", [[(None, None), (None, None)]], clock)
    tables["t3"] = t

    write_schedule(
        spark, sched,
        [schedule_row(
            "t3", should_analyze=1, days_to_analyze=10,
            columns_to_analyze=["a"],
        )],
    )
    orch().run()
    assert stats_log["t3"][-1] == {"a": 1.0}

    t.append(spark.createDataFrame([("x", "y")], "a string, b string"), clock=clock)
    clock.advance(days=11)
    orch().run()
    assert stats_log["t3"][-1] == {"a": 0.6666666666666666}


@pytest.mark.slowtier
def test_analyze_column_subset_keeps_others_stale(env):
    """r1 VERDICT item 7 (models tests/test_maintenance.py:145-161):
    switching a REAL-column schedule from full-table ANALYZE to a
    one-column subset must refresh only that column — the other
    column's last-known stats stay at their pre-switch (stale) value
    even though its data changed underneath."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "t3s", [[("x", None), ("y", None)]], clock)
    tables["t3s"] = t

    write_schedule(
        spark, sched, [schedule_row("t3s", should_analyze=1, days_to_analyze=10)]
    )
    orch().run()
    assert stats_log["t3s"][-1] == {"a": 0.0, "b": 1.0}

    # narrow to column 'a', then change BOTH columns' null profiles
    write_schedule(
        spark, sched,
        [schedule_row(
            "t3s", should_analyze=1, days_to_analyze=10,
            columns_to_analyze=["a"],
        )],
    )
    t.append(spark.createDataFrame([(None, "z")], "a string, b string"), clock=clock)
    clock.advance(days=11)
    orch().run()

    assert stats_log["t3s"][-1] == {"a": 1 / 3}, "subset col must refresh"
    latest = {}
    for batch in stats_log["t3s"]:
        latest.update(batch)
    assert latest["b"] == 1.0, (
        "non-analyzed column's last stats must be the stale pre-switch "
        "value (true fraction is now 2/3)"
    )


@pytest.mark.slowtier
def test_analyze_column_subset_partitioned_incremental(env):
    """The column-subset path through INCREMENTAL (partitioned)
    analyze, with real column names: only the listed column is in the
    stats output, and touching one partition rescans only it while the
    non-analyzed column provably stays unreported."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env

    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "psub"), partition_cols=["p"]
    )
    rows = [(f"k{i}", None if i % 2 else "x", i % 2) for i in range(8)]
    t.append(spark.createDataFrame(rows, "a string, b string, p int"), clock=clock)
    tables["psub"] = t
    write_schedule(
        spark, sched,
        [schedule_row(
            "psub", should_analyze=1, days_to_analyze=10,
            columns_to_analyze=["b"],
        )],
    )
    o = orch()
    o.run()
    assert stats_log["psub"][-1] == {"b": 0.5}
    assert sorted(o.last_recomputed["psub"]) == ["p=0", "p=1"]

    # touch only p=1 with a non-null b: incremental rescan of p=1 only
    t.append(
        spark.createDataFrame([("n", "x", 1)], "a string, b string, p int"),
        clock=clock,
    )
    clock.advance(days=11)
    o2 = orch()
    o2.run()
    assert o2.last_recomputed["psub"] == ["p=1"]
    assert stats_log["psub"][-1] == {"b": 4 / 9}
    assert all("a" not in batch for batch in stats_log["psub"])


def test_expire_snapshots_gc(env):
    """No reference test exists for expiry (SURVEY.md §5) — new
    coverage: optimize then expire deletes the pre-compaction files
    while the current snapshot keeps working."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(
        spark, tmp_path, "t4", [[("a", "b")], [("c", "d")], [("e", "f")]], clock
    )
    tables["t4"] = t
    before = t.content_hash()
    disk_before = len(data_files_on_disk(t))
    assert disk_before == 3

    t.optimize(clock=clock)  # snapshot 4 references only new file(s)
    clock.advance(days=30)
    write_schedule(
        spark, sched,
        [schedule_row("t4", should_expire_snapshots=1,
                      retention_days_snapshots=7)],
    )
    orch().run()
    # old snapshots dropped, their (now-unreferenced) files deleted
    assert [s.snapshot_id for s in t._load_manifest()] == [4]
    disk_after = len(data_files_on_disk(t))
    assert disk_after == t.file_count() == 1
    assert t.content_hash() == before


def test_remove_orphan_files(env):
    """No reference test exists for orphan removal (SURVEY.md §5) —
    new coverage: unreferenced file older than retention is deleted,
    a recent orphan survives (mtime threshold, __main__.py:146)."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(spark, tmp_path, "t5", [[("a", "b")]], clock)
    tables["t5"] = t

    old_orphan = os.path.join(t.data_dir, "stray-old.parquet")
    new_orphan = os.path.join(t.data_dir, "stray-new.parquet")
    for p in (old_orphan, new_orphan):
        with open(p, "w") as f:
            f.write("junk")
    old = (clock() - dt.timedelta(days=30)).timestamp()
    os.utime(old_orphan, (old, old))

    write_schedule(
        spark, sched,
        [schedule_row("t5", should_remove_orphan_files=1,
                      retention_days_orphan_files=7)],
    )
    orch().run()
    assert not os.path.exists(old_orphan)      # past retention: deleted
    assert os.path.exists(new_orphan)          # recent: kept
    assert t.file_count() == 1 and t.read().count() == 1


def test_partitioned_optimize_compacts_only_small_file_tail(spark, tmp_path):
    """Per-partition bin-pack (SURVEY.md §7.2 M6): only partitions
    whose file count shrinks are rewritten; healthy partitions keep
    their exact files in the new snapshot; data unchanged."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "pt"), partition_cols=["p"]
    )
    # partition p=1: three tiny appends (fragmented); p=2: one append
    for i in range(3):
        t.append(spark.createDataFrame([(i, 1)], "v int, p int"))
    t.append(spark.createDataFrame([(99, 2)], "v int, p int"))

    inv = {
        r["partition"]: r["cnt"]
        for r in t.files_df()
        .groupBy("partition")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert inv == {"p=1": 3, "p=2": 1}
    before = t.content_hash()
    healthy_files = {
        f for f in t.current_files() if t._partition_of(f) == "p=2"
    }

    t.optimize()
    inv2 = {
        r["partition"]: r["cnt"]
        for r in t.files_df()
        .groupBy("partition")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert inv2 == {"p=1": 1, "p=2": 1}
    # healthy partition's files are byte-identical carryovers
    assert healthy_files <= set(t.current_files())
    assert t.content_hash() == before
    assert t.read().count() == 4


def test_cli_expectation_rules_parsing():
    """EXPECTATION_RULES_JSON: valid JSON parses to the constructor
    shape; malformed input raises instead of silently dropping a
    quality gate."""
    import pytest

    from trino_iceberg_maintenance_spark.__main__ import (
        parse_expectation_rules,
    )

    assert parse_expectation_rules("") is None
    got = parse_expectation_rules(
        '{"orders": [["total_positive", "o_totalprice > 0"],'
        ' ["key_not_null", "o_orderkey IS NOT NULL"]]}'
    )
    assert got == {"orders": [("total_positive", "o_totalprice > 0"),
                              ("key_not_null", "o_orderkey IS NOT NULL")]}
    with pytest.raises(ValueError):
        parse_expectation_rules('["not", "an", "object"]')
    with pytest.raises(ValueError):
        parse_expectation_rules('{"t": [["name_only"]]}')
    with pytest.raises(ValueError):
        parse_expectation_rules('{"t": [["n", 42]]}')
    with pytest.raises(ValueError):  # rules value not a list
        parse_expectation_rules('{"t": 5}')
    with pytest.raises(ValueError):  # dict-shaped rule: keys are NOT
        parse_expectation_rules(     # a (name, sql) pair
            '{"t": [{"name": "r", "sql": "x > 0"}]}'
        )


def test_cli_index_maintainers_parsing(spark, tmp_path):
    """INDEX_MAINTAINERS_JSON: valid JSON parses to the constructor
    shape (kind resolved to the standard extend callable, path to a
    table handle); malformed input and unknown kinds raise instead of
    silently dropping an index maintainer."""
    import pytest

    from trino_iceberg_maintenance_spark.__main__ import (
        parse_index_maintainers,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    assert parse_index_maintainers("", spark) == (None, None, None)
    p = str(tmp_path / "idx_bm25")
    got, rkeys, _bnd = parse_index_maintainers(
        f'{{"documents": [["bm25", "{p}"]]}}', spark
    )
    (kind, table, fn) = got["documents"][0]
    assert kind == "bm25" and isinstance(table, ParquetMaintainedTable)
    assert callable(fn) and table.path == p
    assert rkeys is None  # pair form: retraction off
    # triple form carries the opt-in retraction key
    got3, rkeys3, _bnd3 = parse_index_maintainers(
        f'{{"documents": [["bm25", "{p}", "doc_id"]]}}', spark
    )
    assert [e[0] for e in got3["documents"]] == ["bm25"]
    assert rkeys3 == {"documents": {"bm25": "doc_id"}}
    with pytest.raises(ValueError):
        parse_index_maintainers('["not", "an", "object"]', spark)
    with pytest.raises(ValueError):  # unknown kind fails fast
        parse_index_maintainers('{"t": [["hnsw", "/x"]]}', spark)
    with pytest.raises(ValueError):  # not a [kind, path] pair
        parse_index_maintainers('{"t": [["bm25"]]}', spark)
    with pytest.raises(ValueError):
        parse_index_maintainers('{"t": [["bm25", 42]]}', spark)
    with pytest.raises(ValueError):
        parse_index_maintainers('{"t": 5}', spark)


@pytest.mark.slowtier
def test_standard_index_maintainer_ivf_bootstraps_then_extends(env):
    """The 'ivf' standard maintainer: the first run k-means-bootstraps
    from the full batch, later runs assign under the EXISTING
    centroids — verified end-to-end through orchestrator stage 6 with
    index_lag returning to 0."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        ivf_topk_from_index,
    )
    from trino_iceberg_maintenance_spark.orchestrator import (
        standard_index_maintainer,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    spark, tmp_path, clock, sched, tables, _, orch = env
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "emb_src"))
    src.append(emb.where(F.col("vec_id") % 2 == 0), clock=clock)
    tables["tbl_emb"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "emb_ivf"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_emb", should_maintain_indexes=1,
                     days_to_index=7),
    ])
    o = orch(index_maintainers={"tbl_emb": [(
        "ivf", idx, standard_index_maintainer("ivf"),
    )]})
    assert o.run() and not o.errors
    n_centroids_0 = idx.read().where(
        F.col("kind") == "centroid"
    ).count()
    assert n_centroids_0 > 0  # bootstrapped

    src.append(emb.where(F.col("vec_id") % 2 == 1), clock=clock)
    clock.advance(days=8)
    assert o.run() and not o.errors
    # extend kept the existing centroids (no re-bootstrap)
    assert idx.read().where(
        F.col("kind") == "centroid"
    ).count() == n_centroids_0
    rep = {r.table_name: r for r in o.fleet_report().collect()}["tbl_emb"]
    assert rep.index_lag == 0
    # the index answers queries over BOTH halves
    q = emb.limit(2)
    hits = ivf_topk_from_index(idx, q, k=3)
    assert hits.count() > 0


def test_cli_entry_point(spark, tmp_path, monkeypatch):
    """python -m trino_iceberg_maintenance_spark: env-configured sweep
    (NUM_WORKERS / MAINTENANCE_TABLE / WAREHOUSE_DIR) creates the
    schedule table idempotently and exits 0 on an empty fleet."""
    from trino_iceberg_maintenance_spark.__main__ import main
    from trino_iceberg_maintenance_spark.sources.schedule import read_schedule

    sched = str(tmp_path / "cfg")
    monkeypatch.setenv("MAINTENANCE_TABLE", sched)
    monkeypatch.setenv("WAREHOUSE_DIR", str(tmp_path / "wh"))
    monkeypatch.setenv("NUM_WORKERS", "2")
    assert main([]) == 0
    assert read_schedule(spark, sched).count() == 0
    assert main([]) == 0  # idempotent re-run


@pytest.mark.slowtier
def test_fault_isolation(env):
    """One misconfigured table (period NULL + watermark set → the
    reference's per-table TypeError, __main__.py:165) must not stop
    the other tables (__main__.py:73-80)."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    bad = make_table(spark, tmp_path, "bad", [[("a", "b")], [("c", "d")]], clock)
    good = make_table(spark, tmp_path, "good", [[("a", "b")], [("c", "d")]], clock)
    tables.update(bad=bad, good=good)

    write_schedule(
        spark, sched,
        [
            schedule_row("bad", should_optimize=1,
                         last_optimized_on=T0 - dt.timedelta(days=99)),
            schedule_row("good", should_optimize=1, days_to_optimize=10),
        ],
    )
    o = orch()
    done = o.run()
    assert [p.table_name for p in done] == ["good"]
    assert good.file_count() == 1
    assert bad.file_count() == 2  # untouched
    assert len(o.errors) == 1
    assert isinstance(o.errors[0], MaintenanceTaskException)
    assert o.errors[0].properties.table_name == "bad"


def test_watermark_written_after_optimize(env):
    """S8: the UPDATE … SET last_optimized_on watermark
    (__main__.py:172-176) lands in the config table."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(spark, tmp_path, "t6", [[("a", "b")], [("c", "d")]], clock)
    tables["t6"] = t
    write_schedule(
        spark, sched,
        [schedule_row("t6", should_optimize=1, days_to_optimize=10)],
    )
    orch().run()
    from trino_iceberg_maintenance_spark.sources.schedule import read_schedule

    row = read_schedule(spark, sched).collect()[0]
    assert row["last_optimized_on"] == clock()


def test_watermark_stamp_runs_no_spark_job(env):
    """A stamp is a driver-side file replace: no Spark job runs while
    the orchestrator holds its watermark lock."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    write_schedule(spark, sched, [schedule_row("t1"), schedule_row("t2")])
    o = orch()
    sc = spark.sparkContext
    group = "watermark-stamp-guard"
    sc.setJobGroup(group, "watermark stamp")
    try:
        o._stamp_watermark("t1", "last_optimized_on")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the group does record this thread's jobs
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_watermark_stamp_on_spark_written_schedule(env):
    """A schedule written by Spark (INT96 timestamps, a ``.crc``
    checksum sibling, ``_SUCCESS``) stays readable by Spark after a
    stamp, and the stamped value round-trips exactly."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    write_schedule(spark, sched, [
        schedule_row("t1", should_optimize=1, columns_to_analyze=["a"]),
        schedule_row("t2", last_analyzed_on=T0 - dt.timedelta(days=2)),
    ])
    names = os.listdir(sched)
    assert "_SUCCESS" in names
    assert any(n.startswith(".part-") and n.endswith(".crc") for n in names)
    orch()._stamp_watermark("t1", "last_optimized_on")
    got = {r.table_name: r for r in spark.read.parquet(sched).collect()}
    assert got["t1"].last_optimized_on == clock()
    assert got["t1"].should_optimize == 1
    assert got["t1"].columns_to_analyze == ["a"]
    assert got["t2"].last_optimized_on is None
    assert got["t2"].last_analyzed_on == T0 - dt.timedelta(days=2)
    assert read_schedule(spark, sched).collect() == spark.read.schema(
        SCHEDULE_SCHEMA).parquet(sched).orderBy("table_name").collect()


def test_watermark_stamp_crash_before_replace_keeps_schedule(spark, tmp_path):
    """A process killed after the temp-file write and before the
    ``os.replace`` leaves the old schedule whole and readable; the
    hidden temp file is ignored and the next stamp succeeds."""
    import subprocess
    import sys
    import textwrap

    import trino_iceberg_maintenance_spark
    from trino_iceberg_maintenance_spark.sources.schedule import (
        data_file,
        stamp,
        write_rows,
    )

    sched = str(tmp_path / "schedule")
    old = T0 - dt.timedelta(days=3)
    rows = [
        schedule_row("t1", should_optimize=1, last_optimized_on=old),
        schedule_row("t2", should_analyze=1),
    ]
    write_rows(sched, [tuple(r[f.name] for f in SCHEDULE_SCHEMA.fields)
                       for r in rows], SCHEDULE_SCHEMA)
    before = read_schedule(spark, sched).collect()
    code = textwrap.dedent(f"""
        import datetime as dt
        import os
        from trino_iceberg_maintenance_spark.sources.schedule import stamp
        os.replace = lambda *args: os._exit(1)
        stamp({sched!r}, "t1", "last_optimized_on", dt.datetime(2030, 1, 1))
    """)
    pkg_root = os.path.dirname(
        os.path.dirname(trino_iceberg_maintenance_spark.__file__))
    proc = subprocess.run(
        [sys.executable, "-c", code], timeout=120,
        env={**os.environ, "PYTHONPATH": pkg_root},
    )
    assert proc.returncode == 1
    assert any(n.startswith(".") and n.endswith(".tmp")
               for n in os.listdir(sched))
    assert data_file(sched) is not None
    assert read_schedule(spark, sched).collect() == before
    plain = {r.table_name: r for r in spark.read.parquet(sched).collect()}
    assert plain["t1"].last_optimized_on == old
    assert plain["t1"].should_optimize == 1
    assert plain["t2"].should_analyze == 1

    stamp(sched, "t1", "last_optimized_on", T0)
    got = {r.table_name: r for r in read_schedule(spark, sched).collect()}
    assert got["t1"].last_optimized_on == T0
    assert got["t2"].should_analyze == 1


def test_concurrent_watermark_stamps_and_reads(spark, tmp_path):
    """8 threads stamp distinct (table, column) pairs through one
    Orchestrator while another thread reads the schedule and the
    fleet report: no stamp is lost, and every read sees all rows."""
    import sys
    import threading

    from trino_iceberg_maintenance_spark.sources.schedule import data_file

    sched = str(tmp_path / "schedule")
    names = [f"t{i}" for i in range(8)]
    columns = ["last_analyzed_on", "last_optimized_on", "last_checked_on",
               "last_indexed_on"]
    rounds = 3
    write_schedule(spark, sched, [schedule_row(n) for n in names])
    local = threading.local()

    def resolve(name):
        raise KeyError(name)  # fleet_report tolerates unresolvable tables

    o = Orchestrator(spark, sched, table_resolver=resolve,
                     clock=lambda: getattr(local, "now", T0))
    stamping = threading.Event()
    stamping.set()
    errors: list[BaseException] = []
    reads = []

    def stamper(name):
        try:
            for r in range(rounds):
                local.now = T0 + dt.timedelta(days=r)
                for c in columns:
                    o._stamp_watermark(name, c)
        except BaseException as exc:  # surfaced by the main thread
            errors.append(exc)

    def reader():
        try:
            while stamping.is_set():
                assert data_file(sched) is not None
                rows = read_schedule(spark, sched).collect()
                assert sorted(r.table_name for r in rows) == names
                report = o.fleet_report().collect()
                assert sorted(r.table_name for r in report) == names
                reads.append(1)
        except BaseException as exc:
            errors.append(exc)

    prior_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=stamper, args=(n,)) for n in names]
        rd = threading.Thread(target=reader)
        rd.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        stamping.clear()
        rd.join(timeout=300)
    finally:
        sys.setswitchinterval(prior_interval)
    assert not any(t.is_alive() for t in threads + [rd])
    assert errors == []
    assert reads
    last = T0 + dt.timedelta(days=rounds - 1)
    for r in read_schedule(spark, sched).collect():
        for c in columns:
            assert r[c] == last, (r.table_name, c)


def test_create_schedule_refuses_corrupt_file(spark, tmp_path):
    """create_if_not_exists_schedule creates a schedule only where no
    data file exists: a corrupt file raises and is left untouched, so
    the fleet is not silently forgotten."""
    import pyarrow as pa

    from trino_iceberg_maintenance_spark.sources.schedule import (
        create_if_not_exists_schedule,
    )

    sched = tmp_path / "schedule"
    sched.mkdir()
    bad = sched / "part-00000.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        create_if_not_exists_schedule(spark, str(sched))
    assert bad.read_bytes() == b"not a parquet file"
    assert os.listdir(sched) == ["part-00000.parquet"]


def _recording_table_class(calls):
    """A ``ParquetMaintainedTable`` subclass recording the public
    methods the orchestrator calls on it; calls a lake method makes on
    its own table are not recorded."""
    import functools
    import threading

    depth = threading.local()

    def wrap(name):
        orig = getattr(ParquetMaintainedTable, name)

        @functools.wraps(orig)
        def method(self, *args, **kwargs):
            level = getattr(depth, "n", 0)
            if level == 0:
                calls.append(name)
            depth.n = level + 1
            try:
                return orig(self, *args, **kwargs)
            finally:
                depth.n = level
        return method

    public = [n for n, v in vars(ParquetMaintainedTable).items()
              if not n.startswith("_") and callable(v)
              and not isinstance(v, (classmethod, staticmethod))]
    return type("RecordingTable", (ParquetMaintainedTable,),
                {n: wrap(n) for n in public})


def _decayed_docs_table(spark, path, clock, cls=ParquetMaintainedTable):
    """Four appends over the same ``k`` range (clustering overlap 4),
    then one merge-on-read delete: a table with positional deletes
    pending and a decayed layout."""
    t = cls.create(spark, path)
    for i in range(4):
        t.append(spark.createDataFrame(
            [(2 * i, "spark table scan", 0), (2 * i + 1, "table of contents", 99)],
            "doc_id long, text string, k long"), clock=clock)
    t.delete_where(F.col("doc_id") == 1, clock=clock)
    return t


def test_stage_contract_order_and_one_stamp_per_watermark(env):
    """Every stage enabled and due on one table: the orchestrator calls
    the lake in the fixed stage order (orphans, expiry, delete-file
    budget, manifest rewrite, optimize, analyze, expectations, indexes,
    index lag) and stamps each watermark exactly once. Optimize is due,
    so the budget stage leaves the over-budget deletes to optimize,
    whose one rewrite is a purge with bin-pack."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    calls: list[str] = []
    t = _decayed_docs_table(spark, str(tmp_path / "all"), clock,
                            _recording_table_class(calls))
    tables["all"] = t
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "all_bm25"), partition_cols=["kind"])
    write_schedule(spark, sched, [schedule_row(
        "all", should_remove_orphan_files=1, retention_days_orphan_files=3,
        should_expire_snapshots=1, retention_days_snapshots=7,
        should_optimize=1, days_to_optimize=10,
        should_analyze=1, days_to_analyze=10,
        should_check_expectations=1, days_to_check=10,
        should_maintain_indexes=1, days_to_index=10,
    )])
    o = orch(max_delete_files=0, rewrite_manifests_max_entries=0,
             optimize_decay_column="k", optimize_decay_max_overlap=3.0,
             expectation_rules={"all": [("k_set", "k IS NOT NULL")]})
    o.register_index("all", "bm25", idx, kind="bm25")
    stamps: list[tuple[str, str]] = []
    stamp_watermark = o._stamp_watermark

    def record_stamp(table_name, column):
        stamps.append((table_name, column))
        stamp_watermark(table_name, column)

    o._stamp_watermark = record_stamp
    calls.clear()
    assert o.run() and not o.errors

    assert calls == [
        "remove_orphan_files",
        "expire_snapshots",
        "current_snapshot",
        "manifest_log_entries", "rewrite_manifests",
        "clustering_depth_report", "table_properties",
        "current_snapshot", "purge_deletes",
        "clustering_depth_report", "unset_table_properties",
        "backfill_file_stats", "read",
        "read",
        "current_snapshot", "read",
    ]
    assert sorted(stamps) == [
        ("all", "last_analyzed_on"), ("all", "last_checked_on"),
        ("all", "last_indexed_on"), ("all", "last_optimized_on"),
    ]
    row = read_schedule(spark, sched).collect()[0]
    for c in ("last_optimized_on", "last_analyzed_on", "last_checked_on",
              "last_indexed_on"):
        assert row[c] == clock()
    assert stats_log["all"]
    assert [r.table_name for r in o.clustering_audit().collect()] == ["all"]
    assert [r.seq for r in o.index_lag_audit().collect()] == [0]
    assert o.expectation_audit().count() == 1


def test_stage_contract_optional_stages_skip_without_config(env):
    """With the optional knobs unset (no delete-file budget, no
    manifest budget, no decay column, no rules, no indexes) only the
    reference's four stages touch the table, even when every flag is
    set."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    calls: list[str] = []
    t = _decayed_docs_table(spark, str(tmp_path / "plain"), clock,
                            _recording_table_class(calls))
    tables["plain"] = t
    write_schedule(spark, sched, [schedule_row(
        "plain", should_remove_orphan_files=1, should_expire_snapshots=1,
        retention_days_snapshots=7, should_optimize=1, should_analyze=1,
        should_check_expectations=1, should_maintain_indexes=1,
    )])
    o = orch()
    calls.clear()
    assert o.run() and not o.errors
    assert calls == ["remove_orphan_files", "expire_snapshots", "optimize",
                     "backfill_file_stats", "read"]
    row = read_schedule(spark, sched).collect()[0]
    assert row.last_optimized_on == clock()
    assert row.last_analyzed_on == clock()
    assert row.last_checked_on is None and row.last_indexed_on is None
    assert o.clustering_audit().count() == 0
    assert o.index_lag_audit().count() == 0


def test_stage_contract_misconfigured_rows(env):
    """A row with a watermark set and its days NULL: a decay-triggered
    optimize still runs and is stamped; a day-only optimize fails the
    task; expectations and indexes with nothing configured never reach
    the cadence check; the index-lag observation runs for a table with
    a registered index even when its flag is off."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    past = clock() - dt.timedelta(days=1)
    tables["decayed"] = _decayed_docs_table(
        spark, str(tmp_path / "decayed"), clock)
    tables["plain"] = make_table(spark, tmp_path, "plain", [[("a", "b")]], clock)
    tables["indexed"] = make_table(
        spark, tmp_path, "indexed", [[("a", "b")]], clock)
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "lag_bm25"), partition_cols=["kind"])
    write_schedule(spark, sched, [
        schedule_row("decayed", should_optimize=1, last_optimized_on=past),
        schedule_row("plain", should_check_expectations=1,
                     last_checked_on=past, should_maintain_indexes=1,
                     last_indexed_on=past),
        schedule_row("indexed", should_maintain_indexes=0,
                     last_indexed_on=past),
    ])
    o = orch(optimize_decay_column="k", optimize_decay_max_overlap=3.0)
    o.register_index("indexed", "bm25", idx, kind="bm25")
    assert sorted(p.table_name for p in o.run()) == [
        "decayed", "indexed", "plain"]
    assert not o.errors
    got = {r.table_name: r for r in read_schedule(spark, sched).collect()}
    assert got["decayed"].last_optimized_on == clock()
    assert tables["decayed"].file_count() == 1
    assert got["plain"].last_checked_on == past
    assert got["plain"].last_indexed_on == past
    assert got["indexed"].last_indexed_on == past
    assert [r.table_name for r in o.index_lag_audit().collect()] == ["indexed"]

    # the same decayed row without the decay gate is day-only: NULL
    # days with a set watermark fails the task, unstamped
    o2 = orch()
    clock.advance(days=1)
    assert sorted(p.table_name for p in o2.run()) == ["indexed", "plain"]
    assert [e.properties.table_name for e in o2.errors] == ["decayed"]
    assert isinstance(o2.errors[0], MaintenanceTaskException)
    assert isinstance(o2.errors[0].cause, ValueError)
    after = {r.table_name: r for r in read_schedule(spark, sched).collect()}
    assert after["decayed"].last_optimized_on == got["decayed"].last_optimized_on


def test_stage_table_matches_schedule_schema(env):
    """Every ``should_*`` column of the schedule is the flag of exactly
    one stage, every ``last_*_on`` column the watermark of exactly one
    stage paired with a ``days_*`` column, and every ``*_due`` column
    of fleet_report comes from a stage: a cadence column added to the
    schedule without a stage fails here."""
    from trino_iceberg_maintenance_spark.orchestrator import STAGES

    spark, tmp_path, clock, sched, tables, _, orch = env
    columns = SCHEDULE_SCHEMA.fieldNames()
    flags = [s.flag for s in STAGES if s.flag]
    assert sorted(flags) == sorted(c for c in columns if c.startswith("should_"))
    watermarks = [s.watermark for s in STAGES if s.watermark]
    assert sorted(watermarks) == sorted(
        c for c in columns if c.startswith("last_") and c.endswith("_on"))
    for s in STAGES:
        if s.watermark:
            assert s.flag and s.days in columns and s.days.startswith("days_")
        else:
            assert s.days is None
    assert len({s.days for s in STAGES if s.days}) == len(watermarks)
    assert len({s.name for s in STAGES}) == len(STAGES)

    write_schedule(spark, sched, [])
    report_due = [c for c in orch().fleet_report().columns
                  if c.endswith("_due")]
    assert report_due == [f"{s.name}_due" for s in STAGES if s.watermark]


def test_register_index_runs_no_spark_job(env):
    """Registering a durable index is a driver-side read and atomic
    replace of the registry: no Spark job runs, and Spark still reads
    the registry it leaves."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    write_schedule(spark, sched, [schedule_row("t1")])
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "reg_bm25"), partition_cols=["kind"])
    o = orch()
    sc = spark.sparkContext
    group = "index-registry-guard"
    sc.setJobGroup(group, "register index")
    try:
        o.register_index("t1", "bm25", idx, kind="bm25", retract_key="doc_id")
        o.register_index("t2", "bm25", idx, kind="bm25")
        o.register_index("t1", "bm25", idx, kind="bm25")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    got = sorted((r.source_table, r.index_name, r.index_path, r.kind,
                  r.n_cells, r.retract_key)
                 for r in spark.read.parquet(o.index_registry_path).collect())
    assert got == [("t1", "bm25", idx.path, "bm25", 16, None),
                   ("t2", "bm25", idx.path, "bm25", 16, None)]
    assert sorted(orch().index_maintainers) == ["t1", "t2"]


def test_time_travel_read(spark, tmp_path):
    """read_as_of returns historic contents by snapshot id and by
    timestamp; compaction does not disturb older snapshots."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "tt"))
    t.append(spark.createDataFrame([("a", "1")], "a string, b string"), clock=clock)
    ts_after_first = clock()
    clock.advance(days=1)
    t.append(spark.createDataFrame([("b", "2")], "a string, b string"), clock=clock)
    t.optimize(clock=clock)

    assert {r["a"] for r in t.read().collect()} == {"a", "b"}
    assert {r["a"] for r in t.read_as_of(snapshot_id=1).collect()} == {"a"}
    assert {r["a"] for r in t.read_as_of(as_of=ts_after_first).collect()} == {"a"}
    with pytest.raises(ValueError, match="exactly one"):
        t.read_as_of()


def test_truncate_commits_empty_snapshot_history_survives(spark, tmp_path):
    """TRUNCATE TABLE: one commit referencing no files — the current
    read is empty, appends restart from empty, and time travel to the
    pre-truncate snapshot still sees the old rows until expiry."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "trunc"))
    t.append(spark.createDataFrame([("a", "1")], "a string, b string"),
             clock=clock)
    snap = t.truncate(clock=clock)
    assert snap.files == [] and snap.operation == "overwrite"
    assert t.read().count() == 0 and t.current_files() == []
    assert {r["a"] for r in t.read_as_of(snapshot_id=1).collect()} == {"a"}
    t.append(spark.createDataFrame([("c", "3")], "a string, b string"),
             clock=clock)
    assert {r["a"] for r in t.read().collect()} == {"c"}


def test_incremental_analyze_rescans_only_changed_partitions(spark, tmp_path):
    """Appending to ONE partition must recompute only that partition's
    stats; the merged table-level null fractions must equal a full
    recompute."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.incremental import (
        incremental_partition_stats,
        table_null_fractions,
    )
    from trino_iceberg_maintenance_spark.plans.stats import null_fraction_stats
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "inc"), partition_cols=["p"]
    )
    rows = [(i, None if i % 3 == 0 else f"v{i}", i % 2) for i in range(20)]
    t.append(spark.createDataFrame(rows, "id long, val string, p int"))

    state1, computed1 = incremental_partition_stats(t, ["id", "val"])
    assert sorted(computed1) == ["p=0", "p=1"]

    # touch only partition p=1
    t.append(spark.createDataFrame([(100, None, 1)], "id long, val string, p int"))
    state2, computed2 = incremental_partition_stats(t, ["id", "val"], prior=state1)
    assert computed2 == ["p=1"], "unchanged partition must not rescan"

    got = table_null_fractions(spark, state2.collect(), ["id", "val"])
    want = null_fraction_stats(t.read(), ["id", "val"])
    as_map = lambda df: {
        r["column_name"]: (r["row_count"], r["null_count"], r["null_fraction"])
        for r in df.collect()
    }
    assert as_map(got) == as_map(want)


@pytest.mark.slowtier
def test_orchestrated_incremental_analyze(env):
    """Orchestrator ANALYZE on a partitioned table: the first run
    scans every partition, a re-run after touching ONE partition
    rescans only it, and the reported null fractions always match a
    full recompute."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env

    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "ptab"), partition_cols=["p"]
    )
    rows = [(f"k{i}", None if i % 4 == 0 else "x", i % 2) for i in range(16)]
    t.append(spark.createDataFrame(rows, "a string, b string, p int"), clock=clock)
    tables["ptab"] = t
    write_schedule(
        spark, sched,
        [schedule_row("ptab", should_analyze=1, days_to_analyze=10)],
    )

    o = orch()
    assert [p.table_name for p in o.run()] == ["ptab"]
    assert sorted(o.last_recomputed["ptab"]) == ["p=0", "p=1"]

    # touch only p=1, advance past the period, run again
    t.append(
        spark.createDataFrame([("new", None, 1)], "a string, b string, p int"),
        clock=clock,
    )
    clock.advance(days=11)
    o2 = orch()
    assert [p.table_name for p in o2.run()] == ["ptab"]
    assert o2.last_recomputed["ptab"] == ["p=1"]

    from trino_iceberg_maintenance_spark.plans.stats import null_fraction_stats

    # the unset-columns default includes the partition column, so the
    # stats surface matches the unpartitioned path (r1 ADVICE)
    want = {
        r["column_name"]: r["null_fraction"]
        for r in null_fraction_stats(t.read(), ["a", "b", "p"]).collect()
    }
    assert stats_log["ptab"][-1] == want
    assert want["p"] == 0.0


def test_time_travel_out_of_order_commits(spark, tmp_path):
    """read_as_of must pick the latest snapshot BY committed_at, not
    manifest position, when an injectable clock records commits out of
    time order; tz-aware as_of values are normalized, not a TypeError
    (r1 ADVICE)."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "ooo"))
    clock.advance(days=2)  # snapshot 1 committed LATER in time...
    t.append(spark.createDataFrame([("late", "1")], "a string, b string"), clock=clock)
    clock.advance(days=-1)  # ...snapshot 2 committed earlier
    t.append(spark.createDataFrame([("early", "2")], "a string, b string"), clock=clock)

    # at T0+2d both snapshots are eligible; latest-by-time is snapshot 1
    got = {r["a"] for r in t.read_as_of(as_of=T0 + dt.timedelta(days=2)).collect()}
    assert got == {"late"}

    aware = (T0 + dt.timedelta(days=2)).replace(tzinfo=dt.timezone.utc)
    assert {r["a"] for r in t.read_as_of(as_of=aware).collect()} == {"late"}


def test_merge_into_rewrites_only_hit_files(spark, tmp_path):
    """Copy-on-write MERGE: updates land, unmatched target rows
    survive, new keys insert — and files containing no matched key are
    carried into the new snapshot BY REFERENCE (same path), the
    file-granular rewrite a 100 TB upsert depends on."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "m"))
    t.append(spark.createDataFrame([("k1", "old1"), ("k2", "old2")],
                                   "a string, b string"), clock=clock)
    t.append(spark.createDataFrame([("k3", "old3")], "a string, b string"),
             clock=clock)
    before = set(t.current_files())

    src = spark.createDataFrame([("k1", "NEW1"), ("k9", "NEW9")],
                                "a string, b string")
    t.merge_into(src, on=["a"], clock=clock)

    got = {r["a"]: r["b"] for r in t.read().collect()}
    assert got == {"k1": "NEW1", "k2": "old2", "k3": "old3", "k9": "NEW9"}
    # the file holding only k3 had no matched key -> same physical file
    after = set(t.current_files())
    assert before & after, "untouched files must carry over by reference"

    t.merge_into(
        spark.createDataFrame([("k2",)], "a string"),
        on=["a"], when_matched="delete", insert_not_matched=False,
        clock=clock,
    )
    assert {r["a"] for r in t.read().collect()} == {"k1", "k3", "k9"}


def test_sorted_compaction_clusters_key_ranges(spark, tmp_path):
    """optimize(sort_by=...) must produce files owning DISJOINT key
    ranges (range-partitioned + sorted) so min/max file stats prune
    point lookups to one file."""
    import pyarrow.parquet as pq

    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "s"))
    # interleaved appends: every file spans nearly the whole key range
    for lo in range(4):
        rows = [(i, f"v{i}") for i in range(lo, 400, 4)]
        t.append(spark.createDataFrame(rows, "k long, v string"), clock=clock)

    t.optimize(target_file_size=1, sort_by=["k"], clock=clock)

    ranges = []
    for f in t.current_files():
        md = pq.read_metadata(f)
        mins = min(md.row_group(i).column(0).statistics.min
                   for i in range(md.num_row_groups))
        maxs = max(md.row_group(i).column(0).statistics.max
                   for i in range(md.num_row_groups))
        ranges.append((mins, maxs))
    ranges.sort()
    assert len(ranges) > 1, "expected multiple clustered files"
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file key ranges: {ranges}"
    # data intact
    assert t.read().count() == 400


def test_snapshot_diff_changelog(spark, tmp_path):
    """snapshot_diff: appends surface as inserts, merges as
    insert+delete pairs, and a pure compaction is an EMPTY changelog
    (rows only moved between files)."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "cdc"))
    s1 = t.append(spark.createDataFrame([("k1", "a")], "k string, v string"),
                  clock=clock)
    s2 = t.append(spark.createDataFrame([("k2", "b")], "k string, v string"),
                  clock=clock)

    d12 = t.snapshot_diff(s1.snapshot_id, s2.snapshot_id).collect()
    assert [(r["k"], r["_change_type"]) for r in d12] == [("k2", "insert")]

    s3 = t.optimize(clock=clock)
    assert t.snapshot_diff(s2.snapshot_id, s3.snapshot_id).count() == 0

    s4 = t.merge_into(
        spark.createDataFrame([("k1", "A2")], "k string, v string"),
        on=["k"], clock=clock,
    )
    d34 = {(r["k"], r["v"], r["_change_type"])
           for r in t.snapshot_diff(s3.snapshot_id, s4.snapshot_id).collect()}
    assert d34 == {("k1", "A2", "insert"), ("k1", "a", "delete")}
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.snapshot_diff(99, 100)


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution: appending a frame with a new column makes
    old rows read it as NULL (tracked schema, no footer merging), a
    type change is rejected, and compaction preserves the evolved
    schema."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "evo"))
    t.append(spark.createDataFrame([("a", "1")], "a string, b string"), clock=clock)
    t.append(
        spark.createDataFrame([("c", "2", 42)], "a string, b string, n long"),
        clock=clock,
    )

    got = {r["a"]: (r["b"], r["n"]) for r in t.read().collect()}
    assert got == {"a": ("1", None), "c": ("2", 42)}
    assert t.read().columns == ["a", "b", "n"]

    with pytest.raises(TypeError, match="cannot change column"):
        t.append(
            spark.createDataFrame([("x", 9, 1)], "a string, b long, n long"),
            clock=clock,
        )

    t.optimize(clock=clock)
    assert {r["a"]: (r["b"], r["n"]) for r in t.read().collect()} == got


def test_schema_evolution_partitioned(spark, tmp_path):
    """Evolution on a partitioned table: per-snap reads union with
    missing columns null-filled; partition column keeps working."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "evop"), partition_cols=["p"]
    )
    t.append(spark.createDataFrame([("a", 0)], "a string, p int"), clock=clock)
    t.append(
        spark.createDataFrame([("b", 1, 7.5)], "a string, p int, score double"),
        clock=clock,
    )
    rows = {r["a"]: (r["p"], r["score"]) for r in t.read().collect()}
    assert rows == {"a": (0, None), "b": (1, 7.5)}


def test_merge_into_partitioned_table(spark, tmp_path):
    """MERGE on a hive-partitioned table: rewritten files keep their
    partition layout and untouched partitions carry over by
    reference."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "mp"), partition_cols=["p"]
    )
    t.append(
        spark.createDataFrame(
            [("k1", "old", 0), ("k2", "old", 1)], "k string, v string, p int"
        ),
        clock=clock,
    )
    before = set(t.current_files())
    t.merge_into(
        spark.createDataFrame([("k1", "NEW", 0)], "k string, v string, p int"),
        on=["k"],
        clock=clock,
    )
    got = {r["k"]: (r["v"], r["p"]) for r in t.read().collect()}
    assert got == {"k1": ("NEW", 0), "k2": ("old", 1)}
    # the p=1 file had no matched key -> survives by reference
    assert any(f in before and "p=1" in f for f in t.current_files())


def test_orchestrated_sorted_compaction(env):
    """OPTIMIZE_SORT_COLUMNS wiring: an orchestrator configured with
    sort columns produces compacted files with disjoint key ranges."""
    import pyarrow.parquet as pq

    spark, tmp_path, clock, sched, tables, _, _orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "sorted_orch"))
    for lo in range(3):
        rows = [(i,) for i in range(lo, 300, 3)]
        t.append(spark.createDataFrame(rows, "k long"), clock=clock)
    tables["sorted_orch"] = t
    write_schedule(
        spark, sched,
        [schedule_row("sorted_orch", should_optimize=1, days_to_optimize=10)],
    )
    o = Orchestrator(
        spark, sched,
        table_resolver=lambda n: tables[n],
        clock=clock,
        optimize_sort_columns=["k"],
    )
    assert [p.table_name for p in o.run()] == ["sorted_orch"]

    ranges = sorted(
        (pq.read_metadata(f).row_group(0).column(0).statistics.min,
         pq.read_metadata(f).row_group(0).column(0).statistics.max)
        for f in t.current_files()
    )
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping ranges: {ranges}"
    assert t.read().count() == 300


def test_orchestrated_zorder_compaction(env):
    """OPTIMIZE_ZORDER_COLUMNS wiring: an orchestrator configured with
    z-order columns runs the Morton-clustered rewrite through the
    normal due-maintenance sweep (data intact, watermark stamped)."""
    spark, tmp_path, clock, sched, tables, _, _orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "z_orch"))
    rows = [(x, y) for x in range(20) for y in range(20)]
    t.append(spark.createDataFrame(rows, "x long, y long"), clock=clock)
    tables["z_orch"] = t
    before = t.content_hash()
    write_schedule(
        spark, sched,
        [schedule_row("z_orch", should_optimize=1, days_to_optimize=10)],
    )
    o = Orchestrator(
        spark, sched,
        table_resolver=lambda n: tables[n],
        clock=clock,
        optimize_zorder_columns=["x", "y"],
    )
    assert [p.table_name for p in o.run()] == ["z_orch"]
    assert t.content_hash() == before
    assert t.read().count() == 400


def test_zorder_compaction_clusters_both_dimensions(spark, tmp_path):
    """optimize(zorder_by=[x, y]) must give EVERY clustered dimension
    min/max locality: each output file's span on each dimension stays
    a fraction of the global range (a single-column sort gives this on
    one dimension only — the second would span ~the full range)."""
    import pyarrow.parquet as pq

    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "z"))
    # a 64×64 grid in row-major order: files sorted by x alone would
    # each span the full y range and vice versa
    rows = [(x, y, x * 64 + y) for x in range(64) for y in range(64)]
    t.append(spark.createDataFrame(rows, "x long, y long, payload long"),
             clock=clock)
    before = t.content_hash()

    # target ≈ 1/12 of the current bytes → ~12 output range partitions
    # (target_file_size=1 would ask for one range partition PER BYTE)
    import os

    total = sum(os.path.getsize(f) for f in t.current_files())
    t.optimize(target_file_size=max(1, total // 12), zorder_by=["x", "y"],
               clock=clock)

    files = t.current_files()
    assert len(files) > 4, "expected multiple clustered files"
    spans = {"x": [], "y": []}
    for f in files:
        md = pq.read_metadata(f)
        for col_idx, dim in ((0, "x"), (1, "y")):
            lo = min(md.row_group(i).column(col_idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx).statistics.max
                     for i in range(md.num_row_groups))
            spans[dim].append(hi - lo)
    # aggregate pruning contract: a 1-D sort gives the OTHER dimension
    # a full-range span (63) in every file; z-order keeps the MEAN span
    # of both dimensions around half the range (individual files may
    # straddle a major z-block boundary — ranges are sample-quantile,
    # not block-aligned, exactly like Iceberg's zorder rewrite)
    for dim, s in spans.items():
        assert sum(s) / len(s) <= 40, f"mean {dim} span {sum(s)/len(s)}: {s}"
    assert t.content_hash() == before
    assert t.read().count() == 64 * 64


def test_zorder_rejects_combined_strategies(spark, tmp_path):
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "zz"))
    t.append(spark.createDataFrame([(1, 2)], "a long, b long"), clock=FakeClock())
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.optimize(sort_by=["a"], zorder_by=["b"])


def test_incremental_ndv_sketches_merge_exactly(spark, tmp_path):
    """Mergeable NDV: the estimate from unioned per-partition HLL
    sketches must EQUAL sketching the full table directly (register
    max-merge is lossless), and carried-forward partitions must
    contribute without rescan."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.incremental import (
        incremental_partition_stats,
        table_ndv,
    )
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "ndv"), partition_cols=["p"]
    )
    rows = [(i, f"v{i % 7}", i % 2) for i in range(40)]
    t.append(spark.createDataFrame(rows, "id long, val string, p int"))

    state1, _ = incremental_partition_stats(t, ["id", "val"])

    # touch only p=1; p=0's sketch must carry forward
    t.append(spark.createDataFrame([(999, "new", 1)], "id long, val string, p int"))
    state2, computed = incremental_partition_stats(t, ["id", "val"], prior=state1)
    assert computed == ["p=1"]

    got = {
        r["column_name"]: r["distinct_count"]
        for r in table_ndv(state2, ["id", "val"]).collect()
    }
    full = t.read()
    want = {
        c: full.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(c).cast("string"))
            )
        ).first()[0]
        for c in ["id", "val"]
    }
    assert got == want, f"{got} != {want}"
    # sketch estimates at this cardinality are exact
    assert got["val"] == 8


def test_clustered_read_prunes_files(spark, tmp_path):
    """File skipping from footer stats: after a SORT rewrite a narrow
    range predicate reads a small fraction of files (disjoint key
    ranges); before it, interleaved appends force every file to be
    scanned. Pruning never changes results."""
    import os

    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "prune"))
    # interleaved appends: every file spans nearly the whole key range
    for lo in range(4):
        rows = [(i, f"v{i}") for i in range(lo, 400, 4)]
        t.append(spark.createDataFrame(rows, "k long, v string"), clock=clock)

    scanned = len(t.read_pruned("k", 10, 20).inputFiles())
    assert scanned == t.file_count() == 4, "interleaved layout can't prune"

    total_bytes = sum(os.path.getsize(f) for f in t.current_files())
    t.optimize(target_file_size=max(1, total_bytes // 8), sort_by=["k"],
               clock=clock)

    scanned = len(t.read_pruned("k", 10, 20).inputFiles())
    total = t.file_count()
    assert total >= 5 and scanned <= 2, (
        f"sorted layout must answer a narrow range from few files "
        f"({scanned}/{total})"
    )
    got = sorted(r["k"] for r in t.read_pruned("k", 10, 20).collect())
    assert got == list(range(10, 21)), "pruning must not change results"


def test_zorder_read_prunes_on_both_dimensions(spark, tmp_path):
    """The z-order payoff measured at the read path: after
    optimize(zorder_by=[x, y]) a narrow range on EITHER dimension
    skips a meaningful fraction of files (a 1-D sort only prunes its
    own column)."""
    import os

    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "zprune"))
    rows = [(x, y) for x in range(64) for y in range(64)]
    t.append(spark.createDataFrame(rows, "x long, y long"), clock=clock)
    total_bytes = sum(os.path.getsize(f) for f in t.current_files())
    t.optimize(target_file_size=max(1, total_bytes // 12),
               zorder_by=["x", "y"], clock=clock)

    for dim in ("x", "y"):
        scanned = len(t.read_pruned(dim, 0, 7).inputFiles())
        total = t.file_count()
        assert total > 4, "expected a multi-file layout"
        assert scanned <= total // 2, (
            f"z-order must prune {dim}: {scanned}/{total}"
        )
        got = t.read_pruned(dim, 0, 7).count()
        assert got == 8 * 64, "pruning must not change results"


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    """Iceberg-tag semantics: a tagged snapshot survives
    expire_snapshots (retention root), stays readable by name with its
    exact historical content, and expires normally once the tag is
    dropped."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "tags"))
    s1 = t.append(spark.createDataFrame([("a",)], "v string"), clock=clock)
    t.create_tag("v1", s1.snapshot_id)
    clock.advance(days=30)
    t.append(spark.createDataFrame([("b",)], "v string"), clock=clock)

    # expiry would drop s1 by age — the tag must pin it
    removed = t.expire_snapshots(older_than=clock(), retain_last=1, clock=clock)
    assert removed == []
    assert {r["v"] for r in t.read_tag("v1").collect()} == {"a"}
    assert {r["v"] for r in t.read().collect()} == {"a", "b"}

    t.drop_tag("v1")
    t.expire_snapshots(older_than=clock(), retain_last=1, clock=clock)
    # s1's file survives (the newer snapshot still references it) but
    # the SNAPSHOT itself must now be expired from the manifest
    assert [s.snapshot_id for s in t._load_manifest()] == [2]
    with pytest.raises(ValueError, match="no snapshot 1"):
        t.read_as_of(snapshot_id=1)
    with pytest.raises(ValueError, match="unknown tag"):
        t.read_tag("v1")
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.create_tag("vX", 999)


def test_content_hash_empty_table_is_zero(spark, tmp_path):
    """A freshly-created (or fully-emptied) table hashes to the 0
    sentinel rather than raising on the NULL sum."""
    from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "empty"))
    t.append(spark.createDataFrame([], "v string"), clock=FakeClock())
    assert t.content_hash() == 0


def test_rollback_restores_old_state_preserving_history(spark, tmp_path):
    """rollback(snapshot_id) commits a NEW snapshot with the old file
    set: reads return the old state, history keeps the bad snapshot,
    and nothing is deleted until expire/orphan GC."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "rb"))
    s1 = t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    assert t.read().count() == 2

    s3 = t.rollback(s1.snapshot_id)
    assert t.read().count() == 1
    assert [r["id"] for r in t.read().collect()] == [1]
    snaps = t._load_manifest()
    assert len(snaps) == 3 and snaps[-1].snapshot_id == s3.snapshot_id
    assert sorted(snaps[-1].files) == sorted(snaps[0].files)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.rollback(999)


def test_partitions_metadata_relation(spark, tmp_path):
    """$partitions: per hive-partition file/row/byte rollup from
    parquet footers only."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "pt"),
                                      partition_cols=["p"])
    t.append(spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")],
                                   "id long, p string"), single_file=False)
    t.append(spark.createDataFrame([(4, "a")], "id long, p string"),
             single_file=False)
    rows = {r["partition"]: r.asDict() for r in t.partitions_df().collect()}
    assert set(rows) == {"p=a", "p=b"}
    assert rows["p=a"]["row_count"] == 3 and rows["p=b"]["row_count"] == 1
    assert rows["p=a"]["file_count"] >= 2  # two appends touched p=a
    assert all(r["total_bytes"] > 0 for r in rows.values())


def test_add_files_registers_without_rewrite(spark, tmp_path):
    """Iceberg's add_files: existing parquet registers as one
    metadata-only commit — bytes on disk untouched, rows visible,
    duplicates and missing paths rejected."""
    import glob

    import pyarrow
    import pyarrow.parquet as pq
    import pytest

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "af"))
    t.append(spark.createDataFrame([("a", "b")], "a string, b string"))
    ext = tmp_path / "af" / "data" / "imported.parquet"
    pq.write_table(
        pyarrow.table({"a": ["c"], "b": ["d"]}), ext
    )
    mtime_before = os.path.getmtime(ext)
    snap = t.add_files([str(ext)])
    assert t.read().count() == 2
    assert os.path.getmtime(ext) == mtime_before  # no rewrite
    assert len(snap.files) == 2
    with pytest.raises(ValueError, match="already referenced"):
        t.add_files([str(ext)])
    with pytest.raises(ValueError, match="missing"):
        t.add_files([str(tmp_path / "nope.parquet")])
    # intra-list duplicates (including two spellings of one file)
    # must not commit the same file twice
    ext2 = tmp_path / "af" / "data" / "imported2.parquet"
    pq.write_table(pyarrow.table({"a": ["e"], "b": ["f"]}), ext2)
    rel = os.path.relpath(ext2)
    with pytest.raises(ValueError, match="duplicate inputs"):
        t.add_files([str(ext2), rel])
    assert t.read().count() == 2  # nothing committed by the failure


def test_entries_and_file_stats_relations(spark, tmp_path):
    """Iceberg's metadata tables as relations: ``$file_stats`` carries
    per-file row counts and the per-column stats map; ``$entries``
    tracks ADDED / EXISTING / DELETED per snapshot with data sequence
    numbers; ``$files``, ``$snapshots`` and ``$history`` agree with
    the log."""
    from collections import Counter

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "meta"))
    t.append(spark.createDataFrame([("a", "b")], "a string, b string"))
    t.append(spark.createDataFrame([("c", "d")], "a string, b string"))
    fs = t.file_stats_df().selectExpr(
        "file", "rows", "cols['a'].nulls AS a_nulls"
    ).collect()
    assert len(fs) == 2 and all(r.rows == 1 and r.a_nulls == 0 for r in fs)
    # $entries: snapshot 1 ADDED its file; snapshot 2 carries it as
    # EXISTING and ADDED its own
    ent = {(r.snapshot_id, r.status): r for r in t.entries_df().collect()}
    assert set(ent) == {(1, "ADDED"), (2, "ADDED"), (2, "EXISTING")}
    assert ent[(2, "EXISTING")].sequence == 1
    assert all(r.file_size_bytes > 0 for r in ent.values())
    assert t.files_df().count() == 2
    assert sorted(r.snapshot_id for r in t.snapshots_df().collect()) == [1, 2]
    hist = t.history_df().collect()
    assert len(hist) == 2 and all(r.is_current_ancestor for r in hist)
    # a rewrite snapshot carries DELETED tombstones for the files it
    # replaced (Iceberg keeps the entry with status DELETED)
    t.optimize()
    ent3 = [r for r in t.entries_df().collect() if r.snapshot_id == 3]
    assert Counter(r.status for r in ent3) == {"ADDED": 1, "DELETED": 2}
    assert t.read().count() == 2


def test_history_df_ancestor_flags(spark, tmp_path):
    """$history parity: one row per log snapshot with parent lineage;
    is_current_ancestor walks from the main head, so a staged branch
    snapshot reads false until fast_forward publishes it."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "hist"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    t.create_branch("staging")
    t.append(spark.createDataFrame([(3,)], "id long"), branch="staging")

    rows = {r.snapshot_id: r for r in t.history_df().collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].parent_id is None
    assert rows[2].parent_id == 1 and rows[3].parent_id == 2
    assert rows[1].is_current_ancestor and rows[2].is_current_ancestor
    assert rows[3].is_current_ancestor is False  # staged, unpublished
    assert rows[2].made_current_at >= rows[1].made_current_at

    t.fast_forward("staging")  # publish
    rows = {r.snapshot_id: r for r in t.history_df().collect()}
    assert all(r.is_current_ancestor for r in rows.values())


@pytest.mark.slowtier
def test_branch_commits_invisible_until_fast_forward(spark, tmp_path):
    """Iceberg branch semantics: appends to a branch advance only the
    branch ref — main readers see nothing until fast_forward publishes
    it; expire_snapshots retains branch heads; rollback-by-ref works
    because main is an explicit pointer."""
    import datetime as dt

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "br"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.create_branch("audit")
    t.append(spark.createDataFrame([(2,)], "id long"), branch="audit")
    t.append(spark.createDataFrame([(3,)], "id long"), branch="audit")

    # main untouched; branch sees all three rows
    assert t.read().count() == 1
    assert t.read_branch("audit").count() == 3
    assert t.read_branch("main").count() == 1

    # unexpired branch head survives an aggressive expiry
    removed = t.expire_snapshots(dt.datetime(2100, 1, 1), retain_last=1)
    assert t.read_branch("audit").count() == 3

    # publish: main jumps to the branch head atomically
    t.fast_forward("audit")
    assert t.read().count() == 3

    # and a normal append keeps advancing main afterwards
    t.append(spark.createDataFrame([(4,)], "id long"))
    assert t.read().count() == 4
    t.drop_branch("audit")
    assert "audit" not in t.branches()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.drop_branch("main")
    with _pytest.raises(ValueError):
        t.drop_branch("no_such_branch")

    # non-fast-forward publish refused: a stale branch may not move
    # main backward past published commits
    t.create_branch("stale")           # at current head (4 rows)
    t.append(spark.createDataFrame([(5,)], "id long"))  # main advances
    t.append(spark.createDataFrame([(9,)], "id long"), branch="stale")
    with _pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("stale")

    # appending to a nonexistent branch mutates nothing
    n_before = t.read().count()
    schema_before = [f.name for f in t.tracked_schema().fields]
    with _pytest.raises(ValueError, match="not found"):
        t.append(spark.createDataFrame([(6, "x")], "id long, extra2 string"),
                 branch="typo")
    assert t.read().count() == n_before
    assert [f.name for f in t.tracked_schema().fields] == schema_before


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg spec evolution: evolve unpartitioned -> by p (old files
    untouched, reads union both layouts), optimize() migrates the
    legacy partition to the current spec, and evolving back to
    unpartitioned still serves the dir-encoded column for old snaps."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "spec"))
    t.append(spark.createDataFrame([(1, "a")], "id long, p string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, p string"))
    t.evolve_partition_spec(["p"])
    t.append(spark.createDataFrame([(3, "a"), (4, "c")], "id long, p string"),
             single_file=False)

    got = {(r["id"], r["p"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "a"), (4, "c")}
    parts = {r["partition"] for r in t.partitions_df().collect()}
    assert "" in parts and "p=a" in parts  # mixed specs coexist

    # optimize migrates the legacy '' partition (2 files -> rewrite
    # under the current spec) — the data survives, the layout moves
    t.optimize()
    parts2 = {r["partition"] for r in t.partitions_df().collect()}
    got2 = {(r["id"], r["p"]) for r in t.read().collect()}
    assert got2 == got
    assert "" not in parts2, parts2

    # evolve back to unpartitioned: dir-encoded p still readable
    t.evolve_partition_spec(None)
    got3 = {(r["id"], r["p"]) for r in t.read().collect()}
    assert got3 == got

    # unknown column rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.evolve_partition_spec(["nope"])


def test_hidden_partitioning_transforms(spark, tmp_path):
    """Iceberg hidden partitioning: days()/bucket() transforms derive
    hive dir columns invisible to readers; predicates on the SOURCE
    column prune files through the transform; row-level results stay
    exact."""
    import datetime as dt

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "hidden"),
        partition_cols=["days(ts)", "bucket(4,uid)"],
    )
    rows = [
        (i, dt.datetime(2024, 1, 1 + (i % 3), 12, 0), i % 10)
        for i in range(60)
    ]
    t.append(spark.createDataFrame(rows, "id long, ts timestamp, uid long"),
             single_file=False)

    # hidden: derived dir columns never reach readers
    cols = t.read().columns
    assert "ts_days" not in cols and "uid_bucket" not in cols
    assert t.read().count() == 60

    # partitions carry both transform levels
    parts = {r["partition"] for r in t.partitions_df().collect()}
    assert any(p.startswith("ts_days=2024-01-01/uid_bucket=") for p in parts)

    # days() range pruning on the SOURCE column
    kept, total = t.prune_files_by_partition(
        "ts", lo=dt.datetime(2024, 1, 2), hi=dt.datetime(2024, 1, 2, 23))
    assert 0 < len(kept) < total
    # pruning is exact on the kept side: the kept files, filtered by
    # the predicate, hold every matching row
    got = t._read_files(kept).where(
        F.col("ts").between(dt.datetime(2024, 1, 2),
                            dt.datetime(2024, 1, 2, 23)))
    want = {r[0] for r in rows if r[1].day == 2}
    assert {r["id"] for r in got.collect()} == want

    # bucket() equality pruning: exact rows, strictly fewer files —
    # including eq=8, where hashing the literal as a 32-bit int lands
    # in a DIFFERENT bucket than the long-typed column (the literal
    # must be cast to the source type before hashing)
    for eq in (7, 8):
        kept_b, total_b = t.prune_files_by_partition("uid", eq=eq)
        assert 0 < len(kept_b) < total_b, eq
        got_b = t._read_files(kept_b).where(F.col("uid") == eq)
        assert {r["id"] for r in got_b.collect()} == {
            i for i in range(60) if i % 10 == eq
        }, eq


def test_partition_scoped_optimize_and_snapshot_summaries(spark, tmp_path):
    """OPTIMIZE ... WHERE: only the targeted partition is rewritten;
    $snapshots carries added/removed file summaries against the
    parent."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "ow"),
                                      partition_cols=["p"])
    for _ in range(3):
        t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                       "id long, p string"),
                 single_file=False)
    before = {r["partition"]: r["file_count"]
              for r in t.partitions_df().collect()}
    assert before["p=a"] == 3 and before["p=b"] == 3

    t.optimize(where_partition="p=a")
    after = {r["partition"]: r["file_count"]
             for r in t.partitions_df().collect()}
    assert after["p=a"] == 1          # compacted
    assert after["p=b"] == 3          # out of scope — untouched
    assert t.read().count() == 6

    snaps = {r["snapshot_id"]: r.asDict()
             for r in t.snapshots_df().collect()}
    last = snaps[max(snaps)]
    assert last["added_files"] == 1 and last["removed_files"] == 3
    assert last["parent_id"] == max(snaps) - 1
    first = snaps[min(snaps)]
    assert first["parent_id"] is None and first["removed_files"] == 0


def test_keyed_changes_between_snapshots(spark, tmp_path):
    """Keyed CDC (Iceberg create_changelog_view shape): insert /
    delete / update before+after images between snapshots; untouched
    files contribute nothing; a pure compaction yields an empty
    changelog."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "cdc"))
    s1 = t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    # update id=2, insert id=4; delete id=3
    t.merge_into(
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"),
        on=["id"],
    )
    s3 = t.merge_into(
        spark.createDataFrame([(3, "x")], "id long, v string"),
        on=["id"],
        when_matched="delete",
        insert_not_matched=False,
    )
    got = {
        (r["id"], r["v"], r["_change_type"])
        for r in t.changes(s1.snapshot_id, s3.snapshot_id, ["id"]).collect()
    }
    assert got == {
        (2, "b", "update_before"),
        (2, "B", "update_after"),
        (4, "d", "insert"),
        (3, "c", "delete"),
    }

    # compaction-only window: empty changelog
    s4 = t.optimize()
    assert t.changes(s3.snapshot_id, s4.snapshot_id, ["id"]).count() == 0


@pytest.mark.slowtier
def test_sweep_maintains_delete_file_budget(env):
    """The maintenance sweep treats merge-on-read delete files like
    the small-file tail: over-budget positional entries are first
    merged (rewrite_position_deletes — no data touched), and a backlog
    still over budget is materialized file-granularly. Under-budget
    tables are left alone."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(
        spark, tmp_path, "t1",
        [[(f"k{i}", f"v{i}") for i in range(12)]], clock,
    )
    tables["t1"] = t
    for i in range(5):  # five 1-row positional delete files
        t.delete_where(f"a = 'k{i}'", clock=clock)
    assert len(t.current_snapshot().delete_files) == 5
    data_before = set(t.current_files())

    write_schedule(spark, sched, [schedule_row("t1")])
    o = orch()
    o.max_delete_files = 3
    o.run()
    assert not o.errors
    after = t.current_snapshot().delete_files or []
    # five positional files merged into one; data files untouched
    assert len(after) == 1 and after[0]["content"] == "position"
    assert set(t.current_files()) == data_before
    assert {r["a"] for r in t.read().collect()} == {
        f"k{i}" for i in range(5, 12)
    }

    # equality backlog past the budget triggers materialization
    for i in range(5, 10):
        t.delete_by_key(
            spark.createDataFrame([(f"k{i}",)], "a string"), on=["a"],
            clock=clock,
        )
    o2 = orch()
    o2.max_delete_files = 3
    o2.run()
    assert not o2.errors
    assert not (t.current_snapshot().delete_files or [])
    assert {r["a"] for r in t.read().collect()} == {"k10", "k11"}


# -- incremental manifests (Iceberg's manifest-list analog) ---------------


@pytest.mark.slowtier
def test_commit_cost_flat_as_history_grows(env):
    """VERDICT-r4 #2: per-commit manifest bytes are O(|delta|), not
    O(snapshots × files). Each append writes ONE journal line; the
    40th commit's line is no bigger than the early ones even though
    the table now references 40 files."""
    spark, tmp_path, clock, *_ = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "hist"))
    written = []
    for i in range(40):
        before = (
            os.path.getsize(t.manifest_log_path)
            if os.path.exists(t.manifest_log_path)
            else 0
        )
        t.append(
            spark.createDataFrame([(str(i), "x")], "a string, b string"),
            clock=clock,
        )
        written.append(os.path.getsize(t.manifest_log_path) - before)
    assert t.file_count() == 40
    # flat: the last commits write no more journal bytes than the first
    # delta commits (2x slack for path-length jitter)
    assert max(written[35:]) <= 2 * max(written[1:6])
    # and the journal grew one line per commit
    assert t.manifest_log_entries() == 40


def test_rewrite_manifests_folds_journal_losslessly(env):
    spark, tmp_path, clock, *_ = env
    t = make_table(
        spark, tmp_path, "fold", [[("a", "b")], [("c", "d")], [("e", "f")]],
        clock,
    )
    t.optimize(clock=clock)  # a replace commit in the history too
    before = [
        (s.snapshot_id, s.parent_id, s.files, s.operation)
        for s in t._load_manifest()
    ]
    assert t.manifest_log_entries() == 4
    stats = t.rewrite_manifests()
    assert stats["entries_folded"] == 4
    assert t.manifest_log_entries() == 0
    after = [
        (s.snapshot_id, s.parent_id, s.files, s.operation)
        for s in t._load_manifest()
    ]
    assert after == before
    # idempotent: a second fold is a no-op
    assert t.rewrite_manifests()["entries_folded"] == 0
    # commits keep working after the fold
    t.append(spark.createDataFrame([("g", "h")], "a string, b string"),
             clock=clock)
    assert t.manifest_log_entries() == 1
    assert t.file_count() == 2


def test_legacy_full_manifest_format_still_reads(env):
    """Tables written by the pre-journal format (a plain JSON array of
    full snapshot dicts) load unchanged, and the next commit simply
    starts a journal beside the legacy base."""
    import json

    spark, tmp_path, clock, *_ = env
    t = make_table(
        spark, tmp_path, "leg", [[("a", "b")], [("c", "d")]], clock
    )
    snaps = t._load_manifest()
    legacy = []
    for s in snaps:
        d = dict(s.__dict__)
        for k in ("properties", "operation", "delete_files", "parent_id"):
            if d.get(k) is None:
                d.pop(k, None)
        legacy.append(d)
    with open(t.manifest_path, "w") as f:
        json.dump(legacy, f)
    os.remove(t.manifest_log_path)
    t2 = ParquetMaintainedTable(spark, t.path)
    assert [s.snapshot_id for s in t2._load_manifest()] == [1, 2]
    t2.append(spark.createDataFrame([("e", "f")], "a string, b string"),
              clock=clock)
    assert t2.file_count() == 3
    assert t2.manifest_log_entries() == 1


def test_torn_journal_tail_reads_as_uncommitted(env):
    spark, tmp_path, clock, *_ = env
    t = make_table(spark, tmp_path, "torn", [[("a", "b")], [("c", "d")]],
                   clock)
    with open(t.manifest_log_path, "a") as f:
        f.write('{"snapshot_id": 3, "committed_at": "2026-01-01 00:0')
    t2 = ParquetMaintainedTable(spark, t.path)
    assert [s.snapshot_id for s in t2._load_manifest()] == [1, 2]
    assert t2.file_count() == 2


def test_stale_journal_after_expire_crash_does_not_resurrect(env):
    """Crash window between os.replace(base) and os.remove(journal) in
    _write_manifest, AFTER snapshot-set surgery: the stale journal
    still holds the expired snapshots' lines, which are absent from
    the new base — snapshot-id dedup alone would replay them. The
    per-line generation stamp (< the rewritten base's generation) must
    keep them dead and the log chronological."""
    import datetime as dt

    spark, tmp_path, clock, *_ = env
    t = make_table(
        spark, tmp_path, "stale",
        [[("a", "b")], [("c", "d")], [("e", "f")]], clock,
    )
    with open(t.manifest_log_path) as f:
        stale_journal = f.read()
    dropped = [
        s.snapshot_id for s in t._load_manifest()
    ][:-2]
    t.expire_snapshots(dt.datetime(2100, 1, 1), retain_last=2)
    assert not os.path.exists(t.manifest_log_path)
    # simulate the crash: base was replaced but the journal removal
    # never landed — the pre-surgery journal reappears in full
    with open(t.manifest_log_path, "w") as f:
        f.write(stale_journal)
    t2 = ParquetMaintainedTable(spark, t.path)
    ids = [s.snapshot_id for s in t2._load_manifest()]
    assert ids == [2, 3], ids  # expired snapshot 1 must stay dead
    assert dropped == [1]
    # the observability surfaces see the same liveness the loader
    # does: stale lines don't count toward the rewrite trigger or
    # appear as live journal rows in $manifests
    assert t2.manifest_log_entries() == 0
    assert not [
        r for r in t2.manifests_df().collect() if r.stored_in == "journal"
    ]
    # and the next commit (journal append + reload) stays consistent
    t2.append(spark.createDataFrame([("g", "h")], "a string, b string"),
              clock=clock)
    assert [s.snapshot_id for s in t2._load_manifest()] == [2, 3, 4]


def test_non_dict_json_journal_line_stops_trust_not_crash(env):
    """A journal line that parses as valid non-object JSON ('123',
    'null') is real corruption: the loader must stop trusting the
    rest of the journal — gracefully, not with an AttributeError that
    takes every table read down."""
    spark, tmp_path, clock, *_ = env
    t = make_table(spark, tmp_path, "njl", [[("a", "b")], [("c", "d")]],
                   clock)
    with open(t.manifest_log_path, "a") as f:
        f.write("123\n")
    t2 = ParquetMaintainedTable(spark, t.path)
    assert [s.snapshot_id for s in t2._load_manifest()] == [1, 2]
    assert t2.read().count() == 2


def test_manifests_df_skips_torn_fragment_mid_journal(env):
    """$manifests must report the same journal rows the loader and the
    rewrite trigger see: a newline-terminated torn fragment mid-file
    (terminated by a later commit's lead-repair) is skipped, not a
    scan-stopper."""
    spark, tmp_path, clock, *_ = env
    t = make_table(spark, tmp_path, "mid", [[("a", "b")], [("c", "d")]],
                   clock)
    with open(t.manifest_log_path, "a") as f:
        f.write('{"snapshot_id": 99, "committed_at": "2026-01-01 00:0')
    t.append(spark.createDataFrame([("e", "f")], "a string, b string"),
             clock=clock)
    journal_rows = [
        r for r in t.manifests_df().collect() if r.stored_in == "journal"
    ]
    assert len(journal_rows) == t.manifest_log_entries() == 3
    assert [r.snapshot_id for r in journal_rows] == [1, 2, 3]


@pytest.mark.slowtier
def test_rewrite_manifests_through_orchestrator(env):
    """VERDICT-r4 #6: manifest rewrite as an orchestrated maintenance
    stage, gated by the measured journal length (self-regulating — a
    quiet table is never touched), frozen clock throughout."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "mfr", [[(str(i), "x")] for i in range(8)],
                   clock)
    tables["tbl_mfr"] = t
    write_schedule(spark, sched, [schedule_row("tbl_mfr")])
    o = orch()
    o.rewrite_manifests_max_entries = 5
    assert t.manifest_log_entries() == 8
    o.run()
    assert not o.errors
    assert t.manifest_log_entries() == 0
    # metadata-only: data files and content untouched
    assert t.file_count() == 8
    assert len(t._load_manifest()) == 8
    # under budget now → second sweep is a no-op (journal stays empty)
    o.run()
    assert not o.errors
    assert t.manifest_log_entries() == 0


def test_delete_sweep_is_opt_in(env):
    """ADVICE r4: purge_deletes rewrites data files, so the sweep must
    be off unless the deployment opts in (max_delete_files default
    None)."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "mor_opt",
                   [[("a", "b")], [("c", "d")]], clock)
    for v in ("a", "c"):
        t.delete_where(F.col("a") == v, mode="merge-on-read", clock=clock)
    n_entries = len(t.current_snapshot().delete_files or [])
    assert n_entries == 2
    tables["tbl_mor"] = t
    write_schedule(spark, sched, [schedule_row("tbl_mor")])
    o = orch()
    assert o.max_delete_files is None
    o.run()
    assert not o.errors
    # sweep did not run: pending delete entries untouched
    assert len(t.current_snapshot().delete_files or []) == n_entries


def test_manifests_metadata_relation(env):
    """$manifests: journal rows are delta-encoded appends; after a
    fold everything lives in the base and the journal is empty."""
    spark, tmp_path, clock, *_ = env
    t = make_table(
        spark, tmp_path, "mrel",
        [[("a", "b")], [("c", "d")], [("e", "f")]], clock,
    )
    rows = {r.snapshot_id: r for r in t.manifests_df().collect()}
    assert len(rows) == 3
    assert all(r.stored_in == "journal" for r in rows.values())
    assert rows[1].encoding == "full" and rows[1].n_files == 1
    assert rows[2].encoding == "delta" and rows[2].n_added == 1
    assert rows[2].delta_base == 1 and rows[2].n_removed == 0
    t.rewrite_manifests()
    rows = t.manifests_df().collect()
    assert len(rows) == 3
    assert all(r.stored_in == "base" for r in rows)


def test_remove_orphan_files_dry_run(env):
    """dry_run lists the doomed orphans without deleting (Iceberg's
    dry_run => true); a follow-up real run deletes exactly that list."""
    spark, tmp_path, clock, *_ = env
    t = make_table(spark, tmp_path, "dry", [[("a", "b")]], clock)
    orphan = os.path.join(t.data_dir, "stray.parquet")
    spark.createDataFrame([("x", "y")], "a string, b string").coalesce(
        1
    ).write.mode("overwrite").parquet(orphan + ".tmpdir")
    import glob as _g
    import shutil

    src = _g.glob(orphan + ".tmpdir/*.parquet")[0]
    shutil.move(src, orphan)
    shutil.rmtree(orphan + ".tmpdir")
    old = dt.datetime(2000, 1, 1)
    os.utime(orphan, (old.timestamp(), old.timestamp()))
    cutoff = dt.datetime(2020, 1, 1)
    listed = t.remove_orphan_files(older_than=cutoff, dry_run=True)
    assert listed == [orphan]
    assert os.path.exists(orphan)  # nothing deleted
    assert t.remove_orphan_files(older_than=cutoff) == [orphan]
    assert not os.path.exists(orphan)


def test_clustering_depth_report_tracks_sort_rewrite(env):
    """Interleaved appends fully overlap (depth = n_files); a sorted
    compaction drives the per-file interval overlap to ~1 — the
    metric that justifies sort/z-order maintenance."""
    spark, tmp_path, clock, *_ = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "depth"))
    # 4 appends, each spanning the FULL key domain (interleaved)
    for i in range(4):
        t.append(
            spark.createDataFrame(
                [(j * 10 + i, f"v{i}-{j}") for j in range(10)],
                "k long, v string",
            ),
            clock=clock,
        )
    before = t.clustering_depth_report("k")
    assert before["with_stats"] == 4
    assert before["max_overlap"] == 4  # fully interleaved
    t.optimize(clock=clock, sort_by=["k"], target_file_size=1200)
    after = t.clustering_depth_report("k")
    assert after["with_stats"] >= 2
    assert after["max_overlap"] <= 2  # disjoint-ish key ranges
    assert after["avg_overlap"] < before["avg_overlap"]


def test_append_after_torn_journal_tail_repairs(env):
    """A commit landing after a torn journal fragment must newline-
    terminate the fragment first — otherwise the new entry concatenates
    onto it and that commit (and all later ones) become unreadable."""
    spark, tmp_path, clock, *_ = env
    t = make_table(spark, tmp_path, "torn2", [[("a", "b")], [("c", "d")]],
                   clock)
    with open(t.manifest_log_path, "a") as f:
        f.write('{"snapshot_id": 3, "committed_at": "2026-01-01 00:0')
    # journal metrics ignore the fragment
    assert t.manifest_log_entries() == 2
    t.append(spark.createDataFrame([("e", "f")], "a string, b string"),
             clock=clock)
    snaps = t._load_manifest()
    # fragment skipped; the real commits (1, 2, new 3) all readable
    assert [s.snapshot_id for s in snaps] == [1, 2, 3]
    assert t.file_count() == 3
    assert t.manifest_log_entries() == 3
    # fold is lossless and clears the fragment too
    t.rewrite_manifests()
    assert [s.snapshot_id for s in t._load_manifest()] == [1, 2, 3]


def test_table_properties_roundtrip(env):
    """SET/UNSET TBLPROPERTIES parity: metadata-only, idempotent,
    string-normalized, and untouched by commits."""
    spark, tmp_path, clock, *_ = env
    t = make_table(spark, tmp_path, "props", [[("a", "b")]], clock)
    assert t.table_properties() == {}
    t.set_table_properties({"write.target-file-size-bytes": 134217728,
                            "owner": "curation"})
    assert t.table_properties() == {
        "write.target-file-size-bytes": "134217728",
        "owner": "curation",
    }
    t.append(spark.createDataFrame([("c", "d")], "a string, b string"),
             clock=clock)
    assert t.table_properties()["owner"] == "curation"
    t.unset_table_properties(["owner", "never-set"])
    assert t.table_properties() == {
        "write.target-file-size-bytes": "134217728"
    }


@pytest.mark.slowtier
def test_manifest_journal_random_crash_model(env):
    """Model-based crash test for the journal layer: a random (seeded)
    interleaving of appends, folds, and injected torn fragments must
    always load exactly the committed snapshots, with file counts
    matching a driver-side model."""
    import random

    spark, tmp_path, clock, *_ = env
    rng = random.Random(42)
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "model"))
    committed = 0
    for step in range(18):
        op = rng.choice(["append", "append", "torn", "fold"])
        if op == "append":
            t.append(
                spark.createDataFrame(
                    [(f"s{step}", "x")], "a string, b string"
                ),
                clock=clock,
            )
            committed += 1
        elif op == "torn":
            # crash mid-append: partial JSON, sometimes mid-field
            frag = '{"snapshot_id": 999, "committed_at": "20'[
                : rng.randint(5, 40)
            ]
            with open(t.manifest_log_path, "a") as f:
                f.write(frag)
        else:
            t.rewrite_manifests()
        snaps = t._load_manifest()
        assert len(snaps) == committed, (step, op)
        assert [s.snapshot_id for s in snaps] == list(
            range(1, committed + 1)
        )
        if committed:
            assert t.file_count() == committed


def test_fleet_report(env):
    """One metadata-sized row per managed table with due flags under
    the frozen clock; a run() flips the due state off."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "fr", [[("a", "b")], [("c", "d")]],
                   clock)
    tables["tbl_fr"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_fr", should_optimize=1, days_to_optimize=10,
                     should_analyze=0),
    ])
    o = orch()
    rep = {r.table_name: r for r in o.fleet_report().collect()}
    row = rep["tbl_fr"]
    assert row.n_snapshots == 2 and row.n_files == 2
    assert row.total_bytes > 0
    assert row.manifest_journal_entries == 2
    assert row.optimize_due is True and row.analyze_due is False
    o.run()
    assert not o.errors
    row2 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_fr"]
    assert row2.n_files == 1  # compacted
    assert row2.optimize_due is False  # watermark stamped


@pytest.mark.slowtier
def test_expectations_stage_flag_cadence_watermark(env):
    """Optional 5th stage: per-table expectation rules run through
    Orchestrator.run under the same flag + cadence + watermark shape
    as the reference's four stages — truthy flag gates, due-date
    predicate under the frozen clock, last_checked_on stamped after a
    run, violations surfaced in fleet_report."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(
        spark, tmp_path, "ex", [[("a", "b")], [(None, "toolong")]], clock
    )
    tables["tbl_ex"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_ex", should_check_expectations=1,
                     days_to_check=10),
    ])
    rules = [("a_not_null", "a IS NOT NULL"),
             ("b_short", "length(b) <= 2")]
    o = orch(expectation_rules={"tbl_ex": rules})

    # never checked: due, no violation count yet
    rep0 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_ex"]
    assert rep0.expectations_due is True
    assert rep0.expectation_violations is None

    assert o.run() and not o.errors
    got = {r.rule: r.n_violations for r in o.last_expectations["tbl_ex"]}
    assert got == {"a_not_null": 1, "b_short": 1}
    stamped = {
        r.table_name: r.last_checked_on
        for r in read_schedule(spark, sched).collect()
    }["tbl_ex"]
    assert stamped == clock()  # watermark written under the frozen clock
    rep1 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_ex"]
    assert rep1.expectations_due is False
    assert rep1.expectation_violations == 2

    # within the period: stage does not re-run
    clock.advance(days=1)
    o.last_expectations["tbl_ex"] = "sentinel"
    o.run()
    assert o.last_expectations["tbl_ex"] == "sentinel"

    # past the period: runs again
    clock.advance(days=10)
    o.run()
    got2 = {r.rule: r.n_violations for r in o.last_expectations["tbl_ex"]}
    assert got2 == {"a_not_null": 1, "b_short": 1}


def test_expectations_stage_skips_without_flag_or_rules(env):
    """NULL/0 flag skips even with rules configured; a truthy flag
    with no rule set for the table is a no-op (nothing to check) and
    must NOT stamp the watermark."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    tables["tbl_a"] = make_table(spark, tmp_path, "exa",
                                 [[("a", "b")]], clock)
    tables["tbl_b"] = make_table(spark, tmp_path, "exb",
                                 [[("a", "b")]], clock)
    write_schedule(spark, sched, [
        schedule_row("tbl_a", should_check_expectations=0,
                     days_to_check=10),
        schedule_row("tbl_b", should_check_expectations=1,
                     days_to_check=10),
    ])
    o = orch(expectation_rules={"tbl_a": [("x", "a IS NOT NULL")]})
    assert o.run() and not o.errors
    assert o.last_expectations == {}
    stamped = {
        r.table_name: r.last_checked_on
        for r in read_schedule(spark, sched).collect()
    }
    assert stamped == {"tbl_a": None, "tbl_b": None}


@pytest.mark.slowtier
def test_fleet_report_index_lag_trend_over_sweeps(env):
    """VERDICT r11 #8: each sweep records the post-stage-6 index lag
    durably; fleet_report.index_lag_delta = latest − previous sweep,
    so a staleness REGRESSION (index falling behind between sweeps)
    is visible from the dashboard alone. NULL until two sweeps
    observed the table; a catch-up sweep shows a negative delta; the
    history survives a fresh orchestrator."""
    from trino_iceberg_maintenance_spark.operators.text import (
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "trend_src"))
    src.append(spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"), clock=clock)
    tables["tbl_trend"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "trend_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_trend", should_maintain_indexes=1,
                     days_to_index=10),
    ])
    maint = {"tbl_trend": [(
        "bm25", idx,
        lambda it, df, props: extend_bm25_index(it, df, properties=props),
    )]}

    # sweep 1: bootstrap extend -> recorded lag 0; no trend yet
    o = orch(index_maintainers=maint)
    assert o.run() and not o.errors
    rep = {r.table_name: r for r in o.fleet_report().collect()}["tbl_trend"]
    assert rep.index_lag == 0 and rep.index_lag_delta is None

    # two appends inside the period, sweep 2 does not extend ->
    # recorded lag 2, delta +2 (the regression signal)
    for i in (2, 3):
        src.append(spark.createDataFrame(
            [(i, "gamma delta")], "doc_id long, text string"),
            clock=clock)
    clock.advance(days=1)
    o2 = orch(index_maintainers=maint)
    assert o2.run() and not o2.errors
    rep2 = {r.table_name: r
            for r in o2.fleet_report().collect()}["tbl_trend"]
    assert rep2.index_lag == 2 and rep2.index_lag_delta == 2

    # past the period, sweep 3 catches up -> recorded lag 0, delta −2
    clock.advance(days=10)
    o3 = orch(index_maintainers=maint)
    assert o3.run() and not o3.errors
    rep3 = {r.table_name: r
            for r in o3.fleet_report().collect()}["tbl_trend"]
    assert rep3.index_lag == 0 and rep3.index_lag_delta == -2
    # the durable history holds one row per sweep, in order
    hist = o3.index_lag_audit().orderBy("seq").collect()
    assert [(r.seq, r.index_lag) for r in hist] == [
        (0, 0), (1, 2), (2, 0),
    ]


@pytest.mark.slowtier
def test_index_maintenance_stage_flag_cadence_watermark(env):
    """Optional 6th stage: registered persisted indexes are brought
    current through the source table's HEAD snapshot under the same
    flag + cadence + watermark shape as the reference's four stages —
    bootstrap indexes the full table, later runs extend with ONLY the
    rows appended since the covers_snapshot cursor (snapshot_diff),
    last_indexed_on stamps after a run, and fleet_report surfaces the
    covered-vs-current snapshot lag."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "docs_src"))
    src.append(spark.createDataFrame(
        [(1, "spark table scan"), (2, "table of contents")],
        "doc_id long, text string",
    ), clock=clock)
    src.append(spark.createDataFrame(
        [(3, "scan the spark table")], "doc_id long, text string",
    ), clock=clock)
    tables["tbl_docs"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "docs_bm25"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_docs", should_maintain_indexes=1,
                     days_to_index=10),
    ])
    o = orch(index_maintainers={"tbl_docs": [(
        "bm25", idx,
        lambda it, df, props: extend_bm25_index(it, df, properties=props),
    )]})

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    # never covered: due, lag = the source's full history (2 commits)
    rep0 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_docs"]
    assert rep0.indexes_due is True and rep0.index_lag == 2

    assert o.run() and not o.errors
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))
    stamped = {
        r.table_name: r.last_indexed_on
        for r in read_schedule(spark, sched).collect()
    }["tbl_docs"]
    assert stamped == clock()
    rep1 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_docs"]
    assert rep1.indexes_due is False and rep1.index_lag == 0
    n_idx_snaps = len(idx._load_manifest())
    assert idx._load_manifest()[-1].properties["covers_snapshot"] == 2

    # new source rows: lag surfaces immediately, but within the period
    # the stage does not re-run (cadence contract)
    src.append(spark.createDataFrame(
        [(4, "a fresh spark document")], "doc_id long, text string",
    ), clock=clock)
    clock.advance(days=1)
    o.run()
    rep2 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_docs"]
    assert rep2.index_lag == 1 and rep2.indexes_due is False
    assert len(idx._load_manifest()) == n_idx_snaps

    # past the period: ONE extend commit brings the index current and
    # scoring matches the full corpus (duplicate-docstat tripwire in
    # bm25_from_index proves the extend was change-sized — a full
    # re-index would have doubled docs 1-3 and raised)
    clock.advance(days=10)
    assert o.run() and not o.errors
    assert len(idx._load_manifest()) == n_idx_snaps + 1
    assert idx._load_manifest()[-1].properties["covers_snapshot"] == 3
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))
    rep3 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_docs"]
    assert rep3.index_lag == 0

    # already current past another period: zero-work skip, no commit,
    # but the watermark still stamps (the stage ran)
    clock.advance(days=11)
    o.run()
    assert len(idx._load_manifest()) == n_idx_snaps + 1


def test_index_maintenance_stage_skips_without_flag_or_registration(env):
    """NULL/0 flag skips even with maintainers registered; a truthy
    flag with no registered indexes is a no-op and must NOT stamp the
    watermark."""
    from trino_iceberg_maintenance_spark.operators.text import (
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    for nm in ("ia", "ib"):
        t = ParquetMaintainedTable.create(spark, str(tmp_path / nm))
        t.append(spark.createDataFrame(
            [(1, "hello world")], "doc_id long, text string",
        ), clock=clock)
        tables[f"tbl_{nm}"] = t
    idx = ParquetMaintainedTable.create(spark, str(tmp_path / "ia_idx"))
    write_schedule(spark, sched, [
        schedule_row("tbl_ia", should_maintain_indexes=0,
                     days_to_index=10),
        schedule_row("tbl_ib", should_maintain_indexes=1,
                     days_to_index=10),
    ])
    o = orch(index_maintainers={"tbl_ia": [(
        "bm25", idx,
        lambda it, df, props: extend_bm25_index(it, df, properties=props),
    )]})
    assert o.run() and not o.errors
    assert idx.current_snapshot() is None  # flag=0: nothing committed
    stamped = {
        r.table_name: r.last_indexed_on
        for r in read_schedule(spark, sched).collect()
    }
    assert stamped == {"tbl_ia": None, "tbl_ib": None}


def test_fleet_report_stats_no_data_files(env, monkeypatch):
    """total_bytes comes from the commit-time size map, never from
    per-data-file filesystem stats — on object storage a stat is a
    round trip, and a large fleet would pay O(files) of them per
    dashboard refresh. Report values must match the real on-disk
    sizes."""
    import os

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = make_table(spark, tmp_path, "frs",
                   [[("a", "b")], [("c", "d")], [("e", "f")]], clock)
    tables["tbl_frs"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_frs", should_optimize=0, should_analyze=0),
    ])
    expected = sum(os.path.getsize(f) for f in t.current_files())
    assert expected > 0

    real_getsize = os.path.getsize
    data_stats = []

    def counting_getsize(path):
        if f"{os.sep}data{os.sep}" in str(path):
            data_stats.append(path)
        return real_getsize(path)

    monkeypatch.setattr(os.path, "getsize", counting_getsize)
    rep = {r.table_name: r for r in orch().fleet_report().collect()}
    assert rep["tbl_frs"].total_bytes == expected
    assert data_stats == [], data_stats


def test_tag_max_ref_age_expires_the_ref_then_the_snapshot(spark, tmp_path):
    """Iceberg max-ref-age semantics: an aged-out tag is removed at
    the START of expire_snapshots, so the snapshot it pinned expires
    in the same run; an unaged retention tag and a legacy
    no-retention tag keep pinning theirs."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "refage"))
    s1 = t.append(spark.createDataFrame([("a",)], "v string"), clock=clock)
    s2 = t.append(spark.createDataFrame([("b",)], "v string"), clock=clock)
    s3 = t.append(spark.createDataFrame([("c",)], "v string"), clock=clock)
    t.append(spark.createDataFrame([("d",)], "v string"), clock=clock)

    t.create_tag("weekly", s1.snapshot_id, max_ref_age_days=7, clock=clock)
    t.create_tag("sixmonth", s2.snapshot_id, max_ref_age_days=180,
                 clock=clock)
    t.create_tag("forever", s3.snapshot_id)  # legacy encoding, no age

    clock.advance(days=30)
    t.expire_snapshots(older_than=clock(), retain_last=1, clock=clock)

    # weekly aged out → its ref is gone and s1 expired with it
    assert set(t.tags()) == {"sixmonth", "forever"}
    assert {s.snapshot_id for s in t._load_manifest()} == {
        s2.snapshot_id, s3.snapshot_id, 4,
    }
    # unaged tags still read their exact pinned content
    assert {r.v for r in t.read_tag("sixmonth").collect()} == {"a", "b"}
    assert {r.v for r in t.read_tag("forever").collect()} == {"a", "b", "c"}


def test_entries_df_no_phantom_tombstones_after_contraction(spark, tmp_path):
    """$entries parent resolution: a contraction-nulled parent reads
    as NO parent — never the log-order neighbor (which can be an
    unrelated branch snapshot whose files would fabricate DELETED
    tombstones)."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "entc"))
    t.append(spark.createDataFrame([(1,)], "id long"), clock=clock)
    t.create_branch("b")
    t.append(spark.createDataFrame([(2,)], "id long"), branch="b",
             clock=clock)
    s3 = t.append(spark.createDataFrame([(3,)], "id long"), clock=clock)
    clock.advance(days=30)
    t.expire_snapshots(older_than=clock(), retain_last=1, clock=clock)
    assert t._load_manifest()[0].snapshot_id != 1  # s1 expired

    ent3 = [r for r in t.entries_df().collect()
            if r.snapshot_id == s3.snapshot_id]
    assert all(r.status != "DELETED" for r in ent3), ent3
    # snapshots_df shares the resolution: no fabricated removals
    row3 = [r for r in t.snapshots_df().collect()
            if r.snapshot_id == s3.snapshot_id][0]
    assert row3.removed_files == 0


def test_entries_df_mixed_legacy_manifest_keeps_log_order(env):
    """Per-snapshot legacy detection: one modern commit on an upgraded
    legacy table must NOT disable log-order parent resolution for the
    legacy prefix — legacy entry 2 still diffs against entry 1."""
    import json

    spark, tmp_path, clock, *_ = env
    t = make_table(
        spark, tmp_path, "mixleg", [[("a", "b")], [("c", "d")]], clock
    )
    legacy = []
    for s in t._load_manifest():
        d = dict(s.__dict__)
        for k in ("properties", "operation", "delete_files", "parent_id"):
            if d.get(k) is None:
                d.pop(k, None)
        d.pop("operation", None)
        d.pop("parent_id", None)
        legacy.append(d)
    with open(t.manifest_path, "w") as f:
        json.dump(legacy, f)
    os.remove(t.manifest_log_path)
    t2 = ParquetMaintainedTable(spark, t.path)
    t2.append(spark.createDataFrame([("e", "f")], "a string, b string"),
              clock=clock)  # one MODERN commit
    ent = {(r.snapshot_id, r.status) for r in t2.entries_df().collect()}
    # legacy entry 2 diffs against entry 1: one EXISTING + one ADDED
    assert (2, "EXISTING") in ent and (2, "ADDED") in ent
    rows = {r.snapshot_id: r for r in t2.snapshots_df().collect()}
    assert rows[2].added_files == 1 and rows[2].removed_files == 0


@pytest.mark.slowtier
def test_index_stage_fails_loud_when_cursor_snapshot_expired(env):
    """If snapshot expiry drops the source snapshot behind the index's
    covers_snapshot cursor, the incremental diff is unrecoverable —
    stage 6 must fail with the actionable message, NOT a bare
    'unknown snapshot id' (and NEVER a silent full re-index, which
    would duplicate index rows)."""
    from trino_iceberg_maintenance_spark.operators.text import (
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "exp_src"))
    src.append(spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"), clock=clock)
    src.append(spark.createDataFrame(
        [(2, "beta gamma")], "doc_id long, text string"), clock=clock)
    tables["tbl_exp"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "exp_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_exp", should_maintain_indexes=1,
                     days_to_index=1),
    ])
    o = orch(index_maintainers={"tbl_exp": [(
        "bm25", idx,
        lambda it, df, props: extend_bm25_index(it, df, properties=props),
    )]})
    assert o.run() and not o.errors  # covers snapshot 2

    clock.advance(days=2)
    src.append(spark.createDataFrame(
        [(3, "gamma delta")], "doc_id long, text string"), clock=clock)
    # expire everything but the head — snapshot 2 (the cursor) drops
    src.expire_snapshots(older_than=clock() + dt.timedelta(days=1))
    live = {s.snapshot_id for s in src._load_manifest()}
    assert 2 not in live

    o.run()
    assert len(o.errors) == 1
    assert "unrecoverable" in str(o.errors[0].cause)
    assert "retention_days_snapshots" in str(o.errors[0].cause)
    assert "rebuild_index" in str(o.errors[0].cause)

    # VERDICT r8 #5: the dashboard flags the expired cursor BEFORE
    # anyone reads a stack trace...
    rep = {r.table_name: r for r in o.fleet_report().collect()}["tbl_exp"]
    assert rep.index_cursor_at_risk is True

    # ...and rebuild_index is the remediation: truncate + full
    # re-extend + fresh cursor. Index content equals a from-scratch
    # build over the current corpus, lag reads 0, flag clears, and
    # the next due run is clean (extends incrementally again).
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
    )

    o.rebuild_index("tbl_exp", "bm25")

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))
    rep2 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_exp"]
    assert rep2.index_lag == 0
    assert rep2.index_cursor_at_risk is False
    clock.advance(days=2)
    src.append(spark.createDataFrame(
        [(4, "delta epsilon")], "doc_id long, text string"), clock=clock)
    assert o.run() and not o.errors
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))


def test_fleet_report_flags_cadence_vs_retention_misconfig(env):
    """VERDICT r8 #5: days_to_index > retention_days_snapshots makes
    the stage-6 cursor expirable — fleet_report must flag the
    misconfiguration up front, even while every cursor is still
    live; a sane configuration reads False, and a table without
    registered indexes reads NULL."""
    from trino_iceberg_maintenance_spark.operators.text import (
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    regs = {}
    for nm in ("mc", "ok", "noidx"):
        t = ParquetMaintainedTable.create(spark, str(tmp_path / f"cfg_{nm}"))
        t.append(spark.createDataFrame(
            [(1, "alpha beta")], "doc_id long, text string"), clock=clock)
        tables[f"tbl_{nm}"] = t
        if nm != "noidx":
            idx = ParquetMaintainedTable.create(
                spark, str(tmp_path / f"cfg_{nm}_idx"),
                partition_cols=["kind"],
            )
            regs[f"tbl_{nm}"] = [(
                "bm25", idx,
                lambda it, df, props: extend_bm25_index(
                    it, df, properties=props
                ),
            )]
    write_schedule(spark, sched, [
        # cadence slower than retention: cursor can expire mid-period
        schedule_row("tbl_mc", should_maintain_indexes=1, days_to_index=30,
                     should_expire_snapshots=1, retention_days_snapshots=7),
        # sane: retention outlives the cadence
        schedule_row("tbl_ok", should_maintain_indexes=1, days_to_index=7,
                     should_expire_snapshots=1,
                     retention_days_snapshots=30),
        schedule_row("tbl_noidx", should_maintain_indexes=1,
                     days_to_index=7),
    ])
    o = orch(index_maintainers=regs)
    rep = {r.table_name: r for r in o.fleet_report().collect()}
    assert rep["tbl_mc"].index_cursor_at_risk is True
    assert rep["tbl_ok"].index_cursor_at_risk is False
    assert rep["tbl_noidx"].index_cursor_at_risk is None


@pytest.mark.slowtier
def test_index_cursor_survives_index_side_maintenance(env):
    """Index-side maintenance (optimize commits without the marker,
    expiry drops the marker-bearing snapshots) must not erase the
    covers_snapshot cursor: the TBLPROPERTIES twin keeps it, so the
    next run extends incrementally instead of re-indexing the full
    source (which the duplicate-docstat tripwire would catch)."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.orchestrator import (
        _covered_snapshot_id,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "surv_src"))
    src.append(spark.createDataFrame(
        [(1, "spark table scan"), (2, "table of contents")],
        "doc_id long, text string"), clock=clock)
    tables["tbl_surv"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "surv_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_surv", should_maintain_indexes=1,
                     days_to_index=1),
    ])
    o = orch(index_maintainers={"tbl_surv": [(
        "bm25", idx,
        lambda it, df, props: extend_bm25_index(it, df, properties=props),
    )]})
    assert o.run() and not o.errors

    # index-side maintenance: a no-marker commit, then expire the
    # marker-bearing snapshots
    clock.advance(days=1)
    idx.optimize(clock=clock)
    # the index's own commits run on wall-clock (the extend callable
    # doesn't thread the fake clock) — a far-future cutoff drops
    # everything but the head regardless
    idx.expire_snapshots(older_than=dt.datetime(2031, 1, 1))
    markers = [
        s for s in idx._load_manifest()
        if (s.properties or {}).get("covers_snapshot")
    ]
    assert not markers  # the snapshot-walk record is really gone
    assert _covered_snapshot_id(idx, "tbl_surv", "bm25") == 1

    # incremental extend still works (a full re-index would trip the
    # duplicate-docstat guard in bm25_from_index)
    src.append(spark.createDataFrame(
        [(3, "a fresh spark document")], "doc_id long, text string"),
        clock=clock)
    clock.advance(days=2)
    assert o.run() and not o.errors

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))


@pytest.mark.slowtier
def test_index_cursor_crash_window_falls_back_to_snapshot_marker(env):
    """The TBLPROPERTIES cursor twin is stamped in a second step after
    the atomic extend commit — a crash between the two leaves only
    the snapshot marker, which the read path must still honor (no
    re-index on restart)."""
    from trino_iceberg_maintenance_spark.operators.text import (
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.orchestrator import (
        _covered_snapshot_id,
        _cursor_property_key,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "cw_src"))
    src.append(spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"), clock=clock)
    tables["tbl_cw"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "cw_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_cw", should_maintain_indexes=1,
                     days_to_index=1),
    ])
    o = orch(index_maintainers={"tbl_cw": [(
        "bm25", idx,
        lambda it, df, props: extend_bm25_index(it, df, properties=props),
    )]})
    assert o.run() and not o.errors
    # simulate the crash window: the property stamp is lost, the
    # atomic snapshot marker survives
    idx.unset_table_properties([_cursor_property_key("tbl_cw", "bm25")])
    assert _covered_snapshot_id(idx, "tbl_cw", "bm25") == 1
    n_idx = len(idx._load_manifest())
    clock.advance(days=2)
    o.run()  # nothing new to index — must not re-index the source
    assert not o.errors
    assert len(idx._load_manifest()) == n_idx


def test_extend_bm25_ensure_novel_bootstraps_empty_index(spark, tmp_path):
    """build ≡ extend is the BM25 contract — the safety gate must
    treat an empty index as trivially novel, not crash on read()."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    docs = spark.createDataFrame(
        [(1, "spark table scan"), (2, "table of contents")],
        "doc_id long, text string",
    )
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "boot_idx"))
    extend_bm25_index(t, docs, ensure_novel=True)  # must not raise

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(t)) == rows(bm25_scores(docs))


@pytest.mark.slowtier
def test_durable_index_registration_survives_restart(env):
    """VERDICT r7 #3: register_index persists standard registrations
    in the registry table next to the schedule, so a FRESH
    Orchestrator (no index_maintainers arg, no env knob) reports the
    correct nonzero index_lag for an on-disk stale index AND stage 6
    extends it."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "dreg_src"))
    src.append(spark.createDataFrame(
        [(1, "spark table scan"), (2, "table of contents")],
        "doc_id long, text string",
    ), clock=clock)
    tables["tbl_dreg"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "dreg_bm25"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_dreg", should_maintain_indexes=1,
                     days_to_index=10),
    ])

    o1 = orch()
    o1.register_index("tbl_dreg", "bm25_main", idx, kind="bm25")
    assert o1.run() and not o1.errors
    assert idx._load_manifest()[-1].properties["covers_snapshot"] == 1

    # the source moves on; the registering session is gone
    src.append(spark.createDataFrame(
        [(3, "a fresh spark document")], "doc_id long, text string",
    ), clock=clock)

    o2 = orch()  # FRESH: no in-memory registration at all
    assert "tbl_dreg" in o2.index_maintainers
    rep = {r.table_name: r for r in o2.fleet_report().collect()}["tbl_dreg"]
    assert rep.index_lag == 1  # discovered from the registry, not NULL

    clock.advance(days=11)
    assert o2.run() and not o2.errors
    assert idx._load_manifest()[-1].properties["covers_snapshot"] == 2

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))

    # re-registration upserts (no duplicate rows), custom fn without
    # kind demands explicitness
    o2.register_index("tbl_dreg", "bm25_main", idx, kind="bm25")
    reg = spark.read.parquet(o2.index_registry_path).collect()
    assert len(reg) == 1 and reg[0].kind == "bm25"
    with pytest.raises(ValueError, match="kind"):
        o2.register_index("tbl_dreg", "oops", idx)
    # BOTH kind and extend_fn: rejected (ADVICE r8 — the custom fn
    # would run live while a restart rebuilt the standard maintainer)
    with pytest.raises(ValueError, match="not both"):
        o2.register_index(
            "tbl_dreg", "both", idx, kind="bm25",
            extend_fn=lambda it, df, props: None,
        )
    # and the rejected call must not have touched the registry
    assert len(spark.read.parquet(o2.index_registry_path).collect()) == 1


@pytest.mark.slowtier
def test_expectation_report_survives_restart_and_audits_history(env):
    """VERDICT r7 #4: the stage-5 report row persists in the audit
    relation keyed by (table, checked_on) — a fresh session's
    fleet_report still shows the violation count, and the audit
    history is queryable (one batch per cadence fire)."""
    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(
        spark, tmp_path, "dex", [[("a", "b")], [(None, "toolong")]], clock
    )
    tables["tbl_dex"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_dex", should_check_expectations=1,
                     days_to_check=10),
    ])
    rules = [("a_not_null", "a IS NOT NULL"),
             ("b_short", "length(b) <= 2")]
    o1 = orch(expectation_rules={"tbl_dex": rules})
    assert o1.run() and not o1.errors
    first_check = clock()

    # restart: fresh orchestrator, no in-memory report
    o2 = orch(expectation_rules={"tbl_dex": rules})
    assert o2.last_expectations == {}
    rep = {r.table_name: r for r in o2.fleet_report().collect()}["tbl_dex"]
    assert rep.expectation_violations == 2  # from the durable audit

    # second cadence fire appends a second batch; history keeps both
    clock.advance(days=11)
    assert o2.run() and not o2.errors
    audit = o2.expectation_audit()
    batches = sorted(
        r.checked_on for r in
        audit.select("checked_on").distinct().collect()
    )
    assert batches == [first_check, clock()]
    hist = {
        (r.checked_on, r.rule): (r.n_violations, r.passed)
        for r in audit.where(F.col("table_name") == "tbl_dex").collect()
    }
    assert hist[(first_check, "a_not_null")] == (1, False)
    assert hist[(clock(), "b_short")] == (1, False)
    assert len(hist) == 4  # 2 rules x 2 batches

    # a third session with no in-memory state sees the LATEST batch
    o3 = orch()
    rep3 = {r.table_name: r for r in o3.fleet_report().collect()}["tbl_dex"]
    assert rep3.expectation_violations == 2


@pytest.mark.slowtier
def test_expectation_audit_file_count_stays_bounded(env):
    """VERDICT r8 #4: one parquet file per (table, check) forever is
    the small-files pathology this tool exists to fix. Past the
    threshold the appending run bin-packs the audit relation and GCs
    replaced history — K checks read back identically from a bounded
    on-disk file count."""
    import glob
    import os

    from trino_iceberg_maintenance_spark.orchestrator import (
        AUDIT_COMPACT_FILE_THRESHOLD,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(spark, tmp_path, "dbd", [[("a", "b")]], clock)
    tables["tbl_dbd"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_dbd", should_check_expectations=1,
                     days_to_check=1),
    ])
    rules = [("a_not_null", "a IS NOT NULL")]
    o = orch(expectation_rules={"tbl_dbd": rules})
    n_checks = AUDIT_COMPACT_FILE_THRESHOLD + 8
    expected = []
    for _ in range(n_checks):
        clock.advance(days=2)
        assert o.run() and not o.errors
        expected.append((clock(), "a_not_null", 1, 0, True))

    audit = sorted(
        (r.checked_on, r.rule, r.n_rows, r.n_violations, r.passed)
        for r in o.expectation_audit().collect()
    )
    assert audit == sorted(expected)  # every batch survived compaction

    # bounded on disk: live file count under the threshold, and the
    # PHYSICAL parquet count (live + snapshot-retained + stray) is
    # bounded too — the expired small files were actually deleted
    live = o._audit_table(o.audit_path).file_count()
    assert live < AUDIT_COMPACT_FILE_THRESHOLD
    physical = [
        f for f in glob.glob(os.path.join(o.audit_path, "**", "*.parquet"),
                             recursive=True)
        if not os.path.basename(f).startswith((".", "_"))
    ]
    assert len(physical) <= AUDIT_COMPACT_FILE_THRESHOLD + 1


def test_expectation_audit_adopts_legacy_plain_dir(env):
    """Migration: a pre-r9 audit path (loose part files, no manifest)
    is adopted in place — metadata only — and the history stays
    readable through the maintained-table layout."""
    import datetime as real_dt

    from trino_iceberg_maintenance_spark.orchestrator import (
        EXPECTATION_AUDIT_SCHEMA,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    t = make_table(spark, tmp_path, "dleg", [[("a", "b")]], clock)
    tables["tbl_dleg"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_dleg", should_check_expectations=1,
                     days_to_check=10),
    ])
    o = orch(expectation_rules={
        "tbl_dleg": [("a_not_null", "a IS NOT NULL")]
    })
    # fabricate the pre-r9 layout: plain appended parquet, no manifest
    legacy_row = ("tbl_dleg", real_dt.datetime(2025, 1, 1), "old_rule",
                  7, 3, False)
    spark.createDataFrame(
        [legacy_row], EXPECTATION_AUDIT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(o.audit_path)

    # read path adopts and sees the legacy row
    got = [(r.table_name, r.checked_on, r.rule, r.n_rows,
            r.n_violations, r.passed)
           for r in o.expectation_audit().collect()]
    assert got == [legacy_row]

    # append path keeps the legacy history alongside new batches, and
    # the restart-safe violation count prefers the LATEST batch
    assert o.run() and not o.errors
    rows = {r.rule for r in o.expectation_audit().collect()}
    assert rows == {"old_rule", "a_not_null"}
    o2 = orch()
    rep = {r.table_name: r for r in o2.fleet_report().collect()}["tbl_dleg"]
    assert rep.expectation_violations == 0  # latest batch, not legacy


def test_metadata_aggregate_matches_data_and_gates_deletes(spark, tmp_path):
    """Stats-only scan: count/min/max/null_count answered from footers
    + manifest — must equal the data-path aggregate, refuse pending
    MoR deletes (footer counts would over-count), treat string bounds
    as unknowable (writer truncation), and recover after
    purge_deletes."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    clock = FakeClock()
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "magg"))
    t.append(spark.createDataFrame(
        [(1, 10.5, "x"), (2, None, "y")], "k long, v double, s string",
    ), clock=clock)
    t.append(spark.createDataFrame(
        [(7, -3.25, None)], "k long, v double, s string",
    ), clock=clock)

    row = t.metadata_aggregate().collect()[0]
    truth = t.read().agg(
        F.count(F.lit(1)), F.min("k"), F.max("k"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)),
        F.min("v"), F.max("v"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
        F.sum(F.when(F.col("s").isNull(), 1).otherwise(0)),
    ).collect()[0]
    assert row.count_star == truth[0] == 3
    assert row.min_k == truth[1] and row.max_k == truth[2]
    assert row.null_count_k == truth[3] == 0
    assert row.min_v == truth[4] and row.max_v == truth[5]
    assert row.null_count_v == truth[6] == 1
    # string bounds unknowable (truncation rule); null counts exact
    assert row.min_s is None and row.max_s is None
    assert row.null_count_s == truth[7] == 1

    # schema evolution: files predating a column read it as NULL
    t.append(spark.createDataFrame(
        [(9, 1.0, "z", 42)], "k long, v double, s string, extra long",
    ), clock=clock)
    row2 = t.metadata_aggregate(["extra"]).collect()[0]
    assert row2.count_star == 4
    assert row2.min_extra == row2.max_extra == 42
    assert row2.null_count_extra == 3

    # pending MoR deletes: refuse (footer counts over-count) ...
    t.delete_where(F.col("k") == 2, clock=clock)
    with pytest.raises(ValueError, match="purge_deletes"):
        t.metadata_aggregate()
    # ... and recover once deletes are materialized
    t.purge_deletes(clock=clock)
    row3 = t.metadata_aggregate(["k"]).collect()[0]
    assert row3.count_star == 3 and row3.min_k == 1 and row3.max_k == 9


@pytest.mark.slowtier
def test_analyze_from_footers_matches_data_path_and_falls_back(env):
    """Opt-in stage-4 fast path: footer-derived null-fraction stats
    must be IDENTICAL to the data-path ANALYZE relation; pending MoR
    deletes or unknowable columns disqualify the table and the stage
    silently falls back (stats still delivered, watermark still
    stamps)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "foot"))
    t.append(spark.createDataFrame(
        [(1, 2.5), (2, None), (None, 7.0)], "a long, b double",
    ), clock=clock)
    tables["tbl_foot"] = t
    write_schedule(spark, sched, [
        schedule_row("tbl_foot", should_analyze=1, days_to_analyze=10),
    ])

    def rows(df):
        return sorted(
            (r.column_name, r.row_count, r.null_count, r.null_fraction)
            for r in df.collect()
        )

    o = orch(analyze_from_footers=True)
    # the fast path qualifies and equals the data-path relation
    fast = o._footer_null_fractions(
        t, type("P", (), {"columns_to_analyze": None})
    )
    assert fast is not None
    from trino_iceberg_maintenance_spark.plans.stats import (
        null_fraction_stats,
    )

    assert rows(fast) == rows(null_fraction_stats(t.read()))

    # end-to-end: the stage delivers the footer-derived stats to the
    # sink and stamps the watermark
    assert o.run() and not o.errors
    assert stats_log["tbl_foot"][-1] == {
        "a": 1.0 / 3.0, "b": 1.0 / 3.0,
    }
    stamped = {
        r.table_name: r.last_analyzed_on
        for r in read_schedule(spark, sched).collect()
    }["tbl_foot"]
    assert stamped == clock()

    # pending MoR deletes: disqualified -> returns None (fallback)
    t.delete_where(F.col("a") == 1, clock=clock)
    assert o._footer_null_fractions(
        t, type("P", (), {"columns_to_analyze": None})
    ) is None
    # ...and the full stage still succeeds via the data path
    clock.advance(days=11)
    assert o.run() and not o.errors


def test_footer_analyze_empty_table_falls_back(env):
    """ADVICE r9: a zero-row snapshot makes null_fraction 0/0 — the
    fast path must return None (data path defines the empty-table
    surface) instead of emitting NULL fractions."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "empt"))
    t.append(
        spark.createDataFrame([], "a long, b double").limit(0), clock=clock
    )
    o = orch(analyze_from_footers=True)
    assert o._footer_null_fractions(
        t, type("P", (), {"columns_to_analyze": None})
    ) is None


def test_manifest_stats_store_zero_footer_reads(env, monkeypatch):
    """VERDICT r9 #1: per-file column stats are recorded in the
    manifest-side store AT COMMIT TIME, so every stats consult on a
    post-migration table — metadata_aggregate, file_column_stats,
    read_pruned, partitions_df, the stage-4 footer fast path — opens
    ZERO parquet footers (pyarrow.read_metadata is poisoned here)."""
    import datetime as dt

    import pyarrow.parquet as pq

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "mstats"))
    t.append(spark.createDataFrame(
        [(1, 2.5, dt.date(2024, 1, 3)), (4, None, dt.date(2024, 2, 1))],
        "a long, b double, d date"), clock=clock)
    t.append(spark.createDataFrame(
        [(9, 7.0, dt.date(2023, 12, 25)), (None, 1.25, dt.date(2024, 3, 9))],
        "a long, b double, d date"), clock=clock)

    def boom(*a, **k):
        raise AssertionError("footer read on a stats-recorded table")

    monkeypatch.setattr(pq, "read_metadata", boom)

    row = t.metadata_aggregate(["a", "b", "d"]).collect()[0]
    assert (row.count_star, row.min_a, row.max_a) == (4, 1, 9)
    assert (row.min_b, row.max_b) == (1.25, 7.0)
    assert (row.min_d, row.max_d) == (dt.date(2023, 12, 25),
                                      dt.date(2024, 3, 9))
    assert (row.null_count_a, row.null_count_b, row.null_count_d) == (1, 1, 0)

    fstats = t.file_column_stats(["a"])
    assert len(fstats) == 2
    assert sorted(v["a"] for v in fstats.values()) == [(1, 4), (9, None or 9)]

    # pruning consults the store, scans only the qualifying file
    pruned = t.read_pruned("a", 8, 20)
    assert len(pruned.inputFiles()) == 1
    assert sorted(r.a for r in pruned.collect()) == [9]

    parts = t.partitions_df().collect()
    assert len(parts) == 1 and parts[0].row_count == 4

    # the stage-4 fast path rides the same store
    o = orch(analyze_from_footers=True)
    fast = o._footer_null_fractions(
        t, type("P", (), {"columns_to_analyze": None})
    )
    assert fast is not None
    assert {r.column_name: r.null_fraction for r in fast.collect()} == {
        "a": 0.25, "b": 0.25, "d": 0.0,
    }

    # the scannable relation matches the live file inventory
    sdf = t.file_stats_df()
    assert sdf.count() == 2
    assert {r.rows for r in sdf.collect()} == {2}


def test_manifest_stats_pre_post_mixed_history(env, monkeypatch):
    """Pre-stats history (simulated by deleting the store) must give
    IDENTICAL stats through the footer-fallback path, and the fallback
    ADOPTS what it read: the very next consult is footer-free."""
    import os

    import pyarrow.parquet as pq

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "mixed"))
    t.append(spark.createDataFrame([(1, "x"), (2, None)], "k long, s string"),
             clock=clock)
    before = t.metadata_aggregate(["k", "s"]).collect()[0]

    # wipe the store: this is now a pre-stats legacy table
    os.remove(t.filestats_log_path)
    assert not os.path.exists(t.filestats_path)
    # a new commit records ONLY its own file (O(delta), not a rescan)
    t.append(spark.createDataFrame([(7, "y")], "k long, s string"),
             clock=clock)

    mixed = t.metadata_aggregate(["k", "s"]).collect()[0]
    assert (mixed.count_star, mixed.min_k, mixed.max_k,
            mixed.null_count_s) == (3, 1, 7, 1)
    assert (before.count_star, before.min_k, before.null_count_s) == (2, 1, 1)
    # string bounds are never carried (writer truncation)
    assert mixed.min_s is None and mixed.max_s is None

    # the fallback consult above adopted the legacy file: footer-free now
    assert t.backfill_file_stats() == 0

    def boom(*a, **k):
        raise AssertionError("footer read after adoption")

    monkeypatch.setattr(pq, "read_metadata", boom)
    again = t.metadata_aggregate(["k", "s"]).collect()[0]
    assert again == mixed


def test_manifest_stats_fold_prunes_dead_files(env):
    """rewrite_manifests folds the stats journal into the base and
    prunes entries for files no snapshot references anymore (post
    expiry), keeping the store manifest-sized forever."""
    import datetime as dt
    import os

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "fold"))
    t.append(spark.createDataFrame([(1,)], "k long"), clock=clock)
    t.overwrite(spark.createDataFrame([(2,)], "k long"), clock=clock,
                single_file=True)
    assert len(t._load_filestats()) == 2  # old file still time-travelable
    clock.advance(days=30)
    dropped = t.expire_snapshots(clock() - dt.timedelta(days=1),
                                 clock=clock)
    assert dropped
    report = t.rewrite_manifests()
    assert report["filestats_pruned"] == 1
    assert os.path.exists(t.filestats_path)
    assert not os.path.exists(t.filestats_log_path)
    store = t._load_filestats()
    assert set(store) == {
        os.path.relpath(f, t.path) for f in t.current_files()
    }
    assert t.file_stats_df().count() == 1


def test_footer_fast_path_minmax_matches_numeric_stats(env):
    """VERDICT r9 #7: the ANALYZE fast path surfaces min/max doubles
    that EQUAL plans.stats.numeric_stats' values for numeric columns,
    NULL elsewhere (string-truncation gate); temporal bounds surface
    typed through metadata_aggregate / metadata_numeric_stats."""
    import datetime as dt

    from trino_iceberg_maintenance_spark.plans.stats import numeric_stats
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "mm"))
    t.append(spark.createDataFrame(
        [(3, 0.5, "zz", dt.date(2024, 5, 1)),
         (-7, 9.25, "aa", dt.date(2024, 4, 2))],
        "a long, b double, s string, d date"), clock=clock)
    t.append(spark.createDataFrame(
        [(11, -2.5, "mm", dt.date(2024, 6, 6))],
        "a long, b double, s string, d date"), clock=clock)

    o = orch(analyze_from_footers=True)
    fast = o._footer_null_fractions(
        t, type("P", (), {"columns_to_analyze": None})
    )
    got = {r.column_name: (r.min_value, r.max_value)
           for r in fast.collect()}
    want = {r.column_name: (r.min_value, r.max_value)
            for r in numeric_stats(t.read()).collect()}
    assert {c: got[c] for c in want} == want  # a, b exact doubles
    assert got["s"] == (None, None)  # strings: truncation gate
    assert got["d"] == (None, None)  # non-numeric in the double surface

    # the tidy store relation agrees with the data path too
    tidy = {r.column_name: (r.min_value, r.max_value)
            for r in t.metadata_numeric_stats().collect()}
    assert tidy == want

    # temporal bounds stay typed on the metadata_aggregate surface
    row = t.metadata_aggregate(["d"]).collect()[0]
    assert (row.min_d, row.max_d) == (dt.date(2024, 4, 2),
                                      dt.date(2024, 6, 6))


@pytest.mark.slowtier
def test_rebuild_at_risk_indexes_auto_remediates(env):
    """VERDICT r9 #3: with rebuild_at_risk_indexes=True, a stage-6 run
    that hits the expired-cursor failure rebuilds the index ITSELF —
    expired cursor -> one orchestrator run -> index content equals a
    from-scratch build, index_lag 0, no errors, NO manual
    rebuild_index call. The policy must not mask a cadence
    misconfiguration: days_to_index > retention_days_snapshots keeps
    flagging index_cursor_at_risk after the auto-rebuild."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
        extend_bm25_index,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "ar_src"))
    src.append(spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"), clock=clock)
    src.append(spark.createDataFrame(
        [(2, "beta gamma")], "doc_id long, text string"), clock=clock)
    tables["tbl_ar"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "ar_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        # misconfigured on purpose: cadence outlives retention
        schedule_row("tbl_ar", should_maintain_indexes=1, days_to_index=2,
                     should_expire_snapshots=0,
                     retention_days_snapshots=1),
    ])
    o = orch(
        index_maintainers={"tbl_ar": [(
            "bm25", idx,
            lambda it, df, props: extend_bm25_index(
                it, df, properties=props),
        )]},
        rebuild_at_risk_indexes=True,
    )
    assert o.run() and not o.errors  # covers snapshot 2

    clock.advance(days=3)
    src.append(spark.createDataFrame(
        [(3, "gamma delta")], "doc_id long, text string"), clock=clock)
    src.expire_snapshots(older_than=clock() + dt.timedelta(days=1))
    assert 2 not in {s.snapshot_id for s in src._load_manifest()}

    # ONE due run: no error, no manual rebuild — lag 0, content exact
    assert o.run() and not o.errors

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))
    rep = {r.table_name: r for r in o.fleet_report().collect()}["tbl_ar"]
    assert rep.index_lag == 0
    # cursor is healthy again, but the CADENCE misconfig still flags:
    # auto-remediation fixes the index, never the configuration
    write_schedule(spark, sched, [
        schedule_row("tbl_ar", should_maintain_indexes=1, days_to_index=2,
                     should_expire_snapshots=1,
                     retention_days_snapshots=1),
    ])
    rep2 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_ar"]
    assert rep2.index_cursor_at_risk is True

    # next due run keeps extending incrementally (no duplicate rows)
    clock.advance(days=3)
    src.append(spark.createDataFrame(
        [(4, "delta epsilon")], "doc_id long, text string"), clock=clock)
    assert o.run() and not o.errors
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))


def test_manifest_stats_journal_survives_torn_tail(env):
    """Crash-safety of the stats journal: a partial final line (crash
    mid-append) must not poison later records — the next append
    terminates the fragment, the loader skips the undecodable line,
    and duplicate lines (fold-crash replay) stay idempotent."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "torn"))
    t.append(spark.createDataFrame([(1,)], "k long"), clock=clock)
    # crash mid-append: a torn fragment with no trailing newline
    with open(t.filestats_log_path, "a") as f:
        f.write('{"file": "data/sna')
    t.append(spark.createDataFrame([(2,)], "k long"), clock=clock)
    store = t._load_filestats()
    assert len(store) == 2  # both real files; fragment skipped
    row = t.metadata_aggregate(["k"]).collect()[0]
    assert (row.count_star, row.min_k, row.max_k) == (2, 1, 2)
    # fold-crash replay: duplicate line for an existing file is
    # idempotent (entries are immutable facts keyed by path)
    first = next(iter(store.values()))
    import json as _json
    with open(t.filestats_log_path, "a") as f:
        f.write(_json.dumps(first) + "\n")
    assert len(t._load_filestats()) == 2
    assert t.file_stats_df().count() == 2


@pytest.mark.slowtier
def test_manifest_stats_empty_file_does_not_void_bounds(env):
    """Review r10: a zero-row data file (empty append) has no row
    groups and must contribute NOTHING to metadata_aggregate — the
    old footer loop skipped it benignly; the stats store must too,
    and the widened fast path keeps exact bounds. With the fast path
    ON, the stage-4 relation schema is STABLE across fast-path and
    fallback runs (fallback pads NULL bounds)."""
    from trino_iceberg_maintenance_spark.plans.stats import (
        null_fraction_stats,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "emptyf"))
    t.append(spark.createDataFrame([(1, 2.5), (9, 7.5)], "a long, b double"),
             clock=clock)
    t.append(spark.createDataFrame([], "a long, b double").limit(0),
             clock=clock)
    row = t.metadata_aggregate(["a", "b"]).collect()[0]
    assert (row.count_star, row.min_a, row.max_a) == (2, 1, 9)
    assert (row.min_b, row.max_b, row.null_count_a) == (2.5, 7.5, 0)
    tidy = {r.column_name: (r.min_value, r.max_value)
            for r in t.metadata_numeric_stats().collect()}
    assert tidy == {"a": (1.0, 9.0), "b": (2.5, 7.5)}

    # schema stability with the fast path enabled: qualified run and
    # fallback run (partitioned table) deliver the SAME 6 columns
    o = orch(analyze_from_footers=True)
    fast = o._footer_null_fractions(
        t, type("P", (), {"columns_to_analyze": None})
    )
    assert fast is not None
    part = ParquetMaintainedTable.create(
        spark, str(tmp_path / "emptyf_p"), partition_cols=["p"]
    )
    part.append(spark.createDataFrame([(1, 1)], "a long, p int"),
                clock=clock)
    tables["tbl_fastpad"] = part
    write_schedule(spark, sched, [
        schedule_row("tbl_fastpad", should_analyze=1, days_to_analyze=10),
    ])
    sunk = {}
    o2 = Orchestrator(
        spark, sched, table_resolver=lambda n: tables[n],
        stats_sink=lambda n, df: sunk.setdefault(n, df),
        clock=clock, analyze_from_footers=True,
    )
    assert o2.run() and not o2.errors
    # partitioned -> incremental fallback, padded to the fast-path shape
    assert sunk["tbl_fastpad"].columns == fast.columns
    padded = {r.column_name: (r.min_value, r.max_value)
              for r in sunk["tbl_fastpad"].collect()}
    assert all(v == (None, None) for v in padded.values())


@pytest.mark.slowtier
def test_index_retraction_of_source_deletes(env):
    """Opt-in stage-6 retraction: with a registered retract_key,
    source-row DELETES between index runs are retracted from the
    index (equality delete committed BEFORE the extend append, so an
    UPDATE's re-inserted rows survive) and the persisted index stays
    bit-identical to a from-scratch build over the current corpus.
    Without a key the default not-auto-retracted contract stands."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "ret_src"))
    src.append(spark.createDataFrame(
        [(1, "spark table scan"), (2, "table of contents"),
         (3, "scan the spark table twice")],
        "doc_id long, text string"), clock=clock)
    tables["tbl_ret"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "ret_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_ret", should_maintain_indexes=1, days_to_index=1),
    ])
    o = orch()
    o.register_index("tbl_ret", "bm25", idx, kind="bm25",
                     retract_key="doc_id")
    assert o.run() and not o.errors  # bootstrap: covers snapshot 1

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))

    # window 1: pure delete (doc 2 leaves the corpus)
    clock.advance(days=2)
    src.delete_where(F.col("doc_id") == 2, clock=clock)
    src.append(spark.createDataFrame(
        [(4, "fresh spark document about table maintenance")],
        "doc_id long, text string"), clock=clock)
    assert o.run() and not o.errors
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))
    assert sorted(
        r.doc_id for r in
        idx.read().where(F.col("kind") == "docstat").collect()
    ) == [1, 3, 4]

    # window 2: UPDATE shape — doc 3 deleted and re-inserted with new
    # text in the same window; retract-then-extend keeps only the new
    # rows (the equality delete's sequence predates the append)
    clock.advance(days=2)
    src.delete_where(F.col("doc_id") == 3, clock=clock)
    src.append(spark.createDataFrame(
        [(3, "entirely new text for the third spark table")],
        "doc_id long, text string"), clock=clock)
    assert o.run() and not o.errors
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))

    # default contract unchanged without a key: a second index on the
    # same source, no retract_key -> the deleted doc LINGERS there
    idx2 = ParquetMaintainedTable.create(
        spark, str(tmp_path / "ret_idx2"), partition_cols=["kind"]
    )
    o.register_index("tbl_ret", "bm25_nokey", idx2, kind="bm25")
    clock.advance(days=2)
    assert o.run() and not o.errors  # bootstrap idx2 over current corpus
    clock.advance(days=2)
    src.delete_where(F.col("doc_id") == 4, clock=clock)
    assert o.run() and not o.errors
    # retracting index follows the corpus; non-retracting one lingers
    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))
    lingering = {
        r.doc_id for r in
        idx2.read().where(F.col("kind") == "docstat").collect()
    }
    assert 4 in lingering


@pytest.mark.slowtier
def test_retract_key_survives_restart_and_legacy_registry(env):
    """retract_key is durable: a FRESH orchestrator session (no
    registration call) rediscovers it from the registry row and keeps
    retracting; a pre-r10 five-column registry (no retract_key
    column) still loads, with retraction off by default."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bm25_from_index,
        bm25_scores,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "rk_src"))
    src.append(spark.createDataFrame(
        [(1, "spark table scan"), (2, "table of contents")],
        "doc_id long, text string"), clock=clock)
    tables["tbl_rk"] = src
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "rk_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_rk", should_maintain_indexes=1, days_to_index=1),
    ])
    o1 = orch()
    o1.register_index("tbl_rk", "bm25", idx, kind="bm25",
                      retract_key="doc_id")
    assert o1.run() and not o1.errors

    # fresh session: registry rediscovery carries the retract key
    o2 = orch()
    assert o2.index_retraction_keys == {"tbl_rk": {"bm25": "doc_id"}}
    clock.advance(days=2)
    src.delete_where(F.col("doc_id") == 2, clock=clock)
    src.append(spark.createDataFrame(
        [(3, "a third spark document")], "doc_id long, text string"),
        clock=clock)
    assert o2.run() and not o2.errors

    def rows(df):
        return sorted(
            (r.doc_id, r.n_terms_hit, r.bm25, r.rank) for r in df.collect()
        )

    assert rows(bm25_from_index(idx)) == rows(bm25_scores(src.read()))

    # pre-r10 legacy registry (no retract_key column): loads clean,
    # retraction defaults off
    legacy = spark.createDataFrame(
        [("tbl_rk", "bm25", idx.path, "bm25", 16)],
        "source_table string, index_name string, index_path string,"
        " kind string, n_cells int",
    )
    legacy.coalesce(1).write.mode("overwrite").parquet(
        o1.index_registry_path
    )
    o3 = orch()
    assert "tbl_rk" in o3.index_maintainers
    assert o3.index_retraction_keys == {}


def test_fleet_report_files_missing_stats(env):
    """fleet_report surfaces the stats-store migration exposure: a
    table whose history predates the store reports its un-adopted
    live file count; after backfill (or any consult's lazy adoption)
    it reads 0 — the dashboard that says which tables still pay
    footer reads."""
    import shutil

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "fms"))
    t.append(spark.createDataFrame([(1,)], "k long"), clock=clock)
    t.append(spark.createDataFrame([(2,)], "k long"), clock=clock)
    tables["tbl_fms"] = t
    write_schedule(spark, sched, [schedule_row("tbl_fms")])
    o = orch()
    rep = {r.table_name: r for r in o.fleet_report().collect()}["tbl_fms"]
    assert rep.files_missing_stats == 0  # commit-time recording

    shutil.rmtree(os.path.dirname(t.filestats_path))  # legacy table now
    rep2 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_fms"]
    assert rep2.files_missing_stats == 2

    assert t.backfill_file_stats() == 2
    rep3 = {r.table_name: r for r in o.fleet_report().collect()}["tbl_fms"]
    assert rep3.files_missing_stats == 0


@pytest.mark.slowtier
def test_index_retraction_minhash_and_ivf_kinds(env):
    """Retraction across the other two standard kinds: the minhash
    index drops the deleted doc's signature/shingle rows; the IVF
    index drops the deleted vector's assignment row while the
    NULL-vec_id centroid rows survive the equality delete (NULL never
    matches a key) — so cell routing keeps working."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    docs = ParquetMaintainedTable.create(spark, str(tmp_path / "mh_src"))
    docs.append(spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "zeta eta theta iota kappa"),
         (3, "alpha beta gamma delta zeta")],
        "doc_id long, text string"), clock=clock)
    vecs = ParquetMaintainedTable.create(spark, str(tmp_path / "iv_src"))
    vecs.append(spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(1, 9)],
        "vec_id long, embedding array<double>"), clock=clock)
    tables["tbl_mh"] = docs
    tables["tbl_iv"] = vecs
    mh_idx = ParquetMaintainedTable.create(spark, str(tmp_path / "mh_idx"))
    iv_idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "iv_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_mh", should_maintain_indexes=1, days_to_index=1),
        schedule_row("tbl_iv", should_maintain_indexes=1, days_to_index=1),
    ])
    o = orch()
    o.register_index("tbl_mh", "mh", mh_idx, kind="minhash",
                     retract_key="doc_id")
    o.register_index("tbl_iv", "iv", iv_idx, kind="ivf", n_cells=2,
                     retract_key="vec_id")
    assert o.run() and not o.errors

    clock.advance(days=2)
    docs.delete_where(F.col("doc_id") == 1, clock=clock)
    vecs.delete_where(F.col("vec_id").isin(2, 5), clock=clock)
    assert o.run() and not o.errors

    # minhash: only the surviving docs' signature rows remain
    assert sorted(
        r.doc_id for r in mh_idx.read().select("doc_id")
        .distinct().collect()
    ) == [2, 3]
    # ivf: assignments follow the corpus; centroids (NULL vec_id)
    # survive and still route queries
    kinds = {r.kind: r.cnt for r in iv_idx.read().groupBy("kind")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert kinds["centroid"] == 2
    assigned = sorted(
        r.vec_id for r in iv_idx.read()
        .where(F.col("kind") != "centroid").collect()
    )
    assert assigned == [1, 3, 4, 6, 7, 8]


@pytest.mark.slowtier
def test_retraction_null_keys_and_disable(env):
    """Review r10.2: (a) a deleted NULL-key source row must NOT wipe
    NULL-keyed index rows — equality deletes match NULLs via
    eqNullSafe, so stage 6 filters NULL keys before retracting (IVF
    centroids carry vec_id NULL); (b) re-registering an index WITHOUT
    retract_key turns retraction off in-session, matching the
    rewritten registry row."""
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    spark, tmp_path, clock, sched, tables, _, orch = env
    vecs = ParquetMaintainedTable.create(spark, str(tmp_path / "nk_src"))
    vecs.append(spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 7)]
        + [(None, [99.0, 1.0])],  # NULL-key row in the SOURCE
        "vec_id long, embedding array<double>"), clock=clock)
    tables["tbl_nk"] = vecs
    idx = ParquetMaintainedTable.create(
        spark, str(tmp_path / "nk_idx"), partition_cols=["kind"]
    )
    write_schedule(spark, sched, [
        schedule_row("tbl_nk", should_maintain_indexes=1, days_to_index=1),
    ])
    o = orch()
    o.register_index("tbl_nk", "iv", idx, kind="ivf", n_cells=2,
                     retract_key="vec_id")
    assert o.run() and not o.errors

    clock.advance(days=2)
    # delete the NULL-key row AND one real vector in the same window
    vecs.delete_where(F.col("vec_id").isNull() | (F.col("vec_id") == 3),
                      clock=clock)
    assert o.run() and not o.errors
    kinds = {r.kind: r.cnt for r in idx.read().groupBy("kind")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert kinds["centroid"] == 2  # centroids survive the NULL delete
    assigned = sorted(
        r.vec_id for r in idx.read()
        .where(F.col("kind") != "centroid")
        .where(F.col("vec_id").isNotNull()).collect()
    )
    assert 3 not in assigned and {1, 2, 4, 5, 6} <= set(assigned)

    # disable: re-register without a key -> stage 6 stops retracting
    o.register_index("tbl_nk", "iv", idx, kind="ivf", n_cells=2)
    assert o.index_retraction_keys.get("tbl_nk", {}).get("iv") is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        o.register_index("tbl_nk", "iv", idx, kind="ivf",
                         retract_key="")


def test_cli_rejects_duplicate_kind_and_empty_retract_key(spark, tmp_path):
    import pytest as _pytest

    from trino_iceberg_maintenance_spark.__main__ import (
        parse_index_maintainers,
    )

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    with _pytest.raises(ValueError, match="duplicate index kind"):
        parse_index_maintainers(
            f'{{"t": [["bm25", "{p1}"], ["bm25", "{p2}", "doc_id"]]}}',
            spark,
        )
    with _pytest.raises(ValueError, match="non-empty"):
        parse_index_maintainers(
            f'{{"t": [["bm25", "{p1}", ""]]}}', spark
        )


# ---------------------------------------------------------------------------
# r11: sharded stats base + stage-4 auto-backfill (VERDICT r10 #2)
# ---------------------------------------------------------------------------

def _numeric_table(spark, tmp_path, clock, name, n_appends=5):
    """n_appends single-row commits -> n_appends files, each carrying
    stats-store records written at commit time."""
    t = ParquetMaintainedTable.create(spark, str(tmp_path / name))
    for i in range(n_appends):
        t.append(
            spark.createDataFrame([(i, float(i) * 1.5)], "a long, b double"),
            clock=clock,
        )
    return t


@pytest.mark.slowtier
def test_stage4_analyze_auto_backfills_stats_store(env):
    """VERDICT r10 #2 (first half): a LEGACY table (history written
    before the stats store existed) converges to footer-free after ONE
    scheduled ANALYZE — stage 4 adopts the missing files itself, no
    manual backfill_file_stats() call."""
    import shutil

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = _numeric_table(spark, tmp_path, clock, "legacy_bf", n_appends=3)
    shutil.rmtree(str(tmp_path / "legacy_bf" / "stats"))  # pre-store era
    assert len(t.files_missing_stats()) == 3
    tables["legacy_bf"] = t

    write_schedule(
        spark, sched,
        [schedule_row("legacy_bf", should_analyze=1, days_to_analyze=10)],
    )
    o = orch()
    assert o.run() and not o.errors
    assert t.files_missing_stats() == []
    assert o.last_stats_backfill["legacy_bf"] == 3

    # converged table: next due ANALYZE adopts nothing
    clock.advance(days=11)
    o2 = orch()
    assert o2.run() and not o2.errors
    assert o2.last_stats_backfill["legacy_bf"] == 0


def test_filestats_sharded_base_zero_footer_reads(env, monkeypatch):
    """VERDICT r10 #2 (second half): past FILESTATS_SHARD_ROWS the
    fold writes range-partitioned parquet shards + shards.json instead
    of one monolithic JSONL — and every stats consult stays footer-free
    over the sharded base (pq.read_metadata poisoned)."""
    import os

    import pyarrow.parquet as pq

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = _numeric_table(spark, tmp_path, clock, "shardy", n_appends=5)
    t.FILESTATS_SHARD_ROWS = 2
    t.rewrite_manifests()

    idx = t._load_filestats_index()
    assert idx is not None and len(idx["shards"]) == 3  # ceil(5/2)
    assert [s["count"] for s in idx["shards"]] == [2, 2, 1]
    assert not os.path.exists(t.filestats_path)  # JSONL base retired
    assert all(s["min"] <= s["max"] for s in idx["shards"])
    # ranges are disjoint and sorted (the prune contract)
    for a, b in zip(idx["shards"], idx["shards"][1:]):
        assert a["max"] < b["min"]

    def boom(*a, **k):
        raise AssertionError("footer read on a sharded-store table")

    monkeypatch.setattr(pq, "read_metadata", boom)

    row = t.metadata_aggregate(["a", "b"]).collect()[0]
    assert (row.count_star, row.min_a, row.max_a) == (5, 0, 4)
    assert (row.min_b, row.max_b) == (0.0, 6.0)
    assert t.files_missing_stats() == []
    fstats = t.file_column_stats(["a"])
    assert len(fstats) == 5
    assert sorted(v["a"] for v in fstats.values()) == [
        (0, 0), (1, 1), (2, 2), (3, 3), (4, 4)
    ]
    # the Spark-scannable relation reads the parquet shards directly
    sdf = t.file_stats_df()
    assert sdf.count() == 5
    assert {r["rows"] for r in sdf.collect()} == {1}


def test_filestats_shard_pruning_opens_only_needed_shards(env):
    """A keyed consult on a sharded base opens only shards whose
    [min,max] range intersects the requested keys — the manifest-
    group-pruning half of the Iceberg stats design."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = _numeric_table(spark, tmp_path, clock, "prune", n_appends=6)
    t.FILESTATS_SHARD_ROWS = 2
    t.rewrite_manifests()
    assert len(t._load_filestats_index()["shards"]) == 3

    opened = []
    orig = type(t)._read_stats_shard

    def spy(self, path, keys_only=False):
        opened.append(os.path.basename(path))
        return orig(self, path, keys_only=keys_only)

    import unittest.mock as mock
    with mock.patch.object(type(t), "_read_stats_shard", spy):
        one = sorted(t.current_files())[0]
        recs = t._stats_records_for([one])
    assert len(recs) == 1 and len(opened) == 1

    opened.clear()
    with mock.patch.object(type(t), "_read_stats_shard", spy):
        t._stats_records_for(t.current_files())
    assert len(opened) == 3  # full consult touches every shard once


def test_filestats_fold_is_idempotent_and_prunes_dead_files(env):
    """Sharded-base lifecycle: records survive the JSONL->shard
    migration bit-for-bit; a later fold stays indexed, bumps the
    generation, GCs stale shards, and drops dead files' entries."""
    import glob as glob_mod

    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = _numeric_table(spark, tmp_path, clock, "lifecycle", n_appends=5)
    before = t._load_filestats()
    t.FILESTATS_SHARD_ROWS = 2
    t.rewrite_manifests()
    assert t._load_filestats() == before

    # compact 5 files -> 1, expire old snapshots, fold again
    t.optimize(clock=clock)
    clock.advance(days=8)
    t.expire_snapshots(clock(), clock=clock)
    t.rewrite_manifests()
    idx = t._load_filestats_index()
    assert idx is not None and idx["generation"] == 2
    live_keys = set(t._load_filestats())
    assert len(live_keys) == 1 == len(t.current_files())
    # stale-generation shards are GC'd after the cutover
    stats_dir = os.path.dirname(t.filestats_path)
    on_disk = glob_mod.glob(os.path.join(stats_dir, "base-g*.parquet"))
    assert all("-g000002-" in p for p in on_disk)
    assert t.files_missing_stats() == []


# ---------------------------------------------------------------------------
# r11: clustering-decay-driven optimize cadence (VERDICT r10 #4)
# ---------------------------------------------------------------------------

@pytest.mark.slowtier
def test_optimize_fires_on_clustering_decay_before_period(env):
    """Interleaved appends degrade measured clustering depth -> the
    decay gate pulls optimize forward UNDER A FROZEN CLOCK (the
    10-day period has not elapsed); the measurement lands in the
    durable clustering audit with triggered=True."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "decay"))
    # every append spans the SAME key range 0..99 -> all file
    # intervals overlap every other (avg_overlap == n_files)
    for _ in range(4):
        t.append(
            spark.createDataFrame([(0, "lo"), (99, "hi")], "k long, s string"),
            clock=clock,
        )
    assert t.clustering_depth_report("k")["avg_overlap"] == 4.0
    tables["decay"] = t
    write_schedule(
        spark, sched,
        [schedule_row("decay", should_optimize=1, days_to_optimize=10)],
    )
    # first run: day-due (no watermark yet) -> optimize, 1 file
    o = orch(optimize_decay_column="k", optimize_decay_max_overlap=3.0)
    assert o.run() and not o.errors
    assert t.file_count() == 1

    # inside the period, still clustered: decay gate must NOT fire
    clock.advance(days=1)
    snap = t.current_snapshot().snapshot_id
    o2 = orch(optimize_decay_column="k", optimize_decay_max_overlap=3.0)
    assert o2.run() and not o2.errors
    assert t.current_snapshot().snapshot_id == snap  # skipped

    # interleave again: 3 more full-range appends -> overlap 4 > bar 3
    for _ in range(3):
        t.append(
            spark.createDataFrame([(0, "lo"), (99, "hi")], "k long, s string"),
            clock=clock,
        )
    clock.advance(days=1)  # day 2 of 10: period NOT elapsed
    o3 = orch(optimize_decay_column="k", optimize_decay_max_overlap=3.0)
    assert o3.run() and not o3.errors
    assert t.file_count() == 1  # decay fired early

    audit = o3.clustering_audit().orderBy("measured_on").collect()
    assert audit[-1].triggered and audit[-1].avg_overlap == 4.0
    assert audit[-1].column == "k" and audit[-1].table_name == "decay"
    # the skipped sweep measured too, and recorded not-triggered
    assert any(not r.triggered for r in audit)

    # dashboard surface: fleet_report carries the LAST measurement
    rep = {r.table_name: r for r in o3.fleet_report().collect()}["decay"]
    assert rep.clustering_overlap == 4.0 and rep.clustering_triggered

    # gate-off orchestrator on the same schedule still reads history
    rep2 = {r.table_name: r
            for r in orch().fleet_report().collect()}["decay"]
    assert rep2.clustering_overlap == 4.0


@pytest.mark.slowtier
def test_decay_retrigger_suppressed_when_optimize_cannot_improve(env):
    """ADVICE r11: when a decay-triggered optimize CANNOT improve the
    measured overlap (here: a partitioned table with one overlapping
    file per partition — bin-pack has nothing to merge), the gate
    stamps the stuck-at overlap and stays quiet on later sweeps
    (no rewrite-every-sweep amplification); it re-arms only once the
    table decays PAST the stamp, and a successful optimize clears it."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "stuck"), partition_cols=["p"]
    )
    # one full-range file in each of two partitions: avg_overlap 2.0,
    # but every partition already holds a single file -> optimize is
    # a no-op on the data layout
    for p in (1, 2):
        t.append(
            spark.createDataFrame(
                [(p, 0, "lo"), (p, 99, "hi")], "p long, k long, s string"
            ),
            clock=clock,
        )
    assert t.clustering_depth_report("k")["avg_overlap"] == 2.0
    tables["stuck"] = t
    write_schedule(
        spark, sched,
        [schedule_row("stuck", should_optimize=1, days_to_optimize=10)],
    )
    kw = dict(optimize_decay_column="k", optimize_decay_max_overlap=1.5)

    # sweep 1: day-due (no watermark) + decay both fire; optimize
    # cannot shrink any partition -> post-measure stamps the stuck
    # overlap
    o = orch(**kw)
    assert o.run() and not o.errors
    assert t.clustering_depth_report("k")["avg_overlap"] == 2.0
    assert t.table_properties().get(
        "maintenance.decay_stuck_overlap") is not None

    # sweep 2 (inside the period): still decayed at the SAME overlap
    # -> suppressed, no commit at all
    clock.advance(days=1)
    snap = t.current_snapshot().snapshot_id
    o2 = orch(**kw)
    assert o2.run() and not o2.errors
    assert t.current_snapshot().snapshot_id == snap
    audit = o2.clustering_audit().orderBy("measured_on").collect()
    assert not audit[-1].triggered  # measured, recorded, suppressed
    # the dashboard explains the parked gate
    rep_stuck = {r.table_name: r
                 for r in o2.fleet_report().collect()}["stuck"]
    assert rep_stuck.decay_stuck_overlap == 2.0

    # decay PAST the stamp: a second file lands in partition 1 ->
    # overlap 3 > stuck 2 -> gate re-arms; this optimize CAN merge,
    # overlap improves and the stamp clears
    t.append(
        spark.createDataFrame([(1, 0, "x"), (1, 99, "y")],
                              "p long, k long, s string"),
        clock=clock,
    )
    assert t.clustering_depth_report("k")["avg_overlap"] == 3.0
    clock.advance(days=1)
    o3 = orch(**kw)
    assert o3.run() and not o3.errors
    assert t.clustering_depth_report("k")["avg_overlap"] == 2.0
    assert "maintenance.decay_stuck_overlap" not in t.table_properties()
    rep_clear = {r.table_name: r
                 for r in o3.fleet_report().collect()}["stuck"]
    assert rep_clear.decay_stuck_overlap is None  # gate re-armed


@pytest.mark.slowtier
def test_decay_gate_off_keeps_reference_cadence(env):
    """Without OPTIMIZE_DECAY_COLUMN the stage is byte-identical to
    the reference cadence: interleaved files inside the period stay
    un-compacted, and no clustering audit relation appears."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "nodecay"))
    for _ in range(4):
        t.append(
            spark.createDataFrame([(0, "a"), (99, "b")], "k long, s string"),
            clock=clock,
        )
    tables["nodecay"] = t
    write_schedule(
        spark, sched,
        [schedule_row("nodecay", should_optimize=1, days_to_optimize=10)],
    )
    o = orch()
    assert o.run() and not o.errors and t.file_count() == 1
    clock.advance(days=1)
    for _ in range(3):
        t.append(
            spark.createDataFrame([(0, "a"), (99, "b")], "k long, s string"),
            clock=clock,
        )
    o2 = orch()
    assert o2.run() and not o2.errors
    assert t.file_count() == 4  # inside the period: reference no-op
    assert o2.clustering_audit().count() == 0


# ---------------------------------------------------------------------------
# r11: tuned banding follows the persisted dedup index (VERDICT r10 #5)
# ---------------------------------------------------------------------------

def _belt_corpus(spark):
    """12 planted near-dup pairs in the 0.2-0.4 similarity belt + 30
    singletons — the fixture where default (width-2) banding misses a
    third of the true pairs and the 0.2-threshold tuner's width-1
    pick recovers all (same recipe as
    test_tuned_band_config_closes_the_loop)."""
    import random

    random.seed(7)
    vocab = [f"tok{i}" for i in range(500)]
    rows, did = [], 0
    for p in range(12):
        base = random.sample(vocab, 24)
        alt = base[:14] + random.sample(
            [v for v in vocab if v not in base], 10
        )
        rows.append((did, " ".join(base), "en", f"src{p % 4}", 99))
        rows.append((did + 1, " ".join(alt), "en", f"src{(p+1) % 4}", 99))
        did += 2
    for _f in range(30):
        rows.append((did, " ".join(random.sample(vocab, 24)), "en",
                     "srcF", 99))
        did += 1
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_index_under_tuned_banding_matches_scratch_tuned_keepers(spark, tmp_path):
    """An index built+queried under the tuner's (num_hashes,
    band_width) yields the SAME keeper set as the from-scratch
    near_dedup_keepers_tuned pipeline — the tuning loop closed through
    the PERSISTED index, not just the one-shot pipeline."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        build_dedup_index,
        near_dedup_keepers_tuned,
        near_dups_from_index,
        tuned_band_config,
    )
    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )

    docs = _belt_corpus(spark)
    nh, bw = tuned_band_config(spark, threshold=0.2)
    assert bw == 1  # the pick this fixture depends on
    idx = ParquetMaintainedTable.create(spark, str(tmp_path / "tuned_idx"))
    build_dedup_index(idx, docs, num_hashes=nh)

    pairs = near_dups_from_index(
        idx, docs, threshold=0.2, num_hashes=nh, band_width=bw
    )
    dropped = {
        r.doc_a for r in pairs.where(F.col("doc_b") < F.col("doc_a"))
        .collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    keep_scratch = {
        r.doc_id for r in near_dedup_keepers_tuned(docs, 0.2).collect()
    }
    assert all_ids - dropped == keep_scratch
    assert len(keep_scratch) == 42  # 54 docs - one drop per planted pair


@pytest.mark.slowtier
def test_registry_persists_banding_and_restart_rediscovers(env):
    """register_index(num_hashes=, band_width=) is durable: a FRESH
    orchestrator on the same schedule path rediscovers the banding
    from the registry, and its stage-6 maintainer extends the index
    under the registered num_hashes (h0..h5 for 6, never h6)."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    src = ParquetMaintainedTable.create(spark, str(tmp_path / "bnd_src"))
    src.append(spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    ), clock=clock)
    tables["bnd_src"] = src
    idx = ParquetMaintainedTable.create(spark, str(tmp_path / "bnd_idx"))
    write_schedule(spark, sched, [
        schedule_row("bnd_src", should_maintain_indexes=1,
                     days_to_index=10),
    ])

    o = orch()
    o.register_index("bnd_src", "mh", idx, kind="minhash",
                     num_hashes=6, band_width=1)
    assert o.index_banding["bnd_src"]["mh"] == (6, 1)

    # restart: fresh orchestrator, no in-memory registration
    o2 = orch()
    assert o2.index_banding["bnd_src"]["mh"] == (6, 1)
    assert o2.run() and not o2.errors
    cols = set(idx.read().columns)
    assert {"h0", "h5"} <= cols and "h6" not in cols

    # invalid banding is rejected before anything persists
    import pytest as _pytest
    with _pytest.raises(ValueError, match="must divide"):
        o2.register_index("bnd_src", "mh", idx, kind="minhash",
                          num_hashes=6, band_width=4)
    with _pytest.raises(ValueError, match="positive"):
        o2.register_index("bnd_src", "mh", idx, kind="minhash",
                          num_hashes=0, band_width=1)

    # re-register WITHOUT banding resets live + durable to defaults
    o2.register_index("bnd_src", "mh", idx, kind="minhash")
    assert "mh" not in o2.index_banding.get("bnd_src", {})
    o3 = orch()
    assert "mh" not in o3.index_banding.get("bnd_src", {})

    # ADVICE r11: band_width WITHOUT num_hashes resolves to
    # (NUM_HASHES, bw) live — the registry must persist the RESOLVED
    # pair, so a restart rediscovers the same banding instead of
    # silently dropping it on the NULL num_hashes row
    from trino_iceberg_maintenance_spark.operators.dedup import (
        NUM_HASHES,
    )

    assert NUM_HASHES % 2 == 0  # bw=2 must divide the default
    o3.register_index("bnd_src", "mh", idx, kind="minhash",
                      band_width=2)
    assert o3.index_banding["bnd_src"]["mh"] == (NUM_HASHES, 2)
    o4 = orch()
    assert o4.index_banding["bnd_src"]["mh"] == (NUM_HASHES, 2)


def test_banding_rejected_for_non_minhash_kinds(env):
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    idx = ParquetMaintainedTable.create(spark, str(tmp_path / "bm_idx"))
    o = orch()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="MinHash LSH"):
        o.register_index("t", "b", idx, kind="bm25", num_hashes=8)
    with _pytest.raises(ValueError, match="MinHash LSH"):
        o.register_index("t", "v", idx, kind="ivf", band_width=2)


@pytest.mark.slowtier
def test_incremental_fold_rewrites_only_dirty_shards(env):
    """r11 dirty-shard fold: a steady-state fold touches only the
    shards the journal routes records into — clean shards' parquet
    files are REUSED byte-for-byte (same path in the new index), and
    the index ranges stay sorted and disjoint."""
    spark, tmp_path, clock, sched, tables, stats_log, orch = env
    t = _numeric_table(spark, tmp_path, clock, "dirtyfold", n_appends=8)
    t.FILESTATS_SHARD_ROWS = 2
    t.rewrite_manifests()
    idx1 = t._load_filestats_index()
    assert idx1["generation"] == 1 and len(idx1["shards"]) == 4
    g1_paths = [s["path"] for s in idx1["shards"]]

    # one append -> one journal record -> exactly one dirty interval
    t.append(
        spark.createDataFrame([(99, 99.5)], "a long, b double"),
        clock=clock,
    )
    before = t._load_filestats()
    assert len(before) == 9
    t.rewrite_manifests()
    idx2 = t._load_filestats_index()
    assert idx2["generation"] == 2
    new_paths = [s["path"] for s in idx2["shards"]]
    reused = [p for p in new_paths if p in g1_paths]
    rewritten = [p for p in new_paths if p.startswith("base-g000002-")]
    assert len(reused) == 3            # three clean shards untouched
    assert 1 <= len(rewritten) <= 2    # one dirty interval, re-split
    assert set(reused) | set(rewritten) == set(new_paths)
    # reused files still on disk; content identical post-fold
    assert t._load_filestats() == before
    # ranges sorted and disjoint (the prune contract)
    for a, b in zip(idx2["shards"], idx2["shards"][1:]):
        assert a["min"] <= a["max"] < b["min"] <= b["max"]
    assert t.files_missing_stats() == []

    # second fold with an empty journal is a pure no-op on shard files
    t.rewrite_manifests()
    idx3 = t._load_filestats_index()
    assert [s["path"] for s in idx3["shards"]] == new_paths


def test_cli_banded_index_form(spark, tmp_path):
    """The five-element [kind, path, retract_key|null, num_hashes,
    band_width] CLI form parses into maintainers + retraction keys +
    bandings; invalid combinations raise."""
    import pytest as _pytest

    from trino_iceberg_maintenance_spark.__main__ import (
        parse_index_maintainers,
    )

    p = str(tmp_path / "mh")
    got, rkeys, bnd = parse_index_maintainers(
        f'{{"t": [["minhash", "{p}", "doc_id", 12, 1]]}}', spark
    )
    assert list(got["t"][0][:1]) == ["minhash"]
    assert rkeys == {"t": {"minhash": "doc_id"}}
    assert bnd == {"t": {"minhash": (12, 1)}}

    # null retract_key: banding without retraction
    got2, rkeys2, bnd2 = parse_index_maintainers(
        f'{{"t": [["minhash", "{p}", null, 6, 2]]}}', spark
    )
    assert rkeys2 is None and bnd2 == {"t": {"minhash": (6, 2)}}

    with _pytest.raises(ValueError, match="MinHash LSH"):
        parse_index_maintainers(
            f'{{"t": [["bm25", "{p}", null, 12, 2]]}}', spark
        )
    with _pytest.raises(ValueError, match="divide"):
        parse_index_maintainers(
            f'{{"t": [["minhash", "{p}", null, 12, 5]]}}', spark
        )
    with _pytest.raises(ValueError, match="five-element|pair"):
        parse_index_maintainers(
            f'{{"t": [["minhash", "{p}", null, 12]]}}', spark
        )

    # ctor seeding: the parsed bandings reach Orchestrator state
    from trino_iceberg_maintenance_spark.orchestrator import Orchestrator

    o = Orchestrator(
        spark, str(tmp_path / "sched"),
        table_resolver=lambda n: None,
        index_maintainers=got, index_retraction_keys=rkeys,
        index_bandings=bnd,
    )
    assert o.index_banding["t"]["minhash"] == (12, 1)
