"""Merge-on-read row-level deletes (Iceberg v2 semantics) on
ParquetMaintainedTable.

Reference contract: Iceberg v2 tables serve DELETE through delete
FILES — positional (file, row-position) or equality (key tuples scoped
by data sequence number) — merged at read time; `optimize` and the
rewrite procedures materialize them away (the reference drives exactly
those procedures through Trino, reference __main__.py:161-177).
"""

import datetime as dt

import pytest
import pyspark.sql.functions as F

from trino_iceberg_maintenance_spark.sources.lake import (
    ParquetMaintainedTable,
)


def _mk(spark, path, rows, n_appends=1):
    t = ParquetMaintainedTable.create(spark, str(path))
    per = max(1, len(rows) // n_appends)
    for i in range(0, len(rows), per):
        t.append(
            spark.createDataFrame(rows[i:i + per], "id long, v string"),
            clock=lambda i=i: dt.datetime(2024, 1, 1 + i),
        )
    return t


ROWS = [(i, f"v{i}") for i in range(10)]


def test_positional_delete_is_merge_on_read(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    files_before = set(t.current_files())
    snap = t.delete_where("id % 3 = 0")
    # no data file was rewritten or removed
    assert set(t.current_snapshot().files) == files_before
    assert len(snap.delete_files) == 1
    assert snap.delete_files[0]["content"] == "position"
    # readers see the merged row set
    got = sorted(r.id for r in t.read().collect())
    assert got == [i for i in range(10) if i % 3 != 0]
    # time travel to the pre-delete snapshot still sees every row
    pre = t.read_as_of(snapshot_id=snap.snapshot_id - 1)
    assert pre.count() == 10


def test_positional_delete_null_condition_rows_survive(spark, tmp_path):
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, v string"))
    t.delete_where(F.col("v") == "a")  # NULL comparison → not deleted
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_append_after_positional_delete_carries_entries(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    t.delete_where("id < 5")
    t.append(spark.createDataFrame([(100, "new")], "id long, v string"))
    got = sorted(r.id for r in t.read().collect())
    assert got == [5, 6, 7, 8, 9, 100]


def test_equality_delete_sequence_scoping(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    t.delete_by_key(
        spark.createDataFrame([(3,), (4,), (99,)], "id long"), on=["id"]
    )
    assert sorted(r.id for r in t.read().collect()) == [
        0, 1, 2, 5, 6, 7, 8, 9
    ]
    # a row re-appended AFTER the delete has a newer sequence number
    # and must NOT be filtered — Iceberg's upsert contract
    t.append(spark.createDataFrame([(3, "reborn")], "id long, v string"))
    got = {(r.id, r.v) for r in t.read().collect()}
    assert (3, "reborn") in got
    assert (3, "v3") not in got
    assert (4, "v4") not in got


def test_equality_delete_survives_expiry_of_origin_snapshot(spark, tmp_path):
    """Sequence numbers persist in table metadata: expiring the
    snapshot that introduced a still-live file must not shift the
    file's sequence past the delete and resurrect rows."""
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    t.delete_by_key(spark.createDataFrame([(1,)], "id long"), on=["id"])
    assert t.read().where("id = 1").count() == 0
    t.expire_snapshots(older_than=dt.datetime(2030, 1, 1), retain_last=1)
    assert t.read().where("id = 1").count() == 0


def test_copy_on_write_delete_rewrites_only_hit_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)  # 2 files: 0-4, 5-9
    before = set(t.current_files())
    snap = t.delete_where("id = 7", mode="copy-on-write")
    after = set(snap.files)
    assert not snap.delete_files
    # exactly one input file replaced, the other carried by reference
    assert len(before & after) == 1
    assert sorted(r.id for r in t.read().collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9
    ]


def test_optimize_materializes_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    t.delete_where("id % 2 = 0")
    snap = t.optimize(clock=lambda: dt.datetime(2024, 2, 1))
    assert not snap.delete_files
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 5, 7, 9]
    # deleted rows stay gone after a further append
    t.append(spark.createDataFrame([(50, "x")], "id long, v string"))
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 5, 7, 9, 50]


def test_purge_deletes_file_granular(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)  # files 0-4 / 5-9
    t.delete_where("id = 2")  # positional, targets first file only
    before = set(t.current_files())
    snap = t.purge_deletes()
    assert snap.delete_files is None
    after = set(snap.files)
    assert len(before & after) == 1  # untouched file carried
    assert sorted(r.id for r in t.read().collect()) == [
        0, 1, 3, 4, 5, 6, 7, 8, 9
    ]


def test_purge_equality_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    t.delete_by_key(spark.createDataFrame([(6,)], "id long"), on=["id"])
    snap = t.purge_deletes()
    assert snap.delete_files is None
    assert sorted(r.id for r in t.read().collect()) == [
        0, 1, 2, 3, 4, 5, 7, 8, 9
    ]


def test_merge_into_does_not_resurrect_mor_deleted_rows(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    t.delete_where("id = 1")
    # update a key co-located in the same file as the deleted row
    t.merge_into(
        spark.createDataFrame([(2, "updated")], "id long, v string"),
        on=["id"],
    )
    got = {(r.id, r.v) for r in t.read().collect()}
    assert (2, "updated") in got
    assert all(r[0] != 1 for r in got)


def test_expire_snapshots_gc_unreferenced_delete_files(spark, tmp_path):
    import os

    t = _mk(spark, tmp_path / "t", ROWS)
    snap = t.delete_where("id = 0")
    del_path = snap.delete_files[0]["path"]
    assert os.path.exists(del_path)
    # purge (drops the entry), then expire everything older
    t.purge_deletes(clock=lambda: dt.datetime(2024, 3, 1))
    t.expire_snapshots(older_than=dt.datetime(2030, 1, 1), retain_last=1)
    assert not os.path.exists(del_path)
    assert sorted(r.id for r in t.read().collect()) == list(range(1, 10))


def test_snapshot_diff_sees_mor_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    pre = t.current_snapshot().snapshot_id
    post = t.delete_where("id >= 8").snapshot_id
    diff = t.snapshot_diff(pre, post)
    rows = {(r.id, r._change_type) for r in diff.collect()}
    assert rows == {(8, "delete"), (9, "delete")}


def test_changes_reports_mor_delete_as_keyed_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    pre = t.current_snapshot().snapshot_id
    post = t.delete_by_key(
        spark.createDataFrame([(4,)], "id long"), on=["id"]
    ).snapshot_id
    ch = t.changes(pre, post, key_cols=["id"])
    rows = {(r.id, r._change_type) for r in ch.collect()}
    assert rows == {(4, "delete")}


def test_delete_files_df_relation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    assert t.delete_files_df().count() == 0
    t.delete_where("id = 0")
    t.delete_by_key(spark.createDataFrame([(5,)], "id long"), on=["id"])
    rel = t.delete_files_df().collect()
    assert {r.content for r in rel} == {"position", "equality"}
    assert all(r.file_size_bytes > 0 for r in rel)
    eq = [r for r in rel if r.content == "equality"][0]
    assert eq.equality_cols == "id"


def test_no_match_delete_keeps_state(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    snap = t.delete_where("id > 1000")
    assert not snap.delete_files
    assert t.read().count() == 10


def test_partitioned_table_mor_delete_and_scoped_optimize(spark, tmp_path):
    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "t"), partition_cols=["p"]
    )
    df = spark.createDataFrame(
        [(i, i % 2, f"v{i}") for i in range(10)], "id long, p int, v string"
    )
    t.append(df)
    t.append(spark.createDataFrame(
        [(100 + i, i % 2, "w") for i in range(4)], "id long, p int, v string"
    ))
    t.delete_where("id IN (0, 1)")
    assert t.read().where("id < 2").count() == 0
    # optimize only partition p=0: its delete portion materializes;
    # p=1's pending entry must keep applying
    snap = t.optimize(
        target_file_size=1 << 30, min_input_files=2, where_partition="p=0"
    )
    assert t.read().where("id < 2").count() == 0
    assert sorted(r.id for r in t.read().collect()) == (
        [i for i in range(2, 10)] + [100, 101, 102, 103]
    )
    # entry survives because p=1 still has an un-rewritten target
    assert snap.delete_files
    # partition-pruned reads also merge deletes
    assert t.read_partition_pruned("p", eq=1).where("id < 2").count() == 0


def test_branch_append_carries_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    t.delete_where("id = 0")
    t.create_branch("audit")
    t.append(
        spark.createDataFrame([(200, "b")], "id long, v string"),
        branch="audit",
    )
    br = sorted(r.id for r in t.read_branch("audit").collect())
    assert br == list(range(1, 10)) + [200]
    # main unaffected by the branch commit, still merged
    assert sorted(r.id for r in t.read().collect()) == list(range(1, 10))


def test_rollback_restores_delete_state(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    with_del = t.delete_where("id = 9").snapshot_id
    t.purge_deletes()
    t.rollback(with_del)
    assert t.read().count() == 9
    assert t.current_snapshot().delete_files


def test_content_hash_reflects_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    h0 = t.content_hash()
    t.delete_where("id = 3")
    h1 = t.content_hash()
    assert h0 != h1
    t2 = _mk(spark, tmp_path / "t2", [r for r in ROWS if r[0] != 3])
    assert t2.content_hash() == h1


def test_equality_delete_rejects_unknown_column(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    with pytest.raises(ValueError, match="equality columns"):
        t.delete_by_key(
            spark.createDataFrame([(1,)], "nope long"), on=["nope"]
        )


def test_incremental_summary_refresh_matches_recompute(spark, tmp_path):
    """changes() + apply_changelog_to_summary must land exactly on the
    full recompute — across an append, a merge-update, and a
    merge-on-read delete."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.changelog import (
        apply_changelog_to_summary,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(30)],
        "id long, grp string, val double",
    ))
    s0 = t.current_snapshot().snapshot_id

    def summarize(df):
        return df.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("val").cast("decimal(38,4)")).alias("total"),
        )

    stored = summarize(t.read()).collect()
    stored_df = spark.createDataFrame(
        stored, "grp string, n_rows bigint, total decimal(38,4)"
    )

    t.append(spark.createDataFrame(
        [(100, "g0", 5.0), (101, "g3", 7.0)], "id long, grp string, val double"
    ))
    t.merge_into(
        spark.createDataFrame([(2, "g2", 99.0)], "id long, grp string, val double"),
        on=["id"],
    )
    t.delete_where("id IN (3, 4)")
    s1 = t.current_snapshot().snapshot_id

    refreshed = apply_changelog_to_summary(
        stored_df,
        t.changes(s0, s1, key_cols=["id"]),
        group_cols=["grp"],
        sum_cols={"total": "val"},
    )
    got = {(r.grp, r.n_rows, r.total) for r in refreshed.collect()}
    want = {(r.grp, r.n_rows, r.total) for r in summarize(t.read()).collect()}
    assert got == want


# -- schema evolution: rename / drop / widen --------------------------------

def test_rename_column_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    files_before = set(t.current_files())
    t.rename_column("v", "payload")
    # no rewrite; old file served through the name mapping
    assert set(t.current_files()) == files_before
    got = {(r.id, r.payload) for r in t.read().collect()}
    assert got == {(i, f"v{i}") for i in range(10)}
    # appends use the new name; both eras coalesce
    t.append(spark.createDataFrame([(100, "new")], "id long, payload string"))
    assert (100, "new") in {(r.id, r.payload) for r in t.read().collect()}
    # writing the retired name is rejected
    with pytest.raises(ValueError, match="pre-rename alias"):
        t.append(spark.createDataFrame([(5, "x")], "id long, v string"))
    # optimize rewrites under the new physical name and drops the alias
    t.optimize()
    assert t.read().where("payload = 'v3'").count() == 1


def test_rename_then_delete_where_on_new_name(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    t.rename_column("v", "payload")
    t.delete_where("payload = 'v4'")
    assert t.read().where("id = 4").count() == 0


def test_drop_column_and_readd_guard(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    files_before = set(t.current_files())
    t.drop_column("v")
    assert set(t.current_files()) == files_before  # metadata only
    assert t.read().columns == ["id"]
    with pytest.raises(ValueError, match="re-add dropped column"):
        t.append(spark.createDataFrame([(200, "z")], "id long, v string"))
    # appends without the dropped column keep working
    t.append(spark.createDataFrame([(200,)], "id long"))
    assert t.read().count() == 11


def test_type_widening_int_to_long_and_float_to_double(spark, tmp_path):
    t = ParquetMaintainedTable.create(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, 1.5)], "x int, f float"))
    t.append(spark.createDataFrame(
        [(2**40, 2.5)], "x long, f double"))  # widens tracked schema
    schema = dict((f.name, f.dataType.simpleString())
                  for f in t.read().schema.fields)
    assert schema == {"x": "bigint", "f": "double"}
    got = sorted((r.x, r.f) for r in t.read().collect())
    assert got == [(1, 1.5), (2**40, 2.5)]
    # narrower write under the widened schema is accepted as-is
    t.append(spark.createDataFrame([(7, 0.5)], "x int, f float"))
    assert t.read().where("x = 7").count() == 1
    # narrowing / cross-family changes stay rejected
    with pytest.raises(TypeError, match="cannot change column"):
        t.append(spark.createDataFrame([("s", 1.0)], "x string, f double"))


def test_rename_partition_source_rejected(spark, tmp_path):
    t = ParquetMaintainedTable.create(
        spark, str(tmp_path / "t"), partition_cols=["p"]
    )
    t.append(spark.createDataFrame([(1, 0, "a")], "id long, p int, v string"))
    with pytest.raises(ValueError, match="partition source"):
        t.rename_column("p", "bucket")
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("p")


def test_rename_chain_serves_all_eras(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS[:3])
    t.rename_column("v", "v2")
    t.append(spark.createDataFrame([(50, "era2")], "id long, v2 string"))
    t.rename_column("v2", "v3")
    t.append(spark.createDataFrame([(60, "era3")], "id long, v3 string"))
    got = {(r.id, r.v3) for r in t.read().collect()}
    assert got == {(0, "v0"), (1, "v1"), (2, "v2"), (50, "era2"),
                   (60, "era3")}


def test_equality_delete_survives_column_rename(spark, tmp_path):
    """An equality delete file written BEFORE a rename keeps the old
    physical key column; reads after the rename must translate it
    through the name mapping and keep filtering."""
    t = _mk(spark, tmp_path / "t", ROWS)
    t.delete_by_key(spark.createDataFrame([("v2",)], "v string"), on=["v"])
    assert t.read().where("id = 2").count() == 0
    t.rename_column("v", "payload")
    assert t.read().where("id = 2").count() == 0
    assert sorted(r.id for r in t.read().collect()) == [
        0, 1, 3, 4, 5, 6, 7, 8, 9
    ]
    # purge materializes through the translated keys too
    snap = t.purge_deletes()
    assert snap.delete_files is None
    assert t.read().where("payload = 'v2'").count() == 0


def test_drop_column_blocked_by_pending_equality_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    t.delete_by_key(spark.createDataFrame([("v5",)], "v string"), on=["v"])
    with pytest.raises(ValueError, match="equality delete keyed on it"):
        t.drop_column("v")
    t.purge_deletes()
    t.expire_snapshots(older_than=dt.datetime(2030, 1, 1), retain_last=1)
    t.drop_column("v")
    assert t.read().columns == ["id"]
    assert t.read().count() == 9


def test_snapshot_operations_and_refs_relation(spark, tmp_path):
    """$snapshots carries the Iceberg-style operation summary and a
    delete-file count; $refs lists branches and tags."""
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    t.delete_where("id = 0")
    t.merge_into(
        spark.createDataFrame([(1, "up")], "id long, v string"), on=["id"]
    )
    t.optimize(clock=lambda: dt.datetime(2024, 5, 1))
    t.create_tag("gold")
    t.create_branch("audit")
    ops = [
        (r.operation, r.delete_file_count)
        for r in t.snapshots_df().orderBy("snapshot_id").collect()
    ]
    # the merge rewrote the delete's only target file, so the pending
    # entry is pruned at the overwrite commit (materialized, not lost)
    assert ops == [
        ("append", 0), ("append", 0), ("delete", 1),
        ("overwrite", 0), ("replace", 0),
    ]
    refs = {(r.name, r.type, r.snapshot_id) for r in t.refs_df().collect()}
    head = t.current_snapshot().snapshot_id
    assert ("gold", "tag", head) in refs
    assert ("audit", "branch", head) in refs
    assert ("main", "branch", head) in refs


def test_compact_delete_files_merges_positional(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    t.delete_where("id = 1")
    t.delete_where("id = 6")
    t.delete_by_key(spark.createDataFrame([(9,)], "id long"), on=["id"])
    assert len(t.current_snapshot().delete_files) == 3
    snap = t.compact_delete_files()
    kinds = sorted(e["content"] for e in snap.delete_files)
    assert kinds == ["equality", "position"]  # 2 positional merged to 1
    assert set(snap.files) == set(t._load_manifest()[-2].files)
    assert sorted(r.id for r in t.read().collect()) == [0, 2, 3, 4, 5, 7, 8]


def test_stream_upsert_into_table(spark, tmp_path):
    """Equality-delete streaming upsert: two micro-batches with
    overlapping keys land on last-writer-wins state without any data
    rewrite; a restart over the drained checkpoint changes nothing;
    purge materializes the same state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trino_iceberg_maintenance_spark.streaming.events_stream import (
        stream_upsert_into_table,
    )

    landing = tmp_path / "upsert_landing"
    landing.mkdir()
    b0 = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    b1 = pa.table({"k": [2, 4], "v": ["B2", "d"]})
    # two drains, not one: the file source orders same-mtime files
    # arbitrarily, and upsert semantics are arrival-order-dependent by
    # design — land batch 0, drain, then land batch 1, drain
    pq.write_table(b0, landing / "b-000.parquet")

    def drain(name):
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing))
        )
        q = stream_upsert_into_table(
            stream, t, on=["k"], checkpoint_dir=ckpt, query_name=name
        )
        q.awaitTermination()

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "upserted"))
    ckpt = str(tmp_path / "ckpt")
    drain("upsert_b0")
    pq.write_table(b1, landing / "b-001.parquet")
    drain("upsert_b1")

    want = {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    assert {(r.k, r.v) for r in t.read().collect()} == want
    # no data file was rewritten: every appended file is still live
    assert t.file_count() == 2
    assert any(
        e["content"] == "equality"
        for e in (t.current_snapshot().delete_files or [])
    )

    # restart over the drained checkpoint: nothing changes
    stream2 = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    q2 = stream_upsert_into_table(stream2, t, on=["k"], checkpoint_dir=ckpt)
    q2.awaitTermination()
    assert {(r.k, r.v) for r in t.read().collect()} == want

    snap = t.purge_deletes()
    assert snap.delete_files is None
    assert {(r.k, r.v) for r in t.read().collect()} == want


def test_upsert_by_key_is_one_atomic_commit(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", ROWS)
    n_snaps = len(t._load_manifest())
    snap = t.upsert_by_key(
        spark.createDataFrame(
            [(2, "two"), (100, "hundred"), (2, "dup-loses")],
            "id long, v string",
        ),
        on=["id"],
    )
    # exactly ONE new snapshot carrying both the delete and the data
    assert len(t._load_manifest()) == n_snaps + 1
    assert snap.operation == "overwrite"
    assert [e["content"] for e in snap.delete_files] == ["equality"]
    got = {(r.id, r.v) for r in t.read().collect()}
    assert (100, "hundred") in got
    assert (2, "two") in got or (2, "dup-loses") in got  # caller dedupe
    assert (2, "v2") not in got
    assert t.read().count() == 11
    # upsert into an empty table is a plain append
    t2 = ParquetMaintainedTable.create(spark, str(tmp_path / "t2"))
    s2 = t2.upsert_by_key(
        spark.createDataFrame([(1, "a")], "id long, v string"), on=["id"]
    )
    assert not s2.delete_files
    assert t2.read().count() == 1


@pytest.mark.slowtier
def test_file_value_index_prunes_and_stays_exact(spark, tmp_path):
    """Secondary value index: point lookups scan a file subset, equal
    the full filter, survive incremental extension, stay conservative
    for unindexed (newer) files, and merge MoR deletes."""
    from trino_iceberg_maintenance_spark.sources.index import (
        build_file_value_index,
        extend_file_value_index,
        lookup_file_counts,
        point_lookup,
    )

    t = ParquetMaintainedTable.create(spark, str(tmp_path / "t"))
    # 8 files, disjoint user ranges so the index can actually skip
    for i in range(8):
        t.append(spark.createDataFrame(
            [(i * 100 + j, f"u{i * 100 + j}") for j in range(50)],
            "id long, user string",
        ))
    idx = ParquetMaintainedTable.create(spark, str(tmp_path / "idx"))
    build_file_value_index(t, idx, col="user")

    got = {r.id for r in point_lookup(t, idx, "u305").collect()}
    assert got == {305}
    scanned, total = lookup_file_counts(t, idx, "u305")
    assert total == 8 and scanned <= 2  # collisions allowed, 8 is not

    # files added after the build are scanned conservatively...
    t.append(spark.createDataFrame([(9999, "u305")], "id long, user string"))
    assert {r.id for r in point_lookup(t, idx, "u305").collect()} == {305, 9999}
    # ...until the incremental extension catches up
    assert extend_file_value_index(t, idx) == 1
    assert extend_file_value_index(t, idx) == 0
    assert {r.id for r in point_lookup(t, idx, "u305").collect()} == {305, 9999}
    scanned2, total2 = lookup_file_counts(t, idx, "u777")
    assert total2 == 9 and scanned2 <= 2

    # merge-on-read deletes apply inside the pruned read
    t.delete_where("id = 305")
    assert {r.id for r in point_lookup(t, idx, "u305").collect()} == {9999}

    # a missing value prunes to (almost) nothing
    scanned3, _ = lookup_file_counts(t, idx, "no-such-user")
    assert scanned3 <= 2


def test_purge_deletes_handles_targetless_positional_entry(spark, tmp_path):
    """ADVICE r4: a positional entry with NO target list (legacy /
    hand-authored manifest) must be treated as match-anything —
    mirroring _prune_entries — so purge never commits delete_files=None
    while leaving the deleted rows' files unrewritten (which would
    resurrect them)."""
    t = _mk(spark, tmp_path / "t", ROWS, n_appends=2)
    t.delete_where("id % 3 = 0")
    # simulate a legacy manifest: strip the 'targets' hint
    snaps = t._load_manifest()
    for e in snaps[-1].delete_files or []:
        e.pop("targets", None)
    t._write_manifest(snaps)
    before = sorted(r.id for r in t.read().collect())
    assert before == [i for i in range(10) if i % 3 != 0]
    snap = t.purge_deletes()
    assert snap.delete_files is None
    # the deleted rows stay deleted after materialization
    assert sorted(r.id for r in t.read().collect()) == before
