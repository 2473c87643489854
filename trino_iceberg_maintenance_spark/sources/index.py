"""Secondary file-level value index — data skipping for point lookups
on NON-partition, NON-clustered columns.

Partition pruning answers predicates on partition sources, and
min/max footer stats answer range predicates on clustered columns
(`read_pruned`); a point lookup on any OTHER column still scans every
file. This module maintains a (value-bucket → file) inverted index as
its own maintained table — the hand-rolled analog of Iceberg's
per-file bloom/value-index metadata, with the same contract:

- the index PRUNES (a bucket hit may be a hash collision; the exact
  predicate is always re-applied), never changes results;
- staleness is handled conservatively: the index records the snapshot
  it covers, and files committed after it are always scanned until
  :func:`extend_file_value_index` catches up (one pass over the NEW
  files only);
- lookups are metadata-sized: one filter over the index relation
  (buckets × files rows), then an effective-read of the surviving
  files.

At 100 TB: the index is ~n_files × avg distinct buckets per file
rows — millions, not billions — and lives in a maintained table, so
compaction/expiry/time-travel apply to it like any other data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from trino_iceberg_maintenance_spark.sources.lake import (
    _FP,
    ParquetMaintainedTable,
    _canon,
)

DEFAULT_BUCKETS = 1 << 16


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("long")


def build_file_value_index(
    table: ParquetMaintainedTable,
    index_table: ParquetMaintainedTable,
    col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Full (re)build: one scan of ``table`` emitting distinct
    (bucket, file) pairs, committed to ``index_table`` as one
    snapshot. Records the covered snapshot + parameters in the index
    table's metadata."""
    snap = table.current_snapshot()
    if snap is None:
        raise ValueError("cannot index an empty table")
    rows = (
        table._read_files(snap.files, with_lineage=True)
        .select(
            _bucket(F.col(col), n_buckets).alias("bucket"),
            F.col(_FP).alias("file_path"),
        )
        .distinct()
    )
    # OVERWRITE, not append: a rebuild replaces the previous
    # generation's rows (stale entries for compacted-away files
    # included) instead of accreting them forever
    index_table.overwrite(rows)
    with index_table._lock:
        meta = index_table._load_meta()
        meta["value_index"] = {
            "source_snapshot": snap.snapshot_id,
            "column": col,
            "n_buckets": n_buckets,
            "covered_files": sorted(_canon(f) for f in snap.files),
        }
        index_table._save_meta(meta)


def extend_file_value_index(
    table: ParquetMaintainedTable,
    index_table: ParquetMaintainedTable,
) -> int:
    """Incremental catch-up: index ONLY the files committed since the
    last covered snapshot (nothing rescanned); returns how many new
    files were indexed. Files that vanished (compaction, expiry) leave
    stale index rows behind — harmless (they prune to nothing at
    lookup, and a rebuild clears them)."""
    meta = index_table._load_meta()
    info = meta.get("value_index")
    if not info:
        raise ValueError("index has no value_index metadata — build first")
    snap = table.current_snapshot()
    covered = set(info["covered_files"])
    new_files = [
        f for f in (snap.files if snap else [])
        if _canon(f) not in covered
    ]
    if not new_files:
        return 0
    rows = (
        table._read_files(new_files, with_lineage=True)
        .select(
            _bucket(F.col(info["column"]), info["n_buckets"])
            .alias("bucket"),
            F.col(_FP).alias("file_path"),
        )
        .distinct()
    )
    index_table.append(rows, single_file=True)
    info["source_snapshot"] = snap.snapshot_id
    info["covered_files"] = sorted(
        covered | {_canon(f) for f in new_files}
    )
    with index_table._lock:
        meta = index_table._load_meta()
        meta["value_index"] = info
        index_table._save_meta(meta)
    return len(new_files)


def point_lookup(
    table: ParquetMaintainedTable,
    index_table: ParquetMaintainedTable,
    value,
) -> DataFrame:
    """Index-pruned point read: scan only (a) covered files whose
    bucket set contains the value's bucket and (b) files newer than
    the index (conservative), then re-apply the exact predicate over
    the MERGE-ON-READ effective rows. Result always equals the full
    filter scan — the plan-shape test asserts the pruning."""
    meta = index_table._load_meta()
    info = meta.get("value_index")
    if not info:
        raise ValueError("index has no value_index metadata — build first")
    spark = table.spark
    b = spark.range(1).select(
        _bucket(F.lit(value), info["n_buckets"]).alias("b")
    ).first()["b"]
    hits = {
        r["file_path"]
        for r in index_table.read()
        .where(F.col("bucket") == b)
        .select("file_path")
        .distinct()
        .collect()  # metadata-sized: files containing the bucket
    }
    snap = table.current_snapshot()
    covered = set(info["covered_files"])
    files = [
        f
        for f in (snap.files if snap else [])
        if _canon(f) in hits or _canon(f) not in covered
    ]
    col = info["column"]
    if not files:
        return table.read().where(F.lit(False))
    return table._read_effective(
        files, snap.delete_files
    ).where(F.col(col) == F.lit(value))


def lookup_file_counts(
    table: ParquetMaintainedTable,
    index_table: ParquetMaintainedTable,
    value,
) -> tuple[int, int]:
    """(files scanned, files total) for a point lookup —
    observability for the skipping payoff."""
    info = index_table._load_meta().get("value_index") or {}
    spark = table.spark
    b = spark.range(1).select(
        _bucket(F.lit(value), info.get("n_buckets", DEFAULT_BUCKETS))
        .alias("b")
    ).first()["b"]
    hits = {
        r["file_path"]
        for r in index_table.read()
        .where(F.col("bucket") == b)
        .select("file_path")
        .distinct()
        .collect()
    }
    snap = table.current_snapshot()
    covered = set(info.get("covered_files", []))
    total = len(snap.files) if snap else 0
    scanned = sum(
        1
        for f in (snap.files if snap else [])
        if _canon(f) in hits or _canon(f) not in covered
    )
    return scanned, total
