"""Incremental (partition-aware) ANALYZE.

The reference recomputes statistics for the WHOLE table every period
(`trino_iceberg_maintenance/__main__.py:190-192`). At 100 TB that is
a full-table scan to refresh stats for data that hasn't moved; the
scalable form recomputes only partitions whose file set changed since
the last run and merges with the carried-forward results.

Mechanics:

- each partition's identity is the md5 of its sorted data-file list,
  followed by the paths of the pending merge-on-read delete entries
  that can remove its rows (none: the file list alone) — appends,
  compaction, GC and row-level DELETEs all change it; untouched
  partitions keep theirs;
- per-partition stats are MERGEABLE aggregates only: row count +
  per-column null counts (the SHOW STATS null-fraction numerator/
  denominator, SURVEY.md §2.6) and per-column HLL sketches for
  distinct counts. Table-level counts are sums; table-level NDV is
  the estimate of the UNION of partition sketches — identical to
  sketching the whole table (HLL registers are a pure max-merge), so
  carrying forward loses nothing;
- one grouped scan reads only the changed partitions' files, with
  their delete entries applied (the rows every reader sees), and
  aggregates per partition — a fixed number of jobs whatever the
  count of changed partitions; stats for unchanged partitions are
  reused verbatim from the prior state;
- the table-level fold (:func:`table_null_fractions`) runs on the
  driver over the collected state, one row per partition.

The state relation is ``(partition, fingerprint, row_count,
null_<col>...)`` — one row per partition, stored wherever the caller
keeps stats (tests round-trip it through a DataFrame). Carried-forward
rows and the folded result are local frames
(``sources.tables.local_frame``): collecting them runs no Spark job.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from trino_iceberg_maintenance_spark.sources.lake import (
    _FP,
    ParquetMaintainedTable,
    _canon,
)
from trino_iceberg_maintenance_spark.sources.tables import local_frame


def partition_fingerprints(table: ParquetMaintainedTable) -> dict[str, tuple]:
    """``{partition: (fingerprint, [files], [delete entries])}`` for
    the current snapshot — pure manifest metadata, no data scan. The
    entries are the snapshot's pending deletes that can remove rows of
    the partition (:meth:`ParquetMaintainedTable._entry_applies`); their
    paths follow the file list in the fingerprint, so a DELETE that
    leaves the data files alone still re-arms the partitions it
    touches, and a partition no entry applies to keeps the files-only
    fingerprint of earlier states."""
    snap = table.current_snapshot()
    if snap is None:
        return {}
    entries = list(snap.delete_files or [])
    seq = table._file_seq_of() if entries else {}
    by_part: dict[str, list[str]] = {}
    for f in snap.files:
        by_part.setdefault(table._partition_of(f), []).append(f)
    out = {}
    for part, files in by_part.items():
        files = sorted(files)
        canon = {_canon(f) for f in files}
        applied = [e for e in entries
                   if table._entry_applies(e, canon, seq)]
        key = files + sorted(e["path"] for e in applied)
        out[part] = (hashlib.md5("\n".join(key).encode()).hexdigest(),
                     files, applied)
    return out


def _stats_for_partitions(
    table: ParquetMaintainedTable, parts: list[tuple[str, str, list, list]],
    columns: list[str],
) -> DataFrame:
    """State rows of the ``(partition, fingerprint, files, entries)``
    in ``parts``: ONE scan of all their files, with the union of their
    delete entries applied (exact: delete application is per file),
    grouped by the partition of each row's file. One all-NULL marker
    row per partition, with no ``_FP``, carries its fingerprint, so a
    partition whose rows are all deleted still gets its row (zero
    counts, the sketch of no value)."""
    files = [f for _, _, fs, _ in parts for f in fs]
    entries = list({e["path"]: e for _, _, _, es in parts
                    for e in es}.values())
    rows = table._read_effective(files, entries, with_lineage=True).select(
        table._partition_key().alias("partition"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.col(_FP),
        *[F.col(c) for c in columns],
    )
    marks = local_frame(
        table.spark,
        [(p, fp) + (None,) * (len(columns) + 1) for p, fp, _, _ in parts],
        T.StructType([T.StructField(f.name, f.dataType, True)
                      for f in rows.schema.fields]),
    )
    return rows.unionByName(marks).groupBy("partition").agg(
        F.max("fingerprint").alias("fingerprint"),
        F.count(_FP).alias("row_count"),
        # a marker row is NULL in every column but is no table row
        *[(F.count(_FP) - F.count(c)).alias(f"null_{c}") for c in columns],
        # mergeable NDV state: the binary HLL sketch, not an estimate —
        # estimates don't merge, sketches do (register-wise max)
        *[
            F.hll_sketch_agg(F.col(c).cast("string")).alias(f"ndv_{c}")
            for c in columns
        ],
    )


def incremental_partition_stats(
    table: ParquetMaintainedTable,
    columns: list[str],
    prior: DataFrame | None = None,
) -> tuple[DataFrame, list[str]]:
    """Per-partition stats state for the current snapshot, reusing
    ``prior`` rows whose partition fingerprint is unchanged.

    Returns ``(state_df, recomputed_partitions)`` where ``state_df``
    has one row per live partition: ``(partition, fingerprint,
    row_count, null_<col>...)``. Dropped partitions leave the state;
    new/changed ones are scanned. The scan cost is proportional to
    CHANGED data only."""
    spark = table.spark
    current = partition_fingerprints(table)
    prior_fps: dict[str, object] = {}
    if prior is not None:
        prior_fps = {
            r["partition"]: r for r in prior.collect()
        }  # state is one row per partition — metadata-sized

    schema = (
        "partition string, fingerprint string, row_count long, "
        + ", ".join(f"null_{c} long" for c in columns)
        + ", "
        + ", ".join(f"ndv_{c} binary" for c in columns)
    )
    reused_rows = []
    to_compute: list[tuple[str, str, list[str], list]] = []
    for part, (fp, files, entries) in sorted(current.items()):
        prev = prior_fps.get(part)
        if prev is not None and prev["fingerprint"] == fp:
            reused_rows.append(
                tuple(
                    prev[c]
                    for c in ["partition", "fingerprint", "row_count"]
                    + [f"null_{c}" for c in columns]
                    + [f"ndv_{c}" for c in columns]
                )
            )
        else:
            to_compute.append((part, fp, files, entries))

    computed = (_stats_for_partitions(table, to_compute, columns)
                if to_compute else None)

    reused = local_frame(spark, reused_rows, schema) if reused_rows else None
    if computed is None and reused is None:
        return local_frame(spark, [], schema), []
    state = (
        computed
        if reused is None
        else (reused if computed is None else reused.unionByName(computed))
    )
    return state, [p for p, _, _, _ in to_compute]


def table_null_fractions(spark, rows: list, columns: list[str]) -> DataFrame:
    """Fold the partition-state ``rows`` into the table-level SHOW
    STATS relation — exact, because counts are mergeable. The sums run
    on the driver (SQL ``sum``: NULL over no values) and the result is
    a local frame; the null fraction stays Spark's
    ``null_count / row_count`` double division, folded into the local
    relation, so collecting it runs no Spark job."""

    def total(name: str):
        vals = [r[name] for r in rows if r[name] is not None]
        return sum(vals) if vals else None

    n = total("row_count")
    return local_frame(
        spark,
        [(c, n, total(f"null_{c}")) for c in columns],
        "column_name string, row_count long, null_count long",
    ).select(
        "column_name",
        "row_count",
        "null_count",
        (
            F.col("null_count").cast("double") / F.col("row_count").cast("double")
        ).alias("null_fraction"),
    )


def table_ndv(state: DataFrame, columns: list[str]) -> DataFrame:
    """Table-level distinct-count estimates from the partition state:
    union the per-partition HLL sketches (register-wise max — one
    metadata-sized aggregation) and read the estimate. Equal to
    sketching the full table directly, with ZERO data rescanned for
    carried-forward partitions — the 100 TB NDV path the reference's
    full-table ANALYZE loop cannot take."""
    merged = state.agg(
        *[F.hll_union_agg(f"ndv_{c}").alias(f"ndv_{c}") for c in columns]
    )
    stack_args = ", ".join(
        f"'{c}', hll_sketch_estimate(`ndv_{c}`)" for c in columns
    )
    return merged.select(
        F.expr(
            f"stack({len(columns)}, {stack_args}) AS (column_name, distinct_count)"
        )
    )
