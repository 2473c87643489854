"""The maintenance-schedule table — the reference's one defined schema.

Reference: ``trino_iceberg_maintenance/__main__.py:40-57`` (DDL, 12
columns, one row per managed table) and ``__main__.py:83-99``
(``MaintenanceProperties`` NamedTuple hydrated from a full scan).

Two things live here:

1. ``SCHEDULE_SCHEMA`` + parquet-backed create/read/write/stamp for the
   real orchestrator (SURVEY.md §2.1 S1/S4/S8). The schedule is a
   directory holding ONE parquet data file. Every read and write of it
   is driver-side pyarrow, and every write swaps in a whole new file
   with ``os.replace`` (:func:`write_rows`), so a reader sees the old
   or the new schedule, never a partial one, and a crash mid-write
   leaves the old one in place.
2. A **deterministic synthesized schedule** derived from the ``nation``
   table, expressed twice — as a DataFrame plan (:func:`synth_schedule`)
   and as DuckDB SQL (``SYNTH_SCHEDULE_CTE``) — so every schedule query
   in ``__spark_entry__.queries()`` is oracle-checkable. The synthesis
   covers the reference's whole state space: flags NULL/0/1, NULL vs
   set watermarks, NULL vs set periods (including the
   NULL-period-with-watermark misconfiguration of ``__main__.py:165``).
"""

from __future__ import annotations

import contextlib
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from trino_iceberg_maintenance_spark.sources.locks import DirLock, dir_lock
from trino_iceberg_maintenance_spark.sources.tables import (
    arrow_table,
    conform,
    load_table,
    local_frame,
)

#: __main__.py:42-55, Trino types mapped per SURVEY.md §1.1
SCHEDULE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), nullable=False),
        T.StructField("should_analyze", T.IntegerType()),
        T.StructField("last_analyzed_on", T.TimestampType()),
        T.StructField("days_to_analyze", T.IntegerType()),
        T.StructField("columns_to_analyze", T.ArrayType(T.StringType())),
        T.StructField("should_optimize", T.IntegerType()),
        T.StructField("last_optimized_on", T.TimestampType()),
        T.StructField("days_to_optimize", T.IntegerType()),
        T.StructField("should_expire_snapshots", T.IntegerType()),
        T.StructField("retention_days_snapshots", T.IntegerType()),
        T.StructField("should_remove_orphan_files", T.IntegerType()),
        T.StructField("retention_days_orphan_files", T.IntegerType()),
        # extension columns (same flag + cadence + watermark shape as
        # the reference's four stages, __main__.py:141-199): gate the
        # orchestrator's optional data-quality expectations stage
        T.StructField("should_check_expectations", T.IntegerType()),
        T.StructField("last_checked_on", T.TimestampType()),
        T.StructField("days_to_check", T.IntegerType()),
        # …and the optional persisted-index maintenance stage (stage 6):
        # extend the table's registered indexes (MinHash dedup / IVF
        # ANN / BM25) with rows appended since the last covered source
        # snapshot
        T.StructField("should_maintain_indexes", T.IntegerType()),
        T.StructField("last_indexed_on", T.TimestampType()),
        T.StructField("days_to_index", T.IntegerType()),
    ]
)

# Anchor timestamps for the synthesized schedule (all arithmetic is
# relative to these, and the deterministic "now" used by oracle-checked
# due queries is NOW_LITERAL — see plans/due.py).
_ANALYZE_EPOCH = "2026-06-01 00:00:00"
_OPTIMIZE_EPOCH = "2026-05-15 00:00:00"
_CHECK_EPOCH = "2026-05-01 00:00:00"
_INDEX_EPOCH = "2026-04-15 00:00:00"


def synth_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic schedule of 25 managed tables derived from
    ``nation``. Mirrors ``SYNTH_SCHEDULE_CTE`` exactly."""
    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        F.concat(F.lit("tbl_"), F.lower(F.col("n_name"))).alias("table_name"),
        # tri-state flags: NULL / 0 / 1 (__main__.py:141,151,161,181)
        F.when(k % 5 == 0, F.lit(None)).otherwise((k % 2).cast("int")).alias(
            "should_analyze"
        ),
        F.when(k % 4 == 0, F.lit(None))
        .otherwise(
            F.expr(
                f"TIMESTAMP '{_ANALYZE_EPOCH}' + make_interval(0, 0, 0, "
                "CAST(n_nationkey * 3 AS INT))"
            )
        )
        .alias("last_analyzed_on"),
        F.when(k % 7 == 6, F.lit(None))
        .otherwise((F.lit(10) + k % 20).cast("int"))
        .alias("days_to_analyze"),
        F.when(k % 3 == 0, F.lit(None))
        .otherwise(F.array(F.lit("a"), F.lit("b")))
        .alias("columns_to_analyze"),
        F.when(k % 6 == 3, F.lit(None)).otherwise(((k + 1) % 2).cast("int")).alias(
            "should_optimize"
        ),
        F.when(k % 3 == 2, F.lit(None))
        .otherwise(
            F.expr(
                f"TIMESTAMP '{_OPTIMIZE_EPOCH}' + make_interval(0, 0, 0, "
                "CAST(n_nationkey * 5 AS INT))"
            )
        )
        .alias("last_optimized_on"),
        F.when(k % 8 == 7, F.lit(None))
        .otherwise((F.lit(5) + k % 30).cast("int"))
        .alias("days_to_optimize"),
        F.when(k % 4 == 1, F.lit(None)).otherwise((k % 2).cast("int")).alias(
            "should_expire_snapshots"
        ),
        (F.lit(3) + k % 10).cast("int").alias("retention_days_snapshots"),
        F.when(k % 5 == 2, F.lit(None)).otherwise(((k + 1) % 2).cast("int")).alias(
            "should_remove_orphan_files"
        ),
        (F.lit(1) + k % 14).cast("int").alias("retention_days_orphan_files"),
        F.when(k % 7 == 2, F.lit(None)).otherwise((k % 2).cast("int")).alias(
            "should_check_expectations"
        ),
        F.when(k % 5 == 4, F.lit(None))
        .otherwise(
            F.expr(
                f"TIMESTAMP '{_CHECK_EPOCH}' + make_interval(0, 0, 0, "
                "CAST(n_nationkey * 2 AS INT))"
            )
        )
        .alias("last_checked_on"),
        F.when(k % 9 == 8, F.lit(None))
        .otherwise((F.lit(7) + k % 21).cast("int"))
        .alias("days_to_check"),
        F.when(k % 6 == 1, F.lit(None)).otherwise(((k + 1) % 2).cast("int")).alias(
            "should_maintain_indexes"
        ),
        F.when(k % 4 == 3, F.lit(None))
        .otherwise(
            F.expr(
                f"TIMESTAMP '{_INDEX_EPOCH}' + make_interval(0, 0, 0, "
                "CAST(n_nationkey * 4 AS INT))"
            )
        )
        .alias("last_indexed_on"),
        F.when(k % 10 == 9, F.lit(None))
        .otherwise((F.lit(4) + k % 25).cast("int"))
        .alias("days_to_index"),
    )


#: DuckDB twin of synth_schedule — byte-identical semantics. Usable as
#: ``WITH schedule AS ({SYNTH_SCHEDULE_CTE}) SELECT ...``.
SYNTH_SCHEDULE_CTE = f"""
SELECT
  'tbl_' || lower(n_name) AS table_name,
  CASE WHEN n_nationkey % 5 = 0 THEN NULL
       ELSE CAST(n_nationkey % 2 AS INT) END AS should_analyze,
  CASE WHEN n_nationkey % 4 = 0 THEN NULL
       ELSE TIMESTAMP '{_ANALYZE_EPOCH}'
            + INTERVAL (n_nationkey * 3) DAY END AS last_analyzed_on,
  CASE WHEN n_nationkey % 7 = 6 THEN NULL
       ELSE CAST(10 + n_nationkey % 20 AS INT) END AS days_to_analyze,
  CASE WHEN n_nationkey % 3 = 0 THEN NULL
       ELSE ['a', 'b'] END AS columns_to_analyze,
  CASE WHEN n_nationkey % 6 = 3 THEN NULL
       ELSE CAST((n_nationkey + 1) % 2 AS INT) END AS should_optimize,
  CASE WHEN n_nationkey % 3 = 2 THEN NULL
       ELSE TIMESTAMP '{_OPTIMIZE_EPOCH}'
            + INTERVAL (n_nationkey * 5) DAY END AS last_optimized_on,
  CASE WHEN n_nationkey % 8 = 7 THEN NULL
       ELSE CAST(5 + n_nationkey % 30 AS INT) END AS days_to_optimize,
  CASE WHEN n_nationkey % 4 = 1 THEN NULL
       ELSE CAST(n_nationkey % 2 AS INT) END AS should_expire_snapshots,
  CAST(3 + n_nationkey % 10 AS INT) AS retention_days_snapshots,
  CASE WHEN n_nationkey % 5 = 2 THEN NULL
       ELSE CAST((n_nationkey + 1) % 2 AS INT) END AS should_remove_orphan_files,
  CAST(1 + n_nationkey % 14 AS INT) AS retention_days_orphan_files,
  CASE WHEN n_nationkey % 7 = 2 THEN NULL
       ELSE CAST(n_nationkey % 2 AS INT) END AS should_check_expectations,
  CASE WHEN n_nationkey % 5 = 4 THEN NULL
       ELSE TIMESTAMP '{_CHECK_EPOCH}'
            + INTERVAL (n_nationkey * 2) DAY END AS last_checked_on,
  CASE WHEN n_nationkey % 9 = 8 THEN NULL
       ELSE CAST(7 + n_nationkey % 21 AS INT) END AS days_to_check,
  CASE WHEN n_nationkey % 6 = 1 THEN NULL
       ELSE CAST((n_nationkey + 1) % 2 AS INT) END AS should_maintain_indexes,
  CASE WHEN n_nationkey % 4 = 3 THEN NULL
       ELSE TIMESTAMP '{_INDEX_EPOCH}'
            + INTERVAL (n_nationkey * 4) DAY END AS last_indexed_on,
  CASE WHEN n_nationkey % 10 = 9 THEN NULL
       ELSE CAST(4 + n_nationkey % 25 AS INT) END AS days_to_index
FROM nation
"""


def data_file(path: str) -> str | None:
    """The one visible data file of a single-file parquet relation
    directory, or None when there is none. Visible means what Spark
    reads: a name not starting with ``.`` or ``_`` (so ``_SUCCESS``,
    ``.crc`` checksums and the hidden temp files of :func:`write_rows`
    are skipped)."""
    if not os.path.isdir(path):
        return None
    names = [n for n in os.listdir(path) if not n.startswith((".", "_"))]
    if len(names) > 1:
        raise ValueError(f"{path} holds {len(names)} data files, expected one")
    return os.path.join(path, names[0]) if names else None


def read_table(path: str) -> pa.Table:
    """Read the relation at ``path`` driver-side. The data file is
    opened once, so a concurrent :func:`write_rows` is seen whole:
    either the file before its ``os.replace`` or the one after."""
    f = data_file(path)
    if f is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    with open(f, "rb") as fh:
        # Spark writes INT96 timestamps by default
        return pq.read_table(fh, coerce_int96_timestamp_unit="us")


def to_rows(table: pa.Table, schema: T.StructType) -> list[tuple]:
    """``table`` as Python rows in ``schema``'s column order, values as
    Spark's ``collect`` gives them. Columns the file lacks read as
    NULL, like a Spark read with an explicit schema."""
    table = conform(table, schema)
    cols = []
    for field, col in zip(schema.fields, table.columns):
        if isinstance(field.dataType, T.TimestampType):
            # through Spark's own converter, so naive datetimes
            # round-trip exactly as they do through createDataFrame
            cols.append([
                None if v is None else field.dataType.fromInternal(v)
                for v in col.cast(pa.int64()).to_pylist()
            ])
        else:
            cols.append(col.to_pylist())
    return list(zip(*cols))


def _replace(path: str, table: pa.Table) -> None:
    """Swap ``table`` in as the relation's one data file: write a
    hidden temp file beside it, fsync, drop Spark's checksum sibling,
    then ``os.replace`` (the lake manifest's commit recipe). A crash
    at any point leaves either the old file or the new one; a leftover
    temp file is hidden, so no reader sees it."""
    os.makedirs(path, exist_ok=True)
    target = data_file(path) or os.path.join(path, "part-00000.parquet")
    folder, name = os.path.split(target)
    tmp = os.path.join(folder, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as fh:
            pq.write_table(table, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # a stale .crc would fail every later Spark read of the file
        # with ChecksumException; removed first, so a crash before the
        # replace leaves the old file merely unchecksummed
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(folder, f".{name}.crc"))
        os.replace(tmp, target)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def write_rows(path: str, rows: list, schema: T.StructType) -> None:
    """Atomically replace the relation at ``path`` with ``rows``
    (tuples or Rows in ``schema``'s column order)."""
    _replace(path, arrow_table(rows, schema))


def schedule_lock(path: str) -> DirLock:
    """The lock of the schedule at ``path`` (``sources.locks.dir_lock``):
    every writer of one schedule — stamps, whole-table rewrites, the
    orchestrator's sibling relations — serializes on it, in this
    process and across processes."""
    return dir_lock(path)


def stamp(path: str, table_name: str, column: str, value) -> None:
    """``UPDATE schedule SET <column> = value WHERE table_name = ?``
    (__main__.py:172-176) without Spark: under :func:`schedule_lock`,
    re-read the schedule's data file, set ``column`` on the matching
    row and swap the file in with :func:`write_rows`'s atomic
    replace."""
    i = SCHEDULE_SCHEMA.fieldNames().index(column)
    with schedule_lock(path):
        rows = [
            # table_name is the first column
            r[:i] + (value,) + r[i + 1:] if r[0] == table_name else r
            for r in to_rows(read_table(path), SCHEDULE_SCHEMA)
        ]
        write_rows(path, rows, SCHEDULE_SCHEMA)


def create_if_not_exists_schedule(spark: SparkSession, path: str) -> None:
    """Idempotent config-table creation (__main__.py:40-57 →
    ``CREATE TABLE IF NOT EXISTS``): write an empty schedule only when
    ``path`` holds no schedule data file. An existing one is read, so
    a corrupt or unreadable schedule raises instead of being replaced
    by an empty one (which would forget every managed table)."""
    if data_file(path) is None:
        write_rows(path, [], SCHEDULE_SCHEMA)
    else:
        read_schedule(spark, path)


def read_schedule(spark: SparkSession, path: str) -> DataFrame:
    """S1 — full config scan (__main__.py:62-63), read driver-side:
    the schedule's one data file as a local DataFrame
    (:func:`~trino_iceberg_maintenance_spark.sources.tables.local_frame`).
    Every sweep and every ``fleet_report`` starts with this read, and
    its ``collect()`` runs no Spark job."""
    return local_frame(spark, read_table(path), SCHEDULE_SCHEMA)


def write_schedule(df: DataFrame, path: str) -> None:
    """Replace the (tiny, bounded) config table with ``df``'s rows:
    collected to the driver, then written as one parquet file and
    swapped in with an atomic ``os.replace`` (:func:`write_rows`)
    under :func:`schedule_lock`. The collect runs outside the lock, so
    no Spark job holds up the sweep's stamps. The rewrite replaces the
    whole table: a stamp that lands before it is replaced with the
    rest, a stamp that waits on the lock is applied to the new table,
    and no stamp written from the old table can overwrite the edit."""
    rows = df.select(*SCHEDULE_SCHEMA.fieldNames()).collect()
    with schedule_lock(path):
        write_rows(path, rows, SCHEDULE_SCHEMA)
