"""Readers for the driver-generated parquet tables (TESTDATA.md).

Mirrors the reference's source surface (SURVEY.md §2.1 S1/S2): plain
scans that Catalyst can push filters and column pruning into. At
cluster scale these would be Iceberg/warehouse tables; the parquet
reader keeps the same DataFrame contract.

Also home of :func:`local_frame`, the one way the driver turns rows it
already holds (metadata relations, the schedule, stats state) into a
DataFrame.
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark rejects the
    physical type outright ([PARQUET_TYPE_ILLEGAL]), so they need the
    nanosAsLong escape hatch + an explicit cast."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain ``spark.read.parquet`` so predicate
    pushdown / column pruning reach the scan (verified via
    ``.explain``: PushedFilters / ReadSchema).

    Nanosecond-timestamp columns (e.g. ``events.ts``) are read as ns
    longs and truncated to microsecond TIMESTAMP_NTZ — the same
    truncation DuckDB applies, and NTZ so results are independent of
    the session timezone. Integer ``DIV`` keeps the arithmetic exact
    (double division would lose sub-µs precision at 1.7e18 ns epochs).
    """
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_ts_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c,
            F.expr(
                f"timestampadd(MICROSECOND, `{c}` DIV 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    # preserve original column order
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster default
    parallelism) input partitions before a compute-heavy map stage.

    A small table often arrives as ONE parquet split, which serializes
    per-row-expensive work (shingling, hashing, UDF batches) onto a
    single core. At warehouse scale scans already carry thousands of
    splits and this is a no-op — the repartition only fires when the
    scan is narrower than the cluster."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    suffix: str = "",
) -> list[str]:
    """Register the given tables (default: all) as temp views so the
    engine surface is reachable from plain ``spark.sql`` — the SQL
    front door (the driver's DuckDB oracle queries run near-verbatim
    against these views). Events go through :func:`load_table`'s
    ns→µs handling like everywhere else. ``suffix`` namespaces the
    views; returns the registered view names."""
    out = []
    for t in names:
        view = f"{t}{suffix}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(view)
        out.append(view)
    return out


def arrow_table(rows, schema: T.StructType) -> pa.Table:
    """``rows`` (tuples or Rows in ``schema``'s column order) as an
    Arrow table of ``schema``'s Arrow type. Timestamps go through
    Spark's own ``toInternal``, so a naive datetime maps to the same
    instant as it does through ``createDataFrame(rows)``."""
    arrow = to_arrow_schema(schema)
    arrays = []
    for i, (field, af) in enumerate(zip(schema.fields, arrow)):
        values = [r[i] for r in rows]
        if isinstance(field.dataType, T.TimestampType):
            values = [None if v is None else field.dataType.toInternal(v)
                      for v in values]
        arrays.append(pa.array(values, af.type))
    return pa.Table.from_arrays(arrays, schema=arrow)


def conform(table: pa.Table, schema: T.StructType) -> pa.Table:
    """``table`` with ``schema``'s columns, in its order and Arrow
    types. Columns the table lacks read as NULL, like a Spark read
    with an explicit schema."""
    arrow = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [
            table.column(af.name).cast(af.type)
            if af.name in table.column_names
            else pa.nulls(table.num_rows, af.type)
            for af in arrow
        ],
        schema=arrow,
    )


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """Driver-held ``data`` — a list of rows in ``schema``'s column
    order, or an Arrow table — as a DataFrame over a ``LocalRelation``.

    ``spark.createDataFrame(<list of rows>)`` builds an RDD through
    Python workers, so every action on it is a Spark job. From an Arrow
    table Spark builds a ``LocalRelation`` instead: ``collect()``, and
    projections or filters that the optimizer folds into it, run on the
    driver with no job. Metadata-sized relations are built here so the
    sweep runs no Spark job over its own bookkeeping. ``schema`` is a
    ``StructType`` or a DDL string."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if isinstance(data, pa.Table):
        data = conform(data, schema)
    else:
        data = arrow_table(data, schema)
    return spark.createDataFrame(data, schema)
