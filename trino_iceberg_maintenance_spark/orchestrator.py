"""Maintenance orchestrator — the reference's entry points rebuilt.

Reference mapping (SURVEY.md §2.5, §3):

- ``run_maintenance`` (``__main__.py:60-80``): config scan → one task
  per row on a bounded thread pool (``NUM_WORKERS`` default 5,
  ``__main__.py:13``) → gather with per-task fault isolation (one bad
  table never aborts the batch, ``__main__.py:73-80``).
- ``MaintenanceTask.execute`` (``__main__.py:121-201``): a fixed
  per-table pipeline of stages. :data:`STAGES` is the single place a
  stage's flag column, cadence (watermark + days columns) and work
  method are defined: orphan removal → snapshot expiry → delete-file
  budget → manifest rewrite → optimize → analyze → expectations →
  indexes → index-lag observation. When the table is over its
  delete-file budget and optimize is due on its day cadence, the
  budget stage leaves the backlog to optimize, whose one rewrite
  both compacts and purges (``purge_deletes(bin_pack=True)``).
  ``Orchestrator._execute_table`` is a loop over it: a stage whose
  flag is NULL/0 is skipped, otherwise its method runs with a lazy
  day-due check, and when the method reports that it did the work,
  the stage's watermark is stamped.
  Stages without a flag gate themselves on the orchestrator's
  settings. The reference's four triples come from
  ``plans.due.ACTIONS``, and ``fleet_report``'s ``*_due`` columns are
  built from the same table.
- ``MaintenanceProperties`` (``__main__.py:83-99``): typed row record.
- clock split (§3.3): due-date checks use the injectable ``clock``
  (the reference's client-side ``datetime.now()``, freezegun-fakeable);
  watermark values also come from ``clock`` — on a real cluster both
  are driver-side, so the reference's client/server split collapses
  deliberately.
- The reference's process-wide ``RLock`` around watermark UPDATEs
  (``__main__.py:18,171-176``) becomes the schedule's lock
  (``sources.schedule.schedule_lock``, one per schedule path) around a
  driver-side stamp of the config table (``sources.schedule.stamp``):
  pyarrow re-reads the schedule's one parquet file, sets the watermark
  on the matching row, writes a hidden temp file and ``os.replace``s it
  over the data file. ``write_schedule`` takes the same lock for its
  file replace, so an edit and a stamp never overwrite each other with
  a stale table. A stamp takes milliseconds and runs no Spark job, so
  the workers barely queue on the lock, and a crash leaves the old or
  the new schedule whole. The index registry beside the schedule is
  rewritten the same way. Unlike the reference's, the lock also
  reaches other processes (``fcntl.flock``, ``sources.locks``). It is
  taken before any table lock, never after one.
- The expectation, clustering-decay and index-lag histories are
  maintained tables beside the schedule, appended under the same lock
  through ``_append_audit`` (which self-compacts them) and read
  through ``_read_audit``.
- Bookkeeping runs on the driver. The schedule read, the rows an audit
  appends, ``fleet_report`` and the lake's metadata relations are
  built by ``sources.tables.local_frame`` as Arrow ``LocalRelation``
  frames, whose ``collect()`` runs no Spark job. Stage 4 on a
  partitioned table collects the incremental state once, writes it
  and folds it into the stats relation on the driver
  (``plans.incremental.table_null_fractions``), so when no partition
  changed, ANALYZE and the stats sink's ``collect()`` run no job.

Spark's scheduler is thread-safe, so concurrent per-table jobs simply
interleave on the cluster; with many tables this fans out cluster-wide
while each table's pipeline stays sequential (the ordering contract).
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import logging
import os
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from trino_iceberg_maintenance_spark.plans import stats as stats_plans
from trino_iceberg_maintenance_spark.plans.due import ACTIONS
from trino_iceberg_maintenance_spark.plans.incremental import (
    incremental_partition_stats,
    table_null_fractions,
)
from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable
from trino_iceberg_maintenance_spark.sources.schedule import (
    SCHEDULE_SCHEMA,
    data_file,
    read_schedule,
    read_table,
    schedule_lock,
    stamp,
    to_rows,
    write_rows,
)
from trino_iceberg_maintenance_spark.sources.tables import local_frame

logger = logging.getLogger(__name__)

DEFAULT_NUM_WORKERS = 5  # __main__.py:13

#: durable stage-5 audit relation: one row per (table, check, rule) —
#: rule-count-sized per run, appended under the schedule lock
EXPECTATION_AUDIT_SCHEMA = (
    "table_name string, checked_on timestamp, rule string, "
    "n_rows bigint, n_violations bigint, passed boolean"
)

#: durable clustering-decay history (r11): one row per (table, sweep)
#: when the decay gate is enabled — the measured clustering_depth_report
#: next to whether it pulled optimize forward. Lives beside the stage-5
#: audit relation, same self-compaction.
CLUSTERING_AUDIT_SCHEMA = (
    "table_name string, measured_on timestamp, column string, "
    "n_files int, with_stats int, avg_overlap double, max_overlap int, "
    "triggered boolean"
)

#: durable per-sweep index-staleness history (VERDICT r11 #8): one
#: row per (table with registered indexes, sweep), recorded AFTER
#: stage 6 — so fleet_report can show the lag TREND (delta vs the
#: previous sweep) without the reader joining history tables. ``seq``
#: is a per-table monotone counter (sweeps can share a frozen-clock
#: timestamp; insertion order is the truth).
INDEX_LAG_AUDIT_SCHEMA = (
    "table_name string, measured_on timestamp, seq long, index_lag long"
)

#: durable index registration: enough to reconstruct a standard
#: maintainer in a fresh session (custom extend_fns stay in-memory)
INDEX_REGISTRY_SCHEMA = T.StructType([
    T.StructField("source_table", T.StringType()),
    T.StructField("index_name", T.StringType()),
    T.StructField("index_path", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_cells", T.IntegerType()),
    T.StructField("retract_key", T.StringType()),
    T.StructField("num_hashes", T.IntegerType()),
    T.StructField("band_width", T.IntegerType()),
])

#: audit self-maintenance (VERDICT r8 #4): each check or sweep appends
#: one small file to an audit relation — at fleet scale x daily
#: cadence that is exactly the small-files pathology this tool exists
#: to fix. Once an audit relation's LIVE file count reaches this
#: bound, the appending run bin-packs it (optimize) and GCs the
#: superseded history
#: (expire + orphan sweep), so the on-disk file count stays bounded
#: forever. History lives in ROWS (table_name, checked_on), never in
#: snapshots, so dropping pre-compaction snapshots loses nothing.
AUDIT_COMPACT_FILE_THRESHOLD = 16


@dataclass(frozen=True)
class MaintenanceProperties:
    """__main__.py:83-99 — one config row, typed."""

    table_name: str
    should_analyze: int | None
    last_analyzed_on: dt.datetime | None
    days_to_analyze: int | None
    columns_to_analyze: list[str] | None
    should_optimize: int | None
    last_optimized_on: dt.datetime | None
    days_to_optimize: int | None
    should_expire_snapshots: int | None
    retention_days_snapshots: int | None
    should_remove_orphan_files: int | None
    retention_days_orphan_files: int | None
    should_check_expectations: int | None = None
    last_checked_on: dt.datetime | None = None
    days_to_check: int | None = None
    should_maintain_indexes: int | None = None
    last_indexed_on: dt.datetime | None = None
    days_to_index: int | None = None

    @classmethod
    def from_row(cls, row: Row) -> "MaintenanceProperties":
        return cls(**{f.name: row[f.name] for f in SCHEDULE_SCHEMA.fields})


class MaintenanceTaskException(Exception):
    """__main__.py:102-109 — failure wrapper carrying the row."""

    def __init__(self, properties: MaintenanceProperties, cause: BaseException):
        super().__init__(f"maintenance failed for {properties.table_name}: {cause}")
        self.properties = properties
        self.cause = cause


def _truthy(flag: int | None) -> bool:
    """NULL/0 ⇒ skip; Python truthiness of the INTEGER flag
    (__main__.py:141,151,161,181)."""
    return bool(flag)


def standard_index_maintainer(kind: str, n_cells: int = 16,
                              num_hashes: int | None = None):
    """The ``extend_fn`` for the built-in persisted-index kinds —
    the SINGLE definition shared by programmatic registration and the
    CLI's ``INDEX_MAINTAINERS_JSON`` knob (one wrapper to keep in
    sync, so indexes registered either way can never drift).
    Each callable takes ``(index_table, new_rows, properties)``,
    appends index rows for the NEW source rows only, and commits
    ``properties`` atomically with its snapshot:

    - ``bm25``: postings + doc lengths from (doc_id, text) — build
      ≡ extend, symmetric appends;
    - ``ivf``: bootstrap k-means centroids (``n_cells``) on the first
      non-empty batch of (vec_id, embedding), assign-and-append under
      the existing centroids after (centroids are not re-fit until a
      rebuild);
    - ``minhash``: MinHash signature + shingle-set rows from
      (doc_id, text).
    """
    if kind == "bm25":
        from trino_iceberg_maintenance_spark.operators.text import (
            extend_bm25_index,
        )

        return lambda it, df, props: extend_bm25_index(
            it, df.select("doc_id", "text"), properties=props
        )
    if kind == "ivf":
        from trino_iceberg_maintenance_spark.operators.similarity import (
            build_ivf_index,
            extend_ivf_index,
        )

        def ivf_fn(it, df, props):
            batch = df.select("vec_id", "embedding")
            if it.current_snapshot() is not None and it.current_files():
                extend_ivf_index(it, batch, properties=props)
            else:
                build_ivf_index(
                    it, batch, n_cells=n_cells, properties=props
                )

        return ivf_fn
    if kind == "minhash":
        from trino_iceberg_maintenance_spark.operators.dedup import (
            NUM_HASHES,
            extend_dedup_index,
        )

        nh = int(num_hashes) if num_hashes else NUM_HASHES
        return lambda it, df, props: extend_dedup_index(
            it, df.select("doc_id", "text"), num_hashes=nh,
            properties=props
        )
    raise ValueError(
        f"unknown index kind {kind!r} (expected bm25 | ivf | minhash)"
    )


def _cursor_property_key(source_name: str, index_name: str) -> str:
    return f"index.covers_snapshot.{source_name}.{index_name}"


#: table property stamped when a decay-triggered optimize failed to
#: improve the measured overlap (ADVICE r11: size-capped compact-only
#: rewrites) — the decay gate stays suppressed until the table decays
#: past this value. Cleared by the next optimize that DOES improve.
_DECAY_STUCK_OVERLAP_KEY = "maintenance.decay_stuck_overlap"


def _covered_snapshot_id(
    index_table, source_name: str, index_name: str
) -> int | None:
    """The source snapshot id an index is current through. Two
    redundant records, MAX wins:

    - the ``covers_snapshot`` SNAPSHOT property the extend committed
      (atomic with the index rows — the source of truth, but it lives
      in a snapshot that index-side maintenance expiry can eventually
      drop);
    - the TBLPROPERTIES twin stage 6 stamps right after the extend
      (table-level metadata — survives index compaction/expiry, but
      written in a second step, so a crash between the two leaves
      only the snapshot marker).

    Either alone can go missing; losing BOTH would silently trigger a
    full re-index into a non-empty index (duplicate rows), so the
    read path takes the max of whichever survive. Metadata-only (one
    manifest walk + one _table.json read); None = the index has never
    covered this source (bootstrap: index the full table)."""
    walked = None
    for s in reversed(index_table._load_manifest()):
        p = s.properties or {}
        if (
            p.get("index_of") == source_name
            and p.get("index_name") == index_name
            and "covers_snapshot" in p
        ):
            walked = int(p["covers_snapshot"])
            break
    stamped = index_table.table_properties().get(
        _cursor_property_key(source_name, index_name)
    )
    candidates = [c for c in (walked,
                              int(stamped) if stamped is not None else None)
                  if c is not None]
    return max(candidates) if candidates else None


def _due(
    watermark: dt.datetime | None, days: int | None, now: dt.datetime
) -> bool:
    """never-run OR watermark + days <= now (__main__.py:163-166).
    NULL days with a set watermark raises — the reference's
    per-table TypeError (__main__.py:165), surfaced explicitly."""
    if watermark is None:
        return True
    if days is None:
        raise ValueError("days period is NULL but watermark is set")
    return watermark + dt.timedelta(days=days) <= now


class Orchestrator:
    def __init__(
        self,
        spark: SparkSession,
        schedule_path: str,
        table_resolver: Callable[[str], ParquetMaintainedTable],
        stats_sink: Callable[[str, DataFrame], None] | None = None,
        clock: Callable[[], dt.datetime] | None = None,
        num_workers: int = DEFAULT_NUM_WORKERS,
        optimize_sort_columns: list[str] | None = None,
        optimize_zorder_columns: list[str] | None = None,
        optimize_decay_column: str | None = None,
        optimize_decay_max_overlap: float = 4.0,
        max_delete_files: int | None = None,
        rewrite_manifests_max_entries: int | None = None,
        expectation_rules: dict[str, list] | None = None,
        index_maintainers: dict[str, list] | None = None,
        analyze_from_footers: bool = False,
        rebuild_at_risk_indexes: bool = False,
        index_retraction_keys: dict[str, dict[str, str]] | None = None,
        index_bandings: dict[str, dict[str, tuple]] | None = None,
    ):
        self.spark = spark
        self.schedule_path = schedule_path
        self.table_resolver = table_resolver
        self.stats_sink = stats_sink
        self.clock = clock or (lambda: dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
        self.num_workers = num_workers
        #: when set, optimize() uses the SORT rewrite strategy on
        #: these columns (clustered files with disjoint key ranges)
        self.optimize_sort_columns = optimize_sort_columns
        #: when set, optimize() uses the Z-ORDER rewrite on these
        #: columns (Morton-clustered files: min/max pruning on every
        #: listed column). Mutually exclusive with sort columns —
        #: enforced by lake.optimize.
        self.optimize_zorder_columns = optimize_zorder_columns
        #: data-driven optimize trigger (r11, VERDICT r10 #4): when
        #: set, every sweep of an optimize-enabled table MEASURES
        #: clustering_depth_report(column) — metadata-only, answered
        #: from the commit-time stats store — and pulls optimize
        #: forward when avg_overlap exceeds the bar, even before
        #: days_to_optimize elapses. The reference's fixed-period
        #: cadence (``days_to_optimize``, __main__.py:161-177) stays
        #: as the fallback: day-due always fires; decay fires early.
        #: Each measurement is appended to the durable clustering
        #: audit relation (history + the `triggered` bit).
        self.optimize_decay_column = optimize_decay_column
        self.optimize_decay_max_overlap = float(optimize_decay_max_overlap)
        #: merge-on-read delete-file budget: when a table carries more
        #: pending delete entries, the sweep first merges positional
        #: files (rewrite_position_deletes) and, if still over budget,
        #: materializes them file-granularly (purge_deletes) — the v2
        #: counterpart of Iceberg's delete-compaction cadence. When
        #: the purge is due and optimize is due on its day cadence,
        #: optimize's bin-pack takes the purge into its one rewrite
        #: (``purge_deletes(bin_pack=True)``) and the budget stage
        #: neither merges nor purges.
        #: DEFAULT None: purging REWRITES DATA FILES, so — like
        #: every reference maintenance action — data-rewriting
        #: maintenance is opt-in per deployment, never ambient.
        self.max_delete_files = max_delete_files
        #: manifest journal budget: when a table's append-only commit
        #: journal (_manifest.log) exceeds this many entries, the
        #: sweep folds it into the compacted base — Iceberg's
        #: ``rewrite_manifests``. Metadata-only (no data files move),
        #: self-regulating (gated by the measured journal length, so a
        #: quiet table is never touched). None disables the step.
        self.rewrite_manifests_max_entries = rewrite_manifests_max_entries
        # the schedule's lock (sources.schedule.schedule_lock):
        # serializes stamps, write_schedule and the sibling relations
        # below, across threads and processes
        self._watermark_lock = schedule_lock(schedule_path)
        self.errors: list[MaintenanceTaskException] = []
        #: per-table partitions rescanned by the last incremental
        #: ANALYZE (observability + tests)
        self.last_recomputed: dict[str, list[str]] = {}
        #: per-table count of pre-store files adopted by the stage-4
        #: auto-backfill on its last ANALYZE (0 once converged)
        self.last_stats_backfill: dict[str, int] = {}
        #: opt-in stage-4 fast path: answer the null-fraction stats
        #: relation from parquet FOOTERS
        #: (metadata_aggregate — zero data pages) when the table
        #: qualifies (no pending MoR deletes, every requested
        #: column's footer null counts exact); anything else falls
        #: back to the data-path ANALYZE, so the stats surface is
        #: identical either way. Opt-in because the footer path
        #: skips the incremental NDV state update (stage 4 remains
        #: the NDV source of truth when sketches are consumed).
        self.analyze_from_footers = analyze_from_footers
        #: optional 5th stage (same flag + cadence + watermark shape
        #: as the reference's four, __main__.py:141-199): per-table
        #: declarative expectation rule sets —
        #: {table_name: [(rule_name, Column-or-SQL predicate), ...]} —
        #: evaluated in ONE aggregate pass by
        #: plans.audit.check_expectations when
        #: should_check_expectations is truthy and the
        #: last_checked_on/days_to_check cadence says due
        self.expectation_rules = expectation_rules or {}
        #: per-table result rows of the last expectations check
        #: (one row per rule; surfaced by fleet_report)
        self.last_expectations: dict[str, list[Row]] = {}
        #: optional 6th stage (same flag + cadence + watermark shape):
        #: persisted-index maintenance —
        #: {source_table_name: [(index_name, index_table, extend_fn)]}
        #: where ``extend_fn(index_table, new_rows, properties)``
        #: appends index rows for the NEW source rows and MUST commit
        #: ``properties`` atomically with its snapshot (every
        #: extend_*_index API takes ``properties=``). The orchestrator
        #: stamps ``covers_snapshot`` (the source snapshot id the
        #: index is current through) into those properties, which is
        #: both the incremental cursor (next run extends from there
        #: via snapshot_diff, O(new rows)) and the fleet_report
        #: staleness metric. Source-row DELETES are not auto-retracted
        #: — the standard production trade; retraction is delete_by_key
        #: on the index, rebuilds are scheduled maintenance.
        self.index_maintainers = index_maintainers or {}
        #: auto-remediation policy (VERDICT r9 #3): when stage 6 finds
        #: an index whose covers_snapshot the source has EXPIRED (the
        #: unrecoverable-diff failure), invoke rebuild_index inline —
        #: under the same per-table fault isolation — instead of
        #: raising. OFF by default: a rebuild is a full corpus
        #: re-extend (data-rewriting maintenance is opt-in per
        #: deployment, like purge_deletes). The policy fixes the
        #: INDEX, never the misconfiguration — fleet_report keeps
        #: flagging days_to_index > retention_days_snapshots as
        #: index_cursor_at_risk until the cadence itself is corrected.
        self.rebuild_at_risk_indexes = rebuild_at_risk_indexes
        #: opt-in DELETE retraction for stage 6 —
        #: ``{source_table: {index_name: key_column}}``. When a key is
        #: registered, each incremental run first retracts the diff's
        #: deleted keys from the index (one equality-delete commit via
        #: delete_by_key — sequence-numbered BEFORE the extend append,
        #: so an update's re-inserted rows survive: the Iceberg v2
        #: upsert shape), then extends with the inserts. Without a
        #: key the default contract stands: source deletes are not
        #: auto-retracted. The built-in kinds' natural keys are
        #: ``doc_id`` (bm25, minhash) and ``vec_id`` (ivf); the
        #: equality-delete files this accrues on the index table are
        #: compacted by the same max_delete_files maintenance as any
        #: other table. Durable when registered through
        #: register_index(kind=..., retract_key=...) — the registry
        #: row carries the key, so a fresh session rediscovers it;
        #: keys passed via this constructor dict (or alongside a
        #: custom extend_fn) stay session-scoped.
        self.index_retraction_keys = index_retraction_keys or {}
        #: {source_table: {index_name: (num_hashes, band_width)}} —
        #: the LSH banding each minhash index was registered under
        #: (r11, VERDICT r10 #5: the tuner's pick must follow the
        #: index). Persisted in the registry, so a restart
        #: rediscovers the banding the index was built with. Absent
        #: entry = module defaults.
        #: Seedable via the ctor (the CLI's five-element
        #: INDEX_MAINTAINERS_JSON form).
        self.index_banding: dict[str, dict[str, tuple]] = {
            t: dict(v) for t, v in (index_bandings or {}).items()
        }
        #: durable siblings of the schedule table (VERDICT r7 #3/#4):
        #: the stage-5 audit relation and the index registry live
        #: NEXT TO the schedule so a fresh session finds both from
        #: the one path it already knows.
        self.audit_path = schedule_path + "_expectation_audit"
        self.clustering_audit_path = schedule_path + "_clustering_audit"
        self.index_lag_audit_path = schedule_path + "_index_lag_audit"
        self.index_registry_path = schedule_path + "_index_registry"
        # discovery: registrations persisted by register_index() in
        # any prior session are merged in (explicit in-memory/ctor
        # registrations win per (table, index_name)) — a restarted
        # dashboard no longer reports index_lag = NULL for indexes
        # that exist on disk.
        self._load_index_registry()

    # -- watermark update (S8) -------------------------------------------
    def _stamp_watermark(self, table_name: str, column: str) -> None:
        """UPDATE cfg SET <column> = now WHERE table_name = ?
        (__main__.py:172-176) as a driver-side atomic file replace of
        the config table (``sources.schedule.stamp``), under the
        schedule lock — the one ``write_schedule`` takes —
        with no Spark job run under it. Each stamp re-reads the file,
        so an edit written between two stamps survives."""
        stamp(self.schedule_path, table_name, column, self.clock())

    # -- durable index registration (VERDICT r7 #3) -----------------------
    def register_index(
        self,
        source_table: str,
        index_name: str,
        index_table: ParquetMaintainedTable,
        kind: str | None = None,
        n_cells: int = 16,
        extend_fn: Callable | None = None,
        retract_key: str | None = None,
        num_hashes: int | None = None,
        band_width: int | None = None,
    ) -> None:
        """Register an index maintainer for stage 6 and
        ``fleet_report.index_lag`` — durably when ``kind`` names a
        standard maintainer (bm25 | ivf | minhash): the registration
        row is upserted into the registry table next to the schedule,
        so a FRESH session (new Orchestrator, no env knob) rediscovers
        it. A custom ``extend_fn`` (no ``kind``) cannot be serialized
        and stays session-scoped — documented trade, same as any
        code-valued config. Supplying BOTH is rejected: the custom
        function would run in-session while the persisted ``kind``
        silently reconstructed the STANDARD maintainer after a
        restart — durable and live behavior diverging without
        warning (ADVICE r8)."""
        if extend_fn is not None and kind is not None:
            raise ValueError(
                "register_index takes kind= OR extend_fn=, not both:"
                " a persisted kind would rebuild the standard"
                " maintainer on restart, silently replacing the"
                " custom extend_fn. Register the custom function"
                " without kind= (session-scoped), or drop extend_fn="
                " for the durable standard maintainer."
            )
        if extend_fn is None:
            if kind is None:
                raise ValueError(
                    "register_index needs kind= (standard maintainer)"
                    " or extend_fn= (session-scoped custom)"
                )
            extend_fn = standard_index_maintainer(
                kind, n_cells, num_hashes=num_hashes
            )
        if num_hashes is not None or band_width is not None:
            if kind != "minhash":
                raise ValueError(
                    "num_hashes/band_width configure MinHash LSH"
                    f" banding — meaningless for kind={kind!r};"
                    " registering them would persist silently-unused"
                    " config"
                )
            from trino_iceberg_maintenance_spark.operators.dedup import (
                NUM_HASHES,
            )

            nh = int(num_hashes) if num_hashes is not None else NUM_HASHES
            bw = int(band_width) if band_width is not None else None
            if nh <= 0 or (bw is not None and bw <= 0):
                raise ValueError("num_hashes/band_width must be positive")
            if bw is not None and nh % bw != 0:
                raise ValueError(
                    f"band_width {bw} must divide num_hashes {nh}"
                    " (bands are equal-width signature slices)"
                )
            self.index_banding.setdefault(source_table, {})[index_name] = (
                nh, bw,
            )
            # persist the RESOLVED pair, not the raw args (ADVICE r11):
            # band_width given without num_hashes resolves to
            # (NUM_HASHES, bw) live, but a NULL num_hashes row is
            # skipped by restart rediscovery — the registry must say
            # what the session actually runs
            num_hashes, band_width = nh, bw
        else:
            # re-registering WITHOUT banding resets to module defaults
            # (same live-matches-durable rule as retract_key)
            self.index_banding.get(source_table, {}).pop(index_name, None)
        regs = self.index_maintainers.setdefault(source_table, [])
        regs[:] = [r for r in regs if r[0] != index_name]
        regs.append((index_name, index_table, extend_fn))
        if retract_key is not None:
            if not retract_key:
                raise ValueError(
                    "retract_key must be a non-empty column name"
                    " (empty would silently disable retraction)"
                )
            self.index_retraction_keys.setdefault(
                source_table, {}
            )[index_name] = retract_key
        else:
            # re-registering WITHOUT a key turns retraction off — the
            # live session must match what the rewritten registry row
            # says (durable-vs-live divergence is the ADVICE r8 bug
            # class this method already guards against)
            self.index_retraction_keys.get(source_table, {}).pop(
                index_name, None
            )
        if kind is None:
            return
        # driver-side read and atomic replace, like the schedule's
        # stamps: no Spark job runs under the lock
        with self._watermark_lock:
            rows = [
                r for r in self._registry_rows()
                if (r.source_table, r.index_name) != (source_table, index_name)
            ]
            rows.append((
                source_table, index_name, index_table.path, kind,
                n_cells, retract_key, num_hashes, band_width,
            ))
            write_rows(self.index_registry_path, rows, INDEX_REGISTRY_SCHEMA)

    def rebuild_index(self, source_table: str, index_name: str) -> None:
        """The remediation the expired-cursor error path names
        (VERDICT r8 #5): rebuild one registered index
        from the source table's CURRENT snapshot — truncate, one full
        re-extend, fresh cursor — abandoning the unrecoverable
        incremental lineage. Old index snapshots (and their files)
        are expired in the same action: a rebuild explicitly discards
        the pre-rebuild index state, and keeping it would let the
        stale ``covers_snapshot`` marker in an old snapshot shadow an
        empty-source rebuild's cursor reset.

        Cost shape: ONE source-corpus pass through the registered
        ``extend_fn`` (the bootstrap cost — there is nothing
        incremental left to read once the diff base has been
        expired), plus metadata-sized commits. After it, stage 6
        resumes O(new rows) from the fresh cursor and
        ``fleet_report.index_lag`` reads 0."""
        regs = self.index_maintainers.get(source_table) or []
        match = [r for r in regs if r[0] == index_name]
        if not match:
            raise ValueError(
                f"no index {index_name!r} registered for"
                f" {source_table!r} (known:"
                f" {sorted(n for n, _t, _f in regs)})"
            )
        _nm, index_table, extend_fn = match[0]
        table = self.table_resolver(source_table)
        cur = table.current_snapshot()
        # stale cursor stamps must not outlive the rebuild: unset
        # first (MAX-wins read would prefer a higher stale value on a
        # rolled-back source), re-stamp after the extend commits
        index_table.unset_table_properties([
            _cursor_property_key(source_table, index_name)
        ])
        index_table.truncate(clock=self.clock)
        if cur is not None and cur.files:
            extend_fn(index_table, table.read(), {
                "index_of": source_table,
                "index_name": index_name,
                "covers_snapshot": cur.snapshot_id,
            })
            index_table.set_table_properties({
                _cursor_property_key(source_table, index_name):
                    cur.snapshot_id,
            })
        # retention by count: only the rebuilt head matters — the
        # pre-rebuild history is what the rebuild abandoned
        index_table.expire_snapshots(
            dt.datetime.max, retain_last=1, clock=self.clock
        )

    def _registry_rows(self) -> list[Row]:
        """The persisted registrations. Columns an older registry
        lacks read as NULL: pre-r10 files have no ``retract_key``,
        pre-r11 files no banding pair."""
        if data_file(self.index_registry_path) is None:
            return []
        reg = Row(*INDEX_REGISTRY_SCHEMA.fieldNames())
        return [
            reg(*r) for r in to_rows(
                read_table(self.index_registry_path), INDEX_REGISTRY_SCHEMA
            )
        ]

    def _load_index_registry(self) -> None:
        for r in self._registry_rows():
            regs = self.index_maintainers.setdefault(r.source_table, [])
            if any(name == r.index_name for name, _t, _f in regs):
                continue  # explicit registration wins
            regs.append((
                r.index_name,
                ParquetMaintainedTable(self.spark, r.index_path),
                standard_index_maintainer(
                    r.kind, r.n_cells, num_hashes=r.num_hashes
                ),
            ))
            # a registry older than the banding columns rediscovers
            # module-default banding
            if r.num_hashes is not None:
                self.index_banding.setdefault(r.source_table, {})[
                    r.index_name
                ] = (int(r.num_hashes),
                     int(r.band_width) if r.band_width is not None
                     else None)
            # …and one older than retract_key, retraction off
            rkey = r.retract_key
            if rkey:
                self.index_retraction_keys.setdefault(
                    r.source_table, {}
                )[r.index_name] = rkey

    # -- durable audit relations (VERDICT r7 #4, r10 #4, r11 #8) ----------
    def _audit_table(self, path: str, create: bool = False):
        """The audit relation at ``path`` AS a maintained table — the
        tool dogfooding itself (VERDICT r8 #4). Returns ``None`` when it
        doesn't exist yet and ``create`` is False. A pre-existing
        plain-parquet audit dir (pre-r9 layout: loose part files,
        no ``_manifest.json``) is adopted in place via ``add_files``
        — metadata only, nothing is read or rewritten, and the next
        threshold crossing compacts + GCs the legacy tail like any
        other small-file backlog."""
        if os.path.exists(os.path.join(path, "_manifest.json")):
            return ParquetMaintainedTable(self.spark, path)
        legacy = sorted(
            f
            for f in glob.glob(os.path.join(path, "*.parquet"))
            if not os.path.basename(f).startswith((".", "_"))
        )
        if not legacy and not create:
            return None
        t = ParquetMaintainedTable.create(self.spark, path)
        if legacy:
            t.add_files(legacy, clock=self.clock)
        return t

    def _append_audit(
        self, path: str, schema: str,
        make_rows: Callable[[ParquetMaintainedTable], list],
    ) -> None:
        """Append ``make_rows(table)`` to the audit relation at
        ``path`` under the schedule lock (creating it on first use).
        Self-regulating: past AUDIT_COMPACT_FILE_THRESHOLD live files
        the append also bin-packs the relation and GCs the replaced
        history, so K sweeps never mean K files on disk forever."""
        with self._watermark_lock:
            t = self._audit_table(path, create=True)
            t.append(local_frame(self.spark, make_rows(t), schema),
                     clock=self.clock)
            if t.file_count() >= AUDIT_COMPACT_FILE_THRESHOLD:
                t.optimize(clock=self.clock)
                # rows carry the history; pre-compaction snapshots
                # (and their small files) are pure storage overhead —
                # retention here is by COUNT (keep the compacted
                # head), not by age, hence the datetime.max cutoff
                t.expire_snapshots(
                    dt.datetime.max, retain_last=1, clock=self.clock
                )

    def _read_audit(
        self, path: str, schema: str | None = None
    ) -> DataFrame | None:
        """The audit relation at ``path``. When none was ever written:
        an empty frame of ``schema``, or ``None`` without one (so the
        dashboard aggregates skip the read entirely)."""
        with self._watermark_lock:
            t = self._audit_table(path)
            if t is not None:
                return t.read()
        if schema is None:
            return None
        return local_frame(self.spark, [], schema)

    def expectation_audit(self) -> DataFrame:
        """The durable stage-5 audit relation (empty-but-typed when no
        check has ever run)."""
        return self._read_audit(self.audit_path, EXPECTATION_AUDIT_SCHEMA)

    def clustering_audit(self) -> DataFrame:
        """The durable clustering-decay history (empty-but-typed when
        the decay gate never measured anything)."""
        return self._read_audit(
            self.clustering_audit_path, CLUSTERING_AUDIT_SCHEMA
        )

    def index_lag_audit(self) -> DataFrame:
        """The durable per-sweep index-staleness history
        (empty-but-typed when no sweep ever observed an indexed
        table)."""
        return self._read_audit(
            self.index_lag_audit_path, INDEX_LAG_AUDIT_SCHEMA
        )

    def _latest_index_lag_trend(self) -> dict[str, int]:
        """Per-table ``latest − previous`` sweep-recorded index lag —
        one window over the (bounded, sweeps-sized) audit, collected
        to a tables-sized dict. Tables with fewer than two recorded
        sweeps are absent (no trend yet)."""
        hist = self._read_audit(self.index_lag_audit_path)
        if hist is None:
            return {}
        w = Window.partitionBy("table_name").orderBy(F.col("seq").desc())
        last2 = (
            hist.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= 2)
            .groupBy("table_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.when(F.col("__rk") == 1, F.col("index_lag")))
                .alias("latest"),
                F.max(F.when(F.col("__rk") == 2, F.col("index_lag")))
                .alias("prev"),
            )
            .where(F.col("n") >= 2)
            .collect()
        )
        return {r.table_name: int(r.latest - r.prev) for r in last2}

    def _latest_clustering_state(self) -> dict[str, tuple]:
        """Per-table (avg_overlap, triggered) of each table's LATEST
        decay measurement — one aggregate over the (bounded,
        runs-sized) clustering audit, collected to a tables-sized
        dict for the dashboard loop. Empty when the decay gate never
        ran."""
        aud = self._read_audit(self.clustering_audit_path)
        if aud is None:
            return {}
        latest = aud.groupBy("table_name").agg(
            F.max("measured_on").alias("measured_on")
        )
        out: dict[str, tuple] = {}
        for r in aud.join(latest, ["table_name", "measured_on"]).collect():
            cand = (float(r.avg_overlap), bool(r.triggered))
            # frozen-clock double-measures tie on timestamp: keep the
            # worse (higher-overlap) reading deterministically
            if out.get(r.table_name) is None or cand > out[r.table_name]:
                out[r.table_name] = cand
        return out

    def _latest_audit_violations(self) -> dict[str, int]:
        """Per-table violation total of each table's LATEST audit
        batch — one aggregate over the (bounded, rule-count × runs)
        audit relation, collected to a tables-sized dict for the
        dashboard loop."""
        audit = self._read_audit(self.audit_path)
        if audit is None:
            return {}
        latest = audit.groupBy("table_name").agg(
            F.max("checked_on").alias("checked_on")
        )
        rows = (
            audit.join(latest, ["table_name", "checked_on"])
            .groupBy("table_name")
            .agg(F.sum("n_violations").alias("v"))
            .collect()
        )
        return {r.table_name: int(r.v) for r in rows}

    # -- per-table pipeline (__main__.py:121-201) ------------------------
    def _execute_table(self, props: MaintenanceProperties) -> None:
        """Run the :data:`STAGES` in order on one table; a stage that
        reports it did its work gets its watermark stamped."""
        try:
            now = self.clock()
            table = self.table_resolver(props.table_name)
            for stage in STAGES:
                if stage.flag and not _truthy(getattr(props, stage.flag)):
                    continue
                day_due = functools.partial(stage.due, props, now)
                if stage.run(self, table, props, now, day_due):
                    self._stamp_watermark(props.table_name, stage.watermark)
        except BaseException as exc:  # wrap with the row (__main__.py:200-201)
            raise MaintenanceTaskException(props, exc) from exc

    # Stage methods: ``(table, props, now, day_due) -> bool``. ``day_due``
    # evaluates the stage's cadence on demand — a row with a watermark
    # and NULL days raises only when a stage actually consults it.
    # True means "stamp my watermark".

    def _remove_orphan_files(self, table, props, now, day_due) -> bool:
        """__main__.py:141-148."""
        table.remove_orphan_files(older_than=now - dt.timedelta(
            days=props.retention_days_orphan_files or 0
        ))
        return False

    def _expire_snapshots(self, table, props, now, day_due) -> bool:
        """__main__.py:151-158."""
        table.expire_snapshots(older_than=now - dt.timedelta(
            days=props.retention_days_snapshots or 0
        ))
        return False

    def _enforce_delete_file_budget(self, table, props, now, day_due) -> bool:
        """Merge-on-read delete-file maintenance: readers pay a
        per-scan anti-join for every pending delete file (SCALING.md
        probe) — over budget, first merge positional files without
        touching data, then materialize if a long equality backlog
        remains. When the purge is due and so is optimize, the backlog
        is left to optimize's rewrite (:meth:`_optimize_takes_purge`)."""
        if self.max_delete_files is None:
            return False
        cur = table.current_snapshot()
        if self._purge_due(cur) and self._optimize_takes_purge(props, now):
            return False
        entries = list(cur.delete_files or []) if cur else []
        n_pos = sum(1 for e in entries if e["content"] == "position")
        if n_pos > self.max_delete_files:
            entries = list(
                table.compact_delete_files(clock=self.clock).delete_files
                or []
            )
        if len(entries) > self.max_delete_files:
            table.purge_deletes(clock=self.clock)
        return False

    def _purge_due(self, snap) -> bool:
        """Whether snapshot ``snap``'s delete entries stay over the
        budget once an over-budget set of positional entries is merged
        into one: the budget stage then calls ``purge_deletes``. The
        budget stage and a due optimize share it, so optimize purges
        when the stage would have."""
        entries = list(snap.delete_files or []) if snap else []
        n_pos = sum(1 for e in entries if e["content"] == "position")
        left = len(entries)
        if n_pos > self.max_delete_files:
            left -= n_pos - 1
        return left > self.max_delete_files

    def _optimize_takes_purge(self, props, now) -> bool:
        """Whether this sweep's optimize stage will bin-pack on its
        day cadence, so a due purge can ride in its rewrite. A sort or
        z-order optimize cannot take it, and a cadence that cannot be
        read counts as not due: the optimize stage then raises on its
        own, after the budget stage has purged."""
        flag, watermark, days = ACTIONS["optimize"]
        if (self.optimize_sort_columns or self.optimize_zorder_columns
                or not _truthy(getattr(props, flag))):
            return False
        try:
            return _due(getattr(props, watermark), getattr(props, days), now)
        except ValueError:
            return False

    def _rewrite_manifests(self, table, props, now, day_due) -> bool:
        """Iceberg's rewrite_manifests: fold the commit journal into
        the compacted base once it exceeds the budget, bounding
        manifest-load cost on long-history tables. Metadata-only;
        idempotent."""
        if (
            self.rewrite_manifests_max_entries is not None
            and table.manifest_log_entries()
            > self.rewrite_manifests_max_entries
        ):
            table.rewrite_manifests()
        return False

    def _optimize(self, table, props, now, day_due) -> bool:
        """__main__.py:161-177. Day-due is the reference cadence; the
        r11 decay gate MEASURES clustering depth (metadata-only,
        stats-store-backed) every sweep and pulls optimize forward
        when the table has actually decayed — a still-clustered table
        inside its period is never rewritten early, an interleaved one
        doesn't wait out the calendar. So a decay-triggered optimize
        runs even where the day cadence would fail on NULL days."""
        decay_due = False
        depth = None
        if self.optimize_decay_column:
            try:
                depth = table.clustering_depth_report(
                    self.optimize_decay_column
                )
                decay_due = (
                    depth["with_stats"] > 0
                    and depth["avg_overlap"] > self.optimize_decay_max_overlap
                )
                # re-trigger suppression (ADVICE r11): a size-capped
                # compact-only optimize can leave the SAME overlapping
                # files above the bar — without this, the gate would
                # rewrite the table every sweep for no improvement
                # (unbounded write amplification). A prior
                # decay-triggered optimize that could not improve
                # stamps the overlap it got stuck at; the gate re-arms
                # only once the table decays PAST that point (new
                # files changed the picture, optimize may help again).
                if decay_due:
                    stuck = table.table_properties().get(
                        _DECAY_STUCK_OVERLAP_KEY
                    )
                    if (
                        stuck is not None
                        and depth["avg_overlap"] <= float(stuck)
                    ):
                        decay_due = False
            except Exception:
                depth = None  # no stats → day cadence only
        optimized = decay_due or day_due()
        if optimized:
            if (self.max_delete_files is not None
                    and not (self.optimize_sort_columns
                             or self.optimize_zorder_columns)
                    and self._purge_due(table.current_snapshot())):
                # the budget stage left an over-budget backlog: one
                # rewrite compacts and purges
                table.purge_deletes(clock=self.clock, bin_pack=True)
            else:
                table.optimize(
                    clock=self.clock,
                    sort_by=self.optimize_sort_columns,
                    zorder_by=self.optimize_zorder_columns,
                )
            if decay_due and depth is not None:
                self._record_decay_effect(table, depth)
        if depth is not None:
            self._append_audit(
                self.clustering_audit_path, CLUSTERING_AUDIT_SCHEMA,
                lambda _t: [(
                    props.table_name, now, self.optimize_decay_column,
                    int(depth["n_files"]), int(depth["with_stats"]),
                    float(depth["avg_overlap"]), int(depth["max_overlap"]),
                    bool(decay_due),
                )],
            )
        return optimized

    def _record_decay_effect(self, table, depth: dict) -> None:
        """Post-optimize effectiveness check for the decay trigger:
        stamp the stuck-at overlap when the rewrite did not improve
        it (suppresses the next sweeps), clear any stamp once it DID
        improve. Best-effort, like the measure."""
        try:
            post = table.clustering_depth_report(self.optimize_decay_column)
            if (
                post["with_stats"] > 0
                and post["avg_overlap"] >= depth["avg_overlap"]
            ):
                table.set_table_properties({
                    _DECAY_STUCK_OVERLAP_KEY: repr(post["avg_overlap"]),
                })
            else:
                table.unset_table_properties([_DECAY_STUCK_OVERLAP_KEY])
        except Exception:
            pass

    def _analyze(self, table, props, now, day_due) -> bool:
        """__main__.py:179-199. Partitioned tables use the incremental
        path: only partitions whose file set changed since the
        previous ANALYZE are rescanned — the 100 TB replacement for the
        reference's full-table re-ANALYZE every period
        (plans/incremental.py)."""
        if not day_due():
            return False
        # stats-store convergence (VERDICT r10 #2): ANALYZE is the one
        # stage that would footer-read pre-store files anyway, so
        # adopt them into the commit-time store NOW — a legacy table
        # becomes footer-free after its first scheduled ANALYZE with
        # no manual backfill call. Complete-store tables pay one
        # keys-only read. Best-effort: a read-only store must not
        # fail stage 4.
        try:
            self.last_stats_backfill[props.table_name] = (
                table.backfill_file_stats()
            )
        except Exception:
            self.last_stats_backfill[props.table_name] = 0
        stats = None
        if self.analyze_from_footers:
            stats = self._footer_null_fractions(table, props)
        if stats is not None:
            pass  # metadata-only fast path qualified
        elif table.partition_cols:
            stats = self._incremental_analyze(table, props)
        else:
            df = table.read()
            cols = list(props.columns_to_analyze or df.columns)
            stats = stats_plans.null_fraction_stats(df, cols)
        if self.analyze_from_footers and "min_value" not in stats.columns:
            # schema stability: with the fast path enabled the stage
            # ALWAYS delivers the widened 6-column relation — fallback
            # runs (empty table, MoR deletes, unknowable column,
            # partitioned) pad bounds with NULL (bounds are
            # exact-or-NULL, and the data path does not compute them),
            # so a durable sink never sees a run-dependent schema
            stats = stats.select(
                "*",
                F.lit(None).cast("double").alias("min_value"),
                F.lit(None).cast("double").alias("max_value"),
            )
        if self.stats_sink:
            self.stats_sink(props.table_name, stats)
        else:
            stats.collect()
        return True

    def _check_expectations(self, table, props, now, day_due) -> bool:
        """Stage 5: all rules for the table run as ONE aggregate pass
        over one scan; results are rule-count-sized (bounded), kept
        for fleet_report and appended to the durable audit relation
        (survives a restart, queryable as history)."""
        rules = self.expectation_rules.get(props.table_name)
        if not rules or not day_due():
            return False
        from trino_iceberg_maintenance_spark.plans.audit import (
            check_expectations,
        )

        checked = check_expectations(table.read(), rules).collect()
        self.last_expectations[props.table_name] = checked
        self._append_audit(
            self.audit_path, EXPECTATION_AUDIT_SCHEMA,
            lambda _t: [
                (props.table_name, now, r.rule, r.n_rows, r.n_violations,
                 r.passed)
                for r in checked
            ],
        )
        return True

    def _maintain_indexes(self, table, props, now, day_due) -> bool:
        """Stage 6: each registered index is brought current through
        the source table's HEAD snapshot: rows inserted since the
        index's covers_snapshot cursor feed extend_fn — change-sized
        work (snapshot_diff reads only files outside the snapshot
        intersection), never a corpus rescan."""
        regs = self.index_maintainers.get(props.table_name)
        if not regs or not day_due():
            return False
        cur = table.current_snapshot()
        if cur is not None and cur.files:
            live = {s.snapshot_id for s in table._load_manifest()}
            for index_name, index_table, extend_fn in regs:
                self._extend_index(
                    table, props.table_name, cur, live,
                    index_name, index_table, extend_fn,
                )
        return True

    def _extend_index(
        self, table, source_name: str, cur, live: set,
        index_name: str, index_table, extend_fn,
    ) -> None:
        covered = _covered_snapshot_id(index_table, source_name, index_name)
        if covered == cur.snapshot_id:
            return  # already current — zero work
        if covered is not None and covered not in live:
            # the cursor's source snapshot was expired (snapshot
            # retention shorter than the index cadence): the diff is
            # gone and a full re-read would DUPLICATE index rows.
            if self.rebuild_at_risk_indexes:
                # opt-in auto-remediation: truncate + full re-extend +
                # fresh cursor, same fault-isolation contract as the
                # rest of this task. The cadence misconfig (if any)
                # keeps flagging in fleet_report — policy fixes the
                # index, not the configuration.
                self.rebuild_index(source_name, index_name)
                return
            # Fail loud with the remediation instead of letting
            # snapshot_diff raise a bare 'unknown snapshot id'.
            raise ValueError(
                f"index {index_name!r} on {source_name!r} covers source"
                f" snapshot {covered}, which snapshot expiry has dropped"
                " — the incremental diff is unrecoverable. Run"
                f" rebuild_index({source_name!r}, {index_name!r})"
                " (truncate + full re-extend + fresh cursor), and keep"
                " retention_days_snapshots above the days_to_index"
                " cadence (fleet_report flags this as"
                " index_cursor_at_risk; rebuild_at_risk_indexes=True"
                " makes stage 6 run the rebuild itself)."
            )
        if covered is None:
            new_rows = table.read()
        else:
            diff = table.snapshot_diff(covered, cur.snapshot_id)
            rkey = (
                self.index_retraction_keys.get(source_name) or {}
            ).get(index_name)
            if rkey:
                # one materialization: the diff feeds the retraction
                # probe, the delete-key write, AND the extend below —
                # without this each would recompute the changelog's
                # exceptAll from the scans
                diff = diff.localCheckpoint(eager=False)
                gone = (
                    diff.where(F.col("_change_type") == "delete")
                    # equality deletes match NULL keys via eqNullSafe —
                    # a deleted NULL-key source row must NOT wipe
                    # NULL-keyed index rows (e.g. IVF centroids carry
                    # vec_id NULL)
                    .where(F.col(rkey).isNotNull())
                    .select(rkey).dropDuplicates()
                )
                if gone.take(1):
                    # retract BEFORE extending: the equality delete's
                    # sequence number predates the extend append, so an
                    # updated key's NEW index rows survive while its old
                    # ones drop
                    index_table.delete_by_key(
                        gone, on=[rkey], clock=self.clock,
                    )
            new_rows = diff.where(
                F.col("_change_type") == "insert"
            ).drop("_change_type")
        extend_fn(index_table, new_rows, {
            "index_of": source_name,
            "index_name": index_name,
            "covers_snapshot": cur.snapshot_id,
        })
        # durable cursor twin: survives index-side compaction/expiry of
        # the marker snapshot (the atomic snapshot property remains the
        # crash-safe source of truth)
        index_table.set_table_properties({
            _cursor_property_key(source_name, index_name): cur.snapshot_id,
        })

    def _record_index_lag(self, table, props, now, day_due) -> bool:
        """Per-sweep staleness observation (VERDICT r11 #8): record the
        post-stage-6 lag whether or not maintenance was due, so the
        durable trend captures both the growth between extends and the
        drop when one runs — fleet_report.index_lag_delta reads the
        last two rows."""
        regs = self.index_maintainers.get(props.table_name)
        if not regs:
            return False
        snaps = table._load_manifest()
        cur_id = snaps[-1].snapshot_id if snaps else 0
        lag = max(
            cur_id - (_covered_snapshot_id(it, props.table_name, nm) or 0)
            for nm, it, _fn in regs
        )

        def rows(audit):
            # per-table monotone counter, counted under the append's lock
            seq = 0
            if audit.current_snapshot() is not None:
                seq = audit.read().where(
                    F.col("table_name") == props.table_name
                ).count()
            return [(props.table_name, now, int(seq), int(lag))]

        self._append_audit(
            self.index_lag_audit_path, INDEX_LAG_AUDIT_SCHEMA, rows
        )
        return False

    def _footer_null_fractions(self, table, props):
        """The stage-4 metadata-only fast path: the data-path
        ANALYZE's ``(column_name, row_count, null_count,
        null_fraction)`` relation (identical values) — answered from the
        commit-time stats store via ``metadata_aggregate``, zero data
        pages (and, post-migration, zero footers) read — WIDENED with
        ``min_value``/``max_value`` DOUBLE bounds for numeric columns
        (``plans.stats.numeric_stats``' values; NULL for non-numeric
        columns and wherever the store carries no exact bounds — the
        string-truncation gate). Returns ``None`` (caller falls back)
        when the table has no snapshot yet, is empty, carries pending
        MoR deletes, or ANY requested column's footer null counts are
        unknowable (absent stats, partition columns) — exactness is
        the gate, not best-effort; bounds are exact-or-NULL, never
        approximate."""
        if table.current_snapshot() is None:
            return None
        cols = list(props.columns_to_analyze or table.read().columns)
        try:
            row = table.metadata_aggregate(cols).collect()[0]
        except ValueError:
            return None  # pending merge-on-read deletes
        n = row["count_star"]
        if n == 0:
            # 0/0 null_fraction is undefined — let the data path
            # define the empty-table stats surface (exactness gate:
            # ambiguity falls back, never emits NULL fractions)
            return None
        from pyspark.sql import types as T

        schema = table.tracked_schema()
        numeric = {
            f.name for f in (schema.fields if schema else [])
            if isinstance(f.dataType, (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType,
            ))
        }
        counts = []
        for c in cols:
            v = row[f"null_count_{c}"]
            if v is None:
                return None  # unknowable column: exactness gate
            lo, hi = row[f"min_{c}"], row[f"max_{c}"]
            counts.append((
                c, int(n), int(v),
                float(lo) if c in numeric and lo is not None else None,
                float(hi) if c in numeric and hi is not None else None,
            ))
        return local_frame(
            self.spark, counts,
            "column_name string, row_count long, null_count long,"
            " min_value double, max_value double",
        ).select(
            "column_name",
            "row_count",
            "null_count",
            (F.col("null_count").cast("double")
             / F.col("row_count").cast("double")).alias("null_fraction"),
            "min_value",
            "max_value",
        )

    def _incremental_analyze(
        self, table: ParquetMaintainedTable, props: MaintenanceProperties
    ) -> DataFrame:
        """Incremental partition stats with durable state at
        ``<table>/_stats_state.parquet``, read and written driver-side
        with the schedule's atomic file replace (``sources.schedule``).
        A changed column list (or a missing state) falls back to a
        full recompute — correctness first, incrementality as the
        optimization.

        The unset-``columns_to_analyze`` default includes PARTITION
        columns too, so the stats surface is identical whether or not
        a table is partitioned (matching the reference's full-table
        ANALYZE, ``__main__.py:190-192``); ``_read_files`` reads with
        ``basePath`` so hive partition columns are scannable."""
        cols = list(props.columns_to_analyze or table.read().columns)
        state_path = os.path.join(table.path, "_stats_state.parquet")
        prior = None
        expected = (
            {"partition", "fingerprint", "row_count"}
            | {f"null_{c}" for c in cols}
            | {f"ndv_{c}" for c in cols}
        )
        if os.path.exists(state_path):
            cand = read_table(state_path)
            if set(cand.column_names) == expected:
                prior = local_frame(self.spark, cand,
                                    from_arrow_schema(cand.schema))
        state, recomputed = incremental_partition_stats(table, cols, prior)
        self.last_recomputed[props.table_name] = recomputed
        # partition-count-sized: collected once (no job when nothing
        # changed), swapped in with the schedule's atomic file replace,
        # and folded on the driver into the stats relation
        rows = state.collect()
        write_rows(state_path, rows, state.schema)
        return table_null_fractions(self.spark, rows, cols)

    # -- fleet health report ---------------------------------------------
    def fleet_report(self) -> DataFrame:
        """One row per managed table: the ops dashboard behind the
        maintenance loop. Snapshot count, live files/bytes, pending
        merge-on-read delete entries, manifest-journal length (the
        rewrite_manifests trigger metric), stats-store migration
        exposure (files_missing_stats), and the schedule's
        due-state for optimize/analyze under the injectable clock —
        everything metadata-sized: no data pages are read and no
        per-data-file filesystem stats happen (bytes come from the
        commit-time size map), though each table costs a few
        sequential METADATA-file reads (manifest, stats store) rather
        than strictly O(1) round trips."""
        rows = read_schedule(self.spark, self.schedule_path).collect()
        now = self.clock()
        # restart-safe violation counts: the in-memory report (this
        # process already checked) wins; otherwise the latest durable
        # audit batch — NULL only if the table was NEVER checked
        audit_violations = self._latest_audit_violations()
        clustering_state = self._latest_clustering_state()
        lag_trend = self._latest_index_lag_trend()
        out = []
        for r in rows:
            props = MaintenanceProperties.from_row(r)
            try:
                t = self.table_resolver(props.table_name)
                snaps = t._load_manifest()
                files = t.current_files()
                bytes_ = t.live_bytes()
                cur = t.current_snapshot()
                n_deletes = len(cur.delete_files or []) if cur else 0
                journal = t.manifest_log_entries()
                missing_stats = len(t.files_missing_stats())
                # the decay re-trigger suppression stamp (ADVICE r11):
                # non-NULL means a decay-triggered optimize could not
                # improve past this overlap and the gate is parked
                # until the table decays beyond it — the dashboard
                # read that explains "decayed but not rewriting"
                stuck = t.table_properties().get(
                    _DECAY_STUCK_OVERLAP_KEY
                )
                decay_stuck = float(stuck) if stuck is not None else None
            except Exception:
                snaps, files, bytes_, n_deletes, journal = [], [], 0, 0, 0
                missing_stats = 0
                decay_stuck = None

            due = {}
            for stage in STAGES:
                if stage.watermark is None:
                    continue
                try:
                    due[stage.name] = (
                        _truthy(getattr(props, stage.flag))
                        and stage.due(props, now)
                    )
                except ValueError:
                    # a misconfigured row surfaces as due
                    due[stage.name] = True
            checked = self.last_expectations.get(props.table_name)
            violations = (
                sum(int(x.n_violations) for x in checked)
                if checked is not None
                else audit_violations.get(props.table_name)
            )
            # index staleness: how far the table's registered indexes
            # lag its HEAD snapshot — max over indexes of
            # current_snapshot_id − covers_snapshot (ids are sequential
            # commits, so the lag counts commits the index hasn't
            # seen; never-covered indexes lag by the full history).
            # NULL = no indexes registered for this table.
            regs = self.index_maintainers.get(props.table_name)
            index_lag = None
            index_cursor_at_risk = None
            if regs:
                cur_id = (
                    snaps[-1].snapshot_id if snaps else 0
                )
                covered = {
                    nm: _covered_snapshot_id(it, props.table_name, nm)
                    for nm, it, _fn in regs
                }
                index_lag = max(
                    cur_id - (c or 0) for c in covered.values()
                )
                # cadence-vs-retention cross-check (VERDICT r8 #5):
                # an index extended every days_to_index days whose
                # source expires snapshots after fewer days can lose
                # its diff base — the exact misconfiguration behind
                # the stage-6 expired-cursor failure. Flag it BEFORE
                # it bites, and flag a cursor that has ALREADY lost
                # its source snapshot (the failure is now certain on
                # the next due run; rebuild_index is the remediation).
                live_ids = {s.snapshot_id for s in snaps}
                cursor_expired = any(
                    c is not None and c not in live_ids
                    for c in covered.values()
                )
                misconfigured = (
                    _truthy(props.should_maintain_indexes)
                    and _truthy(props.should_expire_snapshots)
                    and props.days_to_index is not None
                    and props.retention_days_snapshots is not None
                    and props.days_to_index
                    > props.retention_days_snapshots
                )
                index_cursor_at_risk = cursor_expired or misconfigured
            out.append((
                props.table_name,
                len(snaps),
                len(files),
                int(bytes_),
                n_deletes,
                journal,
                due["optimize"],
                due["analyze"],
                due["expectations"],
                violations,  # NULL = never checked (any session)
                due["indexes"],
                index_lag,  # NULL = no registered indexes
                index_cursor_at_risk,  # NULL = no registered indexes
                # staleness TREND: latest − previous sweep-recorded
                # lag (VERDICT r11 #8) — a positive delta is a
                # regression visible without reading history tables;
                # NULL until two sweeps observed the table
                lag_trend.get(props.table_name),
                missing_stats,  # live files not in the stats store
                # last measured clustering decay (NULL = gate never
                # measured this table in any session)
                clustering_state.get(props.table_name, (None, None))[0],
                clustering_state.get(props.table_name, (None, None))[1],
                decay_stuck,  # NULL = gate armed (no ineffective stamp)
            ))
        return local_frame(
            self.spark, out,
            "table_name string, n_snapshots int, n_files int, "
            "total_bytes long, pending_delete_files int, "
            "manifest_journal_entries int, optimize_due boolean, "
            "analyze_due boolean, expectations_due boolean, "
            "expectation_violations long, indexes_due boolean, "
            "index_lag long, index_cursor_at_risk boolean, "
            "index_lag_delta long, "
            "files_missing_stats int, clustering_overlap double, "
            "clustering_triggered boolean, decay_stuck_overlap double",
        )

    # -- fleet fan-out (__main__.py:60-80) --------------------------------
    def run(self) -> list[MaintenanceProperties]:
        rows = read_schedule(self.spark, self.schedule_path).collect()
        tasks = [MaintenanceProperties.from_row(r) for r in rows]
        done: list[MaintenanceProperties] = []
        self.errors = []
        with ThreadPoolExecutor(max_workers=self.num_workers) as pool:
            futures = {pool.submit(self._execute_table, t): t for t in tasks}
            for fut in as_completed(futures):
                props = futures[fut]
                try:
                    fut.result()
                    done.append(props)
                except MaintenanceTaskException as exc:
                    # error isolation: log and continue (__main__.py:73-80)
                    logger.error(
                        "maintenance task failed for table %s",
                        props.table_name,
                        exc_info=exc,
                    )
                    self.errors.append(exc)
        return done


@dataclass(frozen=True)
class Stage:
    """One step of the per-table task. ``flag`` is the schedule column
    that enables it (None: the step gates itself on the orchestrator's
    settings); ``watermark``/``days`` are its cadence columns (None
    for steps without a cadence); ``run`` is the Orchestrator method
    doing the work, returning True when the watermark is to be
    stamped."""

    name: str
    flag: str | None
    watermark: str | None
    days: str | None
    run: Callable[..., bool]

    def due(self, props: MaintenanceProperties, now: dt.datetime) -> bool:
        return _due(getattr(props, self.watermark),
                    getattr(props, self.days), now)


#: The per-table task in order (__main__.py:121-201 plus the extension
#: stages): the one place a stage's flag, cadence and watermark are
#: named. The reference's four triples come from ``plans.due.ACTIONS``;
#: fleet_report's ``<name>_due`` columns come from the watermarked
#: entries.
STAGES: tuple[Stage, ...] = (
    Stage("remove_orphan_files", *ACTIONS["remove_orphan_files"],
          Orchestrator._remove_orphan_files),
    Stage("expire_snapshots", *ACTIONS["expire_snapshots"],
          Orchestrator._expire_snapshots),
    Stage("delete_file_budget", None, None, None,
          Orchestrator._enforce_delete_file_budget),
    Stage("rewrite_manifests", None, None, None,
          Orchestrator._rewrite_manifests),
    Stage("optimize", *ACTIONS["optimize"], Orchestrator._optimize),
    Stage("analyze", *ACTIONS["analyze"], Orchestrator._analyze),
    Stage("expectations", "should_check_expectations", "last_checked_on",
          "days_to_check", Orchestrator._check_expectations),
    Stage("indexes", "should_maintain_indexes", "last_indexed_on",
          "days_to_index", Orchestrator._maintain_indexes),
    Stage("index_lag", None, None, None, Orchestrator._record_index_lag),
)
