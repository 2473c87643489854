"""ParquetMaintainedTable — a from-scratch snapshot-manifest table
format giving the reference's maintenance operations real, observable
semantics without an external catalog.

Layout (mirrors Iceberg's data/metadata split):

    <path>/data/snap-<n>-<uuid>/part-*.parquet   immutable data files
    <path>/_manifest.json                        snapshot log

Each manifest entry is ``{snapshot_id, committed_at, files: [...]}``
— the full file list of that snapshot (Iceberg's manifest-list
flattened; at metadata scale this is the ``$files`` relation the
reference's tests scan, ``tests/test_maintenance.py:50``).

Maintenance semantics implemented on top (SURVEY.md §2.2):

- ``optimize`` — bin-pack rewrite, N files → ceil(bytes/target)
  (reference contract: ``ALTER TABLE … EXECUTE optimize``,
  ``__main__.py:161-177``; 2 files → 1, data unchanged,
  ``tests/test_maintenance.py:64-67``)
- ``expire_snapshots(older_than)`` — drop old snapshots (always
  retaining the newest) and delete files no surviving snapshot
  references (``__main__.py:151-158``)
- ``remove_orphan_files(older_than)`` — delete files on storage that
  no snapshot references and that are older than the cutoff
  (``__main__.py:141-148``)

Scale notes: data reads/writes are Spark jobs (executor-side); only
the manifest — metadata, KBs per thousand files — is driver-side JSON.
On a real deployment this class is swapped for Iceberg's Spark
procedures (``CALL system.rewrite_data_files`` etc.); the orchestrator
only sees this protocol.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import math
import os
import shutil
import uuid
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from trino_iceberg_maintenance_spark.sources.locks import dir_lock
from trino_iceberg_maintenance_spark.sources.tables import local_frame

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024

import re as _re

_SPEC_RE = _re.compile(
    r"^(?:(?P<fn>days|bucket|truncate)\((?:(?P<arg>\d+)\s*,\s*)?"
    r"(?P<col>\w+)\)|(?P<ident>\w+))$"
)


def parse_partition_spec(spec: str) -> dict:
    """Parse one partition-spec term (Iceberg's transform grammar,
    identity + the three workhorse transforms):

    - ``"col"``            → identity
    - ``"days(ts)"``       → daily buckets of a timestamp/date
    - ``"bucket(16,col)"`` → hash bucket (Spark murmur3 ``hash()``)
    - ``"truncate(4,col)"``→ string prefix truncation

    Returns ``{fn, col, arg, name}`` where ``name`` is the hive dir
    column (``col`` itself for identity, a derived ``col_<fn>`` for
    transforms — HIDDEN: dropped again on read, exactly Iceberg's
    hidden-partitioning contract: queries never see or mention the
    derived column, only the source column)."""
    m = _SPEC_RE.match(spec.strip())
    if not m:
        raise ValueError(f"bad partition spec term: {spec!r}")
    if m.group("ident"):
        return {"fn": "identity", "col": m.group("ident"), "arg": None,
                "name": m.group("ident")}
    fn, col = m.group("fn"), m.group("col")
    arg = m.group("arg")
    if fn in ("bucket", "truncate") and not arg:
        raise ValueError(f"{fn}() needs a width: {spec!r}")
    if fn == "days" and arg:
        raise ValueError(f"days() takes one column: {spec!r}")
    return {"fn": fn, "col": col, "arg": int(arg) if arg else None,
            "name": f"{col}_{fn}"}


def _transform_col(term: dict):
    """The derivation expression for a non-identity spec term."""
    c = F.col(term["col"])
    if term["fn"] == "days":
        return F.date_format(c, "yyyy-MM-dd")
    if term["fn"] == "bucket":
        return F.pmod(F.hash(c), F.lit(term["arg"])).cast("int")
    if term["fn"] == "truncate":
        return F.substring(c.cast("string"), 1, term["arg"])
    raise ValueError(term)


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _canon(p: str) -> str:
    """Canonical filesystem path for a data-file reference — strips the
    ``file:``/``file://`` scheme Spark's ``_metadata.file_path`` carries
    so manifest paths (plain glob output) and scan lineage compare
    equal."""
    return os.path.abspath(p.removeprefix("file://").removeprefix("file:"))


# lineage column names reserved by the merge-on-read read path
_FP, _POS, _FSEQ = "__mor_fp", "__mor_pos", "__mor_fseq"


def _enc_stat(v) -> tuple[str | None, str | None]:
    """Lossless JSON encoding for a parquet footer min/max value —
    ``(type_tag, string)``; ``(None, None)`` for types the stats store
    does not carry (those columns stay bounds-less, which is always
    safe: pruning keeps the file, aggregates report unknown). Order of
    the isinstance checks matters: bool ⊂ int and datetime ⊂ date."""
    import decimal

    if isinstance(v, bool):
        return "b", "1" if v else "0"
    if isinstance(v, int):
        return "i", str(v)
    if isinstance(v, float):
        return "f", repr(v)  # repr round-trips IEEE doubles exactly
    if isinstance(v, dt.datetime):
        return "ts", v.isoformat()
    if isinstance(v, dt.date):
        return "d", v.isoformat()
    if isinstance(v, decimal.Decimal):
        return "dec", str(v)
    return None, None


def _dec_stat(tag: str, s: str):
    """Inverse of :func:`_enc_stat` — exact round-trip per tag."""
    import decimal

    if tag == "b":
        return s == "1"
    if tag == "i":
        return int(s)
    if tag == "f":
        return float(s)
    if tag == "ts":
        return dt.datetime.fromisoformat(s)
    if tag == "d":
        return dt.date.fromisoformat(s)
    if tag == "dec":
        return decimal.Decimal(s)
    raise ValueError(f"unknown stat tag {tag!r}")


class CommitConflict(Exception):
    """A commit whose delta no longer applies to the table's head
    (Iceberg's ``CommitFailedException`` after validation): a file or
    delete entry it removes has left the head, a delete entry committed
    since its base applies to a file it rewrites, or a positional
    delete it adds targets a file that has left the head."""


@dataclass
class Snapshot:
    snapshot_id: int
    committed_at: str  # ISO, naive UTC
    files: list[str]
    #: lineage pointer (None for pre-branching manifests and roots)
    parent_id: int | None = None
    #: merge-on-read delete files (Iceberg v2 row-level deletes): each
    #: entry ``{path, content: 'position'|'equality', seq,
    #: equality_cols|targets}``. ``None``/``[]`` = no pending deletes.
    delete_files: list | None = None
    #: Iceberg-style summary operation (append/replace/overwrite/
    #: delete/rollback); None for pre-tagging manifests
    operation: str | None = None
    #: Iceberg-style snapshot summary properties (free-form metadata
    #: committed ATOMICALLY with the snapshot — e.g. the streaming
    #: sinks' epoch ids, making replay detection crash-safe)
    properties: dict | None = None


class ParquetMaintainedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_path = os.path.join(path, "_manifest.json")
        self.manifest_log_path = os.path.join(path, "_manifest.log")
        self.table_meta_path = os.path.join(path, "_table.json")
        # per-file column-stats store (Iceberg: stats live IN the
        # manifest entry): JSONL base + append-only JSONL journal.
        # NOT underscore-prefixed — Spark's file source must be able
        # to scan these (Hadoop hides _/. files), and they live in
        # their own subdir so data-path globs never see them.
        self.filestats_path = os.path.join(path, "stats", "base.jsonl")
        self.filestats_log_path = os.path.join(path, "stats", "journal.jsonl")
        # sharded-base index (r11): once the folded store outgrows
        # FILESTATS_SHARD_ROWS, the base becomes range-partitioned
        # parquet shards described by this index — the manifest-GROUP
        # half of the Iceberg stats design (a consult for a key subset
        # prunes whole shards by [min,max] file key; a membership test
        # reads only the 'file' column)
        self.filestats_index_path = os.path.join(path, "stats", "shards.json")
        if partition_cols is None and os.path.exists(self.table_meta_path):
            with open(self.table_meta_path) as f:
                partition_cols = json.load(f).get("partition_cols") or None
        self.partition_cols = partition_cols
        #: the table lock: every read-modify-write of the manifest,
        #: the journal, ``_table.json`` and the stats store holds it
        self._lock = dir_lock(path)

    # -- manifest ---------------------------------------------------------
    #
    # Iceberg's manifest-list / manifest-file split, collapsed to two
    # local files so commit cost is O(|delta|), NOT O(snapshots × files):
    #
    #   _manifest.json — the COMPACTED BASE: {"format": 2, "entries":
    #       [...]} (legacy tables: a plain JSON array of full snapshot
    #       dicts — still readable). Rewritten only by snapshot-set
    #       surgery (expire/rollback) and by rewrite_manifests().
    #   _manifest.log  — append-only JSONL journal; _commit appends ONE
    #       delta-encoded line per snapshot. A torn final line (crash
    #       mid-append) fails to decode and reads as "commit never
    #       happened" — the journal recovery model.
    #
    # Entry encoding: {"files": [...]} (self-contained) or
    # {"delta_base": <ancestor snapshot_id>, "added": [...], "removed":
    # [...]} inheriting the ancestor's reconstructed file list —
    # Iceberg's reused-manifest trick. Whichever is smaller wins, so a
    # long-history table's append writes bytes proportional to the
    # appended files, and the 200-commit behavior test pins that the
    # per-commit journal bytes stay flat as history grows.
    #
    # Writers never build a snapshot's file list themselves. Each plans
    # from the snapshot it read (its BASE) and hands _commit only its
    # delta: data files added and removed, delete entries added and
    # removed. Under the table lock, _commit reloads the head, checks
    # the delta still applies to it and derives the next snapshot from
    # the head (see _commit). A concurrent commit therefore can only
    # fail with CommitConflict, never drop another writer's files.

    _SNAP_DEFAULTS = {
        "parent_id": None,
        "delete_files": None,
        "operation": None,
        "properties": None,
    }

    def _encode_entry(self, snap: Snapshot,
                      files_of: dict[int, list[str]]) -> dict:
        d = {
            k: v
            for k, v in snap.__dict__.items()
            if k != "files" and self._SNAP_DEFAULTS.get(k, ...) != v
        }
        base = (
            files_of.get(snap.parent_id)
            if snap.parent_id is not None
            else None
        )
        if base is not None:
            bset, fset = set(base), set(snap.files)
            added = sorted(fset - bset)
            removed = sorted(bset - fset)
            if len(added) + len(removed) < len(snap.files):
                d.update(delta_base=snap.parent_id, added=added,
                         removed=removed)
                return d
        d["files"] = list(snap.files)
        return d

    @staticmethod
    def _decode_entry(d: dict, files_of: dict[int, list[str]]) -> Snapshot:
        d = dict(d)
        if "delta_base" in d:
            base = files_of[d.pop("delta_base")]  # KeyError = corrupt
            fset = (set(base) - set(d.pop("removed"))) | set(d.pop("added"))
            d["files"] = sorted(fset)
        return Snapshot(**d)

    def _load_manifest(self) -> list[Snapshot]:
        snaps: list[Snapshot] = []
        files_of: dict[int, list[str]] = {}
        base_gen = 0
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                doc = json.load(f)
            if isinstance(doc, dict):
                base_gen = int(doc.get("generation", 0))
            for d in doc["entries"] if isinstance(doc, dict) else doc:
                s = self._decode_entry(d, files_of)
                files_of[s.snapshot_id] = s.files
                snaps.append(s)
        self._base_generation = base_gen
        if os.path.exists(self.manifest_log_path):
            seen = set(files_of)
            with open(self.manifest_log_path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    try:
                        d = json.loads(line)
                    except ValueError:
                        # torn fragment from a crash mid-append — the
                        # snapshot never committed. SKIP (not break):
                        # the next commit newline-terminates the
                        # fragment, so valid lines can follow it.
                        continue
                    if not isinstance(d, dict):
                        # structurally valid JSON that is not an entry
                        # object — real corruption; stop trusting the
                        # rest of the journal (same contract as the
                        # _decode_entry KeyError/TypeError path)
                        break
                    if int(d.pop("gen", 0)) < base_gen:
                        # stale journal line predating the last base
                        # rewrite — a crash between os.replace(base)
                        # and os.remove(journal) leaves the folded
                        # journal behind. Snapshot-id dedup alone is
                        # NOT enough: after snapshot-set surgery
                        # (expire_snapshots) the dropped snapshots'
                        # lines are absent from the new base and would
                        # silently resurrect. The generation stamp
                        # pins every line to the base epoch it was
                        # appended under.
                        continue
                    try:
                        s = self._decode_entry(d, files_of)
                    except (KeyError, TypeError):
                        # structurally valid JSON referencing a
                        # missing base = real corruption — stop
                        # trusting the rest of the journal
                        break
                    if s.snapshot_id in seen:
                        # base already folded this entry but the
                        # journal removal didn't land (crash between
                        # the two steps of _write_manifest)
                        continue
                    files_of[s.snapshot_id] = s.files
                    seen.add(s.snapshot_id)
                    snaps.append(s)
        return snaps

    def _write_manifest(self, snapshots: list[Snapshot]) -> None:
        """Full rewrite of the compacted base (snapshot-set surgery:
        expire/rollback/journal fold). Entries stay delta-encoded
        against their parents so even the base is O(total file
        EVENTS), not O(snapshots × files)."""
        files_of: dict[int, list[str]] = {}
        entries = []
        for s in snapshots:
            entries.append(self._encode_entry(s, files_of))
            files_of[s.snapshot_id] = s.files
        gen = self._read_base_generation() + 1
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"format": 2, "generation": gen, "entries": entries},
                f, indent=1,
            )
        os.replace(tmp, self.manifest_path)  # atomic commit
        self._base_generation = gen
        # journal entries are now folded into the base; if a crash lands
        # exactly here, _load_manifest skips the leftover journal lines
        # by their generation stamp (< gen) — snapshot-id dedup alone
        # would resurrect snapshots dropped by set surgery (expire)
        if os.path.exists(self.manifest_log_path):
            os.remove(self.manifest_log_path)

    def _read_base_generation(self) -> int:
        """Generation counter of the compacted base (0 if absent or
        legacy format) — bumped on every _write_manifest surgery so
        journal lines can be pinned to the base epoch they extend."""
        if not os.path.exists(self.manifest_path):
            return 0
        with open(self.manifest_path) as f:
            doc = json.load(f)
        return int(doc.get("generation", 0)) if isinstance(doc, dict) else 0

    def _append_manifest_entry(self, snap: Snapshot,
                               files_of: dict[int, list[str]]) -> None:
        """O(|delta|) commit: one fsync'd JSONL line in the journal."""
        entry = self._encode_entry(snap, files_of)
        # pin the line to the base epoch it extends; _load_manifest
        # drops lines whose gen predates the base after a crash in the
        # replace→remove window of _write_manifest. _commit always
        # loads the manifest first, so the cached generation is fresh.
        gen = getattr(self, "_base_generation", None)
        if gen is None:
            gen = self._read_base_generation()
        if gen:
            entry["gen"] = gen
        # torn-tail repair: a crash mid-append can leave a partial
        # final line WITHOUT a newline — appending directly would
        # concatenate onto the fragment and make THIS commit (and
        # every later one) undecodable. Terminate the fragment first;
        # _load_manifest skips the undecodable line as uncommitted.
        lead = ""
        if os.path.exists(self.manifest_log_path):
            size = os.path.getsize(self.manifest_log_path)
            if size > 0:
                with open(self.manifest_log_path, "rb") as rf:
                    rf.seek(size - 1)
                    if rf.read(1) != b"\n":
                        lead = "\n"
        with open(self.manifest_log_path, "a") as f:
            f.write(lead + json.dumps(entry, separators=(",", ":")) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # -- per-file column-stats store ---------------------------------------
    #
    # Iceberg records (row_count, null_count, lower/upper bound) per
    # column IN each manifest entry, written at commit time when the
    # writer still holds the file's footer — so planners never re-open
    # data files for stats. This store is that design for this format:
    #
    #   _filestats.json — compacted JSONL base, one line per data file
    #   _filestats.log  — append-only JSONL journal; _commit appends
    #       one line per FIRST-COMMITTED file (O(|delta|) footer reads
    #       of files the process just wrote, page-cache-hot)
    #
    # Entries are keyed by the file's path relative to the table root
    # and are IMMUTABLE facts (data files never change), so duplicate
    # lines are idempotent and later-wins replay is always safe. Files
    # written before this store existed are adopted lazily: any consult
    # that must fall back to a footer read persists what it read, so
    # the first post-upgrade scan migrates the table and every later
    # one is footer-free (same adoption model as the r9 audit-dir
    # migration). rewrite_manifests() folds the journal and prunes
    # entries for files no longer referenced by any snapshot.

    def _footer_stats_record(self, f: str) -> dict:
        """One file's stats line from its parquet FOOTER: row count
        plus per-leaf-column ``{nulls, min, max, t}``. Bounds follow
        the pruning path's honesty rules — any row group without
        min/max, or a string/binary column (writer-TRUNCATED bounds
        are not valid bounds), records NULL min/max; a row group
        without statistics at all also voids the null count."""
        import pyarrow.parquet as pq

        md = pq.read_metadata(f)
        cols: dict[str, dict] = {}
        for i in range(md.num_columns):
            name = md.schema.column(i).name
            nulls = 0
            nulls_ok = True
            lo = hi = None
            bounds_ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None:
                    nulls_ok = False
                    bounds_ok = False
                    continue
                if st.null_count is None:
                    nulls_ok = False
                else:
                    nulls += st.null_count
                if not st.has_min_max or isinstance(st.min, (str, bytes)):
                    bounds_ok = False
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            tag = lo_s = hi_s = None
            if bounds_ok and lo is not None:
                tag, lo_s = _enc_stat(lo)
                hi_tag, hi_s = _enc_stat(hi)
                if tag is None or hi_tag != tag:
                    tag = lo_s = hi_s = None
            cols[name] = {
                "nulls": int(nulls) if nulls_ok else None,
                "min": lo_s,
                "max": hi_s,
                "t": tag,
            }
        return {
            "file": os.path.relpath(_canon(f), self.path),
            "rows": md.num_rows,
            "cols": cols,
        }

    #: fold threshold: a folded store larger than this many files is
    #: written as range-partitioned PARQUET SHARDS of this many rows
    #: each (plus the shards.json index) instead of one driver-parsed
    #: JSONL — so a 10⁶-file table's stats consult is shard-pruned and
    #: columnar, never one monolithic JSON parse. Instance-overridable
    #: (tests set it to 2-3 to exercise the sharded layout).
    FILESTATS_SHARD_ROWS = 4096

    #: journal-pressure fold bar (VERDICT r11 #4): when the stats
    #: journal alone outgrows this many bytes, the next commit folds
    #: it into the sharded base instead of waiting for the scheduled
    #: rewrite_manifests() — consult cost between folds stays bounded
    #: by (pruned shards + ≤bar of journal), independent of commit
    #: count. ~1 MiB ≈ a few thousand file records. Instance-
    #: overridable (tests set it to a few bytes to force the path).
    FILESTATS_JOURNAL_FOLD_BYTES = 1 << 20

    def _filestats_arrow_schema(self):
        import pyarrow as pa

        return pa.schema([
            ("file", pa.string()),
            ("rows", pa.int64()),
            ("cols", pa.map_(pa.string(), pa.struct([
                ("nulls", pa.int64()),
                ("min", pa.string()),
                ("max", pa.string()),
                ("t", pa.string()),
            ]))),
        ])

    def _load_filestats_index(self) -> dict | None:
        """The sharded-base index, or None (legacy JSONL base / no
        store yet / torn write — os.replace makes torn unreachable,
        but decode defensively anyway)."""
        try:
            with open(self.filestats_index_path) as f:
                d = json.load(f)
        except (OSError, ValueError):
            return None
        if isinstance(d, dict) and isinstance(d.get("shards"), list):
            return d
        return None

    def _read_stats_shard(self, path: str, keys_only: bool = False) -> list[dict]:
        """One parquet shard → the store's record dicts (pyarrow maps
        come back as (k, v) tuple lists; re-dict them so shard-read
        records are indistinguishable from JSONL ones)."""
        import pyarrow.parquet as pq_mod

        tbl = pq_mod.read_table(
            path, columns=["file"] if keys_only else None
        )
        recs = tbl.to_pylist()
        if not keys_only:
            for rec in recs:
                rec["cols"] = {k: v for k, v in (rec["cols"] or [])}
        return recs

    def _load_filestats(self, keys=None) -> dict[str, dict]:
        """Base + journal, torn-line-safe, later-wins by file key.

        ``keys`` (an iterable of store keys — table-root-relative file
        paths) enables SHARD PRUNING on an indexed base: only shards
        whose sorted [min,max] key range intersects the requested keys
        are opened; the journal (the small between-folds delta) is
        always replayed. With ``keys=None`` the full store loads."""
        import bisect

        out: dict[str, dict] = {}
        idx = self._load_filestats_index()
        if idx is not None:
            want = sorted(set(keys)) if keys is not None else None
            for s in idx["shards"]:
                if want is not None:
                    i = bisect.bisect_left(want, s["min"])
                    if i >= len(want) or want[i] > s["max"]:
                        continue  # no requested key in this shard
                p = os.path.join(os.path.dirname(self.filestats_path),
                                 s["path"])
                if not os.path.exists(p):
                    continue  # defensive: index always cut over atomically
                for rec in self._read_stats_shard(p):
                    out[rec["file"]] = rec
            jsonl_paths = (self.filestats_log_path,)
        else:
            jsonl_paths = (self.filestats_path, self.filestats_log_path)
        for p in jsonl_paths:
            if not os.path.exists(p):
                continue
            with open(p) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn tail: not yet recorded
                    if isinstance(rec, dict) and "file" in rec:
                        out[rec["file"]] = rec
        return out

    def _filestats_keys(self) -> set[str]:
        """Membership-only store read: on an indexed base this touches
        just the 'file' COLUMN of each shard (columnar projection —
        no stats structs decoded), plus the journal keys."""
        idx = self._load_filestats_index()
        if idx is None:
            return set(self._load_filestats())
        have: set[str] = set()
        for s in idx["shards"]:
            p = os.path.join(os.path.dirname(self.filestats_path), s["path"])
            if os.path.exists(p):
                have.update(
                    r["file"] for r in self._read_stats_shard(p, keys_only=True)
                )
        if os.path.exists(self.filestats_log_path):
            with open(self.filestats_log_path) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if isinstance(rec, dict) and "file" in rec:
                        have.add(rec["file"])
        return have

    def _append_filestats(self, records: list[dict]) -> None:
        """Journal append with the same torn-tail repair as the
        manifest log: terminate a partial final line first so a crash
        mid-append can never make later records undecodable."""
        if not records:
            return
        with self._lock:
            os.makedirs(os.path.dirname(self.filestats_log_path), exist_ok=True)
            lead = ""
            if os.path.exists(self.filestats_log_path):
                size = os.path.getsize(self.filestats_log_path)
                if size > 0:
                    with open(self.filestats_log_path, "rb") as rf:
                        rf.seek(size - 1)
                        if rf.read(1) != b"\n":
                            lead = "\n"
            with open(self.filestats_log_path, "a") as f:
                f.write(lead + "\n".join(
                    json.dumps(r, separators=(",", ":")) for r in records
                ) + "\n")
                f.flush()
                os.fsync(f.fileno())

    def _record_file_stats(self, files: list[str]) -> None:
        """Best-effort stats recording at commit time — a file whose
        footer cannot be read (or a read-only store) degrades that
        file to the lazy-adoption path, never fails the commit."""
        recs = []
        for f in files:
            try:
                recs.append(self._footer_stats_record(f))
            except Exception:
                pass
        try:
            self._append_filestats(recs)
        except OSError:
            pass
        # journal-pressure auto-fold (VERDICT r11 #4 remainder): every
        # stats consult replays the journal on top of the base, so an
        # unbounded journal between rewrite_manifests() calls would
        # grow consult cost linearly with commits at 10⁶-file scale.
        # Once the journal alone exceeds the bar, fold it into the
        # (sharded) base HERE — commit time, manifest already advanced,
        # so the live-file prune sees the files this commit added. The
        # dirty-shard incremental fold makes this O(shards touched),
        # not O(store). Best-effort: a fold failure must not fail the
        # commit that triggered it (the journal stays readable).
        try:
            if (
                os.path.exists(self.filestats_log_path)
                and os.path.getsize(self.filestats_log_path)
                > self.FILESTATS_JOURNAL_FOLD_BYTES
            ):
                self._fold_filestats()
        except Exception:
            pass

    def files_missing_stats(self) -> list[str]:
        """LIVE files a stats consult would still footer-read — the
        pre-store history awaiting lazy adoption or
        :meth:`backfill_file_stats`. One keys-only store read (on an
        indexed base: just the 'file' column of each shard), no
        footers opened. (The single membership-test definition shared
        by the backfill and fleet_report's exposure column.)"""
        store = self._filestats_keys()
        return [
            f for f in self.current_files()
            if os.path.relpath(_canon(f), self.path) not in store
        ]

    def backfill_file_stats(self) -> int:
        """Explicit migration for pre-stats history: footer-read every
        LIVE file missing from the store and persist it (the same
        O(live files) footer pass a single legacy ``metadata_aggregate``
        call would do anyway). Returns the number of files adopted."""
        missing = self.files_missing_stats()
        self._record_file_stats(missing)
        return len(missing)

    def file_stats_df(self) -> DataFrame:
        """The stats store as a SCANNABLE relation — ``spark.read.json``
        over base + journal (both JSONL), schema-first, so at real
        file counts the planner-side work distributes instead of
        looping footers on the driver. min/max stay in their tagged
        string encoding; decode with :func:`_dec_stat` semantics
        downstream."""
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("file", T.StringType()),
            T.StructField("rows", T.LongType()),
            T.StructField("cols", T.MapType(T.StringType(), T.StructType([
                T.StructField("nulls", T.LongType()),
                T.StructField("min", T.StringType()),
                T.StructField("max", T.StringType()),
                T.StructField("t", T.StringType()),
            ]))),
        ])
        idx = self._load_filestats_index()
        parts = []
        if idx is not None:
            shard_paths = [
                p for s in idx["shards"]
                if os.path.exists(p := os.path.join(
                    os.path.dirname(self.filestats_path), s["path"]))
            ]
            if shard_paths:
                parts.append(
                    self.spark.read.schema(schema).parquet(*shard_paths)
                )
            jsonl = [self.filestats_log_path]
        else:
            jsonl = [self.filestats_path, self.filestats_log_path]
        jsonl = [p for p in jsonl if os.path.exists(p)]
        if jsonl:
            parts.append(self.spark.read.schema(schema).json(jsonl))
        if not parts:
            return local_frame(self.spark, [], schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return (
            df
            .where(F.col("file").isNotNull())  # torn tail → null row
            .dropDuplicates(["file"])  # idempotent replay: lines equal
        )

    def _fold_filestats(self) -> int:
        """Fold the journal into the base and prune entries for files
        no snapshot references anymore. Crash-safe the same way as
        _write_manifest: the cutover is one atomic replace (base.jsonl
        tmp+replace, or shards.json tmp+replace for the indexed
        layout), then the journal is removed (replayed leftovers are
        idempotent by key).

        Layout choice: a folded store of ≤ FILESTATS_SHARD_ROWS files
        keeps the single-JSONL base (the simple small-table path); a
        larger one — or any table already indexed — is written as
        sorted range-partitioned parquet shards + shards.json (once
        indexed, always indexed, so a crash can never leave two
        plausible bases: the index's existence IS the layout bit, and
        it only ever changes by atomic replace). Stale-generation
        shards and the legacy base are deleted only after the index
        cutover; a crash before cleanup leaves ignorable garbage that
        the next fold removes."""
        with self._lock:
            prior_idx = self._load_filestats_index()
            live = {
                os.path.relpath(_canon(f), self.path)
                for s in self._load_manifest()
                for f in s.files
            }
            os.makedirs(os.path.dirname(self.filestats_path), exist_ok=True)
            if prior_idx is not None:
                removed = self._fold_filestats_incremental(prior_idx, live)
            else:
                store = self._load_filestats()
                kept = [rec for key, rec in sorted(store.items())
                        if key in live]
                if len(kept) > self.FILESTATS_SHARD_ROWS:
                    self._write_stats_shards(kept, None)
                else:
                    tmp = self.filestats_path + ".tmp"
                    with open(tmp, "w") as f:
                        for rec in kept:
                            f.write(json.dumps(rec, separators=(",", ":"))
                                    + "\n")
                        f.flush()
                        os.fsync(f.fileno())
                    os.replace(tmp, self.filestats_path)
                removed = len(store) - len(kept)
            if os.path.exists(self.filestats_log_path):
                os.remove(self.filestats_log_path)
            return removed

    def _fold_filestats_incremental(self, prior_idx: dict, live: set
                                    ) -> int:
        """Dirty-shard-only fold for an indexed base (r11): a shard is
        rewritten ONLY if the journal assigns it new records or it
        holds entries for now-dead files; clean shards' parquet files
        are reused byte-for-byte in the new index (same path, never
        re-encoded). At 10⁶ files a steady-state fold therefore
        rewrites the handful of shards the commits since the last fold
        touched, not the whole store — the manifest-rewrite cost model
        (Iceberg rewrites only affected manifests) applied to stats.

        Dead detection is a keys-only columnar scan of each shard (no
        stats structs decoded); journal keys route to the shard whose
        key interval would contain them (bisect on shard minima —
        edge keys extend the first/last shard, so ranges stay sorted
        and disjoint). A dirty shard's surviving+assigned records are
        re-split at FILESTATS_SHARD_ROWS, so a hot interval re-shards
        itself. Cutover stays one atomic index replace; GC then
        deletes every shard file the new index does not reference."""
        import bisect

        import pyarrow as pa
        import pyarrow.parquet as pq_mod

        stats_dir = os.path.dirname(self.filestats_path)
        shards = prior_idx["shards"]
        gen = int(prior_idx.get("generation", 0)) + 1
        step = max(1, int(self.FILESTATS_SHARD_ROWS))

        # journal, later-wins by key, dead keys dropped outright
        jrecs: dict[str, dict] = {}
        if os.path.exists(self.filestats_log_path):
            with open(self.filestats_log_path) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if isinstance(rec, dict) and "file" in rec:
                        jrecs[rec["file"]] = rec
        jlive = {k: r for k, r in jrecs.items() if k in live}

        mins = [s["min"] for s in shards]
        assign: dict[int, dict[str, dict]] = {}
        for k, r in jlive.items():
            i = max(0, bisect.bisect_right(mins, k) - 1) if shards else 0
            assign.setdefault(i, {})[k] = r

        dirty: set[int] = set(assign)
        all_keys: set[str] = set(jrecs)
        shard_paths: dict[int, str] = {}
        for i, s in enumerate(shards):
            p = os.path.join(stats_dir, s["path"])
            shard_paths[i] = p
            if not os.path.exists(p):
                dirty.add(i)  # defensive: vanished file → rebuild slot
                continue
            keys = [r["file"]
                    for r in self._read_stats_shard(p, keys_only=True)]
            all_keys.update(keys)
            if any(k not in live for k in keys):
                dirty.add(i)

        schema = self._filestats_arrow_schema()
        seq = 0
        new_entries: list[dict] = []
        kept_total = 0

        def write_chunks(records: list[tuple[str, dict]]) -> None:
            nonlocal seq, kept_total
            for j in range(0, len(records), step):
                chunk = [r for _k, r in records[j:j + step]]
                name = f"base-g{gen:06d}-{seq:05d}.parquet"
                seq += 1
                rows = [
                    {"file": r["file"], "rows": r["rows"],
                     "cols": list(r["cols"].items())}
                    for r in chunk
                ]
                pq_mod.write_table(
                    pa.Table.from_pylist(rows, schema=schema),
                    os.path.join(stats_dir, name),
                )
                new_entries.append({
                    "path": name,
                    "min": chunk[0]["file"],
                    "max": chunk[-1]["file"],
                    "count": len(chunk),
                })
                kept_total += len(chunk)

        for i, s in enumerate(shards):
            if i not in dirty:
                new_entries.append(s)  # file reused, not re-encoded
                kept_total += int(s["count"])
                continue
            recs: dict[str, dict] = {}
            if os.path.exists(shard_paths[i]):
                for r in self._read_stats_shard(shard_paths[i]):
                    recs[r["file"]] = r
            recs.update(assign.get(i, {}))
            write_chunks(sorted(
                (k, r) for k, r in recs.items() if k in live
            ))
        if not shards and jlive:  # bootstrap: empty index + journal
            write_chunks(sorted(jlive.items()))

        new_entries.sort(key=lambda s: s["min"])
        tmp = self.filestats_index_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"generation": gen, "shards": new_entries}, f,
                      separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.filestats_index_path)  # the cutover
        referenced = {s["path"] for s in new_entries}
        for p in glob.glob(os.path.join(stats_dir, "base-g*.parquet")):
            if os.path.basename(p) not in referenced:
                try:
                    os.remove(p)
                except OSError:
                    pass
        if os.path.exists(self.filestats_path):
            try:
                os.remove(self.filestats_path)
            except OSError:
                pass
        return len(all_keys) - kept_total

    def _write_stats_shards(self, kept: list[dict], prior_idx: dict | None
                            ) -> None:
        """Write ``kept`` (already sorted by file key) as parquet
        shards of FILESTATS_SHARD_ROWS rows each + the shards.json
        index carrying each shard's [min,max] key range — the prune
        metadata. New shards land under a fresh generation number
        first; the atomic index replace is the cutover; then stale
        generations and the legacy JSONL base are garbage-collected."""
        import pyarrow as pa
        import pyarrow.parquet as pq_mod

        stats_dir = os.path.dirname(self.filestats_path)
        gen = int(prior_idx.get("generation", 0)) + 1 if prior_idx else 1
        schema = self._filestats_arrow_schema()
        step = max(1, int(self.FILESTATS_SHARD_ROWS))
        shards = []
        for i in range(0, len(kept), step):
            chunk = kept[i:i + step]
            name = f"base-g{gen:06d}-{i // step:05d}.parquet"
            rows = [
                {"file": r["file"], "rows": r["rows"],
                 "cols": list(r["cols"].items())}
                for r in chunk
            ]
            pq_mod.write_table(
                pa.Table.from_pylist(rows, schema=schema),
                os.path.join(stats_dir, name),
            )
            shards.append({
                "path": name,
                "min": chunk[0]["file"],
                "max": chunk[-1]["file"],
                "count": len(chunk),
            })
        tmp = self.filestats_index_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"generation": gen, "shards": shards}, f,
                      separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.filestats_index_path)  # the cutover
        # post-cutover GC: stale-generation shards + the legacy base
        prefix = f"base-g{gen:06d}-"
        for p in glob.glob(os.path.join(stats_dir, "base-g*.parquet")):
            if not os.path.basename(p).startswith(prefix):
                try:
                    os.remove(p)
                except OSError:
                    pass
        if os.path.exists(self.filestats_path):
            try:
                os.remove(self.filestats_path)
            except OSError:
                pass

    def manifest_log_entries(self) -> int:
        """Journal length (DECODABLE, LIVE entries only — a torn
        fragment is not a commit, and a line whose generation predates
        the base is a folded leftover from a crashed rewrite; neither
        may trip the rewrite trigger or inflate entries_folded)."""
        if not os.path.exists(self.manifest_log_path):
            return 0
        base_gen = self._read_base_generation()
        n = 0
        with open(self.manifest_log_path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    d = json.loads(line)
                except ValueError:
                    continue
                if isinstance(d, dict) and int(d.get("gen", 0)) < base_gen:
                    continue
                n += 1
        return n

    def rewrite_manifests(self) -> dict:
        """Iceberg's ``rewrite_manifests`` maintenance procedure for
        this format: fold the append-only commit journal into the
        compacted base, bounding manifest-load cost after long commit
        runs. Idempotent; returns observability stats."""
        with self._lock:
            journal_bytes = (
                os.path.getsize(self.manifest_log_path)
                if os.path.exists(self.manifest_log_path)
                else 0
            )
            folded = self.manifest_log_entries()
            self._write_manifest(self._load_manifest())
            stats_pruned = self._fold_filestats()
        return {
            "entries_folded": folded,
            "journal_bytes_folded": journal_bytes,
            "manifest_bytes": os.path.getsize(self.manifest_path),
            "filestats_pruned": stats_pruned,
        }

    def _commit(self, base: Snapshot | None, added=(), removed=(),
                add_deletes=(), remove_deletes=(),
                operation: str = "append",
                properties: dict | None = None,
                ref: str = "main", clock=None) -> Snapshot:
        """Commit the delta a writer planned from ``base`` (the
        snapshot it read, None for an empty table) as the next snapshot
        of ``ref`` (Iceberg's refs model: the manifest list is the
        snapshot LOG; branches are named pointers into it, ``main``
        being the default read head; tables that never used a branch
        carry no refs and keep the log-tail-is-current behavior).

        The delta is ``added``/``removed`` data files and
        ``add_deletes``/``remove_deletes`` delete entries (removal
        matches by path). Under the table lock the head of ``ref`` is
        reloaded; the new snapshot holds the head's files minus
        ``removed`` plus ``added``, and the head's delete entries minus
        ``remove_deletes`` plus ``add_deletes``. An added entry without
        a ``seq`` is stamped with the id being committed. Carried
        entries that can no longer remove a row of the new file list
        (:meth:`_entry_applies`) are dropped, so snapshot metadata
        never accretes dead deletes.

        When the head moved since ``base``, the delta is validated
        against it first (Iceberg's optimistic concurrency,
        https://iceberg.apache.org/spec/#optimistic-concurrency);
        appends simply rebase. :class:`CommitConflict` is raised when

        - a file or delete entry the commit removes is no longer live;
        - the commit removes data files and a delete entry committed
          since ``base`` applies to one of them (its rows were
          rewritten from a state that did not apply that delete);
        - an added positional entry targets a file that left the head.

        Every added data file's sequence number (the id that first
        committed it) and size are recorded in ``_table.json`` after
        the journal line. A crash between the two leaves the file out
        of the map; :meth:`_file_seq_of` then takes it from the log,
        and :meth:`expire_snapshots` records it before dropping the
        snapshot that added it."""
        removed = set(removed)
        gone = {e["path"] for e in remove_deletes}
        with self._lock:
            snapshots = self._load_manifest()
            meta = self._load_meta()
            branches = meta.get("branches", {})
            head_id = branches.get(ref) if ref in branches else (
                snapshots[-1].snapshot_id if snapshots else None
            )
            head = next((s for s in snapshots if s.snapshot_id == head_id),
                        None)
            next_id = (snapshots[-1].snapshot_id + 1) if snapshots else 1
            head_files = set(head.files) if head else set()
            head_entries = list(head.delete_files or []) if head else []
            files = sorted((head_files - removed) | set(added))
            entries = [e for e in head_entries if e["path"] not in gone] + [
                {**e, "seq": e.get("seq", next_id)} for e in add_deletes
            ]
            seqmap = self._file_seq_of() if entries else {}
            for f in added:
                seqmap.setdefault(_canon(f), next_id)
            if head_id != (base.snapshot_id if base else None):
                self._validate_rebase(base, head, removed, gone,
                                      add_deletes, seqmap)
            canon = {_canon(f) for f in files}
            entries = [e for e in entries
                       if self._entry_applies(e, canon, seqmap)]
            snap = Snapshot(next_id, (clock or _utcnow)().isoformat(sep=" "),
                            files, parent_id=head_id,
                            delete_files=entries or None,
                            operation=operation,
                            properties=dict(properties) if properties
                            else None)
            # O(|delta|) journal append — never a full-log rewrite
            self._append_manifest_entry(
                snap, {s.snapshot_id: s.files for s in snapshots}
            )
            seq = meta.setdefault("file_seq", {})
            sizes = meta.setdefault("file_sizes", {})
            fresh = [f for f in added if _canon(f) not in seq]
            for f in fresh:
                seq[_canon(f)] = next_id
                # the size is recorded ONCE, at first commit (we just
                # wrote the file, so the stat is storage-local) —
                # live_bytes() and fleet dashboards never stat it again
                with contextlib.suppress(OSError):
                    sizes[_canon(f)] = os.path.getsize(f)
            moved_ref = ref != "main" or "branches" in meta
            if moved_ref:
                meta.setdefault("branches", {})[ref] = next_id
            if fresh or moved_ref:
                self._save_meta(meta)
            # manifest-persisted column stats: the writer holds these
            # files' footers RIGHT NOW (just written / just adopted) —
            # record them once so no stats consult ever re-opens them
            if fresh:
                self._record_file_stats(fresh)
        return snap

    def _validate_rebase(self, base: Snapshot | None, head: Snapshot | None,
                         removed: set[str], gone: set[str], add_deletes,
                         seqmap: dict[str, int]) -> None:
        """Raise :class:`CommitConflict` unless a delta planned from
        ``base`` still applies to ``head`` (the rules in
        :meth:`_commit`)."""
        head_files = set(head.files) if head else set()
        head_entries = list(head.delete_files or []) if head else []
        at = f"head {head.snapshot_id if head else None}"
        if not removed <= head_files or not gone <= {
            e["path"] for e in head_entries
        }:
            raise CommitConflict(
                f"{self.path}: files or delete entries the commit "
                f"removes are no longer live at {at}"
            )
        if removed:
            known = ({e["path"] for e in (base.delete_files or [])}
                     if base else set())
            rewritten = {_canon(f) for f in removed}
            for e in head_entries:
                if e["path"] not in known and self._entry_applies(
                    e, rewritten, seqmap
                ):
                    raise CommitConflict(
                        f"{self.path}: delete {e['path']} committed since "
                        f"the base applies to a file the commit rewrites"
                    )
        live = {_canon(f) for f in head_files}
        for e in add_deletes:
            if e["content"] == "position" and any(
                t not in live for t in e.get("targets") or ()
            ):
                raise CommitConflict(
                    f"{self.path}: a positional delete targets a file "
                    f"that left {at}"
                )

    # -- core I/O ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        partition_cols: list[str] | None = None,
    ) -> "ParquetMaintainedTable":
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        t = cls(spark, path, partition_cols)
        with t._lock:
            if not os.path.exists(t.manifest_path):
                t._write_manifest([])
            if partition_cols and not os.path.exists(t.table_meta_path):
                t._save_meta({"partition_cols": partition_cols})
        return t

    def current_snapshot(self) -> Snapshot | None:
        snaps = self._load_manifest()
        if not snaps:
            return None
        head = self._load_meta().get("branches", {}).get("main")
        if head is not None:
            for snap in snaps:
                if snap.snapshot_id == head:
                    return snap
        return snaps[-1]

    def current_files(self) -> list[str]:
        snap = self.current_snapshot()
        return list(snap.files) if snap else []

    def live_bytes(self) -> int:
        """Total bytes of the current snapshot's data files, from the
        commit-time size map in ``_table.json`` — O(1) filesystem ops
        per call (each file was stat'd exactly once, at its first
        commit). Files missing from the map (tables written by older
        versions) fall back to one stat each and stay storage-local
        only for that legacy tail."""
        sizes = self._load_meta().get("file_sizes", {})
        total = 0
        for f in self.current_files():
            known = sizes.get(_canon(f))
            if known is not None:
                total += int(known)
            else:
                try:
                    total += os.path.getsize(f)
                except OSError:
                    pass
        return total

    def _write_data(self, df: DataFrame, num_files: int | None = None) -> list[str]:
        """Write df into a fresh immutable snap dir; one parquet file
        per output task (``num_files`` controls bin-pack width). For a
        partitioned table the snap dir gains hive-style ``col=value``
        subdirectories."""
        sid = uuid.uuid4().hex[:12]
        out = os.path.join(self.data_dir, f"snap-{sid}")
        if num_files is not None:
            df = df.repartition(num_files) if num_files > 1 else df.coalesce(1)
        part_names = []
        if self.partition_cols:
            terms = [parse_partition_spec(t) for t in self.partition_cols]
            derived = []
            for t in terms:
                if t["fn"] != "identity":
                    if t["name"] in df.columns:
                        raise ValueError(
                            f"hidden partition column {t['name']!r} collides "
                            f"with a real column — rename the column or the "
                            f"transform source"
                        )
                    df = df.withColumn(t["name"], _transform_col(t))
                    derived.append(t["name"])
            part_names = [t["name"] for t in terms]
            if derived:
                # remember every hidden dir column ever written so
                # reads can strip them from legacy snaps after spec
                # evolution
                with self._lock:
                    meta = self._load_meta()
                    known = set(meta.get("derived_partition_names", []))
                    if not known.issuperset(derived):
                        meta["derived_partition_names"] = sorted(
                            known | set(derived)
                        )
                        self._save_meta(meta)
        writer = df.write.mode("overwrite")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(out)
        return sorted(
            glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        )

    def append(self, df: DataFrame, clock=None, single_file: bool = True,
               branch: str = "main",
               properties: dict | None = None) -> Snapshot:
        """INSERT (S6) — each append commits a new snapshot whose file
        set is previous ∪ new. ``single_file`` mirrors the reference
        tests' one-file-per-insert granularity
        (tests/test_maintenance.py:48-49). New columns in ``df``
        evolve the tracked schema (add-column only); older files read
        them as NULL."""
        # resolve the branch FIRST: a typo'd branch name must not
        # evolve the schema or leave orphaned snap dirs behind
        bsnap = self._branch_snapshot(branch)
        self._evolve_schema(df.schema)
        new_files = self._write_data(df, num_files=1 if single_file else None)
        # pending delete files carry forward: they keep applying to the
        # old files; the appended file's sequence number is newer than
        # every pending delete, so its rows are never filtered
        return self._commit(bsnap, added=new_files, ref=branch,
                            properties=properties, clock=clock)

    def overwrite(self, df: DataFrame, clock=None,
                  single_file: bool = False) -> Snapshot:
        """TRUNCATE + INSERT as one commit (Iceberg's
        ``INSERT OVERWRITE`` on an unpartitioned table): the new
        snapshot references ONLY the new files; previous files stay
        owned by older snapshots (time travel keeps working) until
        expiry GCs them. Pending delete entries do not carry — nothing
        they referenced is visible."""
        self._evolve_schema(df.schema)
        new_files = self._write_data(
            df, num_files=1 if single_file else None
        )
        return self._replace_all(new_files, clock)

    def truncate(self, clock=None) -> Snapshot:
        """TRUNCATE TABLE as one commit: the new snapshot references
        NO files. Previous files stay owned by older snapshots (time
        travel keeps working) until expiry GCs them — the metadata
        half of :meth:`overwrite` with nothing to write. Pending
        delete entries do not carry: nothing they referenced is
        visible."""
        return self._replace_all([], clock)

    def _replace_all(self, new_files: list[str], clock) -> Snapshot:
        """Commit ``new_files`` as the table's whole content, dropping
        every data file and delete entry of the current snapshot."""
        snap = self.current_snapshot()
        files, entries = ((snap.files, snap.delete_files or []) if snap
                          else ([], []))
        return self._commit(snap, added=new_files, removed=files,
                            remove_deletes=entries, operation="overwrite",
                            clock=clock)

    def add_files(self, paths: list[str], clock=None,
                  branch: str = "main") -> Snapshot:
        """Iceberg's ``add_files`` procedure: register EXISTING parquet
        files into the table as one commit — no data is read or
        rewritten, only metadata moves (the bulk-import path for data
        that already lives in the warehouse in the right format). The
        files' schema must be readable by the table's scan; schema
        union happens lazily at read (mergeSchema semantics are the
        caller's concern, matching Iceberg's check_duplicate_files
        scope). Missing paths raise — a typo must not commit a
        snapshot referencing nothing. ``branch`` extends the commit
        onto a named ref (same semantics as :meth:`append`)."""
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise ValueError(f"add_files: missing files {missing[:3]}")
        canon = [_canon(p) for p in paths]
        if len(set(canon)) != len(canon):
            # two spellings of one file ('x' and './x') would commit
            # the same file twice and double its rows on every read
            seen: set[str] = set()
            rep = [c for c in canon if c in seen or seen.add(c)]
            raise ValueError(f"add_files: duplicate inputs {rep[:3]}")
        bsnap = self._branch_snapshot(branch)
        live = {_canon(f) for f in bsnap.files} if bsnap else set()
        dupes = live & set(canon)
        if dupes:
            raise ValueError(
                f"add_files: already referenced: {sorted(dupes)[:3]}"
            )
        return self._commit(bsnap, added=canon, ref=branch, clock=clock)

    def read(self) -> DataFrame:
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError(f"table {self.path} has no snapshots")
        if not snap.files:
            # truncated (or delete-everything) table: empty is a
            # VALID current state — read it as a typed empty frame,
            # distinct from the never-written error above
            schema = self.tracked_schema()
            if schema is None:
                raise ValueError(f"table {self.path} has no snapshots")
            return local_frame(self.spark, [], schema)
        return self._read_effective(snap.files, snap.delete_files)

    def read_as_of(
        self,
        snapshot_id: int | None = None,
        as_of: dt.datetime | None = None,
    ) -> DataFrame:
        """Time travel (Trino `FOR VERSION AS OF` / `FOR TIMESTAMP AS
        OF` on Iceberg tables): read the table as of a snapshot id or
        the last snapshot committed at-or-before ``as_of``. Works
        because data files are immutable and maintenance only ever
        *adds* snapshots — compaction rewrites stay invisible to older
        snapshots until ``expire_snapshots`` drops them."""
        if (snapshot_id is None) == (as_of is None):
            raise ValueError("pass exactly one of snapshot_id / as_of")
        snaps = self._load_manifest()
        if snapshot_id is not None:
            match = [s for s in snaps if s.snapshot_id == snapshot_id]
            if not match:
                raise ValueError(f"no snapshot {snapshot_id} in {self.path}")
            return self._read_effective(match[0].files, match[0].delete_files)
        # committed_at is recorded naive-UTC; accept an aware as_of by
        # converting rather than raising on naive-vs-aware comparison
        if as_of.tzinfo is not None:
            as_of = as_of.astimezone(dt.timezone.utc).replace(tzinfo=None)
        eligible = [
            s
            for s in snaps
            if dt.datetime.fromisoformat(s.committed_at) <= as_of
        ]
        if not eligible:
            raise ValueError(f"no snapshot at or before {as_of} in {self.path}")
        # manifest order is append order, which an injectable clock can
        # put out of time order — pick by committed_at, not position
        latest = max(
            eligible, key=lambda s: (s.committed_at, s.snapshot_id)
        )
        return self._read_effective(latest.files, latest.delete_files)

    # -- merge-on-read row-level deletes (Iceberg v2 semantics) -----------
    #
    # Reference contract: Iceberg v2 DELETE on a non-rewritten table
    # writes DELETE FILES instead of rewriting data (positional: (file,
    # row-position) tuples; equality: key tuples scoped by data
    # sequence number), readers merge them at scan time, and
    # maintenance (`rewrite_data_files` / `rewrite_position_deletes`)
    # materializes them away. The reference drives these procedures
    # through Trino (reference __main__.py:161-177 runs `optimize`,
    # which on Iceberg v2 compacts delete files too); this block gives
    # the hand-rolled format the same observable semantics.
    #
    # Scale shape at 100 TB: a DELETE touching 0.01% of rows writes one
    # metadata-sized delete file and zero data files — the read-side
    # cost is an anti-join against a small relation Spark will
    # broadcast (planner-chosen, not forced: a genuinely huge delete
    # vector degrades gracefully to a shuffled join instead of OOMing
    # the driver). Sequence-number scoping means appends AFTER an
    # equality delete are never re-filtered.

    def _file_seq_of(self) -> dict[str, int]:
        """Canonical data-file path → data sequence number (the
        snapshot id that first committed the file). Persisted in
        ``_table.json`` by :meth:`_commit`; falls back to a manifest
        walk for files the map lacks (tables created before the map
        existed, or a crash between the journal line and the map
        write — :meth:`expire_snapshots` records those before the walk
        could lose them)."""
        meta = self._load_meta()
        seq = {p: int(s) for p, s in meta.get("file_seq", {}).items()}
        for s in self._load_manifest():
            for f in s.files:
                seq.setdefault(_canon(f), s.snapshot_id)
        return seq

    def _alias_to_current(self) -> dict[str, str]:
        """pre-rename column name → current name (for translating
        equality-delete key columns written before a rename)."""
        return {
            a: cur
            for cur, als in self._load_meta()
            .get("renamed_from", {})
            .items()
            for a in als
        }

    def _read_delete_keys(self, entry: dict) -> tuple[DataFrame, list[str]]:
        """An equality delete file's key relation with its columns
        translated to CURRENT names (the file keeps the physical names
        of its write time; renames since then are metadata-only)."""
        to_cur = self._alias_to_current()
        cols = [to_cur.get(c, c) for c in entry["equality_cols"]]
        k = self.spark.read.parquet(entry["path"])
        for old, cur in zip(entry["equality_cols"], cols):
            if old != cur:
                k = k.withColumnRenamed(old, cur)
        return k.select(*cols), cols

    def _apply_delete_entries(self, df: DataFrame, entries: list) -> DataFrame:
        """Merge delete files into a lineage-tagged scan: positional
        deletes anti-join on (file, row position); equality deletes
        anti-join on the key columns, restricted to data files whose
        sequence number predates the delete (rows appended after the
        delete survive — Iceberg's sequence-number contract)."""
        pos = [e for e in entries if e["content"] == "position"]
        eqs = [e for e in entries if e["content"] == "equality"]
        if pos:
            dels = self.spark.read.parquet(*[e["path"] for e in pos])
            cond = (df[_FP] == dels["file_path"]) & (df[_POS] == dels["pos"])
            df = df.join(dels, on=cond, how="left_anti")
        if eqs:
            seq_rows = [(p, s) for p, s in self._file_seq_of().items()]
            # one row per data file ever committed — metadata-sized
            seq_df = F.broadcast(local_frame(
                self.spark, seq_rows, f"{_FP} string, {_FSEQ} long"
            ))
            df = df.join(seq_df, _FP, "left")
            to_cur = self._alias_to_current()
            by_cols: dict[tuple, list] = {}
            for e in eqs:
                cur_cols = tuple(
                    to_cur.get(c, c) for c in e["equality_cols"]
                )
                by_cols.setdefault(cur_cols, []).append(e)
            for cols, group in sorted(by_cols.items()):
                dels = None
                for e in group:
                    k, _ = self._read_delete_keys(e)
                    k = k.withColumn("__mor_dseq", F.lit(int(e["seq"])))
                    dels = k if dels is None else dels.unionByName(k)
                cond = df[_FSEQ] < dels["__mor_dseq"]
                for c in cols:
                    cond = cond & df[c].eqNullSafe(dels[c])
                df = df.join(dels, on=cond, how="left_anti")
            df = df.drop(_FSEQ)
        return df

    def _read_effective(
        self,
        files: list[str],
        entries: list | None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Scan ``files`` with ``entries``' deletes applied — the
        merge-on-read row set every reader sees. Delete application is
        per-file-independent, so subset reads (compaction of one
        partition, changelog over changed files) stay sound."""
        entries = entries or []
        if not entries:
            return self._read_files(files, with_lineage=with_lineage)
        df = self._read_files(files, with_lineage=True)
        df = self._apply_delete_entries(df, entries)
        return df if with_lineage else df.drop(_FP, _POS)

    def _write_delete_file(self, df: DataFrame) -> str:
        """Persist a delete relation as ONE parquet file inside a fresh
        snap dir (so expiry/orphan GC manage it like any data file)."""
        sid = uuid.uuid4().hex[:12]
        out = os.path.join(self.data_dir, f"snap-{sid}")
        df.coalesce(1).write.mode("overwrite").parquet(out)
        return sorted(glob.glob(os.path.join(out, "*.parquet")))[0]

    def _write_rewrite(self, rows: DataFrame, n: int) -> list[str]:
        """Write the surviving rows of ``n`` rewritten files, given with
        their ``_FP`` lineage. On a partitioned table rows are grouped
        by the file they came from, so no partition gets more files
        than the rewrite removed from it (a round-robin deal would
        spread every partition over all ``n`` tasks: up to n × P
        files)."""
        if self.partition_cols:
            rows, n = rows.repartition(n, _FP), None
        return self._write_data(rows.drop(_FP, _POS), num_files=n)

    @staticmethod
    def _entry_applies(entry: dict, canon: set[str],
                       seqmap: dict[str, int]) -> bool:
        """Whether delete ``entry`` can remove rows of the data files
        ``canon`` (canonical paths): a positional entry that targets
        one of them or names no targets (match-anything), or an
        equality entry newer than one of them."""
        if entry["content"] == "position":
            tgts = entry.get("targets")
            return tgts is None or any(t in canon for t in tgts)
        return any(seqmap.get(c, 0) < entry["seq"] for c in canon)

    def delete_where(
        self,
        condition,
        mode: str = "merge-on-read",
        clock=None,
    ) -> Snapshot:
        """Row-level DELETE. ``merge-on-read`` (Iceberg v2 default for
        position deletes) writes one positional delete file — (file,
        row position) of every currently-visible matching row — and
        commits a snapshot that keeps every data file; readers merge.
        ``copy-on-write`` (Iceberg v1 / Trino `DELETE` on v1 tables)
        rewrites ONLY the files that contain a match (file-granular,
        like :meth:`merge_into`) and carries untouched files by
        reference."""
        snap = self.current_snapshot()
        if snap is None or not snap.files:
            raise ValueError(f"table {self.path} has no snapshots")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        entries = list(snap.delete_files or [])
        if mode == "copy-on-write":
            eff = self._read_effective(snap.files, entries, with_lineage=True)
            hit_set = {
                r[0]
                for r in eff.filter(cond).select(_FP).distinct().collect()
            }
            hit = [f for f in snap.files if _canon(f) in hit_set]
            new_files = []
            if hit:
                # DELETE removes rows where cond IS TRUE; NULL-cond
                # rows survive — hence coalesce, not bare negation
                survivors = self._read_effective(
                    hit, entries, with_lineage=True
                ).filter(~F.coalesce(cond, F.lit(False)))
                new_files = self._write_rewrite(survivors, len(hit))
            return self._commit(snap, added=new_files, removed=hit,
                                operation="overwrite", clock=clock)
        if mode != "merge-on-read":
            raise ValueError("mode must be 'merge-on-read' or 'copy-on-write'")
        eff = self._read_effective(snap.files, entries, with_lineage=True)
        matched = eff.filter(cond).select(
            F.col(_FP).alias("file_path"), F.col(_POS).alias("pos")
        )
        path = self._write_delete_file(matched)
        written = self.spark.read.parquet(path)
        targets = sorted(
            r[0] for r in written.select("file_path").distinct().collect()
        )
        entry = {"path": path, "content": "position", "targets": targets}
        if not targets:  # nothing matched — keep state, drop empty file
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        return self._commit(snap, add_deletes=[entry] if targets else (),
                            operation="delete", clock=clock)

    def delete_by_key(
        self, keys: DataFrame, on: list[str], clock=None
    ) -> Snapshot:
        """Equality DELETE (Iceberg v2 equality delete files — the
        streaming-upsert shape: Flink CDC writes these): drop every
        row whose ``on`` tuple appears in ``keys``, WITHOUT scanning
        the table at delete time. The delete file stores the distinct
        key tuples plus the commit's sequence number; it applies only
        to data files with an older sequence number, so rows appended
        later with the same key are NOT deleted."""
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError(f"table {self.path} has no snapshots")
        schema = self.tracked_schema()
        if schema is not None:
            known = {f.name for f in schema.fields}
            missing = [c for c in on if c not in known]
            if missing:
                raise ValueError(f"equality columns not in schema: {missing}")
        path = self._write_delete_file(keys.select(*on).dropDuplicates())
        entry = {"path": path, "content": "equality",
                 "equality_cols": list(on)}
        return self._commit(snap, add_deletes=[entry], operation="delete",
                            clock=clock)

    def compact_delete_files(self, clock=None) -> Snapshot:
        """Iceberg's ``rewrite_position_deletes``: merge the pending
        POSITIONAL delete files into one, touching no data files —
        streaming upserts leave a delete file per commit, and the
        read-side anti-join degrades with a long list of tiny inputs.
        Equality entries are left as-is (they are already one file per
        delete and sequence-scoped); dead positions referencing
        vanished files are dropped in the rewrite."""
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError(f"table {self.path} has no snapshots")
        entries = list(snap.delete_files or [])
        pos = [e for e in entries if e["content"] == "position"]
        if len(pos) <= 1:
            return snap
        live = {_canon(f) for f in snap.files}
        live_df = local_frame(
            self.spark, [(p,) for p in sorted(live)], "file_path string"
        )
        # dead positions (their target file left the snapshot) are
        # dropped in the rewrite, not just from the targets metadata —
        # the delete relation readers anti-join against actually
        # shrinks
        merged = (
            self.spark.read.parquet(*[e["path"] for e in pos])
            .select("file_path", "pos")
            .join(F.broadcast(live_df), "file_path", "left_semi")
            .distinct()
        )
        path = self._write_delete_file(merged)
        written = self.spark.read.parquet(path)
        targets = sorted(
            r[0]
            for r in written.select("file_path").distinct().collect()
            if r[0] in live
        )
        entry = {
            "path": path,
            "content": "position",
            "seq": max(int(e["seq"]) for e in pos),
            "targets": targets,
        }
        return self._commit(snap, add_deletes=[entry], remove_deletes=pos,
                            operation="replace", clock=clock)

    def upsert_by_key(
        self, source: DataFrame, on: list[str], clock=None
    ) -> Snapshot:
        """ATOMIC merge-on-read upsert (Iceberg v2 / Flink-CDC shape):
        ONE commit carrying an equality delete file (the source's key
        tuples) and a data file (the source rows) — no scan, no
        rewrite, O(source) work regardless of table size. The delete's
        sequence number scopes it to pre-existing files, the new file
        is newer, so the source's version of every key wins exactly.
        Duplicate source keys must be resolved by the caller
        (dropDuplicates) — enforced here like ``merge_into``.

        Contrast: ``merge_into`` is the copy-on-write formulation
        (reads + rewrites every file containing a matched key — better
        read amplification, worse write amplification); this is the
        write-cheap one that ``optimize``/``purge_deletes`` settles
        later."""
        snap = self.current_snapshot()
        src = source.dropDuplicates(on)
        new_entries = []
        if snap is not None and snap.files:
            schema = self.tracked_schema()
            if schema is not None:
                known = {f.name for f in schema.fields}
                missing = [c for c in on if c not in known]
                if missing:
                    raise ValueError(
                        f"upsert key columns not in schema: {missing}"
                    )
            del_path = self._write_delete_file(
                src.select(*on).dropDuplicates()
            )
            new_entries = [{"path": del_path, "content": "equality",
                            "equality_cols": list(on)}]
        self._evolve_schema(src.schema)
        data_files = self._write_data(src, num_files=1)
        return self._commit(snap, added=data_files, add_deletes=new_entries,
                            operation="overwrite", clock=clock)

    def _eq_matched_files(self, files: list[str], eqs: list) -> set[str]:
        """Data files (manifest paths) holding at least one row an
        equality delete removes — ONE semi-join scan per key shape,
        projecting only lineage + key columns."""
        if not files or not eqs:
            return set()
        seqmap = self._file_seq_of()
        max_seq = max(e["seq"] for e in eqs)
        eligible = [f for f in files if seqmap.get(_canon(f), 0) < max_seq]
        if not eligible:
            return set()
        df = self._read_files(eligible, with_lineage=True)
        seq_df = F.broadcast(local_frame(
            self.spark, list(seqmap.items()), f"{_FP} string, {_FSEQ} long"
        ))
        df = df.join(seq_df, _FP, "left")
        canon_live = {_canon(f): f for f in files}
        out: set[str] = set()
        to_cur = self._alias_to_current()
        by_cols: dict[tuple, list] = {}
        for e in eqs:
            cur_cols = tuple(to_cur.get(c, c) for c in e["equality_cols"])
            by_cols.setdefault(cur_cols, []).append(e)
        for cols, group in sorted(by_cols.items()):
            dels = None
            for e in group:
                k, _ = self._read_delete_keys(e)
                k = k.withColumn("__mor_dseq", F.lit(int(e["seq"])))
                dels = k if dels is None else dels.unionByName(k)
            cond = df[_FSEQ] < dels["__mor_dseq"]
            for c in cols:
                cond = cond & df[c].eqNullSafe(dels[c])
            hit = df.join(dels, on=cond, how="left_semi")
            out |= {
                canon_live[r[0]]
                for r in hit.select(_FP).distinct().collect()
                if r[0] in canon_live
            }
        return out

    def purge_deletes(self, clock=None) -> Snapshot:
        """Materialize pending delete files into data (Iceberg's
        ``rewrite_position_deletes`` + a data rewrite): ONLY the files
        a delete actually touches are rewritten (positional targets
        are named in the entry; equality-affected files come from one
        semi-join), everything else carries by reference, and the new
        snapshot has no delete files. The read-side anti-joins
        disappear until the next DELETE."""
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError(f"table {self.path} has no snapshots")
        entries = list(snap.delete_files or [])
        if not entries:
            return snap
        canon_live = {_canon(f): f for f in snap.files}
        affected: set[str] = set()
        for e in entries:
            if e["content"] == "position":
                tgts = e.get("targets")
                if tgts is None:
                    # a positional entry with NO target list (legacy /
                    # hand-authored manifest) must be treated as
                    # match-anything, mirroring _entry_applies — the
                    # zero-file reading would drop the entry and
                    # resurrect the deleted rows
                    affected |= set(canon_live.values())
                else:
                    affected |= {
                        canon_live[t] for t in tgts if t in canon_live
                    }
        affected |= self._eq_matched_files(
            snap.files, [e for e in entries if e["content"] == "equality"]
        )
        new_files = []
        if affected:
            survivors = self._read_effective(sorted(affected), entries,
                                             with_lineage=True)
            new_files = self._write_rewrite(survivors, len(affected))
        return self._commit(snap, added=new_files, removed=affected,
                            remove_deletes=entries, operation="replace",
                            clock=clock)

    def delete_files_df(self) -> DataFrame:
        """The ``$delete_files`` metadata relation: pending delete
        files of the current snapshot with their content type,
        sequence number, and size."""
        snap = self.current_snapshot()
        entries = list(snap.delete_files or []) if snap else []
        rows = [
            (
                e["path"],
                e["content"],
                int(e["seq"]),
                ",".join(e.get("equality_cols") or []),
                os.path.getsize(e["path"]),
            )
            for e in entries
        ]
        return local_frame(
            self.spark, rows,
            "file_path string, content string, seq long, "
            "equality_cols string, file_size_bytes long",
        )

    # -- schema tracking (evolution) -------------------------------------
    def _load_meta(self) -> dict:
        if os.path.exists(self.table_meta_path):
            with open(self.table_meta_path) as f:
                return json.load(f)
        return {}

    def _save_meta(self, meta: dict) -> None:
        tmp = self.table_meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.table_meta_path)

    def tracked_schema(self):
        """The table's CURRENT schema, tracked in ``_table.json``
        (Iceberg keeps schemas in table metadata for the same reason:
        reads must not infer from data-file footers — one footer pass
        over 100 TB of files just to plan a scan is unacceptable, and
        the first-file-wins default silently drops evolved columns)."""
        from pyspark.sql import types as T

        meta = self._load_meta()
        if "schema" in meta:
            return T.StructType.fromJson(json.loads(meta["schema"]))
        return None

    @staticmethod
    def _is_safe_widening(prev, new) -> bool:
        """Iceberg's EXACT safe type promotions (spec §Schemas):
        int→long (plus the smaller integrals upward), float→double,
        and decimal(P,S)→decimal(P',S) with P' > P. Nothing else —
        no narrowing, no cross-family casts. Spark's parquet reader
        serves old files under the widened read schema natively
        (probed: int32→long, float→double)."""
        from pyspark.sql import types as T

        int_order = [T.ByteType(), T.ShortType(), T.IntegerType(),
                     T.LongType()]
        if prev in int_order and new in int_order:
            return int_order.index(prev) < int_order.index(new)
        if prev == T.FloatType() and new == T.DoubleType():
            return True
        if isinstance(prev, T.DecimalType) and isinstance(new, T.DecimalType):
            return new.scale == prev.scale and new.precision > prev.precision
        return False

    def _evolve_schema(self, df_schema) -> None:
        """Schema evolution on append/merge, Iceberg's safe rules:
        new columns join the tracked schema (readable as NULL for old
        files); safe type WIDENING (int→long, float→double, decimal
        precision growth) upgrades the tracked type in place; any
        other type change is rejected. Re-adding a DROPPED column name
        is rejected — without field ids the old files' physical data
        would resurface under the new column."""
        from pyspark.sql import types as T

        with self._lock:
            current = self.tracked_schema()
            meta = self._load_meta()
            dropped = set(meta.get("dropped_columns", []))
            legacy = {
                a for als in meta.get("renamed_from", {}).values() for a in als
            }
            if current is None:
                merged = df_schema
            else:
                by_name = {f.name: f for f in current.fields}
                for f in df_schema.fields:
                    prev = by_name.get(f.name)
                    if prev is None:
                        if f.name in dropped:
                            raise ValueError(
                                f"cannot re-add dropped column {f.name!r}: "
                                "old data files still carry its values and "
                                "this name-based format has no field ids to "
                                "hide them"
                            )
                        if f.name in legacy:
                            raise ValueError(
                                f"cannot add column {f.name!r}: the name is a "
                                "pre-rename alias still served from old files"
                            )
                        by_name[f.name] = f
                    elif prev.dataType != f.dataType:
                        if self._is_safe_widening(prev.dataType, f.dataType):
                            by_name[f.name] = T.StructField(
                                f.name, f.dataType, True
                            )
                        elif self._is_safe_widening(f.dataType, prev.dataType):
                            pass  # narrower write under a wider tracked
                            # type: the file stores the narrow physical
                            # type, the read schema widens it — no change
                        else:
                            raise TypeError(
                                f"schema evolution cannot change column "
                                f"{f.name!r}: {prev.dataType.simpleString()} -> "
                                f"{f.dataType.simpleString()}"
                            )
                # stable order: existing columns first, new ones appended
                merged = T.StructType(
                    [by_name[f.name] for f in current.fields]
                    + [f for f in df_schema.fields if f.name not in
                       {g.name for g in current.fields}]
                )
            meta = self._load_meta()
            meta["schema"] = json.dumps(merged.jsonValue())
            self._save_meta(meta)

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only column RENAME (Iceberg `ALTER TABLE … RENAME
        COLUMN`): no data rewrite. Old files keep the old physical
        name; reads serve them through a name-mapping alias (the old
        name joins the read schema and coalesces into the new one) —
        the same mechanism as Iceberg's name-mapping fallback for
        id-less files. The old name is retired permanently: re-adding
        it would make old files' physical data resurface."""
        with self._lock:
            schema = self.tracked_schema()
            if schema is None:
                raise ValueError("table has no tracked schema yet")
            from pyspark.sql import types as T

            names = {f.name for f in schema.fields}
            if old not in names:
                raise ValueError(f"no column {old!r}")
            meta = self._load_meta()
            aliases = meta.get("renamed_from", {})
            legacy = {a for als in aliases.values() for a in als}
            if new in names or new in legacy or new in meta.get(
                "dropped_columns", []
            ):
                raise ValueError(f"column name {new!r} is taken or retired")
            for spec in self.partition_cols or []:
                if parse_partition_spec(spec)["col"] == old:
                    raise ValueError(
                        f"cannot rename partition source column {old!r}; "
                        "evolve the partition spec first"
                    )
            merged = T.StructType(
                [
                    T.StructField(
                        new if f.name == old else f.name, f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            )
            meta["schema"] = json.dumps(merged.jsonValue())
            chain = aliases.pop(old, [])
            aliases[new] = chain + [old]
            meta["renamed_from"] = aliases
            self._save_meta(meta)

    def drop_column(self, name: str) -> None:
        """Metadata-only column DROP: the tracked (explicit) read
        schema simply stops mentioning it, so no file is rewritten and
        no data page for it is ever decoded again. The name — and any
        pre-rename aliases that fed it — is tombstoned against re-add
        (old files still physically carry the values and this
        name-based format has no field ids to mask them)."""
        with self._lock:
            schema = self.tracked_schema()
            if schema is None:
                raise ValueError("table has no tracked schema yet")
            from pyspark.sql import types as T

            if name not in {f.name for f in schema.fields}:
                raise ValueError(f"no column {name!r}")
            for spec in self.partition_cols or []:
                if parse_partition_spec(spec)["col"] == name:
                    raise ValueError(
                        f"cannot drop partition source column {name!r}; "
                        "evolve the partition spec first"
                    )
            # pending equality deletes keyed on the column would become
            # unapplicable — require materializing them first
            to_cur = self._alias_to_current()
            for s in self._load_manifest():
                for e in s.delete_files or []:
                    if e["content"] == "equality" and name in {
                        to_cur.get(c, c) for c in e["equality_cols"]
                    }:
                        raise ValueError(
                            f"cannot drop column {name!r}: snapshot "
                            f"{s.snapshot_id} carries an equality delete "
                            "keyed on it — run purge_deletes() (and expire "
                            "old snapshots) first"
                        )
            meta = self._load_meta()
            aliases = meta.get("renamed_from", {})
            retired = [name] + aliases.pop(name, [])
            meta["renamed_from"] = aliases
            meta["dropped_columns"] = sorted(
                set(meta.get("dropped_columns", [])) | set(retired)
            )
            merged = T.StructType(
                [f for f in schema.fields if f.name != name]
            )
            meta["schema"] = json.dumps(merged.jsonValue())
            self._save_meta(meta)

    def _read_files(
        self, files: list[str], with_lineage: bool = False
    ) -> DataFrame:
        """Scan specific data files. The tracked schema (when present)
        is passed EXPLICITLY, so files written before a column was
        added read it as NULL with no footer-merging pass. Partitioned
        tables are read one snap dir at a time (each with its own
        ``basePath`` so the hive-style columns survive) and unioned —
        partition discovery can't see through the snap-<id> level.

        ``with_lineage`` attaches the merge-on-read lineage columns —
        canonical file path and within-file row position — from
        Spark's ``_metadata`` virtual column (executor-side, no extra
        scan): the join keys positional delete files apply against.

        RENAMED columns resolve via name mapping: each current name's
        pre-rename aliases join the read schema (typed as the current
        — possibly widened — type; files lacking them read NULL) and
        coalesce into the current name after the scan."""
        from pyspark.sql import types as T

        schema = self.tracked_schema()
        aliases = {}
        if schema is not None:
            aliases = {
                cur: als
                for cur, als in self._load_meta()
                .get("renamed_from", {})
                .items()
                if cur in {f.name for f in schema.fields}
            }
            if aliases:
                by_name = {f.name: f for f in schema.fields}
                schema = T.StructType(
                    list(schema.fields)
                    + [
                        T.StructField(a, by_name[cur].dataType, True)
                        for cur, als in sorted(aliases.items())
                        for a in als
                    ]
                )

        def reader():
            r = self.spark.read
            if schema is not None:
                r = r.schema(schema)
            return r

        def resolve_renames(df: DataFrame) -> DataFrame:
            for cur, als in sorted(aliases.items()):
                df = df.withColumn(
                    cur, F.coalesce(F.col(cur), *[F.col(a) for a in als])
                ).drop(*als)
            return df

        def lineage(df: DataFrame) -> DataFrame:
            if not with_lineage:
                return df
            # _metadata must be projected per-reader (it does not
            # survive a union of separate scans)
            return df.withColumns({
                _FP: F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ),
                _POS: F.col("_metadata.row_index"),
            })

        # per-snap reads are needed whenever the CURRENT spec
        # partitions OR any live file was written under an older
        # partitioned spec (hive level between snap dir and file) —
        # spec evolution toward unpartitioned must still serve the old
        # dir-encoded columns
        hive_legacy = any(
            len(os.path.relpath(f, self.data_dir).split(os.sep)) > 2
            for f in files
        )
        if not self.partition_cols and not hive_legacy:
            return resolve_renames(lineage(reader().parquet(*files)))
        by_snap: dict[str, list[str]] = {}
        for f in files:
            snap = os.path.relpath(f, self.data_dir).split(os.sep)[0]
            by_snap.setdefault(snap, []).append(f)
        dfs = [
            lineage(reader().option(
                "basePath", os.path.join(self.data_dir, snap)
            ).parquet(*fs))
            for snap, fs in sorted(by_snap.items())
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        out = resolve_renames(out)
        # hidden partitioning: derived dir columns never reach readers
        hidden = [
            c for c in self._load_meta().get("derived_partition_names", [])
            if c in out.columns
        ]
        return out.drop(*hidden) if hidden else out

    def _partition_of(self, file_path: str) -> str:
        """Hive-style partition spec of a data file (e.g. ``p=3``,
        multi-level joined with ``/``); '' for unpartitioned."""
        rel = os.path.relpath(os.path.dirname(file_path), self.data_dir)
        parts = rel.split(os.sep)[1:]  # drop the snap-<id> segment
        return "/".join(parts)

    # -- file statistics + pruned scans ----------------------------------
    def _stats_records_for(self, files: list[str]) -> dict[str, dict]:
        """The manifest-stats record for each of ``files`` — from the
        store when present (ZERO footer reads), footer-read otherwise
        (pre-stats history), with the fallback PERSISTED so each
        legacy file is adopted exactly once. At 100× file counts this
        is the difference between one sequential metadata-file read
        and 10⁵–10⁶ serial footer opens on the driver. On a sharded
        base the load is KEY-PRUNED: only shards whose [min,max] key
        range intersects ``files`` are opened, so a partition-scoped
        consult on a 10⁶-file table touches a handful of shards, not
        the whole store."""
        store = self._load_filestats(
            keys=[os.path.relpath(_canon(f), self.path) for f in files]
        )
        out: dict[str, dict] = {}
        adopted: list[dict] = []
        for f in files:
            rec = store.get(os.path.relpath(_canon(f), self.path))
            if rec is None:
                rec = self._footer_stats_record(f)
                adopted.append(rec)
            out[f] = rec
        if adopted:
            try:  # lazy migration; a read-only store just re-reads
                self._append_filestats(adopted)
            except OSError:
                pass
        return out

    def file_column_stats(self, columns: list[str]) -> dict[str, dict]:
        """Per-file min/max for ``columns`` of the current snapshot —
        the ``$files``-with-stats relation Iceberg manifests carry
        natively, answered from the commit-time stats store (no data
        pages, and post-migration no footers either; string/binary
        bounds are never carried — writer-TRUNCATED footer bounds are
        not valid bounds, so those columns stay conservatively
        unprunable)."""
        out: dict[str, dict] = {}
        for f, rec in self._stats_records_for(self.current_files()).items():
            stats: dict[str, tuple] = {}
            for c in columns:
                e = rec["cols"].get(c)
                if e is not None and e["min"] is not None:
                    stats[c] = (
                        _dec_stat(e["t"], e["min"]),
                        _dec_stat(e["t"], e["max"]),
                    )
            out[f] = stats
        return out

    def metadata_aggregate(self, columns: list[str] | None = None) -> DataFrame:
        """``SELECT count(*), min(c), max(c), null_count(c) ...``
        answered from parquet FOOTERS + the manifest — ZERO data pages
        read (Iceberg's stats-only scan: Trino and Spark both rewrite
        these aggregates against manifest stats when the snapshot
        allows it). One footer read per live file; at 100 TB that is
        the difference between a dashboard query and a corpus scan.

        Honesty rules, both inherited from the pruning path:

        - pending merge-on-read DELETE entries make footer row counts
          over-count — raises ValueError (compact via purge_deletes,
          or fall back to ``read()``); an Iceberg stats-scan applies
          the same gate.
        - string/binary footer min/max may be writer-TRUNCATED —
          not valid bounds, so those columns report NULL min/max
          (count/null_count stay exact). Missing per-column stats in
          ANY file also null that column's bounds.

        Returns a ONE-ROW DataFrame: ``count_star`` plus
        ``min_<c> / max_<c> / null_count_<c>`` per requested column
        (default: all tracked scalar columns present in footers)."""
        snap = self.current_snapshot()
        if snap is not None and snap.delete_files:
            raise ValueError(
                "metadata_aggregate: pending merge-on-read deletes —"
                " footer counts would over-count. purge_deletes()"
                " first, or aggregate through read()."
            )
        if columns is None:
            schema = self.tracked_schema()
            columns = [f.name for f in schema.fields] if schema else []
        files = list(snap.files) if snap else []
        n_rows = 0
        # partition-column values live in the DIRECTORY layout, not
        # footers — bounds/null counts are unknowable here (count_star
        # stays exact); same for hidden-partitioning derived columns
        part_cols = set(self.partition_cols or []) | set(
            self._load_meta().get("derived_partition_names", [])
        )
        mins: dict = {c: None for c in columns}
        maxs: dict = {c: None for c in columns}
        nulls: dict = {c: 0 for c in columns}
        valid: dict = {c: c not in part_cols for c in columns}
        null_valid: dict = {c: c not in part_cols for c in columns}
        rename_aliases = self._load_meta().get("renamed_from", {})
        for rec in self._stats_records_for(files).values():
            n_rows += rec["rows"]
            if rec["rows"] == 0:
                # a zero-row file (empty append) has no row groups and
                # therefore no bounds — it contributes NOTHING, exactly
                # like the per-row-group footer loop it replaced (its
                # absent stats must not void the table-wide bounds)
                continue
            cols_rec = rec["cols"]
            for c in columns:
                e = cols_rec.get(c)
                if e is None:
                    # renamed column: older files carry the old name
                    for a in rename_aliases.get(c, []):
                        e = cols_rec.get(a)
                        if e is not None:
                            break
                if e is None:
                    # file predates the column: every row reads NULL
                    nulls[c] += rec["rows"]
                    continue
                if e["nulls"] is None:
                    null_valid[c] = False
                else:
                    nulls[c] += e["nulls"]
                if e["min"] is None:
                    valid[c] = False
                    continue
                lo = _dec_stat(e["t"], e["min"])
                hi = _dec_stat(e["t"], e["max"])
                mins[c] = lo if mins[c] is None else min(mins[c], lo)
                maxs[c] = hi if maxs[c] is None else max(maxs[c], hi)
        from pyspark.sql import types as T

        schema = self.tracked_schema()
        type_of = (
            {f.name: f.dataType for f in schema.fields} if schema else {}
        )
        fields = [T.StructField("count_star", T.LongType(), False)]
        values: list = [n_rows]
        for c in columns:
            dt = type_of.get(c, T.StringType())
            fields.append(T.StructField(f"min_{c}", dt, True))
            fields.append(T.StructField(f"max_{c}", dt, True))
            fields.append(T.StructField(f"null_count_{c}", T.LongType(), True))
            values.append(mins[c] if valid[c] else None)
            values.append(maxs[c] if valid[c] else None)
            values.append(int(nulls[c]) if null_valid[c] else None)
        return local_frame(
            self.spark, [tuple(values)], T.StructType(fields)
        )

    def metadata_numeric_stats(self, columns: list[str] | None = None
                               ) -> DataFrame:
        """Tidy ``(column_name, min_value, max_value)`` DOUBLE bounds
        for numeric columns, answered from the commit-time stats store
        — the min/max half of ``plans.stats.numeric_stats`` with zero
        data pages read (NDV cannot come from footers; the data path
        remains its source). Honesty gates inherited from
        :meth:`metadata_aggregate`: pending MoR deletes raise (a
        deleted row may BE the min); string/binary bounds are never
        carried (writer truncation); a column any file lacks bounds
        for reports NULL."""
        from pyspark.sql import types as T

        num_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                     T.FloatType, T.DoubleType, T.DecimalType)
        if columns is None:
            schema = self.tracked_schema()
            columns = [
                f.name for f in (schema.fields if schema else [])
                if isinstance(f.dataType, num_types)
            ]
        row = self.metadata_aggregate(columns).collect()[0] if columns \
            else None
        rows = [
            (
                c,
                float(row[f"min_{c}"]) if row[f"min_{c}"] is not None
                else None,
                float(row[f"max_{c}"]) if row[f"max_{c}"] is not None
                else None,
            )
            for c in (columns or [])
        ]
        return local_frame(
            self.spark, rows,
            "column_name string, min_value double, max_value double",
        )

    def read_pruned(self, col: str, lo, hi) -> DataFrame:
        """Scan only files whose footer [min, max] for ``col``
        intersects [lo, hi] — manifest-level file skipping, the read
        side of SORT/Z-ORDER clustering (a clustered table answers a
        point/range predicate from a handful of files; an unclustered
        one scans all of them). The predicate is STILL applied — file
        stats only prune, rows are filtered exactly."""
        stats = self.file_column_stats([col])
        keep = [
            f
            for f, st in stats.items()
            if col not in st or (st[col][0] <= hi and st[col][1] >= lo)
        ]
        if not keep:
            return self.read().where(F.lit(False))
        snap = self.current_snapshot()
        return self._read_effective(
            keep, snap.delete_files if snap else None
        ).where(F.col(col).between(lo, hi))

    def pruned_file_count(self, col: str, lo, hi) -> tuple[int, int]:
        """(files scanned, files total) for a range predicate —
        observability for the clustering payoff."""
        stats = self.file_column_stats([col])
        keep = [
            f
            for f, st in stats.items()
            if col not in st or (st[col][0] <= hi and st[col][1] >= lo)
        ]
        return len(keep), len(stats)

    # -- metadata relations ----------------------------------------------
    def files_df(self) -> DataFrame:
        """The ``$files`` metadata relation (S2), including the file's
        hive partition spec — the inventory plans/compaction.py plans
        over."""
        rows = [
            (f, self._partition_of(f), os.path.getsize(f))
            for f in self.current_files()
        ]
        return local_frame(
            self.spark, rows,
            "file_path string, partition string, file_size_bytes long",
        )

    def evolve_partition_spec(self, new_cols: list[str] | None) -> None:
        """Iceberg partition-spec EVOLUTION: future writes use the new
        spec; existing data files stay exactly as written — each snap
        dir carries its own hive layout, and :meth:`_read_files`
        already reads per-snap with ``basePath`` and unions with
        ``allowMissingColumns`` (a column is served from the dir name
        under the spec that partitioned on it, from the file payload
        under the spec that didn't). No data rewrite at evolution
        time; :meth:`optimize` migrates old partitions to the current
        spec as a natural side effect of its rewrite."""
        with self._lock:
            schema = self.tracked_schema()
            if new_cols and schema is not None:
                known = {f.name for f in schema.fields}
                missing = [
                    t for t in new_cols
                    if parse_partition_spec(t)["col"] not in known
                ]
                if missing:
                    raise ValueError(
                        f"partition columns not in table schema: {missing}"
                    )
            meta = self._load_meta()
            meta["partition_cols"] = new_cols
            self._save_meta(meta)
            self.partition_cols = new_cols

    def partitions_df(self) -> DataFrame:
        """The ``$partitions`` metadata relation: per hive-partition
        file count, row count, and byte total for the CURRENT
        snapshot. Row counts come from the commit-time stats store
        (footer fallback only for pre-stats history, adopted once) —
        the same metadata-only discipline as
        :meth:`file_column_stats`; an unpartitioned table reports one
        '' partition row."""
        agg: dict[str, list[int]] = {}
        sizes = self._load_meta().get("file_sizes", {})
        recs = self._stats_records_for(self.current_files())
        for f, rec in recs.items():
            part = self._partition_of(f)
            entry = agg.setdefault(part, [0, 0, 0])
            entry[0] += 1
            entry[1] += rec["rows"]
            # byte size was recorded once at first commit; stat() only
            # for pre-recording history
            sz = sizes.get(_canon(f))
            entry[2] += os.path.getsize(f) if sz is None else sz
        rows = [
            (part, n_files, n_rows, n_bytes)
            for part, (n_files, n_rows, n_bytes) in sorted(agg.items())
        ]
        return local_frame(
            self.spark, rows,
            "partition string, file_count int, row_count long, "
            "total_bytes long",
        )

    def prune_files_by_partition(
        self, col: str, eq=None, lo=None, hi=None
    ) -> tuple[list[str], int]:
        """Transform-aware PARTITION pruning: the live files that can
        contain rows where source column ``col`` equals ``eq`` (or
        falls in ``[lo, hi]``), decided from hive dir values alone —
        Iceberg's hidden-partitioning payoff: the user predicates on
        the SOURCE column and the engine maps it through the
        transform. Metadata-only (string parsing of the file list, one
        tiny Spark job for the bucket hash); conservative — a file is
        kept unless a transform term can PROVE it irrelevant (legacy
        files from an older spec lacking the dir key always
        qualify). Returns ``(qualifying_files, total_live_files)``."""
        terms = [
            t
            for t in (parse_partition_spec(x)
                      for x in (self.partition_cols or []))
            if t["col"] == col
        ]
        files = self.current_files()
        if not terms or (eq is None and lo is None and hi is None):
            return files, len(files)

        def day_str(v) -> str:
            return str(v)[:10]

        bucket_of = None
        if eq is not None and any(t["fn"] == "bucket" for t in terms):
            n = next(t["arg"] for t in terms if t["fn"] == "bucket")
            # hash at the SOURCE column's type: data was bucketed via
            # hash(col) at its real type, and Spark's murmur3 differs
            # per physical type (hashInt(8) % 4 != hashLong(8) % 4) —
            # a bare int literal would prune the file actually holding
            # the value
            schema = self.tracked_schema()
            src_type = None
            if schema is not None:
                for fld in schema.fields:
                    if fld.name == col:
                        src_type = fld.dataType
            lit = F.lit(eq).cast(src_type) if src_type is not None else F.lit(eq)
            bucket_of = self.spark.range(1).select(
                F.pmod(F.hash(lit), F.lit(n)).cast("int").alias("b")
            ).first()["b"]

        def qualifies(f: str) -> bool:
            kvs = dict(
                seg.split("=", 1)
                for seg in self._partition_of(f).split("/")
                if "=" in seg
            )
            for t in terms:
                v = kvs.get(t["name"])
                if v is None:
                    continue  # legacy spec — cannot prune
                if t["fn"] == "identity":
                    # prune only on PROVABLE mismatch: numeric compare
                    # when both sides parse as numbers, exact-string
                    # equality for simple (unescaped) string values.
                    # Dates/timestamps in identity dirs are NOT pruned
                    # (hive escaping and format drift make string
                    # order untrustworthy — use days() for that)
                    def _num(x):
                        try:
                            return float(x)
                        except (TypeError, ValueError):
                            return None

                    nv = _num(v)
                    if eq is not None:
                        ne = _num(eq)
                        if nv is not None and ne is not None:
                            if nv != ne:
                                return False
                        elif isinstance(eq, str) and "%" not in v:
                            if v != eq:
                                return False
                    if lo is not None:
                        nl = _num(lo)
                        if nv is not None and nl is not None and nv < nl:
                            return False
                    if hi is not None:
                        nh = _num(hi)
                        if nv is not None and nh is not None and nv > nh:
                            return False
                elif t["fn"] == "days":
                    if eq is not None and v != day_str(eq):
                        return False
                    if lo is not None and v < day_str(lo):
                        return False
                    if hi is not None and v > day_str(hi):
                        return False
                elif t["fn"] == "bucket":
                    if bucket_of is not None and v != str(bucket_of):
                        return False
                    # range predicates cannot prune a hash bucket
                elif t["fn"] == "truncate":
                    w = t["arg"]
                    if "%" in v:
                        continue  # hive-escaped — don't trust order
                    if eq is not None and v != str(eq)[:w]:
                        return False
                    if lo is not None and v < str(lo)[:w]:
                        return False
                    if hi is not None and v > str(hi)[:w]:
                        return False
            return True

        return [f for f in files if qualifies(f)], len(files)

    def read_partition_pruned(
        self, col: str, eq=None, lo=None, hi=None
    ) -> DataFrame:
        """Scan only partition-qualifying files, then re-apply the
        exact predicate row-level (dir pruning is file-granular; the
        residual filter keeps semantics exact — same split Iceberg
        planners make)."""
        files, total = self.prune_files_by_partition(col, eq, lo, hi)
        if total == 0:
            raise ValueError(f"table {self.path} has no snapshots")
        if not files:
            return self._read_files(self.current_files()).where(F.lit(False))
        snap = self.current_snapshot()
        df = self._read_effective(files, snap.delete_files if snap else None)
        if eq is not None:
            df = df.where(F.col(col) == F.lit(eq))
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df

    @staticmethod
    def _entry_parent(i: int, s: Snapshot, snaps: list, by_id: dict):
        """Parent resolution for the $snapshots/$entries summary
        columns: the lineage pointer when present; LOG ORDER only for
        legacy pre-branching manifests (where NO snapshot carries a
        pointer). A modern snapshot whose parent_id was nulled by
        expire_snapshots' lineage contraction gets NO parent — the
        log-order neighbor may be an unrelated branch snapshot, and
        diffing against it fabricates phantom DELETED entries.
        Legacy detection is PER SNAPSHOT by the ``operation`` tag
        (every modern commit stamps one; pre-branching entries never
        do) — parent pointers alone can all be None on a modern table
        once contraction has run on every retained snapshot, and a
        whole-manifest test would misread an upgraded legacy table's
        pre-upgrade prefix the moment one modern commit lands."""
        if s.parent_id is not None:
            return by_id.get(s.parent_id)
        if s.operation is None:  # legacy entry — log order IS lineage
            return snaps[i - 1] if i else None
        return None

    def snapshots_df(self) -> DataFrame:
        """The ``$snapshots`` metadata relation, with Iceberg-style
        summary columns: files added/removed vs the PARENT snapshot
        (lineage pointer; falls back to log order for pre-branching
        manifests) and the parent id itself."""
        snaps = self._load_manifest()
        by_id = {s.snapshot_id: s for s in snaps}
        rows = []
        for i, s in enumerate(snaps):
            parent = self._entry_parent(i, s, snaps, by_id)
            prev = set(parent.files) if parent else set()
            cur = set(s.files)
            rows.append((
                s.snapshot_id,
                dt.datetime.fromisoformat(s.committed_at),
                len(s.files),
                parent.snapshot_id if parent else None,
                len(cur - prev),
                len(prev - cur),
                s.operation,
                len(s.delete_files or []),
            ))
        return local_frame(
            self.spark, rows,
            "snapshot_id long, committed_at timestamp, file_count int, "
            "parent_id long, added_files int, removed_files int, "
            "operation string, delete_file_count int",
        )

    def entries_df(self) -> DataFrame:
        """The ``$entries`` metadata relation (Iceberg's manifest-entry
        view): one row per (snapshot, data file) with the entry's
        ``status`` — ``ADDED`` (new in this snapshot vs its parent),
        ``EXISTING`` (carried over), ``DELETED`` (present in the
        parent, gone here; Iceberg keeps the tombstone entry in the
        snapshot's manifests, so this view does too). ``sequence``
        is the file's data sequence number (first-commit snapshot id)
        and ``file_size_bytes`` comes from the metadata-recorded size
        — no data-file stats, metadata-sized like every $relation.

        Parent resolution matches :meth:`snapshots_df`
        (:meth:`_entry_parent`): the lineage pointer when present, log
        order ONLY for legacy pre-branching manifests — a
        contraction-nulled parent reads as no parent, never as the
        log neighbor."""
        snaps = self._load_manifest()
        by_id = {s.snapshot_id: s for s in snaps}
        meta = self._load_meta()
        seq = meta.get("file_seq", {})
        sizes = meta.get("file_sizes", {})
        rows = []
        for i, s in enumerate(snaps):
            parent = self._entry_parent(i, s, snaps, by_id)
            prev = set(parent.files) if parent else set()
            cur = set(s.files)
            for f in sorted(cur | prev):
                status = ("ADDED" if f not in prev
                          else "DELETED" if f not in cur
                          else "EXISTING")
                c = _canon(f)
                rows.append((
                    s.snapshot_id,
                    status,
                    f,
                    seq.get(c),
                    sizes.get(c),
                ))
        return local_frame(
            self.spark, rows,
            "snapshot_id long, status string, file_path string, "
            "sequence long, file_size_bytes long",
        )

    def history_df(self) -> DataFrame:
        """The ``$history`` metadata relation (Iceberg: one row per
        snapshot with ``made_current_at``, ``snapshot_id``,
        ``parent_id``, ``is_current_ancestor``). The ancestor flag
        walks the parent chain from the CURRENT (main) head, so
        snapshots reachable only from other branches read false — the
        audit view that distinguishes published history from staged
        or abandoned lines. Completes the metadata-relation set
        ($files/$snapshots/$manifests/$partitions/$refs/$history);
        metadata-sized, no data pages read."""
        snaps = self._load_manifest()
        cur = self.current_snapshot()
        parent_of = {s.snapshot_id: s.parent_id for s in snaps}
        ancestors: set[int] = set()
        p = cur.snapshot_id if cur else None
        while p is not None and p not in ancestors:
            ancestors.add(p)
            p = parent_of.get(p)
        rows = [
            (
                dt.datetime.fromisoformat(s.committed_at),
                s.snapshot_id,
                s.parent_id,
                s.snapshot_id in ancestors,
            )
            for s in snaps
        ]
        return local_frame(
            self.spark, rows,
            "made_current_at timestamp, snapshot_id long, "
            "parent_id long, is_current_ancestor boolean",
        )

    def register_sql_views(self, name: str) -> list[str]:
        """Iceberg's SQL metadata-table UX for this format: register
        the table and every metadata relation as temp views —
        ``name``, ``name_files``, ``name_snapshots``, ``name_history``,
        ``name_manifests``, ``name_partitions``, ``name_refs``,
        ``name_entries`` — so
        ``spark.sql("SELECT * FROM name_snapshots")`` works like
        Iceberg's ``db.tbl.snapshots`` (``$`` is not a legal Spark
        view-name character, so the suffix is ``_`` here). Returns the registered
        view names. Metadata views are registered eagerly from the
        CURRENT manifest (they are driver-built relations, not lazy
        scans) — re-register after commits for a fresh view."""
        pairs = [
            (name, self.read()),
            (f"{name}_files", self.files_df()),
            (f"{name}_snapshots", self.snapshots_df()),
            (f"{name}_history", self.history_df()),
            (f"{name}_manifests", self.manifests_df()),
            (f"{name}_partitions", self.partitions_df()),
            (f"{name}_refs", self.refs_df()),
            (f"{name}_entries", self.entries_df()),
            # Iceberg's db.tbl.files carries per-file column stats;
            # here they are the commit-time stats store, scannable
            (f"{name}_file_stats", self.file_stats_df()),
        ]
        for view, df in pairs:
            df.createOrReplaceTempView(view)
        return [v for v, _ in pairs]

    def clustering_depth_report(self, column: str) -> dict:
        """Clustering-quality metric for one column from footer stats
        only: how many file [min,max] intervals overlap each file's
        interval (1 = perfectly clustered — a point predicate prunes
        to one file; N = fully interleaved — pruning is useless).
        Returns ``{n_files, with_stats, avg_overlap, max_overlap}``.
        The number to watch before/after ``optimize(sort_by=...)`` or
        a z-order rewrite. The orchestrator's decay gate calls this
        EVERY sweep, so it is order statistics (two sorted bound
        arrays + binary search: ``overlap(f) = #{min ≤ f.max} −
        #{max < f.min}``), O(n log n) in the file count — a 10⁶-file
        manifest costs two sorts, not 10¹² interval tests. The same
        decomposition, distributed, is the registered
        ``plans/pruning.clustering_depth_report`` query; equivalence
        to the literal quadratic definition is property-pinned."""
        stats = self.file_column_stats([column])
        ivals = [
            v[column] for v in stats.values() if column in v
        ]
        n = len(ivals)
        if n == 0:
            return {
                "n_files": len(stats),
                "with_stats": 0,
                "avg_overlap": 0.0,
                "max_overlap": 0,
            }
        from bisect import bisect_left, bisect_right

        los = sorted(lo for lo, _ in ivals)
        his = sorted(hi for _, hi in ivals)
        overlaps = [
            bisect_right(los, hi) - bisect_left(his, lo)
            for (lo, hi) in ivals
        ]
        return {
            "n_files": len(stats),
            "with_stats": n,
            "avg_overlap": round(sum(overlaps) / n, 3),
            "max_overlap": max(overlaps),
        }

    def table_properties(self) -> dict:
        """User table properties (Iceberg/Trino ``SHOW TBLPROPERTIES``
        twin) from ``_table.json``."""
        return dict(self._load_meta().get("properties", {}))

    def set_table_properties(self, props: dict) -> None:
        """``ALTER TABLE ... SET TBLPROPERTIES`` — metadata-only merge
        into ``_table.json``. Values are stored as strings (the
        Iceberg/Hive convention)."""
        with self._lock:
            meta = self._load_meta()
            cur = meta.setdefault("properties", {})
            cur.update({str(k): str(v) for k, v in props.items()})
            self._save_meta(meta)

    def unset_table_properties(self, keys) -> None:
        """``ALTER TABLE ... UNSET TBLPROPERTIES`` — idempotent."""
        with self._lock:
            meta = self._load_meta()
            cur = meta.get("properties", {})
            for k in keys:
                cur.pop(str(k), None)
            meta["properties"] = cur
            self._save_meta(meta)

    def manifests_df(self) -> DataFrame:
        """The ``$manifests`` metadata relation for this format: one
        row per on-disk manifest entry — where it lives (compacted
        base vs commit journal), how it is encoded (full file list vs
        parent delta), and its delta sizes. The observability surface
        behind rewrite_manifests scheduling (journal rows are what the
        orchestrator's budget counts)."""
        rows = []

        def scan(entries: list[dict], stored_in: str) -> None:
            for d in entries:
                if not isinstance(d, dict):
                    continue
                is_delta = "delta_base" in d
                rows.append((
                    int(d.get("snapshot_id", -1)),
                    stored_in,
                    "delta" if is_delta else "full",
                    d.get("delta_base") if is_delta else None,
                    len(d.get("added", [])) if is_delta else None,
                    len(d.get("removed", [])) if is_delta else None,
                    None if is_delta else len(d.get("files", [])),
                    len(json.dumps(d, separators=(",", ":"))),
                ))

        base_gen = 0
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                doc = json.load(f)
            if isinstance(doc, dict):
                base_gen = int(doc.get("generation", 0))
            scan(doc["entries"] if isinstance(doc, dict) else doc, "base")
        if os.path.exists(self.manifest_log_path):
            with open(self.manifest_log_path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    try:
                        d = json.loads(line)
                    except ValueError:
                        # torn fragment = uncommitted. SKIP (not
                        # break), matching _load_manifest and
                        # manifest_log_entries: once a later commit
                        # newline-terminates the fragment, decodable
                        # lines can follow it and this relation must
                        # report the same rows the loader sees.
                        continue
                    if (
                        isinstance(d, dict)
                        and int(d.get("gen", 0)) < base_gen
                    ):
                        # folded leftover from a crashed rewrite —
                        # the loader skips it, so this relation must
                        continue
                    scan([d], "journal")
        return local_frame(
            self.spark, rows,
            "snapshot_id long, stored_in string, encoding string, "
            "delta_base long, n_added int, n_removed int, n_files int, "
            "entry_bytes int",
        )

    def refs_df(self) -> DataFrame:
        """The ``$refs`` metadata relation: every named ref — branches
        and tags — with its kind and pinned snapshot. Completes the
        metadata-relation set ($files/$snapshots/$partitions/
        $delete_files/$refs)."""
        rows = [
            (name, "branch", int(sid))
            for name, sid in sorted(self.branches().items())
        ] + [
            (name, "tag", int(sid))
            for name, sid in sorted(self.tags().items())
        ]
        return local_frame(
            self.spark, rows, "name string, type string, snapshot_id long"
        )

    # -- maintenance operations ------------------------------------------
    def optimize(
        self,
        target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
        clock=None,
        min_input_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        where_partition: str | None = None,
    ) -> Snapshot:
        """Bin-pack compaction (M3): rewrite data into
        ceil(bytes / target) files, committed as ONE new snapshot.
        Old files stay owned by older snapshots until expiry — time
        travel keeps working.

        ``sort_by`` selects the SORT rewrite strategy (Iceberg's
        ``rewrite_data_files(strategy => 'sort')``): output files are
        range-partitioned then sorted on the given columns, so each
        file owns a disjoint key range — min/max file statistics then
        prune point/range scans to one file instead of all of them.
        Range partitioning samples the key distribution, so skewed
        keys still yield balanced files.

        ``zorder_by`` selects the Z-ORDER rewrite (Iceberg's
        ``sort_order => 'zorder(a, b)'``): rows are clustered on the
        Morton interleave of the quantized dimensions
        (functions/zorder.py), so EVERY participating column gets
        min/max-prunable locality in every output file — the
        multi-dimensional upgrade of ``sort_by``. Dimension bounds
        come from one metadata-sized aggregate over the rewritten
        slice.

        On a partitioned table only partitions that actually shrink
        (``target_files < input_files`` and at least
        ``min_input_files`` inputs) are rewritten — the 100 TB shape:
        compact the small-file tail, leave healthy partitions'
        files untouched in the new snapshot. With ``sort_by`` every
        partition is rewritten (clustering is the point, not size).

        ``where_partition`` scopes the rewrite to partitions whose
        hive spec starts with the given prefix (Trino's ``ALTER TABLE
        … EXECUTE optimize WHERE partition_col = …``): everything else
        carries into the new snapshot untouched — at 100 TB you
        compact the partitions a job just wrote, not the archive."""

        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")

        def _cluster_key(df: DataFrame) -> DataFrame:
            from trino_iceberg_maintenance_spark.functions.zorder import (
                quantize_int,
                zvalue,
            )

            from pyspark.sql import types as T

            int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            # one metadata-sized action: global bounds per dimension
            bounds = df.agg(
                *[m for c in zorder_by for m in (F.min(c), F.max(c))]
            ).first()
            qs = [
                quantize_int(
                    F.col(c),
                    F.lit(bounds[2 * i]),
                    F.lit(bounds[2 * i + 1]),
                    integral=isinstance(
                        df.schema[c].dataType, int_types
                    ),
                )
                for i, c in enumerate(zorder_by)
            ]
            return df.withColumn("__z", zvalue(qs))

        def _rewrite(df: DataFrame, k: int) -> list[str]:
            cluster_cols = list(sort_by) if sort_by else None
            if zorder_by:
                df = _cluster_key(df)
                cluster_cols = ["__z"]
            if cluster_cols:
                clustered = (
                    df.repartitionByRange(k, *cluster_cols)
                    if k > 1
                    else df.coalesce(1)
                ).sortWithinPartitions(*cluster_cols)
                if zorder_by:
                    clustered = clustered.drop("__z")
                return self._write_data(clustered, num_files=None)
            return self._write_data(df, num_files=k)

        snap = self.current_snapshot()
        files = list(snap.files) if snap else []
        entries = list(snap.delete_files or []) if snap else []
        if not self.partition_cols:
            total = sum(os.path.getsize(f) for f in files)
            k = max(1, math.ceil(total / target_file_size))
            # full rewrite reads EFFECTIVE rows, so pending deletes are
            # materialized and the new snapshot carries none — exactly
            # Iceberg's rewrite_data_files compacting delete files away
            rows = (self._read_effective(files, entries) if files
                    else self.read())
            return self._commit(snap, added=_rewrite(rows, k),
                                removed=files, remove_deletes=entries,
                                operation="replace", clock=clock)

        by_part: dict[str, list[str]] = {}
        for f in files:
            by_part.setdefault(self._partition_of(f), []).append(f)
        rewritten, new_files = [], []
        for part, pfiles in sorted(by_part.items()):
            if where_partition is not None and not part.startswith(
                where_partition
            ):
                continue  # out of scope — carried untouched
            total = sum(os.path.getsize(f) for f in pfiles)
            k = max(1, math.ceil(total / target_file_size))
            if not (sort_by or zorder_by) and (
                len(pfiles) < max(min_input_files, 2) or k >= len(pfiles)
            ):
                continue  # already healthy — no rewrite
            rewritten.extend(pfiles)
            new_files.extend(_rewrite(self._read_effective(pfiles, entries), k))
        # delete entries survive only while a non-rewritten file still
        # needs them (rewritten partitions had theirs applied above)
        return self._commit(snap, added=new_files, removed=rewritten,
                            operation="replace", clock=clock)

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str = "update",
        insert_not_matched: bool = True,
        clock=None,
        properties: dict | None = None,
    ) -> Snapshot:
        """MERGE INTO (copy-on-write upsert, Iceberg/Delta `MERGE`
        semantics): rows of ``source`` update (or delete,
        ``when_matched='delete'``) target rows with equal ``on`` keys;
        unmatched source rows are appended when ``insert_not_matched``.

        FILE-GRANULAR rewrite — the copy-on-write scale shape: an
        ``input_file_name`` semi-join finds the files that contain at
        least one matched key (file list is metadata-sized), ONLY
        those files are rewritten (their unmatched rows carried over,
        matched rows replaced/deleted), and every untouched file moves
        into the new snapshot by reference. A merge touching 0.1% of
        keys rewrites ~0.1% of files, not the table. Source keys must
        be unique (enforced here via dropDuplicates — Iceberg raises
        instead)."""
        if when_matched not in ("update", "delete"):
            raise ValueError("when_matched must be 'update' or 'delete'")
        src = source.dropDuplicates(on)
        snap = self.current_snapshot()
        target_files = list(snap.files) if snap else []
        entries = list(snap.delete_files or []) if snap else []
        # all target reads are EFFECTIVE (pending deletes applied) — a
        # copy-on-write rewrite must not resurrect merge-on-read-deleted
        # rows it happens to co-locate with a matched key
        tagged = self._read_effective(target_files, entries,
                                      with_lineage=True)
        hit_set = {
            r[0]
            for r in tagged.join(src.select(on), on, "left_semi")
            .select(_FP)
            .distinct()
            .collect()  # ≤ one row per data file — metadata-sized
        }
        hit = [f for f in target_files if _canon(f) in hit_set]

        new_files: list[str] = []
        cols = self._read_files(target_files).columns if target_files else src.columns
        if hit:
            hit_rows = self._read_effective(hit, entries,
                                            with_lineage=True).drop(_POS)
            survivors = hit_rows.join(src.select(on), on, "left_anti")
            if when_matched == "update":
                # an updated row takes the lineage of a file its key
                # lived in, so it is written beside that file's rows
                survivors = survivors.unionByName(
                    hit_rows.groupBy(*on).agg(F.min(_FP).alias(_FP))
                    .join(src, on, "inner")
                    .select(*cols, _FP)
                )
            new_files.extend(self._write_rewrite(survivors, len(hit)))
        if insert_not_matched:
            existing_keys = (
                self._read_effective(target_files, entries)
                .select(on).distinct()
                if target_files
                else None
            )
            inserts = (
                src.join(existing_keys, on, "left_anti")
                if existing_keys is not None
                else src
            )
            if inserts.limit(1).count() > 0:
                new_files.extend(
                    self._write_data(inserts.select(cols), num_files=1)
                )
        return self._commit(snap, added=new_files, removed=hit,
                            operation="overwrite", properties=properties,
                            clock=clock)

    def snapshot_diff(
        self, from_snapshot_id: int, to_snapshot_id: int
    ) -> DataFrame:
        """Row-level changelog between two snapshots (Iceberg CDC
        `changes` shape): each row tagged ``_change_type`` 'insert' or
        'delete'. Net row movement only — a compaction that adds and
        removes the same rows produces an empty diff.

        Scale shape: files common to both snapshots are NEVER read —
        the diff is computed over the file-set symmetric difference
        only (``exceptAll`` both ways cancels rows compaction merely
        moved between files), so a diff across an append-only window
        reads just the appended files. Merge-on-read deletes widen the
        read set only by the files a changed delete entry can touch
        (positional targets are named in the entry; an equality delta
        degrades to the sequence-eligible files — Iceberg's changelog
        pays the same cost)."""
        snaps = {s.snapshot_id: s for s in self._load_manifest()}
        try:
            a, b = snaps[from_snapshot_id], snaps[to_snapshot_id]
        except KeyError as exc:
            raise ValueError(f"unknown snapshot id in {self.path}") from exc
        delta = self._delete_delta_files(a, b)
        added = sorted((set(b.files) - set(a.files)) | (delta & set(b.files)))
        removed = sorted((set(a.files) - set(b.files)) | (delta & set(a.files)))
        schema_src = added or removed or b.files or a.files
        if not schema_src:
            raise ValueError("both snapshots are empty")
        empty = self._read_files(schema_src).limit(0)
        new_rows = (self._read_effective(added, b.delete_files)
                    if added else empty)
        old_rows = (self._read_effective(removed, a.delete_files)
                    if removed else empty)
        return (
            new_rows.exceptAll(old_rows)
            .withColumn("_change_type", F.lit("insert"))
            .unionByName(
                old_rows.exceptAll(new_rows).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        )

    def _delete_delta_files(self, a: Snapshot, b: Snapshot) -> set[str]:
        """Files whose EFFECTIVE rows can differ between two snapshots
        through delete-entry changes alone (same data file, different
        merge-on-read state). Empty whenever neither snapshot carries
        deletes — the common fast path reads nothing extra."""
        ea, eb = list(a.delete_files or []), list(b.delete_files or [])
        if not ea and not eb:
            return set()
        key = lambda e: (e["path"], e.get("seq"))  # noqa: E731
        common = {key(e) for e in ea} & {key(e) for e in eb}
        delta = [e for e in ea + eb if key(e) not in common]
        if not delta:
            return set()
        both = set(a.files) | set(b.files)
        seqmap = self._file_seq_of()
        out: set[str] = set()
        for e in delta:
            if e["content"] == "position":
                tgts = e.get("targets")
                out |= {
                    f for f in both
                    if tgts is None or _canon(f) in set(tgts)
                }
            else:
                out |= {
                    f for f in both if seqmap.get(_canon(f), 0) < e["seq"]
                }
        return out

    # -- named refs (Iceberg tags) ---------------------------------------
    def changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Keyed row-level CDC between two snapshots (Iceberg's
        ``create_changelog_view`` with identifier fields): four-phase
        ``_change_type`` including update before/after images —
        richer than :meth:`snapshot_diff`, which cannot distinguish an
        update from a delete+insert.

        Scale shape: both sides read only the file-set symmetric
        difference (files common to both snapshots cancel for every
        change type because an untouched file contributes identical
        keyed rows to OLD and NEW), then ONE key-partitioned
        full-outer join — see ``plans/changelog.py``."""
        from trino_iceberg_maintenance_spark.plans.changelog import (
            keyed_changelog,
        )

        snaps = {s.snapshot_id: s for s in self._load_manifest()}
        try:
            a, b = snaps[from_snapshot_id], snaps[to_snapshot_id]
        except KeyError as exc:
            raise ValueError(f"unknown snapshot id in {self.path}") from exc
        delta = self._delete_delta_files(a, b)
        removed = sorted((set(a.files) - set(b.files)) | (delta & set(a.files)))
        added = sorted((set(b.files) - set(a.files)) | (delta & set(b.files)))
        schema_src = added or removed or b.files or a.files
        if not schema_src:
            raise ValueError("both snapshots are empty")
        empty = self._read_files(schema_src).limit(0)
        old_rows = (self._read_effective(removed, a.delete_files)
                    if removed else empty)
        new_rows = (self._read_effective(added, b.delete_files)
                    if added else empty)
        return keyed_changelog(old_rows, new_rows, key_cols)

    def create_tag(self, name: str, snapshot_id: int | None = None,
                   max_ref_age_days: int | None = None,
                   clock=None) -> int:
        """Pin a named tag to a snapshot (default: current) — Iceberg's
        ``ALTER TABLE … CREATE TAG [RETAIN n DAYS]``. Tags are
        retention roots: ``expire_snapshots`` never drops a tagged
        snapshot, so a tag keeps a dataset version readable (the
        training-run reproducibility primitive). With
        ``max_ref_age_days`` set, the tag itself expires — the next
        ``expire_snapshots`` run removes refs older than their age
        budget FIRST (Iceberg's ``max-ref-age-ms``), after which the
        snapshot is expirable like any other."""
        with self._lock:
            snaps = {s.snapshot_id for s in self._load_manifest()}
            if snapshot_id is None:
                cur = self.current_snapshot()
                if cur is None:
                    raise ValueError(f"table {self.path} has no snapshots")
                snapshot_id = cur.snapshot_id
            if snapshot_id not in snaps:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            meta = self._load_meta()
            if max_ref_age_days is None:
                # legacy plain-int encoding — older tables stay readable
                meta.setdefault("tags", {})[name] = snapshot_id
            else:
                now = (clock or _utcnow)()
                meta.setdefault("tags", {})[name] = {
                    "snapshot_id": snapshot_id,
                    "created_at": now.isoformat(sep=" "),
                    "max_ref_age_days": int(max_ref_age_days),
                }
            self._save_meta(meta)
            return snapshot_id

    @staticmethod
    def _tag_snapshot_id(entry) -> int:
        return entry["snapshot_id"] if isinstance(entry, dict) else entry

    def tags(self) -> dict[str, int]:
        return {
            name: self._tag_snapshot_id(e)
            for name, e in self._load_meta().get("tags", {}).items()
        }

    def _sweep_expired_tags(self, now: dt.datetime) -> list[str]:
        """Remove tag refs past their ``max_ref_age_days`` budget
        (age measured from tag creation, like Iceberg's ref age).
        Returns the removed tag names."""
        meta = self._load_meta()
        tags = meta.get("tags", {})
        removed = [
            name
            for name, e in tags.items()
            if isinstance(e, dict)
            and e.get("max_ref_age_days") is not None
            and now - dt.datetime.fromisoformat(e["created_at"])
            > dt.timedelta(days=e["max_ref_age_days"])
        ]
        if removed:
            for name in removed:
                del tags[name]
            self._save_meta(meta)
        return removed

    def drop_tag(self, name: str) -> None:
        with self._lock:
            meta = self._load_meta()
            if name not in meta.get("tags", {}):
                raise ValueError(f"unknown tag {name}")
            del meta["tags"][name]
            self._save_meta(meta)

    def read_tag(self, name: str) -> DataFrame:
        """Read the table as of a tag — time travel by name."""
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"unknown tag {name}")
        return self.read_as_of(snapshot_id=tags[name])

    def rollback(self, snapshot_id: int, clock=None) -> Snapshot:
        """Roll the table back to ``snapshot_id`` by COMMITTING a new
        snapshot with that snapshot's file set — Iceberg's
        ``rollback_to_snapshot`` semantics: history is preserved (the
        bad snapshots stay in the log for audit), no files are
        deleted, and :meth:`expire_snapshots` +
        :meth:`remove_orphan_files` remain the only GC path."""
        targets = [
            s for s in self._load_manifest() if s.snapshot_id == snapshot_id
        ]
        if not targets:
            raise ValueError(
                f"snapshot {snapshot_id} not found in {self.path}"
            )
        to, cur = targets[0], self.current_snapshot()
        files, entries = set(cur.files), list(cur.delete_files or [])
        paths = {e["path"] for e in entries}
        to_entries = list(to.delete_files or [])
        to_paths = {e["path"] for e in to_entries}
        return self._commit(
            cur, added=[f for f in to.files if f not in files],
            removed=files - set(to.files),
            add_deletes=[e for e in to_entries if e["path"] not in paths],
            remove_deletes=[e for e in entries if e["path"] not in to_paths],
            operation="rollback", clock=clock,
        )

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Create a named branch ref (Iceberg branch semantics) at
        ``snapshot_id`` (default: the current main head). Commits made
        with ``append(..., branch=name)`` advance only this ref; main
        readers never see them until :meth:`fast_forward` publishes
        the branch — the audit-branch half of write-audit-publish."""
        with self._lock:
            snaps = {s.snapshot_id for s in self._load_manifest()}
            if snapshot_id is None:
                cur = self.current_snapshot()
                if cur is None:
                    raise ValueError("cannot branch an empty table")
                snapshot_id = cur.snapshot_id
            if snapshot_id not in snaps:
                raise ValueError(f"snapshot {snapshot_id} not found")
            meta = self._load_meta()
            branches = meta.setdefault("branches", {})
            if "main" not in branches:
                # pin main explicitly the moment refs exist — branch
                # commits append to the shared snapshot log, so the
                # log-tail-is-current fallback would follow them
                branches["main"] = self.current_snapshot().snapshot_id
            branches[name] = snapshot_id
            self._save_meta(meta)
            return snapshot_id

    def branches(self) -> dict[str, int]:
        return dict(self._load_meta().get("branches", {}))

    def drop_branch(self, name: str) -> None:
        with self._lock:
            if name == "main":
                raise ValueError("cannot drop main")
            meta = self._load_meta()
            if name not in meta.get("branches", {}):
                raise ValueError(f"branch {name} not found")
            meta["branches"].pop(name)
            self._save_meta(meta)

    def _branch_snapshot(self, name: str) -> Snapshot | None:
        head = self.branches().get(name)
        if head is None:
            if name == "main":
                return self.current_snapshot()
            raise ValueError(f"branch {name} not found")
        for snap in self._load_manifest():
            if snap.snapshot_id == head:
                return snap
        raise ValueError(f"branch {name} points at missing snapshot {head}")

    def read_branch(self, name: str) -> DataFrame:
        snap = self._branch_snapshot(name)
        if snap is None or not snap.files:
            raise ValueError(f"branch {name} has no files")
        return self._read_effective(snap.files, snap.delete_files)

    def fast_forward(self, from_branch: str, to_branch: str = "main") -> int:
        """Publish: point ``to_branch`` at ``from_branch``'s head
        (Iceberg's ``fast_forward`` procedure). Atomic — one meta
        write — and REFUSES a non-fast-forward move: the target
        branch's current head must be an ancestor of the source head
        (walked over the snapshots' parent pointers), exactly
        Iceberg's 'not an ancestor' error — silently moving main
        backward would hide published commits."""
        with self._lock:
            head = self.branches().get(from_branch)
            if head is None:
                raise ValueError(f"branch {from_branch} not found")
            to_head = self.branches().get(to_branch)
            if to_head is None and to_branch == "main":
                cur = self.current_snapshot()
                to_head = cur.snapshot_id if cur else None
            if to_head is not None:
                parents = {s.snapshot_id: s.parent_id
                           for s in self._load_manifest()}
                node: int | None = head
                seen = set()
                while node is not None and node not in seen:
                    if node == to_head:
                        break
                    seen.add(node)
                    node = parents.get(node)
                else:
                    node = None
                if node != to_head:
                    raise ValueError(
                        f"cannot fast-forward: {to_branch} (head {to_head}) is "
                        f"not an ancestor of {from_branch} (head {head})"
                    )
            meta = self._load_meta()
            meta.setdefault("branches", {})[to_branch] = head
            self._save_meta(meta)
            return head

    def expire_snapshots(
        self,
        older_than: dt.datetime,
        retain_last: int = 1,
        clock=None,
    ) -> list[str]:
        """M2: drop snapshots committed before ``older_than`` (always
        keeping the ``retain_last`` newest AND every tagged OR
        branch-referenced snapshot), then delete files only referenced
        by dropped snapshots. Returns deleted files."""
        with self._lock:
            snaps = self._load_manifest()
            if not snaps:
                return []
            # age-expired tag refs fall first (Iceberg max-ref-age), so
            # the snapshots they pinned become expirable in the same run
            self._sweep_expired_tags((clock or _utcnow)())
            tagged = set(self.tags().values()) | set(self.branches().values())
            keep, drop = [], []
            for i, s in enumerate(snaps):
                is_recent = i >= len(snaps) - retain_last
                if (
                    is_recent
                    or s.snapshot_id in tagged
                    or dt.datetime.fromisoformat(s.committed_at) >= older_than
                ):
                    keep.append(s)
                else:
                    drop.append(s)
            if not drop:
                return []
            # lineage contraction: re-parent each retained snapshot onto
            # its nearest retained ancestor, so dropping intermediate
            # snapshots preserves the ancestry RELATION (fast_forward's
            # ancestor walk must keep working across expiry)
            kept_ids = {s.snapshot_id for s in keep}
            parent_of = {s.snapshot_id: s.parent_id for s in snaps}
            for s in keep:
                p = s.parent_id
                seen: set[int] = set()
                while p is not None and p not in kept_ids and p not in seen:
                    seen.add(p)
                    p = parent_of.get(p)
                s.parent_id = p
            def _refs(s: Snapshot) -> set[str]:
                return set(s.files) | {
                    e["path"] for e in (s.delete_files or [])
                }

            surviving = {f for s in keep for f in _refs(s)}
            doomed = sorted({f for s in drop for f in _refs(s)} - surviving)
            # a file the log holds but the map lacks (a crash between
            # _commit's journal line and its _table.json write) takes its
            # sequence number from the log NOW, while the log still holds
            # the snapshot that added it
            meta = self._load_meta()
            seq = meta.setdefault("file_seq", {})
            known = len(seq)
            for s in snaps:
                for f in s.files:
                    seq.setdefault(_canon(f), s.snapshot_id)
            if len(seq) > known:
                self._save_meta(meta)
            self._write_manifest(keep)
            # data sequence numbers of GC'd files leave the persistent map
            # (it stays metadata-sized: one entry per LIVE file)
            sizes = meta.get("file_sizes", {})
            doomed_canon = {_canon(f) for f in doomed}
            gone = doomed_canon & (set(seq) | set(sizes))
            if gone:
                meta["file_seq"] = {
                    p: s for p, s in seq.items() if p not in gone
                }
                meta["file_sizes"] = {
                    p: s for p, s in sizes.items() if p not in gone
                }
                self._save_meta(meta)
        removed = []
        for f in doomed:
            if os.path.exists(f):
                os.remove(f)
                removed.append(f)
        self._gc_empty_dirs()
        return removed

    def remove_orphan_files(self, older_than: dt.datetime,
                            dry_run: bool = False) -> list[str]:
        """M1: delete files physically present under data/ that no
        snapshot references and whose mtime is before the cutoff —
        the anti-join of plans/orphans.py executed against the local
        listing. ``dry_run=True`` (Iceberg's
        ``remove_orphan_files(dry_run => true)`` / Delta's VACUUM DRY
        RUN) returns the doomed list without deleting anything."""
        referenced = {
            f
            for s in self._load_manifest()
            for f in list(s.files)
            + [e["path"] for e in (s.delete_files or [])]
        }
        removed = []
        for f in glob.glob(os.path.join(self.data_dir, "**", "*"), recursive=True):
            if not os.path.isfile(f) or f in referenced:
                continue
            base = os.path.basename(f)
            # committer bookkeeping (_SUCCESS, .…crc) is not data
            if base.startswith((".", "_")):
                continue
            mtime = dt.datetime.utcfromtimestamp(os.path.getmtime(f))
            if mtime < older_than:
                if not dry_run:
                    os.remove(f)
                removed.append(f)
        if not dry_run:
            self._gc_empty_dirs()
        return sorted(removed)

    def _gc_empty_dirs(self) -> None:
        for d in glob.glob(os.path.join(self.data_dir, "snap-*")):
            if os.path.isdir(d) and not os.listdir(d):
                shutil.rmtree(d)

    # -- convenience ------------------------------------------------------
    def file_count(self) -> int:
        return len(self.current_files())

    def content_hash(self) -> int:
        """Order-insensitive content fingerprint (the 'data unchanged'
        half of the compaction contract, tests/test_maintenance.py:66)."""
        df = self.read()
        # accumulate in decimal(38,0): a bigint sum of 64-bit hashes
        # overflows (ANSI arithmetic raises) after a handful of rows
        h = df.select(
            F.sum(
                F.xxhash64(
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                        for c in df.columns
                    ]
                ).cast("decimal(38,0)")
            ).alias("h")
        ).collect()[0]["h"]
        return int(h) if h is not None else 0  # empty table → NULL sum
