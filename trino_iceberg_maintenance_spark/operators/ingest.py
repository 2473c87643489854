"""Incremental curated ingestion into a maintained table — the bridge
between the maintenance engine (the reference's domain:
snapshot-manifest tables, compaction, expiry, ANALYZE) and the
training-data curation operators (this repo's extension surface).

The at-scale contract: re-ingesting an overlapping or duplicated batch
never duplicates table content. The incoming batch is curated
(per-row Gopher gates + PII redaction), deduped within itself, then
LEFT-ANTI-joined against the table's existing scrubbed-content hashes
— only novel documents are appended, as one snapshot. The table's own
maintenance loop (optimize / expire_snapshots / remove_orphan_files /
incremental ANALYZE) then applies unchanged: curated corpora are just
maintained tables.

Scale notes: the anti-join keys on the 32-char content hash — the
table side projects a single column (column pruning keeps the scan
narrow), and the join is the standard hash anti-join AQE can broadcast
when the accumulated hash set is small. For corpora where even the
hash projection is huge, the hash column is exactly what the lake's
z-order/sort compaction should cluster so the anti-join prunes files.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable


def ingest_curated(
    table: ParquetMaintainedTable,
    docs: DataFrame,
    min_words: int = 20,
) -> dict:
    """Curate ``docs`` and append only content the table has never
    seen. Returns ``{"arrived": n, "curated": n, "novel": n,
    "snapshot_id": id | None}`` — ``snapshot_id`` is None when the
    whole batch was already known (no empty snapshots are committed)."""
    from trino_iceberg_maintenance_spark.streaming.curation_stream import (
        curation_stream,
    )

    from pyspark.sql import Window

    arrived = docs.count()
    # deterministic within-batch keeper: min doc_id per content hash
    # (same keeper rule as exact_dedup_keepers / curation_pipeline_v2 —
    # dropDuplicates keeps an arbitrary partitioning-dependent row,
    # which would make table contents irreproducible run-to-run)
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    curated = (
        curation_stream(docs, min_words=min_words, dedup=False, keep_text=True)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        # checkpoint the CURATED batch: gates + redaction + keeper
        # window evaluate once, then serve the count, the anti-join,
        # and the append
        .localCheckpoint(eager=True)
    )

    if table.current_snapshot() is None:
        novel = curated
    else:
        existing = table.read().select("content_hash")
        novel = curated.join(existing, "content_hash", "left_anti")

    n_curated = curated.count()
    n_novel = novel.count()
    snapshot_id = None
    if n_novel:
        snapshot_id = table.append(novel, single_file=False).snapshot_id
    return {
        "arrived": arrived,
        "curated": n_curated,
        "novel": n_novel,
        "snapshot_id": snapshot_id,
    }


def ingest_near_dedup(
    table: ParquetMaintainedTable,
    index_table: ParquetMaintainedTable,
    docs: DataFrame,
    threshold: float = 0.2,
    snapshot_properties: dict | None = None,
    num_hashes: int | None = None,
    band_width: int | None = None,
) -> dict:
    """Near-dup-gated incremental ingestion: an incoming batch is
    checked against the PERSISTED MinHash index (O(batch) work —
    ``dedup.near_dups_from_index``), near-dups of already-ingested
    content are dropped, survivors are appended to the corpus table
    AND their signatures to the index, each as one snapshot (the
    corpus snapshot carries ``snapshot_properties``; the index commit
    carries them too, so the streaming layer can detect a crash
    between the two commits and repair). The fuzzy-matching upgrade
    of :func:`ingest_curated`'s exact-hash gate — re-ingesting
    lightly-edited copies of known documents no longer grows the
    corpus.

    The batch's shingle sets + signatures are computed ONCE
    (checkpointed) and shared by the vs-index gate, the within-batch
    gate, and the index extension — the tokenize/shingle/keyed-md5
    pipeline is the dominant batch cost and must not run three times.

    Within-batch near-dups collapse to the min-doc_id keeper (same
    determinism rule as everywhere else). Returns ``{"arrived",
    "near_dup_dropped", "novel", "snapshot_id"}``."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        extend_dedup_index,
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        near_dups_from_index,
        shingle_sets,
    )

    from trino_iceberg_maintenance_spark.operators.dedup import (
        BAND_WIDTH,
        NUM_HASHES,
    )

    # banding follows the INDEX (r11): an index built under tuned
    # (num_hashes, band_width) — e.g. the registry-persisted pick of
    # tuned_band_config — must be queried and extended under the same
    # banding, or the gate silently reverts to the default collision
    # curve the tuning rejected
    nh = int(num_hashes) if num_hashes else NUM_HASHES
    bw = int(band_width) if band_width else BAND_WIDTH
    docs = docs.localCheckpoint(eager=True)  # one scan serves all passes
    arrived = docs.count()
    sets = shingle_sets(docs).localCheckpoint(eager=False)
    sig = minhash_signatures(sets, nh)
    empty_index = not (
        index_table.current_snapshot() and index_table.current_files()
    )
    # 1. batch-vs-index gate (reuses the precomputed sets/sig)
    if empty_index:
        vs_index = None
    else:
        vs_index = (
            near_dups_from_index(
                index_table, docs, threshold=threshold,
                num_hashes=nh, band_width=bw,
                precomputed=(sets, sig),
            )
            .select(F.col("doc_a").alias("doc_id"))
            .distinct()
        )
    # 2. within-batch near-dups: keep the min doc_id of each pair
    intra_pairs = lsh_candidate_pairs(sig, nh, bw)
    intra = (
        jaccard_verify(sets, intra_pairs)
        .where(F.col("jaccard") >= threshold)
        .select(F.greatest("doc_a", "doc_b").alias("doc_id"))
        .distinct()
    )
    dropped = intra if vs_index is None else vs_index.unionByName(
        intra
    ).distinct()
    novel = docs.join(dropped, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    n_novel = novel.count()
    snap = None
    if n_novel:
        snap = table.append(novel, single_file=False,
                            properties=snapshot_properties)
        novel_rows = sig.join(sets, "doc_id").join(
            novel.select("doc_id"), "doc_id", "left_semi"
        )
        extend_dedup_index(index_table, novel,
                           properties=snapshot_properties,
                           rows=novel_rows)
    return {
        "arrived": arrived,
        "near_dup_dropped": arrived - n_novel,
        "novel": n_novel,
        "snapshot_id": snap.snapshot_id if snap else None,
    }


def stream_ingest_near_dedup(
    stream_df: DataFrame,
    table: ParquetMaintainedTable,
    index_table: ParquetMaintainedTable,
    checkpoint_dir: str,
    threshold: float = 0.2,
    query_name: str = "near_dedup_ingest",
    num_hashes: int | None = None,
    band_width: int | None = None,
):
    """The streaming face: each micro-batch flows through
    :func:`ingest_near_dedup` inside ``foreachBatch``, with the epoch
    id committed ATOMICALLY in the corpus snapshot's properties (the
    summary-stream idiom) so a crash-replayed batch is recognized and
    skipped — ingestion stays exactly-once even though the fold
    (append + index extend) is not idempotent.

    Crash between the corpus append and the index extension: the
    epoch lands in the corpus manifest but not the index's, so a
    naive skip would leave the index permanently blind to that
    batch's documents. The replay path detects the half-applied
    epoch and REPAIRS it — the files the corpus snapshot added are
    re-read and their signatures appended to the index — before
    skipping."""
    import os

    ckpt_key = os.path.abspath(checkpoint_dir)

    def epochs_of(t: ParquetMaintainedTable) -> set[int]:
        return {
            s.properties["epoch"]
            for s in t._load_manifest()
            if s.properties and s.properties.get("stream_ckpt") == ckpt_key
        }

    def repair_index(epoch_id: int) -> None:
        """Re-derive the index rows for a corpus epoch whose index
        commit never landed (crash window)."""
        from trino_iceberg_maintenance_spark.operators.dedup import (
            extend_dedup_index,
        )

        snaps = table._load_manifest()
        by_id = {s.snapshot_id: s for s in snaps}
        target = next(
            s for s in snaps
            if s.properties
            and s.properties.get("stream_ckpt") == ckpt_key
            and s.properties.get("epoch") == epoch_id
        )
        parent_files = set(
            by_id[target.parent_id].files
        ) if target.parent_id in by_id else set()
        added = sorted(set(target.files) - parent_files)
        if not added:
            return  # epoch stamp on a no-op commit — nothing to index
        novel = stream_df.sparkSession.read.parquet(*added)
        # If the corpus parent snapshot was expired between the crash
        # and this replay, "added" degrades to the FULL file list of
        # the target snapshot — either because parent_id dangles
        # (absent from by_id) or, after expire's lineage contraction,
        # because parent_id was re-parented to None. Most of those
        # docs are already indexed; appending them again would
        # duplicate pair outputs from near_dups_from_index forever
        # after. Anti-join against the index's doc_ids so the repair
        # appends only the truly missing rows — repair is a rare
        # crash-recovery path, so the extra index scan is acceptable.
        if index_table.current_files():
            indexed = index_table.read().select("doc_id").distinct()
            novel = novel.join(indexed, "doc_id", "left_anti")
        from trino_iceberg_maintenance_spark.operators.dedup import (
            NUM_HASHES,
        )

        extend_dedup_index(
            index_table, novel,
            num_hashes=int(num_hashes) if num_hashes else NUM_HASHES,
            properties={"stream_ckpt": ckpt_key, "epoch": epoch_id},
        )

    def ingest_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = epochs_of(table)
        if epoch_id in done:
            if epoch_id not in epochs_of(index_table):
                repair_index(epoch_id)
            return
        props = {"stream_ckpt": ckpt_key, "epoch": epoch_id}
        stats = ingest_near_dedup(
            table, index_table, batch_df, threshold=threshold,
            snapshot_properties=props,  # epoch atomic with the append
            num_hashes=num_hashes, band_width=band_width,
        )
        if stats["snapshot_id"] is None:
            # all-dup batch appended nothing — stamp the epoch on a
            # no-op commit (an empty delta on the current snapshot) so
            # a replay doesn't re-run the gate
            table._commit(table.current_snapshot(), properties=props)

    return (
        stream_df.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
