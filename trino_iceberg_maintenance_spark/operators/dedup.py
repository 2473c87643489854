"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.11; not present in the reference — north-star extension).

Six families, all expressed as declarative DataFrame plans:

- **exact**: hash-groupBy on content digest
- **MinHash + LSH**: shingle → K min-hashes → banded bucket join →
  candidate pairs → exact-Jaccard verification
- **SimHash**: per-token hash bit-majority fingerprint
- **SimHash banded Hamming pairs**: pigeonhole-banded candidate
  generation + exact XOR-popcount verification
- **n-gram Jaccard**: exact pairwise similarity via shingle
  inverted-index self-join
- **embedding near-dup**: cosine-over-threshold pairs (see
  similarity.py for the top-k path)

Design for 100 TB:
- MinHash signatures use *lexicographic minima of keyed md5 hex
  strings* — a uniform min-hash that needs only built-in JVM
  expressions (no Python UDF anywhere in these plans).
- The LSH band join shuffles on (band, key); hot buckets (boilerplate
  docs) are the skew risk — AQE skew-join handles moderate skew, and
  ``max_bucket_size`` drops degenerate buckets (standard practice: a
  bucket with thousands of near-identical docs is resolved by the
  exact pass anyway).
- The shingle inverted index is the textbook O(sum_posting²) blowup;
  ``ngram_jaccard_pairs`` is the *verification* operator (bounded
  candidate sets), while candidate *generation* at scale is MinHash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

NUM_HASHES = 12
BAND_WIDTH = 2  # 6 bands × 2 rows
SHINGLE_WIDTH = 3


# -- shingling --------------------------------------------------------------

def tokens_col(text_col: str = "text"):
    """Whitespace token array for a text column."""
    return F.split(F.col(text_col), r"\s+")


def tokenized(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Project ``(doc_id, toks)`` with the token array materialized as
    a real column. Downstream expressions must reference ``toks`` by
    name: Catalyst's CollapseProject keeps this projection separate
    (non-cheap expression referenced more than once), so the regex
    split runs ONCE per row instead of once per shingle — the
    difference between O(tokens) and O(tokens²) per document.

    The scan is fanned out first: shingling/hashing is per-row
    expensive, and a small table arriving as one parquet split would
    otherwise run it on a single core (no-op at warehouse scale)."""
    from trino_iceberg_maintenance_spark.sources.tables import fan_out

    return fan_out(docs).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
    )


def shingle_array(toks: str = "toks", width: int = SHINGLE_WIDTH):
    """Per-row shingle array from an already-projected token-array
    column — pure map-side expression (no explode, no shuffle).
    ``sequence(1, n)`` is guarded — Spark's sequence(1,0) counts
    *down*, so short docs yield an empty array (matching DuckDB's
    empty generate_series)."""
    return F.when(
        F.size(F.col(toks)) >= width,
        F.expr(
            f"transform(sequence(1, size({toks}) - {width - 1}), "
            f"i -> concat_ws(' ', slice({toks}, i, {width})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             width: int = SHINGLE_WIDTH) -> DataFrame:
    """Distinct word-``width``-gram shingles per document (the
    exploded inverted-index relation).

    ``explode_outer`` is deliberate even though inputs are non-empty:
    plain ``explode`` makes InferFiltersFromGenerate add a
    ``size(arr) > 0`` filter that predicate pushdown substitutes —
    whole shingle pipeline included — below the fan-out exchange,
    serializing it onto the scan's (possibly single) input split.
    Outer generate infers no filter; empty arrays can't occur here
    because :func:`shingle_sets` already dropped short docs."""
    return (
        shingle_sets(docs, text_col, id_col, width)
        .select("doc_id", F.explode_outer("sh_arr").alias("shingle"))
    )


def shingles_sql(width: int = SHINGLE_WIDTH) -> str:
    """DuckDB twin of :func:`shingles` over ``documents``."""
    return f"""
SELECT DISTINCT doc_id, s AS shingle FROM (
  SELECT doc_id, unnest([array_to_string(toks[i:i+{width - 1}], ' ')
          FOR i IN generate_series(1, greatest(len(toks) - {width - 1}, 0))]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
        FROM documents)
)"""


# -- exact dedup ------------------------------------------------------------

def exact_dedup_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate census: documents, distinct contents, dup rows
    to drop, and the largest clone group. One wide aggregate over the
    md5-grouped counts — the drop set itself is
    :func:`exact_dedup_keepers`."""
    groups = docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("copies")
    )
    return groups.agg(
        F.sum("copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("copies") - F.count(F.lit(1))).alias("n_duplicates"),
        F.max("copies").alias("max_group"),
    )


EXACT_DEDUP_SQL = """
SELECT CAST(sum(copies) AS BIGINT) AS n_docs,
       count(*) AS n_unique,
       CAST(sum(copies) - count(*) AS BIGINT) AS n_duplicates,
       max(copies) AS max_group
FROM (SELECT md5(text) AS content_hash, count(*) AS copies
      FROM documents GROUP BY 1)
"""


def exact_dedup_keepers(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """One keeper (min id) per distinct content — the dedup output
    relation. At scale: a single hash-shuffle on the digest."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("keeper_doc_id"), F.count(F.lit(1)).alias("copies")
    )


EXACT_KEEPERS_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS copies
FROM documents GROUP BY 1
"""


def normalized_text(col) -> "F.Column":
    """C4/RefinedWeb-style canonical form before exact dedup:
    lowercase, punctuation → space, whitespace collapsed, trimmed —
    so case/punctuation variants of the same content hash equal.
    Pure codegen expressions; identical RE semantics in DuckDB (the
    SQL twin passes the 'g' flag — DuckDB replaces FIRST match by
    default where Spark replaces all)."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9\\s]", " ")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def normalized_dedup_keepers(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Exact dedup over NORMALIZED content (the C4 step between raw
    exact dedup and fuzzy MinHash): one keeper (min id) per distinct
    canonical form. Same single hash-shuffle scale shape as
    :func:`exact_dedup_keepers` — normalization is map-side
    expression work folded into the scan."""
    return (
        docs.groupBy(
            F.md5(normalized_text(F.col(text_col))).alias("norm_hash")
        )
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


NORMALIZED_KEEPERS_SQL = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS norm_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS copies
FROM documents GROUP BY 1
"""


# -- MinHash + LSH ----------------------------------------------------------

def shingle_sets(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", width: int = SHINGLE_WIDTH) -> DataFrame:
    """``(doc_id, sh_arr)`` — the distinct shingle set per document as
    an array column, fully map-side (no explode, no shuffle). Docs too
    short to shingle are dropped, matching the exploded relation.

    The drop predicate is the CHEAP equivalent ``size(toks) >= width``
    (⟺ non-empty shingle set), not ``size(sh_arr) > 0``: predicate
    pushdown substitutes filter aliases all the way into the scan
    stage, and a filter spelled over ``sh_arr`` would evaluate the
    whole shingle pipeline below the fan-out exchange — serially, on
    however few splits the file arrived as."""
    return (
        tokenized(docs, text_col, id_col)
        .where(F.size("toks") >= width)
        .select(
            "doc_id", F.array_distinct(shingle_array("toks", width)).alias("sh_arr")
        )
    )


def _keyed_md5(i: int):
    # single-arg closure: a two-arg lambda would be taken by PySpark
    # as the (element, index) higher-order form
    return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))


def minhash_signatures(sets: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """K independent min-hashes per doc over the shingle-set arrays:
    ``array_min(transform(sh_arr, s -> md5(k || ':' || s)))`` — string
    minima of keyed md5s are a valid uniform min-hash, computed
    entirely map-side (no explode, no aggregation shuffle)."""
    return sets.select(
        "doc_id",
        *[
            F.array_min(F.transform("sh_arr", _keyed_md5(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )


def _drop_oversize_keys(
    rel: DataFrame, key_cols: list, max_size: int
) -> DataFrame:
    """Skew guard applied BEFORE any per-key array materialization.

    Pass 1 computes per-key row counts — a map-side partial aggregate,
    so only ``(key, partial_count)`` pairs shuffle, never member rows.
    Keys over ``max_size`` are the degenerate boilerplate buckets; the
    anti-join drops their rows before the bucket aggregation, so no
    aggregation buffer ever materializes an over-cap bucket. Capping
    AFTER ``collect_list`` — the previous form — produced the same
    output but fully built the degenerate bucket in a single hash-agg
    buffer first: an executor-OOM / skew hazard AQE cannot split,
    exactly the hot-key class the cap exists to defend against at
    100 TB.

    The anti-join is deliberately NOT hint-forced to broadcast: the
    hot-key set is usually tiny (≤ n_rows / max_size), and AQE
    broadcasts it at runtime when it is — but on a boilerplate-heavy
    corpus it can be arbitrarily large (measured: a 10×-duplicated
    corpus pushed most shingles over the posting cap and a forced
    broadcast OOM'd the driver). As a sort-merge anti-join the
    fallback is shuffle-and-stream — per-key state is one build row,
    and AQE's skew-join splitting can split a hot key's streamed
    partition, which it can never do for an aggregation buffer. The
    join shuffle lands on the same keys as the downstream groupBy, so
    the bucket aggregation reuses the exchange: net extra cost is the
    lightweight count pass.

    ``rel``'s lineage is evaluated twice (count pass + anti-join
    pass); callers keep the expensive upstream (shingle sets /
    fingerprints) persisted so the second pass re-runs only cheap
    map-side projections, not the corpus scan."""
    counts = rel.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    hot = counts.where(F.col("n") > max_size).select(*key_cols)
    return rel.join(hot, key_cols, "left_anti")


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Banded LSH: docs sharing any band key become candidate pairs.
    Buckets larger than ``max_bucket_size`` are dropped (degenerate
    boilerplate clusters — the skew guard), BEFORE the bucket arrays
    are built (:func:`_drop_oversize_keys`).

    All band keys are emitted in ONE pass over the signatures
    (``explode`` of a per-row key array, not a per-band union — a
    union re-evaluates the signature lineage once per band), and the
    pairs are generated map-side inside each surviving bucket from the
    ``collect_list`` array — no bucket-array self-join anywhere."""
    band_keys = _band_key_array(num_hashes, band_width)
    bands = sig.select(
        "doc_id", F.explode(band_keys).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    buckets = _drop_oversize_keys(bands, ["band", "key"], max_bucket_size).groupBy(
        "band", "key"
    ).agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    # docs appear once per bucket, so the sorted array gives doc_a <
    # doc_b for free; slice(i+1, ...) enumerates each doc's successors
    pair_arr = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "b -> struct(a AS doc_a, b AS doc_b))))"
    )
    return (
        buckets.where(F.size("ids") > 1)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def jaccard_verify(sets: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs: ``|A∩B| / (|A|+|B|-|A∩B|)``
    via per-row ``array_intersect`` over the shingle-set arrays.

    Two equi-joins hydrate each pair with its two shingle sets; the
    set algebra is then a map-side expression. At scale the candidate
    set is orders of magnitude smaller than the corpus, so the joins
    shuffle only LSH-flagged docs — and there is no inverted-index
    self-join (the classic O(postings²) blowup) anywhere."""
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("sh_b"))
    # Spread the verify CPU across the cluster (optimization r13):
    # the candidate relation is NARROW (two ids/row), so AQE's
    # byte-based partition coalescing collapses its exchange to one
    # or two partitions — and every array_intersect downstream then
    # runs single-threaded (measured at sf0.1: ~125k candidates from
    # the prefix join verified in ONE 5 s task; SQL-tab evidence in
    # OPTIMIZATION_r13.md). AQE cannot see that each candidate row
    # fans into CPU-dense set algebra, so the operator demands the
    # parallelism explicitly: a deterministic hash repartition on the
    # pair key into defaultParallelism partitions (cluster-core-
    # adaptive, never a magic constant). When the hydration joins run
    # as shuffles at scale they re-partition anyway and this exchange
    # is a cheap narrow-key pass-through; when they broadcast (the
    # candidate-bounded audit paths), this partitioning is exactly
    # what the intersect stage inherits.
    # The partition expression is xxhash64 of the pair key, NOT the
    # raw key columns: most callers' candidate relations end in a
    # distinct whose exchange already hash-partitions on
    # (doc_a, doc_b), so a same-key repartition is eliminated as
    # redundant and the surviving exchange gets byte-coalesced right
    # back to one partition. The derived key is deterministic
    # (retry-safe per guide §2.5 — never rand()).
    par = sets.sparkSession.sparkContext.defaultParallelism
    hydrated = (
        pairs.repartition(par, F.xxhash64("doc_a", "doc_b"))
        .join(a, "doc_a")
        .join(b, "doc_b")
    )
    # project the intersection size once — referenced twice below, and
    # CollapseProject keeps non-cheap multiply-referenced exprs staged
    staged = hydrated.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
        F.size("sh_a").alias("na"),
        F.size("sh_b").alias("nb"),
    )
    return staged.select(
        "doc_a",
        "doc_b",
        F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
            "jaccard"
        ),
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
    sets: DataFrame | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pipeline: shingle → sign →
    band-join → exact-verify → threshold.

    Signatures and shingle sets are map-side array expressions. The
    shingle-set relation feeds both the signature branch and the
    verification joins, so it is materialized once via lazy
    localCheckpoint — without it each branch re-runs the
    tokenize/shingle lineage from the parquet scan (at 100 TB that is
    the whole corpus read twice); checkpoint blocks are dropped when
    the plan is GC'd, where persist entries accumulate for the session
    across repeated invocations. The signature
    relation is deliberately NOT materialized even though the
    pre-materialization skew guard (:func:`_drop_oversize_keys`)
    walks it twice: recomputing the keyed-md5 transforms from the
    cached shingle sets measured 32% faster than writing the wide
    K-string signature relation to the cache (9.3 s vs 13.6 s on the
    adversarial 10× corpus) — CPU recompute beats cache I/O for a
    relation ~K× wider than its input.

    ``sets`` INVARIANT (ADVICE r13): when supplied it must be
    ``shingle_sets(docs)`` over the SAME ``docs`` (same corpus
    subset, default shingle width) — a mismatched sets relation
    silently yields wrong Jaccard values rather than failing."""
    # ``sets`` lets composite reports share one materialized shingle
    # relation across the exact and LSH sides (optimization r13)
    if sets is None:
        sets = shingle_sets(docs).localCheckpoint(eager=False)
    sig = minhash_signatures(sets, num_hashes)
    pairs = lsh_candidate_pairs(sig, num_hashes, band_width)
    return jaccard_verify(sets, pairs).where(F.col("jaccard") >= threshold)


def minhash_near_dups_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    """DuckDB twin of :func:`minhash_near_dups`."""
    sig_cols = ",\n    ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    n_bands = num_hashes // band_width
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS key FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"h{b * band_width + r}" for r in range(band_width)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({shingles_sql()}),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_rows}),
bounded AS (
  SELECT bands.* FROM bands
  JOIN (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2) c
    USING (band, key)
  WHERE c.n <= 1000
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bounded a JOIN bounded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM pairs p
JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= {threshold}
"""


# -- n-gram Jaccard (inverted-index candidate generation) -------------------

def _capped_index_counts(
    docs: DataFrame, width: int, max_posting: int, materialize=None
) -> DataFrame:
    """Shared scaffolding for the exact pairwise-overlap operators
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): capped
    shingle inverted index → in-bucket pair generation → per-pair
    co-occurrence counts joined with both docs' shingle-set sizes.
    Returns ``(doc_a, doc_b, i, na, nb)`` — each consumer is one
    scoring projection on top.

    Lazy ``localCheckpoint`` (not ``persist``) for the twice-walked
    relations: checkpoint blocks are dropped when the plan is GC'd,
    while persist entries live for the session and accumulate across
    repeated invocations (the bench loop). ``materialize`` overrides
    that boundary (tests pass identity to keep the full logical plan
    inspectable — a checkpoint truncates the printed plan at a
    LogicalRDD)."""
    if materialize is None:
        materialize = lambda df: df.localCheckpoint(eager=False)  # noqa: E731
    sets = materialize(shingle_sets(docs, width=width))
    postings = sets.select(
        "doc_id", F.explode_outer("sh_arr").alias("shingle")
    )
    buckets = (
        _drop_oversize_keys(postings, ["shingle"], max_posting)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    buckets = materialize(buckets)
    sizes = (
        buckets.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_arr = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "b -> struct(a AS doc_a, b AS doc_b))))"
    )
    inter = (
        buckets.where(F.size("ids") > 1)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("nb")), "doc_b")
    )


def _capped_index_ctes(max_posting: int) -> str:
    """DuckDB twin of :func:`_capped_index_counts` as a CTE block —
    shared verbatim by both exact-overlap oracles so the cap/pair
    semantics can never diverge between them."""
    return f"""sh AS ({shingles_sql()}),
capped AS (
  SELECT sh.* FROM sh
  JOIN (SELECT shingle, count(*) AS n FROM sh GROUP BY 1) c USING (shingle)
  WHERE c.n <= {max_posting}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
  FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_posting: int = 500,
    width: int = SHINGLE_WIDTH,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing at least one shingle:
    inverted index → in-bucket pair generation → ``array_intersect``
    verification.

    This is the *exact-recall* complement of MinHash-LSH: every pair
    with Jaccard ≥ threshold shares a shingle, so nothing is missed.
    ``max_posting`` is the stop-shingle guard: shingles appearing in
    more documents than that are boilerplate and are removed from the
    relation entirely (sizes AND intersections — standard stopword
    semantics, applied identically in the oracle) — and removed
    BEFORE the posting arrays are built (:func:`_drop_oversize_keys`),
    so a boilerplate shingle's posting list never materializes in an
    aggregation buffer. At 100 TB candidate generation should be
    MinHash (sub-linear pairs); this operator is the exact
    verification/audit path on bounded corpora.

    The Jaccard is computed from co-occurrence COUNTS off the inverted
    index (pair-generate inside each bucket, then count per pair) —
    never by hydrating pairs with their shingle arrays, which at 1M+
    candidates would shuffle gigabytes of array payload."""
    staged = _capped_index_counts(docs, width, max_posting)
    return staged.select(
        "doc_a",
        "doc_b",
        F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= threshold)


def ngram_jaccard_sql(
    threshold: float = 0.5, max_posting: int = 500
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs` — identical
    stop-shingle semantics: over-cap shingles leave the relation
    before sizes and intersections."""
    return f"""
WITH {_capped_index_ctes(max_posting)}
SELECT i.doc_a, i.doc_b,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= {threshold}
"""


# -- connected components (pair graph → dedup clusters) ---------------------

# Observability for the distributed path: filled in by every
# dedup_clusters call so tests and SCALING.md can assert the round
# budget actually shrank (VERDICT r3 item 7). Not part of the operator
# contract.
LAST_CLUSTER_ROUNDS: dict | None = None


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., *Connected Components in
    MapReduce and Beyond*, SoCC'14): every node ``u`` connects each
    strictly-larger neighbor to ``m = min(neighborhood ∪ {u})``.

    ``edges`` is the canonical ``(hi, lo)`` set with ``hi > lo``; the
    output preserves that orientation (``m ≤ u < v`` for every emitted
    ``(v, m)``), preserves connectivity, and never drops a node — every
    endpoint reappears as an emitted ``v`` or as some neighborhood
    minimum. Cost: one symmetrize, one groupBy, one join, one distinct
    — all on an edge set that *shrinks* round over round, unlike plain
    label propagation whose joins touch the full static edge list every
    iteration."""
    sym = edges.select(
        F.col("hi").alias("u"), F.col("lo").alias("v")
    ).unionByName(edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node ``u`` connects its
    smaller-or-equal neighbors (and itself) to the minimum of that set.

    Operates directly on the directed ``(hi, lo)`` orientation — the
    smaller neighbors of ``hi`` are exactly its ``lo`` partners, so no
    symmetrize is needed: one groupBy for the per-node minimum, one
    join to re-target, one distinct. Emitted edges keep ``v > m``."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    retarget = edges.join(mins, "hi").select(F.col("lo").alias("v"), "m")
    out = retarget.unionByName(mins.select(F.col("hi").alias("v"), "m"))
    return (
        out.where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 32,
    steps_per_check: int = 1,
    driver_solve_max_edges: int = 500_000,
    contract: bool = True,
) -> DataFrame:
    """``(doc_id, cluster_id)`` — connected components over the
    near-dup pair graph (cluster id = min doc id in the component),
    the step that turns pairwise matches into dedup groups.

    Past the driver gate, the distributed solve is TWO-PHASE: an
    alternating large-star/small-star CONTRACTION (Kiveris et al.,
    SoCC'14 — the production MapReduce connected-components algorithm)
    rewrites the edge set toward per-component stars, shrinking the
    data each round; a label-propagation + pointer-jump RESOLUTION
    loop then finishes on the residue, normally in one confirming
    round (`LAST_CLUSTER_ROUNDS` records both counts). Contraction is
    the at-scale win: propagation alone re-joins the full static edge
    list every round, while star rounds run over a geometrically
    shrinking one.

    Each resolution round combines neighbor-min propagation with POINTER JUMPING
    (take your label's label): plain propagation alone needs
    O(diameter) rounds — a pathological chain would exhaust any fixed
    cap — while the jump doubles the spread distance per round, giving
    O(log n) convergence on any graph. Per round: two shuffles on the
    node key; lineage is cut with ``localCheckpoint`` so the plan
    doesn't grow with iterations — the standard Spark shape for
    iterative graph algorithms without GraphX/Pregel.

    ``steps_per_check`` logical rounds run inside each checkpoint +
    convergence probe. KEEP IT AT 1: each round references its input
    relation three times (join probe, union, jump parents), so an
    uncheckpointed previous round is re-evaluated per reference and
    the plan blows up exponentially with batched rounds (measured 3.5×
    slower at steps_per_check=2) — Spark reuses exchanges, not
    arbitrary common subplans. Convergence uses the label-sum
    invariant: labels only ever decrease, so equal consecutive sums ⟺
    fixed point."""

    def one_round(labels: DataFrame, edges: DataFrame) -> DataFrame:
        msgs = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        propagated = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: labels are node ids, so each label has its own
        # label — following it halves path lengths every round
        parents = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        return propagated.join(parents, "label", "left").select(
            "node",
            F.least("label", F.coalesce("plabel", "label")).alias("label"),
        )

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    # size-gated driver solve: the VERIFIED pair graph is metadata-
    # sized next to the corpus (banding + Jaccard verify leave ~one
    # pair per actual duplicate), and the iterative path costs ~6
    # scheduled rounds of near-empty shuffles just to converge on it.
    # Under the cap (500k symmetric edges — ~100 MB of driver heap
    # counting Row objects and the parent/node structures, not just
    # the ~8 MB serialized payload) union-find on the driver answers
    # in well under a second; past it — real 100 TB pair volumes —
    # the distributed label-propagation loop below engages.
    global LAST_CLUSTER_ROUNDS
    spark = pairs.sparkSession
    if edges.count() <= driver_solve_max_edges:
        LAST_CLUSTER_ROUNDS = {"path": "driver", "star_rounds": 0,
                               "jump_rounds": 0}
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        nodes: set[int] = set()
        # one collect job (bounded by the cap) — toLocalIterator
        # would schedule a job per partition
        for src, dst in edges.collect():
            nodes.add(src)
            nodes.add(dst)
            ra, rb = find(src), find(dst)
            if ra != rb:  # union under the smaller root → labels are min ids
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(n, find(n)) for n in sorted(nodes)]
        # broadcast hint (optimization r14, guide §3.1): this relation
        # is bounded by the 500k-edge gate, but it reaches consumers as
        # an ExistingRDD with UNKNOWN stats, so joins against the
        # corpus (the keeper anti-joins, the representative/source
        # attach joins) planned as SortMergeJoin — a full corpus-side
        # shuffle for a driver-sized build side. The hint states the
        # bound the gate already guarantees; the distributed path below
        # returns un-hinted (its label relation can be corpus-sized).
        return F.broadcast(
            spark.createDataFrame(rows, "doc_id long, cluster_id long")
        )

    # CONTRACTION PHASE (VERDICT r3 item 7): alternating large-star /
    # small-star rounds rewrite the edge set toward per-component stars
    # rooted at the minimum id. Connectivity is provably preserved and
    # the edge list SHRINKS geometrically (duplicate re-targets are
    # dropped by `distinct` each round), so unlike plain propagation —
    # whose per-round join always touches the full static edge list —
    # late rounds here run over a near-star residue. The stop test
    # compares a (count, Σhi, Σlo) fingerprint of the canonical edge
    # set; it is a heuristic early-exit only — wherever contraction
    # stops, the resolution loop below is sound on the residual graph.
    star_rounds = 0
    # the ORIGINAL symmetric edge list always seeds the label universe:
    # contraction rewrites `edges` for propagation, and its canonical
    # (hi > lo) form drops self-pairs — a node whose only edge is a
    # self-pair must still appear in the output (as its own cluster),
    # exactly as the driver union-find and contract=False paths keep it
    init_edges = edges
    if contract:
        star = (
            edges.where(F.col("src") > F.col("dst"))
            .select(F.col("src").alias("hi"), F.col("dst").alias("lo"))
            .localCheckpoint(eager=True)
        )
        fp = star.agg(F.count("*"), F.sum("hi"), F.sum("lo")).first()
        for _ in range(max_iters):
            star = _large_star(star).localCheckpoint(eager=True)
            star = _small_star(star).localCheckpoint(eager=True)
            star_rounds += 1
            nfp = star.agg(F.count("*"), F.sum("hi"), F.sum("lo")).first()
            if nfp == fp:
                break
            fp = nfp
        edges = (
            star.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
            .unionByName(
                star.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
            )
            .localCheckpoint(eager=True)
        )

    # RESOLUTION PHASE — fused round 0: min(self, neighbors) in ONE
    # aggregation straight off the symmetric edge list — the first
    # propagation round without its union/jump scaffolding. On the
    # contracted (star-shaped) graph this alone is the fixed point, so
    # the loop below typically runs a single confirming round; its
    # monotone label-sum check makes the overall operator correct even
    # if contraction stopped early.
    labels = (
        init_edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select("node", F.least("mn", "node").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    jump_rounds = 0
    for _ in range(0, max_iters, steps_per_check):
        for _ in range(steps_per_check):
            labels = one_round(labels, edges)
        labels = labels.localCheckpoint(eager=True)
        jump_rounds += steps_per_check
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    LAST_CLUSTER_ROUNDS = {"path": "distributed", "star_rounds": star_rounds,
                           "jump_rounds": jump_rounds}
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    """DuckDB twin: recursive transitive closure over the (tiny at
    oracle scale) verified near-dup pair graph."""
    return f"""
WITH RECURSIVE pairs AS ({minhash_near_dups_sql(threshold, num_hashes, band_width)}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, via) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.via
)
SELECT node AS doc_id, min(via) AS cluster_id
FROM reach
GROUP BY node
"""


# -- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash fingerprint: for each of ``bits`` positions,
    the majority vote of that md5-hex digit's high bit across the
    doc's distinct tokens. Near-identical token sets → identical
    fingerprints (grouping key for near-dup clustering).

    Map-side only: distinct tokens and all bit votes are array
    expressions per row — no explode, no shuffle, whole-stage
    codegen over the scan at any scale."""
    hashed = tokenized(docs, text_col, id_col).select(
        "doc_id", F.transform(F.array_distinct("toks"), F.md5).alias("hs")
    )
    hs = F.col("hs")
    total = F.size(hs)

    # single-arg closure per bit: a two-arg lambda would be taken by
    # PySpark as the (element, index) higher-order form
    def _high_bit(p):
        return lambda h: F.substring(h, p + 1, 1) >= F.lit("8")

    # hex digit >= '8' lexicographically ⟺ high bit set ('8'..'9','a'..'f')
    bit_cols = [
        F.when(
            2 * F.size(F.filter(hs, _high_bit(p))) - total > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for p in range(bits)
    ]
    return hashed.select("doc_id", F.concat(*bit_cols).alias("simhash"))


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    votes = ",\n  ".join(
        f"sum(CASE WHEN substr(h, {p + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{p}"
        for p in range(bits)
    )
    bit_concat = " || ".join(
        f"CASE WHEN v{p} > 0 THEN '1' ELSE '0' END" for p in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
),
sig AS (
  SELECT doc_id, {votes}
  FROM (SELECT doc_id, md5(token) AS h FROM toks)
  GROUP BY doc_id
)
SELECT doc_id, {bit_concat} AS simhash FROM sig
"""


# -- embedding cosine near-dup ---------------------------------------------

def _cosine_pair_kernel(a_ids, a_mat, b_ids, b_mat, threshold: float,
                        same_block: bool):
    """Vectorized numpy kernel shared by every blocked pair search:
    L2-normalize both blocks, one float64 matmul, emit over-threshold
    (vec_a < vec_b) pairs with the 6-digit-rounded cosine."""
    import numpy as np
    import pandas as pd

    if len(a_ids) == 0 or len(b_ids) == 0:
        return pd.DataFrame(
            {
                "vec_a": np.array([], dtype=np.int64),
                "vec_b": np.array([], dtype=np.int64),
                "cosine": np.array([], dtype=np.float64),
            }
        )
    a = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)
    b = b_mat / np.linalg.norm(b_mat, axis=1, keepdims=True)
    sims = np.round(a @ b.T, 6)
    ii, jj = np.where(sims >= threshold)
    ida, idb = a_ids[ii], b_ids[jj]
    if same_block:
        keep = ida < idb
        va, vb = ida[keep], idb[keep]
    else:
        keep = ida != idb
        va = np.minimum(ida[keep], idb[keep])
        vb = np.maximum(ida[keep], idb[keep])
    return pd.DataFrame(
        {"vec_a": va, "vec_b": vb, "cosine": sims[ii, jj][keep]}
    )


def embedding_near_dups(emb: DataFrame, threshold: float = 0.4,
                        n_blocks: int = 16) -> DataFrame:
    """EXACT cosine-over-threshold pairs via a distributed block-pair
    matmul — the all-pairs search decomposed so that nothing is ever
    collected to the driver or broadcast whole:

    1. hash-block the corpus by ``vec_id % n_blocks``;
    2. replicate each vector to every block-pair (i, j), i <= j, it
       participates in (a broadcast join against the tiny
       n_blocks·(n_blocks+1)/2 pair relation);
    3. each block-pair is one ``applyInPandas`` group running the
       vectorized numpy kernel over its two blocks.

    Scale shape: shuffle volume is n × n_blocks rows and per-task
    memory is two blocks (2·n/n_blocks rows) — raise ``n_blocks``
    ∝ √cluster_size and both stay bounded; the n² similarity compute
    (inherent to an exact all-pairs search) is spread over
    n_blocks²/2 independent SIMD matmuls. The pure-expression variant
    (:func:`embedding_near_dups_exprs`) is the UDF-free fallback; for
    index-scale corpora where exact n² is off the table, use
    :func:`embedding_near_dups_ivf` (cell-blocked, subquadratic)."""
    import numpy as np

    spark = emb.sparkSession
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (F.col("vec_id") % n_blocks).cast("int").alias("blk"),
    )
    pair_df = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        schema="i int, j int",
    )
    rep = e.join(
        F.broadcast(pair_df),
        (F.col("blk") == F.col("i")) | (F.col("blk") == F.col("j")),
    )

    def compute(pdf):
        i, j = int(pdf["i"].iat[0]), int(pdf["j"].iat[0])
        a_pdf = pdf[pdf["blk"] == i]
        b_pdf = pdf[pdf["blk"] == j] if i != j else a_pdf
        return _cosine_pair_kernel(
            a_pdf["vec_id"].to_numpy(),
            np.array(list(a_pdf["v"]), dtype=np.float64),
            b_pdf["vec_id"].to_numpy(),
            np.array(list(b_pdf["v"]), dtype=np.float64),
            threshold,
            same_block=(i == j),
        )

    # explicit repartition on the grouping key (optimization r14,
    # guide §2.5): the grouped-map stage is CPU-dense numpy work AQE's
    # byte-based coalescing cannot see — without it the block-pair
    # exchange collapses to a handful of tasks at small byte sizes
    # (the jaccard_verify/knn_graph lesson). Satisfies the grouped-map
    # distribution requirement, so no second exchange is added.
    par = spark.sparkContext.defaultParallelism
    return rep.repartition(par, "i", "j").groupBy("i", "j").applyInPandas(
        compute, schema="vec_a long, vec_b long, cosine double"
    )


def embedding_near_dups_ivf(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    nprobe: int = 2,
    max_cell_rows: int = 4096,
) -> DataFrame:
    """Index-scale (subquadratic) near-dup pairs: IVF cell blocking +
    the per-cell matmul kernel — the composition VERDICT r1 prescribed
    as the 100 TB default. Each vector is multi-probe-assigned to its
    ``nprobe`` nearest cells (deterministic sample centroids, rounded
    argmax — similarity.py); pairs co-assigned to ANY shared cell are
    scored exactly by the numpy kernel, then de-duplicated with a max
    aggregate.

    SKEW GUARD: a cell is one ``applyInPandas`` group, so a hot cell
    (duplicate-heavy corpora pile near-identical vectors into one
    cell) would otherwise become a single quadratic task. Cells larger
    than ``max_cell_rows`` are re-decomposed with the SAME block-pair
    scheme as :func:`embedding_near_dups`, scoped inside the cell:
    per-task memory stays ≤ 2·``max_cell_rows`` vectors and a hot
    cell's quadratic compute spreads across its split pairs. This is
    pure compute layout — the emitted pair set is unchanged, so the
    DuckDB oracle twin needs no notion of splits. Cell sizes come from
    a broadcast count relation (n_cells rows — metadata-sized).

    Recall is approximate by construction (pairs split across all
    probed cells are missed — raise ``nprobe`` to trade compute for
    recall); the ENTIRE build is deterministic on both engines, so the
    result is oracle-checked against a DuckDB twin that replays the
    same assignment, not just recall-tested."""
    import numpy as np

    from trino_iceberg_maintenance_spark.operators.similarity import (
        _as_double,
        _cell_assignment,
        seed_rows,
    )

    corpus = _as_double(emb, "vec_id", "embedding")
    centroids = seed_rows(corpus, n_cells, "vec_id").select(
        F.col("seed_id").alias("cell_id"), F.col("v").alias("cv")
    )
    assigned = _cell_assignment(corpus, centroids, nprobe)

    sizes = assigned.groupBy("cell_id").agg(
        F.ceil(F.count(F.lit(1)) / max_cell_rows).cast("int").alias("n_splits")
    )
    # each row lands in split s = hash(vec_id) % n_splits and is
    # replicated to every split-pair (i, j), i <= j, involving s —
    # a map-side expression after the broadcast join; replication is
    # n_splits-fold inside oversized cells only (n_splits = 1 elsewhere)
    withsplit = (
        assigned.join(F.broadcast(sizes), "cell_id")
        .withColumn(
            "s", F.pmod(F.xxhash64("vec_id"), F.col("n_splits")).cast("int")
        )
        .select(
            "cell_id",
            "vec_id",
            "v",
            "s",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, n_splits - 1), "
                        "x -> struct(least(x, s) AS i, greatest(x, s) AS j))"
                    )
                )
            ).alias("ij"),
        )
        .select(
            "cell_id", F.col("ij.i").alias("i"), F.col("ij.j").alias("j"),
            "vec_id", "v", "s",
        )
    )

    def compute(pdf):
        i, j = int(pdf["i"].iat[0]), int(pdf["j"].iat[0])
        a_pdf = pdf[pdf["s"] == i]
        b_pdf = pdf[pdf["s"] == j] if i != j else a_pdf
        return _cosine_pair_kernel(
            a_pdf["vec_id"].to_numpy(),
            np.array(list(a_pdf["v"]), dtype=np.float64),
            b_pdf["vec_id"].to_numpy(),
            np.array(list(b_pdf["v"]), dtype=np.float64),
            threshold,
            same_block=(i == j),
        )

    # explicit repartition on the grouping key (optimization r14 —
    # same rationale as embedding_near_dups above): keep the CPU-dense
    # per-cell matmuls spread when AQE would byte-coalesce them.
    par = emb.sparkSession.sparkContext.defaultParallelism
    percell = (
        withsplit.repartition(par, "cell_id", "i", "j")
        .groupBy("cell_id", "i", "j")
        .applyInPandas(
            compute, schema="vec_a long, vec_b long, cosine double"
        )
    )
    # a pair probed into two shared cells scores identically in both —
    # max() is pure de-duplication, one small shuffle on the pair key
    return percell.groupBy("vec_a", "vec_b").agg(F.max("cosine").alias("cosine"))


def embedding_near_dups_ivf_sql(
    threshold: float = 0.4,
    n_cells: int = 16,
    nprobe: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`embedding_near_dups_ivf`: replays the
    deterministic IVF assignment (same rounded argmax + cell_id
    tiebreak as similarity.ivf_topk_sql), joins co-assigned pairs,
    rescored exactly; round-6 absorbs kernel-vs-SQL float ordering."""

    def dot2(a: str, b: str) -> str:
        return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1)) + ")"

    def norm(v: str) -> str:
        return f"sqrt({dot2(v, v)})"

    from trino_iceberg_maintenance_spark.operators.similarity import (
        seed_rows_sql,
    )

    return f"""
WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent_0 AS (
  {seed_rows_sql('corpus', n_cells, 'cell_id', 'v AS cv')}
),
assign AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT c.vec_id, c.v, ct.cell_id,
           row_number() OVER (PARTITION BY c.vec_id
               ORDER BY round({dot2('c.v', 'ct.cv')}, 6) DESC,
                        ct.cell_id ASC) AS rn
    FROM corpus c CROSS JOIN cent_0 ct
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({dot2('a.v', 'b.v')} / ({norm('a.v')} * {norm('b.v')}), 6)
           AS cosine
  FROM assign a
  JOIN assign b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, max(cosine) AS cosine
FROM scored WHERE cosine >= {threshold}
GROUP BY 1, 2
"""


def embedding_near_dups_exprs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """UDF-free variant of :func:`embedding_near_dups`: pre-normalized
    vectors, one fused dot product per pair."""
    norm = "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))"
    e = emb.select(
        "vec_id",
        F.expr(
            f"transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x / {norm.replace('v', 'CAST(embedding AS ARRAY<DOUBLE>)')})"
        ).alias("v"),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dot, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dups_sql(threshold: float = 0.4) -> str:
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6)
      >= {threshold}
"""


# -- SimHash near-dup pairs (banded Hamming search) -------------------------

def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 4,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance: pairs whose
    fingerprints differ in at most ``max_hamming`` bit positions.

    Banded exactly like MinHash-LSH: the ``bits``-bit fingerprint is
    cut into ``n_bands`` equal bands; by pigeonhole, any pair within
    Hamming distance ``n_bands - 1`` shares at least one identical
    band, so candidate generation with ``max_hamming < n_bands`` has
    PERFECT recall (this is the classic Manku/Jain/Sarma web-dedup
    construction — public knowledge). Candidates are verified with an
    exact per-pair XOR popcount, all as array expressions.

    Scale: one groupBy shuffle on (band, band-key) with in-bucket
    map-side pair generation + the bounded-bucket skew guard —
    identical cost structure to ``lsh_candidate_pairs``, including the
    pre-materialization cap (:func:`_drop_oversize_keys`): an over-cap
    bucket's members are anti-joined out before the bucket shuffle, so
    the degenerate all-zeros-fingerprint bucket never builds an
    aggregation buffer. ``max_bucket_size`` drops degenerate
    boilerplate clusters; a bucket over the cap means those docs are
    so mutually similar the exact-dedup pass resolves them — note the
    recall guarantee holds only for pairs in surviving buckets
    (sf0.1 measured: cap 50 cuts the pair volume 100× and runtime 5×
    on this highly-collapsed synthetic corpus). The fingerprint
    relation is materialized once via lazy localCheckpoint (one
    narrow row per doc): the skew guard walks the band relation twice,
    and without it each walk re-runs the per-token md5 vote pipeline
    from the corpus scan; checkpoint blocks free with the plan where
    persist entries accumulate for the session."""
    band_width = bits // n_bands
    sig = simhash(docs, text_col, id_col, bits).localCheckpoint(eager=False)
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("simhash", b * band_width + 1, band_width).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select("doc_id", "simhash", F.explode(band_keys).alias("bk")).select(
        "doc_id", "simhash", "bk.band", "bk.key"
    )
    buckets = (
        _drop_oversize_keys(bands, ["band", "key"], max_bucket_size)
        .groupBy("band", "key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("members")
        )
        .where(F.size("members") > 1)
    )
    pair_arr = F.expr(
        "flatten(transform(members, (a, i) -> "
        "transform(slice(members, i + 2, size(members) - i - 1), "
        "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.simhash AS sig_a, b.simhash AS sig_b))))"
    )
    pairs = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.first("sig_a").alias("sig_a"), F.first("sig_b").alias("sig_b"))
    )
    hamming = F.expr(
        "size(filter(zip_with(split(sig_a, ''), split(sig_b, ''), "
        "(x, y) -> x != y), d -> d))"
    )
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups_sql(
    max_hamming: int = 4,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB twin of :func:`simhash_near_dups`."""
    band_width = bits // n_bands
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"substr(simhash, {b * band_width + 1}, {band_width}) AS key FROM sig"
        for b in range(n_bands)
    )
    ham = " + ".join(
        f"CASE WHEN substr(a.simhash, {p + 1}, 1) != substr(b.simhash, {p + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for p in range(bits)
    )
    return f"""
WITH sig AS ({simhash_sql(bits)}),
bands AS ({band_rows}),
bounded AS (
  SELECT bands.* FROM bands
  JOIN (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2) c
    USING (band, key)
  WHERE c.n <= {max_bucket_size} AND c.n > 1
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bounded a JOIN bounded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({ham.replace("a.simhash", "sig_a").replace("b.simhash", "sig_b")}) AS hamming
FROM pairs
WHERE ({ham.replace("a.simhash", "sig_a").replace("b.simhash", "sig_b")}) <= {max_hamming}
"""


# -- train/test decontamination --------------------------------------------

def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    width: int = SHINGLE_WIDTH,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test DECONTAMINATION: training docs sharing any
    ``width``-gram with a benchmark/eval set, with overlap counts and
    the contaminated fraction of each doc's shingle set — the filter
    every pretraining pipeline runs before a corpus ships.

    Scale shape: the benchmark's distinct gram set is the SMALL side
    (eval suites are tiny next to a 100 TB corpus) — broadcast it, so
    the corpus-side shingle relation is probed map-side with no
    shuffle of the training grams; the only exchange is the per-doc
    overlap aggregation. Training docs that ARE benchmark docs are
    excluded via a broadcast anti join on the id."""
    bench_ids = benchmark.select(F.col(id_col).alias("doc_id")).distinct()
    bench_grams = (
        shingles(benchmark, text_col, id_col, width)
        .select("shingle")
        .distinct()
    )
    corpus = shingles(docs, text_col, id_col, width).join(
        F.broadcast(bench_ids), "doc_id", "left_anti"
    )
    return (
        corpus.join(
            F.broadcast(bench_grams).withColumn("__hit", F.lit(1)),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_overlap"),
        )
        .where(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )


def contamination_check_sql(
    width: int = SHINGLE_WIDTH, bench_mod: int = 97
) -> str:
    """DuckDB twin: the benchmark set is the deterministic
    ``doc_id % bench_mod = 0`` slice of ``documents`` (mirrors the
    queries() wiring)."""
    return f"""
WITH grams AS ({shingles_sql(width)}),
bench AS (SELECT DISTINCT shingle FROM grams WHERE doc_id % {bench_mod} = 0),
corpus AS (SELECT * FROM grams WHERE doc_id % {bench_mod} <> 0)
SELECT doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap,
       round(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS contamination
FROM corpus c LEFT JOIN bench b USING (shingle)
GROUP BY doc_id
HAVING sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


BLOOM_M = 1 << 16  # bits
BLOOM_K = 4        # hash functions (md5 32-bit slices mod m)


def _bloom_positions(df: DataFrame, m: int, k: int,
                     text_col: str = "text") -> DataFrame:
    """(doc_id, pos) — the ``k`` Bloom bit positions of each doc's
    exact text: md5 sliced into k 32-bit words, each mod m.
    Deterministic and engine-identical (hex → int → mod)."""
    h = F.md5(F.col(text_col))
    pos = [
        (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint")
         % F.lit(m)).cast("int")
        for i in range(k)
    ]
    return df.select(
        "doc_id", F.explode(F.array(*pos)).alias("pos")
    )


def bloom_membership(
    corpus: DataFrame,
    probe: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Bloom-filter membership pre-gate (Bloom 1970): build a bit set
    over the CORPUS's exact-text hashes, probe a batch against it —
    the classic no-false-negative cheap filter an ingestion pipeline
    runs BEFORE the exact anti-join, so only maybe-present docs pay
    the join. Output per probe doc: ``n_pos`` (distinct bit positions
    of the doc), ``n_set`` (how many are set in the corpus filter),
    ``maybe_present`` (all set — present or false positive).

    Scale shape: the filter state is AT MOST ``m`` distinct-position
    rows (constant, broadcastable — a real deployment ships the bit
    array itself as k·log2(m) bits/doc of aggregate state); the probe
    side is a broadcast join probed map-side, one per-doc aggregate as
    the only exchange. DETERMINISTIC: md5 32-bit slices mod m, exact
    integers in both engines."""
    bits = (
        _bloom_positions(corpus, m, k)
        .select("pos")
        .distinct()
        .withColumn("__set", F.lit(1))
    )
    probed = _bloom_positions(probe, m, k).distinct()
    return (
        probed.join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce("__set", F.lit(0)))
            .cast("bigint")
            .alias("n_set"),
        )
        .select(
            "doc_id",
            F.col("n_pos").cast("bigint").alias("n_pos"),
            "n_set",
            (F.col("n_set") == F.col("n_pos")).alias("maybe_present"),
        )
    )


def bloom_membership_sql(
    m: int = BLOOM_M, k: int = BLOOM_K, corpus_mod: int = 2
) -> str:
    """DuckDB twin: corpus = the deterministic ``doc_id % corpus_mod
    = 0`` slice (mirrors the queries() wiring); probe = all docs."""
    slices = ", ".join(
        f"CAST(CAST(concat('0x', substr(md5(text), {1 + 8 * i}, 8)) "
        f"AS BIGINT) % {m} AS INT)"
        for i in range(k)
    )
    return f"""
WITH pos AS (
  SELECT DISTINCT doc_id, p AS pos
  FROM (SELECT doc_id, unnest([{slices}]) AS p FROM documents)
),
bits AS (
  SELECT DISTINCT pos FROM pos WHERE doc_id % {corpus_mod} = 0
)
SELECT p.doc_id,
       count(*) AS n_pos,
       CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_set,
       count(*) = sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
         AS maybe_present
FROM pos p LEFT JOIN bits b USING (pos)
GROUP BY 1
"""


def near_dedup_keepers(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> DataFrame:
    """The near-dedup END PRODUCT: the doc ids that SURVIVE
    deduplication — cluster canonicals (min id per connected
    component of the verified near-dup graph) plus every unclustered
    doc. This is the composition a curation pipeline actually ships:
    minhash candidates → exact verify → connected components → keep
    one per cluster.

    Scale shape: inherits the pipeline's guarantees (banded LSH
    candidates, bucket caps, checkpointed CC rounds); the final keep
    decision is one broadcast-able anti join of the (tiny) drop list
    against the corpus ids."""
    pairs = minhash_near_dups(docs, threshold, num_hashes, band_width)
    clusters = dedup_clusters(pairs)
    drops = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.select("doc_id").join(drops, "doc_id", "left_anti")


def near_dedup_keepers_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    return f"""
WITH clustered AS ({dedup_clusters_sql(threshold, num_hashes, band_width)})
SELECT doc_id FROM documents
WHERE doc_id NOT IN
  (SELECT doc_id FROM clustered WHERE doc_id != cluster_id)
"""


def embedding_dedup_keepers(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Semantic-dedup END PRODUCT over the embedding corpus (the
    SemDeDup-shaped pipeline): IVF-blocked cosine near-dup pairs →
    connected components → keep one representative (min vec_id) per
    component plus every unclustered vector.

    Scale shape: inherits embedding_near_dups_ivf's guarantees (cell
    blocking, intra-cell skew splits, no driver collect of vectors)
    and dedup_clusters' size-gated component solve; the final keep
    decision is an anti join of the metadata-sized drop list against
    the corpus ids."""
    pairs = embedding_near_dups_ivf(emb, threshold, n_cells, nprobe)
    clusters = dedup_clusters(
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    drops = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return emb.select("vec_id").join(drops, "vec_id", "left_anti")


def embedding_dedup_keepers_sql(
    threshold: float = 0.4,
    n_cells: int = 16,
    nprobe: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin: recursive closure over the replayed IVF pair set."""
    return f"""
WITH RECURSIVE pairs AS ({embedding_near_dups_ivf_sql(threshold, n_cells, nprobe, dim)}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
reach(node, via) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.via
),
clustered AS (SELECT node AS vec_id, min(via) AS cluster_id FROM reach GROUP BY node)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM clustered WHERE vec_id != cluster_id)
"""


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    max_posting: int = 500,
    width: int = SHINGLE_WIDTH,
) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT
    (Broder's "On the resemblance and containment of documents",
    1997): ``c_ab = |A∩B| / |A|`` — the fraction of doc A's shingles
    found in doc B. Jaccard misses subset relationships (a doc quoted
    whole inside a much larger one scores low); containment is the
    standard signal for quote/snippet/prefix duplication in training
    corpora.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — the
    stop-shingle cap applies BEFORE posting arrays materialize, the
    intersection is counted off in-bucket pair generation (shingle
    arrays never hydrate onto pairs), and the pair survives when
    EITHER direction clears the threshold. Bounded audit path; at
    100 TB candidate generation is MinHash."""
    staged = _capped_index_counts(docs, width, max_posting)
    return staged.select(
        "doc_a",
        "doc_b",
        F.round(F.col("i") / F.col("na"), 6).alias("containment_ab"),
        F.round(F.col("i") / F.col("nb"), 6).alias("containment_ba"),
    ).where(
        (F.col("containment_ab") >= threshold)
        | (F.col("containment_ba") >= threshold)
    )


def containment_pairs_sql(
    threshold: float = 0.6, max_posting: int = 500
) -> str:
    return f"""
WITH {_capped_index_ctes(max_posting)}
SELECT i.doc_a, i.doc_b,
       round(i.i * 1.0 / sa.n, 6) AS containment_ab,
       round(i.i * 1.0 / sb.n, 6) AS containment_ba
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(i.i * 1.0 / sa.n, 6) >= {threshold}
   OR round(i.i * 1.0 / sb.n, 6) >= {threshold}
"""


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    width: int = SHINGLE_WIDTH,
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-over-threshold pairs via PREFIX FILTERING — the
    classic set-similarity-join family (Chaudhuri et al.'s SSJoin /
    Xiao et al.'s PPJoin; public literature), and the sub-quadratic
    EXACT alternative to :func:`ngram_jaccard_pairs`' full inverted
    index:

    1. canonicalize every shingle set by ASCENDING global document
       frequency (rarest first, ties by value) — one tiny frequency
       aggregate joined back;
    2. a pair with ``J >= t`` must share a shingle within each side's
       first ``n - ceil(t*n) + 1`` canonical shingles (the prefix
       lemma: overlap >= ceil(t*n) forces the prefixes to intersect),
       so ONLY the prefix relation self-joins — and its tokens are by
       construction the globally RAREST, i.e. the shortest posting
       lists the corpus has;
    3. a size-ratio filter (``least(na,nb) >= t*greatest``) prunes at
       candidate time; exact verification reuses
       :func:`jaccard_verify`.

    No recall loss anywhere (the DuckDB oracle is the uncapped brute
    force over ALL co-occurring pairs): unlike the ``max_posting``
    stop-shingle cap of the inverted-index operator, prefix filtering
    prunes with theorems, not truncation. A residual hot prefix token
    means the corpus genuinely contains that many near-identical
    documents — inherent output, not skew.

    ``sets`` INVARIANT (ADVICE r13): when supplied it must be
    ``shingle_sets(docs, width=width)`` over the SAME ``docs`` (same
    corpus subset — a caller that samples, e.g. minhash_calibration,
    must build sets from the sampled frame) — ``width`` is ignored
    then, and a sets relation shingled at another width silently
    produces wrong Jaccard values rather than failing."""
    from pyspark.sql import Window

    # ONE materialization of the tokenize+shingle pipeline
    # (optimization r13, guide §2.4/§5): this plan walks the shingle
    # relation five times — the prefix token stream, the
    # document-frequency aggregate's join-back, the size dimension,
    # and both hydration sides of jaccard_verify. Un-checkpointed,
    # each walk re-ran the regex tokenization + shingle transform
    # from the parquet scan (the dominant per-row cost); the lazy
    # localCheckpoint (the minhash_near_dups convention) runs it
    # once and every consumer reads the materialized arrays.
    # ``sets`` lets exact-vs-LSH composites (minhash_recall_report,
    # minhash_calibration) pass ONE shared materialization to both
    # sides instead of shingling the corpus twice per query.
    if sets is None:
        sets = shingle_sets(docs, width=width).localCheckpoint(
            eager=False
        )
    # Two traps the sibling operators already document: (1) bare
    # explode makes InferFiltersFromGenerate push the whole shingle
    # pipeline below the fan-out exchange (shingles() uses
    # explode_outer for this exact reason); (2) selecting
    # size(sh_arr) ALONGSIDE the explode inlines the pipeline into
    # the Generate per OUTPUT row — the size rides in via a broadcast
    # join of the tiny (doc, n) branch instead. Measured together:
    # 13.5 s → 3.3 s at sf0.1. The token stream is the same exploded
    # relation shingles() derives, read off the checkpointed sets.
    tok = sets.select(
        "doc_id", F.explode_outer("sh_arr").alias("sh")
    )
    sizes = sets.select("doc_id", F.size("sh_arr").alias("n"))
    dfreq = tok.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc_id").orderBy("__df", "sh")
    ranked = (
        tok.join(dfreq, "sh")
        .join(F.broadcast(sizes), "doc_id")
        .withColumn("__rn", F.row_number().over(w))
    )
    # epsilon guards: overshooting ceil(t*n) by a float ulp would
    # SHORTEN the prefix and silently lose recall
    pref_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + F.lit(1)
    )
    # materialized: BOTH sides of the candidate self-join read this
    # relation, and without a boundary the whole dfreq-join + window
    # subtree is planned (and executed) once per side — the executed
    # plan carried 2x the Window/Generate/HashAggregate subtree and 25
    # Exchanges (optimization r13; exchange reuse does not collapse
    # them across the self-join's differing projections). The prefix
    # relation is the globally rarest-token slice — small by
    # construction — so the checkpoint is cheap at any scale.
    prefix = ranked.where(F.col("__rn") <= pref_len).select(
        "sh", "doc_id", "n", F.col("__rn").alias("p")
    ).localCheckpoint(eager=False)
    a = prefix.select(
        "sh", F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"), F.col("p").alias("pa"),
    )
    b = prefix.select(
        "sh", F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"), F.col("p").alias("pb"),
    )
    # POSITIONAL filter (PPJoin): a token shared at canonical
    # positions (pa, pb) bounds the overlap by 1 + min(remaining
    # suffix lengths); Jaccard >= t needs overlap >=
    # t/(1+t) * (na+nb), so late-in-both-prefixes coincidences die at
    # candidate time. A qualifying pair always survives through its
    # EARLIEST shared prefix token (loosest bound), so recall is
    # intact — measured ~19x candidate reduction on the test corpus.
    alpha = (
        F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    cand = (
        a.join(b, "sh")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("na", "nb")
                >= F.lit(threshold) * F.greatest("na", "nb") - F.lit(1e-9)
            )
            & (ubound >= alpha)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return jaccard_verify(sets, cand).where(
        F.col("jaccard") >= threshold
    )


def prefix_jaccard_sql(
    threshold: float = 0.5, width: int = SHINGLE_WIDTH
) -> str:
    """Uncapped brute-force twin: every co-occurring pair's exact
    Jaccard — equality with the prefix-filtered plan PROVES the
    pruning is lossless."""
    return f"""
WITH sh AS ({shingles_sql(width)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= {threshold}
"""


def minhash_recall_report(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """In-engine quality report for the approximate dedup path: the
    MinHash-LSH pipeline's pair set measured against the EXACT
    prefix-filtered join at the same threshold — one row with pair
    counts, precision, and recall. The number every dedup deployment
    should publish next to its pipeline: banding recall is a tunable
    probability (bands × band width), and this query turns it into a
    monitored metric instead of folklore.

    Precision is structurally 1.0 — LSH candidates pass the same
    exact Jaccard verification the ground truth uses, so the report
    doubles as a regression check on the verify stage (a fp count > 0
    means the pipeline broke). Both sides are bounded-candidate plans;
    the comparison adds one key-partitioned full-outer join on the
    (tiny) pair sets. Run it at the pipeline's operating threshold —
    prefix pruning (the ground-truth side) weakens as the threshold
    drops, which is the exact side's inherent cost, not a knob."""
    # ONE shared shingle-set materialization for both sides
    # (optimization r13): the exact and LSH pipelines each walk the
    # tokenize+shingle lineage several times; sharing the checkpoint
    # shingles the corpus once per report instead of twice.
    sets = shingle_sets(docs).localCheckpoint(eager=False)
    exact = prefix_jaccard_pairs(docs, threshold=threshold, sets=sets).select(
        "doc_a", "doc_b", F.lit(1).alias("__e")
    )
    lsh = minhash_near_dups(docs, threshold=threshold, sets=sets).select(
        "doc_a", "doc_b", F.lit(1).alias("__l")
    )
    both = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce(F.col("__e"), F.lit(0))).cast("bigint")
        .alias("n_exact"),
        F.sum(F.coalesce(F.col("__l"), F.lit(0))).cast("bigint")
        .alias("n_lsh"),
        F.sum(
            F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_common"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.round(F.col("n_common") / F.col("n_lsh"), 6).alias("precision"),
        F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
    )


def minhash_recall_report_sql(threshold: float = 0.5) -> str:
    return f"""
WITH exact_pairs AS (
  SELECT doc_a, doc_b FROM ({prefix_jaccard_sql(threshold)})
),
lsh_pairs AS (
  SELECT doc_a, doc_b FROM ({minhash_near_dups_sql(threshold)})
),
counts AS (
  SELECT
    (SELECT count(*) FROM exact_pairs) AS n_exact,
    (SELECT count(*) FROM lsh_pairs) AS n_lsh,
    (SELECT count(*)
     FROM exact_pairs e JOIN lsh_pairs l
       ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) AS n_common
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_common AS BIGINT) AS n_common,
       round(n_common * 1.0 / n_lsh, 6) AS precision,
       round(n_common * 1.0 / n_exact, 6) AS recall
FROM counts
"""


def cross_source_leakage(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Train/test-leakage census at SOURCE granularity: how many
    exact near-dup pairs cross each source boundary (and how many
    stay inside one source). A benchmark split by `source` is only as
    clean as the cross-source row counts here — the aggregate view of
    what `contamination_check` measures against one benchmark
    relation.

    Cost: the prefix-filtered exact join + one broadcast join of the
    (doc → source) dimension onto the bounded pair set + a tiny
    aggregate."""
    pairs = prefix_jaccard_pairs(docs, threshold=threshold)
    src = docs.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
    )
    b = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("source_x"),
            F.greatest("source_a", "source_b").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# auto-gate for source_overlap_sketch's partition_topk kernel
# (mirrors graph.BROADCAST_RANK_MAX_NODES' size-gated dual path): the
# default JVM aggregation path's exchange carries each
# (partition, source) group's full distinct-hash set — O(distinct
# shingle hashes) rows of 32-char md5 state — while the Arrow kernel's
# exchange is exactly partitions × sources × k rows. The crossover is
# decided from SCAN METADATA alone (sum of the input files' sizes; no
# extra Spark job): parquet-compressed text yields very roughly one
# shingle per ~2 stored bytes, so past ~256 MB of input (~10^8
# shingles, multi-GB of md5-hex exchange) the kernel's single Arrow
# pass beats shuffling the distinct sets; below it whole-stage codegen
# wins (measured at sf0.1: JVM 0.9 s vs kernel ~1.7 s). A non-file
# input (in-memory test relation) reports 0 bytes and keeps the JVM
# path.
PARTITION_TOPK_MIN_INPUT_BYTES = 256 * 1024 * 1024


def _scan_input_bytes(df: DataFrame) -> int:
    """Total on-disk size of the scan files feeding ``df`` —
    metadata-only (file listing, no job). 0 when the plan has no file
    scan (in-memory relations)."""
    import os

    total = 0
    for uri in df.inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        # tolerate listing races (a compaction/GC may remove a file
        # between plan capture and stat) — the gate is a heuristic
        try:
            total += os.path.getsize(path)
        except OSError:
            continue
    return total


def _partition_kmin_kernel(k: int):
    """Arrow kernel for the ``partition_topk`` path: fold ALL of a
    partition's batches into per-source k-smallest-distinct-hash
    state, then emit the bounded candidates once. The map task's
    OUTPUT — and therefore the exchange — is exactly
    partitions × sources × k rows, whatever the partition held.

    VECTORIZED fold (review finding): each batch contributes its own
    per-source k-min via pandas sort + grouped head (no per-element
    Python loop — this path exists precisely for huge partitions),
    and the running state stays bounded at sources × k rows because
    both inputs to the merge are already k-capped."""

    def fold(batches):
        import pandas as pd

        def topk(pdf):
            return (
                pdf.drop_duplicates()
                .sort_values(["source", "h"])
                .groupby("source", sort=False)
                .head(k)
            )

        state = None
        for pdf in batches:
            cand = topk(pdf)
            state = cand if state is None else topk(
                pd.concat([state, cand], ignore_index=True)
            )
        yield (state if state is not None
               else pd.DataFrame({"source": [], "h": []}, dtype=object))

    return fold


def source_overlap_sketch(
    docs: DataFrame, k: int = 256, width: int = SHINGLE_WIDTH,
    partition_topk: bool | None = None,
) -> DataFrame:
    """Cross-source content-overlap ESTIMATES at sketch cost — the
    KMV (k-minimum-values) Jaccard estimator (Bar-Yossef et al.
    2002; Beyer et al., SIGMOD'07): per source keep the ``k``
    lexicographically smallest md5 shingle hashes; for a source pair,
    take the k smallest of the merged signatures ``U`` and estimate
    ``J(A,B) ≈ |U ∩ S_A ∩ S_B| / |U|``. The sketch-cost complement
    of :func:`cross_source_leakage` (which pays the exact
    prefix-filtered join): one corpus pass builds S signatures of k
    hashes each, and every pairwise estimate is pure array math on an
    S×S grid — at 100 TB the corpus never participates in the pair
    computation at all.

    DETERMINISTIC (oracle-checkable): md5 hex compares identically in
    every engine, signatures are distinct-deduped before ranking, and
    the estimate is one small-integer division rounded at the end.

    Scale shape: two-phase EXACT top-k — each input partition emits
    its k smallest distinct hashes per source, then the merge dedups
    and re-selects over that candidate set. The global k-minimum is
    always inside some partition's local k-minimum (pigeonhole), so
    this equals the single-pass form. What it buys vs the previous
    distinct+window form: the merge's sort runs over the candidate
    arrays, never an S-way-parallel window sort of every hash
    (measured 13.7 s → 0.9 s at sf0.1). Honest bound: the slice
    applies in the aggregate's RESULT projection, so the exchange
    before it still carries each (partition, source) group's full
    distinct set — O(distinct hashes) shuffle bytes in the worst
    case, the same class as kmv_ndv's documented NDV path; the
    ``partition_topk=True`` path is the lever when that exchange
    dominates: an Arrow ``mapInPandas`` kernel folds each partition
    to its per-source k smallest distinct hashes IN the map task
    (a vectorized pandas sort + grouped-head fold per Arrow batch,
    merged against a running state that stays bounded at sources × k
    rows), so the exchange genuinely carries only
    partitions × sources × k rows. Both paths select the identical
    signature (A/B test-pinned). ``partition_topk=None`` (default)
    AUTO-GATES on scan metadata — kernel past
    ``PARTITION_TOPK_MIN_INPUT_BYTES`` of input, JVM codegen below it
    (the measured small-scale winner) — so the 100 TB caller never
    has to know the knob exists; pass True/False to pin either path.
    The pair join is source_a < source_b over the S-row signature
    relation — S is a categorical domain (corpora have tens of
    sources, not millions), so the grid is metadata-sized."""
    sh = shingles(docs, id_col="source", width=width).select(
        F.col("doc_id").alias("source"), F.md5("shingle").alias("h")
    )
    if partition_topk is None:
        partition_topk = (
            _scan_input_bytes(docs) >= PARTITION_TOPK_MIN_INPUT_BYTES
        )
    if partition_topk:
        # one-element cand arrays: the shared merge below is the
        # single global k-min selection (duplicating it here would be
        # an identical second aggregation pass — review finding)
        local = sh.mapInPandas(
            _partition_kmin_kernel(k), "source string, h string"
        ).select("source", F.array("h").alias("cand"))
    else:
        local = (
            sh.groupBy(F.spark_partition_id().alias("__p"), "source")
            .agg(
                F.slice(F.array_sort(F.collect_set("h")), 1, k)
                .alias("cand")
            )
        )
    sig = (
        local.select("source", F.explode_outer("cand").alias("h"))
        .groupBy("source")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("sig"))
    )
    a = sig.select(F.col("source").alias("source_a"),
                   F.col("sig").alias("sa"))
    b = sig.select(F.col("source").alias("source_b"),
                   F.col("sig").alias("sb"))
    paired = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    u = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, k)
    staged = paired.select(
        "source_a",
        "source_b",
        F.size(
            F.array_intersect(u, F.array_intersect("sa", "sb"))
        ).cast("bigint").alias("n_common_sketch"),
        F.size(u).cast("bigint").alias("sketch_size"),
    )
    return staged.select(
        "source_a",
        "source_b",
        "n_common_sketch",
        "sketch_size",
        F.round(F.col("n_common_sketch") / F.col("sketch_size"), 6).alias(
            "est_jaccard"
        ),
    )


def source_overlap_sketch_sql(
    k: int = 256, width: int = SHINGLE_WIDTH
) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT source,
         md5(array_to_string(t[i:i+{width - 1}], ' ')) AS h
  FROM (SELECT source, regexp_split_to_array(text, '\\s+') AS t
        FROM documents),
       LATERAL unnest(generate_series(1, len(t) - {width - 1})) AS u(i)
  WHERE len(t) >= {width}
),
r AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM sh
),
sig AS (
  SELECT source, list_sort(array_agg(h)) AS sig
  FROM r WHERE rn <= {k} GROUP BY source
),
paired AS (
  SELECT a.source AS source_a, b.source AS source_b,
         list_sort(list_distinct(a.sig || b.sig))[1:{k}] AS u,
         list_intersect(a.sig, b.sig) AS common
  FROM sig a JOIN sig b ON a.source < b.source
)
SELECT source_a, source_b,
       CAST(len(list_intersect(u, common)) AS BIGINT) AS n_common_sketch,
       CAST(len(u) AS BIGINT) AS sketch_size,
       round(len(list_intersect(u, common)) * 1.0 / len(u), 6)
         AS est_jaccard
FROM paired
"""


def cross_source_leakage_sql(threshold: float = 0.5) -> str:
    return f"""
WITH pairs AS ({prefix_jaccard_sql(threshold)}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_x,
       greatest(sa.source, sb.source) AS source_y,
       count(*) AS n_pairs,
       round(avg(jaccard), 6) AS avg_jaccard
FROM pairs p
JOIN src sa ON sa.doc_id = p.doc_a
JOIN src sb ON sb.doc_id = p.doc_b
GROUP BY 1, 2
"""


# -- round-5 additions ------------------------------------------------------


def dedup_spans(docs: DataFrame, width: int = 8) -> DataFrame:
    """Sub-document exact dedup (the n-gram-granular form of Lee et
    al. 2022's ExactSubstr): remove every token position covered by a
    ``width``-gram that occurs MORE THAN ONCE across the corpus
    (including a second time in the same document), and reassemble
    the surviving text. Duplicated boilerplate runs disappear from
    otherwise-unique documents — the step document-level dedup can't
    do.

    Plan shape (all built-in expressions, no UDF): one gram-count
    shuffle over O(corpus tokens), coverage explode bounded by
    ``width × duplicated-gram occurrences``, one doc-keyed
    reassembly aggregation. At 100 TB the gram key would be hashed
    (xxhash64) instead of the literal string — the literal form is
    the oracle-checkable one."""
    toks_arr = tokenized(docs)  # canonical (doc_id, toks) + fan_out
    positions = toks_arr.select(
        "doc_id", F.posexplode("toks").alias("pos", "word")
    )
    grams = toks_arr.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"IF(size(toks) >= {width}, "
                f"transform(sequence(1, size(toks) - {width} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {width}))), "
                "CAST(array() AS ARRAY<STRING>))"
            )
        ).alias("gpos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(width - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    kept = positions.join(
        covered,
        (positions.doc_id == covered.doc_id)
        & (positions.pos == covered.cpos),
        "left_anti",
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, word))), "
                "s -> s.word)"
            ),
        ).alias("clean_text"),
    )
    return (
        toks_arr.select("doc_id", F.size("toks").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def dedup_spans_sql(width: int = 8) -> str:
    w = width
    return f"""
WITH toksarr AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS l FROM documents
),
positions AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS word
  FROM toksarr, LATERAL unnest(generate_series(1, len(l))) AS t(i)
),
grams AS (
  SELECT doc_id, i - 1 AS gpos, array_to_string(l[i:i+{w - 1}], ' ') AS gram
  FROM toksarr, LATERAL unnest(generate_series(1, len(l) - {w} + 1)) AS t(i)
  WHERE len(l) >= {w}
),
dup AS (SELECT gram FROM grams GROUP BY 1 HAVING count(*) >= 2),
covered AS (
  SELECT DISTINCT g.doc_id, g.gpos + o AS cpos
  FROM grams g JOIN dup d USING (gram),
       LATERAL unnest(generate_series(0, {w - 1})) AS t(o)
),
kept AS (
  SELECT p.doc_id, p.pos, p.word
  FROM positions p
  ANTI JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.cpos
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.l) AS BIGINT) AS n_tokens,
       CAST(len(t.l) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM toksarr t LEFT JOIN agg a USING (doc_id)
"""


def cluster_size_histogram(pairs: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution — the one-glance shape of a
    corpus's duplication (many pairs vs few giant templates drive
    completely different dedup decisions). Composes
    :func:`dedup_clusters`; two metadata-sized aggregations on top."""
    clusters = dedup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def cluster_size_histogram_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    return f"""
WITH clusters AS ({dedup_clusters_sql(threshold, num_hashes, band_width)}),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY 1
)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1
"""


def _band_key_array(num_hashes: int, band_width: int):
    """The per-row banded-signature key array shared by the self-join
    LSH pipeline and the persisted-index query path."""
    n_bands = num_hashes // band_width
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{b * band_width + r}")
                            for r in range(band_width)
                        ],
                    )
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )


def _index_rows(docs: DataFrame, num_hashes: int) -> DataFrame:
    sets = shingle_sets(docs)
    sig = minhash_signatures(sets, num_hashes)
    return sig.join(sets, "doc_id")


def build_dedup_index(
    index_table, docs: DataFrame, num_hashes: int = NUM_HASHES
):
    """Persist the MinHash dedup state — ``(doc_id, h0..hK-1,
    sh_arr)`` — into a maintained table, so incoming batches can be
    near-dup-checked WITHOUT recomputing corpus signatures (the
    incremental-ingestion production path; the dedup sibling of
    ``similarity.build_ivf_index``). The index inherits snapshots,
    compaction, expiry, and time travel from the table format.

    Returns the committed snapshot."""
    return index_table.overwrite(_index_rows(docs, num_hashes))


def extend_dedup_index(
    index_table,
    new_docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    properties: dict | None = None,
    rows: DataFrame | None = None,
):
    """Append a new batch's signatures/shingle sets to the index —
    one commit, new rows only (O(batch), never O(corpus)).
    ``rows`` lets callers that already computed the (doc_id, h*,
    sh_arr) relation skip recomputation; ``properties`` rides into
    the snapshot (stage 6's ``covers_snapshot`` cursor)."""
    return index_table.append(
        rows if rows is not None else _index_rows(new_docs, num_hashes),
        single_file=False,
        properties=properties,
    )


def near_dups_from_index(
    index_table,
    new_docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
    max_bucket_size: int = 1000,
    precomputed: tuple | None = None,
) -> DataFrame:
    """Near-dup pairs between an incoming batch and the PERSISTED
    index: signatures are computed for the new batch only, band keys
    join against the index's stored signatures, and exact Jaccard
    verifies candidates from the stored shingle sets. Returns
    ``(doc_a, doc_b, jaccard)`` with ``doc_a`` = the new doc.

    Identical semantics to running the full pipeline over
    index ∪ batch and keeping the cross pairs (equivalence is
    test-pinned) at O(batch + candidates) cost instead of
    O(corpus)."""
    idx = index_table.read()
    if precomputed is None:
        sets_new = shingle_sets(new_docs).localCheckpoint(eager=False)
        sig_new = minhash_signatures(sets_new, num_hashes)
    else:
        sets_new, sig_new = precomputed
    keys = _band_key_array(num_hashes, band_width)
    new_bands = sig_new.select(
        "doc_id", F.explode(keys).alias("bk")
    ).select(F.col("doc_id").alias("doc_a"), "bk.band", "bk.key")
    idx_bands = idx.select(
        "doc_id", F.explode(keys).alias("bk")
    ).select(F.col("doc_id").alias("doc_b"), "bk.band", "bk.key")
    # SYMMETRIC skew guard: bucket sizes are counted over index ∪
    # batch — the same population the full pipeline counts — so the
    # pinned full-pipeline equivalence holds even when a bucket only
    # crosses the cap with both sides combined, and a boilerplate-
    # heavy BATCH is guarded too, not just the index side
    all_bands = new_bands.selectExpr("band", "key").unionByName(
        idx_bands.selectExpr("band", "key")
    )
    hot = (
        all_bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_bucket_size)
        .select("band", "key")
    )
    new_bands = new_bands.join(hot, ["band", "key"], "left_anti")
    idx_bands = idx_bands.join(hot, ["band", "key"], "left_anti")
    # NOTE: no doc_a != doc_b exclusion — a same-id band match means
    # the document is ALREADY IN the index (jaccard 1.0), which is
    # exactly what an ingestion gate must report
    cand = (
        new_bands.join(idx_bands, ["band", "key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sets_new.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("sh_a")
    )
    b = idx.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("sh_b")
    )
    staged = cand.join(a, "doc_a").join(b, "doc_b").select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
        F.size("sh_a").alias("na"),
        F.size("sh_b").alias("nb"),
    )
    return staged.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def benchmark_coverage(
    docs: DataFrame,
    benchmark: DataFrame,
    width: int = SHINGLE_WIDTH,
) -> DataFrame:
    """EVAL-SIDE leakage/memorization audit — the inverse direction of
    :func:`contamination_check`: for each BENCHMARK document, what
    fraction of its distinct ``width``-grams appears anywhere in the
    training corpus. A benchmark doc with coverage ~1.0 is answerable
    from memorized training text; the per-doc grain tells you which
    eval items to drop or rotate.

    Scale shape: the benchmark gram set is eval-suite-sized, so the
    corpus-side pass is ONE broadcast left-semi probe (corpus grams
    never shuffle; only the covered subset — bounded by the benchmark
    set — survives), and the per-doc rollup joins that small covered
    set back via broadcast. The corpus is read once, map-side."""
    # consumed twice (broadcast probe set + per-doc rollup) — a lazy
    # localCheckpoint runs the benchmark-side shingling ONCE
    bench_grams = shingles(benchmark, width=width).localCheckpoint(
        eager=False
    )
    bg_set = bench_grams.select("shingle").distinct()
    covered = (
        shingles(docs, width=width)
        .select("shingle")
        .join(F.broadcast(bg_set), "shingle", "left_semi")
        .distinct()
    )
    return (
        bench_grams.join(
            F.broadcast(covered).withColumn("__hit", F.lit(1)),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_grams"), 6).alias(
                "coverage"
            ),
        )
    )


def benchmark_coverage_sql(
    width: int = SHINGLE_WIDTH, bench_mod: int = 97
) -> str:
    """DuckDB twin — benchmark = the ``doc_id % bench_mod = 0`` slice,
    corpus = the rest (mirrors the queries() wiring)."""
    return f"""
WITH grams AS ({shingles_sql(width)}),
bench AS (SELECT doc_id, shingle FROM grams WHERE doc_id % {bench_mod} = 0),
covered AS (
  SELECT DISTINCT g.shingle
  FROM grams g
  SEMI JOIN (SELECT DISTINCT shingle FROM bench) b
    ON g.shingle = b.shingle
  WHERE g.doc_id % {bench_mod} <> 0
)
SELECT b.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       round(sum(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS coverage
FROM bench b LEFT JOIN covered c ON b.shingle = c.shingle
GROUP BY b.doc_id
"""


def split_leakage(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """Cross-split contamination census at the n-gram grain: after
    deterministic train/val/test assignment (sampling.hash_split),
    how much ``width``-gram content do the splits SHARE? A test split
    whose grams are mostly contained in train is leaked — the
    evaluation-integrity twin of contamination_check, applied to the
    pipeline's OWN split boundary instead of an external benchmark.

    One row per unordered split pair: shared distinct grams, each
    side's distinct gram count, and the containment coefficient
    (shared / smaller side).

    Scale shape: the (split, gram) relation distincts once (gram-
    keyed, map-side-combined — the standard corpus-token-sized
    class); the pair join runs split-pair-local over grams that
    appear in ≥2 splits only. Output is split-pair-sized (metadata).
    Engine-exact: md5 split assignment ≡ hash_split, integer counts,
    one floored division."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        hash_split,
    )

    # split assignment is a pure doc_id expression, so it applies
    # directly to the shingle relation — no doc-keyed join at all
    grams = (
        hash_split(shingles(docs, width=width))
        .select("split", "shingle")
        .distinct()
    )
    per_split = grams.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    a = grams.select(F.col("split").alias("split_x"), "shingle")
    b = grams.select(F.col("split").alias("split_y"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("split_x") < F.col("split_y"))
        .groupBy("split_x", "split_y")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    na = per_split.select(
        F.col("split").alias("split_x"), F.col("n_grams").alias("n_grams_x")
    )
    nb = per_split.select(
        F.col("split").alias("split_y"), F.col("n_grams").alias("n_grams_y")
    )
    return (
        shared.join(F.broadcast(na), "split_x")
        .join(F.broadcast(nb), "split_y")
        .select(
            "split_x",
            "split_y",
            "n_shared_grams",
            "n_grams_x",
            "n_grams_y",
            (
                F.floor(
                    F.col("n_shared_grams").cast("double")
                    / F.least("n_grams_x", "n_grams_y").cast("double")
                    * 1000000 + F.lit(0.5)
                ) / 1000000
            ).alias("containment"),
        )
    )


def split_leakage_sql(width: int = SHINGLE_WIDTH) -> str:
    from trino_iceberg_maintenance_spark.operators.sampling import (
        SPLIT_FRACTIONS,
        _check_fractions,
    )

    fractions = SPLIT_FRACTIONS
    _check_fractions(fractions)
    arms, cum = [], 0.0
    for name, frac in fractions[:-1]:
        cum += frac
        arms.append(f"WHEN u < {cum!r} THEN '{name}'")
    case = "CASE " + " ".join(arms) + f" ELSE '{fractions[-1][0]}' END"
    return f"""
WITH assigned AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS DOUBLE) / {float(16**15)!r} AS u
  FROM documents
),
sh AS ({shingles_sql(width)}),
grams AS (
  SELECT DISTINCT {case} AS split, sh.shingle
  FROM sh JOIN assigned USING (doc_id)
),
per_split AS (
  SELECT split, count(*) AS n_grams FROM grams GROUP BY split
),
shared AS (
  SELECT a.split AS split_x, b.split AS split_y, count(*) AS n_shared_grams
  FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.split < b.split
  GROUP BY 1, 2
)
SELECT s.split_x, s.split_y, s.n_shared_grams,
       px.n_grams AS n_grams_x, py.n_grams AS n_grams_y,
       floor(CAST(s.n_shared_grams AS DOUBLE)
             / least(px.n_grams, py.n_grams) * 1000000 + 0.5) / 1000000
         AS containment
FROM shared s
JOIN per_split px ON px.split = s.split_x
JOIN per_split py ON py.split = s.split_y
"""


def _funnel_exact_stages(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The funnel's doc count + both exact-stage distinct counts in a
    single corpus pass: ``count_distinct`` twice over the raw and
    C4-normalized digests inside one aggregate. Bit-identical to
    counting the keeper relations (distinct count == keeper-group
    count): ``count_distinct`` skips the NULL digest that a keeper
    groupBy (and the DuckDB twin's ``DISTINCT`` subquery) would keep
    as its own group, so each count adds an explicit has-NULL term —
    NULL-text corpora agree with the keeper relations exactly. Still
    reads the corpus once instead of three times."""
    null_group = F.coalesce(
        F.max(F.when(F.col(text_col).isNull(), 1).otherwise(0)), F.lit(0)
    ).cast("long")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count_distinct(F.md5(F.col(text_col))) + null_group)
        .alias("n_exact_unique"),
        (F.count_distinct(F.md5(normalized_text(F.col(text_col))))
         + null_group).alias("n_norm_unique"),
    )


def dedup_funnel(docs: DataFrame) -> DataFrame:
    """The dedup survivorship funnel in ONE report row — the number
    every pipeline review asks for first: documents in, survivors
    after each dedup stage in escalating aggressiveness (exact
    content hash → C4-normalized hash → verified MinHash near-dup
    clustering), and the marginal removal each stage adds over the
    previous one. The stages are measured INDEPENDENTLY over the raw
    corpus (each is its own pipeline, not a chained filter), so a
    marginal column can go negative on a corpus where a nominally
    stronger stage keeps more (e.g. punctuation variants that
    normalization merges but whose shingle sets fall under the
    near-dup threshold) — a negative value is itself the signal that
    the stage ordering assumption doesn't hold for this corpus.

    Scale shape: the doc count and both exact stages are ONE wide
    aggregate over a single corpus scan — ``count(*)``,
    ``count_distinct(md5(text))`` and
    ``count_distinct(md5(normalized))`` fold in the same pass (the
    stages stay independent measurements; only the scan fuses). The
    near-dup stage keeps its own banded-LSH pipeline (it dominates
    cost and cannot share the hash pass). The report row is a
    crossJoin of 1-row aggregates, no data-sized join anywhere."""
    fused = _funnel_exact_stages(docs)
    n_near = near_dedup_keepers(docs).agg(
        F.count(F.lit(1)).alias("n_near_unique")
    )
    return (
        fused.crossJoin(n_near)
        .select(
            "n_docs",
            "n_exact_unique",
            "n_norm_unique",
            "n_near_unique",
            (F.col("n_docs") - F.col("n_exact_unique"))
            .alias("exact_removed"),
            (F.col("n_exact_unique") - F.col("n_norm_unique"))
            .alias("norm_removed"),
            (F.col("n_norm_unique") - F.col("n_near_unique"))
            .alias("near_removed"),
        )
    )


def dedup_funnel_sql() -> str:
    return f"""
WITH near AS ({near_dedup_keepers_sql()})
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM (SELECT DISTINCT md5(text) FROM documents))
    AS n_exact_unique,
  (SELECT count(*) FROM (
     SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
     FROM documents)) AS n_norm_unique,
  (SELECT count(*) FROM near) AS n_near_unique,
  (SELECT count(*) FROM documents)
    - (SELECT count(*) FROM (SELECT DISTINCT md5(text) FROM documents))
    AS exact_removed,
  (SELECT count(*) FROM (SELECT DISTINCT md5(text) FROM documents))
    - (SELECT count(*) FROM (
         SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
         FROM documents)) AS norm_removed,
  (SELECT count(*) FROM (
     SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
     FROM documents))
    - (SELECT count(*) FROM near) AS near_removed
"""


def minhash_calibration(
    docs: DataFrame, threshold: float = 0.4, sample_frac: float = 0.5
) -> DataFrame:
    """The LSH S-curve MEASURED, not assumed — banding recall per
    exact-Jaccard bucket: every true pair from the exact
    prefix-filtered join (at a low floor so the curve has a tail) is
    bucketed by its Jaccard and checked against the MinHash-LSH
    candidate set. The analytic collision formula
    ``1 − (1 − t^r)^b`` is what papers print; this is what YOUR
    banding config actually does on YOUR corpus — the table a dedup
    deployment consults before moving the threshold knob.
    minhash_recall_report's single recall number, resolved into a
    curve.

    Calibration is a MEASUREMENT, so it runs on a deterministic
    hash-sample of the corpus (``sample_frac``, hash_split's
    md5-uniform recipe — reproducible, engine-exact): a low-floor
    exact join pays near-quadratic prefix work, and the per-bucket
    recall estimate converges long before the full pair set — the
    standard sampled-audit trade. Measured at sf0.1: the first form
    (threshold 0.2, no sample) cost 19 s; the default (0.4, 0.5)
    costs ~4.7 s. Lower the floor when the curve's tail matters and
    pay the documented exact-side cost (prefix pruning weakens as the
    floor drops — minhash_recall_report's standing caveat); set
    sample_frac=1.0 for the census.

    Scale shape: both sides are the already-audited bounded-candidate
    pipelines over the sampled relation; the comparison adds one
    key-partitioned left join on the (tiny) pair sets and a
    bucket-count aggregate. Engine-exact: the sample is an md5
    threshold test, bucket = floor(10·jaccard) on identically-rounded
    Jaccards, integer counts, one floored division."""
    if sample_frac < 1.0:
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cal:"),
                                   F.col("doc_id").cast("string"))),
                    1, 15,
                ),
                16, 10,
            )
            .cast("bigint")
            .cast("double")
            / F.lit(float(16**15))
        )
        docs = docs.where(u < F.lit(float(sample_frac)))
    # shared shingle-set materialization over the SAMPLED relation
    # (optimization r13 — same recipe as minhash_recall_report)
    sets = shingle_sets(docs).localCheckpoint(eager=False)
    exact = prefix_jaccard_pairs(docs, threshold=threshold, sets=sets).select(
        "doc_a", "doc_b", "jaccard"
    )
    lsh = minhash_near_dups(docs, threshold=threshold, sets=sets).select(
        "doc_a", "doc_b", F.lit(1).alias("__l")
    )
    tagged = exact.join(lsh, ["doc_a", "doc_b"], "left")
    return (
        tagged.groupBy(
            (F.floor(F.col("jaccard") * 10) / 10).alias("jaccard_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("__l").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_captured"),
        )
        .select(
            "jaccard_bucket",
            "n_pairs",
            "n_captured",
            (
                F.floor(
                    F.col("n_captured").cast("double")
                    / F.col("n_pairs").cast("double") * 1000000
                    + F.lit(0.5)
                ) / 1000000
            ).alias("bucket_recall"),
        )
    )


def minhash_calibration_sql(
    threshold: float = 0.4, sample_frac: float = 0.5
) -> str:
    # the sampled relation replaces `documents` inside both composed
    # pipelines' SQL (they each read FROM documents)
    sample = f"""
  SELECT * FROM documents
  WHERE CAST(CAST(concat('0x',
           substr(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS DOUBLE) / {float(16**15)!r} < {sample_frac!r}
"""
    exact_sql = prefix_jaccard_sql(threshold).replace(
        "FROM documents", f"FROM ({sample})"
    )
    lsh_sql = minhash_near_dups_sql(threshold).replace(
        "FROM documents", f"FROM ({sample})"
    )
    if sample_frac >= 1.0:
        exact_sql = prefix_jaccard_sql(threshold)
        lsh_sql = minhash_near_dups_sql(threshold)
    return f"""
WITH exact_pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({exact_sql})
),
lsh_pairs AS (
  SELECT doc_a, doc_b FROM ({lsh_sql})
),
tagged AS (
  SELECT e.jaccard,
         l.doc_a IS NOT NULL AS captured
  FROM exact_pairs e
  LEFT JOIN lsh_pairs l
    ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
)
SELECT floor(jaccard * 10) / 10 AS jaccard_bucket,
       count(*) AS n_pairs,
       CAST(sum(CASE WHEN captured THEN 1 ELSE 0 END) AS BIGINT)
         AS n_captured,
       floor(CAST(sum(CASE WHEN captured THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS bucket_recall
FROM tagged
GROUP BY 1
"""

def minhash_band_tuning(
    spark, n_hashes: int = NUM_HASHES, threshold: float = 0.4,
    steps: int = 200,
) -> DataFrame:
    """The banding-knob optimizer BESIDE the measured S-curve
    (:func:`minhash_calibration` measures what the current config
    does; this ranks every config you COULD run): for each admissible
    (bands b, rows r) split of the signature (b*r = n_hashes), the
    analytic LSH collision curve ``p(s) = 1 - (1 - s^r)^b`` (Broder
    banding; the standard datasketch-style tuner) is integrated on a
    midpoint grid against the dedup threshold —

    - ``fp_area``  = integral of p(s) below the threshold (pairs LSH
      surfaces that the exact verify then discards: wasted verify
      work),
    - ``fn_area``  = integral of 1 - p(s) above it (true near-dups
      banding never surfaces: the silent misses the recall report
      measures after the fact),
    - ``s50``     = (1/b)^(1/r), the curve's midpoint.

    The deployment reads the row minimizing ``total_error`` (or
    re-weights the two areas by its own verify-cost/recall trade).
    Pure analytic relation — signature-width-sized (divisor pairs of
    ``n_hashes``) x a constant grid, no corpus scan; everything stays
    JVM-side expression math, engine-exact to 6 dp at the final
    rounding."""
    n = int(n_hashes)
    bands = (
        spark.range(1, n + 1)
        .select(F.col("id").alias("n_bands"))
        .where(F.lit(n) % F.col("n_bands") == 0)
        .select(
            "n_bands", (F.lit(n) / F.col("n_bands"))
            .cast("long").alias("n_rows"),
        )
    )
    grid = spark.range(steps).select(
        ((F.col("id") + 0.5) / F.lit(float(steps))).alias("s")
    )
    p = 1 - F.pow(
        1 - F.pow(F.col("s"), F.col("n_rows")), F.col("n_bands")
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000
    return (
        bands.crossJoin(grid)
        .groupBy("n_bands", "n_rows")
        .agg(
            F.sum(
                F.when(F.col("s") < threshold, p).otherwise(F.lit(0.0))
            ).alias("_fp"),
            F.sum(
                F.when(F.col("s") >= threshold, 1 - p)
                .otherwise(F.lit(0.0))
            ).alias("_fn"),
        )
        .select(
            "n_bands",
            "n_rows",
            r6(F.pow(1.0 / F.col("n_bands"), 1.0 / F.col("n_rows")))
            .alias("s50"),
            r6(F.col("_fp") / steps).alias("fp_area"),
            r6(F.col("_fn") / steps).alias("fn_area"),
            r6((F.col("_fp") + F.col("_fn")) / steps)
            .alias("total_error"),
        )
    )


def minhash_band_tuning_sql(
    n_hashes: int = NUM_HASHES, threshold: float = 0.4, steps: int = 200,
) -> str:
    n = int(n_hashes)
    return f"""
WITH bands AS (
  SELECT b AS n_bands, {n} // b AS n_rows
  FROM generate_series(1, {n}) t(b)
  WHERE {n} % b = 0
),
grid AS (
  SELECT (k + 0.5) / {float(steps)!r} AS s
  FROM generate_series(0, {steps - 1}) g(k)
),
curve AS (
  SELECT n_bands, n_rows, s,
         1 - pow(1 - pow(s, n_rows), n_bands) AS p
  FROM bands, grid
)
SELECT n_bands, n_rows,
       floor(pow(1.0 / n_bands, 1.0 / n_rows) * 1000000 + 0.5) / 1000000
         AS s50,
       floor(sum(CASE WHEN s < {threshold!r} THEN p ELSE 0 END)
             / {steps} * 1000000 + 0.5) / 1000000 AS fp_area,
       floor(sum(CASE WHEN s >= {threshold!r} THEN 1 - p ELSE 0 END)
             / {steps} * 1000000 + 0.5) / 1000000 AS fn_area,
       floor((sum(CASE WHEN s < {threshold!r} THEN p ELSE 0 END)
              + sum(CASE WHEN s >= {threshold!r} THEN 1 - p ELSE 0 END))
             / {steps} * 1000000 + 0.5) / 1000000 AS total_error
FROM curve
GROUP BY n_bands, n_rows
"""

def _band_tuning_rows(
    n_hashes: int, threshold: float, steps: int
) -> list[tuple[int, int, float, float]]:
    """Driver-side twin of :func:`minhash_band_tuning`'s FP/FN areas:
    same divisor enumeration, same midpoint grid, same collision
    curve ``p(s) = 1 - (1 - s^r)^b``, same ``floor(x*1e6 + 0.5)/1e6``
    rounding — pinned equal to the Spark relation by
    ``test_band_tuning_driver_twin_matches_relation``. Returns
    ``(n_bands, n_rows, fp_area, fn_area)`` tuples."""
    import math

    n = int(n_hashes)
    r6 = lambda x: math.floor(x * 1000000 + 0.5) / 1000000  # noqa: E731
    out = []
    for b in range(1, n + 1):
        if n % b:
            continue
        r = n // b
        fp = fn = 0.0
        for g in range(steps):
            s = (g + 0.5) / float(steps)
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        out.append((b, r, r6(fp / steps), r6(fn / steps)))
    return out


def tuned_band_config(
    spark, n_hashes: int = NUM_HASHES, threshold: float = 0.2,
    steps: int = 200, fp_weight: float = 1.0, fn_weight: float = 1.0,
) -> tuple[int, int]:
    """The EXECUTABLE half of :func:`minhash_band_tuning` (VERDICT r9
    #4): pick the (n_bands, n_rows) split minimizing the weighted
    FP/FN area for THIS corpus threshold and return it as the
    ``(num_hashes, band_width)`` arguments every pipeline function
    takes — the tuner's recommendation as config, not just a table.
    Deterministic tie-break: fewer bands (fewer band keys to hash and
    shuffle). ``fp_weight``/``fn_weight`` re-price wasted verify work
    vs silent misses (a verify-bound deployment raises fp_weight; a
    recall-bound one raises fn_weight). Corpus-free AND cluster-free
    (optimization r14): the collision curve is analytic over a
    divisor-count × grid table, so the argmin runs as driver math —
    the previous Spark-job form cost a 3-job, ~0.6 s serial prelude
    before the actual pipeline could start (the declared
    ``minhash_band_tuning`` RELATION is unchanged; the driver twin is
    parity-pinned against it)."""
    rows = _band_tuning_rows(int(n_hashes), threshold, steps)
    best = min(
        rows,
        key=lambda r: (fp_weight * r[2] + fn_weight * r[3], r[0]),
    )
    return n_hashes, int(best[1])


def near_dedup_keepers_tuned(
    docs: DataFrame,
    threshold: float = 0.2,
    n_hashes: int = NUM_HASHES,
    steps: int = 200,
) -> DataFrame:
    """The closed tuning loop: tune the banding FOR the deployment's
    dedup threshold, then run the keeper pipeline under it. The
    default (NUM_HASHES=12, BAND_WIDTH=2) banding has s50 ≈ 0.41 —
    correct for a 0.4-ish threshold, but at threshold 0.2 it silently
    misses true near-dups in the 0.2-0.4 similarity belt;
    ``tuned_band_config`` picks the split whose collision curve
    crosses 50% nearest the actual threshold."""
    _, bw = tuned_band_config(docs.sparkSession, n_hashes, threshold,
                              steps)
    return near_dedup_keepers(docs, threshold, n_hashes, bw)


def lsh_bucket_skew_report(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Per-band LSH bucket-population census — the MEASURED hot-bucket
    monitor implied by the skew guard's cap (:func:`_drop_oversize_keys`
    drops over-cap buckets silently; this is the dashboard that says
    how much). One row per band: bucket count, doc memberships, the
    largest bucket, how many buckets the cap would drop, and the
    candidate-pair budget ``sum n*(n-1)/2`` over in-cap multi-doc
    buckets — the exact-verify workload THIS banding config implies on
    THIS corpus (the measured complement of
    :func:`minhash_band_tuning`'s analytic FP/FN areas).

    Scale shape: signatures and band keys are map-side array
    expressions; ONE (band, key) count aggregate (map-side combined —
    no member arrays, no pair generation anywhere), then a
    bands-sized rollup. The heaviest relation is (corpus x n_bands)
    count rows, never pairs."""
    sets = shingle_sets(docs)
    sig = minhash_signatures(sets, num_hashes)
    bands = sig.select(
        "doc_id", F.explode(_band_key_array(num_hashes, band_width))
        .alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    counts = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    return (
        counts.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").cast("bigint").alias("n_docs"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.sum(
                F.when(F.col("n") > max_bucket_size, 1).otherwise(0)
            ).cast("bigint").alias("n_over_cap"),
            F.sum(
                F.when(
                    (F.col("n") > 1) & (F.col("n") <= max_bucket_size),
                    pairs,
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("candidate_pairs"),
        )
        .select("band", "n_buckets", "n_docs", "max_bucket",
                "n_over_cap", "candidate_pairs")
    )


def lsh_bucket_skew_report_sql(
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
    max_bucket_size: int = 1000,
) -> str:
    sig_cols = ",\n    ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    n_bands = num_hashes // band_width
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS key FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"h{b * band_width + r}" for r in range(band_width)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({shingles_sql()}),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_rows}),
counts AS (
  SELECT band, key, count(*) AS n FROM bands GROUP BY band, key
)
SELECT band,
       count(*) AS n_buckets,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(max(n) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN n > {max_bucket_size} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_over_cap,
       CAST(sum(CASE WHEN n > 1 AND n <= {max_bucket_size}
                THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT)
         AS candidate_pairs
FROM counts
GROUP BY band
"""

def dedup_rate_by_source(docs: DataFrame) -> DataFrame:
    """Exact-duplicate rate ATTRIBUTED per source — the triage table
    between :func:`dedup_funnel`'s corpus-level counts and the keeper
    relations: which source is POLLUTING the corpus with copies
    (cross-source mirrors count against both sides — the question is
    exposure, not blame assignment). Per source: doc count, docs
    whose exact text digest appears more than once ANYWHERE in the
    corpus, the duplicated fraction, and how many of those dups have
    at least one copy OUTSIDE the source (cross-source mirrors vs
    in-source re-crawls — different remediations: a mirror needs a
    source-preference rule, a re-crawl needs a crawler fix).

    Scale shape: one digest hash-aggregate (map-side combined) over
    the corpus; the digest-group relation is corpus-sized, so the dup
    flags come back via ONE hash join on the digest key (per-key
    fan-out = the group size, i.e. the duplication itself), then a
    source-keyed aggregate. NULL text forms its own digest group,
    matching the keeper relations' NULL semantics."""
    digest = F.md5(F.col("text"))
    groups = (
        docs.select(F.coalesce(digest, F.lit("<NULL>")).alias("d"),
                    "source")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("source").alias("n_sources"),
        )
    )
    tagged = docs.select(
        "source", F.coalesce(digest, F.lit("<NULL>")).alias("d")
    ).join(groups, "d")
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
            .alias("n_dup_docs"),
            F.sum(
                F.when(
                    (F.col("n_copies") > 1) & (F.col("n_sources") > 1), 1
                ).otherwise(0)
            ).alias("n_cross_source_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "n_cross_source_dups",
            r6(F.col("n_dup_docs") / F.col("n_docs")).alias("dup_frac"),
        )
    )


def near_dup_rate_by_source(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> DataFrame:
    """MinHash-grain companion to :func:`dedup_rate_by_source`
    (VERDICT r9 #5): per source, how many docs sit in VERIFIED
    near-dup clusters and how many of those clusters span other
    sources. The exact-grain table catches byte-identical mirrors;
    this one catches the re-rendered / lightly-edited copies that
    only the banded pipeline sees — together they tell a mixture
    designer whether a source's redundancy is self-inflicted
    (re-crawls: fix the crawler) or ecosystem-wide (mirrors: add a
    source-preference rule).

    Per source: doc count, docs in any verified cluster, docs whose
    cluster spans >1 source, and the near-dup fraction. Sources with
    zero near-dups appear with zeros (left join from the source
    domain).

    Scale shape: REUSES the banded pipeline (bucketed candidates,
    capped, exact verify — never all-pairs) and the cluster relation;
    on top of them only doc-keyed hash joins and source/cluster-keyed
    aggregates — no pair hydration beyond the existing verify stage
    (plan-pinned)."""
    pairs = minhash_near_dups(docs, threshold, num_hashes, band_width)
    labeled = dedup_clusters(pairs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    cmeta = labeled.groupBy("cluster_id").agg(
        F.count_distinct("source").alias("n_sources")
    )
    per_src = (
        labeled.join(cmeta, "cluster_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("_n_near"),
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            .alias("_n_cross"),
        )
    )
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        base.join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("_n_near"), F.lit(0)).cast("long")
            .alias("n_near_dup_docs"),
            F.coalesce(F.col("_n_cross"), F.lit(0)).cast("long")
            .alias("n_cross_source_docs"),
            r6(
                F.coalesce(F.col("_n_near"), F.lit(0)) / F.col("n_docs")
            ).alias("near_dup_frac"),
        )
    )


def near_dup_rate_by_source_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    """DuckDB twin: the cluster oracle (recursive closure over the
    deterministic md5 MinHash pipeline) rolled up per source."""
    return f"""
WITH clusters AS ({dedup_clusters_sql(threshold, num_hashes, band_width)}),
labeled AS (
  SELECT c.doc_id, c.cluster_id, d.source
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
),
cmeta AS (
  SELECT cluster_id, count(DISTINCT source) AS n_sources
  FROM labeled GROUP BY 1
),
per_src AS (
  SELECT source,
         count(*) AS n_near,
         sum(CASE WHEN cmeta.n_sources > 1 THEN 1 ELSE 0 END) AS n_cross
  FROM labeled JOIN cmeta USING (cluster_id)
  GROUP BY source
),
base AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT base.source,
       base.n_docs,
       CAST(coalesce(per_src.n_near, 0) AS BIGINT) AS n_near_dup_docs,
       CAST(coalesce(per_src.n_cross, 0) AS BIGINT) AS n_cross_source_docs,
       floor(coalesce(per_src.n_near, 0) * 1.0 / base.n_docs
             * 1000000 + 0.5) / 1000000 AS near_dup_frac
FROM base LEFT JOIN per_src ON base.source = per_src.source
"""


DEDUP_RATE_BY_SOURCE_SQL = """
WITH g AS (
  SELECT coalesce(md5(text), '<NULL>') AS d,
         count(*) AS n_copies,
         count(DISTINCT source) AS n_sources
  FROM documents GROUP BY 1
),
tagged AS (
  SELECT doc.source, g.n_copies, g.n_sources
  FROM documents doc
  JOIN g ON coalesce(md5(doc.text), '<NULL>') = g.d
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(sum(CASE WHEN n_copies > 1 AND n_sources > 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source_dups,
       floor(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*) * 1000000 + 0.5) / 1000000 AS dup_frac
FROM tagged
GROUP BY source
"""


def cluster_representatives(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> DataFrame:
    """Quality-aware near-dup cluster keeper + the dedup SAVINGS
    ledger (r11): for each verified near-dup cluster, elect the
    representative a production pipeline would actually keep — the
    LONGEST member (``n_chars``; completeness is the standard quality
    proxy for near-identical copies, vs the min-doc_id rule the keeper
    pipelines use for engine-exact determinism), doc_id ascending as
    the tie-break — and report what keeping only it saves:
    ``cluster_size``, ``total_chars``, ``chars_saved = total_chars −
    rep_n_chars``, and how many sources the cluster spans (a
    cross-source cluster's savings need a source-preference rule, not
    just a crawler fix).

    Scale shape: REUSES the banded pipeline (bucketed candidates,
    capped, exact verify — never all-pairs) and the cluster relation;
    on top only doc-keyed joins, a cluster-keyed window (row_number
    over cluster_id — high-cardinality partitioning, never a global
    sort), and cluster-keyed aggregates. All output values are
    integers, so the DuckDB twin is hash-exact."""
    from pyspark.sql import Window

    pairs = minhash_near_dups(docs, threshold, num_hashes, band_width)
    labeled = dedup_clusters(pairs).join(
        docs.select("doc_id", "n_chars", "source"), "doc_id"
    ).localCheckpoint(eager=False)  # feeds the window AND the rollup
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    reps = (
        labeled.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
        )
    )
    meta = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("source").cast("long").alias("n_sources"),
    )
    return reps.join(meta, "cluster_id").select(
        "cluster_id",
        "rep_doc_id",
        "rep_n_chars",
        "cluster_size",
        "total_chars",
        (F.col("total_chars") - F.col("rep_n_chars")).cast("long")
        .alias("chars_saved"),
        "n_sources",
    )


def cluster_representatives_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    """DuckDB twin: the cluster oracle (recursive closure over the
    deterministic md5 MinHash pipeline), ranked by (n_chars DESC,
    doc_id ASC) per cluster and rolled up — integer-only output."""
    return f"""
WITH clusters AS ({dedup_clusters_sql(threshold, num_hashes, band_width)}),
labeled AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars, d.source
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
  ) AS rk
  FROM labeled
),
meta AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS cluster_size,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM labeled GROUP BY 1
)
SELECT r.cluster_id,
       r.doc_id AS rep_doc_id,
       r.n_chars AS rep_n_chars,
       m.cluster_size,
       m.total_chars,
       CAST(m.total_chars - r.n_chars AS BIGINT) AS chars_saved,
       m.n_sources
FROM ranked r JOIN meta m ON r.cluster_id = m.cluster_id
WHERE r.rk = 1
"""


def dup_source_matrix(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> DataFrame:
    """Cross-source near-dup LEAKAGE MATRIX: for every source pair
    (a ≤ b), how many verified near-dup clusters contain documents
    from both — the pairwise drill-down of
    :func:`near_dup_rate_by_source`'s scalar cross-source exposure
    (which sources are actually copying from which decides whose
    crawler to fix and which source wins the keeper-preference rule).
    The diagonal (a = b) counts clusters with ≥2 docs from the same
    source — within-source duplication.

    Scale shape: reuses the banded pipeline + cluster relation; on
    top one (cluster, source) distinct, an in-cluster source-pair
    explode bounded by sources-per-cluster² (sources are a small
    dimension), and a pair-keyed count. Integer-only output."""
    pairs = minhash_near_dups(docs, threshold, num_hashes, band_width)
    cs = (
        dedup_clusters(pairs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("cluster_id", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    a = cs.select("cluster_id", F.col("source").alias("source_a"),
                  F.col("n_docs").alias("na"))
    b = cs.select("cluster_id", F.col("source").alias("source_b"),
                  F.col("n_docs").alias("nb"))
    return (
        a.join(b, "cluster_id")
        .where(
            (F.col("source_a") < F.col("source_b"))
            | (
                (F.col("source_a") == F.col("source_b"))
                & (F.col("na") >= 2)
            )
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            # diagonal rows pair a (cluster, source) row with itself —
            # count its docs once, not twice
            F.sum(
                F.when(
                    F.col("source_a") == F.col("source_b"), F.col("na")
                ).otherwise(F.col("na") + F.col("nb"))
            ).cast("long").alias("docs_involved"),
        )
    )


def dup_source_matrix_sql(
    threshold: float = 0.2,
    num_hashes: int = NUM_HASHES,
    band_width: int = BAND_WIDTH,
) -> str:
    """DuckDB twin: cluster oracle + the same in-cluster source-pair
    join."""
    return f"""
WITH clusters AS ({dedup_clusters_sql(threshold, num_hashes, band_width)}),
cs AS (
  SELECT c.cluster_id, d.source, CAST(count(*) AS BIGINT) AS n_docs
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
  GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN a.source = b.source THEN a.n_docs
                     ELSE a.n_docs + b.n_docs END) AS BIGINT)
         AS docs_involved
FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id
WHERE a.source < b.source
   OR (a.source = b.source AND a.n_docs >= 2)
GROUP BY 1, 2
"""


#: per-mille cosine thresholds the SemDeDup sweep evaluates
SEMDEDUP_SWEEP_THRESHOLDS_PM = (300, 350, 400, 450, 500)


def semdedup_sweep(
    emb: DataFrame,
    thresholds_pm: tuple = SEMDEDUP_SWEEP_THRESHOLDS_PM,
    n_blocks: int = 16,
) -> DataFrame:
    """SemDeDup threshold sweep (Abbas et al. 2023's knob, swept the
    way :func:`seq_len_packing_sweep` sweeps context lengths): for
    each candidate cosine threshold, how many vectors the
    lower-id-keeper rule would drop — the retention curve a curator
    reads BEFORE committing to a semantic-dedup cut, instead of
    re-running the dedup per candidate.

    One pass: the block-pair matmul (:func:`embedding_near_dups`)
    runs ONCE at the loosest candidate threshold; each vector's worst
    (max) cosine against any lower-id neighbor is a single max
    aggregate; the per-threshold drop counts are then a handful-sized
    explode over that per-vector relation. Thresholds are integer
    per-mille keys and the comparison operand ``pm / 1000.0`` is one
    IEEE division of exactly-represented integers — engine-exact
    against the 6-digit-rounded cosines.

    Scale shape: everything after the pair search is a vec-keyed max
    (map-side combined) + |thresholds|-keyed counts. The pair search
    itself is the documented block-pair decomposition — for
    index-scale corpora swap in :func:`embedding_near_dups_ivf` at
    the same threshold and keep the sweep algebra unchanged."""
    min_t = min(int(t) for t in thresholds_pm) / 1000.0
    pairs = embedding_near_dups(emb, threshold=min_t, n_blocks=n_blocks)
    worst = pairs.groupBy("vec_b").agg(F.max("cosine").alias("mlc"))
    t_arr = F.array(*[F.lit(int(t)) for t in thresholds_pm])
    total = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    grid = total.select(
        F.explode(t_arr).alias("__t"), "n_vecs"
    ).select(F.col("__t").cast("int").alias("threshold_pm"), "n_vecs")
    dropped = (
        worst.select(F.explode(t_arr).alias("__t"), "mlc")
        .select(F.col("__t").cast("int").alias("threshold_pm"), "mlc")
        .where(F.col("mlc") >= F.col("threshold_pm") / 1000.0)
        .groupBy("threshold_pm")
        .agg(F.count(F.lit(1)).cast("long").alias("dropped"))
    )
    return (
        grid.join(F.broadcast(dropped), "threshold_pm", "left")
        .select(
            "threshold_pm",
            "n_vecs",
            F.coalesce("dropped", F.lit(0)).cast("long").alias("dropped"),
            (F.col("n_vecs") - F.coalesce("dropped", F.lit(0)))
            .cast("long").alias("kept"),
            F.expr(
                "CAST((coalesce(dropped, 0) * 1000000) DIV n_vecs"
                " AS BIGINT)"
            ).alias("drop_frac_u"),
        )
    )


def semdedup_sweep_sql(
    thresholds_pm: tuple = SEMDEDUP_SWEEP_THRESHOLDS_PM,
) -> str:
    """DuckDB twin: brute-force pair CTE at the loosest threshold
    (states the semantics; Spark computes it block-paired), the same
    per-vector worst-cosine max, and the per-mille grid."""
    tlist = ", ".join(str(int(t)) for t in thresholds_pm)
    min_t = min(int(t) for t in thresholds_pm) / 1000.0
    return f"""
WITH pairs AS (
  SELECT b.vec_id AS vec_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6)
        >= {min_t}
),
worst AS (SELECT vec_b, max(cosine) AS mlc FROM pairs GROUP BY vec_b),
t AS (SELECT CAST(unnest([{tlist}]) AS INT) AS threshold_pm),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
d AS (
  SELECT threshold_pm, CAST(count(*) AS BIGINT) AS dropped
  FROM worst, t
  WHERE mlc >= threshold_pm / 1000.0
  GROUP BY threshold_pm
)
SELECT t.threshold_pm, n.n_vecs,
       CAST(coalesce(d.dropped, 0) AS BIGINT) AS dropped,
       CAST(n.n_vecs - coalesce(d.dropped, 0) AS BIGINT) AS kept,
       CAST((coalesce(d.dropped, 0) * 1000000) // n.n_vecs AS BIGINT)
         AS drop_frac_u
FROM t CROSS JOIN n LEFT JOIN d ON t.threshold_pm = d.threshold_pm
"""
