"""Corpus-curation sampling operators (SURVEY.md §2.11 extension
surface — training-data pipeline ops beyond the reference).

Three operators every large-scale pretraining pipeline needs, each in
a shape that holds at 100 TB:

- :func:`stratified_sample` — per-stratum deterministic downsampling
  (e.g. cap the dominant language). The keep/drop decision is a pure
  function of the row (md5 of the id vs a per-stratum threshold), so
  the sample is reproducible across runs, engines, and partitionings —
  no RNG state, no ``sample()`` nondeterminism. The rates live in a
  broadcast dimension, the filter is one map-side predicate.
- :func:`mixture_interleave` — weighted source mixing: rank documents
  within each source by a deterministic hash, then assign the global
  curriculum key ``rank / weight``. Sorting by the key yields the
  weighted round-robin order (source with weight 2 appears twice as
  often). One shuffle (the per-source rank window); the operator
  emits the KEY, not a global row number — the final total order is a
  distributed range-partitioned sort at write time, never a
  single-partition window.
- :func:`pack_shards` — token-budget shard assignment (pack documents
  into ~``budget``-token shards in id order). A running total is
  inherently sequential, so it is computed as a TWO-PHASE prefix sum:
  block-local window cumsums in parallel + a tiny per-block offset
  table (one row per block) broadcast back. No global-order window —
  the classic single-partition Window.orderBy hazard — anywhere.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

HEX_SPACE = 16 ** 8  # sample hash = first 8 hex chars of md5


def _threshold_hex(rate: float) -> str:
    """8-hex-digit keep threshold; 'g' sorts after every hex digit so
    rate >= 1.0 keeps everything."""
    t = math.floor(rate * HEX_SPACE)
    return "g" if t >= HEX_SPACE else format(t, "08x")


def sample_hash(id_col: str = "doc_id"):
    """Deterministic uniform-in-[0,1) hash of the id, as the first 8
    md5 hex chars (lexicographic compare ⟺ numeric compare on the
    fixed-width hex)."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Keep each row of stratum ``s`` iff ``hash(id) < rates[s]`` —
    an exact-rate, reproducible stratified sample.

    ``carry_cols`` are extra passthrough columns in the output
    (default: ``source`` when the input has it, else none — the
    operator no longer assumes the documents schema).

    The per-stratum thresholds join in as a broadcast dimension (at
    100 TB the rates table is a config relation, not a literal), and
    the predicate is map-side after the broadcast: no shuffle of the
    corpus, full predicate/column pushdown into the scan."""
    spark = docs.sparkSession
    if carry_cols is None:
        carry_cols = ["source"] if "source" in docs.columns else []
    dim = spark.createDataFrame(
        [(s, _threshold_hex(r)) for s, r in sorted(rates.items())],
        f"{strata_col} string, __thr string",
    )
    hashed = docs.withColumn("__h", sample_hash(id_col))
    joined = hashed.join(F.broadcast(dim), strata_col, "left")
    kept = joined.where(
        F.col("__h") < F.coalesce(F.col("__thr"), F.lit(_threshold_hex(default_rate)))
    )
    return kept.select(
        id_col, strata_col, *carry_cols, F.col("__h").alias("sample_hash")
    )


def stratified_sample_sql(
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 1.0,
) -> str:
    """DuckDB twin of :func:`stratified_sample` over ``documents``."""
    dim_rows = ", ".join(
        f"('{s}', '{_threshold_hex(r)}')" for s, r in sorted(rates.items())
    )
    return f"""
WITH dim({strata_col}, thr) AS (VALUES {dim_rows}),
hashed AS (
  SELECT doc_id, {strata_col}, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_hash
  FROM documents
)
SELECT h.doc_id, h.{strata_col}, h.source, h.sample_hash
FROM hashed h LEFT JOIN dim d USING ({strata_col})
WHERE h.sample_hash < coalesce(d.thr, '{_threshold_hex(default_rate)}')
"""


def mixture_interleave(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    default_weight: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted interleave key per document: rank within source by
    ``(hash, id)`` (deterministic shuffle of each source), then
    ``mix_key = rank / weight``. Ordering the corpus by
    ``(mix_key, source, id)`` gives the weighted round-robin
    curriculum; a source with twice the weight contributes twice as
    many documents to any prefix.

    One hash shuffle on ``source`` for the rank window (skew note: a
    single giant source makes a hot window partition — at that scale
    sub-salt the rank by ``hash`` prefix and recombine, same shape as
    skew.py's salted rollup). The global order itself is left to the
    consumer's distributed sort — emitting ``row_number()`` over a
    global window here would serialize onto one partition."""
    spark = docs.sparkSession
    dim = spark.createDataFrame(
        [(s, float(w)) for s, w in sorted(weights.items())],
        f"{source_col} string, __w double",
    )
    w = Window.partitionBy(source_col).orderBy("__h", id_col)
    ranked = (
        docs.withColumn("__h", sample_hash(id_col))
        .withColumn("rank_in_source", F.row_number().over(w))
        .join(F.broadcast(dim), source_col, "left")
    )
    return ranked.select(
        id_col,
        source_col,
        "rank_in_source",
        F.round(
            F.col("rank_in_source")
            / F.coalesce(F.col("__w"), F.lit(float(default_weight))),
            6,
        ).alias("mix_key"),
    )


def mixture_interleave_sql(
    weights: dict[str, float],
    source_col: str = "source",
    default_weight: float = 1.0,
) -> str:
    dim_rows = ", ".join(f"('{s}', {float(w)})" for s, w in sorted(weights.items()))
    return f"""
WITH dim({source_col}, w) AS (VALUES {dim_rows}),
ranked AS (
  SELECT doc_id, {source_col},
         row_number() OVER (
           PARTITION BY {source_col}
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS rank_in_source
  FROM documents
)
SELECT r.doc_id, r.{source_col}, r.rank_in_source,
       round(r.rank_in_source / coalesce(d.w, {float(default_weight)}), 6)
         AS mix_key
FROM ranked r LEFT JOIN dim d USING ({source_col})
"""


def pack_shards(
    docs: DataFrame,
    budget_tokens: int = 2000,
    n_blocks: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document (in ``id_col`` order) to the shard whose
    token budget its EXCLUSIVE running total falls in:
    ``shard_id = floor(tokens_before / budget)``.

    Two-phase distributed prefix sum:

    1. Rows are blocked by an analytic id range (``floor(id / block)``
       — derived from min/max, no sampling, so the block assignment is
       deterministic and order-preserving). Within each block the
       cumsum is a window partitioned BY BLOCK — all blocks run in
       parallel.
    2. Per-block token totals (one row per block) are collected,
       prefix-summed on the driver, and broadcast-joined back as each
       block's starting offset.

    Total cost: one narrow scan + one tiny aggregate + one broadcast
    join — the corpus itself never passes through a global sort or a
    single-partition window. (The driver step is O(n_blocks), which at
    100 TB is still only ~10⁵ rows for GB-sized blocks.)"""
    toks = F.size(F.split(F.col(text_col), r"\s+"))
    base = docs.select(F.col(id_col), toks.alias("n_tokens"))

    lo, hi = base.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:
        return base.select(
            id_col,
            "n_tokens",
            F.lit(0).cast("bigint").alias("tokens_before"),
            F.lit(0).cast("bigint").alias("shard_id"),
        )
    block = max(1, math.ceil((hi - lo + 1) / n_blocks))
    blocked = base.withColumn(
        "__blk", ((F.col(id_col) - F.lit(lo)) / F.lit(block)).cast("long")
    )

    w = (
        Window.partitionBy("__blk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = blocked.withColumn(
        "__local_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )

    totals = sorted(
        blocked.groupBy("__blk").agg(F.sum("n_tokens").alias("t")).collect()
    )
    offsets, acc = [], 0
    for blk, t in totals:
        offsets.append((blk, acc))
        acc += t
    spark = docs.sparkSession
    off_dim = spark.createDataFrame(offsets, "__blk long, __off long")

    return (
        local.join(F.broadcast(off_dim), "__blk")
        .select(
            id_col,
            "n_tokens",
            (F.col("__off") + F.col("__local_before")).alias("tokens_before"),
            (
                (F.col("__off") + F.col("__local_before")) / F.lit(budget_tokens)
            )
            .cast("bigint")
            .alias("shard_id"),
        )
    )


def pack_shards_sql(budget_tokens: int = 2000) -> str:
    """DuckDB twin — the single-window formulation (states the
    semantics; the Spark plan computes it as the two-phase sum)."""
    return f"""
WITH base AS (
  SELECT doc_id, len(regexp_split_to_array(text, '\\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (
         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) AS BIGINT) AS tokens_before,
       CAST(floor(coalesce(sum(n_tokens) OVER (
         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) / {budget_tokens}) AS BIGINT) AS shard_id
FROM base
"""


def weighted_sample(
    docs: DataFrame,
    k: int = 100,
    weight_expr: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES, public knowledge): each row gets key ``ln(u) / w`` with a
    DETERMINISTIC uniform ``u`` derived from md5(id); the k largest
    keys are exactly a weighted sample without replacement. The usual
    training-data use: length- or quality-weighted subset selection
    that is reproducible across runs, engines, and partitionings.

    Scale shape: the key is a pure map-side expression and
    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition top-k + one k-row merge, never a global sort.
    Ordering ties across engines are broken by id; ``u`` is bounded
    away from 0/1 by the +0.5 half-step so ``ln`` never sees 0.
    Zero- and negative-weight rows are excluded up front (weight ≤ 0
    means probability 0; under ANSI mode the division would otherwise
    abort the job, and the DuckDB twin would silently yield NULL)."""
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(HEX_SPACE))
    key = F.log(u) / F.expr(weight_expr).cast("double")
    return (
        docs.where(F.expr(weight_expr).cast("double") > 0)
        .select(
            F.col(id_col),
            F.expr(weight_expr).cast("double").alias("weight"),
            key.alias("__key"),
        )
        # ln(u) < 0 and w > 0 ⟹ key < 0; max u^(1/w) ⟺ max ln(u)/w
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "weight", F.round("__key", 6).alias("sample_key"))
    )


def weighted_sample_sql(
    k: int = 100, weight_expr: str = "n_chars", id_col: str = "doc_id"
) -> str:
    u = (
        f"(CAST('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8) "
        f"AS UBIGINT) + 0.5) / {float(HEX_SPACE)}"
    )
    key = f"ln({u}) / CAST({weight_expr} AS DOUBLE)"
    return f"""
SELECT {id_col}, CAST({weight_expr} AS DOUBLE) AS weight,
       round({key}, 6) AS sample_key
FROM documents
WHERE CAST({weight_expr} AS DOUBLE) > 0
ORDER BY {key} DESC, {id_col} ASC
LIMIT {k}
"""


def source_mixture_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus composition — the input to mixture-weight
    design (what :func:`mixture_interleave` consumes): doc counts,
    token counts, token share of the corpus, and mean doc length per
    ``source``.

    One groupBy over map-side token counts; the corpus total joins
    back as a broadcast 1-row aggregate of the (tiny) per-source
    relation — the fact data is aggregated exactly once."""
    per_source = (
        docs.select(
            "source", F.size(F.split(F.col("text"), r"\s+")).alias("n_toks")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.round(F.avg("n_toks"), 6).alias("mean_tokens"),
        )
    )
    total = per_source.agg(F.sum("n_tokens").alias("__total"))
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_tokens",
            F.round(F.col("n_tokens") / F.col("__total"), 6).alias(
                "token_share"
            ),
        )
    )


SOURCE_MIXTURE_STATS_SQL = r"""
WITH per_source AS (
  SELECT source,
         count(*) AS n_docs,
         sum(len(regexp_split_to_array(text, '\s+'))) AS n_tokens,
         round(avg(len(regexp_split_to_array(text, '\s+'))), 6) AS mean_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, mean_tokens,
       round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per_source), 6)
         AS token_share
FROM per_source
"""


def equi_depth_buckets(
    docs: DataFrame,
    col: str = "n_chars",
    n_buckets: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Equal-POPULATION (quantile) bucketing — the curriculum /
    difficulty-tiering primitive: bucket ``i`` holds the rows between
    the ``i/n`` and ``(i+1)/n`` percentiles of ``col``. Output: per
    bucket, count and value range.

    The scale point is what this operator does NOT do: ``ntile()``
    over a global ORDER BY — the classic single-partition window
    serialization. Instead the n-1 interior percentile thresholds are
    computed as ONE aggregate, broadcast, and bucket assignment
    becomes a map-side expression (count of thresholds strictly below
    the value); the final rollup is an n_buckets-row groupBy.

    The DEFAULT threshold aggregate is ``approx_percentile`` (bounded
    mergeable sketch state — exact ``percentile`` buffers the column's
    full value set in the final reduce, the price_quantiles_by_flag
    lesson); ``exact=True`` switches to interpolated ``percentile``
    for the DuckDB ``quantile_cont`` oracle gate, where the input is
    bounded by construction."""
    ps = [i / n_buckets for i in range(1, n_buckets)]
    parr = ", ".join(f"{p}D" for p in ps)
    fn = "percentile" if exact else "approx_percentile"
    thresholds = docs.agg(
        F.expr(f"{fn}({col}, array({parr}))").alias("__thr")
    )
    bucket = F.expr(
        f"size(filter(__thr, t -> t < {col}))"
    ).cast("int").alias("bucket")
    return (
        docs.select(col)
        .crossJoin(F.broadcast(thresholds))
        .select(bucket, F.col(col))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(col).alias(f"min_{col}"),
            F.max(col).alias(f"max_{col}"),
        )
    )


def equi_depth_buckets_sql(col: str = "n_chars", n_buckets: int = 4) -> str:
    """DuckDB twin of the ``exact=True`` path (quantile_cont ≡
    Spark's interpolated percentile)."""
    ps = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    return f"""
WITH thr AS (
  SELECT quantile_cont({col}, [{ps}]) AS t FROM documents
)
SELECT CAST(len(list_filter(t, x -> x < {col})) AS INT) AS bucket,
       count(*) AS n_docs,
       min({col}) AS min_{col},
       max({col}) AS max_{col}
FROM documents CROSS JOIN thr
GROUP BY 1
"""


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    n_blocks: int = 32,
) -> DataFrame:
    """Context-window packing WITH document splitting: lay all
    documents (in ``doc_id`` order) onto one continuous token stream
    and cut it into fixed-``budget_tokens`` training sequences. A
    document that straddles a sequence boundary is SPLIT — one output
    row per (document, sequence) span, with offsets on both sides:

    - ``tok_start``/``tok_end`` — the half-open token span of the
      document that lands in this sequence,
    - ``seq_off`` — where that span starts inside the sequence,
    - ``part_idx``/``n_parts`` — the document's split ordinal.

    This is the packing discipline LLM trainers actually use (no
    padding waste, no dropped tails — contrast :func:`pack_shards`,
    which keeps documents whole).

    Scale shape: inherits :func:`pack_shards`' two-phase distributed
    prefix sum for the global token offsets (no global sort, no
    single-partition window), then a map-side ``sequence()`` explode
    bounded by ceil(doc_tokens / budget) + 1 rows per document."""
    base = pack_shards(docs, budget_tokens, n_blocks).select(
        "doc_id",
        "n_tokens",
        F.col("tokens_before").alias("start"),
    )
    b = F.lit(budget_tokens)
    first = F.expr(f"start DIV {budget_tokens}")
    last = F.expr(f"(start + n_tokens - 1) DIV {budget_tokens}")
    spans = base.select(
        "doc_id",
        "n_tokens",
        "start",
        first.alias("first_seq"),
        last.alias("last_seq"),
    ).select(
        "doc_id",
        "n_tokens",
        "start",
        "first_seq",
        (F.col("last_seq") - F.col("first_seq") + 1).alias("n_parts"),
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    return spans.select(
        "doc_id",
        "seq_id",
        (F.col("seq_id") - F.col("first_seq")).cast("bigint").alias("part_idx"),
        F.col("n_parts").cast("bigint"),
        F.greatest(F.lit(0).cast("long"), F.col("seq_id") * b - F.col("start"))
        .cast("bigint")
        .alias("tok_start"),
        F.least(
            F.col("n_tokens").cast("long"),
            (F.col("seq_id") + 1) * b - F.col("start"),
        )
        .cast("bigint")
        .alias("tok_end"),
        F.greatest(F.lit(0).cast("long"), F.col("start") - F.col("seq_id") * b)
        .cast("bigint")
        .alias("seq_off"),
    )


def pack_sequences_sql(budget_tokens: int = 512) -> str:
    """DuckDB twin of :func:`pack_sequences` (single-window global
    prefix sum states the semantics; Spark computes it two-phase)."""
    return f"""
WITH base AS (
  SELECT doc_id, len(regexp_split_to_array(text, '\\s+')) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start
  FROM base
),
spans AS (
  SELECT doc_id, n_tokens, start,
         start // {budget_tokens} AS first_seq,
         (start + n_tokens - 1) // {budget_tokens} AS last_seq
  FROM offs
),
exploded AS (
  SELECT doc_id, n_tokens, start, first_seq, last_seq,
         unnest(generate_series(first_seq, last_seq)) AS seq_id
  FROM spans
)
SELECT doc_id,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(seq_id - first_seq AS BIGINT) AS part_idx,
       CAST(last_seq - first_seq + 1 AS BIGINT) AS n_parts,
       CAST(greatest(0, seq_id * {budget_tokens} - start) AS BIGINT) AS tok_start,
       CAST(least(n_tokens, (seq_id + 1) * {budget_tokens} - start) AS BIGINT) AS tok_end,
       CAST(greatest(0, start - seq_id * {budget_tokens}) AS BIGINT) AS seq_off
FROM exploded
"""


def curriculum_order(
    docs: DataFrame,
    n_ranges: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Global curriculum rank — every document's exact position under
    ``ORDER BY score DESC, doc_id`` (score = token count here; any
    deterministic column works) — WITHOUT a global sort or a
    single-partition window, the scale bottleneck of naive
    ``row_number() OVER (ORDER BY ...)``.

    pack_shards' two-phase prefix sum generalized to an arbitrary sort
    key: id-range blocking only works when the sort key IS the id, so
    the ordering is instead cut into ``n_ranges`` contiguous score
    ranges at approx-percentile boundaries (one small aggregate; the
    boundaries only balance work — correctness never depends on them,
    because equal scores always land in the same range and ranges are
    monotone in the sort order). Each range computes local ranks in
    parallel; per-range counts (``n_ranges`` rows) are prefix-summed
    on the driver and broadcast back as offsets.

    At 100 TB: raise ``n_ranges`` ∝ cluster size — each range is one
    window task over ~n/n_ranges rows; the corpus never converges on
    one task."""
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), r"\s+")).alias("score"),
    )
    fracs = [i / n_ranges for i in range(1, n_ranges)]
    ths = base.agg(
        F.expr(
            "approx_percentile(score, array("
            + ", ".join(f"{f!r}D" for f in fracs)
            + "))"
        )
    ).first()[0] or []
    th_arr = F.array(*[F.lit(float(t)) for t in ths])
    # ranges are DESCENDING in score: range index = number of
    # boundaries at-or-above the score → monotone in the sort order,
    # equal scores share a range
    blocked = base.withColumn(
        "__rng",
        F.size(F.filter(th_arr, lambda t: t >= F.col("score"))),
    )
    w = Window.partitionBy("__rng").orderBy(
        F.desc("score"), F.col(id_col)
    )
    local = blocked.withColumn("__local", F.row_number().over(w))
    counts = sorted(
        local.groupBy("__rng").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = [], 0
    for rng, c in counts:
        offsets.append((rng, acc))
        acc += c
    off_dim = docs.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__rng int, __off long"
    )
    return local.join(F.broadcast(off_dim), "__rng").select(
        id_col,
        "score",
        (F.col("__off") + F.col("__local")).cast("long").alias("rank"),
    )


def curriculum_order_sql() -> str:
    return """
SELECT doc_id,
       len(regexp_split_to_array(text, '\\s+')) AS score,
       row_number() OVER (
         ORDER BY len(regexp_split_to_array(text, '\\s+')) DESC, doc_id
       ) AS rank
FROM documents
"""


def exact_stratified_sample(
    docs: DataFrame,
    n_per_stratum: int = 50,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    oversample: int = 4,
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer only when the
    stratum is smaller): the deterministic top-n by md5(id) — the
    count-based complement of :func:`stratified_sample`'s rate-based
    thresholding (quota sampling needs exact counts; a rate can only
    hit a quota in expectation).

    Naive ``row_number() OVER (PARTITION BY stratum ORDER BY hash)``
    sorts every row of a stratum in one task — the hot-stratum hazard.
    This plan OVERSAMPLES THEN TRIMS: per-stratum counts (one small
    aggregate) size a hash threshold keeping ~``oversample × n`` rows
    map-side; the window then ranks only that remnant. Strata whose
    remnant undershoots ``n`` (the threshold is a concentration
    bound, not a guarantee) fall back to their full row set via a
    broadcast deficit list, so the OUTPUT is always exactly the top-n
    by hash — the fallback only widens the window input, never
    changes the result (the oracle states the naive formulation)."""
    h = F.md5(F.col(id_col).cast("string")).alias("__h")
    base = docs.select(F.col(stratum_col), F.col(id_col), h)
    counts = base.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__c"))
    # per-stratum keep-rate threshold over the md5 hex space
    rate = F.least(
        F.lit(1.0), F.lit(float(oversample * n_per_stratum)) / F.col("__c")
    )
    # NUMERIC threshold compare (review finding): conv(…,10,16) emits
    # UPPERCASE hex while md5 is lowercase, so a lexicographic string
    # compare mis-sizes the kept fraction whenever the threshold
    # contains a hex letter — compare the hash prefix as an integer
    # instead (same idiom as _threshold_hex's numeric sibling)
    thr = F.least(
        F.floor(rate * F.lit(float(16 ** 8))).cast("long"),
        F.lit(16 ** 8),
    )
    dims = counts.select(stratum_col, thr.alias("__thr"))
    pref = base.join(F.broadcast(dims), stratum_col).where(
        F.conv(F.substring("__h", 1, 8), 16, 10).cast("long")
        < F.col("__thr")
    )
    # deficit strata (remnant < n): widen their window input to the
    # full stratum — derived from COUNTS (left join), not from pref's
    # groups: a stratum whose prefilter kept ZERO rows has no pref
    # group at all and would otherwise vanish from the output
    # (review finding — reachable when rate underflows the 32-bit
    # hash space at extreme stratum sizes)
    short = (
        counts.join(
            pref.groupBy(stratum_col).agg(
                F.count(F.lit(1)).alias("__kept")
            ),
            stratum_col,
            "left",
        )
        .where(
            (F.coalesce(F.col("__kept"), F.lit(0)) < n_per_stratum)
            & (F.col("__c") > F.coalesce(F.col("__kept"), F.lit(0)))
        )
        .select(stratum_col)
    )
    widened = pref.select(stratum_col, id_col, "__h").join(
        F.broadcast(short), stratum_col, "left_anti"
    ).unionByName(
        base.join(F.broadcast(short), stratum_col, "left_semi")
    )
    w = Window.partitionBy(stratum_col).orderBy("__h", id_col)
    return (
        widened.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_stratum)
        .select(stratum_col, id_col, F.col("__rn").alias("sample_rank"))
    )


def exact_stratified_sample_sql(
    n_per_stratum: int = 50, stratum_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    return f"""
WITH ranked AS (
  SELECT {stratum_col}, {id_col},
         row_number() OVER (
           PARTITION BY {stratum_col}
           ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
         ) AS sample_rank
  FROM documents
)
SELECT {stratum_col}, {id_col}, sample_rank
FROM ranked WHERE sample_rank <= {n_per_stratum}
"""


def source_top_p(
    docs: DataFrame,
    p: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-budget curation (the nucleus-sampling shape
    applied to corpora): within each source, walk documents from
    highest quality down (score = token count here; any deterministic
    score column slots in) and keep those whose EXCLUSIVE cumulative
    token share is still under ``p`` — so every source contributes its
    best ~p of tokens, however differently sized the sources are.

    One (source) shuffle serves the ranking window and the cumulative
    sum; the per-source total rides in via a broadcast aggregate, and
    the keep decision is a map-side comparison — no driver loops. A
    pathologically hot source makes one window partition large; the
    quantile-range scaffold of :func:`curriculum_order` is the
    documented escape hatch (rank globally per source-range, then
    offset), worth reaching for only past ~10⁸ docs per source."""
    base = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col),
        F.size(F.split(F.col(text_col), r"\s+")).alias("n_tokens"),
    )
    totals = base.groupBy("source").agg(
        F.sum("n_tokens").alias("__total")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = base.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        cum.join(F.broadcast(totals), "source")
        .where(
            F.col("tokens_before")
            < F.lit(p) * F.col("__total").cast("double")
        )
        .select("source", id_col, "n_tokens", "tokens_before")
    )


def source_top_p_sql(p: float = 0.5) -> str:
    return f"""
WITH base AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(text, '\\s+')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT *,
         -- BIGINT casts: DuckDB window sums are HUGEINT, which lands
         -- in pandas as float64 and fails the driver's dtype-tagged
         -- value hash against Spark's int64
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY n_tokens DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tokens_before,
         CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT)
           AS total
  FROM base
)
SELECT source, doc_id, n_tokens, tokens_before
FROM cum
WHERE tokens_before < {p!r} * CAST(total AS DOUBLE)
"""


def dsir_weights(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc
    by how target-like its unigram distribution is,
    ``log w(d) = Σ_tokens log( p_target(tok) / p_raw(tok) )``
    with add-one smoothing over the corpus vocabulary. Sampling
    proportional to these weights reshapes a raw crawl toward the
    target domain (here: the ``target_lang``-labeled slice).

    Scale shape: ONE (token) aggregation builds the two unigram models
    (vocab-sized — broadcast side), then one broadcast join back onto
    the exploded corpus and a doc-keyed sum. DSIR's hashed-ngram trick
    replaces the explicit vocab when it outgrows broadcast range; the
    explicit form is the oracle-checkable one.

    Cross-engine exact: each token's log-ratio is one IEEE division +
    one ln, rounded to 9 dp, summed in DECIMAL (order-free); only the
    final cast emits a double, rounded to 6 dp."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode_outer(F.split("text", r"\s+")).alias("token"),
    ).where(F.col("token").isNotNull())
    vocab = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum((F.col("lang") == target_lang).cast("long")).alias("c_tgt"),
    )
    totals = vocab.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    # log ratio per vocab entry: ((c_t+1)/(N_t+V)) / ((c_r+1)/(N_r+V))
    # — one exact-integer ratio pair, one double division, one ln
    rated = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log(
                (
                    (F.col("c_tgt") + 1) * (F.col("n_raw") + F.col("v"))
                ).cast("double")
                / (
                    (F.col("c_raw") + 1) * (F.col("n_tgt") + F.col("v"))
                ).cast("double")
            ),
            9,
        )
        .cast("decimal(38,18)")
        .alias("log_ratio"),
    )
    return (
        toks.join(F.broadcast(rated), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("log_ratio").cast("double"), 6).alias(
                "dsir_logweight"
            ),
        )
    )


def dsir_weights_sql(target_lang: str = "en",
                     src: str = "documents") -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang, t AS token
  FROM (SELECT doc_id, lang,
               unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM {src})
  WHERE t IS NOT NULL
),
vocab AS (
  SELECT token, count(*) AS c_raw,
         sum(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END) AS c_tgt
  FROM toks GROUP BY 1
),
totals AS (
  SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt, count(*) AS v FROM vocab
),
rated AS (
  SELECT token,
         CAST(round(ln(CAST((c_tgt + 1) * (n_raw + v) AS DOUBLE)
                       / CAST((c_raw + 1) * (n_tgt + v) AS DOUBLE)), 9)
              AS DECIMAL(38,18)) AS log_ratio
  FROM vocab CROSS JOIN totals
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(CAST(sum(r.log_ratio) AS DOUBLE), 6) AS dsir_logweight
FROM toks t JOIN rated r ON t.token = r.token
GROUP BY t.doc_id
"""


SPLIT_FRACTIONS = (("train", 0.98), ("val", 0.01), ("test", 0.01))


def _check_fractions(fractions) -> None:
    """Shared validation for the hash-split twins: every fraction
    strictly positive (a zero/negative arm would be unreachable or
    shadow later arms) and the total exactly 1."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    bad = [(n, f) for n, f in fractions if not f > 0]
    if bad:
        raise ValueError(f"fractions must be > 0, got {bad}")
    total = sum(f for _, f in fractions)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")


def hash_split(
    docs: DataFrame,
    fractions=SPLIT_FRACTIONS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    id hashing — the split every training pipeline needs to be STABLE
    across reruns and incremental ingestion (a doc's split never
    changes when the corpus grows, unlike fraction-of-a-shuffle
    splits). ``fractions`` is an ordered (name, fraction) sequence
    summing to 1; assignment is by cumulative-boundary comparison on
    a md5-derived uniform in [0, 1).

    DETERMINISTIC + engine-exact: the same 60-bit md5 prefix → double
    recipe as kmv_ndv; boundary comparisons on exact doubles. Fully
    map-side (one expression per row, no shuffle) — at 100 TB the
    split is free at scan time and never needs to be materialized."""
    _check_fractions(fractions)
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(float(16**15))
    )
    expr = F.lit(fractions[-1][0])
    cum = 0.0
    arms = []
    for name, frac in fractions[:-1]:
        cum += frac
        arms.append((cum, name))
    for cum, name in reversed(arms):
        expr = F.when(u < F.lit(cum), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def hash_split_counts(
    docs: DataFrame,
    fractions=SPLIT_FRACTIONS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(source, split) census of :func:`hash_split` — the audit
    relation that checks realized fractions against targets."""
    return (
        hash_split(docs, fractions, id_col)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def hash_split_counts_sql(fractions=SPLIT_FRACTIONS) -> str:
    _check_fractions(fractions)  # same gate as the Spark twin
    arms, cum = [], 0.0
    for name, frac in fractions[:-1]:
        cum += frac
        arms.append(f"WHEN u < {cum!r} THEN '{name}'")
    # single-fraction degenerate: a CASE with zero WHEN arms is a
    # syntax error — emit the bare literal
    case = (
        "CASE " + " ".join(arms) + f" ELSE '{fractions[-1][0]}' END"
        if arms else f"'{fractions[-1][0]}'"
    )
    return f"""
WITH h AS (
  SELECT source,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS DOUBLE) / {float(16**15)!r} AS u
  FROM documents
)
SELECT source, {case} AS split, count(*) AS n_docs
FROM h GROUP BY 1, 2
"""


def temperature_mixture(docs: DataFrame, tau: float = 0.5) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual
    pretraining re-balancing rule (Devlin et al.'s mBERT exponent,
    Conneau/Lample XLM §3.1, public knowledge): sample source ``i``
    with probability ``p_i^tau / sum_j p_j^tau`` where ``p_i`` is the
    source's token share. ``tau < 1`` flattens the mixture (upsamples
    tail sources); the emitted ``upsample_factor`` (temperature share
    over natural share) is the per-source repetition rate a shard
    planner applies.

    Engine-exact construction: token counts are integer sums, each
    share is ONE IEEE division, ``tau = 0.5`` routes through sqrt
    (correctly rounded by IEEE 754, unlike libm ``pow``), and the
    normalizer folds the per-source terms SEQUENTIALLY over a
    source-sorted array (``F.aggregate`` left fold ≡ DuckDB
    ``list_reduce`` — addition order pinned, the vector_stats
    pattern), so no cross-engine sum-order divergence exists anywhere.

    Scale shape: one groupBy over map-side token counts; everything
    after is broadcast 1-row math on the source-sized relation."""
    powf = (lambda c: F.sqrt(c)) if tau == 0.5 else (
        lambda c: F.pow(c, F.lit(tau))
    )
    per = (
        docs.select(
            "source", F.size(F.split(F.col("text"), r"\s+")).alias("n_toks")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").alias("__total"))
    shared = per.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_tokens",
        (F.col("n_tokens") / F.col("__total")).alias("share"),
    )
    zrow = (
        shared.agg(
            F.sort_array(
                F.collect_list(F.struct("source", "share"))
            ).alias("arr")
        )
        .select(
            F.aggregate(
                F.transform("arr", lambda s: powf(s["share"])),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("__z")
        )
    )
    return shared.crossJoin(F.broadcast(zrow)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("share", 6).alias("token_share"),
        F.round(powf(F.col("share")) / F.col("__z"), 6).alias("temp_share"),
        F.round(
            powf(F.col("share")) / F.col("__z") / F.col("share"), 6
        ).alias("upsample_factor"),
    )


def temperature_mixture_sql(tau: float = 0.5) -> str:
    p = "sqrt({})" if tau == 0.5 else f"pow({{}}, {tau!r})"
    return f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(regexp_split_to_array(text, '\\s+'))) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_tokens) AS total FROM per),
s AS (
  SELECT source, n_docs, n_tokens, n_tokens * 1.0 / total AS share
  FROM per, t
),
z AS (
  SELECT list_reduce(
           list_transform(list(share ORDER BY source),
                          x -> {p.format('x')}),
           (a, b) -> a + b) AS z
  FROM s
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(share, 6) AS token_share,
       round({p.format('share')} / z, 6) AS temp_share,
       round({p.format('share')} / z / share, 6) AS upsample_factor
FROM s, z
"""


def shuffle_order(
    docs: DataFrame,
    seed: str = "epoch0",
    n_ranges: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible global training order — every document's exact
    position under ``ORDER BY md5(seed || ':' || id)`` (the
    deterministic shuffle every training run needs: same seed → same
    order, new seed → fresh permutation, stable under corpus append
    for already-seen ids).

    Scale shape: :func:`curriculum_order`'s two-phase global rank,
    with the percentile pass DELETED — the 60-bit md5-prefix key is
    uniform by construction, so equal-width key ranges (a shiftright,
    map-side) balance the per-range window tasks without measuring
    anything. Per-range counts (``n_ranges`` rows) prefix-sum on the
    driver and broadcast back. No global sort, no single-partition
    window, ever.

    ``n_ranges`` must be a power of two (the range index is a bit
    shift of the key — exact at any key magnitude, where a
    double-precision division would corrupt ranks past 2^53)."""
    if n_ranges < 1 or (n_ranges & (n_ranges - 1)) != 0:
        raise ValueError(f"n_ranges must be a power of two: {n_ranges}")
    shift = 60 - (n_ranges.bit_length() - 1)  # key domain is 16^15 = 2^60
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"),
                               F.col(id_col).cast("string"))),
                1, 15,
            ),
            16, 10,
        )
        .cast("bigint")
    )
    keyed = docs.select(F.col(id_col), h.alias("__h")).withColumn(
        "__rng", F.shiftright("__h", shift)
    )
    w = Window.partitionBy("__rng").orderBy("__h", id_col)
    local = keyed.withColumn("__local", F.row_number().over(w))
    counts = sorted(
        local.groupBy("__rng").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = [], 0
    for rng, c in counts:
        offsets.append((int(rng), acc))
        acc += c
    off_dim = docs.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__rng long, __off long"
    )
    return local.join(F.broadcast(off_dim), "__rng").select(
        id_col,
        (F.col("__off") + F.col("__local")).alias("shuffle_rank"),
    )


def shuffle_order_sql(seed: str = "epoch0") -> str:
    return f"""
SELECT doc_id,
       row_number() OVER (
         ORDER BY CAST(concat('0x',
                    substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT), doc_id
       ) AS shuffle_rank
FROM documents
"""


def repeat_factors(
    docs: DataFrame,
    budget_epochs: float = 2.0,
    max_epochs: float = 4.0,
    tau: float = 0.5,
) -> DataFrame:
    """Multi-epoch mixture plan (public recipe: temperature-balanced
    shares with a per-source repetition CAP — the data-constrained
    scaling regime of Muennighoff et al. 2023, where repeating a
    source beyond ~4 epochs stops helping): given a total token
    budget of ``budget_epochs`` × corpus tokens, allocate each source
    its temperature share (p^tau, :func:`temperature_mixture`'s rule)
    but clamp its realized epochs at ``max_epochs``. Emits the
    per-source epoch multiplier and the planned token count — the
    relation a shard planner joins against.

    Engine-exact by the temperature_mixture recipe: integer token
    counts, sqrt for tau=0.5, order-pinned sequential normalizer
    fold, one final floor-rounding per float column. Clamped sources
    under-spend the budget by design (no iterative rebalance — the
    plan is one pass, auditable; production reruns with a higher tau
    if the shortfall matters).

    Scale shape: one map-side-combined groupBy; everything after is
    broadcast scalar math on the source-sized relation."""
    powf = (lambda c: F.sqrt(c)) if tau == 0.5 else (
        lambda c: F.pow(c, F.lit(tau))
    )
    per = (
        docs.select(
            "source", F.size(F.split(F.col("text"), r"\s+")).alias("n_toks")
        )
        .groupBy("source")
        .agg(F.sum("n_toks").alias("n_tokens"))
    )
    total = per.agg(F.sum("n_tokens").alias("__total"))
    shared = per.crossJoin(F.broadcast(total)).select(
        "source", "n_tokens", "__total",
        (F.col("n_tokens") / F.col("__total")).alias("share"),
    )
    zrow = (
        shared.agg(
            F.sort_array(
                F.collect_list(F.struct("source", "share"))
            ).alias("arr")
        )
        .select(
            F.aggregate(
                F.transform("arr", lambda s: powf(s["share"])),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("__z")
        )
    )
    temp_share = powf(F.col("share")) / F.col("__z")
    epochs = F.least(
        F.lit(float(max_epochs)),
        temp_share * F.lit(float(budget_epochs))
        * F.col("__total").cast("double") / F.col("n_tokens").cast("double"),
    )
    return shared.crossJoin(F.broadcast(zrow)).select(
        "source",
        "n_tokens",
        (F.floor(temp_share * 1000000 + F.lit(0.5)) / 1000000)
        .alias("temp_share"),
        (F.floor(epochs * 1000000 + F.lit(0.5)) / 1000000).alias("epochs"),
        F.floor(epochs * F.col("n_tokens").cast("double"))
        .cast("bigint").alias("planned_tokens"),
        (epochs >= F.lit(float(max_epochs))).alias("capped"),
    )


def repeat_factors_sql(
    budget_epochs: float = 2.0, max_epochs: float = 4.0, tau: float = 0.5
) -> str:
    p = "sqrt({})" if tau == 0.5 else f"pow({{}}, {tau!r})"
    return f"""
WITH per AS (
  SELECT source,
         sum(len(regexp_split_to_array(text, '\\s+'))) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_tokens) AS total FROM per),
s AS (
  SELECT source, n_tokens, total,
         n_tokens * 1.0 / total AS share
  FROM per, t
),
z AS (
  SELECT list_reduce(
           list_transform(list(share ORDER BY source),
                          x -> {p.format('x')}),
           (a, b) -> a + b) AS z
  FROM s
),
e AS (
  SELECT source, n_tokens,
         {p.format('share')} / z AS temp_share,
         least({max_epochs!r},
               {p.format('share')} / z * {budget_epochs!r}
               * CAST(total AS DOUBLE) / CAST(n_tokens AS DOUBLE))
           AS epochs
  FROM s, z
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       floor(temp_share * 1000000 + 0.5) / 1000000 AS temp_share,
       floor(epochs * 1000000 + 0.5) / 1000000 AS epochs,
       CAST(floor(epochs * CAST(n_tokens AS DOUBLE)) AS BIGINT)
         AS planned_tokens,
       epochs >= {max_epochs!r} AS capped
FROM e
"""


def source_quality_mixture(docs: DataFrame) -> DataFrame:
    """Quality-GATED mixture design (r11): per-source sampling weights
    computed over only the tokens that survive the Gopher rule gates
    — the step between :func:`source_mixture_stats` (raw composition)
    and a shard plan. A source whose volume is mostly gate-failing
    boilerplate gets the weight its CLEAN tokens earn, not its crawl
    size: per source — doc count, gate-passing docs, pass fraction,
    clean (gate-passing) token count, clean-token share, and a
    temperature-0.5 sampling weight over clean shares
    (``sqrt(share_i) / Σ sqrt(share_j)``, the mBERT/XLM re-balancing
    rule applied to the quality-filtered corpus).

    Engine-exact: token counts are integer sums; each share is one
    IEEE division; tau=0.5 routes through sqrt (correctly rounded,
    unlike libm pow); the normalizer folds per-source terms
    SEQUENTIALLY over a source-sorted array (the temperature_mixture
    pattern), so no cross-engine sum-order divergence exists.

    Scale shape: the gates are ONE word-frequency aggregation
    (gopher_quality_flags — map-side partials absorb per-doc token
    multiplicity before the shuffle); the mixture math is broadcast
    one-row algebra on the source-sized relation."""
    from trino_iceberg_maintenance_spark.operators.text import (
        gopher_quality_flags,
    )

    flags = gopher_quality_flags(docs).select(
        "doc_id", "n_words", "passes_gopher"
    )
    per = (
        flags.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("passes_gopher"), 1).otherwise(0))
            .cast("long").alias("n_pass"),
            F.sum(
                F.when(F.col("passes_gopher"), F.col("n_words"))
                .otherwise(0)
            ).cast("long").alias("clean_tokens"),
        )
    )
    # a degenerate corpus (every doc gate-failing) yields zero shares
    # and zero weights — NOT a divide-by-zero (property-tested)
    total = per.agg(F.sum("clean_tokens").alias("__total"))
    shared = per.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_pass", "clean_tokens",
        F.when(
            F.col("__total") > 0,
            F.col("clean_tokens") / F.col("__total"),
        ).otherwise(F.lit(0.0)).alias("__share"),
    )
    zrow = (
        shared.agg(
            F.sort_array(
                F.collect_list(F.struct("source", "__share"))
            ).alias("arr")
        )
        .select(
            F.aggregate(
                F.transform("arr", lambda s: F.sqrt(s["__share"])),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("__z")
        )
    )
    return shared.crossJoin(F.broadcast(zrow)).select(
        "source",
        "n_docs",
        "n_pass",
        F.round(F.col("n_pass") / F.col("n_docs"), 6).alias("pass_frac"),
        "clean_tokens",
        F.round("__share", 6).alias("clean_token_share"),
        F.round(
            F.when(
                F.col("__z") > 0, F.sqrt(F.col("__share")) / F.col("__z")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("quality_weight"),
    )


def source_quality_mixture_sql() -> str:
    """DuckDB twin: the gopher per-doc relation rolled up per source,
    sqrt-temperature weights over a source-sorted sequential fold."""
    from trino_iceberg_maintenance_spark.operators.text import (
        gopher_quality_flags_sql,
    )

    return f"""
WITH gopher AS ({gopher_quality_flags_sql()}),
per AS (
  SELECT d.source,
         count(*) AS n_docs,
         CAST(sum(CASE WHEN g.passes_gopher THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pass,
         CAST(sum(CASE WHEN g.passes_gopher THEN g.n_words ELSE 0 END)
              AS BIGINT) AS clean_tokens
  FROM documents d JOIN gopher g ON d.doc_id = g.doc_id
  GROUP BY d.source
),
t AS (SELECT sum(clean_tokens) AS total FROM per),
s AS (
  SELECT source, n_docs, n_pass, clean_tokens,
         CASE WHEN total > 0 THEN clean_tokens * 1.0 / total
              ELSE 0.0 END AS share
  FROM per, t
),
z AS (
  SELECT list_reduce(
           list_transform(list(share ORDER BY source), x -> sqrt(x)),
           (a, b) -> a + b) AS z
  FROM s
)
SELECT source, n_docs, n_pass,
       round(n_pass * 1.0 / n_docs, 6) AS pass_frac,
       clean_tokens,
       round(share, 6) AS clean_token_share,
       round(CASE WHEN z > 0 THEN sqrt(share) / z ELSE 0.0 END, 6)
         AS quality_weight
FROM s, z
"""


def hamilton_apportion(
    df: DataFrame,
    weight_col: str,
    budget: int,
    key_col: str = "source",
    out_col: str = "allocated",
) -> DataFrame:
    """Largest-remainder (Hamilton) integer apportionment, factored
    out of :func:`mixture_allocation` so every budget planner shares
    one implementation: ``quota_i = budget · weight_i``, floors are
    taken, the leftover seats go to the largest fractional remainders
    (remainder DESC, ``key_col`` ASC tie-break). The result always
    sums EXACTLY to ``budget`` when the weights sum to 1; if the
    weight mass is zero (a fully gate-failed corpus), every
    allocation is 0 rather than handing the whole remainder out as
    phantom seats. The rank window runs on the keys-sized relation
    (tens of rows) — a single partition there is the right plan, not
    a scale hazard."""
    quota = df.select(
        "*", (F.lit(int(budget)) * F.col(weight_col)).alias("__q")
    ).select(
        "*",
        F.floor("__q").cast("long").alias("__floor"),
        (F.col("__q") - F.floor("__q")).alias("__rem"),
    )
    seats = quota.agg(
        (F.lit(int(budget)) - F.sum("__floor")).cast("long")
        .alias("__seats"),
        F.sum(weight_col).alias("__wsum"),
    )
    w = Window.orderBy(F.col("__rem").desc(), F.col(key_col).asc())
    return (
        quota.crossJoin(F.broadcast(seats))
        .withColumn("__rk", F.row_number().over(w))
        .withColumn(
            out_col,
            F.when(
                F.col("__wsum") > 0,
                F.col("__floor")
                + F.when(F.col("__rk") <= F.col("__seats"), 1)
                .otherwise(0),
            ).otherwise(0).cast("long"),
        )
        .drop("__q", "__floor", "__rem", "__seats", "__rk", "__wsum")
    )


def mixture_allocation(docs: DataFrame, budget: int = 10_000) -> DataFrame:
    """Integer apportionment of a document budget across sources by
    quality weight — the largest-remainder (Hamilton) method every
    shard planner ends up reimplementing: ``quota_i = budget ·
    quality_weight_i``; each source takes ``floor(quota_i)``; the
    leftover seats go to the largest fractional remainders (remainder
    DESC, source ASC tie-break). Allocations always sum EXACTLY to
    the budget (the Hamilton property, fixture-pinned). Composes
    :func:`source_quality_mixture`, so a boilerplate-heavy source is
    apportioned by its clean tokens, not its crawl size. Allocations
    are demand, not supply: a source may be allotted more docs than
    it has (``n_docs`` rides along so the planner can see it — capped
    redistribution is an iterative fixpoint and belongs in the
    planner, not the relation).

    Engine-exact: quality_weight is already cross-engine-identical
    (see source_quality_mixture); ``budget · w`` is one IEEE product
    of exactly-represented operands, floor/remainder follow, seat
    counts are INTEGER sums (order-independent), and the remainder
    rank is deterministic under the tie-break. The global rank window
    runs on the SOURCES-SIZED relation (tens of rows) — a single
    partition there is the right plan, not a scale hazard."""
    mix = source_quality_mixture(docs).select(
        "source", "n_docs", "quality_weight"
    )
    return hamilton_apportion(
        mix, "quality_weight", budget, out_col="allocated_docs"
    ).select("source", "n_docs", "quality_weight", "allocated_docs")


def mixture_allocation_sql(budget: int = 10_000) -> str:
    """DuckDB twin: the quality-mixture CTE, floored quotas, and the
    largest-remainder seat assignment under the same tie-break."""
    return f"""
WITH mix AS ({source_quality_mixture_sql()}),
quota AS (
  SELECT source, n_docs, quality_weight,
         {budget} * quality_weight AS q,
         CAST(floor({budget} * quality_weight) AS BIGINT) AS f,
         {budget} * quality_weight
           - floor({budget} * quality_weight) AS rem
  FROM mix
),
seats AS (SELECT {budget} - sum(f) AS s,
                 sum(quality_weight) AS wsum FROM quota),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM quota
)
SELECT source, n_docs, quality_weight,
       CAST(CASE WHEN wsum > 0
                 THEN f + CASE WHEN rk <= s THEN 1 ELSE 0 END
                 ELSE 0 END AS BIGINT) AS allocated_docs
FROM ranked, seats
"""


def token_budget_allocation(
    docs: DataFrame, budget_tokens: int = 1_000_000
) -> DataFrame:
    """The TOKEN-denominated mixture plan: apportion a wordpiece
    budget across sources by quality weight (Hamilton — sums exactly
    to the budget) and convert each source's allotment into what the
    planner actually needs to know: the estimated DOCS required to
    fill it (allotment ÷ the source's wordpieces-per-doc, integer
    DIV) and how far supply covers demand
    (``(supply · 10⁶) DIV allotment`` micro-units; a ratio under 10⁶
    means the source runs dry and multi-epoch repeats or a re-weight
    are needed). Composes :func:`source_quality_mixture` (clean-token
    weights) with :func:`operators.text.tokenizer_fertility`
    (wordpiece supply) — the closing-the-loop read after both.

    Scale shape: two corpus scans (the gopher gate pass and the
    fertility census), then sources-sized algebra; integer end to
    end."""
    from trino_iceberg_maintenance_spark.operators.text import (
        tokenizer_fertility,
    )

    mix = source_quality_mixture(docs).select("source", "quality_weight")
    fert = tokenizer_fertility(docs).select(
        "source", "n_docs", F.col("wordpieces").alias("supply_tokens")
    )
    base = mix.join(fert, "source")
    alloc = hamilton_apportion(
        base, "quality_weight", budget_tokens,
        out_col="allocated_tokens",
    )
    return alloc.select(
        "source",
        "n_docs",
        "quality_weight",
        "supply_tokens",
        "allocated_tokens",
        F.when(
            F.col("supply_tokens") > 0,
            F.expr(
                "CAST((allocated_tokens * n_docs) DIV supply_tokens"
                " AS BIGINT)"
            ),
        ).alias("est_docs_needed"),
        F.when(
            F.col("allocated_tokens") > 0,
            F.expr(
                "CAST((supply_tokens * 1000000) DIV allocated_tokens"
                " AS BIGINT)"
            ),
        ).alias("supply_ratio_u"),
    )


def token_budget_allocation_sql(budget_tokens: int = 1_000_000) -> str:
    """DuckDB twin: quality-mixture + fertility CTEs, the shared
    Hamilton shape, and the same guarded integer conversions."""
    from trino_iceberg_maintenance_spark.operators.text import (
        WORDPIECES_SQL,
    )

    return f"""
WITH mix AS ({source_quality_mixture_sql()}),
fert AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST({WORDPIECES_SQL} AS BIGINT)) AS BIGINT)
           AS supply_tokens
  FROM documents
  GROUP BY source
),
base AS (
  SELECT m.source, m.quality_weight, f.n_docs, f.supply_tokens
  FROM mix m JOIN fert f ON m.source = f.source
),
quota AS (
  SELECT *, {budget_tokens} * quality_weight AS q,
         CAST(floor({budget_tokens} * quality_weight) AS BIGINT) AS fl,
         {budget_tokens} * quality_weight
           - floor({budget_tokens} * quality_weight) AS rem
  FROM base
),
seats AS (SELECT {budget_tokens} - sum(fl) AS s,
                 sum(quality_weight) AS wsum FROM quota),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM quota
),
alloc AS (
  SELECT source, n_docs, quality_weight, supply_tokens,
         CAST(CASE WHEN wsum > 0
                   THEN fl + CASE WHEN rk <= s THEN 1 ELSE 0 END
                   ELSE 0 END AS BIGINT) AS allocated_tokens
  FROM ranked, seats
)
SELECT source, n_docs, quality_weight, supply_tokens, allocated_tokens,
       CASE WHEN supply_tokens > 0
            THEN CAST((allocated_tokens * n_docs) // supply_tokens
                      AS BIGINT) END AS est_docs_needed,
       CASE WHEN allocated_tokens > 0
            THEN CAST((supply_tokens * 1000000) // allocated_tokens
                      AS BIGINT) END AS supply_ratio_u
FROM alloc
"""


#: candidate context lengths for the packing sweep (powers of two the
#: way trainers actually pick them)
PACK_SWEEP_TARGETS = (256, 512, 1024, 2048)


def seq_len_packing_sweep(
    docs: DataFrame, targets: tuple = PACK_SWEEP_TARGETS
) -> DataFrame:
    """Padding-waste sweep over candidate training sequence lengths —
    the planning complement of :func:`pack_sequences` (which packs at
    ONE length): for each candidate L, every document costs
    ``ceil(tokens/L)`` sequences of L tokens (long docs split, short
    docs pad), and the report gives total sequences, padded tokens,
    and the waste fraction. The trainer reads one small table and
    picks the L whose waste it can afford instead of re-running the
    packer per candidate. (Greedy multi-doc packing recovers some
    waste at small L — this sweep is the per-doc upper bound, which
    is the number that matters when packing keeps document
    boundaries.)

    One corpus scan: token counts are map-side, the per-target explode
    multiplies rows by |targets| (a handful) before a targets-keyed
    aggregate — integer sums + one IEEE division per row, engine-exact."""
    t_arr = F.array(*[F.lit(int(t)) for t in targets])
    per = (
        docs.select(
            F.size(F.split(F.col("text"), r"\s+")).alias("n_toks")
        )
        .select("n_toks", F.explode(t_arr).alias("seq_len"))
        .groupBy("seq_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum(
                F.ceil(F.col("n_toks") / F.col("seq_len"))
            ).cast("long").alias("n_sequences"),
        )
    )
    return per.select(
        "seq_len",
        "n_docs",
        "total_tokens",
        "n_sequences",
        (F.col("n_sequences") * F.col("seq_len")).cast("long")
        .alias("padded_tokens"),
        F.floor(
            (F.col("n_sequences") * F.col("seq_len")
             - F.col("total_tokens"))
            / (F.col("n_sequences") * F.col("seq_len"))
            * 1_000_000 + F.lit(0.5)
        ).cast("long").alias("waste_frac_u"),
    )


def seq_len_packing_sweep_sql(targets: tuple = PACK_SWEEP_TARGETS) -> str:
    tlist = ", ".join(str(int(t)) for t in targets)
    return f"""
WITH per AS (
  SELECT t.seq_len,
         count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(sum(CAST(ceil(n_toks * 1.0 / t.seq_len) AS BIGINT))
              AS BIGINT) AS n_sequences
  FROM (SELECT len(regexp_split_to_array(text, '\\s+')) AS n_toks
        FROM documents),
       (SELECT unnest([{tlist}]) AS seq_len) t
  GROUP BY t.seq_len
)
SELECT seq_len, n_docs, total_tokens, n_sequences,
       CAST(n_sequences * seq_len AS BIGINT) AS padded_tokens,
       CAST(floor((n_sequences * seq_len - total_tokens) * 1.0
                  / (n_sequences * seq_len) * 1000000 + 0.5)
            AS BIGINT) AS waste_frac_u
FROM per
"""


def packing_plan(
    docs: DataFrame,
    targets: tuple = PACK_SWEEP_TARGETS,
    n_blocks: int = 32,
) -> DataFrame:
    """The sweep CLOSING THE LOOP into the packer (VERDICT r11 #9):
    pick the sweep's argmin-waste sequence length (smaller L breaks
    ties — cheaper attention for equal waste), run
    :func:`pack_shards` at that length, and report the one-row
    packing summary a trainer signs off on — chosen length, the
    sweep's predicted waste, shard count, and the realized shard-fill
    shape (overflow shards exist because pack_shards keeps documents
    whole; a doc straddling its shard's budget overflows it rather
    than splitting).

    The argmin is ONE driver-collected row over a |targets|-sized
    relation (the same bounded-scalar-decides-the-plan pattern as
    PageRank's broadcast gate); everything corpus-sized stays
    distributed — the sweep's single scan and pack_shards' two-phase
    prefix sum. Integer columns end to end, so the DuckDB twin is
    hash-exact."""
    sweep = seq_len_packing_sweep(docs, targets)
    chosen_rows = sweep.orderBy(
        F.col("waste_frac_u").asc(), F.col("seq_len").asc()
    ).limit(1).collect()
    if not chosen_rows:
        # empty corpus: nothing to plan — empty relation, same schema
        return docs.sparkSession.createDataFrame(
            [],
            "seq_len long, waste_frac_u long, n_shards long,"
            " n_docs long, total_tokens long, overflow_shards long,"
            " max_shard_tokens long",
        )
    chosen = chosen_rows[0]
    length = int(chosen.seq_len)
    per_shard = (
        pack_shards(docs, budget_tokens=length, n_blocks=n_blocks)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.sum("n_tokens").cast("long").alias("st"),
        )
    )
    return per_shard.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.sum("nd").cast("long").alias("n_docs"),
        F.sum("st").cast("long").alias("total_tokens"),
        F.sum(
            F.when(F.col("st") > length, 1).otherwise(0)
        ).cast("long").alias("overflow_shards"),
        F.max("st").cast("long").alias("max_shard_tokens"),
    ).select(
        F.lit(length).cast("long").alias("seq_len"),
        F.lit(int(chosen.waste_frac_u)).cast("long").alias("waste_frac_u"),
        "n_shards",
        "n_docs",
        "total_tokens",
        "overflow_shards",
        "max_shard_tokens",
    )


def packing_plan_sql(targets: tuple = PACK_SWEEP_TARGETS) -> str:
    """DuckDB twin: the sweep CTE, an ORDER BY argmin, and the packer
    replayed with the chosen length as a cross-joined scalar (the
    single-window global prefix sum states pack_shards' two-phase
    semantics)."""
    tlist = ", ".join(str(int(t)) for t in targets)
    return f"""
WITH per AS (
  SELECT t.seq_len,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(sum(CAST(ceil(n_toks * 1.0 / t.seq_len) AS BIGINT))
              AS BIGINT) AS n_sequences
  FROM (SELECT len(regexp_split_to_array(text, '\\s+')) AS n_toks
        FROM documents),
       (SELECT unnest([{tlist}]) AS seq_len) t
  GROUP BY t.seq_len
),
sweep AS (
  SELECT seq_len,
         CAST(floor((n_sequences * seq_len - total_tokens) * 1.0
                    / (n_sequences * seq_len) * 1000000 + 0.5)
              AS BIGINT) AS waste_frac_u
  FROM per
),
chosen AS (
  SELECT seq_len, waste_frac_u FROM sweep
  ORDER BY waste_frac_u ASC, seq_len ASC LIMIT 1
),
base AS (
  SELECT doc_id, len(regexp_split_to_array(text, '\\s+')) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tokens_before
  FROM base
),
pershard AS (
  SELECT CAST(o.tokens_before // c.seq_len AS BIGINT) AS shard_id,
         c.seq_len, c.waste_frac_u,
         count(*) AS nd, sum(o.n_tokens) AS st
  FROM offs o CROSS JOIN chosen c
  GROUP BY 1, 2, 3
)
SELECT CAST(seq_len AS BIGINT) AS seq_len,
       CAST(waste_frac_u AS BIGINT) AS waste_frac_u,
       CAST(count(*) AS BIGINT) AS n_shards,
       CAST(sum(nd) AS BIGINT) AS n_docs,
       CAST(sum(st) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN st > seq_len THEN 1 ELSE 0 END) AS BIGINT)
         AS overflow_shards,
       CAST(max(st) AS BIGINT) AS max_shard_tokens
FROM pershard
GROUP BY seq_len, waste_frac_u
"""


def quota_sample(
    docs: DataFrame, budget_tokens: int = 1_000_000
) -> DataFrame:
    """Quota ENFORCEMENT — the selection step that
    :func:`token_budget_allocation` plans: within each source, rank
    documents by a deterministic quality prior (alpha-character
    per-mille, doc_id tiebreak), walk them in that order accumulating
    wordpiece tokens, and keep exactly the prefix that fits the
    source's Hamilton-apportioned token allotment. The report is the
    per-source fill ledger a curator signs off on: how many docs made
    the cut, the tokens they carry, and the fill ratio against the
    allotment (short fills mean the source ran dry — the
    ``supply_ratio_u`` warning from the allocation made concrete).

    Scale shape: the allocation is sources-sized and broadcast onto
    the corpus; the ordered per-source running total is ONE window
    shuffle partitioned by source (each source scans sequentially —
    for a corpus dominated by a single giant source, swap in the
    :func:`pack_shards` two-phase block prefix sum keyed by the same
    rank); the final ledger is a sources-keyed map-side-combined
    aggregate. Integer end to end."""
    from trino_iceberg_maintenance_spark.operators.text import (
        wordpiece_count_expr,
    )

    wordpieces = wordpiece_count_expr()
    quality = F.expr(
        "CAST((length(regexp_replace(text, '[^A-Za-z]', '')) * 1000)"
        " DIV length(text) AS BIGINT)"
    )
    per = docs.select(
        "source",
        "doc_id",
        wordpieces.cast("long").alias("n_wordpieces"),
        quality.alias("quality_pm"),
    )
    alloc = token_budget_allocation(docs, budget_tokens).select(
        "source", "allocated_tokens"
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality_pm").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per.withColumn(
        "cum_tokens", F.sum("n_wordpieces").over(w)
    ).join(F.broadcast(alloc), "source")
    kept = ranked.where(F.col("cum_tokens") <= F.col("allocated_tokens"))
    return (
        kept.groupBy("source", "allocated_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept_docs"),
            F.sum("n_wordpieces").cast("long").alias("kept_tokens"),
        )
        .select(
            "source",
            "allocated_tokens",
            "kept_docs",
            "kept_tokens",
            F.expr(
                "CAST(CASE WHEN allocated_tokens > 0 THEN"
                " (kept_tokens * 1000000) DIV allocated_tokens END"
                " AS BIGINT)"
            ).alias("fill_ratio_u"),
        )
    )


def quota_sample_sql(budget_tokens: int = 1_000_000) -> str:
    """DuckDB twin: the allocation CTE chain from
    :func:`token_budget_allocation_sql`, the same quality-ranked
    per-source running total, prefix filter, and fill ledger."""
    from trino_iceberg_maintenance_spark.operators.text import (
        WORDPIECES_SQL,
    )

    return f"""
WITH alloc_full AS ({token_budget_allocation_sql(budget_tokens)}),
alloc AS (SELECT source, allocated_tokens FROM alloc_full),
per AS (
  SELECT source, doc_id,
         CAST({WORDPIECES_SQL} AS BIGINT) AS n_wordpieces,
         CAST((length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000)
              // length(text) AS BIGINT) AS quality_pm
  FROM documents
),
ranked AS (
  SELECT p.*, a.allocated_tokens,
         CAST(sum(n_wordpieces) OVER (
             PARTITION BY p.source
             ORDER BY quality_pm DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tokens
  FROM per p JOIN alloc a ON p.source = a.source
)
SELECT source, allocated_tokens,
       CAST(count(*) AS BIGINT) AS kept_docs,
       CAST(sum(n_wordpieces) AS BIGINT) AS kept_tokens,
       CAST(CASE WHEN allocated_tokens > 0 THEN
            (sum(n_wordpieces) * 1000000) // allocated_tokens END
            AS BIGINT) AS fill_ratio_u
FROM ranked
WHERE cum_tokens <= allocated_tokens
GROUP BY source, allocated_tokens
"""


#: per-mille temperatures the sweep evaluates — exactly the exponents
#: computable as sqrt chains (IEEE-correctly-rounded, unlike libm pow)
TEMPERATURE_SWEEP_TAUS_PM = (250, 500, 1000)


def _tau_pow(col, tau_pm: int):
    if tau_pm == 250:
        return F.sqrt(F.sqrt(col))
    if tau_pm == 500:
        return F.sqrt(col)
    if tau_pm == 1000:
        return col
    raise ValueError(
        f"tau_pm={tau_pm}: only sqrt-chain temperatures (250/500/1000) "
        "are engine-exact — libm pow is not correctly rounded"
    )


def temperature_sweep(
    docs: DataFrame, taus_pm: tuple = TEMPERATURE_SWEEP_TAUS_PM
) -> DataFrame:
    """Temperature GRID for the mixture designer — the sweep-family
    read (cf. :func:`seq_len_packing_sweep`,
    ``dedup.semdedup_sweep``) over the re-balancing exponent: for each
    candidate tau, every source's sampling weight and upsample factor,
    so the curator sees how hard each temperature flattens the
    mixture before committing one to :func:`temperature_mixture`.

    Engine-exactness is why the grid is {0.25, 0.5, 1.0}: those
    exponents are sqrt chains (correctly rounded by IEEE 754 on both
    engines), where a general ``pow`` is libm-dependent and can
    diverge in the last ulp. Each tau's normalizer folds the
    per-source terms sequentially over a source-sorted array (the
    temperature_mixture pattern).

    Scale shape: ONE corpus scan builds the source-sized share
    relation (lineage-cut so the per-tau branches reuse it); the
    sweep itself is |taus| × |sources| broadcast algebra."""
    per = (
        docs.select(
            "source", F.size(F.split(F.col("text"), r"\s+")).alias("n_toks")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    total = per.agg(F.sum("n_tokens").alias("__total"))
    shared = per.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_tokens",
        (F.col("n_tokens") / F.col("__total")).alias("__share"),
    )
    out = None
    for tau_pm in taus_pm:
        powed = shared.select(
            "*", _tau_pow(F.col("__share"), int(tau_pm)).alias("__p")
        )
        z = (
            powed.agg(
                F.sort_array(
                    F.collect_list(F.struct("source", "__p"))
                ).alias("arr")
            )
            .select(
                F.aggregate(
                    F.transform("arr", lambda s: s["__p"]),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("__z")
            )
        )
        branch = powed.crossJoin(F.broadcast(z)).select(
            F.lit(int(tau_pm)).cast("int").alias("tau_pm"),
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("__p") / F.col("__z"), 6).alias("weight"),
            F.round(
                (F.col("__p") / F.col("__z")) / F.col("__share"), 6
            ).alias("upsample_factor"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out


def temperature_sweep_sql(
    taus_pm: tuple = TEMPERATURE_SWEEP_TAUS_PM,
) -> str:
    """DuckDB twin: one share CTE, one sqrt-chain branch per tau with
    its own source-sorted sequential normalizer fold, unioned."""
    def powf(tau_pm: int) -> str:
        return {250: "sqrt(sqrt({0}))", 500: "sqrt({0})",
                1000: "{0}"}[int(tau_pm)]

    branches = []
    for tau_pm in taus_pm:
        p = powf(tau_pm).format("share")
        branches.append(f"""
SELECT CAST({int(tau_pm)} AS INT) AS tau_pm, source, n_docs, n_tokens,
       round({p} / z, 6) AS weight,
       round(({p} / z) / share, 6) AS upsample_factor
FROM s, (
  SELECT list_reduce(
           list_transform(list({p} ORDER BY source), x -> x),
           (a, b) -> a + b) AS z
  FROM s
)""")
        # noqa: the fold input is already the powered term per source
    u = "\nUNION ALL\n".join(branches)
    return f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_tokens) AS total FROM per),
s AS (
  SELECT source, n_docs, n_tokens, n_tokens * 1.0 / total AS share
  FROM per, t
)
{u}
"""
