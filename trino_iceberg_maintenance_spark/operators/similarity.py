"""Similarity search over embedding columns (SURVEY.md §2.11).

- :func:`cosine_topk` — exact brute-force top-k per query vector: the
  correctness baseline (DuckDB-oracle-checkable).
- :func:`ivf_topk` — IVF-style approximate path: embeddings are
  assigned to their nearest centroid cell once (one pass), queries
  probe only the ``nprobe`` nearest cells. This is the 100 TB shape:
  the full crossJoin is replaced by a cell-blocked join whose right
  side is (n / n_cells × nprobe) of the data.

All vector math is JVM-side (``zip_with`` + ``aggregate`` over
``array<double>``) — no Python in the hot path. Queries are broadcast
(they are small by construction); the big side streams.

Cf. PAPERS.md: 'Incremental … Top-K Similarity Search' (EDBT 2020),
'REPOSE: Distributed Top-k Trajectory Similarity Search' (ICDE 2021)
— both use the same partition-then-refine shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
NORM = "sqrt(aggregate({v}, 0D, (acc, x) -> acc + x * x))"


def _as_double(
    emb: DataFrame, id_col: str, vec_col: str, fan: bool = False
) -> DataFrame:
    """Project ``(id, array<double>)``. ``fan=True`` (the CORPUS side
    of every operator) ensures at least cluster-parallelism input
    partitions before the per-row-expensive vector math (dots, L2s,
    PQ encodes) — a small corpus arriving as one parquet split would
    otherwise run that math single-threaded (optimization r13: the
    pq_topk encode measured as a 1-task 1.6 s stage at sf0.1). At
    warehouse scale the scan already has more splits than cores and
    fan_out is a no-op. Query relations stay un-fanned — they are
    tiny and usually broadcast."""
    out = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    if fan:
        from trino_iceberg_maintenance_spark.sources.tables import fan_out

        out = fan_out(out)
    return out


def seed_rows(
    corpus: DataFrame, n_seeds: int, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic, density-independent seed sample: the ``n_seeds``
    corpus rows with the smallest ``(md5(id), id)`` key, numbered
    ``seed_id`` 0..n_seeds-1 in that order.

    Replaces the old ``id % step == 0`` modular sample, which assumed
    a DENSE 0-based id space — on a sparse or range-partitioned id
    space (hash ids, snowflake ids, retained subsets) modular
    arithmetic selects too few rows and some cells get no seed at all.
    The md5 rank is uniform over arbitrary id distributions and has an
    exact DuckDB twin (:func:`seed_rows_sql`).

    Scale shape: ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject — a distributed top-k, not a global sort;
    the rank window then runs over the n_seeds-row result only, so
    its single-partition exchange carries seed rows, never the
    corpus."""
    key = F.md5(F.col(id_col).cast("string"))
    picked = corpus.withColumn("__hk", key).orderBy("__hk", id_col).limit(n_seeds)
    w = Window.orderBy("__hk", id_col)
    return picked.withColumn(
        "seed_id", (F.row_number().over(w) - 1).cast("int")
    ).drop("__hk")


def seed_rows_sql(
    corpus: str,
    n_seeds: int,
    out_id: str,
    select: str,
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`seed_rows`: same md5 rank, same
    tiebreak, same 0-based numbering. ``select`` is the projected
    column list (e.g. ``"v AS cv"``)."""
    key = f"md5(CAST({id_col} AS VARCHAR))"
    return (
        f"SELECT CAST(row_number() OVER (ORDER BY {key}, {id_col}) - 1 "
        f"AS INT) AS {out_id}, {select} "
        f"FROM {corpus} ORDER BY {key}, {id_col} LIMIT {n_seeds}"
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × stream
    corpus, rank per query. Ties broken by neighbor id so results are
    deterministic across engines.

    ``corpus`` (keyword-only) lets ensemble callers share ONE
    materialized ``(id_col, v)`` projection across several ANN arms
    (optimization r14 — the ``sets=`` recipe from the dedup
    composites). INVARIANT: when supplied it must be exactly
    ``_as_double(emb, id_col, vec_col, fan=True)`` over the same
    ``emb`` — i.e. the full corpus, double-cast, fanned; ``vec_col``
    is ignored then. A caller passing a subset or a differently-cast
    relation silently changes the ranking rather than failing."""
    if corpus is None:
        corpus = _as_double(emb, id_col, vec_col, fan=True)
    qs = _as_double(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                F.expr(DOT.format(a="qv", b="v"))
                / (F.expr(NORM.format(v="qv")) * F.expr(NORM.format(v="v"))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def cosine_topk_sql(k: int = 10, max_query_id: int = 5) -> str:
    """DuckDB twin for queries = vec_id < ``max_query_id``."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {max_query_id}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= {k}
"""


# -- LSH (random-hyperplane) approximate path --------------------------------

#: embedding dimensionality of the testdata corpus — asserted at use
EMBEDDING_DIM = 64


def hyperplane_matrix(dim: int, n_bits: int, seed: int = 7):
    """The deterministic pseudo-random hyperplanes shared by the Spark
    operator and the DuckDB oracle — the constants are inlined into
    BOTH engines' expressions (``CAST('<repr>' AS DOUBLE)``; string →
    double parsing is correctly rounded everywhere), so the sign
    decisions are engine-independent."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_bits))


def _lit_d(x: float) -> str:
    return f"CAST('{x!r}' AS DOUBLE)"


def _hyperplane_signature(vectors: DataFrame, id_col: str, n_bits: int,
                          dim: int, seed: int = 7) -> DataFrame:
    """Sign-bit signature per vector against ``n_bits`` deterministic
    pseudo-random hyperplanes. Pure JVM expressions — the per-plane
    dot is the same sequential ``aggregate(zip_with(...))`` fold as
    the scoring kernel, so DuckDB's left-assoc unrolled sum in the
    oracle reproduces it bit-for-bit (same inputs, same order)."""
    planes = hyperplane_matrix(dim, n_bits, seed)
    bit_terms = []
    for b in range(n_bits):
        arr = ", ".join(_lit_d(planes[i, b]) for i in range(dim))
        dot = DOT.format(a="v", b=f"array({arr})")
        bit_terms.append(f"IF({dot} >= 0D, {1 << b}L, 0L)")
    sig = " + ".join(bit_terms)
    return vectors.selectExpr(f"{id_col} AS __id", "v", f"({sig}) AS sig").select(
        "__id", "sig", "v"
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via banded random-hyperplane LSH: vectors
    sharing any ``band_bits``-wide signature band become candidates,
    scored exactly, ranked per query. The multi-band OR trades recall
    for join fan-in exactly like MinHash banding does for text.

    At scale both sides shuffle on (band, key) — candidate volume is
    corpus/2^band_bits per band per query, no crossJoin anywhere.
    Recall vs the exact path is test-asserted (like ivf_topk).

    ``corpus`` shares one materialized ``(id_col, v)`` projection
    across ensemble arms — same invariant as :func:`cosine_topk`."""
    if corpus is None:
        corpus = _as_double(emb, id_col, vec_col, fan=True)
    dim = len(corpus.select("v").first()["v"])
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1

    def banded(sig_df, side):
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("sig", b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for b in range(n_bands)
            ]
        )
        return sig_df.select("__id", "v", F.explode(bands).alias("bk")).select(
            F.col("__id").alias(f"{side}_id"),
            F.col("v").alias(f"{side}_v"),
            "bk.band",
            "bk.key",
        )

    c_sig = _hyperplane_signature(corpus, id_col, n_bits, dim).transform(
        lambda d: banded(d, "n")
    )
    q_sig = _hyperplane_signature(
        _as_double(queries, id_col, vec_col), id_col, n_bits, dim
    ).transform(lambda d: banded(d, "q"))
    scored = (
        c_sig.join(F.broadcast(q_sig), ["band", "key"])
        .where(F.col("n_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("n_id").alias("neighbor_id"),
            F.round(
                F.expr(DOT.format(a="q_v", b="n_v"))
                / (F.expr(NORM.format(v="q_v")) * F.expr(NORM.format(v="n_v"))),
                6,
            ).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def lsh_topk_sql(
    k: int = 10,
    n_bits: int = 16,
    band_bits: int = 4,
    max_query_id: int = 5,
    seed: int = 7,
    dim: int = EMBEDDING_DIM,
) -> str:
    """DuckDB twin of :func:`lsh_topk` for queries = ``vec_id <
    max_query_id``. The hyperplane constants are inlined (same
    :func:`hyperplane_matrix` the operator uses) and every dot product
    is an unrolled left-associated sum — the identical evaluation
    order as Spark's sequential ``aggregate`` fold, so band keys and
    candidate sets agree exactly; the final cosine is rounded to 6
    digits with a neighbor_id tiebreak on both engines."""
    planes = hyperplane_matrix(dim, n_bits, seed)
    bit_terms = []
    for b in range(n_bits):
        dot = " + ".join(
            f"v[{i + 1}]*{_lit_d(planes[i, b])}" for i in range(dim)
        )
        bit_terms.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << b} ELSE 0 END")
    sig = " + ".join(bit_terms)
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1

    def dot2(a: str, b: str) -> str:
        return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1)) + ")"

    def norm(v: str) -> str:
        return f"sqrt({dot2(v, v)})"

    return f"""
WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (SELECT vec_id, v, ({sig}) AS sig FROM corpus),
banded AS (
  SELECT vec_id, v, b, (sig >> (b * {band_bits})) & {mask} AS key
  FROM sigs, LATERAL unnest(generate_series(0, {n_bands - 1})) AS t(b)
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         max(round({dot2('q.v', 'n.v')}
             / ({norm('q.v')} * {norm('n.v')}), 6)) AS cosine
  FROM banded q
  JOIN banded n ON q.b = n.b AND q.key = n.key AND n.vec_id != q.vec_id
  WHERE q.vec_id < {max_query_id}
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= {k}
"""


# -- IVF approximate path ---------------------------------------------------

def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the deterministic-sample
    centroids, as iterated DataFrame jobs.

    Per iteration: one broadcast-assignment pass over the corpus, then
    a single-shuffle groupBy computing per-(cell, dimension) sums.
    Means are L2-normalized — assignment scores are dot products, so
    unnormalized means would bias toward long centroids (spherical
    k-means is the cosine-metric variant). The centroid update is
    FULLY DISTRIBUTED (VERDICT r11 #6: the cells×dim driver collect
    is gone — at 65k cells × large dim that round-trip was the one
    non-distributed step in the index build): per-(cell, pos) decimal
    sums (exact, summation-order-free), per-cell ordered array
    assembly, in-row normalization — all JVM-side, with a
    ``localCheckpoint`` as the per-iteration lineage cut (the same
    role the old collect+recreate played). Cells that lose all
    members drop out, shrinking the index rather than producing NaN
    centroids."""
    centroids = seed_rows(corpus, n_cells, id_col).select(
        F.col("seed_id").alias("cell_id"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = _cell_assignment(corpus, centroids, 1)
        # per-(cell, dimension) scalar sum: posexplode keeps the
        # aggregate narrow (one sum column), avoiding the multi-second
        # whole-stage-codegen compile a dim-wide array-of-aggs plan
        # costs. DECIMAL(38,18) sums are EXACT, so the per-cell mean
        # is independent of shuffle/arrival order — the same value
        # every run and (to an ulp) the same value the DuckDB
        # oracle's decimal sums produce.
        means = (
            assigned.select("cell_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cell_id", "pos",
                (F.col("sx").cast("double") / F.col("n").cast("double"))
                .alias("m"),
            )
        )
        # assemble each cell's mean vector in pos order (cells-sized
        # relation), normalize with the in-row sequential fold — the
        # exact float-op sequence the old driver loop ran, now
        # distributed
        mv = (
            means.groupBy("cell_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m")))
                .alias("arr")
            )
            .select(
                "cell_id",
                F.expr("transform(arr, s -> s.m)").alias("mv"),
            )
        )
        nrm = F.sqrt(F.expr(
            "aggregate(mv, cast(0.0 as double), (acc, x) -> acc + x * x)"
        ))
        centroids = (
            mv.withColumn(
                "__nrm",
                F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
            )
            .select(
                F.col("cell_id").cast("int").alias("cell_id"),
                F.expr("transform(mv, x -> x / __nrm)").alias("cv"),
            )
            .localCheckpoint(eager=False)
        )
    return centroids

def _cell_assignment(vectors: DataFrame, centroids: DataFrame,
                     n_cells_keep: int = 1) -> DataFrame:
    """Nearest-centroid assignment (rank over a broadcast centroid
    join). ``n_cells_keep > 1`` = multi-probe for queries."""
    scored = vectors.join(F.broadcast(centroids)).select(
        vectors["*"],
        F.col("cell_id"),
        F.expr(DOT.format(a="v", b="cv")).alias("sim"),
    )
    # rank by the 6-digit-rounded similarity with a cell_id tiebreak:
    # deterministic under exact ties (duplicate vectors/centroids) AND
    # engine-independent — ulp-level float divergence between Spark
    # and the DuckDB oracle cannot reorder the rounded keys
    w = Window.partitionBy(vectors.columns[0]).orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= n_cells_keep)
        .drop("__r", "sim")
    )


def _ivf_centroids(corpus: DataFrame, n_cells: int, refine_iters: int,
                   id_col: str) -> DataFrame:
    """``(cell_id, cv)`` — seed-sample centroids, Lloyd-refined when
    ``refine_iters > 0``. ONE definition for the inline and persisted
    index paths (the inline-equivalence test depends on it)."""
    if refine_iters > 0:
        return kmeans_centroids(corpus, n_cells, refine_iters, id_col)
    return seed_rows(corpus, n_cells, id_col).select(
        F.col("seed_id").alias("cell_id"), F.col("v").alias("cv")
    )


def _topk_over_cells(corpus_cells: DataFrame, query_cells: DataFrame,
                     k: int, id_col: str) -> DataFrame:
    """Cell-blocked broadcast scoring + per-query top-k — the shared
    tail of every IVF search (rounding and tie-break policy live here
    and nowhere else)."""
    scored = (
        corpus_cells.join(F.broadcast(query_cells), "cell_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                F.expr(DOT.format(a="qv", b="v"))
                / (F.expr(NORM.format(v="qv")) * F.expr(NORM.format(v="v"))),
                6,
            ).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    *,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: deterministic centroid sample (every
    ``n``-th vector), cell-blocked search probing the ``nprobe``
    nearest cells per query. ``refine_iters > 0`` runs that many
    spherical-k-means Lloyd passes over the sample centroids first
    (better-balanced cells → higher recall at the same nprobe).
    Recall vs :func:`cosine_topk` is test-asserted, not assumed.

    ``corpus`` shares one materialized ``(id_col, v)`` projection
    across ensemble arms — same invariant as :func:`cosine_topk`."""
    if corpus is None:
        corpus = _as_double(emb, id_col, vec_col, fan=True)
    centroids = _ivf_centroids(corpus, n_cells, refine_iters, id_col)
    corpus_cells = _cell_assignment(corpus, centroids, 1)
    qs = _as_double(queries, id_col, vec_col)
    query_cells = _cell_assignment(qs, centroids, nprobe).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell_id"
    )
    return _topk_over_cells(corpus_cells, query_cells, k, id_col)


def ivf_topk_sql(
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    max_query_id: int = 5,
    refine_iters: int = 0,
    dim: int = EMBEDDING_DIM,
) -> str:
    """DuckDB twin of :func:`ivf_topk` for queries = ``vec_id <
    max_query_id``. The index build is fully deterministic on both
    engines: sample centroids are raw corpus rows (bit-identical),
    every dot is an unrolled left-associated sum matching Spark's
    sequential fold, cell argmax ranks by ``round(sim, 6)`` with a
    cell_id tiebreak, and (for ``refine_iters > 0``) the Lloyd means
    are exact DECIMAL(38,18) sums — order-independent inside each
    engine, within an ulp across engines, which the rounded ranking
    absorbs. The ``refine_iters`` Lloyd passes are unrolled as CTE
    chains."""

    def dot2(a: str, b: str) -> str:
        return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1)) + ")"

    def norm(v: str) -> str:
        return f"sqrt({dot2(v, v)})"

    def assign_cte(name: str, cent: str, keep: int, where: str = "") -> str:
        return f"""{name} AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT c.vec_id, c.v, ct.cell_id,
           row_number() OVER (PARTITION BY c.vec_id
               ORDER BY round({dot2('c.v', 'ct.cv')}, 6) DESC,
                        ct.cell_id ASC) AS rn
    FROM corpus c CROSS JOIN {cent} ct{where}
  ) WHERE rn <= {keep}
)"""

    parts = [
        "corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""cent_0 AS (
  {seed_rows_sql('corpus', n_cells, 'cell_id', 'v AS cv')}
)""",
    ]
    cent = "cent_0"
    for i in range(1, refine_iters + 1):
        parts.append(assign_cte(f"assign_{i}", cent, 1))
        parts.append(f"""sums_{i} AS (
  SELECT cell_id, pos, sum(CAST(v[pos] AS DECIMAL(38,18))) AS sx, count(*) AS n
  FROM assign_{i}, LATERAL unnest(generate_series(1, {dim})) AS t(pos)
  GROUP BY cell_id, pos
)""")
        parts.append(f"""mv_{i} AS (
  SELECT cell_id, list(CAST(sx AS DOUBLE) / n ORDER BY pos) AS mv
  FROM sums_{i} GROUP BY cell_id
)""")
        parts.append(f"""cent_{i} AS (
  SELECT cell_id, list_transform(mv, x -> x / nrm) AS cv FROM (
    SELECT cell_id, mv,
           CASE WHEN {norm('mv')} = 0 THEN 1.0 ELSE {norm('mv')} END AS nrm
    FROM mv_{i})
)""")
        cent = f"cent_{i}"
    parts.append(assign_cte("assign_f", cent, 1))
    parts.append(
        assign_cte("qassign", cent, nprobe, f" WHERE c.vec_id < {max_query_id}")
    )
    parts.append(f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         max(round({dot2('q.v', 'c.v')}
             / ({norm('q.v')} * {norm('c.v')}), 6)) AS cosine
  FROM qassign q
  JOIN assign_f c ON q.cell_id = c.cell_id AND c.vec_id != q.vec_id
  GROUP BY 1, 2
)""")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= {k}
"""


# -- product quantization (PQ / ADC) ---------------------------------------

def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m_subs: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (the memory-bound index family, after
    IVF and hyperplane LSH): vectors are L2-normalized, split into
    ``m_subs`` subspaces, each subvector replaced by the id of its
    nearest codebook centroid (deterministic sample codebooks, argmin
    by rounded L2² with code-id tiebreak). Queries score candidates by
    ASYMMETRIC DISTANCE (ADC): a per-query lookup table of
    subvector·centroid dot products, summed over the stored codes —
    the corpus is never touched at query time beyond its (m_subs ×
    log2(n_codes))-bit codes. The ADC top ``k·rerank`` shortlist is
    then EXACT-rescored (full-vector cosine on shortlist-sized data)
    before the final top-k — the standard quantize-then-rerank
    pipeline.

    Scale shape: encoding is one broadcast join (codebook = m_subs ×
    n_codes rows) + a per-(vector, subspace) argmin window partitioned
    on the vector id; query scoring joins the code relation against a
    broadcast ADC table (queries × m_subs × n_codes rows) and
    aggregates — no full-vector math and no crossJoin anywhere at
    query time. Every step is deterministic, so the DuckDB twin
    replays it exactly (oracle-checkable, like the other ANN paths)."""
    d = dim // m_subs
    norm = NORM.format(v="v")
    corpus = _as_double(emb, id_col, vec_col, fan=True).select(
        id_col, F.expr(f"transform(v, x -> x / {norm})").alias("nv")
    )

    def subs(df: DataFrame, keep_name: str) -> DataFrame:
        arr = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("nv", m * d + 1, d).alias("sub"),
                )
                for m in range(m_subs)
            ]
        )
        return df.select(keep_name, F.explode(arr).alias("s")).select(
            keep_name, F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
        )

    codebook = subs(
        seed_rows(corpus, n_codes, id_col).select(
            F.col("seed_id").alias("code"), "nv"
        ),
        "code",
    ).select("code", "m", F.col("sub").alias("cvec"))

    dot = "aggregate(zip_with(sub, cvec, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    l2 = (
        "aggregate(zip_with(sub, cvec, (x, y) -> (x - y) * (x - y)), "
        "0D, (a, x) -> a + x)"
    )
    w_enc = Window.partitionBy(id_col, "m").orderBy("d2", "code")
    codes = (
        subs(corpus, id_col)
        .join(F.broadcast(codebook), "m")
        .select(id_col, "m", "code", F.round(F.expr(l2), 6).alias("d2"))
        .withColumn("rn", F.row_number().over(w_enc))
        .where(F.col("rn") == 1)
        .select(id_col, "m", "code")
    )

    q_table = (
        subs(
            _as_double(queries, id_col, vec_col).select(
                F.col(id_col).alias("query_id"),
                F.expr(f"transform(v, x -> x / {norm})").alias("nv"),
            ),
            "query_id",
        )
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "code", F.expr(dot).alias("part"))
    )

    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        codes.join(F.broadcast(q_table), ["m", "code"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.round(F.sum("part"), 6).alias("approx"))
        .withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= k * rerank)
        .select("query_id", "neighbor_id")
    )

    # exact rerank of the ADC shortlist — the standard PQ pipeline:
    # the coarse quantizer only has to get candidates NEAR the top,
    # exact cosine on (queries × k·rerank) rows decides the final
    # order; this join is shortlist-sized, never corpus-sized
    qv = (
        _as_double(queries, id_col, vec_col)
        .select(F.col(id_col).alias("query_id"),
                F.expr(f"transform(v, x -> x / {norm})").alias("qnv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    qdot = "aggregate(zip_with(qnv, nv, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    return (
        shortlist.join(
            corpus.select(F.col(id_col).alias("neighbor_id"), "nv"),
            "neighbor_id",
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.round(F.expr(qdot), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def pq_topk_sql(
    k: int = 10,
    m_subs: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    rerank: int = 4,
    max_query_id: int = 5,
) -> str:
    """DuckDB twin: replays normalization, deterministic codebooks,
    argmin encoding, and ADC scoring exactly."""
    d = dim // m_subs
    return f"""
WITH corpus AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
             x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))))
           AS nv
  FROM embeddings
),
ms AS (SELECT unnest(generate_series(0, {m_subs - 1})) AS m),
seeds AS (
  {seed_rows_sql('corpus', n_codes, 'code', 'nv')}
),
codebook AS (
  SELECT code, m.m, nv[m.m * {d} + 1 : m.m * {d} + {d}] AS cvec
  FROM seeds, ms m
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT c.vec_id, cb.m, cb.code,
           row_number() OVER (PARTITION BY c.vec_id, cb.m
               ORDER BY round(list_dot_product(
                   list_transform(list_zip(
                       c.nv[cb.m * {d} + 1 : cb.m * {d} + {d}], cb.cvec),
                       p -> p[1] - p[2]),
                   list_transform(list_zip(
                       c.nv[cb.m * {d} + 1 : cb.m * {d} + {d}], cb.cvec),
                       p -> p[1] - p[2])), 6) ASC,
               cb.code ASC) AS rn
    FROM corpus c CROSS JOIN codebook cb
  ) WHERE rn = 1
),
q_table AS (
  SELECT q.vec_id AS query_id, cb.m, cb.code,
         list_dot_product(q.nv[cb.m * {d} + 1 : cb.m * {d} + {d}], cb.cvec)
           AS part
  FROM corpus q CROSS JOIN codebook cb
  WHERE q.vec_id < {max_query_id}
),
scored AS (
  SELECT t.query_id, c.vec_id AS neighbor_id,
         round(sum(t.part), 6) AS approx
  FROM codes c JOIN q_table t ON t.m = c.m AND t.code = c.code
  WHERE c.vec_id != t.query_id
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY approx DESC, neighbor_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {k * rerank}
),
reranked AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(q.nv, n.nv), 6) AS cosine
  FROM shortlist s
  JOIN corpus n ON n.vec_id = s.neighbor_id
  JOIN corpus q ON q.vec_id = s.query_id
)
SELECT query_id, rank, neighbor_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM reranked
)
WHERE rank <= {k}
"""


def cosine_radius(
    emb: DataFrame,
    queries: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range (radius) similarity search: every corpus vector within
    cosine ≥ ``threshold`` of each query — the unbounded-result
    complement of :func:`cosine_topk` (retrieval wants top-k;
    dedup/contamination sweeps want *all* matches above a bar).

    Broadcast queries × streamed corpus with a post-scan filter — no
    window, and no corpus-side Exchange beyond the scan fan-out
    (``fan_out`` round-robins a scan narrower than the cluster before
    the per-row vector math; at warehouse scale the scan already has
    more splits than cores and it is a no-op), so it scales to any
    corpus size at constant memory; the result size is the data's
    business, not the plan's. For query sets too large to broadcast,
    the IVF-blocked self-join shape (``embedding_near_dups_ivf``) is
    the scale path."""
    corpus = _as_double(emb, id_col, vec_col, fan=True)
    qs = _as_double(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    return (
        corpus.join(F.broadcast(qs), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                F.expr(DOT.format(a="qv", b="v"))
                / (F.expr(NORM.format(v="qv")) * F.expr(NORM.format(v="v"))),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def cosine_radius_sql(threshold: float = 0.4, max_query_id: int = 5) -> str:
    """DuckDB twin for queries = vec_id < ``max_query_id``."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {max_query_id})
SELECT q.query_id, e.vec_id AS neighbor_id,
       round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6)
         AS cosine
FROM q JOIN embeddings e ON e.vec_id != q.query_id
WHERE round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6)
      >= {threshold}
"""


def ivf_cell_stats(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index health: per-cell population and mean
    cosine-to-centroid (cell coherence) — the operator an ANN
    deployment runs to decide when to re-train centroids or re-split
    hot cells (a cell holding a large corpus share with low coherence
    is exactly the skew `embedding_near_dups_ivf`'s max_cell_rows
    guard defends against).

    One broadcast-centroid assignment pass + one groupBy(cell) —
    the only Exchanges are the scan fan-out (a no-op once the scan is
    wider than the cluster) and the final n_cells-row aggregation; no
    Exchange carries vectors keyed by data. The mean is an exact
    DECIMAL(18,6) sum
    over the 6-rounded cosines divided by the count, so partial-
    aggregation order cannot move the engine-compared result."""
    corpus = _as_double(emb, id_col, vec_col, fan=True)
    centroids = seed_rows(corpus, n_cells, id_col).select(
        F.col("seed_id").alias("cell_id"), F.col("v").alias("cv")
    )
    assigned = _cell_assignment(corpus, centroids, 1)
    scored = assigned.join(F.broadcast(centroids), "cell_id").select(
        "cell_id",
        F.round(
            F.expr(DOT.format(a="v", b="cv"))
            / (F.expr(NORM.format(v="v")) * F.expr(NORM.format(v="cv"))),
            6,
        ).alias("cos"),
    )
    return scored.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cosine"),
    )


def ivf_cell_stats_sql(n_cells: int = 16, dim: int = EMBEDDING_DIM) -> str:
    def dot2(a: str, b: str) -> str:
        return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1)) + ")"

    def norm(v: str) -> str:
        return f"sqrt({dot2(v, v)})"

    cent = seed_rows_sql("corpus", n_cells, "cell_id", "v AS cv")
    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS ({cent}),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT c.vec_id, c.v, ct.cell_id,
           row_number() OVER (PARTITION BY c.vec_id
               ORDER BY round({dot2('c.v', 'ct.cv')}, 6) DESC,
                        ct.cell_id ASC) AS rn
    FROM corpus c CROSS JOIN cent ct
  ) WHERE rn = 1
),
scored AS (
  SELECT a.cell_id,
         round({dot2('a.v', 'ct.cv')} / ({norm('a.v')} * {norm('ct.cv')}), 6)
           AS cos
  FROM assigned a JOIN cent ct USING (cell_id)
)
SELECT cell_id, count(*) AS n_vectors,
       round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS mean_cosine
FROM scored GROUP BY cell_id
"""


def _assignment_rows(corpus: DataFrame, centroids: DataFrame,
                     id_col: str) -> DataFrame:
    """Index-table rows for a corpus assigned under ``centroids`` —
    shared by initial build and incremental extension."""
    return _cell_assignment(corpus, centroids, 1).select(
        F.lit("assignment").alias("kind"),
        F.col(id_col).alias("vec_id"),
        "cell_id",
        F.col("v").alias("vec"),
    )


def build_ivf_index(
    index_table,
    emb: DataFrame,
    n_cells: int = 16,
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    properties: dict | None = None,
):
    """Persist an IVF index INTO a maintained table — centroid rows
    (cell_id, centroid vector) plus per-vector cell assignments — so
    the index itself gets snapshots, time travel, compaction, and
    expiry like any other table, and query time pays zero index
    build.

    Returns the committed snapshot. Incremental growth: call
    :func:`extend_ivf_index` with new vectors — they are assigned
    under the EXISTING centroids and appended (the standard
    production trade: cell balance degrades slowly, rebuilds are
    scheduled maintenance, exactly what the table's snapshot history
    makes auditable).

    TIP: create the index table with ``partition_cols=["kind"]`` — the
    centroid lookup in :func:`ivf_topk_from_index` then prunes to the
    tiny centroid partition instead of scanning every assignment
    row."""
    corpus = _as_double(emb, id_col, vec_col, fan=True)
    centroids = _ivf_centroids(corpus, n_cells, refine_iters, id_col)
    assigned = _assignment_rows(corpus, centroids, id_col)
    cent_rows = centroids.select(
        F.lit("centroid").alias("kind"),
        F.lit(None).cast("long").alias("vec_id"),
        "cell_id",
        F.col("cv").alias("vec"),
    )
    return index_table.append(
        cent_rows.unionByName(assigned), single_file=False,
        properties=properties,
    )


def _index_centroids(index_table) -> DataFrame:
    """The persisted centroid set. When the index table is partitioned
    on ``kind`` the filter becomes a partition prune (O(n_cells) read);
    otherwise it is a kind-filtered scan."""
    if index_table.partition_cols == ["kind"]:
        files, _ = index_table.prune_files_by_partition("kind", eq="centroid")
        return index_table._read_files(files).where(
            F.col("kind") == "centroid"
        ).select("cell_id", F.col("vec").alias("cv"))
    return (
        index_table.read()
        .where(F.col("kind") == "centroid")
        .select("cell_id", F.col("vec").alias("cv"))
    )


def extend_ivf_index(index_table, new_emb: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     properties: dict | None = None):
    """Assign NEW vectors under the index table's existing centroids
    and append only those assignment rows — one broadcast-centroid
    pass over the new data, nothing rescanned."""
    centroids = _index_centroids(index_table)
    corpus = _as_double(new_emb, id_col, vec_col, fan=True)
    return index_table.append(
        _assignment_rows(corpus, centroids, id_col), single_file=False,
        properties=properties,
    )


def ivf_topk_from_index(
    index_table,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search against a PERSISTED index table: centroids and
    assignments are read, never rebuilt — the query-time plan is the
    same cell-blocked broadcast join as :func:`ivf_topk`."""
    centroids = _index_centroids(index_table)
    corpus_cells = (
        index_table.read()
        .where(F.col("kind") == "assignment")
        .select("vec_id", "cell_id", F.col("vec").alias("v"))
    )
    qs = _as_double(queries, id_col, vec_col)
    query_cells = _cell_assignment(qs, centroids, nprobe).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell_id"
    )
    return _topk_over_cells(corpus_cells, query_cells, k, "vec_id")


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT k-nearest-neighbor graph: every vector's top-``k``
    cosine neighbors (self excluded) — the similarity-graph input for
    SemDeDup-style clustering, label propagation, and graph curation.

    Same block-pair decomposition as ``dedup.embedding_near_dups``
    (replicate each vector to its n_blocks block-pairs, one vectorized
    numpy matmul per pair), but each block-pair task emits only its
    LOCAL top-k per source row, so the global refine step shuffles at
    most n x k x n_blocks candidate edges instead of n^2 similarities;
    the final per-source top-k is a row_number window over that
    bounded candidate set. Local top-k per block is a correct
    candidate superset: a global top-k neighbor lies in some block and
    ranks <= k within it.

    Determinism/oracle parity: cosines are rounded to 6 digits inside
    the kernel (matching DuckDB's rounded list_cosine_similarity) and
    ties break by ascending neighbor id on both engines."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        (F.col(id_col) % n_blocks).cast("int").alias("blk"),
    )
    pair_df = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        schema="i int, j int",
    )
    rep = e.join(
        F.broadcast(pair_df),
        (F.col("blk") == F.col("i")) | (F.col("blk") == F.col("j")),
    )

    def local_topk(src_ids, src_mat, dst_ids, dst_mat, same_block):
        a = src_mat / np.linalg.norm(src_mat, axis=1, keepdims=True)
        b = dst_mat / np.linalg.norm(dst_mat, axis=1, keepdims=True)
        sims = np.round(a @ b.T, 6)
        # columns sorted by dst id, then a STABLE sort on -sim makes
        # equal-cosine ties resolve to the smaller neighbor id —
        # matching the oracle's ORDER BY cosine DESC, dst ASC
        col_order = np.argsort(dst_ids, kind="mergesort")
        sims = sims[:, col_order]
        ids_sorted = dst_ids[col_order]
        if same_block:
            mask = src_ids[:, None] == ids_sorted[None, :]
            sims = np.where(mask, -np.inf, sims)
        order = np.argsort(-sims, axis=1, kind="mergesort")[:, :k]
        rows = np.repeat(src_ids, order.shape[1])
        dsts = ids_sorted[order].ravel()
        coss = np.take_along_axis(sims, order, axis=1).ravel()
        keep = np.isfinite(coss)
        return pd.DataFrame(
            {"src": rows[keep], "dst": dsts[keep], "cosine": coss[keep]}
        )

    def compute(pdf):
        i, j = int(pdf["i"].iat[0]), int(pdf["j"].iat[0])
        a_pdf = pdf[pdf["blk"] == i]
        b_pdf = pdf[pdf["blk"] == j] if i != j else a_pdf
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame(
                {
                    "src": np.array([], dtype=np.int64),
                    "dst": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        a_ids = a_pdf["vec_id"].to_numpy()
        a_mat = np.array(list(a_pdf["v"]), dtype=np.float64)
        b_ids = b_pdf["vec_id"].to_numpy()
        b_mat = np.array(list(b_pdf["v"]), dtype=np.float64)
        out = [local_topk(a_ids, a_mat, b_ids, b_mat, i == j)]
        if i != j:
            out.append(local_topk(b_ids, b_mat, a_ids, a_mat, False))
        return pd.concat(out, ignore_index=True)

    # spread the block-pair matmuls across the cluster (optimization
    # r14, guide §2.5 — the jaccard_verify lesson): the grouped-map
    # stage is CPU-dense numpy work AQE cannot see, so byte-based
    # coalescing collapsed its exchange to 5 tasks at sf0.1 (stage
    # sweep: 13.2 s task-wall on 5 of 32 cores). An explicit
    # repartition on the grouping key satisfies the grouped-map
    # distribution requirement (no second exchange) and, being
    # user-specified, is never AQE-coalesced. defaultParallelism is
    # cluster-adaptive, never a local constant.
    par = spark.sparkContext.defaultParallelism
    cand = rep.repartition(par, "i", "j").groupBy("i", "j").applyInPandas(
        compute, schema="src long, dst long, cosine double"
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("cosine"), F.asc("dst")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cosine", "rank")
    )


def knn_graph_sql(k: int = 3) -> str:
    return f"""
WITH sims AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS rank
  FROM sims
)
SELECT src, dst, cosine, rank FROM ranked WHERE rank <= {k}
"""


def knn_label_vote(
    emb: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label-vote classifier over the embedding corpus: each
    vector's predicted label is the majority label of its exact top-k
    cosine neighbors (ties broken by the lexicographically smallest
    label, then the agreement flag against the vector's own label —
    the standard leave-one-out label-noise / cluster-purity audit for
    curation).

    Cost shape: :func:`knn_graph` (bounded candidate shuffle) + one
    join of the n·k edge list against the id→label relation + one
    (src, label) count — nothing quadratic, no driver loops."""
    g = knn_graph(emb, k=k, n_blocks=n_blocks, id_col=id_col,
                  vec_col=vec_col)
    labels = emb.select(
        F.col(id_col).alias("dst"), F.col(label_col).alias("nbr_label")
    )
    votes = (
        g.join(labels, "dst")
        .groupBy("src", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("votes"), F.asc("nbr_label")
    )
    top = (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("src", F.col("nbr_label").alias("predicted_label"), "votes")
    )
    truth = emb.select(
        F.col(id_col).alias("src"), F.col(label_col).alias("true_label")
    )
    return top.join(truth, "src").select(
        "src",
        "predicted_label",
        "votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).alias("agree"),
    )


def knn_label_vote_sql(k: int = 5) -> str:
    return f"""
WITH knn AS ({knn_graph_sql(k)}),
votes AS (
  SELECT g.src, e.label AS nbr_label, count(*) AS votes
  FROM knn g JOIN embeddings e ON e.vec_id = g.dst
  GROUP BY g.src, e.label
),
top AS (
  SELECT src, nbr_label AS predicted_label, votes,
         row_number() OVER (PARTITION BY src
                            ORDER BY votes DESC, nbr_label) AS rn
  FROM votes
)
SELECT t.src, t.predicted_label, t.votes, e.label AS true_label,
       t.predicted_label = e.label AS agree
FROM top t JOIN embeddings e ON e.vec_id = t.src
WHERE t.rn = 1
"""


def vector_stats(emb: DataFrame) -> DataFrame:
    """Per-vector summary statistics via higher-order array functions
    — norm, mean, max, positive fraction — entirely map-side
    whole-stage codegen (``aggregate``/``filter`` over the array, no
    explode, no shuffle, no UDF). Left-to-right folds make the float
    sums bit-identical to DuckDB's list_aggregate."""
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    s = F.expr("aggregate(v, 0D, (acc, x) -> acc + x)")
    sq = F.expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")
    return e.select(
        "vec_id",
        F.floor(F.sqrt(sq) * 1_000_000 + F.lit(0.5)).alias("norm_u"),
        F.floor(s / F.size("v") * 1_000_000 + F.lit(0.5)).alias("mean_u"),
        F.expr("array_max(v)").alias("mx"),
        (
            F.size(F.filter("v", lambda x: x > 0))
            / F.size("v")
        ).alias("frac_pos"),
    )


VECTOR_STATS_SQL = """
SELECT vec_id,
       CAST(floor(sqrt(list_aggregate(list_transform(v, x -> x * x),
                                      'sum')) * 1000000 + 0.5)
            AS BIGINT) AS norm_u,
       CAST(floor(list_aggregate(v, 'sum') / len(v) * 1000000 + 0.5)
            AS BIGINT) AS mean_u,
       list_aggregate(v, 'max') AS mx,
       len(list_filter(v, x -> x > 0)) * 1.0 / len(v) AS frac_pos
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""


def ivf_recall_report(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of the IVF approximate path against the
    exact brute-force ranking — the acceptance metric every ANN
    deployment tracks before trading exactness for speed (the ANN
    twin of :func:`...dedup.minhash_recall_report`).

    Both sides are bounded plans (broadcast queries; cell-blocked
    probe); the comparison itself is a semi-join of two k-row-per-
    query sets — metadata-sized at any corpus scale. The exact and
    IVF arms share one materialized corpus projection and one
    query-side projection (optimization r14 — same recipe as
    :func:`rrf_fusion`)."""
    corpus = _as_double(emb, id_col, "embedding", fan=True).localCheckpoint(
        eager=False
    )
    qv = _as_double(queries, id_col, "embedding").localCheckpoint(
        eager=False
    )
    exact = cosine_topk(
        emb, qv, k=k, id_col=id_col, vec_col="v", corpus=corpus
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(
        emb, qv, k=k, n_cells=n_cells, nprobe=nprobe, id_col=id_col,
        vec_col="v", corpus=corpus,
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall_at_k"),
        )
    )


def ivf_recall_report_sql(
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    max_query_id: int = 5,
) -> str:
    return f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({cosine_topk_sql(k, max_query_id)})
),
approx AS (
  SELECT query_id, neighbor_id
  FROM ({ivf_topk_sql(k, n_cells, nprobe, max_query_id)})
),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM exact e SEMI JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1
)
SELECT x.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
             / CAST(x.n_exact AS DOUBLE), 6) AS recall_at_k
FROM (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1) x
LEFT JOIN hits h ON x.query_id = h.query_id
"""


RRF_K = 60


def rrf_fusion(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of the three ANN
    rankings (exact brute force, IVF, hyperplane-LSH):
    ``score = Σ_lists 1/(rrf_k + rank)`` — the standard ensemble step
    in hybrid retrieval, where rank lists from different scorers are
    combined without score calibration.

    Each arm is a bounded k-rows-per-query relation, so the fusion is
    two metadata-sized full-outer joins + a per-query top-k. The
    score is a FIXED coalesce-sum expression tree (never an
    order-varying aggregate), so it is engine-exact without decimal
    scaffolding.

    The three arms share ONE materialized ``(id, array<double>)``
    corpus projection (lazy ``localCheckpoint`` — per-query-execution
    materialization inside the timed region, exactly the ``sets=``
    recipe the dedup composites use): without it each arm re-scans
    and re-parses the embeddings relation, which at warehouse scale
    is two avoidable full-corpus reads (optimization r14, guide
    §2.4/§5). The query side is shared the same way — un-shared, the
    arms issued SIX filtered scans of the embeddings relation for the
    tiny query set (executed-plan dumps in git history); re-casting
    the materialized ``v`` is a no-op, so values are unchanged."""
    corpus = _as_double(emb, id_col, "embedding", fan=True).localCheckpoint(
        eager=False
    )
    qv = _as_double(queries, id_col, "embedding").localCheckpoint(
        eager=False
    )
    arms = {
        "r_exact": cosine_topk(emb, qv, k=k, id_col=id_col, vec_col="v",
                               corpus=corpus),
        "r_ivf": ivf_topk(emb, qv, k=k, id_col=id_col, vec_col="v",
                          corpus=corpus),
        "r_lsh": lsh_topk(emb, qv, k=k, id_col=id_col, vec_col="v",
                          corpus=corpus),
    }
    fused = None
    for name, df in arms.items():
        cur = df.select(
            "query_id", "neighbor_id", F.col("rank").alias(name)
        )
        fused = cur if fused is None else fused.join(
            cur, ["query_id", "neighbor_id"], "full_outer"
        )
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(rrf_k).cast("double") + F.col(c)), F.lit(0.0)
    )
    scored = fused.select(
        "query_id",
        "neighbor_id",
        F.round(term("r_exact") + term("r_ivf") + term("r_lsh"), 9).alias(
            "rrf_score"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


def rrf_fusion_sql(
    k: int = 10, rrf_k: int = RRF_K, max_query_id: int = 5
) -> str:
    return f"""
WITH exact_arm AS (
  SELECT query_id, neighbor_id, rank AS r_exact
  FROM ({cosine_topk_sql(k, max_query_id)})
),
ivf_arm AS (
  SELECT query_id, neighbor_id, rank AS r_ivf
  FROM ({ivf_topk_sql(k, max_query_id=max_query_id)})
),
lsh_arm AS (
  SELECT query_id, neighbor_id, rank AS r_lsh
  FROM ({lsh_topk_sql(k, max_query_id=max_query_id)})
),
fused AS (
  SELECT coalesce(e.query_id, i.query_id, l.query_id) AS query_id,
         coalesce(e.neighbor_id, i.neighbor_id, l.neighbor_id)
           AS neighbor_id,
         round(coalesce(1.0 / ({rrf_k} + e.r_exact), 0.0)
               + coalesce(1.0 / ({rrf_k} + i.r_ivf), 0.0)
               + coalesce(1.0 / ({rrf_k} + l.r_lsh), 0.0), 9)
           AS rrf_score
  FROM exact_arm e
  FULL OUTER JOIN ivf_arm i
    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
  FULL OUTER JOIN lsh_arm l
    ON coalesce(e.query_id, i.query_id) = l.query_id
   AND coalesce(e.neighbor_id, i.neighbor_id) = l.neighbor_id
)
SELECT query_id, neighbor_id, rrf_score, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY rrf_score DESC, neighbor_id ASC) AS rn
      FROM fused)
WHERE rn <= {k}
"""


SEMANTIC_MIN_COSINE = 0.38


def semantic_clusters(
    emb: DataFrame,
    k: int = 3,
    min_cosine: float = SEMANTIC_MIN_COSINE,
) -> DataFrame:
    """Embedding-space clustering, SemDeDup-shaped: the exact kNN
    graph, restricted to MUTUAL edges above ``min_cosine`` (both
    endpoints nominate each other — the standard chain-breaking
    filter), then connected components (cluster id = min member id).

    Composes :func:`knn_graph` (block-pair exact kNN — no all-pairs
    shuffle) with the dedup star-contraction component solver; the
    mutual filter is one self-join of the k·N-bounded edge list."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        dedup_clusters,
    )

    g = knn_graph(emb, k=k).where(F.col("cosine") >= min_cosine)
    rev = g.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = (
        g.select("src", "dst")
        .join(rev, ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
        )
    )
    return dedup_clusters(mutual).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


def semantic_clusters_sql(
    k: int = 3, min_cosine: float = SEMANTIC_MIN_COSINE
) -> str:
    return f"""
WITH RECURSIVE g AS (
  SELECT src, dst FROM ({knn_graph_sql(k)})
  WHERE cosine >= {min_cosine!r}
),
mutual AS (
  SELECT a.src AS doc_a, a.dst AS doc_b
  FROM g a SEMI JOIN g b ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mutual
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM mutual
),
reach(node, via) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.via
)
SELECT node AS vec_id, min(via) AS cluster_id
FROM reach
GROUP BY node
"""


def _cov_partial_kernel(quant: int):
    """Arrow kernel: fold ALL of a partition's batches into exact
    integer Gram/sum state and emit d·(d+1)/2 partial rows once.
    Per-chunk products run as one int64 matmul; the RUNNING
    accumulation is arbitrary-precision Python ints, so no overflow
    at any corpus size.

    int64 SAFETY is enforced, not assumed (review finding — the
    first version silently wrapped for quant ≥ ~10^8 or enlarged
    Arrow batches, producing negative variances): each batch is
    processed in row slices sized so ``rows × max(|xq|)² < 2^62``,
    computed from the batch's OWN measured magnitude — any quant, any
    ``arrow.maxRecordsPerBatch``, any embedding scale stays exact."""

    def fold(batches):
        import decimal

        import numpy as np
        import pandas as pd

        gram = None  # list-of-lists of python ints
        sums = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype("float64")
                * quant
            ).astype("int64")
            if gram is None:
                d = m.shape[1]
                gram = [[0] * d for _ in range(d)]
                sums = [0] * d
            mx = int(np.abs(m).max())
            safe_rows = max(1, (1 << 62) // (mx * mx + 1))
            for lo in range(0, m.shape[0], safe_rows):
                chunk = m[lo:lo + safe_rows]
                g = chunk.T @ chunk
                s = chunk.sum(axis=0)
                for i in range(len(sums)):
                    sums[i] += int(s[i])
                    row_g = g[i]
                    row = gram[i]
                    for j in range(i, len(sums)):
                        row[j] += int(row_g[j])
            n += m.shape[0]
        if gram is None:
            return
        d = len(sums)
        dec = decimal.Decimal
        out = {
            "i": [], "j": [], "n": [], "sxy": [], "sxi": [], "sxj": [],
        }
        for i in range(d):
            for j in range(i, d):
                out["i"].append(i)
                out["j"].append(j)
                out["n"].append(n)
                out["sxy"].append(dec(gram[i][j]))
                out["sxi"].append(dec(sums[i]))
                out["sxj"].append(dec(sums[j]))
        yield pd.DataFrame(out)

    return fold


def embedding_covariance(
    emb: DataFrame,
    quant: int = 1_000_000,
    outer_product_kernel: bool = True,
) -> DataFrame:
    """Exact covariance matrix of the embedding distribution — the
    whitening/PCA-prep statistic (a training-data pipeline runs this
    before decorrelating features or diagnosing collapsed embedding
    dims): one row per unordered dimension pair (i ≤ j) with
    ``cov = E[x_i·x_j] − E[x_i]·E[x_j]``.

    Engine-exactness recipe (the TWAP floor-scaled micro-unit
    pattern): values quantize to integers at ``quant`` resolution
    first, so every sum is an EXACT integer (decimal- or Python-int-
    accumulated — no float summation order anywhere); the covariance
    then divides exactly-represented integers in IEEE doubles,
    identical in any engine, floored at 9 dp of the unquantized
    scale. Both paths produce the SAME exact integer sums, so their
    outputs are bit-identical (A/B test-pinned).

    DEFAULT path — the Arrow Gram kernel: each partition folds its
    batches as one numpy int64 matrix multiply and emits d·(d+1)/2
    exact-integer partial rows, so the n·d² product stream never
    exists, even map-side; the exchange carries partitions × d² rows.
    Unlike the partition_topk / PageRank dual paths, this one has NO
    size gate: the kernel was measured FASTER at every probed scale
    (0.36 s vs 0.61 s at 500 vectors, 0.85 s vs 2.99 s at the ×10
    amplification — the JVM path's per-vector self-join pays the d²
    blowup through its aggregate's map side at any corpus size).
    ``outer_product_kernel=False`` pins the JVM explode+self-join
    twin — kept as the A/B witness and the plan the SQL oracle
    mirrors: explode to (vec, dim, value) (n·d rows, one vec_id
    shuffle), per-vector self-join bounded by d, one map-side-
    combined (i, j) aggregate. State is d²-sized either way — 64
    dims → 2,080 output rows at any corpus size."""
    scale = float(quant) * float(quant)
    cov = (
        F.col("sxy").cast("double") / F.col("n").cast("double")
        - (F.col("sxi").cast("double") / F.col("n").cast("double"))
        * (F.col("sxj").cast("double") / F.col("n").cast("double"))
    ) / F.lit(scale)
    final = lambda joined: joined.select(  # noqa: E731
        F.col("di").cast("int").alias("dim_i"),
        F.col("dj").cast("int").alias("dim_j"),
        F.col("n").alias("n_vectors"),
        (F.floor(cov * 1e9 + F.lit(0.5)) / 1e9).alias("cov"),
    )
    if outer_product_kernel:
        part = emb.select("embedding").mapInPandas(
            _cov_partial_kernel(quant),
            "i int, j int, n long, sxy decimal(38,0), "
            "sxi decimal(38,0), sxj decimal(38,0)",
        )
        merged = part.groupBy(
            F.col("i").alias("di"), F.col("j").alias("dj")
        ).agg(
            F.sum("n").alias("n"),
            F.sum("sxy").alias("sxy"),
            F.sum("sxi").alias("sxi"),
            F.sum("sxj").alias("sxj"),
        )
        return final(merged)
    q = (
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>"))
            .alias("i", "x"),
        )
        .select(
            "vec_id",
            "i",
            F.floor(F.col("x") * quant).cast("bigint").alias("xq"),
        )
    )
    a = q.select("vec_id", F.col("i").alias("di"), F.col("xq").alias("xi"))
    b = q.select("vec_id", F.col("i").alias("dj"), F.col("xq").alias("xj"))
    pair_sums = (
        a.join(b, "vec_id")
        .where(F.col("di") <= F.col("dj"))
        .groupBy("di", "dj")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # multiply IN decimal — a bigint×bigint product would wrap
            # before the cast once |xq| passes ~3e9 (large quant)
            F.sum(
                F.col("xi").cast("decimal(19,0)")
                * F.col("xj").cast("decimal(19,0)")
            ).alias("sxy"),
        )
    )
    dim_sums = q.groupBy("i").agg(
        F.sum(F.col("xq").cast("decimal(38,0)")).alias("sx")
    )
    sa = dim_sums.select(F.col("i").alias("di"), F.col("sx").alias("sxi"))
    sb = dim_sums.select(F.col("i").alias("dj"), F.col("sx").alias("sxj"))
    return final(
        pair_sums.join(F.broadcast(sa), "di").join(F.broadcast(sb), "dj")
    )


def embedding_covariance_sql(quant: int = 1_000_000) -> str:
    scale = float(quant) * float(quant)
    return f"""
WITH q AS (
  SELECT vec_id, i - 1 AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {quant}) AS BIGINT) AS xq
  FROM embeddings,
       LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
),
pair_sums AS (
  SELECT a.i AS di, b.i AS dj, count(*) AS n, sum(a.xq * b.xq) AS sxy
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
dim_sums AS (
  SELECT i, sum(xq) AS sx FROM q GROUP BY i
)
SELECT CAST(p.di AS INTEGER) AS dim_i,
       CAST(p.dj AS INTEGER) AS dim_j,
       p.n AS n_vectors,
       floor((CAST(p.sxy AS DOUBLE) / p.n
              - (CAST(sa.sx AS DOUBLE) / p.n)
                * (CAST(sb.sx AS DOUBLE) / p.n)) / {scale!r}
             * 1e9 + 0.5) / 1e9 AS cov
FROM pair_sums p
JOIN dim_sums sa ON sa.i = p.di
JOIN dim_sums sb ON sb.i = p.dj
"""

def embedding_quantization_report(emb: DataFrame) -> DataFrame:
    """Per-dimension int8 quantization audit — the table a vector
    deployment reads before switching the ANN index to int8 (4x
    smaller, SIMD-friendly): symmetric per-dimension quantization
    (``scale_d = max|v_d| / 127``, ``q = clamp(round(v/scale))``) and
    the reconstruction error it costs, one row per dimension —
    absmax, scale, worst-case |v - q*scale|, and the mean squared
    error (micro-scaled to int for engine-exact comparison; sum
    order is the only cross-engine difference and it sits ~6 orders
    below the rounding grain).

    Scale shape: ONE posexplode to the (corpus x dim) relation
    feeding TWO hash aggregates on the dim key (the absmax pass and
    the error pass) joined on the 64-row dim relation — the second
    scan re-reads the same columnar pages; no corpus-sized shuffle
    (dim is the only key), no UDF, everything whole-stage codegen.
    All-zero dimensions report scale 0 and zero error (quantizes to
    0 exactly) rather than NULLs from a 0/0."""
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "v"),
    )
    absmax = e.groupBy("dim").agg(F.max(F.abs(F.col("v"))).alias("absmax"))
    scale = F.col("absmax") / 127.0
    q = F.least(
        F.lit(127.0),
        F.greatest(F.lit(-127.0), F.floor(F.col("v") / scale + 0.5)),
    )
    err = F.when(F.col("absmax") == 0, F.lit(0.0)).otherwise(
        F.col("v") - q * scale
    )
    return (
        e.join(F.broadcast(absmax), "dim")
        .groupBy("dim")
        .agg(
            F.max("absmax").alias("absmax"),
            F.max(F.abs(err)).alias("max_abs_err"),
            F.avg(err * err).alias("_mse"),
        )
        .select(
            "dim",
            "absmax",
            (F.col("absmax") / 127.0).alias("scale"),
            "max_abs_err",
            F.floor(F.col("_mse") * 1e12 + F.lit(0.5))
            .cast("long").alias("mse_e12"),
        )
    )


EMBEDDING_QUANTIZATION_SQL = """
WITH e AS (
  SELECT vec_id,
         UNNEST(range(0, len(embedding))) AS dim,
         UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
  FROM embeddings
),
am AS (
  SELECT dim, max(abs(v)) AS absmax FROM e GROUP BY dim
),
err AS (
  SELECT e.dim, am.absmax,
         CASE WHEN am.absmax = 0 THEN 0.0
              ELSE e.v - least(127.0, greatest(-127.0,
                       floor(e.v / (am.absmax / 127.0) + 0.5)))
                   * (am.absmax / 127.0)
         END AS err
  FROM e JOIN am ON e.dim = am.dim
)
SELECT dim,
       max(absmax) AS absmax,
       max(absmax) / 127.0 AS scale,
       max(abs(err)) AS max_abs_err,
       CAST(floor(avg(err * err) * 1e12 + 0.5) AS BIGINT) AS mse_e12
FROM err
GROUP BY dim
"""


#: deterministic-summation block width for label_centroid_report: the
#: level-1 fold buffers at most this many vectors per (label, block)
#: group; level 2 folds the per-block partials in block order. Pick
#: ~sqrt(vectors-per-label) at deployment — the SHAPE (fixed two-level
#: reduction tree, every fold over an explicitly ORDERED list) is what
#: makes the float sums bit-identical across engines AND across
#: cluster re-partitions; no level ever holds an unbounded buffer.
CENTROID_BLOCK = 256


def ordered_tree_vector_sum(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    vec_col: str,
    block: int,
    n_alias: str = "n_vecs",
    sum_alias: str = "vsum",
) -> DataFrame:
    """THE deterministic distributed float-vector-sum primitive
    (VERDICT r11 #6 — the reusable recipe behind
    ``label_centroid_report``): per ``key_cols`` group, the
    element-wise sum of ``vec_col`` arrays computed as a FIXED-SHAPE
    two-level reduction tree — level 1 folds each (key, ``id_col``
    block) group's vectors in ``id_col`` order (``aggregate`` over a
    sorted ``collect_list``), level 2 folds the per-block partials in
    block order. Cross-row float addition is order-dependent and
    Spark's shuffle order is not deterministic, so a naive ``sum``
    drifts in the last ulp run-to-run; the fixed tree is bit-identical
    across engines AND partitionings (a DuckDB ``list_reduce`` over
    ``list(... ORDER BY ...)`` replays the exact same tree). State per
    aggregation buffer is bounded by ``block`` (level 1) and n/
    ``block`` (level 2) — pick block ~ sqrt(group size) at deployment.

    Returns one row per key group: ``key_cols + [n_alias, sum_alias]``.
    """
    zipadd = (
        "CASE WHEN acc IS NULL THEN s.v"
        " ELSE zip_with(acc, s.v, (a, b) -> a + b) END"
    )
    blocked = df.select(
        *key_cols,
        F.col(id_col).alias("__oid"),
        F.col(vec_col).alias("v"),
        F.floor(F.col(id_col) / F.lit(int(block))).alias("__blk"),
    )
    lvl1 = (
        blocked.groupBy(*key_cols, "__blk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__oid"), F.col("v")))
            ).alias("arr"),
            F.count(F.lit(1)).alias("bn"),
        )
        .select(
            *key_cols, "__blk", "bn",
            F.expr(
                "aggregate(arr, cast(null as array<double>),"
                f" (acc, s) -> {zipadd})"
            ).alias("bsum"),
        )
    )
    return (
        lvl1.groupBy(*key_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__blk"), F.col("bsum")
                                        .alias("v")))
            ).alias("arr"),
            F.sum("bn").cast("long").alias(n_alias),
        )
        .select(
            *key_cols, n_alias,
            F.expr(
                "aggregate(arr, cast(null as array<double>),"
                f" (acc, s) -> {zipadd})"
            ).alias(sum_alias),
        )
    )


def _label_centroids(emb: DataFrame, block: int):
    """Shared deterministic-centroid core: returns ``(e, cent)`` where
    ``e`` is the (vec_id, label, v, blk) relation and ``cent`` the
    per-label (label, n_vecs, c) centroids computed by the two-level
    ordered reduction tree (see :func:`ordered_tree_vector_sum`)."""
    e = emb.select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
        F.floor(F.col("vec_id") / F.lit(int(block))).alias("blk"),
    )
    cent = (
        ordered_tree_vector_sum(
            emb.select(
                "vec_id", "label",
                F.col("embedding").cast("array<double>").alias("v"),
            ),
            ["label"], "vec_id", "v", block,
        )
        .select(
            "label", "n_vecs",
            F.expr("transform(vsum, x -> x / n_vecs)").alias("c"),
        )
        .localCheckpoint(eager=False)  # reused: dist join + final report
    )
    return e, cent


def label_centroid_report(emb: DataFrame, block: int = CENTROID_BLOCK
                          ) -> DataFrame:
    """Per-label embedding compactness — centroid norm, mean and max
    member distance to the centroid — the intra-class diagnostic a
    training-data pipeline reads before trusting labels (a label with
    a huge mean radius is noisy or multi-modal; two labels with close
    centroids and small radii are candidates for merging).

    The interesting part is HOW the float sums are computed:
    cross-row float addition is order-dependent, and Spark's shuffle
    order is nondeterministic — a naive ``sum(x)`` differs run to run
    in the last ulp and can never hash-match another engine. Every
    cross-row sum here is a FIXED-SHAPE two-level reduction tree:
    level 1 folds each (label, vec_id-block) group's values in vec_id
    order (``aggregate`` over a sorted ``collect_list``); level 2
    folds the per-block partials in block order. Same tree in DuckDB
    (``list_reduce`` over ``list(... ORDER BY ...)``) → bit-identical
    results, independent of partitioning. Within-row dimension folds
    are already ordered (the vector_stats pattern). State per
    aggregation buffer is bounded by ``block`` (level 1) and
    n/``block`` (level 2) — pick block ~ sqrt(n/label) at deployment.

    Outputs use the repo's micro-unit convention
    (``floor(x·1e6 + 0.5)`` BIGINT) so the oracle compares integers."""
    e, cent = _label_centroids(emb, block)
    dists = (
        e.join(F.broadcast(cent.select("label", "c")), "label")
        .select(
            "label", "vec_id", "blk",
            F.sqrt(F.expr(
                "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),"
                " 0D, (acc, x) -> acc + x)"
            )).alias("dist"),
        )
    )
    d1 = (
        dists.groupBy("label", "blk")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(vec_id, dist)))"
                ", 0D, (acc, s) -> acc + s.dist)"
            ).alias("bsum"),
            F.max("dist").alias("bmax"),
        )
    )
    dagg = (
        d1.groupBy("label")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(blk, bsum)))"
                ", 0D, (acc, s) -> acc + s.bsum)"
            ).alias("sum_dist"),
            F.max("bmax").alias("max_dist"),
        )
    )
    u = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")  # noqa: E731
    return cent.join(dagg, "label").select(
        "label",
        "n_vecs",
        u(F.sqrt(F.expr(
            "aggregate(transform(c, x -> x * x), 0D,"
            " (acc, x) -> acc + x)"
        ))).alias("centroid_norm_u"),
        u(F.col("sum_dist") / F.col("n_vecs")).alias("mean_dist_u"),
        u(F.col("max_dist")).alias("max_dist_u"),
    )


def label_centroid_report_sql(block: int = CENTROID_BLOCK) -> str:
    """DuckDB twin: the SAME two-level ordered reduction tree
    (list_reduce over ORDER BY lists), so every float sum is
    bit-identical to the Spark plan's."""
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         vec_id // {block} AS blk
  FROM embeddings
),
lvl1 AS (
  SELECT label, blk, count(*) AS bn,
         list_reduce(
           list(v ORDER BY vec_id),
           (a, b) -> list_transform(list_zip(a, b), x -> x[1] + x[2])
         ) AS bsum
  FROM e GROUP BY label, blk
),
cent AS (
  SELECT label, CAST(sum(bn) AS BIGINT) AS n_vecs,
         list_transform(
           list_reduce(
             list(bsum ORDER BY blk),
             (a, b) -> list_transform(list_zip(a, b), x -> x[1] + x[2])
           ),
           x -> x / CAST(sum(bn) AS BIGINT)
         ) AS c
  FROM lvl1 GROUP BY label
),
dists AS (
  SELECT e.label, e.vec_id, e.blk,
         sqrt(list_aggregate(
           list_transform(list_zip(e.v, cent.c),
                          x -> (x[1] - x[2]) * (x[1] - x[2])),
           'sum')) AS dist
  FROM e JOIN cent ON e.label = cent.label
),
d1 AS (
  SELECT label, blk,
         list_reduce(
           list_prepend(0.0, list(dist ORDER BY vec_id)),
           (a, b) -> a + b) AS bsum,
         max(dist) AS bmax
  FROM dists GROUP BY label, blk
),
dagg AS (
  SELECT label,
         list_reduce(
           list_prepend(0.0, list(bsum ORDER BY blk)),
           (a, b) -> a + b) AS sum_dist,
         max(bmax) AS max_dist
  FROM d1 GROUP BY label
)
SELECT cent.label, cent.n_vecs,
       CAST(floor(sqrt(list_aggregate(list_transform(cent.c,
                                                     x -> x * x),
                                      'sum'))
                  * 1000000 + 0.5) AS BIGINT) AS centroid_norm_u,
       CAST(floor(dagg.sum_dist / cent.n_vecs * 1000000 + 0.5)
            AS BIGINT) AS mean_dist_u,
       CAST(floor(dagg.max_dist * 1000000 + 0.5) AS BIGINT)
         AS max_dist_u
FROM cent JOIN dagg ON cent.label = dagg.label
"""


def label_purity_report(emb: DataFrame, block: int = CENTROID_BLOCK
                        ) -> DataFrame:
    """Centroid-assignment label purity — the cheap label-noise
    detector (the 1-NN-to-centroid special case of
    :func:`knn_label_vote`): assign every vector to its NEAREST label
    centroid (squared euclidean; ties break on the smaller label) and
    report, per label, how many of its members come home. A label
    with low purity is noisy, multi-modal, or overlaps a neighbor —
    exactly the labels whose supervised signal a data pipeline should
    down-weight.

    Determinism: centroids come from the two-level ordered reduction
    tree (:func:`_label_centroids` — bit-identical across engines and
    partitionings); per-(vector, centroid) distances are within-row
    ordered folds over a BROADCAST centroid relation (labels-sized);
    the argmin is a row_number window ordered by (dist², label). The
    n×k distance relation is the only sized intermediate — k is the
    label count, so the probe stays map-side at any corpus size."""
    from pyspark.sql import Window

    e, cent = _label_centroids(emb, block)
    pairs = (
        e.select("vec_id", "label", "v")
        .join(F.broadcast(cent.select(
            F.col("label").alias("clabel"), "c"
        )))
        .select(
            "vec_id", "label", "clabel",
            F.expr(
                "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),"
                " 0D, (acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("clabel").asc()
    )
    assigned = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("vec_id", "label", F.col("clabel").alias("assigned"))
    )
    return (
        assigned.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.when(F.col("assigned") == F.col("label"), 1)
                .otherwise(0)
            ).cast("long").alias("n_pure"),
        )
        .select(
            "label", "n_vecs", "n_pure",
            F.floor(
                F.col("n_pure") / F.col("n_vecs") * 1_000_000
                + F.lit(0.5)
            ).cast("long").alias("purity_u"),
        )
    )


def label_purity_report_sql(block: int = CENTROID_BLOCK) -> str:
    """DuckDB twin: the centroid CTEs of label_centroid_report_sql,
    the same (vector × centroid) distance relation, and the same
    (d2, label)-ordered argmin."""
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         vec_id // {block} AS blk
  FROM embeddings
),
lvl1 AS (
  SELECT label, blk, count(*) AS bn,
         list_reduce(
           list(v ORDER BY vec_id),
           (a, b) -> list_transform(list_zip(a, b), x -> x[1] + x[2])
         ) AS bsum
  FROM e GROUP BY label, blk
),
cent AS (
  SELECT label, CAST(sum(bn) AS BIGINT) AS n_vecs,
         list_transform(
           list_reduce(
             list(bsum ORDER BY blk),
             (a, b) -> list_transform(list_zip(a, b), x -> x[1] + x[2])
           ),
           x -> x / CAST(sum(bn) AS BIGINT)
         ) AS c
  FROM lvl1 GROUP BY label
),
pairs AS (
  SELECT e.vec_id, e.label, cent.label AS clabel,
         list_aggregate(
           list_transform(list_zip(e.v, cent.c),
                          x -> (x[1] - x[2]) * (x[1] - x[2])),
           'sum') AS d2
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, clabel ASC) AS rk
  FROM pairs
)
SELECT label,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pure,
       CAST(floor(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)
                  * 1.0 / count(*) * 1000000 + 0.5) AS BIGINT)
         AS purity_u
FROM assigned
WHERE rk = 1
GROUP BY label
"""


def label_outliers(
    emb: DataFrame, block: int = CENTROID_BLOCK, factor_pm: int = 1030
) -> DataFrame:
    """Label-noise candidates: vectors whose distance to their OWN
    label centroid exceeds ``factor_pm`` per-mille (default 1.03×) of
    the label's mean radius — the
    per-vector drill-down of :func:`label_centroid_report` (which
    stops at per-label aggregates). The per-mille default reflects
    how tight real embedding shells are (the synthetic corpus's
    max/mean radius ratio measures ~1.05; normalized real embeddings
    concentrate similarly — a 2× cut would never fire). The cut
    compares exact INTEGERS (``1000·dist_u > factor_pm·mean_dist_u``),
    so boundary
    membership cannot flip on an ulp between engines; the distances
    themselves come from the deterministic two-level ordered tree
    (:func:`ordered_tree_vector_sum`'s recipe), bit-identical across
    partitionings.

    Scale shape: centroid build (one (label, block) + one labels-sized
    shuffle), a BROADCAST centroid join for per-vector distances
    (map-side), the scalar distance tree for per-label means, and one
    broadcast mean join + filter. Output is outliers-sized."""
    e, cent = _label_centroids(emb, block)
    dists = (
        e.join(F.broadcast(cent.select("label", "c")), "label")
        .select(
            "label", "vec_id", "blk",
            F.sqrt(F.expr(
                "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),"
                " 0D, (acc, x) -> acc + x)"
            )).alias("dist"),
        )
        .localCheckpoint(eager=False)  # feeds the mean AND the filter
    )
    d1 = dists.groupBy("label", "blk").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(vec_id, dist)))"
            ", 0D, (acc, s) -> acc + s.dist)"
        ).alias("bsum"),
    )
    mean = (
        d1.groupBy("label")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(blk, bsum)))"
                ", 0D, (acc, s) -> acc + s.bsum)"
            ).alias("sum_dist"),
        )
        .join(cent.select("label", "n_vecs"), "label")
        .select(
            "label",
            F.floor(
                F.col("sum_dist") / F.col("n_vecs") * 1_000_000
                + F.lit(0.5)
            ).cast("long").alias("mean_dist_u"),
        )
    )
    return (
        dists.select(
            "label", "vec_id",
            F.floor(F.col("dist") * 1_000_000 + F.lit(0.5))
            .cast("long").alias("dist_u"),
        )
        .join(F.broadcast(mean), "label")
        .where(
            F.col("dist_u") * 1000
            > F.lit(int(factor_pm)) * F.col("mean_dist_u")
        )
    )


def label_outliers_sql(
    block: int = CENTROID_BLOCK, factor_pm: int = 1030
) -> str:
    """DuckDB twin: the label_centroid_report CTE chain with the
    outlier cut as the final integer comparison."""
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         vec_id // {block} AS blk
  FROM embeddings
),
lvl1 AS (
  SELECT label, blk, count(*) AS bn,
         list_reduce(
           list(v ORDER BY vec_id),
           (a, b) -> list_transform(list_zip(a, b), x -> x[1] + x[2])
         ) AS bsum
  FROM e GROUP BY label, blk
),
cent AS (
  SELECT label, CAST(sum(bn) AS BIGINT) AS n_vecs,
         list_transform(
           list_reduce(
             list(bsum ORDER BY blk),
             (a, b) -> list_transform(list_zip(a, b), x -> x[1] + x[2])
           ),
           x -> x / CAST(sum(bn) AS BIGINT)
         ) AS c
  FROM lvl1 GROUP BY label
),
dists AS (
  SELECT e.label, e.vec_id, e.blk,
         sqrt(list_aggregate(
           list_transform(list_zip(e.v, cent.c),
                          x -> (x[1] - x[2]) * (x[1] - x[2])),
           'sum')) AS dist
  FROM e JOIN cent ON e.label = cent.label
),
d1 AS (
  SELECT label, blk,
         list_reduce(
           list_prepend(0.0, list(dist ORDER BY vec_id)),
           (a, b) -> a + b) AS bsum
  FROM dists GROUP BY label, blk
),
mean AS (
  SELECT d.label,
         CAST(floor(
           list_reduce(list_prepend(0.0, list(d.bsum ORDER BY d.blk)),
                       (a, b) -> a + b)
           / cent.n_vecs * 1000000 + 0.5) AS BIGINT) AS mean_dist_u
  FROM d1 d JOIN cent ON d.label = cent.label
  GROUP BY d.label, cent.n_vecs
)
SELECT d.label, d.vec_id,
       CAST(floor(d.dist * 1000000 + 0.5) AS BIGINT) AS dist_u,
       mean.mean_dist_u
FROM dists d JOIN mean ON d.label = mean.label
WHERE CAST(floor(d.dist * 1000000 + 0.5) AS BIGINT) * 1000
      > {int(factor_pm)} * mean.mean_dist_u
"""
