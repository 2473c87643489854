"""Text-analysis operators for training-data curation
(SURVEY.md §2.11): token counting, quality scoring, language ID,
document fingerprinting. Everything is built-in-expression-only (no
Python UDFs) — at 100 TB these run inside whole-stage codegen over the
parquet scan with full column pruning (only ``doc_id``/``text``/
requested columns are read).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: tiny per-language marker vocabularies for the stopword-vote
#: language-ID heuristic (public-knowledge function words)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "et", "les", "des", "est"],
    "es": ["el", "los", "de", "y", "es"],
}


def wordpiece_count_expr():
    """The repo's ONE definition of the BPE-ish wordpiece count of
    ``text`` (maximal letter runs + digit runs + single non-space
    punctuation — the usual pre-tokenizer regex). Everything
    denominated in wordpieces (token_stats, tokenizer_fertility, the
    token-budget/quota planning chain) MUST route through this helper
    so the denomination cannot silently fork; ``WORDPIECES_SQL`` is
    the DuckDB text of the same expression."""
    return (
        F.size(F.split(F.col("text"), r"[A-Za-z]+", -1)) - 1
        + F.size(F.split(F.col("text"), r"[0-9]+", -1)) - 1
        + F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
    )


#: DuckDB twin of :func:`wordpiece_count_expr` (whitespace-free so it
#: embeds cleanly at any indentation)
WORDPIECES_SQL = (
    "len(regexp_split_to_array(text, '[A-Za-z]+')) - 1"
    " + len(regexp_split_to_array(text, '[0-9]+')) - 1"
    " + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))"
)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token census: whitespace tokens, BPE-ish word-piece
    count (letter runs + digit runs + punctuation, the usual
    pre-tokenizer regex), char length, average token length."""
    toks = F.split(F.col("text"), r"\s+")
    # BPE-ish pre-tokenization: count maximal letter runs, digit runs,
    # and single non-space punctuation — regexp-only, engine-portable
    wordpieces = wordpiece_count_expr()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        wordpieces.cast("bigint").alias("n_wordpieces"),
        F.length("text").alias("n_chars"),
        F.round(F.length("text") / F.size(toks), 6).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(text, '\s+')) AS n_tokens,
       CAST(len(regexp_split_to_array(text, '[A-Za-z]+')) - 1
            + len(regexp_split_to_array(text, '[0-9]+')) - 1
            + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
            AS BIGINT) AS n_wordpieces,
       length(text) AS n_chars,
       round(length(text) * 1.0 / len(regexp_split_to_array(text, '\s+')), 6)
         AS avg_token_len
FROM documents
"""


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals per doc: alpha-char ratio, stopword
    ratio (en), distinct-token ratio, mean word length — the standard
    cheap filters in front of an LLM data pipeline."""
    toks = F.split(F.col("text"), r"\s+")
    alpha_ratio = F.round(
        F.length(F.regexp_replace("text", r"[^A-Za-z]", "")) / F.length("text"), 6
    )
    stop_arr = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    stopword_ratio = F.round(
        F.expr(
            f"size(filter(split(text, '\\\\s+'), t -> array_contains(array({stop_arr}), t)))"
        )
        / F.size(toks),
        6,
    )
    uniq_ratio = F.round(
        F.size(F.array_distinct(toks)) / F.size(toks), 6
    )
    return docs.select(
        "doc_id",
        alpha_ratio.alias("alpha_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_token_ratio"),
    )


QUALITY_SCORES_SQL = r"""
SELECT doc_id,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
             / length(text), 6) AS alpha_ratio,
       round(len(list_filter(regexp_split_to_array(text, '\s+'),
                             t -> list_contains(['the','and','of','to','is'], t)))
             * 1.0 / len(regexp_split_to_array(text, '\s+')), 6)
         AS stopword_ratio,
       round(len(list_distinct(regexp_split_to_array(text, '\s+'))) * 1.0
             / len(regexp_split_to_array(text, '\s+')), 6)
         AS uniq_token_ratio
FROM documents
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: score = matched marker words per
    language, predict the argmax (ties → language name order). A real
    deployment swaps the marker lists for char-n-gram profiles; the
    plan shape (per-row scoring, no shuffle) is identical."""
    toks = F.split(F.col("text"), r"\s+")
    scores = {}
    for lang, words in LANG_MARKERS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        scores[lang] = F.expr(
            f"size(filter(split(text, '\\\\s+'), t -> array_contains(array({arr}), t)))"
        )
    # argmax via greatest + folded when; the fold makes the LAST
    # wrapped language the FIRST evaluated, so ties resolve to the
    # last name in sorted order — mirrored by the SQL CASE order
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in sorted(LANG_MARKERS):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            pred
        )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
    )


def lang_id_sql() -> str:
    score = {
        lang: (
            "len(list_filter(regexp_split_to_array(text, '\\s+'), "
            f"t -> list_contains([{', '.join(repr(w) for w in words)}], t)))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score[lang] for lang in LANG_MARKERS) + ")"
    # same fold order as the DataFrame side: later WHEN in the Python
    # loop overrides → in SQL, CASE checks languages in reverse order
    branches = "\n       ".join(
        f"WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in sorted(LANG_MARKERS, reverse=True)
    )
    return f"""
SELECT doc_id, lang AS labeled_lang,
       CASE {branches} ELSE 'unknown' END AS predicted_lang
FROM documents
"""


def vocabulary(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus vocabulary with frequencies — the tokenizer-training /
    frequency-filter input. One explode + one groupBy shuffle with
    map-side partial counts; the min_count filter runs post-aggregate
    (HAVING)."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    toks = tokenized(docs).select(F.explode_outer("toks").alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )


def vocabulary_sql(min_count: int = 5) -> str:
    return f"""
SELECT t AS token, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t FROM documents)
GROUP BY 1 HAVING count(*) >= {min_count}
"""


def heavy_hitters(docs: DataFrame, support: float = 0.001) -> DataFrame:
    """EXACT corpus heavy hitters — every token whose frequency is at
    least ``ceil(support * total_tokens)`` — via the Misra-Gries
    two-pass shape, the 100 TB alternative to shuffling the full token
    multiset:

    1. one scan summarizes each partition into at most ``k =
       ceil(1/support)`` counters (mergeable-MG batch merge: add a
       batch's value_counts, then subtract the (k+1)-th largest count
       and drop non-positives — bounded memory regardless of
       partition size, Arrow-batched);
    2. the per-partition survivor keys form a candidate set that
       PROVABLY contains every global heavy hitter (if an item's
       global count ≥ support·N, some partition holds ≥ support of its
       own tokens — pigeonhole — which exceeds that partition's MG
       error bound n_p/(k+1));
    3. a second scan counts ONLY candidate tokens (broadcast semi-join
       before the groupBy), so the aggregation shuffles a stream
       filtered to ~1/support distinct keys instead of the whole
       vocabulary.

    Output is exact and deterministic (the candidate set varies with
    partitioning; the final filtered counts do not)."""
    import math

    import pandas as pd

    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    k = int(math.ceil(1.0 / support))
    toks = (
        tokenized(docs)
        .select(F.explode_outer("toks").alias("token"))
        .where(F.col("token").isNotNull())
    )

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > k:
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - sub for t, c in counters.items() if c > sub
                }
        yield pd.DataFrame({"token": list(counters)})

    cands = toks.mapInPandas(mg, "token string").distinct()
    theta = toks.agg(
        F.ceil(F.lit(support) * F.count(F.lit(1)))
        .cast("long")
        .alias("theta")
    )
    return (
        toks.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(theta))  # 1-row threshold scalar
        .where(F.col("freq") >= F.col("theta"))
        .select("token", "freq")
    )


def heavy_hitters_sql(support: float = 0.001) -> str:
    return f"""
WITH toks AS (
  SELECT t
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  WHERE t IS NOT NULL
),
tot AS (
  SELECT CAST(ceil({support!r} * count(*)) AS BIGINT) AS theta FROM toks
)
SELECT t AS token, count(*) AS freq
FROM toks
GROUP BY 1
HAVING count(*) >= (SELECT theta FROM tot)
"""


def corpus_stats(docs: DataFrame) -> DataFrame:
    """One-row corpus summary for curation dashboards: doc count,
    token mean, and exact interpolated p50/p90/p99 of per-doc token
    counts. Exact percentile needs a global sort of ONE LONG per doc
    (not the text); swap to approx_percentile at extreme scale."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    counts = tokenized(docs).select(F.size("toks").alias("n_tokens"))
    # one percentile(col, array(...)) call: separate percentile
    # aggregates each buffer the whole column independently
    return counts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.expr("percentile(n_tokens, array(0.5D, 0.9D, 0.99D))").alias("__ps"),
    ).select(
        "n_docs",
        "mean_tokens",
        F.col("__ps")[0].alias("p50_tokens"),
        F.col("__ps")[1].alias("p90_tokens"),
        F.col("__ps")[2].alias("p99_tokens"),
    )


CORPUS_STATS_SQL = """
SELECT count(*) AS n_docs,
       round(avg(n), 6) AS mean_tokens,
       quantile_cont(n, 0.5) AS p50_tokens,
       quantile_cont(n, 0.9) AS p90_tokens,
       quantile_cont(n, 0.99) AS p99_tokens
FROM (SELECT len(regexp_split_to_array(text, '\\s+')) AS n FROM documents)
"""


def curation_pipeline(
    docs: DataFrame,
    min_tokens: int = 20,
    min_alpha_ratio: float = 0.6,
) -> DataFrame:
    """End-to-end curation flow as ONE composed plan: quality-filter
    (length + alpha ratio) → exact dedup (keep min doc_id per content)
    → per-doc stats output. Composability is the point — the filter
    pushes into the scan, the dedup is the only shuffle, and Catalyst
    fuses the rest into the surrounding stages."""
    toks = F.split(F.col("text"), r"\s+")
    alpha_ratio = F.length(F.regexp_replace("text", r"[^A-Za-z]", "")) / F.length(
        "text"
    )
    filtered = docs.where(
        (F.size(toks) >= min_tokens) & (alpha_ratio >= min_alpha_ratio)
    )
    keepers = (
        filtered.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        filtered.join(keepers, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens"),
            F.md5("text").alias("content_hash"),
        )
    )


def curation_pipeline_sql(
    min_tokens: int = 20, min_alpha_ratio: float = 0.6
) -> str:
    return f"""
WITH filtered AS (
  SELECT * FROM documents
  WHERE len(regexp_split_to_array(text, '\\s+')) >= {min_tokens}
    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
        / length(text) >= {min_alpha_ratio}
),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5(text)
)
SELECT f.doc_id, f.lang,
       len(regexp_split_to_array(f.text, '\\s+')) AS n_tokens,
       md5(f.text) AS content_hash
FROM filtered f JOIN keepers k ON f.doc_id = k.doc_id
"""


def fingerprints(docs: DataFrame, k: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: the ``k`` smallest md5
    shingle hashes per doc, concatenated — an order-insensitive
    near-dup signature comparable across engines.

    Entirely map-side (array expressions per row, no explode /
    window / shuffle): at 100 TB this runs inside whole-stage codegen
    over the parquet scan. Docs too short to shingle produce no row,
    matching the exploded-relation formulation."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        SHINGLE_WIDTH,
        shingle_array,
        tokenized,
    )

    topk = F.slice(
        F.array_sort(F.array_distinct(F.transform(shingle_array(), F.md5))), 1, k
    )
    return (
        tokenized(docs)
        .where(F.size("toks") >= SHINGLE_WIDTH)
        .select("doc_id", F.concat_ws("|", topk).alias("fingerprint"))
    )


def fingerprints_sql(k: int = 8) -> str:
    from trino_iceberg_maintenance_spark.operators.dedup import shingles_sql

    return f"""
WITH sh AS ({shingles_sql()}),
ranked AS (
  SELECT doc_id, md5(shingle) AS h,
         row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS r
  FROM sh
)
SELECT doc_id, string_agg(h, '|' ORDER BY h) AS fingerprint
FROM ranked WHERE r <= {k}
GROUP BY doc_id
"""


def repetition_scores(docs: DataFrame, width: int = 3) -> DataFrame:
    """Internal repetition signal (the Gopher/RefinedWeb-style
    duplicate-n-gram filter, public knowledge): per doc, the fraction
    of word-``width``-grams that are repeats of an earlier one —
    boilerplate and degenerate generations score high.

    Entirely map-side (the shingle array and its distinct count are
    per-row expressions over the fanned-out scan; no explode, no
    shuffle) — whole-stage codegen over the scan at any scale. Docs
    too short to shingle produce no row, like fingerprints."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        SHINGLE_WIDTH as _W,  # noqa: F401 — width default parity
        shingle_array,
        tokenized,
    )

    sh = shingle_array("toks", width)
    return (
        tokenized(docs)
        .where(F.size("toks") >= width)
        .select(
            "doc_id",
            F.size(sh).alias("n_ngrams"),
            F.size(F.array_distinct(sh)).alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            F.round(
                (F.col("n_ngrams") - F.col("n_distinct")) / F.col("n_ngrams"), 6
            ).alias("repetition_ratio"),
        )
    )


def repetition_scores_sql(width: int = 3) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id,
         [array_to_string(toks[i:i+{width - 1}], ' ')
          FOR i IN generate_series(1, greatest(len(toks) - {width - 1}, 0))]
           AS grams
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
        FROM documents)
  WHERE len(toks) >= {width}
)
SELECT doc_id,
       len(grams) AS n_ngrams,
       len(list_distinct(grams)) AS n_distinct,
       round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 6)
         AS repetition_ratio
FROM sh
"""


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the classic relevance
    pipeline (tokenize → term frequencies → document frequencies →
    score → per-doc rank).

    Scale shape: TF is one explode + groupBy (doc, term) shuffle with
    map-side partial counts; DF derives from TF by a second, term-only
    aggregation (each (doc, term) row is one document occurrence — no
    countDistinct needed); the corpus size N joins in as a broadcast
    1-row aggregate (no driver collect); the per-doc rank is a window
    over doc_id — high-cardinality partitioning, never a global sort.
    Ranking ties break on the term string so both engines agree."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    # tf feeds both the score branch and the DF aggregation — a lazy
    # localCheckpoint runs the tokenize/explode/count lineage once, not
    # per branch, and its blocks free with the plan (persist entries
    # would accumulate for the session across bench-loop invocations)
    tf = (
        tokenized(docs)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "tfidf")
    )


def tfidf_top_terms_sql(k: int = 3) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf, tfidf
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def pmi_collocations(
    docs: DataFrame, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information over
    adjacent token pairs — the corpus-statistics step behind phrase
    detection / tokenizer merging rules.

    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p() from corpus counts;
    pairs rarer than ``min_count`` are dropped first (PMI of rare
    pairs is noise).

    Scale shape: one explode+groupBy for unigram counts, one for
    bigram counts (both with map-side partials); the two totals are
    1-row broadcast aggregates; the unigram relation joins in twice —
    vocabulary-sized, so it broadcasts. Top-k is TakeOrdered with a
    deterministic (rounded PMI, pair) ordering."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    toks = tokenized(docs)
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(toks, 1, size(toks) - 1)").alias("w1"),
                F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    n_uni = uni.agg(F.sum("n_w").cast("double").alias("__nu"))
    n_bi = pairs.agg(F.count(F.lit(1)).cast("double").alias("__nb"))
    scored = (
        bi.join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("n_w").alias("n_a"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("n_w").alias("n_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1", "w2", "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("__nb"))
                    / ((F.col("n_a") / F.col("__nu"))
                       * (F.col("n_b") / F.col("__nu")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def pmi_collocations_sql(min_count: int = 5, k: int = 50) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
uni AS (
  SELECT w, count(*) AS n_w
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
),
pairs AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
),
bi AS (
  SELECT w1, w2, count(*) AS n_ab FROM pairs GROUP BY 1, 2
  HAVING count(*) >= {min_count}
),
tot AS (
  SELECT (SELECT CAST(sum(n_w) AS DOUBLE) FROM uni) AS nu,
         (SELECT CAST(count(*) AS DOUBLE) FROM pairs) AS nb
)
SELECT b.w1, b.w2, b.n_ab,
       round(ln((b.n_ab / t.nb) / ((a.n_w / t.nu) * (c.n_w / t.nu))), 6)
         AS pmi
FROM bi b
JOIN uni a ON a.w = b.w1
JOIN uni c ON c.w = b.w2
CROSS JOIN tot t
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {k}
"""


#: PII/link patterns shared by both engines (Java regex and RE2 agree
#: on this subset: character classes, +, {2,}, \s/\S)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://\S+"


def doc_quality_profile(docs: DataFrame, rep_width: int = 3) -> DataFrame:
    """The whole per-document quality surface in ONE scan: token
    census, quality ratios, language ID, duplicate-n-gram repetition,
    and PII/link counts (email, URL) as a single map-side projection.

    This composes token_stats + quality_scores + lang_id +
    repetition_scores + PII detection into one whole-stage-codegen
    pass over the parquet scan — at 100 TB that is one read of the
    text column instead of five, and the profile is what a curation
    pipeline actually materializes before filtering. No shuffle, no
    UDF; short docs get NULL repetition_ratio instead of dropping out
    (profile rows must exist for every doc).
    """
    from trino_iceberg_maintenance_spark.operators.dedup import (
        shingle_array,
        tokens_col,
    )
    from trino_iceberg_maintenance_spark.sources.tables import fan_out

    base = fan_out(docs).select(
        "doc_id", "lang", "text", tokens_col("text").alias("toks")
    )
    n_toks = F.size("toks")
    wordpieces = wordpiece_count_expr()
    stop_arr = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    scores = {
        lang: F.expr(
            f"size(filter(toks, t -> array_contains(array({arr}), t)))"
        )
        for lang, arr in (
            (lang, ", ".join(f"'{w}'" for w in words))
            for lang, words in LANG_MARKERS.items()
        )
    }
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in sorted(LANG_MARKERS):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            pred
        )
    sh = shingle_array("toks", rep_width)
    repetition = F.when(
        n_toks >= rep_width,
        F.round((F.size(sh) - F.size(F.array_distinct(sh))) / F.size(sh), 6),
    )
    return base.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        n_toks.cast("bigint").alias("n_tokens"),
        wordpieces.cast("bigint").alias("n_wordpieces"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(F.length("text") / n_toks, 6).alias("avg_token_len"),
        F.round(
            F.length(F.regexp_replace("text", r"[^A-Za-z]", "")) / F.length("text"),
            6,
        ).alias("alpha_ratio"),
        F.round(
            F.expr(
                f"size(filter(toks, t -> array_contains(array({stop_arr}), t)))"
            )
            / n_toks,
            6,
        ).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct("toks")) / n_toks, 6).alias(
            "uniq_token_ratio"
        ),
        repetition.alias("repetition_ratio"),
        F.regexp_count("text", F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count("text", F.lit(URL_RE)).cast("bigint").alias("n_urls"),
    )


def doc_quality_profile_sql(rep_width: int = 3) -> str:
    score = {
        lang: (
            "len(list_filter(toks, "
            f"t -> list_contains([{', '.join(repr(w) for w in words)}], t)))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score[lang] for lang in LANG_MARKERS) + ")"
    branches = "\n       ".join(
        f"WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in sorted(LANG_MARKERS, reverse=True)
    )
    stop = ", ".join(repr(w) for w in LANG_MARKERS["en"])
    return rf"""
WITH t AS (
  SELECT doc_id, lang, text, regexp_split_to_array(text, '\s+') AS toks
  FROM documents
), g AS (
  SELECT *, CASE WHEN len(toks) >= {rep_width} THEN
      [array_to_string(toks[i:i+{rep_width - 1}], ' ')
       FOR i IN generate_series(1, len(toks) - {rep_width - 1})]
    END AS grams
  FROM t
)
SELECT doc_id, lang AS labeled_lang,
       CASE {branches} ELSE 'unknown' END AS predicted_lang,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_split_to_array(text, '[A-Za-z]+')) - 1
            + len(regexp_split_to_array(text, '[0-9]+')) - 1
            + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
            AS BIGINT) AS n_wordpieces,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(length(text) * 1.0 / len(toks), 6) AS avg_token_len,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
             / length(text), 6) AS alpha_ratio,
       round(len(list_filter(toks, t -> list_contains([{stop}], t)))
             * 1.0 / len(toks), 6) AS stopword_ratio,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS uniq_token_ratio,
       round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 6)
         AS repetition_ratio,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_urls
FROM g
"""


def lm_support_scores(docs: DataFrame) -> DataFrame:
    """Corpus-support quality score per document (the CCNet-style
    LM-filtering step, reduced to hash-stable integer statistics):
    how well a document's adjacent word pairs are supported by the
    corpus' bigram/unigram counts.

    Output per doc: ``n_bigrams``, ``oov_bigrams`` (pairs whose corpus
    count is 1 — they occur nowhere else), and ``support_ratio`` =
    sum(bigram corpus count) / sum(prefix unigram corpus count) — the
    aggregate conditional-probability mass of the document under the
    corpus statistics. Low ratio + high OOV = gibberish or
    out-of-domain; high ratio = well-supported text.

    Engine-stable by construction: every aggregate is an INTEGER sum
    (order-independent), with exactly ONE float division at the final
    projection — no per-row logs whose addition order could diverge
    between engines (the nation_profit lesson applied upstream).

    Scale shape: one explode of adjacent pairs; bigram and unigram
    count relations are vocabulary-sized groupBys joined back on
    their keys (shuffle joins — vocabulary may exceed broadcast at
    100 TB); per-doc rollup is one aggregation with map-side
    partials."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    # tokenize ONCE: both the pair explode and the unigram counts
    # consume this projection — without the reuse each branch would
    # re-run the regex split over the whole corpus (the split-once
    # rationale documented on tokenized()). A lazy localCheckpoint
    # rather than persist(): persist entries live for the session
    # (repeated invocations, e.g. the bench loop, accumulate cached
    # partitions), while checkpoint blocks are released by the
    # ContextCleaner as soon as the result DataFrame is dropped.
    tokd = tokenized(docs).localCheckpoint(eager=False)
    pairs = (
        tokd.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bgc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bg_count"))
    ugc = (
        tokd.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("ug_count"))
    )
    return (
        pairs.join(bgc, ["w1", "w2"])
        .join(ugc, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count(F.when(F.col("bg_count") == 1, 1)).alias("oov_bigrams"),
            F.round(
                F.sum("bg_count").cast("double")
                / F.sum("ug_count").cast("double"),
                6,
            ).alias("support_ratio"),
        )
    )


LM_SUPPORT_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
bgc AS (SELECT w1, w2, count(*) AS bg_count FROM pairs GROUP BY 1, 2),
ugc AS (
  SELECT w1, count(*) AS ug_count FROM (
    SELECT unnest(t) AS w1 FROM toks
  ) GROUP BY 1
)
SELECT doc_id,
       count(*) AS n_bigrams,
       count(*) FILTER (WHERE bg_count = 1) AS oov_bigrams,
       round(CAST(sum(bg_count) AS DOUBLE) / CAST(sum(ug_count) AS DOUBLE), 6)
         AS support_ratio
FROM pairs JOIN bgc USING (w1, w2) JOIN ugc USING (w1)
GROUP BY doc_id
"""


def doc_length_histogram(docs: DataFrame, bucket_width: int = 200) -> DataFrame:
    """Document-length distribution at fixed-width character buckets —
    the first chart every corpus audit draws. Pure integer arithmetic
    (floor-division bucket ids); one small groupBy."""
    bucket = F.floor(F.length("text") / F.lit(bucket_width)).cast("bigint")
    return (
        docs.groupBy((bucket * bucket_width).alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


DOC_LENGTH_HISTOGRAM_SQL = """
SELECT (length(text) // 200) * 200 AS bucket_lo, count(*) AS n_docs
FROM documents GROUP BY 1
"""


def gopher_quality_flags(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stopwords: int = 2,
    max_top_word_frac: float = 0.1,
) -> DataFrame:
    """Gopher/MassiveText-style rule filter (public knowledge: Rae et
    al. 2021 §A1.1, reused by RefinedWeb/Dolma): per-doc boolean gates
    on word count, mean word length, stopword presence, and top-word
    concentration, plus the conjunctive ``passes_gopher`` verdict.

    Distributed as explode → (doc, word) count → per-doc aggregate:
    every rule falls out of ONE word-frequency aggregation — no token
    arrays are ever materialized per row, so a pathological 100 MB doc
    costs its word count, not its array width (the map-side partial
    aggregation absorbs per-doc token multiplicity before the
    shuffle). Stopword hits count DISTINCT stopwords (the aggregate
    runs over distinct (doc, word) rows), matching the published
    "at least 2 of ..." phrasing."""
    stopwords = ["the", "a", "and", "of", "to", "in", "is", "that"]
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    )
    per_word = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_word.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("top_cnt"),
        (
            F.sum(F.length("word") * F.col("cnt")) / F.sum("cnt")
        ).alias("mean_len"),
        F.sum(
            F.when(F.col("word").isin(stopwords), 1).otherwise(0)
        ).alias("stopword_hits"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round("mean_len", 6).alias("mean_word_len"),
        F.round(F.col("top_cnt") / F.col("n_words"), 6).alias("top_word_frac"),
        "stopword_hits",
        F.col("n_words").between(min_words, max_words).alias("word_count_ok"),
        F.col("mean_len").between(min_mean_len, max_mean_len).alias("word_len_ok"),
        (F.col("stopword_hits") >= min_stopwords).alias("stopword_ok"),
        (F.col("top_cnt") / F.col("n_words") <= max_top_word_frac).alias(
            "repetition_ok"
        ),
        (
            F.col("n_words").between(min_words, max_words)
            & F.col("mean_len").between(min_mean_len, max_mean_len)
            & (F.col("stopword_hits") >= min_stopwords)
            & (F.col("top_cnt") / F.col("n_words") <= max_top_word_frac)
        ).alias("passes_gopher"),
    )


def gopher_quality_flags_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stopwords: int = 2,
    max_top_word_frac: float = 0.1,
) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
  FROM documents
), per_word AS (
  SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word
), per_doc AS (
  SELECT doc_id,
         sum(cnt) AS n_words,
         count(*) AS n_distinct_words,
         max(cnt) AS top_cnt,
         sum(len(word) * cnt) * 1.0 / sum(cnt) AS mean_len,
         sum(CASE WHEN word IN ('the','a','and','of','to','in','is','that')
                  THEN 1 ELSE 0 END) AS stopword_hits
  FROM per_word GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       n_distinct_words,
       round(mean_len, 6) AS mean_word_len,
       round(top_cnt * 1.0 / n_words, 6) AS top_word_frac,
       CAST(stopword_hits AS BIGINT) AS stopword_hits,
       n_words BETWEEN {min_words} AND {max_words} AS word_count_ok,
       mean_len BETWEEN {min_mean_len} AND {max_mean_len} AS word_len_ok,
       stopword_hits >= {min_stopwords} AS stopword_ok,
       top_cnt * 1.0 / n_words <= {max_top_word_frac} AS repetition_ok,
       (n_words BETWEEN {min_words} AND {max_words})
         AND (mean_len BETWEEN {min_mean_len} AND {max_mean_len})
         AND stopword_hits >= {min_stopwords}
         AND top_cnt * 1.0 / n_words <= {max_top_word_frac} AS passes_gopher
FROM per_doc
"""


def _span_relation(docs: DataFrame, width: int) -> DataFrame:
    """``(doc_id, span)`` — each doc's DISTINCT word-``width``-gram
    spans, exploded. Shared by the boilerplate measurement and removal
    operators so their span definition is one piece of code."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        shingle_array,
        tokenized,
    )

    return (
        tokenized(docs)
        .where(F.size("toks") >= width)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingle_array("toks", width))).alias(
                "span"
            ),
        )
    )


def _hot_spans(
    docs: DataFrame, spans: DataFrame, max_doc_frac: float, min_docs: int
) -> DataFrame:
    """The boilerplate span set: spans whose document frequency clears
    ``max(min_docs, ceil(max_doc_frac × corpus))``. One definition for
    both the measurement and the removal operator — they can never
    disagree about what counts as boilerplate. Provably bounded:
    Σ df ≤ n_docs × avg_spans_per_doc, so at most
    avg_spans_per_doc / max_doc_frac spans survive, independent of
    corpus size — safe to broadcast."""
    n_docs = docs.agg(F.count(F.lit(1)).alias("__total_docs"))
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where(
            F.col("df")
            >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.lit(max_doc_frac) * F.col("__total_docs")),
            )
        )
        .select("span")
    )


def _hot_span_ctes(width: int, max_doc_frac: float, min_docs: int) -> str:
    """DuckDB twin of the span + hot-span relations as a CTE block
    (``t``, ``s``, ``nd``, ``hot``) — shared verbatim by both
    boilerplate oracles."""
    w1 = width - 1
    return f"""t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         unnest(list_distinct(
           [array_to_string(toks[i:i+{w1}], ' ')
            FOR i IN generate_series(1, greatest(len(toks) - {w1}, 0))]
         )) AS span
  FROM t WHERE len(toks) >= {width}
), nd AS (SELECT count(*) AS total FROM documents),
hot AS (
  SELECT span FROM (SELECT span, count(*) AS df FROM s GROUP BY span)
  CROSS JOIN nd
  WHERE df >= greatest({min_docs}, CAST(ceil({max_doc_frac} * total) AS BIGINT))
)"""


def boilerplate_spans(
    docs: DataFrame,
    width: int = 3,
    max_doc_frac: float = 0.005,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style cross-document boilerplate measurement, adapted
    from line granularity (this corpus has no newlines) to word
    ``width``-gram spans: a span appearing in ≥ max(min_docs,
    ceil(max_doc_frac × corpus)) distinct documents is boilerplate;
    per doc, report how much of it is made of such spans.

    Scale design: document frequency is a count-only aggregation (the
    span's doc set is never collected), and the surviving hot-span set
    is PROVABLY small — Σ df ≤ n_docs × avg_spans_per_doc, so at most
    avg_spans_per_doc / max_doc_frac spans can clear the threshold,
    independent of corpus size — which is why it is safe to broadcast
    into the per-doc flag join. Same two-pass count-then-join shape the
    LSH/ngram/simhash candidate generators use for their hot buckets."""
    spans = _span_relation(docs, width)
    hot = _hot_spans(docs, spans, max_doc_frac, min_docs).select(
        "span", F.lit(1).alias("__hot")
    )
    # totals and boilerplate counts in ONE pass over the span relation:
    # left-join the (bounded, broadcast) hot set and aggregate count +
    # conditional sum together — the explode pipeline runs twice total
    # (df pass, flag pass), never a third time for doc totals
    return (
        spans.join(F.broadcast(hot), "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("__hot"), F.lit(0))).alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_boilerplate",
            F.round(F.col("n_boilerplate") / F.col("n_spans"), 6).alias(
                "boilerplate_frac"
            ),
        )
    )


def boilerplate_spans_sql(
    width: int = 3, max_doc_frac: float = 0.005, min_docs: int = 2
) -> str:
    return f"""
WITH {_hot_span_ctes(width, max_doc_frac, min_docs)},
tot AS (
  SELECT doc_id, count(*) AS n_spans FROM s GROUP BY doc_id
), fl AS (
  SELECT doc_id, count(*) AS n_boil FROM s
  WHERE span IN (SELECT span FROM hot) GROUP BY doc_id
)
SELECT tot.doc_id, n_spans,
       coalesce(n_boil, 0) AS n_boilerplate,
       round(coalesce(n_boil, 0) * 1.0 / n_spans, 6) AS boilerplate_frac
FROM tot LEFT JOIN fl ON tot.doc_id = fl.doc_id
"""


def curation_pipeline_v2(
    docs: DataFrame,
    min_words: int = 20,
    max_boilerplate_frac: float = 0.45,
) -> DataFrame:
    """The full training-data curation flow as ONE composed plan:
    Gopher rule gates → cross-doc boilerplate cut → PII redaction →
    exact dedup on the REDACTED content (two docs differing only in
    their PII are duplicates after scrubbing — dedup must run after
    redaction, which is why the composition order is part of the
    contract).

    Composability is the point: each stage is the already-tested
    operator, stitched by doc_id equi-joins that Catalyst plans as
    one DAG — the corpus text is scanned per stage but never
    round-tripped through a sink, and the only wide operations are the
    stages' own aggregations. Output: surviving docs with their
    quality/boilerplate measurements and scrubbed-content hash."""
    from trino_iceberg_maintenance_spark.operators.pii import pii_redact

    flags = (
        gopher_quality_flags(docs, min_words=min_words)
        .where(F.col("passes_gopher"))
        .select("doc_id", "n_words")
    )
    boil = (
        boilerplate_spans(docs)
        .where(F.col("boilerplate_frac") <= max_boilerplate_frac)
        .select("doc_id", "boilerplate_frac")
    )
    base = (
        docs.select("doc_id", "lang")
        .join(flags, "doc_id")
        .join(boil, "doc_id")
        .join(pii_redact(docs), "doc_id")
        .select(
            "doc_id", "lang", "n_words", "boilerplate_frac",
            F.md5("redacted").alias("content_hash"),
        )
    )
    keepers = (
        base.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return base.join(keepers, "doc_id")


def curation_pipeline_v2_sql(
    min_words: int = 20, max_boilerplate_frac: float = 0.45
) -> str:
    from trino_iceberg_maintenance_spark.operators.pii import PII_REDACT_SQL

    return f"""
WITH gq AS ({gopher_quality_flags_sql(min_words=min_words)}),
bf AS ({boilerplate_spans_sql()}),
rd AS ({PII_REDACT_SQL}),
base AS (
  SELECT d.doc_id, d.lang, gq.n_words, bf.boilerplate_frac,
         md5(rd.redacted) AS content_hash
  FROM documents d
  JOIN gq ON d.doc_id = gq.doc_id AND gq.passes_gopher
  JOIN bf ON d.doc_id = bf.doc_id
         AND bf.boilerplate_frac <= {max_boilerplate_frac}
  JOIN rd ON d.doc_id = rd.doc_id
),
keep AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY content_hash)
SELECT base.* FROM base JOIN keep ON base.doc_id = keep.doc_id
"""


def strip_boilerplate_spans(
    docs: DataFrame,
    width: int = 3,
    max_doc_frac: float = 0.005,
    min_docs: int = 2,
) -> DataFrame:
    """The REMOVAL companion to :func:`boilerplate_spans` — CCNet
    removes the offending lines, not just counts them. Every token
    covered by at least one hot (cross-document) span is deleted and
    the document re-joined from the survivors.

    Two-phase like the measurement operator: the bounded hot-span set
    (≤ avg_spans_per_doc / max_doc_frac, corpus-size-independent) is
    folded into ONE array row and broadcast; the removal itself is a
    pure per-row expression pipeline over each doc's token array —
    indexed spans → covered-position set → surviving-token join — so
    the transform adds zero shuffles beyond the hot-set aggregation."""
    hot_arr = _hot_spans(
        docs, _span_relation(docs, width), max_doc_frac, min_docs
    ).agg(F.collect_list("span").alias("__hot"))
    w = width
    staged = (
        docs.select("doc_id", "text")
        .crossJoin(F.broadcast(hot_arr))
        .withColumn("__toks", F.expr("split(text, '\\\\s+')"))
        .withColumn(
            "__covered",
            F.expr(
                f"""CASE WHEN size(__toks) >= {w} THEN
                  array_distinct(flatten(transform(
                    filter(transform(sequence(0, size(__toks) - {w}),
                                     i -> struct(i AS i,
                                       concat_ws(' ', slice(__toks, i + 1, {w})) AS s)),
                           p -> array_contains(__hot, p.s)),
                    p -> sequence(p.i, p.i + {w - 1}))))
                ELSE array() END"""
            ),
        )
    )
    return staged.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.size("__covered").alias("n_removed"),
        F.expr(
            "concat_ws(' ', transform(filter("
            "zip_with(__toks, sequence(0, size(__toks) - 1),"
            " (t, i) -> struct(t AS t, i AS i)),"
            " z -> NOT array_contains(__covered, z.i)), z -> z.t))"
        ).alias("clean_text"),
    )


def strip_boilerplate_spans_sql(
    width: int = 3, max_doc_frac: float = 0.005, min_docs: int = 2
) -> str:
    w1 = width - 1
    return f"""
WITH {_hot_span_ctes(width, max_doc_frac, min_docs)},
hot_arr AS (SELECT coalesce(list(span), []) AS h FROM hot),
staged AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= {width} THEN
           list_distinct(flatten(
             [[j FOR j IN generate_series(i, i + {w1})]
              FOR i IN generate_series(1, len(toks) - {w1})
              IF list_contains(h, array_to_string(toks[i:i+{w1}], ' '))]))
         ELSE [] END AS covered
  FROM t CROSS JOIN hot_arr
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(covered) AS n_removed,
       coalesce(array_to_string(
         [toks[j] FOR j IN generate_series(1, len(toks))
          IF NOT list_contains(covered, j)], ' '), '') AS clean_text
FROM staged
"""


def bigram_transitions(
    docs: DataFrame, k: int = 5, min_count: int = 3
) -> DataFrame:
    """Count-based bigram LM table: for each head word, the top-``k``
    continuations with conditional probability ``P(w2|w1)`` — the
    classic n-gram LM artifact used for corpus predictability
    diagnostics and cheap LM-support scoring (the trained-model-free
    cousin of ``lm_support_scores``).

    One explode + one (w1, w2) count shuffle with map-side combine;
    the per-head total and rank are windows PARTITIONED BY w1 (never
    global), so the heaviest key costs its own continuation count.
    ``min_count`` filters the output rows only — probabilities stay
    true conditionals over all continuations."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    # tokenized(): the split runs once per row and the scan is fanned
    # out before the per-row-expensive zip/explode (a small table
    # arriving as one parquet split would otherwise explode on a
    # single core)
    pairs = tokenized(docs).select(
        F.expr(
            "explode(arrays_zip("
            "  slice(toks, 1, size(toks) - 1),"
            "  slice(toks, 2, size(toks) - 1)"
            ")) AS p"
        )
    ).select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    w_tot = Window.partitionBy("w1")
    w_rank = Window.partitionBy("w1").orderBy(
        F.col("cnt").desc(), F.col("w2").asc()
    )
    return (
        counts.withColumn("total", F.sum("cnt").over(w_tot))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where((F.col("rank") <= k) & (F.col("cnt") >= min_count))
        .select(
            "w1", "w2", "cnt", "rank",
            F.round(F.col("cnt") / F.col("total"), 6).alias("prob"),
        )
    )


def bigram_transitions_sql(k: int = 5, min_count: int = 3) -> str:
    return f"""
WITH t AS (
  SELECT regexp_split_to_array(text, '\\s+') AS toks FROM documents
), bg AS (
  SELECT unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
                 FOR i IN generate_series(1, len(toks) - 1)], recursive := true)
  FROM t WHERE len(toks) >= 2
), counts AS (
  SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2
)
SELECT w1, w2, cnt, CAST(rank AS INT) AS rank,
       round(cnt * 1.0 / total, 6) AS prob
FROM (
  SELECT w1, w2, cnt,
         sum(cnt) OVER (PARTITION BY w1) AS total,
         row_number() OVER (PARTITION BY w1
                            ORDER BY cnt DESC, w2 ASC) AS rank
  FROM counts
)
WHERE rank <= {k} AND cnt >= {min_count}
"""


def corpus_health_report(docs: DataFrame, min_words: int = 20) -> DataFrame:
    """One-row corpus health dashboard composing the curation
    families: document count, exact-duplicate fraction, Gopher pass
    rate, PII incidence, and mean cross-document boilerplate fraction
    — the summary a data-pipeline owner reads before a training run.

    Each component is the already-tested operator reduced to its
    scalar; the scalars join by broadcast crossJoins (five 1-row
    relations), so the report costs exactly the component passes and
    nothing more."""
    from trino_iceberg_maintenance_spark.operators.pii import pii_scan

    dup = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    ).agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
    ).select(
        "n_docs",
        "n_unique",
        F.round(1 - F.col("n_unique") / F.col("n_docs"), 6).alias(
            "exact_dup_fraction"
        ),
    )
    gopher = gopher_quality_flags(docs, min_words=min_words).agg(
        F.round(
            F.sum(F.when(F.col("passes_gopher"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("gopher_pass_rate")
    )
    pii = pii_scan(docs).agg(
        F.round(
            F.sum(F.when(F.col("has_pii"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("pii_doc_rate")
    )
    boil = boilerplate_spans(docs).agg(
        F.round(
            F.sum(F.col("boilerplate_frac").cast("decimal(18,6)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_boilerplate_frac")
    )
    return (
        dup.crossJoin(F.broadcast(gopher))
        .crossJoin(F.broadcast(pii))
        .crossJoin(F.broadcast(boil))
    )


def corpus_health_report_sql(min_words: int = 20) -> str:
    from trino_iceberg_maintenance_spark.operators.pii import PII_SCAN_SQL

    return f"""
WITH dup AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_unique,
         round(1 - count(*) * 1.0 / sum(c), 6) AS exact_dup_fraction
  FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
),
gq AS ({gopher_quality_flags_sql(min_words=min_words)}),
gopher AS (
  SELECT round(sum(CASE WHEN passes_gopher THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) AS gopher_pass_rate FROM gq
),
ps AS ({PII_SCAN_SQL}),
pii AS (
  SELECT round(sum(CASE WHEN has_pii THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) AS pii_doc_rate FROM ps
),
bs AS ({boilerplate_spans_sql()}),
boil AS (
  SELECT round(CAST(sum(CAST(boilerplate_frac AS DECIMAL(18,6)))
                    AS DOUBLE) / count(*), 6) AS mean_boilerplate_frac
  FROM bs
)
SELECT dup.*, gopher.gopher_pass_rate, pii.pii_doc_rate,
       boil.mean_boilerplate_frac
FROM dup CROSS JOIN gopher CROSS JOIN pii CROSS JOIN boil
"""


def lang_drift(docs: DataFrame) -> DataFrame:
    """Per-source language-distribution drift: KL divergence of each
    source's language mix against the corpus-wide mix — the monitoring
    primitive that catches a crawler or pipeline stage silently
    shifting a source's language balance between snapshots.

    Scale shape: one (source, lang) count aggregation (map-side
    partial), the corpus totals derived by re-aggregating the TINY
    (sources × langs) result — never a second scan — and the corpus
    mix joined back by broadcast. All ratios are exact count
    divisions; the ln terms sum per source over ≤ |langs| values.
    Rounding is floor-based half-up (engine ``round()`` on doubles
    diverges at shortest-repr boundaries; see ``temporal.py``)."""
    by_sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_sl")
    )
    by_s = by_sl.groupBy("source").agg(F.sum("n_sl").alias("n_s"))
    by_l = by_sl.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    total = by_sl.agg(F.sum("n_sl").alias("n_tot"))
    p_sl = F.col("n_sl").cast("double") / F.col("n_s").cast("double")
    p_l = F.col("n_l").cast("double") / F.col("n_tot").cast("double")
    term = p_sl * F.log(p_sl / p_l)
    kl = (
        by_sl.join(F.broadcast(by_s), "source")
        .join(F.broadcast(by_l), "lang")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.sum(term).alias("kl_raw"),
        )
    )
    return kl.select(
        "source",
        "n_docs",
        (F.floor(F.col("kl_raw") * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias("kl_to_corpus"),
    )


LANG_DRIFT_SQL = """
WITH by_sl AS (
    SELECT source, lang, count(*) AS n_sl
    FROM documents GROUP BY 1, 2
),
by_s AS (SELECT source, sum(n_sl) AS n_s FROM by_sl GROUP BY 1),
by_l AS (SELECT lang, sum(n_sl) AS n_l FROM by_sl GROUP BY 1),
total AS (SELECT sum(n_sl) AS n_tot FROM by_sl),
terms AS (
    SELECT x.source, y.n_s,
           (CAST(x.n_sl AS DOUBLE) / CAST(y.n_s AS DOUBLE)) *
           ln((CAST(x.n_sl AS DOUBLE) / CAST(y.n_s AS DOUBLE)) /
              (CAST(l.n_l AS DOUBLE) / CAST(t.n_tot AS DOUBLE))) AS term
    FROM by_sl x
    JOIN by_s y ON x.source = y.source
    JOIN by_l l ON x.lang = l.lang
    CROSS JOIN total t
)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
       floor(sum(term) * 1000000.0 + 0.5) / 1000000.0 AS kl_to_corpus
FROM terms
GROUP BY source
"""


def novelty_scores(docs: DataFrame) -> DataFrame:
    """Per-document novelty: the fraction of the doc's distinct
    shingles that appear NOWHERE else in the corpus — high novelty
    marks original content, near-zero novelty marks boilerplate
    remixes even when no single pair crosses a dedup threshold.

    One explode feeds the document-frequency aggregate; the per-doc
    re-aggregation rides the same exploded relation joined to the
    (small) df side — two shuffles total, arrays never hydrate onto
    pairs."""
    from trino_iceberg_maintenance_spark.operators.dedup import shingles

    sh = shingles(docs)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_shingles"), 6)
            .alias("novelty"),
        )
    )


def novelty_scores_sql() -> str:
    from trino_iceberg_maintenance_spark.operators.dedup import shingles_sql

    return f"""
WITH sh AS ({shingles_sql()}),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS novelty
FROM sh s JOIN dfreq d ON s.shingle = d.shingle
GROUP BY s.doc_id
"""


# -- round-5 additions: sketches + distribution diagnostics -----------------


def kmv_ndv(docs: DataFrame, k: int = 128) -> DataFrame:
    """Per-source distinct-vocabulary estimate via a KMV (k minimum
    values) sketch — the mergeable distinct-count sketch family
    (Bar-Yossef et al. 2002) that incremental ANALYZE-style pipelines
    ship instead of exact distinct sets.

    DETERMINISTIC (oracle-checkable): the hash is md5 (identical hex
    in every engine), normalized to [0,1) from its first 15 hex chars
    — so the k-th minimum, and therefore the estimate
    ``(k-1)/u_k``, is engine-exact. Sources with fewer than ``k``
    distinct tokens report their exact count (the sketch is lossless
    below k).

    Scale shape: one (source, token) distinct shuffle, then a
    source-partitioned window over AT MOST the distinct vocabulary —
    the sketch state per source is k values, the classic 100 TB NDV
    path (HLL is the constant-factor-smaller alternative; KMV is the
    one with an exact cross-engine twin)."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    st = (
        tokenized(docs, id_col="source")
        .select(F.col("doc_id").alias("source"),
                F.explode_outer("toks").alias("token"))
        .where(F.col("token").isNotNull())
        .distinct()
    )
    # 15 hex chars = 60 bits; bigint→double rounds half-even in every
    # IEEE engine, /2^60 is exact scaling → u is engine-identical
    u = (
        F.conv(F.substring(F.md5("token"), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(float(16**15))
    )
    w = Window.partitionBy("source").orderBy(F.col("u").asc(), F.col("token").asc())
    ranked = st.select("source", u.alias("u"), "token").select(
        "source",
        "u",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_distinct"),
    )
    return (
        ranked.where(
            (F.col("rn") == F.least(F.lit(k), F.col("n_distinct")))
        )
        .select(
            "source",
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.when(F.col("n_distinct") < k, F.col("n_distinct").cast("double"))
            .otherwise(F.round(F.lit(float(k - 1)) / F.col("u"), 6))
            .alias("kmv_estimate"),
        )
    )


def kmv_ndv_sql(k: int = 128) -> str:
    return f"""
WITH st AS (
  SELECT DISTINCT source, t AS token
  FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  WHERE t IS NOT NULL
),
h AS (
  SELECT source, token,
         CAST(CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT)
              AS DOUBLE) / {float(16**15)!r} AS u
  FROM st
),
r AS (
  SELECT source, u,
         row_number() OVER (PARTITION BY source ORDER BY u ASC, token ASC)
           AS rn,
         count(*) OVER (PARTITION BY source) AS n_distinct
  FROM h
)
SELECT source,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CASE WHEN n_distinct < {k} THEN CAST(n_distinct AS DOUBLE)
            ELSE round({float(k - 1)!r} / u, 6) END AS kmv_estimate
FROM r
WHERE rn = least({k}, n_distinct)
"""


HLL_P = 8  # 2^8 = 256 registers — the classic 1.04/sqrt(m) ≈ 6.5% rse


def hll_ndv(docs: DataFrame, p: int = HLL_P) -> DataFrame:
    """Per-source distinct-vocabulary estimate via HyperLogLog
    (Flajolet et al. 2007) — the constant-factor-smaller sibling of
    :func:`kmv_ndv` (m registers of one byte vs k hashes), completing
    the sketch family (KMV, CMS, HLL) that incremental ANALYZE-style
    pipelines merge across partitions.

    DETERMINISTIC (oracle-checkable): md5 again. Register = the first
    2 hex chars (8 bits); rho = leading-zero count of the next 60 bits
    + 1, derived from the BIT LENGTH of the value via base-2 STRING
    conversion (``conv``/``bin`` — exact in both engines, no
    float log2 at integer boundaries). The indicator sum runs as
    exact integers: sum(2^(61 - rho)) per source in DECIMAL(38,0)
    (max 256·2^60 ≈ 3e20, far under 38 digits), absent registers
    contributing 2^61 each; the single closing division and the
    linear-counting ``ln`` are one IEEE op each, rounded to 6 dp.

    Scale shape: one (source, token) distinct shuffle, then a
    (source, register) max — sketch state per source is m bytes, the
    100 TB NDV path with mergeable partial aggregates (the per-register
    MAX is associative, so map-side combine does most of the work)."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    st = (
        tokenized(docs, id_col="source")
        .select(F.col("doc_id").alias("source"),
                F.explode_outer("toks").alias("token"))
        .where(F.col("token").isNotNull())
        .distinct()
    )
    h = st.select(
        "source",
        F.conv(F.substring(F.md5("token"), 1, 2), 16, 10)
        .cast("int")
        .alias("reg"),
        F.conv(F.substring(F.md5("token"), 3, 15), 16, 10)
        .cast("bigint")
        .alias("v"),
    )
    # rho = leading zeros of the 60-bit field + 1 = 61 - bit_length(v)
    rho = F.when(F.col("v") == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.conv(F.col("v").cast("string"), 10, 2))
    )
    # n_distinct rides along as a per-register count (st is already
    # distinct) summed in the rollup — ONE scan of the tokenized
    # relation serves both the sketch and the exact count; a separate
    # exact aggregate joined back would re-run the tokenize + distinct
    # (Spark does not dedup common subplans without caching)
    regs = (
        h.select("source", "reg", rho.alias("rho"))
        .groupBy("source", "reg")
        .agg(
            F.max("rho").alias("max_rho"),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    per_src = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(61) - F.col("max_rho"))
            .cast("decimal(38,0)")
        ).alias("z_hit"),
        F.sum("n_toks").alias("n_distinct"),
    )
    # absent registers: rho "0" ⇒ indicator 2^0 = 1 ⇒ scaled 2^61 each
    z_scaled = (
        F.col("z_hit").cast("double")
        + (F.lit(m) - F.col("n_regs")).cast("double") * F.lit(float(2**61))
    )
    raw_e = F.lit(alpha * m * m) / (z_scaled / F.lit(float(2**61)))
    zeros = F.lit(m) - F.col("n_regs")
    # small-range correction: linear counting when E <= 2.5m and
    # some register is still empty
    est = F.when(
        (raw_e <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw_e)
    return per_src.select(
        "source",
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.round(est, 6).alias("hll_estimate"),
    )


def hll_ndv_sql(p: int = HLL_P) -> str:
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two61 = float(2**61)
    return f"""
WITH st AS (
  SELECT DISTINCT source, t AS token
  FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  WHERE t IS NOT NULL
),
h AS (
  SELECT source,
         CAST(CAST(concat('0x', substr(md5(token), 1, 2)) AS BIGINT)
              AS INT) AS reg,
         CAST(concat('0x', substr(md5(token), 3, 15)) AS BIGINT) AS v
  FROM st
),
regs AS (
  SELECT source, reg,
         max(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END)
           AS max_rho,
         count(*) AS n_toks
  FROM h GROUP BY 1, 2
),
per_src AS (
  SELECT source, count(*) AS n_regs,
         sum(CAST(pow(2.0, 61 - max_rho) AS DECIMAL(38,0))) AS z_hit,
         sum(n_toks) AS n_distinct
  FROM regs GROUP BY 1
)
SELECT source,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(
         CASE WHEN {alpha * m * m!r}
                   / ((CAST(z_hit AS DOUBLE)
                       + ({m} - n_regs) * {two61!r}) / {two61!r})
                   <= {2.5 * m!r}
                   AND ({m} - n_regs) > 0
              THEN {float(m)!r}
                   * ln({float(m)!r} / CAST({m} - n_regs AS DOUBLE))
              ELSE {alpha * m * m!r}
                   / ((CAST(z_hit AS DOUBLE)
                       + ({m} - n_regs) * {two61!r}) / {two61!r})
         END, 6) AS hll_estimate
FROM per_src
"""


def zipf_fit(docs: DataFrame, top_ranks: int = 50) -> DataFrame:
    """Per-source Zipf exponent: least-squares slope of log(freq) vs
    log(rank) over the top ``top_ranks`` tokens — the standard
    rank-frequency health check for a text corpus (natural language
    sits near -1; templated/synthetic text drifts shallow).

    Cross-engine exact: each log term is rounded to 9 dp and summed in
    DECIMAL (order-free); only the final slope division runs in
    IEEE double (one correctly-rounded op), rounded to 6 dp."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    counts = (
        tokenized(docs, id_col="source")
        .select(F.col("doc_id").alias("source"),
                F.explode_outer("toks").alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    ranked = counts.select(
        "source", "cnt", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= top_ranks)
    x = F.round(F.log(F.col("rank").cast("double")), 9).cast("decimal(38,18)")
    y = F.round(F.log(F.col("cnt").cast("double")), 9).cast("decimal(38,18)")
    xy = F.round(
        F.log(F.col("rank").cast("double")) * F.log(F.col("cnt").cast("double")),
        9,
    ).cast("decimal(38,18)")
    xx = F.round(
        F.log(F.col("rank").cast("double")) * F.log(F.col("rank").cast("double")),
        9,
    ).cast("decimal(38,18)")
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(xy).alias("sxy"),
        F.sum(xx).alias("sxx"),
    )
    # the closing arithmetic runs in DOUBLE on exact decimal sums: a
    # fixed expression tree of IEEE ops is engine-identical, while a
    # decimal×decimal product would overflow DECIMAL(38,·) scale rules
    # differently per engine
    nd = F.col("n_ranks").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    # n_ranks == 1 makes the denominator exactly 0: Spark's non-ANSI
    # double division yields NULL there while DuckDB yields inf/nan —
    # pin the degenerate case to an EXPLICIT NULL in both engines
    return agg.select(
        "source",
        F.col("n_ranks").cast("bigint").alias("n_ranks"),
        F.when(
            F.col("n_ranks") >= 2,
            F.round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6),
        ).alias("zipf_slope"),
    )


def zipf_fit_sql(top_ranks: int = 50) -> str:
    return f"""
WITH counts AS (
  SELECT source, t AS token, count(*) AS cnt
  FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  WHERE t IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT source, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, token ASC) AS rank
  FROM counts
  QUALIFY rank <= {top_ranks}
),
terms AS (
  SELECT source,
         CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(38,18)) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(38,18)) AS y,
         CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 9)
              AS DECIMAL(38,18)) AS xy,
         CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 9)
              AS DECIMAL(38,18)) AS xx
  FROM ranked
),
agg AS (
  SELECT source, count(*) AS n_ranks,
         sum(x) AS sx, sum(y) AS sy, sum(xy) AS sxy, sum(xx) AS sxx
  FROM terms GROUP BY 1
)
SELECT source, CAST(n_ranks AS BIGINT) AS n_ranks,
       CASE WHEN n_ranks >= 2 THEN
         round((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS zipf_slope
FROM agg
"""


def word_entropy(docs: DataFrame) -> DataFrame:
    """Per-doc unigram Shannon entropy (bits) — the
    repetition/diversity signal curation pipelines threshold on
    (low entropy = templated or looping text).

    One (doc, token) aggregation + a doc-partitioned window; each
    ``-p·log2(p)`` term is rounded to 9 dp and summed in DECIMAL so
    the per-doc total is summation-order-free and engine-exact."""
    counts = docs.select(
        "doc_id", F.explode_outer(F.split("text", r"\s+")).alias("token")
    ).where(F.col("token").isNotNull()).groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.round(-p * F.log2(p), 9).cast("decimal(38,18)")
    terms = counts.select(
        "doc_id", "c", n.alias("n")
    ).select("doc_id", "n", term.alias("term"))
    return terms.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.sum("term").cast("double"), 6).alias("entropy_bits"),
    )


def word_entropy_sql(src: str = "documents") -> str:
    return rf"""
WITH counts AS (
  SELECT doc_id, t AS token, count(*) AS c
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
        FROM {src})
  WHERE t IS NOT NULL
  GROUP BY 1, 2
),
withn AS (
  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM counts
),
terms AS (
  SELECT doc_id, n,
         CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9)
              AS DECIMAL(38,18)) AS term
  FROM withn
)
SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       round(CAST(sum(term) AS DOUBLE), 6) AS entropy_bits
FROM terms
GROUP BY doc_id
"""


BM25_K1 = 1.2
BM25_B = 0.75
#: fixed demo query — high-frequency corpus terms so every doc scores
BM25_QUERY = ("spark", "table", "scan")


def bm25_scores(
    docs: DataFrame,
    query_terms: tuple = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_n: int = 100,
) -> DataFrame:
    """Okapi BM25 retrieval scores for a fixed query — the lexical
    half of hybrid (keyword + vector) search, and the classic
    inverted-index ranking function.

    Plan shape: ONE (doc, term) count aggregation restricted to the
    query terms (the filter pushes below the explode's shuffle — the
    stream is query-terms-sized, not corpus-vocabulary-sized), idf
    from a query-terms-sized aggregate (broadcast), avgdl from a 1-row
    aggregate (broadcast). Nothing scales with vocabulary.

    Document length is a MAP-SIDE expression (optimization r14, guide
    §2.3/§2.4): ``size(split(text))`` equals the old
    explode-then-count — split never returns an empty array, and a
    NULL text (one explode_outer row) is the explicit ``when`` branch
    — so the (doc, token)-grained exchange that aggregated dl (a full
    corpus-token shuffle at scale) is gone; dl/stats now cost one
    projected scan. The query-terms-sized ``tf`` is materialized once
    (lazy localCheckpoint) because the ranking tail reads it twice —
    before, each reference re-ran the corpus explode (the before/after
    plan dumps in git history read 8 → 3 corpus scans).

    Cross-engine exact: idf and the per-term saturation are fixed IEEE
    expression trees on exact integer counts; per-doc sums run over
    9dp-rounded decimal terms."""
    terms_lit = ", ".join(f"'{t}'" for t in query_terms)
    toks = docs.select(
        "doc_id", F.explode_outer(F.split("text", r"\s+")).alias("term")
    )
    dl = docs.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(1))
        .otherwise(F.size(F.split("text", r"\s+")))
        .cast("bigint")
        .alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = (
        toks.where(F.expr(f"term IN ({terms_lit})"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    return _bm25_rank(tf, dl, stats, k1, b, top_n)


def _bm25_rank(tf, dl, stats, k1: float, b: float, top_n: int):
    """Shared scoring tail for :func:`bm25_scores` (inline) and
    :func:`bm25_from_index` (persisted postings): identical
    expression tree on identical inputs ⇒ identical floats. ``tf`` =
    (doc_id, term, tf) restricted to the query terms; ``dl`` =
    (doc_id, dl); ``stats`` = 1-row (n_docs, total_len)."""
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # idf with the standard +0.5 smoothing; avgdl as one IEEE division
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(stats))
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "term",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (
                    F.col("tf")
                    * (k1 + 1.0)
                    / (
                        F.col("tf")
                        + k1
                        * (
                            1.0
                            - b
                            + b
                            * F.col("dl").cast("double")
                            / (
                                F.col("total_len").cast("double")
                                / F.col("n_docs").cast("double")
                            )
                        )
                    )
                ),
                9,
            )
            .cast("decimal(38,18)")
            .alias("contrib"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.round(F.sum("contrib").cast("double"), 6).alias("bm25"),
    )
    # top-n via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps + driver merge of top_n), then rank the BOUNDED result —
    # never a global-order row_number window over the scored set
    top = out.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(
        top_n
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def bm25_scores_sql(
    query_terms: tuple = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_n: int = 100,
) -> str:
    terms_lit = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term IN ({terms_lit})
  GROUP BY 1, 2
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (tf.tf * ({k1!r} + 1.0)
              / (tf.tf + {k1!r} * (1.0 - {b!r}
                 + {b!r} * CAST(l.dl AS DOUBLE)
                   / (CAST(s.total_len AS DOUBLE)
                      / CAST(s.n_docs AS DOUBLE))))), 9)
           AS DECIMAL(38,18)) AS contrib
  FROM tf JOIN dft d USING (term)
  CROSS JOIN stats s
  JOIN dl l ON tf.doc_id = l.doc_id
)
SELECT doc_id, n_terms_hit, bm25, CAST(rn AS INT) AS rank
FROM (
  SELECT doc_id, count(*) AS n_terms_hit,
         round(CAST(sum(contrib) AS DOUBLE), 6) AS bm25,
         row_number() OVER (
           ORDER BY round(CAST(sum(contrib) AS DOUBLE), 6) DESC,
                    doc_id ASC) AS rn
  FROM scored GROUP BY doc_id
)
WHERE rn <= {top_n}
"""


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID confusion matrix: labeled vs predicted counts with
    per-label share — the QA aggregate over :func:`lang_id` that a
    curation deployment watches when tuning marker lists. Pure
    composition: per-row scoring (no shuffle) + one (label, pred)
    aggregation."""
    pred = lang_id(docs)
    per = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = Window.partitionBy("labeled_lang")
    return per.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(tot).cast("double"),
            6,
        ).alias("share_of_label"),
    )


def lang_confusion_sql() -> str:
    return f"""
WITH pred AS ({lang_id_sql()}),
per AS (
  SELECT labeled_lang, predicted_lang, count(*) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT labeled_lang, predicted_lang, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / CAST(sum(n_docs) OVER (PARTITION BY labeled_lang)
                    AS DOUBLE), 6) AS share_of_label
FROM per
"""


CMS_ROWS = 4
CMS_WIDTH = 256


def cms_frequencies(
    docs: DataFrame,
    n_rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
    top_n: int = 20,
) -> DataFrame:
    """Count-Min Sketch frequency estimation (Cormode & Muthukrishnan
    2005) audited against truth: build an ``n_rows × width`` sketch
    over corpus tokens, then report estimated vs exact counts (and
    the overestimate error) for the ``top_n`` true heaviest tokens.

    DETERMINISTIC: row *i*'s bucket is hex slice *i* of ``md5(token)``
    mod ``width`` — identical in every engine, so the sketch cells,
    the min-over-rows estimate, and the error column are
    oracle-exact. Sketch state is ``n_rows × width`` counters
    regardless of corpus size — the frequency analog of the KMV/HLL
    distinct sketches, and the structure a streaming deployment keeps
    when exact per-token counts stop fitting anywhere.

    Plan: one (row, bucket) aggregation over tokens×n_rows (map-side
    combined into ≤ n_rows·width partials per task), a TakeOrdered
    top-n of true counts, and a broadcast join of probes against the
    tiny sketch relation. The scan is fanned to cluster parallelism
    before the per-token md5 work (optimization r14: the stage sweep
    read the explode+hash pass as a 1-task 0.9 s-CPU stage off the
    single parquet split — the same fan_out contract the dedup
    tokenizer and the ANN corpus sides use; a no-op once the scan is
    wider than the cluster)."""
    if n_rows * 4 > 32:
        raise ValueError(
            f"n_rows={n_rows}: md5 yields only 8 disjoint 4-hex-char "
            "slices (n_rows * 4 must be <= 32) — beyond that the Spark "
            "side would silently degrade to NULL buckets and the "
            "DuckDB twin would error"
        )
    from trino_iceberg_maintenance_spark.sources.tables import fan_out

    toks = fan_out(docs.select("text")).select(
        F.explode_outer(F.split("text", r"\s+")).alias("token")
    ).where(F.col("token").isNotNull())

    def bucket(i):
        return (
            F.conv(F.substring(F.md5("token"), 1 + 4 * i, 4), 16, 10)
            .cast("bigint")
            % width
        )

    cells = (
        toks.select(
            "token",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("r"), bucket(i).alias("b")
                    )
                    for i in range(n_rows)
                ])
            ).alias("rb"),
        )
        .select(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    truth = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("token").asc())
        .limit(top_n)
    )
    probes = truth.select(
        "token",
        "true_count",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), bucket(i).alias("b"))
                for i in range(n_rows)
            ])
        ).alias("rb"),
    ).select("token", "true_count", F.col("rb.r").alias("r"),
             F.col("rb.b").alias("b"))
    est = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("token", "true_count")
        .agg(F.min("cell").cast("bigint").alias("cms_estimate"))
    )
    return est.select(
        "token",
        F.col("true_count").cast("bigint").alias("true_count"),
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count"))
        .cast("bigint")
        .alias("overestimate"),
    )


def cms_frequencies_sql(
    n_rows: int = CMS_ROWS, width: int = CMS_WIDTH, top_n: int = 20
) -> str:
    def bucket(i, tok="token"):
        return (
            f"CAST(concat('0x', substr(md5({tok}), {1 + 4 * i}, 4)) "
            f"AS BIGINT) % {width}"
        )

    rb_rows = " UNION ALL ".join(
        f"SELECT {i} AS r, {bucket(i)} AS b, token FROM toks"
        for i in range(n_rows)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT token, true_count, {i} AS r, {bucket(i)} AS b FROM truth"
        for i in range(n_rows)
    )
    return f"""
WITH toks AS (
  SELECT t AS token
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  WHERE t IS NOT NULL
),
cells AS (
  SELECT r, b, count(*) AS cell FROM ({rb_rows}) GROUP BY 1, 2
),
truth AS (
  SELECT token, count(*) AS true_count
  FROM toks GROUP BY 1
  ORDER BY true_count DESC, token ASC LIMIT {top_n}
),
probes AS ({probe_rows}),
est AS (
  SELECT p.token, p.true_count,
         CAST(min(c.cell) AS BIGINT) AS cms_estimate
  FROM probes p JOIN cells c USING (r, b)
  GROUP BY 1, 2
)
SELECT token, CAST(true_count AS BIGINT) AS true_count, cms_estimate,
       CAST(cms_estimate - true_count AS BIGINT) AS overestimate
FROM est
"""


ENTROPY_GATE_BITS = 3.0


def curation_pipeline_v3(
    docs: DataFrame, min_entropy: float = ENTROPY_GATE_BITS
) -> DataFrame:
    """Round-5 curation DAG composing the new signals: score every
    doc (unigram entropy + DSIR importance toward the en slice), GATE
    on entropy ≥ ``min_entropy`` bits AND a positive DSIR log-weight
    (more target-like than the raw corpus), then strip
    corpus-duplicated 8-gram spans from the survivors — the
    score → gate → clean shape of a production curation stage, one
    Catalyst DAG end to end.

    Each component keeps its own scale shape (see word_entropy /
    dsir_weights / dedup_spans); the composition adds only doc-keyed
    joins."""
    from trino_iceberg_maintenance_spark.operators.dedup import dedup_spans
    from trino_iceberg_maintenance_spark.operators.sampling import (
        dsir_weights,
    )

    ent = word_entropy(docs).select("doc_id", "entropy_bits")
    w = dsir_weights(docs).select("doc_id", "dsir_logweight")
    gated = (
        docs.join(ent, "doc_id")
        .join(w, "doc_id")
        .where(
            (F.col("entropy_bits") >= min_entropy)
            & (F.col("dsir_logweight") > 0.0)
        )
    )
    # span duplication is judged against the FULL corpus (a span is
    # boilerplate no matter which side of the gate its twin lives on),
    # then restricted to the gated survivors
    cleaned = dedup_spans(docs.select("doc_id", "text")).join(
        gated.select("doc_id"), "doc_id", "left_semi"
    )
    return (
        gated.select("doc_id", "entropy_bits", "dsir_logweight")
        .join(cleaned, "doc_id")
        .select(
            "doc_id",
            "entropy_bits",
            "dsir_logweight",
            "n_removed",
            "clean_text",
        )
    )


def curation_pipeline_v3_sql(min_entropy: float = ENTROPY_GATE_BITS) -> str:
    from trino_iceberg_maintenance_spark.operators.dedup import (
        dedup_spans_sql,
    )
    from trino_iceberg_maintenance_spark.operators.sampling import (
        dsir_weights_sql,
    )

    return f"""
WITH ent AS ({word_entropy_sql()}),
w AS ({dsir_weights_sql()}),
gated AS (
  SELECT d.doc_id, d.text, e.entropy_bits, w.dsir_logweight
  FROM documents d
  JOIN ent e ON d.doc_id = e.doc_id
  JOIN w ON d.doc_id = w.doc_id
  WHERE e.entropy_bits >= {min_entropy!r} AND w.dsir_logweight > 0.0
),
spans AS (
  SELECT s.* FROM ({dedup_spans_sql()}) s
  SEMI JOIN gated g ON s.doc_id = g.doc_id
)
SELECT g.doc_id, g.entropy_bits, g.dsir_logweight,
       s.n_removed, s.clean_text
FROM gated g JOIN spans s ON g.doc_id = s.doc_id
"""


def winnowing_fingerprints(
    docs: DataFrame, k: int = 3, window: int = 4
) -> DataFrame:
    """Positional winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS fingerprint selector): hash every word-``k``-gram, slide
    a window of ``window`` consecutive hashes, and in each window
    select the minimum hash, breaking ties by the RIGHTMOST position.
    The distinct selected ``(pos, hash)`` pairs are the document's
    fingerprints — the guarantee is that any two documents sharing a
    run of ``window + k - 1`` words share at least one fingerprint,
    with density ~2/(window+1) of all grams.

    Complements :func:`fingerprints` (bottom-k sketch, fixed size per
    doc): winnowing is position-aware and coverage-guaranteed, the
    right primitive for plagiarism/contamination span localization.

    Scale shape: entirely map-side until the single Generate — the
    hash array, the O(n·window) window-min scan, and the distinct
    position list are per-row array expressions inside whole-stage
    codegen over the fanned-out scan; no shuffle at all (positions
    are distinct per doc by construction, so no final dedup). At
    100 TB this is a linear pass over the corpus."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        shingle_array,
        tokenized,
    )

    w = window
    # rightmost argmin per window: first match in the REVERSED slice
    # is the last match in the original — array_position is 1-based,
    # so global pos = i + w - pos_from_right.
    poss = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(hs) - {w - 1}), "
            f"i -> i + {w} - array_position(reverse(slice(hs, i, {w})), "
            f"array_min(slice(hs, i, {w}))))"
        )
    )
    return (
        tokenized(docs)
        .where(F.size("toks") >= k + w - 1)
        .select(
            "doc_id",
            F.transform(shingle_array("toks", k), F.md5).alias("hs"),
        )
        # explode_OUTER, not explode: InferFiltersFromGenerate would
        # add a size(poss) > 0 filter whose pushdown substitutes the
        # whole O(n·window) winnowing expression below the fan-out
        # exchange — computed twice per row and serialized onto the
        # scan's single input split (the shingles() lesson; measured
        # 72 s → 2 s at sf0.01). poss is never empty here: the
        # size(toks) gate guarantees at least one window.
        .select("doc_id", "hs", poss.alias("poss"))
        .select("doc_id", "hs", F.explode_outer("poss").alias("pos"))
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.element_at("hs", F.col("pos").cast("int")).alias("gram_hash"),
        )
    )


def winnowing_fingerprints_sql(k: int = 3, window: int = 4) -> str:
    w = window
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
hs AS (
  SELECT doc_id,
         [md5(array_to_string(t[i:i+{k - 1}], ' '))
          FOR i IN generate_series(1, len(t) - {k - 1})] AS hs
  FROM toks WHERE len(t) >= {k + w - 1}
),
sel AS (
  SELECT doc_id, hs,
         list_distinct(
           [i + {w} - list_position(list_reverse(hs[i:i+{w - 1}]),
                                    list_min(hs[i:i+{w - 1}]))
            FOR i IN generate_series(1, len(hs) - {w - 1})]) AS poss
  FROM hs
)
SELECT doc_id, pos, hs[pos] AS gram_hash
FROM (SELECT doc_id, hs, unnest(poss) AS pos FROM sel)
"""


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020):
    per language, rank documents by their corpus-LM support score
    (:func:`lm_support_scores` — the engine-stable stand-in for LM
    perplexity) and split into thirds. ``head`` is the best-supported
    third — CCNet trains on head+middle and drops tail.

    Every reported aggregate is order-independent and engine-exact:
    counts, an integer bigram sum, and min/max of the (already
    per-doc-rounded) support ratio — no float mean whose addition
    order could diverge between engines.

    Scale shape: the ranking is one ntile window per language —
    exact audit grain, parallel across languages. At 100 TB the
    cut-points would come from the two-phase quantile pattern
    (:func:`~..operators.sampling.equi_depth_buckets` /
    ``curriculum_order``) instead of a per-language global sort; this
    operator is the exact-threshold twin that validates those."""
    from pyspark.sql import Window

    scores = lm_support_scores(docs)
    nt = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(
            F.col("support_ratio").desc(), F.col("doc_id")
        )
    )
    return (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .select("lang", "support_ratio", "n_bigrams", nt.alias("nt"))
        .groupBy(
            "lang",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.min("support_ratio").alias("min_support"),
            F.max("support_ratio").alias("max_support"),
        )
    )


def perplexity_buckets_sql() -> str:
    return f"""
WITH lm AS ({LM_SUPPORT_SQL}),
b AS (
  SELECT d.lang, lm.support_ratio, lm.n_bigrams,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY lm.support_ratio DESC, lm.doc_id) AS nt
  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
)
SELECT lang,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       min(support_ratio) AS min_support,
       max(support_ratio) AS max_support
FROM b GROUP BY 1, 2
"""


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Contamination LOCALIZATION (the span-level follow-up to
    :func:`~..operators.dedup.contamination_check`'s per-doc
    fraction): which token ranges of each training document match the
    benchmark. Winnowing fingerprints mark the corpus side; marks
    whose gram appears anywhere in the benchmark are coalesced into
    contiguous spans by the classic gaps-and-islands fold — within a
    genuinely shared run, selected winnowing positions are at most
    ``window`` apart (the density guarantee), so a position gap
    greater than ``window`` starts a new span.

    Output per span: ``doc_id, span_start, span_end`` (1-based token
    indices, inclusive) and ``n_marks`` (fingerprints inside it) —
    the actionable grain: pipelines excise the span, not the doc.

    Scale shape: the benchmark gram set is eval-suite-sized —
    broadcast; the corpus side is the linear winnowing pass, probed
    map-side. The only shuffles are the per-doc window sort over
    MATCHED marks (contaminated docs only, a tiny slice of a clean
    corpus) and their span rollup."""
    from pyspark.sql import Window
    from trino_iceberg_maintenance_spark.operators.dedup import shingles

    bench_grams = (
        shingles(benchmark, width=k)
        .select(F.md5("shingle").alias("gram_hash"))
        .distinct()
    )
    hits = winnowing_fingerprints(docs, k, window).join(
        F.broadcast(bench_grams), "gram_hash"
    )
    seq = Window.partitionBy("doc_id").orderBy("pos")
    marked = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") - F.lag("pos").over(seq) > window, 1
        ).otherwise(0).alias("brk"),
    )
    grouped = marked.select(
        "doc_id", "pos",
        F.sum("brk").over(
            seq.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("grp"),
    )
    return (
        grouped.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_marks"),
        )
        .select("doc_id", "span_start", "span_end", "n_marks")
    )


def contamination_spans_sql(
    k: int = 3, window: int = 4, bench_mod: int = 97
) -> str:
    """DuckDB twin — benchmark = the ``doc_id % bench_mod = 0`` slice
    (mirrors the queries() wiring), corpus = the rest."""
    return f"""
WITH wf AS ({winnowing_fingerprints_sql(k, window)}),
bench AS (
  SELECT DISTINCT md5(array_to_string(t[i:i+{k - 1}], ' ')) AS gram_hash
  FROM (SELECT regexp_split_to_array(text, '\\s+') AS t FROM documents
        WHERE doc_id % {bench_mod} = 0),
       LATERAL unnest(generate_series(1, len(t) - {k - 1})) AS u(i)
  WHERE len(t) >= {k}
),
hits AS (
  SELECT wf.doc_id, wf.pos FROM wf
  JOIN bench USING (gram_hash)
  WHERE wf.doc_id % {bench_mod} <> 0
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {window} THEN 1 ELSE 0 END AS brk
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grouped AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
)
SELECT doc_id,
       min(pos) AS span_start,
       CAST(max(pos) + {k - 1} AS BIGINT) AS span_end,
       count(*) AS n_marks
FROM grouped GROUP BY doc_id, grp
"""


# -- persisted BM25 lexical index -------------------------------------------


def _bm25_index_rows(docs: DataFrame) -> DataFrame:
    """Index rows for a doc batch: full-vocabulary postings
    (kind='posting': term, doc_id, tf) plus per-doc lengths
    (kind='docstat': doc_id, dl). One tokenize + two aggregations."""
    toks = docs.select(
        "doc_id", F.explode_outer(F.split("text", r"\s+")).alias("term")
    )
    posting = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("val"))
        .select(F.lit("posting").alias("kind"), "term", "doc_id", "val")
    )
    docstat = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("val"))
        .select(
            F.lit("docstat").alias("kind"),
            F.lit(None).cast("string").alias("term"),
            "doc_id",
            "val",
        )
    )
    return posting.unionByName(docstat)


def build_bm25_index(index_table, docs: DataFrame,
                     properties: dict | None = None):
    """Persist a BM25 inverted index INTO a maintained table — the
    lexical member of the persisted-index family (MinHash dedup
    index, IVF ANN index): postings and doc lengths get snapshots,
    compaction, expiry, and z-order like any other table, and query
    time pays ZERO corpus scans. TIP: create the index table with
    ``partition_cols=["kind"]`` and ``optimize(sort_by=["term"])`` it
    — query-term filters then prune to the posting partition and skip
    files by footer stats."""
    return index_table.append(_bm25_index_rows(docs), single_file=False,
                              properties=properties)


def extend_bm25_index(index_table, new_docs: DataFrame,
                      properties: dict | None = None,
                      ensure_novel: bool = False):
    """Append postings/lengths for NEW documents — O(batch), nothing
    rescanned. Caller guarantees novelty (the ingestion pipeline's
    dedup gate); re-indexing a doc_id would double-count its rows.

    ``ensure_novel=True`` enforces that contract with a batch-vs-index
    anti-check before the append (one docstat-partition semi-join —
    O(index doc count), NOT O(postings); opt-in because stage 6
    extends from a snapshot diff, which already guarantees novelty).
    Violations also fail loudly at query time: :func:`bm25_from_index`
    trips on duplicate docstat rows."""
    if ensure_novel:
        snap = index_table.current_snapshot()
        if snap is not None and snap.files:
            existing = index_table.read().where(
                F.col("kind") == "docstat"
            ).select("doc_id")
            dupes = [
                r["doc_id"]
                for r in new_docs.select("doc_id").distinct()
                .join(existing, "doc_id", "left_semi").limit(3).collect()
            ]
            if dupes:
                raise ValueError(
                    f"extend_bm25_index: doc_ids already indexed: {dupes}"
                )
        # an empty index (bootstrap through the gate) is trivially
        # novel — build ≡ extend is the documented BM25 contract
    return index_table.append(_bm25_index_rows(new_docs),
                              single_file=False, properties=properties)


def bm25_from_index(
    index_table,
    query_terms: tuple = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_n: int = 100,
) -> DataFrame:
    """BM25 top-n against the PERSISTED index — bit-identical to
    :func:`bm25_scores` over the same corpus (both rank through
    :func:`_bm25_rank`, and tf/dl/n_docs/total_len are exact integer
    aggregates either way).

    Scale shape: the posting read is term-filtered (a pushed-down IN
    over a kind-pruned, term-sorted partition — file skipping does
    the rest), so the scored stream is query-terms-sized; df comes
    from that same stream; corpus stats are one aggregate over the
    docstat partition (doc-count-sized, no text read). The corpus'
    TEXT is never touched at query time."""
    terms_lit = list(query_terms)
    if index_table.partition_cols == ["kind"]:
        # the pruned fast path must see the SAME merge-on-read row set
        # as read(): route the file subsets through _read_effective
        # (delete application is per-file-independent, so a partition
        # subset stays sound) — a retraction committed as a delete
        # file (e.g. delete_by_key on a doc's postings) would
        # otherwise score differently between the two branches
        snap = index_table.current_snapshot()
        entries = list(snap.delete_files or []) if snap else None
        pfiles, _ = index_table.prune_files_by_partition(
            "kind", eq="posting"
        )
        dfiles, _ = index_table.prune_files_by_partition(
            "kind", eq="docstat"
        )
        postings = index_table._read_effective(pfiles, entries).where(
            F.col("kind") == "posting"
        )
        docstats = index_table._read_effective(dfiles, entries).where(
            F.col("kind") == "docstat"
        )
    else:
        idx = index_table.read()
        postings = idx.where(F.col("kind") == "posting")
        docstats = idx.where(F.col("kind") == "docstat")
    tf = postings.where(F.col("term").isin(terms_lit)).select(
        "doc_id", "term", F.col("val").alias("tf")
    )
    dl = docstats.select("doc_id", F.col("val").alias("dl"))
    # corruption tripwire: extend's novelty contract (one docstat row
    # per doc_id) is what keeps n_docs/total_len exact — if a doc_id
    # was ever re-indexed, fail the query loudly instead of silently
    # skewing every score. Folded into the n_docs projection itself so
    # column pruning cannot drop the check.
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_distinct"),
        F.sum("dl").alias("total_len"),
    ).select(
        F.when(
            F.col("n_rows") == F.col("n_distinct"), F.col("n_rows")
        ).otherwise(
            F.raise_error(
                "bm25 index corrupt: duplicate docstat rows — a doc_id "
                "was re-indexed (extend_bm25_index novelty contract)"
            )
        ).alias("n_docs"),
        "total_len",
    )
    return _bm25_rank(tf, dl, stats, k1, b, top_n)


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Per-source vocabulary-growth fit (Heaps'/Herdan's law, public
    corpus statistics): compare the distinct-type count on the FIRST
    HALF of the source (by doc_id order) against the full source and
    report ``heaps_beta = log(V_full/V_half) / log(N_full/N_half)``
    — natural text sits near 0.4-0.6; a templated or heavily
    repetitive source grows almost no new vocabulary in its second
    half and fits far lower. The two-point form keeps every input an
    exact integer aggregate (counts of tokens and types on nested
    prefixes) with ONE log division at the end, rounded — the
    zipf_fit recipe.

    Scale shape: the half-split is a per-source doc rank (window over
    the doc-id relation, not the token relation), then two
    (source, token) distinct aggregations — vocabulary-sized state,
    the same class as kmv_ndv's exact branch. Degenerate sources
    (half with zero tokens, or no growth in token count) pin
    heaps_beta to NULL in both engines."""
    from pyspark.sql import Window
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.select("source", "doc_id").select(
        "source",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("c"),
    ).select(
        "source", "doc_id",
        (F.col("rn") <= F.floor(F.col("c") / 2)).alias("in_half"),
    )
    # ranked already carries source — ONE doc-keyed join hydrates the
    # token relation with both labels (a second join against docs
    # would shuffle the corpus-sized token stream twice)
    toks = (
        tokenized(docs)
        .select("doc_id", F.explode_outer("toks").alias("token"))
        .where(F.col("token").isNotNull())
        .join(ranked.select("doc_id", "source", "in_half"), "doc_id")
    )
    agg = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("token").alias("n_types"),
        F.count(F.when(F.col("in_half"), 1)).alias("half_tokens"),
        F.count_distinct(
            F.when(F.col("in_half"), F.col("token"))
        ).alias("half_types"),
    )
    growth_ok = (
        (F.col("half_tokens") > 0)
        & (F.col("n_tokens") > F.col("half_tokens"))
        & (F.col("half_types") > 0)
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "half_tokens",
        "half_types",
        F.when(
            growth_ok,
            F.round(
                F.log(F.col("n_types") / F.col("half_types"))
                / F.log(F.col("n_tokens") / F.col("half_tokens")),
                6,
            ),
        ).alias("heaps_beta"),
    )


def vocab_growth_sql() -> str:
    return r"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id)
           <= floor(count(*) OVER (PARTITION BY source) / 2) AS in_half
  FROM documents
),
toks AS (
  SELECT d.source, r.in_half, t.token
  FROM documents d
  JOIN ranked r ON d.doc_id = r.doc_id,
  LATERAL unnest(regexp_split_to_array(d.text, '\s+')) AS t(token)
  WHERE t.token IS NOT NULL
),
agg AS (
  SELECT source,
         count(*) AS n_tokens,
         count(DISTINCT token) AS n_types,
         count(*) FILTER (WHERE in_half) AS half_tokens,
         count(DISTINCT CASE WHEN in_half THEN token END) AS half_types
  FROM toks GROUP BY source
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(half_tokens AS BIGINT) AS half_tokens,
       CAST(half_types AS BIGINT) AS half_types,
       CASE WHEN half_tokens > 0 AND n_tokens > half_tokens
                 AND half_types > 0
            THEN round(ln(n_types * 1.0 / half_types)
                       / ln(n_tokens * 1.0 / half_tokens), 6)
       END AS heaps_beta
FROM agg
"""


def bpe_merge_candidates(docs: DataFrame, top_n: int = 50) -> DataFrame:
    """The BPE tokenizer-TRAINING step (Sennrich et al. 2016, public
    algorithm), first merge round: count adjacent character pairs
    over the vocabulary weighted by word frequency and rank the
    merge candidates — the pair with the highest count is the merge
    a BPE trainer would apply first.

    Scale shape: the corpus collapses to its VOCABULARY first (one
    word-count aggregation with map-side partials — the only
    corpus-sized pass), then pair explosion runs over distinct words
    only; the final ranking is TakeOrdered over the pair counts.
    Counts are exact integer sums; ties rank by pair text, so the
    output is engine-exact with no float anywhere."""
    from pyspark.sql import Window
    from trino_iceberg_maintenance_spark.operators.dedup import tokenized

    vocab = (
        tokenized(docs)
        .select(F.explode_outer("toks").alias("word"))
        .where(F.col("word").isNotNull() & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = vocab.select(
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("wc").alias("pair_count")
    )
    top = counts.orderBy(
        F.col("pair_count").desc(), F.col("pair").asc()
    ).limit(top_n)
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def bpe_merge_candidates_sql(top_n: int = 50) -> str:
    return rf"""
WITH vocab AS (
  SELECT word, count(*) AS wc
  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
        FROM documents)
  WHERE word IS NOT NULL AND length(word) >= 2
  GROUP BY word
),
pairs AS (
  SELECT wc, substring(word, i, 2) AS pair
  FROM vocab, LATERAL unnest(generate_series(1, length(word) - 1)) AS u(i)
),
counts AS (
  SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
  FROM pairs GROUP BY pair
),
top AS (
  SELECT pair, pair_count FROM counts
  ORDER BY pair_count DESC, pair ASC LIMIT {top_n}
)
SELECT pair, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC)
            AS INTEGER) AS rank
FROM top
"""


# -- corpus quality extensions (round 7) -------------------------------------


def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease per document (public formula: Flesch 1948;
    the classic curation signal alongside the Gopher gates) with a
    vowel-group syllable proxy: ``206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)``. Sentences = terminator-run count
    (``[.!?]+``) floored at 1; syllables = maximal ``[aeiouy]+`` runs
    over the lowercased text (the standard cheap proxy — exact
    hyphenation needs a dictionary no engine ships).

    Scale shape: three ``regexp_count``-class expressions per row,
    fully map-side, zero shuffle — the cheapest possible quality
    column at 100 TB. Engine-exact: all three counts are integers;
    the one float expression divides integers (IEEE-identical) and
    rounds via the floor(x·10⁴ + 0.5) form shared by both engines
    (Spark/DuckDB round() disagree on shortest-decimal doubles)."""
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    n_sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    n_syllables = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sentences.cast("double"))
        - F.lit(84.6) * (n_syllables.cast("double") / n_words.cast("double"))
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sentences.cast("bigint").alias("n_sentences"),
        n_syllables.cast("bigint").alias("n_syllables"),
        (F.floor(flesch * 10000 + F.lit(0.5)) / 10000).alias("flesch"),
    ).where(F.col("n_words") > 0)


READABILITY_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
         AS n_words,
       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
         AS n_sentences,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         AS n_syllables,
       floor((206.835
              - 1.015 * (CAST(len(regexp_split_to_array(trim(text), '\s+'))
                              AS DOUBLE)
                         / greatest(len(regexp_extract_all(text, '[.!?]+')),
                                    1))
              - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                             AS DOUBLE)
                        / len(regexp_split_to_array(trim(text), '\s+'))))
             * 10000 + 0.5) / 10000 AS flesch
FROM documents
WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0
"""


def code_profile(docs: DataFrame) -> DataFrame:
    """Code-vs-prose routing signals per document (corpus curation:
    code wants different dedup/quality gates than prose): counts of
    code-symbol characters (``{}[]();=<>``), code keywords
    (def/class/return/import/function/var/const/if/else as standalone
    words), and the symbol ratio over non-space characters, plus the
    conjunctive ``looks_like_code`` verdict (symbol ratio ≥ 2% or ≥ 2
    keyword kinds). Map-side expressions only — zero shuffle."""
    n_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    n_symbols = F.regexp_count(F.col("text"), F.lit(r"[{}\[\]();=<>]"))
    kw = r"\b(def|class|return|import|function|var|const|if|else)\b"
    n_keywords = F.regexp_count(F.col("text"), F.lit(kw))
    ratio = F.when(
        n_chars > 0,
        F.floor(
            n_symbols.cast("double") / n_chars.cast("double") * 1000000
            + F.lit(0.5)
        ) / 1000000,
    )
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_nospace"),
        n_symbols.cast("bigint").alias("n_code_symbols"),
        n_keywords.cast("bigint").alias("n_code_keywords"),
        ratio.alias("symbol_ratio"),
        (
            (ratio >= 0.02) | (n_keywords >= 2)
        ).alias("looks_like_code"),
    )


CODE_PROFILE_SQL = r"""
WITH c AS (
  SELECT doc_id,
         length(regexp_replace(text, '\s', '', 'g')) AS n_chars_nospace,
         len(regexp_extract_all(text, '[{}\[\]();=<>]')) AS n_code_symbols,
         len(regexp_extract_all(text,
             '\b(def|class|return|import|function|var|const|if|else)\b'))
           AS n_code_keywords
  FROM documents
)
SELECT doc_id,
       CAST(n_chars_nospace AS BIGINT) AS n_chars_nospace,
       CAST(n_code_symbols AS BIGINT) AS n_code_symbols,
       CAST(n_code_keywords AS BIGINT) AS n_code_keywords,
       CASE WHEN n_chars_nospace > 0
            THEN floor(CAST(n_code_symbols AS DOUBLE) / n_chars_nospace
                       * 1000000 + 0.5) / 1000000 END AS symbol_ratio,
       (CASE WHEN n_chars_nospace > 0
             THEN floor(CAST(n_code_symbols AS DOUBLE) / n_chars_nospace
                        * 1000000 + 0.5) / 1000000 END >= 0.02
        OR n_code_keywords >= 2) AS looks_like_code
FROM c
"""


def ocr_artifact_scores(docs: DataFrame) -> DataFrame:
    """OCR/extraction damage signals per document (scanned-PDF corpora
    need these gates before any token-level processing): counts of
    digit-letter fusions (``x0``/``0x`` inside a word), mid-word
    hyphen breaks (``foo- bar`` — the line-wrap artifact), isolated
    single consonants (real prose has almost none besides a/i), and
    U+FFFD replacement characters, plus a per-10k-chars damage rate.
    Map-side only."""
    n_chars = F.length("text")
    fusions = F.regexp_count(
        F.lower(F.col("text")), F.lit("[a-z][0-9]|[0-9][a-z]")
    )
    # lowercase first, like the sibling signals — caps-OCR'd text
    # ("WOR- LD") must count too
    hyphen_breaks = F.regexp_count(
        F.lower(F.col("text")), F.lit("[a-z]- [a-z]")
    )
    lone_consonants = F.regexp_count(
        F.lower(F.col("text")), F.lit(" [b-hj-z] ")
    )
    replacement = F.regexp_count(F.col("text"), F.lit("�"))
    damage = fusions + hyphen_breaks + lone_consonants + replacement
    return docs.select(
        "doc_id",
        fusions.cast("bigint").alias("n_digit_fusions"),
        hyphen_breaks.cast("bigint").alias("n_hyphen_breaks"),
        lone_consonants.cast("bigint").alias("n_lone_consonants"),
        replacement.cast("bigint").alias("n_replacement_chars"),
        F.when(
            n_chars > 0,
            F.floor(
                damage.cast("double") / n_chars.cast("double") * 10000
                * 1000000 + F.lit(0.5)
            ) / 1000000,
        ).alias("damage_per_10k_chars"),
    )


OCR_ARTIFACTS_SQL = r"""
WITH c AS (
  SELECT doc_id, length(text) AS n_chars,
         len(regexp_extract_all(lower(text), '[a-z][0-9]|[0-9][a-z]'))
           AS n_digit_fusions,
         len(regexp_extract_all(lower(text), '[a-z]- [a-z]'))
           AS n_hyphen_breaks,
         len(regexp_extract_all(lower(text), ' [b-hj-z] '))
           AS n_lone_consonants,
         len(regexp_extract_all(text, chr(65533))) AS n_replacement_chars
  FROM documents
)
SELECT doc_id,
       CAST(n_digit_fusions AS BIGINT) AS n_digit_fusions,
       CAST(n_hyphen_breaks AS BIGINT) AS n_hyphen_breaks,
       CAST(n_lone_consonants AS BIGINT) AS n_lone_consonants,
       CAST(n_replacement_chars AS BIGINT) AS n_replacement_chars,
       CASE WHEN n_chars > 0 THEN
         floor(CAST(n_digit_fusions + n_hyphen_breaks + n_lone_consonants
                    + n_replacement_chars AS DOUBLE)
               / n_chars * 10000 * 1000000 + 0.5) / 1000000
       END AS damage_per_10k_chars
FROM c
"""


STOPWORD_LIST = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "that", "it", "for", "on", "with", "as", "this", "at", "by",
)


def stopword_profile(docs: DataFrame) -> DataFrame:
    """Per-source stopword profile (CCNet/C4-style language-quality
    signal at the SOURCE grain — a source whose stopword mass is far
    from natural-language norms is boilerplate, tables, or code):
    token counts, stopword token fraction, and how many distinct
    stopwords from the reference list ever appear.

    Scale shape: explode → ONE map-side-combined aggregate keyed by
    source; the stopword test is an ``isin`` over a 20-literal list
    (codegen'd hash set, no join). State is sources × counters."""
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("tok").isin(list(STOPWORD_LIST)), 1).otherwise(0)
            ).alias("n_stop_tokens"),
            F.count_distinct(
                F.when(F.col("tok").isin(list(STOPWORD_LIST)), F.col("tok"))
            ).alias("n_distinct_stopwords"),
        )
        .select(
            "source",
            "n_tokens",
            F.col("n_stop_tokens").cast("bigint").alias("n_stop_tokens"),
            F.col("n_distinct_stopwords").cast("bigint")
            .alias("n_distinct_stopwords"),
            (
                F.floor(
                    F.col("n_stop_tokens").cast("double")
                    / F.col("n_tokens").cast("double") * 1000000
                    + F.lit(0.5)
                ) / 1000000
            ).alias("stop_ratio"),
        )
    )


def stopword_profile_sql() -> str:
    lits = ", ".join(f"'{w}'" for w in STOPWORD_LIST)
    return rf"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS tok
  FROM documents
)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN tok IN ({lits}) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stop_tokens,
       CAST(count(DISTINCT CASE WHEN tok IN ({lits}) THEN tok END) AS BIGINT)
         AS n_distinct_stopwords,
       floor(CAST(sum(CASE WHEN tok IN ({lits}) THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS stop_ratio
FROM toks WHERE tok <> ''
GROUP BY source
"""


def ngram_novelty(docs: DataFrame, width: int = 3) -> DataFrame:
    """Per-document n-gram novelty in doc-id order (the memorization
    complement of benchmark_coverage: how much of each document's
    content is NEW relative to everything ingested before it — the
    curve every dedup pipeline bends): fraction of the doc's distinct
    ``width``-gram shingles whose FIRST occurrence (min doc_id over
    the corpus) is the doc itself.

    Scale shape: the shingle relation (corpus-token-sized, the
    standard class) aggregates once by gram for first-occurrence ids
    (map-side-combined MIN), then joins back doc-keyed and folds to a
    per-doc ratio — two exchanges, both on keys the data already
    groups by. No pair hydration, no window over the corpus."""
    from trino_iceberg_maintenance_spark.operators.dedup import shingles

    sh = shingles(docs, width=width)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        F.col("n_novel").cast("bigint").alias("n_novel"),
        (
            F.floor(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double") * 1000000 + F.lit(0.5)
            ) / 1000000
        ).alias("novelty_ratio"),
    )


def ngram_novelty_sql(width: int = 3) -> str:
    from trino_iceberg_maintenance_spark.operators.dedup import shingles_sql

    return f"""
WITH sh AS ({shingles_sql(width)}),
first_occ AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       floor(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
         AS novelty_ratio
FROM sh s JOIN first_occ f ON s.shingle = f.shingle
GROUP BY s.doc_id
"""


def unicode_profile(docs: DataFrame) -> DataFrame:
    """Per-source character-class profile (multilingual curation
    triage: a source whose non-ASCII or digit mass is off-profile for
    its declared language is mislabeled, OCR-damaged, or tabular):
    corpus-summed counts of ASCII letters, digits, punctuation/
    symbols, whitespace, and non-ASCII characters, with ratios over
    total characters. Map-side regexp counts folded by ONE
    source-keyed aggregate."""
    letters = F.regexp_count(F.col("text"), F.lit("[A-Za-z]"))
    digits = F.regexp_count(F.col("text"), F.lit("[0-9]"))
    spaces = F.regexp_count(F.col("text"), F.lit(r"\s"))
    non_ascii = F.regexp_count(F.col("text"), F.lit("[^\\x00-\\x7f]"))
    n_chars = F.length("text")
    per = docs.select(
        "source",
        n_chars.alias("c"),
        letters.alias("l"),
        digits.alias("d"),
        spaces.alias("s"),
        non_ascii.alias("na"),
    )
    agg = per.groupBy("source").agg(
        F.sum("c").alias("n_chars"),
        F.sum("l").alias("n_letters"),
        F.sum("d").alias("n_digits"),
        F.sum("s").alias("n_whitespace"),
        F.sum("na").alias("n_non_ascii"),
    )

    def ratio(c):
        return F.floor(
            c.cast("double") / F.col("n_chars").cast("double") * 1000000
            + F.lit(0.5)
        ) / 1000000

    return agg.select(
        "source",
        "n_chars",
        "n_letters",
        "n_digits",
        "n_whitespace",
        "n_non_ascii",
        ratio(F.col("n_letters")).alias("letter_ratio"),
        ratio(F.col("n_digits")).alias("digit_ratio"),
        ratio(F.col("n_non_ascii")).alias("non_ascii_ratio"),
    )


UNICODE_PROFILE_SQL = r"""
WITH per AS (
  SELECT source,
         length(text) AS c,
         len(regexp_extract_all(text, '[A-Za-z]')) AS l,
         len(regexp_extract_all(text, '[0-9]')) AS d,
         len(regexp_extract_all(text, '\s')) AS s,
         len(regexp_extract_all(text, '[^\x00-\x7f]')) AS na
  FROM documents
),
agg AS (
  SELECT source,
         sum(c) AS n_chars, sum(l) AS n_letters, sum(d) AS n_digits,
         sum(s) AS n_whitespace, sum(na) AS n_non_ascii
  FROM per GROUP BY source
)
SELECT source,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_letters AS BIGINT) AS n_letters,
       CAST(n_digits AS BIGINT) AS n_digits,
       CAST(n_whitespace AS BIGINT) AS n_whitespace,
       CAST(n_non_ascii AS BIGINT) AS n_non_ascii,
       floor(CAST(n_letters AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000
         AS letter_ratio,
       floor(CAST(n_digits AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000
         AS digit_ratio,
       floor(CAST(n_non_ascii AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000
         AS non_ascii_ratio
FROM agg
"""


def conversation_turns(docs: DataFrame) -> DataFrame:
    """Chat-transcript structure stats (instruction/chat corpora need
    a structural gate before any content gate): per-doc counts of
    "user:" / "assistant:" turn markers (case-insensitive, at a word
    boundary), total turns, and whether the two roles are balanced
    (|Δ| ≤ 1 — a transcript missing half its turns is truncated or
    mis-parsed). Plain prose scores 0/0 and balanced — the gate is a
    no-op outside chat-shaped sources. Map-side only."""
    users = F.regexp_count(F.col("text"), F.lit(r"(?i)\buser:"))
    assistants = F.regexp_count(F.col("text"), F.lit(r"(?i)\bassistant:"))
    return docs.select(
        "doc_id",
        users.cast("bigint").alias("n_user_turns"),
        assistants.cast("bigint").alias("n_assistant_turns"),
        (users + assistants).cast("bigint").alias("n_turns"),
        (
            F.abs(users - assistants) <= 1
        ).alias("balanced"),
    )


CONVERSATION_TURNS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '(?i)\buser:')) AS BIGINT)
         AS n_user_turns,
       CAST(len(regexp_extract_all(text, '(?i)\bassistant:')) AS BIGINT)
         AS n_assistant_turns,
       CAST(len(regexp_extract_all(text, '(?i)\buser:'))
            + len(regexp_extract_all(text, '(?i)\bassistant:')) AS BIGINT)
         AS n_turns,
       abs(len(regexp_extract_all(text, '(?i)\buser:'))
           - len(regexp_extract_all(text, '(?i)\bassistant:'))) <= 1
         AS balanced
FROM documents
"""


def doc_length_percentiles(docs: DataFrame, ps=(50, 90, 99)) -> DataFrame:
    """EXACT per-source document-length percentiles (the
    sequence-length planning numbers behind packing budgets and
    truncation policies) — percentile_disc semantics: the smallest
    length whose cumulative doc count reaches ``ceil(p% · n)``.

    Scale shape — the histogram trick: instead of ranking every doc
    inside its source (a docs-per-source window → one giant task per
    big source), aggregate to the (source, length) HISTOGRAM first —
    map-side-combined, state bounded by distinct lengths per source,
    which is ≤ max doc length regardless of corpus size — then run
    the cumulative window over that tiny relation and pick each
    percentile with a conditional MIN. Exact at any scale, no
    approx_percentile, no global sort, no skew cliff.

    Engine-exact: counts are integers; ``ceil(p · n)`` computes the
    same IEEE product in both engines; the selected lengths are
    integers."""
    per = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("len"),
    )
    hist = per.groupBy("source", "len").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("len")
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    j = cum.join(F.broadcast(tot), "source")
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.col("n_docs") * F.lit(p / 100.0)),
                F.col("len"),
            )
        ).cast("bigint").alias(f"p{p}_len")
        for p in ps
    ]
    return j.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"), *picks
    )


def doc_length_percentiles_sql(ps=(50, 90, 99)) -> str:
    picks = ",\n       ".join(
        f"CAST(min(CASE WHEN cum >= ceil(n_docs * {p / 100.0!r})"
        f" THEN len END) AS BIGINT) AS p{p}_len"
        for p in ps
    )
    return rf"""
WITH per AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\s+')) AS len
  FROM documents
),
hist AS (
  SELECT source, len, count(*) AS cnt FROM per GROUP BY 1, 2
),
cum AS (
  SELECT source, len, cnt,
         sum(cnt) OVER (PARTITION BY source ORDER BY len
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
tot AS (SELECT source, sum(cnt) AS n_docs FROM hist GROUP BY source)
SELECT c.source,
       CAST(max(t.n_docs) AS BIGINT) AS n_docs,
       {picks}
FROM cum c JOIN tot t ON c.source = t.source
GROUP BY c.source
"""


LICENSE_PATTERNS = (
    ("mit", "mit license|permission is hereby granted, free of charge"),
    ("apache2",
     "apache license,? version 2\\.0|licensed under the apache license"),
    ("gpl", "gnu general public license|free software foundation"),
    ("bsd", "redistribution and use in source and binary forms"),
    ("cc", "creative commons|cc-by"),
)


def license_detect(docs: DataFrame) -> DataFrame:
    """License-header detection per document (the code/document-corpus
    curation gate: training-data policies route permissive /
    copyleft / unlicensed content differently): case-insensitive
    phrase matches for the common license families, the matched
    family list, and a ``licensed`` flag. Phrase tables are the
    industry approach at this grain (full SPDX matching needs the
    reference texts); the families and trigger phrases are public
    knowledge. Map-side regexp work only — zero shuffle."""
    low = F.lower(F.col("text"))
    hits = [
        F.when(
            F.regexp_count(low, F.lit(pat)) > 0, F.lit(name)
        )
        for name, pat in LICENSE_PATTERNS
    ]
    fams = F.array_compact(F.array(*hits))
    return docs.select(
        "doc_id",
        F.array_join(fams, ",").alias("license_families"),
        (F.size(fams) > 0).alias("licensed"),
    )


def license_detect_sql() -> str:
    cases = ",\n      ".join(
        f"CASE WHEN len(regexp_extract_all(lower(text), '{pat}')) > 0"
        f" THEN '{name}' END"
        for name, pat in LICENSE_PATTERNS
    )
    return f"""
WITH fams AS (
  SELECT doc_id,
    list_filter([
      {cases}
    ], x -> x IS NOT NULL) AS fam
  FROM documents
)
SELECT doc_id,
       coalesce(array_to_string(fam, ','), '') AS license_families,
       len(fam) > 0 AS licensed
FROM fams
"""


#: deliberately mild placeholder blocklist — the PLUMBING is the
#: deliverable (real deployments drop in their policy list); these
#: words exist in ordinary prose so tests exercise real matches
DEFAULT_BLOCKLIST = ("kill", "attack", "weapon", "drug", "hate")


def blocklist_filter(
    docs: DataFrame, words=DEFAULT_BLOCKLIST
) -> DataFrame:
    """Word-blocklist gate (the C4 "bad words" curation step, public
    knowledge: Raffel et al. 2020 filter documents containing any
    listed word): per-doc count of blocklisted TOKEN matches (word
    boundaries — 'skill' does not match 'kill'), the distinct terms
    hit, and the ``blocked`` verdict. The list is a deliberately mild
    placeholder; deployments substitute their policy list.

    Scale shape: one alternation regex over the lowercased text —
    map-side, zero shuffle, no explode (the per-token isin would pay
    an explode for nothing)."""
    pat = "\\b(" + "|".join(words) + ")\\b"
    low = F.lower(F.col("text"))
    hits = F.regexp_extract_all(low, F.lit(pat), 1)
    return docs.select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_blocked_tokens"),
        F.array_join(
            F.array_sort(F.array_distinct(hits)), ","
        ).alias("blocked_terms"),
        (F.size(hits) > 0).alias("blocked"),
    )


def blocklist_filter_sql(words=DEFAULT_BLOCKLIST) -> str:
    pat = "\\b(" + "|".join(words) + ")\\b"
    return f"""
WITH hits AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '{pat}', 1) AS h
  FROM documents
)
SELECT doc_id,
       CAST(len(h) AS BIGINT) AS n_blocked_tokens,
       coalesce(array_to_string(list_sort(list_distinct(h)), ','),
                '') AS blocked_terms,
       len(h) > 0 AS blocked
FROM hits
"""


def sentence_dedup_stats(
    docs: DataFrame, min_chars: int = 20
) -> DataFrame:
    """Sentence-grain duplication census (the sub-document dedup grain
    between dedup_spans' 8-gram windows and whole-doc hashing —
    NeMo-Curator-style sentence dedup operates here): per document,
    how many of its sentences (terminator-split, trimmed, ≥
    ``min_chars``) also appear in at least one OTHER document, and
    the duplicated fraction — the removal candidates for a
    sentence-level strip.

    Scale shape: explode to the (doc, sentence-hash) relation
    (corpus-sentence-sized, the standard class), ONE hash-keyed
    aggregate for cross-doc document frequency (map-side-combined
    MIN/MAX + distinct doc count), then a doc-keyed fold. No pair
    hydration. Engine-exact: md5 hashes, integer counts, one floored
    division."""
    sents = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s"),
        )
        .select("doc_id", F.trim("s").alias("s"))
        .where(F.length("s") >= min_chars)
        .select("doc_id", F.md5("s").alias("h"))
        .distinct()
    )
    df_rel = sents.groupBy("h").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    per_doc = (
        sents.join(df_rel, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
            .alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sentences",
        F.col("n_shared").cast("bigint").alias("n_shared_sentences"),
        (
            F.floor(
                F.col("n_shared").cast("double")
                / F.col("n_sentences").cast("double") * 1000000
                + F.lit(0.5)
            ) / 1000000
        ).alias("shared_fraction"),
    )


def sentence_dedup_stats_sql(min_chars: int = 20) -> str:
    return rf"""
WITH sents AS (
  SELECT DISTINCT doc_id, md5(s) AS h FROM (
    SELECT doc_id,
           trim(unnest(regexp_split_to_array(text, '[.!?]+'))) AS s
    FROM documents
  ) WHERE length(s) >= {min_chars}
),
df_rel AS (
  SELECT h, count(DISTINCT doc_id) AS ndocs FROM sents GROUP BY h
)
SELECT s.doc_id,
       count(*) AS n_sentences,
       CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_sentences,
       floor(CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000 + 0.5) / 1000000 AS shared_fraction
FROM sents s JOIN df_rel f ON s.h = f.h
GROUP BY s.doc_id
"""


def strip_shared_sentences(
    docs: DataFrame, min_chars: int = 20, min_df: int = 2
) -> DataFrame:
    """The sentence-level strip that :func:`sentence_dedup_stats`
    censuses (NeMo-Curator-style sentence dedup, applied): remove
    every sentence (terminator-split, trimmed, ≥ ``min_chars``) whose
    cross-document frequency is ≥ ``min_df``, and rebuild the
    document from the surviving sentences in original order (joined
    with '. ' — terminators are not preserved; the downstream
    consumer is a tokenizer, not a renderer). Sentences shorter than
    ``min_chars`` are never strip candidates and always survive.
    Docs whose every sentence is shared come back with
    ``cleaned_text = ''`` (the row survives so the caller can drop or
    quarantine it); docs with no non-empty sentence at all have no
    sentences to strip and are absent, mirroring the census relation.

    Scale shape: the corpus-sentence-sized explode (standard class,
    probed for the census at SCALING.md), ONE hash-keyed DF
    aggregate, one hash-keyed join whose per-key fan-out is the
    sentence's document frequency, then a doc-keyed fold whose state
    is the doc's own sentence list — reconstruction is bounded by
    document size, never corpus size. No pair hydration anywhere."""
    segs = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"[.!?]+")).alias(
                "pos", "s0"
            ),
        )
        .select("doc_id", "pos", F.trim("s0").alias("s"))
        .where(F.length("s") > 0)
    )
    cand_df = (
        segs.where(F.length("s") >= min_chars)
        .groupBy(F.md5("s").alias("h"))
        .agg(F.count_distinct("doc_id").alias("ndocs"))
    )
    flagged = (
        segs.withColumn("h", F.md5("s"))
        .join(cand_df, "h", "left")
        .select(
            "doc_id",
            "pos",
            "s",
            (F.length("s") >= min_chars).alias("cand"),
            (F.coalesce("ndocs", F.lit(0)) >= min_df).alias("removed"),
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("cand"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_candidates"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "removed", "s"))
                    ),
                    lambda x: ~x["removed"],
                ),
                lambda x: x["s"],
            ),
            ". ",
        ).alias("cleaned_text"),
    )


def strip_shared_sentences_sql(
    min_chars: int = 20, min_df: int = 2
) -> str:
    return rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS arr
  FROM documents
),
segs AS (
  SELECT doc_id, pos, trim(arr[pos]) AS s FROM (
    SELECT doc_id, arr,
           unnest(generate_series(1, len(arr))) AS pos
    FROM base
  ) WHERE length(trim(arr[pos])) > 0
),
cand AS (
  SELECT md5(s) AS h, count(DISTINCT doc_id) AS ndocs
  FROM segs WHERE length(s) >= {min_chars} GROUP BY 1
),
flagged AS (
  SELECT g.doc_id, g.pos, g.s,
         length(g.s) >= {min_chars} AS cand,
         coalesce(c.ndocs, 0) >= {min_df} AS removed
  FROM segs g LEFT JOIN cand c ON md5(g.s) = c.h
)
SELECT doc_id,
       CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       coalesce(array_to_string(
         list(s ORDER BY pos) FILTER (WHERE NOT removed), '. '), '')
         AS cleaned_text
FROM flagged GROUP BY doc_id
"""


def markup_density(docs: DataFrame) -> DataFrame:
    """Residual-markup census per document (the web-extraction QA
    signal: a 'clean' text corpus whose docs still carry HTML tags,
    entities, or bare URLs had a broken extraction pass): tag,
    entity, and URL counts plus a per-10k-chars markup rate and the
    ``has_markup`` verdict. Map-side regexp counts only."""
    tags = F.regexp_count(F.col("text"), F.lit("<[^<>]+>"))
    entities = F.regexp_count(
        F.col("text"), F.lit("&[a-zA-Z]+;|&#[0-9]+;")
    )
    urls = F.regexp_count(F.col("text"), F.lit(r"https?://[^\s]+"))
    n_chars = F.length("text")
    total = tags + entities + urls
    return docs.select(
        "doc_id",
        tags.cast("bigint").alias("n_tags"),
        entities.cast("bigint").alias("n_entities"),
        urls.cast("bigint").alias("n_urls"),
        F.when(
            n_chars > 0,
            F.floor(
                total.cast("double") / n_chars.cast("double") * 10000
                * 1000000 + F.lit(0.5)
            ) / 1000000,
        ).alias("markup_per_10k_chars"),
        (total > 0).alias("has_markup"),
    )


MARKUP_DENSITY_SQL = r"""
WITH c AS (
  SELECT doc_id, length(text) AS n_chars,
         len(regexp_extract_all(text, '<[^<>]+>')) AS n_tags,
         len(regexp_extract_all(text, '&[a-zA-Z]+;|&#[0-9]+;'))
           AS n_entities,
         len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls
  FROM documents
)
SELECT doc_id,
       CAST(n_tags AS BIGINT) AS n_tags,
       CAST(n_entities AS BIGINT) AS n_entities,
       CAST(n_urls AS BIGINT) AS n_urls,
       CASE WHEN n_chars > 0 THEN
         floor(CAST(n_tags + n_entities + n_urls AS DOUBLE) / n_chars
               * 10000 * 1000000 + 0.5) / 1000000
       END AS markup_per_10k_chars,
       n_tags + n_entities + n_urls > 0 AS has_markup
FROM c
"""

def source_token_gini(docs: DataFrame) -> DataFrame:
    """Token-mass concentration across sources — the Lorenz curve +
    Gini coefficient a mixture review reads before setting sampling
    weights (a corpus where one source owns 90% of the tokens trains
    a one-source model whatever the doc counts say). One row per
    source, ascending token mass: the source's token total, Lorenz
    rank, share, cumulative share, and the corpus Gini (the standard
    sorted-rank identity ``G = 2*sum(rank_i * x_i)/(n*sum(x))
    - (n+1)/n`` — identical on all rows; a one-row scalar would
    drop the curve the number summarizes).

    Scale shape: token counting is map-side expression work feeding
    ONE hash aggregate on `source` (tiny key domain → tiny post-agg
    relation); every window and the Gini fold run over the
    sources-sized aggregate, never the corpus. Ties in token mass
    order by source name — deterministic, engine-portable."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokens_col

    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col())).alias("n_tokens")
    )
    w = Window.orderBy(F.col("n_tokens").asc(), F.col("source").asc())
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000
    ranked = per_source.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("lorenz_rank"),
        F.sum("n_tokens").over(w_cum).alias("_cum"),
    )
    return ranked.select(
        "source",
        "n_tokens",
        "lorenz_rank",
        r6(F.col("n_tokens") / F.sum("n_tokens").over(w_all))
        .alias("token_share"),
        r6(F.col("_cum") / F.sum("n_tokens").over(w_all))
        .alias("cum_share"),
        r6(
            2.0 * F.sum(F.col("lorenz_rank") * F.col("n_tokens"))
            .over(w_all)
            / (F.count(F.lit(1)).over(w_all)
               * F.sum("n_tokens").over(w_all))
            - (F.count(F.lit(1)).over(w_all) + 1.0)
            / F.count(F.lit(1)).over(w_all)
        ).alias("gini"),
    )


SOURCE_TOKEN_GINI_SQL = r"""
WITH per_source AS (
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents
  GROUP BY source
),
ranked AS (
  SELECT source, n_tokens,
         row_number() OVER (ORDER BY n_tokens, source) AS lorenz_rank,
         SUM(n_tokens) OVER (ORDER BY n_tokens, source
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM per_source
),
tot AS (
  SELECT SUM(n_tokens) AS total,
         COUNT(*) AS n,
         SUM(lorenz_rank * n_tokens) AS rank_mass
  FROM ranked
)
SELECT source, n_tokens, lorenz_rank,
       floor(n_tokens * 1.0 / total * 1000000 + 0.5) / 1000000
         AS token_share,
       floor(cum * 1.0 / total * 1000000 + 0.5) / 1000000 AS cum_share,
       floor((2.0 * rank_mass / (n * total) - (n + 1.0) / n)
             * 1000000 + 0.5) / 1000000 AS gini
FROM ranked, tot
"""

def strip_contaminated_spans(
    docs: DataFrame, benchmark: DataFrame, k: int = 3, window: int = 4,
) -> DataFrame:
    """The APPLIED twin of :func:`contamination_spans` (as
    :func:`strip_shared_sentences` is to the sentence census —
    "pipelines excise the span, not the doc", executed): every token
    position covered by a contaminated span is removed and the
    document rebuilt from the surviving tokens in original order.
    ALL corpus docs come back rebuilt from their own token stream
    (single-space joined — the uniform normalization that makes
    clean and stripped docs comparable; the downstream consumer is a
    tokenizer, not a renderer). Docs whose every token is
    contaminated read back as ``cleaned_text = ''`` so the caller
    can quarantine them. Per doc: surviving text, kept / removed
    token counts.

    Scale shape: the span relation is contaminated-volume-sized
    (tiny on a clean corpus) and explodes only to the positions it
    covers; the corpus side is ONE posexplode to the standard
    corpus-token relation, one hash anti-join on (doc, pos), then a
    doc-keyed fold whose state is the doc's own token list — bounded
    by document size, never corpus size. No pair hydration."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokens_col

    spans = contamination_spans(docs, benchmark, k, window)
    bad_pos = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    rebuilt = (
        toks.join(bad_pos, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("_cleaned"),
            F.count(F.lit(1)).alias("_kept"),
        )
    )
    return (
        docs.select("doc_id", F.size(tokens_col()).alias("_n"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("_kept"), F.lit(0)).cast("bigint")
            .alias("n_tokens_kept"),
            (F.col("_n") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("bigint").alias("n_tokens_removed"),
        )
    )


def strip_contaminated_spans_sql(
    k: int = 3, window: int = 4, bench_mod: int = 97
) -> str:
    return f"""
WITH spans AS ({contamination_spans_sql(k, window, bench_mod)}),
bad AS (
  SELECT doc_id, UNNEST(generate_series(span_start, span_end)) AS pos
  FROM spans
),
toks AS (
  SELECT doc_id,
         UNNEST(t) AS tok,
         UNNEST(range(1, len(t) + 1)) AS pos
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
        FROM documents WHERE doc_id % {bench_mod} <> 0)
),
kept AS (
  SELECT toks.doc_id, toks.pos, toks.tok
  FROM toks ANTI JOIN bad USING (doc_id, pos)
),
reb AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned,
         count(*) AS kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.cleaned, '') AS cleaned_text,
       CAST(coalesce(r.kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(len(regexp_split_to_array(d.text, '\\s+'))
            - coalesce(r.kept, 0) AS BIGINT) AS n_tokens_removed
FROM documents d
LEFT JOIN reb r ON d.doc_id = r.doc_id
WHERE d.doc_id % {bench_mod} <> 0
"""

def curation_pipeline_v4(
    docs: DataFrame,
    benchmark: DataFrame,
    min_entropy: float = ENTROPY_GATE_BITS,
    min_chars: int = 20,
    min_df: int = 2,
    k: int = 3,
    window: int = 4,
    materialize=None,
) -> DataFrame:
    """Round-10 curation DAG (VERDICT r9 #6): the v3 gates (unigram
    entropy ≥ ``min_entropy`` bits AND positive DSIR log-weight)
    composed with BOTH strip stages — cross-document shared-sentence
    removal (:func:`strip_shared_sentences`' rule) and benchmark-
    contaminated span removal (:func:`strip_contaminated_spans`'
    rule) — as ONE Catalyst DAG over a SINGLE corpus-token posexplode
    shared by both strips (standalone they each explode the corpus
    independently; composed, both removal sets resolve to 1-based
    positions in the same ``(doc_id, pos, tok)`` relation and one
    doc-keyed fold rebuilds the text).

    Sentence grain is DERIVED from the token stream (a sentence ends
    at a token with a trailing terminator; sentence text = its tokens
    with trailing terminators stripped, single-space joined) — the
    composition's own well-defined semantics, oracle-twinned exactly,
    rather than a byte-replay of the standalone sentence splitter.
    Sharedness is judged across the WHOLE corpus (both sides of the
    gate — boilerplate is boilerplate wherever its twin lives, the
    v3 rule); only gated survivors are rebuilt and returned.

    Scale shape: one corpus-token explode feeding (a) a doc-keyed
    prefix-count window (sentence ids), (b) a sentence-hash
    aggregate + hash join (df test), (c) the final doc-keyed fold;
    the span side is contaminated-volume-sized (winnowing marks →
    positions); the gates add vocab-sized broadcast joins. No pair
    hydration anywhere. The entropy/DSIR gates DO re-tokenize from
    the scan (plain map-side explodes straight into their
    aggregates) rather than consuming the shared relation — a
    deliberate trade: DSIR needs ``lang`` attached to every token,
    and joining it onto the materialized token stream would SHUFFLE
    corpus-token-sized data, while a re-scan + tokenize is
    shuffle-free and pipelines into the aggregate. The ONE-explode
    claim (and the plan pin) covers the strip/rebuild side, which is
    what the standalone composition duplicated.
    The shared token relation is materialized
    once via lazy ``localCheckpoint`` (the :func:`minhash_near_dups`
    convention — three consumers would otherwise each re-run the
    corpus explode from the scan); ``materialize`` overrides the
    boundary (tests pass a capture/identity to inspect the plan)."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokens_col
    from trino_iceberg_maintenance_spark.operators.sampling import (
        dsir_weights,
    )

    if materialize is None:
        materialize = lambda df: df.localCheckpoint(eager=False)  # noqa: E731

    ent = word_entropy(docs).select("doc_id", "entropy_bits")
    w = dsir_weights(docs).select("doc_id", "dsir_logweight")
    gated = (
        docs.join(ent, "doc_id")
        .join(w, "doc_id")
        .where(
            (F.col("entropy_bits") >= min_entropy)
            & (F.col("dsir_logweight") > 0.0)
        )
        .select("doc_id", "entropy_bits", "dsir_logweight")
    )

    # THE one corpus-token explode — both strips resolve against it
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")

    # sentence ids: count of sentence-terminal tokens BEFORE this one
    seq = Window.partitionBy("doc_id").orderBy("pos")
    is_term = F.when(F.col("tok").rlike("[.!?]$"), 1).otherwise(0)
    # THE shared relation: (doc_id, pos, tok, sent_idx) — stext,
    # bad_sent and the rebuild all read it; materialized once
    sent = materialize(toks.withColumn(
        "sent_idx",
        F.coalesce(
            F.sum(is_term).over(
                seq.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ))
    norm = F.regexp_replace("tok", r"[.!?]+$", "")
    stext = (
        sent.withColumn("nt", norm)
        .groupBy("doc_id", "sent_idx")
        .agg(
            F.array_join(
                F.filter(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "nt"))),
                        lambda s: s["nt"],
                    ),
                    lambda t: t != "",
                ),
                " ",
            ).alias("stext")
        )
    )
    cand = (
        stext.where(F.length("stext") >= min_chars)
        .groupBy(F.md5("stext").alias("h"))
        .agg(F.count_distinct("doc_id").alias("ndocs"))
    )
    shared_sent = (
        stext.where(F.length("stext") >= min_chars)
        .withColumn("h", F.md5("stext"))
        .join(cand, "h")
        .where(F.col("ndocs") >= min_df)
        .select("doc_id", "sent_idx")
    )
    bad_sent = sent.join(
        shared_sent, ["doc_id", "sent_idx"], "left_semi"
    ).select("doc_id", "pos")

    spans = contamination_spans(docs, benchmark, k, window)
    bad_span = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    bad = bad_sent.unionByName(bad_span).distinct()

    rebuilt = (
        sent.select("doc_id", "pos", "tok")
        .join(gated.select("doc_id"), "doc_id", "left_semi")
        .join(bad, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("_cleaned"),
            F.count(F.lit(1)).alias("_kept"),
        )
    )
    return (
        gated.join(
            docs.select("doc_id", F.size(tokens_col()).alias("_n")),
            "doc_id",
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "entropy_bits",
            "dsir_logweight",
            F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("_kept"), F.lit(0)).cast("bigint")
            .alias("n_tokens_kept"),
            (F.col("_n") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("bigint").alias("n_tokens_removed"),
        )
    )


def curation_pipeline_v4_sql(
    min_entropy: float = ENTROPY_GATE_BITS,
    min_chars: int = 20,
    min_df: int = 2,
    k: int = 3,
    window: int = 4,
    bench_mod: int = 97,
) -> str:
    from trino_iceberg_maintenance_spark.operators.sampling import (
        dsir_weights_sql,
    )

    corpus = f"(SELECT * FROM documents WHERE doc_id % {bench_mod} <> 0)"
    return rf"""
WITH ent AS ({word_entropy_sql(src=corpus)}),
w AS ({dsir_weights_sql(src=corpus)}),
gated AS (
  SELECT d.doc_id, e.entropy_bits, w.dsir_logweight
  FROM documents d
  JOIN ent e ON d.doc_id = e.doc_id
  JOIN w ON d.doc_id = w.doc_id
  WHERE e.entropy_bits >= {min_entropy!r} AND w.dsir_logweight > 0.0
    AND d.doc_id % {bench_mod} <> 0
),
toks AS (
  SELECT doc_id,
         UNNEST(t) AS tok,
         UNNEST(range(1, len(t) + 1)) AS pos
  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        FROM documents WHERE doc_id % {bench_mod} <> 0)
),
sent AS (
  SELECT doc_id, pos, tok,
         coalesce(sum(CASE WHEN regexp_matches(tok, '[.!?]$')
                       THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS sent_idx
  FROM toks
),
stext AS (
  SELECT doc_id, sent_idx,
         coalesce(string_agg(nt, ' ' ORDER BY pos)
                  FILTER (WHERE nt <> ''), '') AS stext
  FROM (SELECT *, regexp_replace(tok, '[.!?]+$', '') AS nt FROM sent)
  GROUP BY 1, 2
),
cand AS (
  SELECT md5(stext) AS h, count(DISTINCT doc_id) AS ndocs
  FROM stext WHERE length(stext) >= {min_chars} GROUP BY 1
),
sharedsent AS (
  SELECT s.doc_id, s.sent_idx
  FROM stext s JOIN cand c ON md5(s.stext) = c.h
  WHERE length(s.stext) >= {min_chars} AND c.ndocs >= {min_df}
),
badsent AS (
  SELECT sent.doc_id, sent.pos FROM sent
  SEMI JOIN sharedsent
    ON sent.doc_id = sharedsent.doc_id
   AND sent.sent_idx = sharedsent.sent_idx
),
spans AS ({contamination_spans_sql(k, window, bench_mod)}),
badspan AS (
  SELECT doc_id, UNNEST(generate_series(span_start, span_end)) AS pos
  FROM spans
),
bad AS (
  SELECT DISTINCT doc_id, pos FROM
  (SELECT doc_id, pos FROM badsent
   UNION ALL SELECT doc_id, pos FROM badspan)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  SEMI JOIN gated g ON t.doc_id = g.doc_id
  ANTI JOIN bad ON t.doc_id = bad.doc_id AND t.pos = bad.pos
),
reb AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned,
         count(*) AS kept
  FROM kept GROUP BY doc_id
)
SELECT g.doc_id, g.entropy_bits, g.dsir_logweight,
       coalesce(r.cleaned, '') AS cleaned_text,
       CAST(coalesce(r.kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(len(regexp_split_to_array(d.text, '\s+'))
            - coalesce(r.kept, 0) AS BIGINT) AS n_tokens_removed
FROM gated g
JOIN documents d ON g.doc_id = d.doc_id
LEFT JOIN reb r ON g.doc_id = r.doc_id
"""


def source_js_divergence(docs: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the sources' unigram
    distributions — the distribution-drift matrix a mixture designer
    reads next to :func:`source_token_gini`'s mass concentration (two
    sources with near-zero JS are interchangeable weight-wise; a
    high-JS outlier is the one that needs its own mixture arm). One
    row per unordered source pair — INCLUDING pairs with zero shared
    tokens, which land at the JS maximum ``ln 2`` with
    ``n_shared_tokens = 0`` (the most divergent pairs are exactly the
    ones an outlier scan must see): shared-token count and the JS
    divergence (natural log).

    The disjoint-support mass never hydrates: for a token only in
    ``a``, the JS term reduces to ``p*ln 2``, so the whole
    disjoint contribution is ``ln 2 * ((1-co_a) + (1-co_b))`` with
    ``co_*`` the shared-support mass — computed FROM the inner join,
    no outer join anywhere.

    Scale shape: one corpus-token explode into a (source, token)
    count aggregate (vocab x sources sized), one token-keyed
    self-join whose per-token fan-out is bounded by the source-domain
    size (pairs, not documents), then a pairs-sized aggregate."""
    from trino_iceberg_maintenance_spark.operators.dedup import tokens_col

    per = (
        docs.select("source", F.explode(tokens_col()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.groupBy("source").agg(F.sum("n").alias("total"))
    p = per.join(tot, "source").select(
        "source", "token", (F.col("n") / F.col("total")).alias("p")
    )
    a = p.select(F.col("source").alias("source_a"), "token",
                 F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("source_b"), "token",
                 F.col("p").alias("pb"))
    pa, pb = F.col("pa"), F.col("pb")
    joined = a.join(b, "token").where(F.col("source_a") < F.col("source_b"))
    agg = joined.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_tokens"),
        F.sum(
            pa * F.log(2 * pa / (pa + pb)) + pb * F.log(2 * pb / (pa + pb))
        ).alias("_s"),
        F.sum(pa).alias("_co_a"),
        F.sum(pb).alias("_co_b"),
    )
    # enumerate ALL unordered pairs over the (tiny, broadcast) source
    # domain and left-join the shared-support aggregate: a pair with
    # zero shared tokens has co_a = co_b = s = 0, so the closed form
    # collapses to exactly ln 2 — emitted, not dropped
    srcs = docs.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            F.broadcast(srcs.select(F.col("source").alias("source_b"))),
            F.col("source_a") < F.col("source_b"),
        )
    )
    full = pairs.join(agg, ["source_a", "source_b"], "left")
    return full.select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n_shared_tokens"), F.lit(0).cast("long"))
        .alias("n_shared_tokens"),
        (
            F.floor(
                (
                    0.5 * F.coalesce(F.col("_s"), F.lit(0.0))
                    + 0.5 * F.log(F.lit(2.0))
                    * (
                        (1 - F.coalesce(F.col("_co_a"), F.lit(0.0)))
                        + (1 - F.coalesce(F.col("_co_b"), F.lit(0.0)))
                    )
                ) * 1000000 + F.lit(0.5)
            ) / 1000000
        ).alias("js_divergence"),
    )


SOURCE_JS_DIVERGENCE_SQL = r"""
WITH per AS (
  SELECT source, t AS token, count(*) AS n
  FROM (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS t
        FROM documents)
  GROUP BY 1, 2
),
tot AS (SELECT source, sum(n) AS total FROM per GROUP BY 1),
p AS (
  SELECT per.source, per.token, per.n / tot.total AS p
  FROM per JOIN tot USING (source)
),
j AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*) AS n_shared_tokens,
         sum(a.p * ln(2 * a.p / (a.p + b.p))
             + b.p * ln(2 * b.p / (a.p + b.p))) AS s,
         sum(a.p) AS co_a,
         sum(b.p) AS co_b
  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM (SELECT DISTINCT source FROM documents) a
  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
)
SELECT pairs.source_a, pairs.source_b,
       coalesce(j.n_shared_tokens, 0) AS n_shared_tokens,
       floor((0.5 * coalesce(j.s, 0)
              + 0.5 * ln(2) * ((1 - coalesce(j.co_a, 0))
                               + (1 - coalesce(j.co_b, 0))))
             * 1000000 + 0.5) / 1000000 AS js_divergence
FROM pairs
LEFT JOIN j ON pairs.source_a = j.source_a AND pairs.source_b = j.source_b
"""


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-source tokenizer fertility — wordpieces per whitespace word
    and characters per wordpiece, the cost model a trainer uses to
    convert a source's raw text volume into a TOKEN budget before
    mixing (a high-fertility source burns context length faster than
    its byte share suggests). Composes :func:`token_stats`' BPE-ish
    pre-tokenizer counts into one source-keyed rollup.

    Scale shape: the per-doc counts are pure map-side regexp work on
    the corpus scan (the expressions are inlined rather than joined
    back from :func:`token_stats` — a doc_id join would shuffle the
    corpus against itself for columns the scan already holds); the
    only exchange is the map-side-combined (source) aggregate —
    sources-sized output. Ratios are exact integer micro-units
    (``(a · 10⁶) DIV b``), no float anywhere."""
    toks = F.split(F.col("text"), r"\s+")
    wordpieces = wordpiece_count_expr()
    per_doc = docs.select(
        "source",
        F.size(toks).alias("n_tokens"),
        wordpieces.cast("bigint").alias("n_wordpieces"),
        F.length("text").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("words"),
            F.sum("n_wordpieces").cast("long").alias("wordpieces"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .select(
            "source", "n_docs", "words", "wordpieces", "chars",
            F.expr("CAST((wordpieces * 1000000) DIV words AS BIGINT)")
            .alias("fertility_u"),
            F.expr("CAST((chars * 1000000) DIV wordpieces AS BIGINT)")
            .alias("chars_per_piece_u"),
        )
    )


TOKENIZER_FERTILITY_SQL = r"""
WITH per_doc AS (
  SELECT source,
         len(regexp_split_to_array(text, '\s+')) AS n_tokens,
         CAST(len(regexp_split_to_array(text, '[A-Za-z]+')) - 1
              + len(regexp_split_to_array(text, '[0-9]+')) - 1
              + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
              AS BIGINT) AS n_wordpieces,
         length(text) AS n_chars
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS words,
       CAST(sum(n_wordpieces) AS BIGINT) AS wordpieces,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       CAST((sum(n_wordpieces) * 1000000) // sum(n_tokens) AS BIGINT)
         AS fertility_u,
       CAST((sum(n_chars) * 1000000) // sum(n_wordpieces) AS BIGINT)
         AS chars_per_piece_u
FROM per_doc
GROUP BY source
"""


def quality_by_length(docs: DataFrame) -> DataFrame:
    """Quality-vs-length calibration: documents bucketed by the DIGIT
    COUNT of their character length (1 digit = tiny fragments, 4+ =
    long-form), with per-bucket integer composition ratios (alpha /
    uppercase / digit character shares). The curation diagnostic
    behind every length-based filter: if quality ratios collapse in a
    bucket, a length gate is a cheap proxy for a content gate.

    The bucket key is deliberately not a float log — the digit count
    of the integer length is engine-exact by construction (both
    engines render integers identically), where ``floor(log2(n))``
    can disagree in the last ulp at power boundaries.

    Scale shape: everything up to the final buckets-sized aggregate
    is map-side regexp counting on the corpus scan; one shuffle on a
    ≤7-value key (salting unnecessary: per-bucket state is 4
    integers, skew is irrelevant to a map-side-combined sum)."""
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    upper = F.length(F.regexp_replace(F.col("text"), r"[^A-Z]", ""))
    digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    per = docs.select(
        F.length(F.length("text").cast("string")).alias("len_bucket"),
        F.length("text").alias("n_chars"),
        alpha.alias("a"),
        upper.alias("u"),
        digit.alias("d"),
    )
    return (
        per.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("a").cast("long").alias("sa"),
            F.sum("u").cast("long").alias("su"),
            F.sum("d").cast("long").alias("sd"),
        )
        .select(
            F.col("len_bucket").cast("int").alias("len_bucket"),
            "n_docs",
            "total_chars",
            F.expr("CAST((sa * 1000000) DIV total_chars AS BIGINT)")
            .alias("alpha_ratio_u"),
            F.expr("CAST((su * 1000000) DIV total_chars AS BIGINT)")
            .alias("upper_ratio_u"),
            F.expr("CAST((sd * 1000000) DIV total_chars AS BIGINT)")
            .alias("digit_ratio_u"),
        )
    )


QUALITY_BY_LENGTH_SQL = r"""
WITH per AS (
  SELECT length(CAST(length(text) AS VARCHAR)) AS len_bucket,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS a,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS u,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS d
  FROM documents
)
SELECT CAST(len_bucket AS INT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST((sum(a) * 1000000) // sum(n_chars) AS BIGINT) AS alpha_ratio_u,
       CAST((sum(u) * 1000000) // sum(n_chars) AS BIGINT) AS upper_ratio_u,
       CAST((sum(d) * 1000000) // sum(n_chars) AS BIGINT) AS digit_ratio_u
FROM per
GROUP BY len_bucket
"""


#: coverage-curve knee points: top-K vocabulary sizes a tokenizer
#: designer actually compares
COVERAGE_KS = (100, 1000, 10000)


def ngram_coverage_curve(
    docs: DataFrame, ks: tuple = COVERAGE_KS
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size
    K, the fraction of ALL token occurrences covered by the K most
    frequent types — the classic tokenizer-budget read (where the
    curve flattens, bigger vocabularies stop paying for themselves;
    the complement of ``vocab_growth``'s corpus-side Heaps curve).

    Type ranking is deterministic under ties (count desc, token asc).
    Scale shape: one explode + map-side-combined type count (the
    shared vocabulary shuffle), then the ranking window runs over the
    VOCABULARY relation (corpus-sublinear; the zipf_fit precedent —
    partition the window by count-band if a vocabulary ever outgrows
    one partition), and the curve itself is a ks-sized aggregate.
    Coverage is exact integer micro-units."""
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = counts.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("tok").asc())
        ),
    ).localCheckpoint(eager=False)  # referenced per K below
    total = ranked.agg(F.sum("c").alias("t"))
    k_arr = F.array(*[F.lit(int(x)) for x in ks])
    per_k = (
        ranked.select("c", "rk", F.explode(k_arr).alias("k"))
        .where(F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("c").cast("long").alias("covered"))
    )
    return (
        per_k.crossJoin(F.broadcast(total))
        .select(
            F.col("k").cast("long").alias("vocab_k"),
            "covered",
            F.col("t").cast("long").alias("total_tokens"),
            F.expr("CAST((covered * 1000000) DIV t AS BIGINT)")
            .alias("coverage_u"),
        )
    )


def ngram_coverage_curve_sql(ks: tuple = COVERAGE_KS) -> str:
    klist = ", ".join(str(int(x)) for x in ks)
    return rf"""
WITH counts AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
    FROM documents
  ) WHERE tok != '' GROUP BY tok
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
  FROM counts
),
total AS (SELECT sum(c) AS t FROM ranked),
ks AS (SELECT unnest([{klist}]) AS k)
SELECT CAST(ks.k AS BIGINT) AS vocab_k,
       CAST(sum(r.c) AS BIGINT) AS covered,
       CAST(max(total.t) AS BIGINT) AS total_tokens,
       CAST((sum(r.c) * 1000000) // max(total.t) AS BIGINT)
         AS coverage_u
FROM ks JOIN ranked r ON r.rk <= ks.k CROSS JOIN total
GROUP BY ks.k
"""


#: candidate context windows for the fit report (tokens)
CONTEXT_FIT_WINDOWS = (512, 2048, 8192)


def context_fit_report(
    docs: DataFrame, windows: tuple = CONTEXT_FIT_WINDOWS
) -> DataFrame:
    """Per-(source, context window) fit report: how much of each
    source survives a context clip at L tokens — docs that fit whole,
    docs that would truncate, and the exact token loss if every doc
    were clipped at L. The per-source companion of
    :func:`seq_len_packing_sweep` (which optimizes corpus-wide padding
    waste): a source whose docs mostly exceed the window needs
    splitting, not clipping, before it enters the mixture.

    Scale shape: token counts are map-side on the corpus scan; the
    per-window explode multiplies rows by |windows| (a handful)
    before a (source, window)-keyed map-side-combined aggregate —
    output is sources × windows. Integer micro-unit ratios."""
    w_arr = F.array(*[F.lit(int(w)) for w in windows])
    per = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), r"\s+")).alias("n_toks"),
        )
        .select("source", "n_toks",
                F.explode(w_arr).alias("ctx_window"))
    )
    return (
        per.groupBy("source", "ctx_window")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("n_toks") <= F.col("ctx_window"), 1)
                .otherwise(0)
            ).cast("long").alias("fit_whole"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum(
                F.greatest(
                    F.lit(0), F.col("n_toks") - F.col("ctx_window")
                )
            ).cast("long").alias("clipped_tokens"),
        )
        .select(
            "source",
            F.col("ctx_window").cast("long").alias("ctx_window"),
            "n_docs", "fit_whole", "total_tokens", "clipped_tokens",
            F.expr("CAST((fit_whole * 1000000) DIV n_docs AS BIGINT)")
            .alias("fit_frac_u"),
            F.expr(
                "CAST((clipped_tokens * 1000000) DIV total_tokens"
                " AS BIGINT)"
            ).alias("loss_frac_u"),
        )
    )


def context_fit_report_sql(windows: tuple = CONTEXT_FIT_WINDOWS) -> str:
    wlist = ", ".join(str(int(w)) for w in windows)
    return rf"""
WITH per AS (
  SELECT source,
         len(regexp_split_to_array(text, '\s+')) AS n_toks,
         w.ctx_window
  FROM documents,
       (SELECT unnest([{wlist}]) AS ctx_window) w
)
SELECT source,
       CAST(ctx_window AS BIGINT) AS ctx_window,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_toks <= ctx_window THEN 1 ELSE 0 END)
            AS BIGINT) AS fit_whole,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(greatest(0, n_toks - ctx_window)) AS BIGINT)
         AS clipped_tokens,
       CAST((sum(CASE WHEN n_toks <= ctx_window THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS fit_frac_u,
       CAST((sum(greatest(0, n_toks - ctx_window)) * 1000000)
            // sum(n_toks) AS BIGINT) AS loss_frac_u
FROM per
GROUP BY source, ctx_window
"""


def format_detect(docs: DataFrame) -> DataFrame:
    """Per-source structural-format census: the share of docs carrying
    code fences, Q:/A: pairs, bullet lists, and markdown headings —
    the routing diagnostic before SFT/instruction mixing (a source
    that is 40% Q&A-shaped belongs in a different mixture bucket than
    raw prose). Non-exclusive flags: one doc can carry several.

    Detection is LITERAL substring position, not regex — ``instr`` in
    Spark, ``strpos`` in DuckDB, byte-identical semantics by
    construction (multiline regex anchors are the classic cross-engine
    divergence trap). Map-side flags, one sources-sized aggregate."""
    def has(sub: str):
        return F.when(F.instr(F.col("text"), sub) > 0, 1).otherwise(0)

    flags = docs.select(
        "source",
        has("```").alias("f_code"),
        (
            F.when(
                (F.instr(F.col("text"), "Q:") > 0)
                & (F.instr(F.col("text"), "A:") > 0),
                1,
            ).otherwise(0)
        ).alias("f_qa"),
        has("\n- ").alias("f_bullets"),
        has("\n#").alias("f_heading"),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f_code").cast("long").alias("with_code_fence"),
        F.sum("f_qa").cast("long").alias("with_qa"),
        F.sum("f_bullets").cast("long").alias("with_bullets"),
        F.sum("f_heading").cast("long").alias("with_heading"),
    )
    return agg.select(
        "source", "n_docs", "with_code_fence", "with_qa",
        "with_bullets", "with_heading",
        F.expr("CAST((with_code_fence * 1000000) DIV n_docs AS BIGINT)")
        .alias("code_frac_u"),
        F.expr("CAST((with_qa * 1000000) DIV n_docs AS BIGINT)")
        .alias("qa_frac_u"),
    )


FORMAT_DETECT_SQL = """
WITH flags AS (
  SELECT source,
         CASE WHEN strpos(text, '```') > 0 THEN 1 ELSE 0 END AS f_code,
         CASE WHEN strpos(text, 'Q:') > 0 AND strpos(text, 'A:') > 0
              THEN 1 ELSE 0 END AS f_qa,
         CASE WHEN strpos(text, chr(10) || '- ') > 0
              THEN 1 ELSE 0 END AS f_bullets,
         CASE WHEN strpos(text, chr(10) || '#') > 0
              THEN 1 ELSE 0 END AS f_heading
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(f_code) AS BIGINT) AS with_code_fence,
       CAST(sum(f_qa) AS BIGINT) AS with_qa,
       CAST(sum(f_bullets) AS BIGINT) AS with_bullets,
       CAST(sum(f_heading) AS BIGINT) AS with_heading,
       CAST((sum(f_code) * 1000000) // count(*) AS BIGINT)
         AS code_frac_u,
       CAST((sum(f_qa) * 1000000) // count(*) AS BIGINT) AS qa_frac_u
FROM flags
GROUP BY source
"""


def rake_keywords(docs: DataFrame, k: int = 30, max_words: int = 4) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal runs of content words between
    stopword/punctuation boundaries; each word scores
    ``degree/frequency`` (degree = summed length of the phrases it
    appears in), a phrase scores the sum of its member words, and the
    report is the global top-``k`` phrases — the cheap, model-free
    "what is this corpus about" artifact curators read before mixing.

    Cross-engine notes: the boundary marking is two global
    ``regexp_replace`` passes of the space-delimited stopword
    alternation (two passes make consecutive stopwords split without
    lookaround, which RE2 — DuckDB's engine — does not support);
    scores are exact integers (``(degree · 1000) DIV frequency``).

    Scale shape: two explodes (phrase, word) feeding map-side-combined
    aggregates keyed by word and by phrase text; the word-score join
    back onto phrase members shuffles on the word key
    (vocabulary-sized build side). The final top-k is ``ORDER BY …
    LIMIT k`` — Spark plans TakeOrderedAndProject (per-partition
    heaps, no global sort), and the rank window runs over the ≤ k
    surviving rows only."""
    stop_alt = "|".join(STOPWORD_LIST)
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z]+", " "),
        F.lit(" "),
    )
    pat = rf" (?:{stop_alt}) "
    bounded = F.regexp_replace(F.regexp_replace(norm, pat, " | "), pat, " | ")
    phrases = (
        docs.select(F.explode(F.split(bounded, r"\|")).alias("raw"))
        .select(
            F.expr("filter(split(raw, ' +'), w -> w <> '')").alias("ws")
        )
        .where((F.size("ws") >= 1) & (F.size("ws") <= max_words))
        .select(
            F.array_join("ws", " ").alias("phrase"),
            F.size("ws").alias("n_words"),
            F.col("ws"),
        )
    )
    word_scores = (
        phrases.select(F.explode("ws").alias("word"), "n_words")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("degree"),
        )
        .select(
            "word",
            F.expr("CAST((degree * 1000) DIV freq AS BIGINT)")
            .alias("word_score_u"),
        )
    )
    phrase_freq = phrases.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    scored = (
        phrase_freq.select(
            "phrase", "n_words", "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(word_scores, "word")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(F.sum("word_score_u").cast("long").alias("score_u"))
    )
    top = scored.orderBy(
        F.col("score_u").desc(),
        F.col("n_occurrences").desc(),
        F.col("phrase").asc(),
    ).limit(k)
    w = Window.orderBy(
        F.col("score_u").desc(),
        F.col("n_occurrences").desc(),
        F.col("phrase").asc(),
    )
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "phrase",
        F.col("n_words").cast("int").alias("n_words"),
        "n_occurrences",
        "score_u",
    )


def rake_keywords_sql(k: int = 30, max_words: int = 4) -> str:
    """DuckDB twin: same two-pass boundary replace (RE2 has no
    lookaround — the two global passes ARE the contract), same integer
    scores, ORDER BY … LIMIT for the top-k."""
    stop_alt = "|".join(STOPWORD_LIST)
    return rf"""
WITH bounded AS (
  SELECT regexp_replace(
           regexp_replace(
             ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g')
                 || ' ',
             ' (?:{stop_alt}) ', ' | ', 'g'),
           ' (?:{stop_alt}) ', ' | ', 'g') AS t
  FROM documents
),
cand AS (
  SELECT list_filter(regexp_split_to_array(raw, ' +'), w -> w <> '') AS ws
  FROM (SELECT unnest(regexp_split_to_array(t, '\|')) AS raw FROM bounded)
),
phrases AS (
  SELECT array_to_string(ws, ' ') AS phrase, len(ws) AS n_words, ws
  FROM cand
  WHERE len(ws) >= 1 AND len(ws) <= {max_words}
),
word_scores AS (
  SELECT word,
         CAST((CAST(sum(n_words) AS BIGINT) * 1000)
              // CAST(count(*) AS BIGINT) AS BIGINT) AS word_score_u
  FROM (SELECT unnest(ws) AS word, n_words FROM phrases)
  GROUP BY word
),
phrase_freq AS (
  SELECT phrase, n_words,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM phrases
  GROUP BY phrase, n_words
),
scored AS (
  SELECT p.phrase, p.n_words, p.n_occurrences,
         CAST(sum(s.word_score_u) AS BIGINT) AS score_u
  FROM (SELECT phrase, n_words, n_occurrences,
               unnest(regexp_split_to_array(phrase, ' ')) AS word
        FROM phrase_freq) p
  JOIN word_scores s ON p.word = s.word
  GROUP BY p.phrase, p.n_words, p.n_occurrences
),
top AS (
  SELECT * FROM scored
  ORDER BY score_u DESC, n_occurrences DESC, phrase ASC
  LIMIT {k}
)
SELECT CAST(row_number() OVER (ORDER BY score_u DESC, n_occurrences DESC,
                               phrase ASC) AS INT) AS rank,
       phrase, CAST(n_words AS INT) AS n_words, n_occurrences, score_u
FROM top
"""


def hash_classifier_scores(docs: DataFrame) -> DataFrame:
    """Hashing-trick linear classifier scoring (the fastText-style
    quality-filter shape, with a deterministic stand-in weight table):
    each lowercase alpha token hashes to a signed integer weight via
    pure arithmetic — ``(ascii(first char)·31 + length·17) mod 101 −
    50`` — and a document's score is the mean token weight. The real
    pipeline swaps the arithmetic for learned weights; everything
    that matters at scale is identical: the hashing trick means NO
    vocabulary join, fixed per-row work, zero shuffles — scoring is
    a map-only pass that fuses into whatever scan feeds it.

    Scores are shifted non-negative integers: ``score_u = ((raw +
    50·n)·1000) DIV n`` lands in [0, 100000] with 50000 the neutral
    line, so the integer division is engine-exact without negative
    DIV/floor ambiguity. ``accepted`` is the ≥ neutral cut."""
    toks = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
    raw = F.expr(
        f"aggregate({toks}, 0L, (acc, x) -> acc"
        " + (ascii(substr(x, 1, 1)) * 31 + length(x) * 17) % 101 - 50)"
    )
    n = F.expr(f"size({toks})")
    per = docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        raw.cast("long").alias("raw"),
    )
    score = F.expr("CAST(((raw + 50 * n_tokens) * 1000) DIV n_tokens AS BIGINT)")
    return per.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") > 0, score).alias("score_u"),
        F.when(F.col("n_tokens") > 0, (score >= 50000).cast("int"))
        .alias("accepted"),
    )


HASH_CLASSIFIER_SCORES_SQL = r"""
WITH per AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(
                list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                            x -> x <> ''),
                x -> (ascii(substr(x, 1, 1)) * 31 + length(x) * 17) % 101
                     - 50)), 0) AS BIGINT) AS raw
  FROM documents
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens > 0
            THEN CAST(((raw + 50 * n_tokens) * 1000) // n_tokens AS BIGINT)
       END AS score_u,
       CASE WHEN n_tokens > 0
            THEN CAST(((raw + 50 * n_tokens) * 1000) // n_tokens >= 50000
                      AS INT)
       END AS accepted
FROM per
"""
