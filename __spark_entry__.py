"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 implemented
Spark-first in ``trino_iceberg_maintenance_spark``; ``oracle_sql()``
holds the DuckDB twin (tables region nation customer supplier part
orders lineitem events documents embeddings are pre-registered views).
Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the due-maintenance evaluation (SURVEY.md §7.2 M1) —
    every maintenance action due now across the managed-table fleet."""
    from trino_iceberg_maintenance_spark.plans.due import due_actions
    from trino_iceberg_maintenance_spark.sources.schedule import synth_schedule

    return due_actions(synth_schedule(spark, SF0001))


# ---------------------------------------------------------------------------
# queries — one per implemented operator
# ---------------------------------------------------------------------------

def _schedule_scan(spark, sf_dir):
    """S1 full scan. The ARRAY<STRING> columns_to_analyze column is
    projected to a joined string for the driver contract — the
    driver's pandas canonicalizer cannot sort/hash list cells
    (CORRECTNESS_r01 `unhashable type: 'list'`); NULL stays NULL on
    both engines (array_join/array_to_string)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.sources.schedule import synth_schedule

    return synth_schedule(spark, sf_dir).withColumn(
        "columns_to_analyze", F.array_join("columns_to_analyze", ",")
    )


def _maintenance_due(spark, sf_dir):
    from trino_iceberg_maintenance_spark.plans.due import due_actions
    from trino_iceberg_maintenance_spark.sources.schedule import synth_schedule

    return due_actions(synth_schedule(spark, sf_dir))


def _watermark_merge(spark, sf_dir):
    """S8/P4/F1: MERGE-shaped watermark update — stamp
    last_optimized_on for every table due for optimize (declarative
    twin of __main__.py:172-176)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.due import NOW_LITERAL, due_actions
    from trino_iceberg_maintenance_spark.sources.schedule import synth_schedule

    sched = synth_schedule(spark, sf_dir)
    due = (
        due_actions(sched)
        .where((F.col("action") == "optimize") & ~F.col("misconfigured"))
        .select("table_name", F.lit(True).alias("__due"))
    )
    return sched.join(due, "table_name", "left").select(
        "table_name",
        F.col("last_optimized_on").alias("previous_watermark"),
        F.when(F.col("__due"), F.expr(f"TIMESTAMP '{NOW_LITERAL}'"))
        .otherwise(F.col("last_optimized_on"))
        .alias("new_watermark"),
    )


def _stats_null_fractions(spark, sf_dir):
    from trino_iceberg_maintenance_spark.plans.stats import null_fraction_stats
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return null_fraction_stats(load_table(spark, sf_dir, "orders"))


def _stats_numeric(spark, sf_dir):
    from trino_iceberg_maintenance_spark.plans.stats import numeric_stats
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return numeric_stats(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber"],
        exact=True,
    )


def _stats_string(spark, sf_dir):
    from trino_iceberg_maintenance_spark.plans.stats import string_stats
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return string_stats(
        load_table(spark, sf_dir, "documents"),
        ["lang", "source", "text"],
        exact=True,
    )


def _orphan_files(spark, sf_dir):
    """M1 anti-join core on a derived file inventory: orders rows play
    storage-listing entries, lineitem's orderkeys are the referenced
    set."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.orphans import find_orphans
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    path = lambda c: F.concat(F.lit("data/part-"), F.col(c).cast("string"), F.lit(".parquet"))  # noqa: E731
    listing = load_table(spark, sf_dir, "orders").select(
        path("o_orderkey").alias("file_path"),
        F.col("o_orderdate").alias("last_modified"),
        F.expr("CAST(floor(o_totalprice * 1000) AS BIGINT)").alias("file_size_bytes"),
    )
    referenced = load_table(spark, sf_dir, "lineitem").select(
        path("l_orderkey").alias("file_path")
    )
    return find_orphans(listing, referenced, "1996-06-01 00:00:00")


def _snapshot_expiry(spark, sf_dir):
    """M2 retention: events rows play snapshot-log entries; expire
    older than cutoff, always retaining each table's newest."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.snapshots import expire_candidates
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    snapshots = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("tbl_"), (F.col("user_id") % 20).cast("string")).alias(
            "table_name"
        ),
        F.col("event_id").alias("snapshot_id"),
        F.col("ts").alias("committed_at"),
    )
    return expire_candidates(snapshots, "2024-01-20 00:00:00")


def _gc_unreachable(spark, sf_dir):
    """M2's second half: files referenced only by expired snapshots —
    all-refs anti-join surviving-refs. lineitem part keys play file
    refs; 'surviving' snapshots are recent-shipment rows."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.snapshots import unreachable_files
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    path = F.concat(
        F.lit("data/part-"), F.col("l_partkey").cast("string"), F.lit(".parquet")
    ).alias("file_path")
    all_refs = li.select(path)
    surviving = li.where(
        F.col("l_shipdate") >= F.expr("TIMESTAMP '1995-01-01 00:00:00'")
    ).select(path)
    return unreachable_files(all_refs, surviving)


def _compaction_plan(spark, sf_dir):
    """M3 planning: bin-pack file counts per partition from a derived
    inventory."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.compaction import plan_compaction
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    inventory = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("p="), (F.col("o_orderkey") % 50).cast("string")).alias(
            "partition"
        ),
        F.expr("CAST(floor(o_totalprice * 1000) AS BIGINT)").alias("file_size_bytes"),
    )
    return plan_compaction(inventory)


def _q1(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, sf_dir)


def _top_revenue(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import top_revenue_orders

    return top_revenue_orders(spark, sf_dir)


def _regional_revenue(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import regional_revenue

    return regional_revenue(spark, sf_dir)


def _top_customers(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        top_customers_per_segment,
    )

    return top_customers_per_segment(spark, sf_dir)


def _order_rollup(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import order_rollup

    return order_rollup(spark, sf_dir)


def _order_count_distribution(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        order_count_distribution,
    )

    return order_count_distribution(spark, sf_dir)


def _min_cost_supplier(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        min_cost_supplier,
    )

    return min_cost_supplier(spark, sf_dir)


def _market_share(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import market_share

    return market_share(spark, sf_dir)


def _supplier_diversity(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        supplier_diversity,
    )

    return supplier_diversity(spark, sf_dir)


def _grouping_sets_orders(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        grouping_sets_orders,
    )

    return grouping_sets_orders(spark, sf_dir)


def _promo_brand_revenue(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        promo_brand_revenue,
    )

    return promo_brand_revenue(spark, sf_dir)


def _sole_blocking_supplier(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        sole_blocking_supplier,
    )

    return sole_blocking_supplier(spark, sf_dir)


def _part_metrics_unpivot(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        part_metrics_unpivot,
    )

    return part_metrics_unpivot(spark, sf_dir)


def _customer_spend_ranks(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        customer_spend_ranks,
    )

    return customer_spend_ranks(spark, sf_dir)


def _lineitem_corr_stats(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        lineitem_corr_stats,
    )

    return lineitem_corr_stats(spark, sf_dir)


def _pmi_collocations(spark, sf_dir):
    """Top collocations by pointwise mutual information over adjacent
    token pairs."""
    from trino_iceberg_maintenance_spark.operators.text import pmi_collocations
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return pmi_collocations(load_table(spark, sf_dir, "documents"))


def _tfidf_top_terms(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import tfidf_top_terms
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def _customer_set_ops(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import customer_set_ops

    return customer_set_ops(spark, sf_dir)


# -- LLM-data-pipeline extension operators (SURVEY.md §2.11) ---------------

def _dedup_exact(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.dedup import exact_dedup_summary
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return exact_dedup_summary(load_table(spark, sf_dir, "documents"))


def _dedup_keepers(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.dedup import exact_dedup_keepers
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return exact_dedup_keepers(load_table(spark, sf_dir, "documents"))


def _dedup_near_minhash(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.dedup import minhash_near_dups
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return minhash_near_dups(load_table(spark, sf_dir, "documents"))


def _dedup_clusters(spark, sf_dir):
    """Iterative connected components over verified MinHash pairs —
    the pairs→groups step of near-dup dedup."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_dups,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return dedup_clusters(minhash_near_dups(load_table(spark, sf_dir, "documents")))


def _ngram_jaccard(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.dedup import ngram_jaccard_pairs
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def _simhash(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.dedup import simhash
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return simhash(load_table(spark, sf_dir, "documents"))


def _embedding_near_dups(spark, sf_dir):
    """Exact all-pairs near-dup search, distributed block-pair matmul
    (no driver collect, no corpus broadcast — r1 VERDICT item 2)."""
    from trino_iceberg_maintenance_spark.operators.dedup import embedding_near_dups
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return embedding_near_dups(load_table(spark, sf_dir, "embeddings"))


def _embedding_near_dups_ivf(spark, sf_dir):
    """Index-scale (subquadratic) near-dup pairs: IVF cell blocking +
    per-cell matmul kernel, oracle-checked via the deterministic
    assignment replay."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        embedding_near_dups_ivf,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return embedding_near_dups_ivf(load_table(spark, sf_dir, "embeddings"))


def _contamination_check(spark, sf_dir):
    """Train/test decontamination: docs sharing any shingle with the
    deterministic doc_id % 97 == 0 benchmark slice."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.dedup import contamination_check
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return contamination_check(docs, docs.where(F.col("doc_id") % 97 == 0))


def _cosine_topk(spark, sf_dir):
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import cosine_topk
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 5))


def _ivf_topk(spark, sf_dir):
    """Approximate ANN (IVF cells). Oracle-checkable: the sample
    centroids are raw corpus rows, cell argmax ranks by round(sim, 6)
    with a cell_id tiebreak, and both engines evaluate dots in the
    same sequential order — the DuckDB twin (ivf_topk_sql) replays
    the identical index build + probe. Recall vs the exact path is
    additionally asserted in tests/test_extensions.py."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import ivf_topk
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 5))


def _ivf_topk_kmeans(spark, sf_dir):
    """Approximate ANN with spherical-k-means-refined IVF centroids
    (Lloyd iterations as DataFrame jobs). Oracle-checkable: the Lloyd
    means are exact DECIMAL(38,18) sums (order-independent within
    each engine), so the DuckDB twin unrolls the same 2 iterations as
    CTE chains and reproduces the index; rounded-sim ranking absorbs
    the ≤1-ulp cross-engine mean difference. The recall improvement
    over the unrefined index is asserted in tests/test_extensions.py."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import ivf_topk
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 5), refine_iters=2)


def _pq_topk(spark, sf_dir):
    """Approximate ANN via product quantization + ADC lookup —
    deterministic codebooks/encoding, so fully oracle-checked like the
    other ANN paths."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import pq_topk
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < 5))


def _lsh_topk(spark, sf_dir):
    """Approximate ANN (banded hyperplane LSH). Oracle-checkable: the
    hyperplane constants are inlined into both engines' expressions
    and dots evaluate in the same sequential order, so signatures and
    candidate sets agree exactly (lsh_topk_sql). Recall vs the exact
    path is asserted in tests/test_extensions.py."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import lsh_topk
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 5), band_bits=2)


def _token_stats(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import token_stats
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return token_stats(load_table(spark, sf_dir, "documents"))


def _quality_scores(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import quality_scores
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return quality_scores(load_table(spark, sf_dir, "documents"))


def _lang_id(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import lang_id
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return lang_id(load_table(spark, sf_dir, "documents"))


def _vocabulary(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import vocabulary
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return vocabulary(load_table(spark, sf_dir, "documents"))


def _corpus_stats(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import corpus_stats
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return corpus_stats(load_table(spark, sf_dir, "documents"))


def _curation_pipeline(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import curation_pipeline
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return curation_pipeline(load_table(spark, sf_dir, "documents"))


def _fingerprints(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import fingerprints
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return fingerprints(load_table(spark, sf_dir, "documents"))


def _events_tumbling(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        tumbling_counts,
    )

    return tumbling_counts(load_events(spark, sf_dir))


def _events_sliding(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        sliding_counts,
    )

    return sliding_counts(load_events(spark, sf_dir))


def _events_sessionize(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        sessionize,
    )

    return sessionize(load_events(spark, sf_dir))


def _events_session_window(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        session_window_counts,
    )

    return session_window_counts(load_events(spark, sf_dir))


def _events_json_rollup(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        json_props_rollup,
        load_events,
    )

    return json_props_rollup(load_events(spark, sf_dir))


def _near_dedup_keepers(spark, sf_dir):
    """The near-dedup end product: doc ids surviving minhash →
    verify → cluster → keep-canonical."""
    from trino_iceberg_maintenance_spark.operators.dedup import near_dedup_keepers
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return near_dedup_keepers(load_table(spark, sf_dir, "documents"))


def _cohort_retention(spark, sf_dir):
    """Retention triangle: first-event-month cohorts × months-since
    distinct-active counts."""
    from trino_iceberg_maintenance_spark.operators.events import (
        cohort_retention,
        load_events,
    )

    return cohort_retention(load_events(spark, sf_dir))


def _events_daily_gap_fill(spark, sf_dir):
    """Resample with zero-filled calendar gaps (sequence-explode
    spine × type dim, left join of pre-aggregated counts)."""
    from trino_iceberg_maintenance_spark.operators.events import (
        daily_gap_fill,
        load_events,
    )

    return daily_gap_fill(load_events(spark, sf_dir))


def _data_quality_audit(spark, sf_dir):
    """Constraint audit (not-null, domain, uniqueness, referential
    integrity) — one row per rule."""
    from trino_iceberg_maintenance_spark.plans.audit import quality_audit
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return quality_audit(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
    )


def _event_funnel(spark, sf_dir):
    """Ordered-sequence (funnel) detection: purchases completing
    view → click → purchase with bounded step gaps."""
    from trino_iceberg_maintenance_spark.operators.events import (
        event_funnel,
        load_events,
    )

    return event_funnel(load_events(spark, sf_dir))


def _events_click_attribution(spark, sf_dir):
    """Batch twin of the watermarked stream-stream join (§2.9): every
    same-user (click, purchase) pair within the attribution window."""
    from trino_iceberg_maintenance_spark.operators.events import (
        click_attribution,
        load_events,
    )

    return click_attribution(load_events(spark, sf_dir))


def _events_asof_join(spark, sf_dir):
    """§2.7 extension: point-in-time (as-of) join — last purchase
    at-or-before each click, union-and-window shape (one shuffle)."""
    from trino_iceberg_maintenance_spark.operators.temporal import asof_join_events
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return asof_join_events(load_table(spark, sf_dir, "events"))


def _events_range_join(spark, sf_dir):
    """§2.7 extension: bounded-interval join — trailing-24h error
    census per purchase, bucketed equi-join shape (constant fan-out)."""
    from trino_iceberg_maintenance_spark.operators.temporal import range_join_events
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return range_join_events(load_table(spark, sf_dir, "events"))


def _small_quantity_revenue(spark, sf_dir):
    """§2.8 extension: TPC-H Q17 shape — correlated scalar subquery
    decorrelated into a partkey window over a broadcast-sliced fact."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        small_quantity_revenue,
    )

    return small_quantity_revenue(spark, sf_dir)


def _idle_rich_customers(spark, sf_dir):
    """§2.8 extension: TPC-H Q22 shape — in-plan scalar subquery
    (broadcast 1-row aggregate) + LEFT ANTI join."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        idle_rich_customers,
    )

    return idle_rich_customers(spark, sf_dir)


def _simhash_near_dups(spark, sf_dir):
    """§2.11 dedup family 6: banded SimHash Hamming search — perfect
    recall for max_hamming < n_bands by pigeonhole (within surviving
    buckets). 32-bit signatures + a tight boilerplate cap keep the
    pair volume proportional to GENUINE near-dup structure on this
    heavily-collapsed synthetic corpus."""
    from trino_iceberg_maintenance_spark.operators.dedup import simhash_near_dups
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return simhash_near_dups(
        load_table(spark, sf_dir, "documents"),
        max_hamming=3, bits=32, n_bands=4, max_bucket_size=50,
    )


def _trailing_spend(spark, sf_dir):
    """§2.8 extension: RANGE-frame moving aggregate partitioned by a
    high-cardinality entity key (no global-order window)."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        customer_trailing_spend,
    )

    return customer_trailing_spend(spark, sf_dir)


def _late_shipment_orders(spark, sf_dir):
    """§2.7 extension: EXISTS as LEFT SEMI join (probe emits each
    order at most once, no multi-match fan-out)."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        late_shipment_orders,
    )

    return late_shipment_orders(spark, sf_dir)


def _order_cube(spark, sf_dir):
    """§2.6 extension: CUBE grouping-sets lattice with grouping_id."""
    from trino_iceberg_maintenance_spark.operators.relational import order_cube

    return order_cube(spark, sf_dir)


def _event_type_pivot(spark, sf_dir):
    """§2.6 extension: pivot with DECLARED values (no distinct-scan
    job) — one groupBy shuffle of conditional counts."""
    from trino_iceberg_maintenance_spark.operators.relational import event_type_pivot

    return event_type_pivot(spark, sf_dir)


def _price_quantiles(spark, sf_dir):
    """§2.6 extension: grouped quantiles. exact=True is the oracle
    gate (DuckDB quantile_cont twin); the library default is the
    bounded-state approx_percentile scale path."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        price_quantiles_by_flag,
    )

    return price_quantiles_by_flag(spark, sf_dir, exact=True)


#: fixed curation-sampling parameters shared by queries and oracles
SAMPLE_RATES = {"en": 0.5, "de": 0.75, "fr": 0.75}
MIX_WEIGHTS = {"src0": 3.0, "src1": 2.0, "src5": 0.5}


def _stratified_sample(spark, sf_dir):
    """§2.11 curation: deterministic per-language downsampling via a
    broadcast rates dim + md5-threshold predicate (map-side)."""
    from trino_iceberg_maintenance_spark.operators.sampling import stratified_sample
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return stratified_sample(load_table(spark, sf_dir, "documents"), SAMPLE_RATES)


def _mixture_interleave(spark, sf_dir):
    """§2.11 curation: weighted source-mixing curriculum key."""
    from trino_iceberg_maintenance_spark.operators.sampling import mixture_interleave
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return mixture_interleave(load_table(spark, sf_dir, "documents"), MIX_WEIGHTS)


def _pack_shards(spark, sf_dir):
    """§2.11 curation: token-budget shard packing via the two-phase
    distributed prefix sum (no global-order window)."""
    from trino_iceberg_maintenance_spark.operators.sampling import pack_shards
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return pack_shards(load_table(spark, sf_dir, "documents"))


def _frame_sample(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.multimodal import (
        sampled_frames_from_docs,
    )

    return sampled_frames_from_docs(spark, sf_dir)


def _salted_rollup(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.skew import (
        salted_event_type_rollup,
    )

    return salted_event_type_rollup(spark, sf_dir)


def _repetition_scores(spark, sf_dir):
    """§2.11 text: duplicate-n-gram repetition filter (Gopher-style),
    map-side array expressions only."""
    from trino_iceberg_maintenance_spark.operators.text import repetition_scores
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return repetition_scores(load_table(spark, sf_dir, "documents"))


def _audio_chunks(spark, sf_dir):
    """§2.11 multimodal: fixed-width audio-style chunking (decode
    stubbed; chunk fan-out + schema contract real)."""
    from trino_iceberg_maintenance_spark.operators.multimodal import (
        audio_chunks_from_docs,
    )

    return audio_chunks_from_docs(spark, sf_dir)


def _multimodal_meta(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.multimodal import (
        asset_metadata_from_docs,
    )

    return asset_metadata_from_docs(spark, sf_dir)


def _salted_join(spark, sf_dir):
    """Skew guard: known-hot-key equi-join via fact-side salting +
    dim-side replication — identical results to the plain join."""
    from trino_iceberg_maintenance_spark.operators.skew import (
        salted_user_enrichment,
    )

    return salted_user_enrichment(spark, sf_dir)


def _events_windows_union(spark, sf_dir):
    """§2.9 batch twin: tumbling + sliding + session windows in one
    long-format relation (shared scan, parallel branch stages)."""
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        windows_union,
    )

    return windows_union(load_events(spark, sf_dir))


def _media_chunks(spark, sf_dir):
    """§2.11 multimodal: frame sampling + audio chunking as one tagged
    per-unit fan-out (payload consumed map-side, metadata-only shuffle)."""
    from trino_iceberg_maintenance_spark.operators.multimodal import (
        media_chunks_from_docs,
    )

    return media_chunks_from_docs(spark, sf_dir)


def _grouping_analytics(spark, sf_dir):
    """§2.6 extension: ROLLUP + CUBE + GROUPING SETS computed from one
    CUBE aggregation pass (one fact scan instead of three)."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        grouping_analytics,
    )

    return grouping_analytics(spark, sf_dir)


def _doc_quality_profile(spark, sf_dir):
    """§2.11 text: the full per-document quality surface (tokens,
    ratios, lang-ID, repetition, PII counts) in ONE codegen'd scan."""
    from trino_iceberg_maintenance_spark.operators.text import doc_quality_profile
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return doc_quality_profile(load_table(spark, sf_dir, "documents"))




def _forecast_revenue(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import forecast_revenue

    return forecast_revenue(spark, sf_dir)


def _volume_shipping(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import volume_shipping

    return volume_shipping(spark, sf_dir)


def _nation_profit(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import nation_profit

    return nation_profit(spark, sf_dir)


def _returned_items(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import returned_items

    return returned_items(spark, sf_dir)


def _important_parts(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import important_parts

    return important_parts(spark, sf_dir)


def _urgent_shipment_mix(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import urgent_shipment_mix

    return urgent_shipment_mix(spark, sf_dir)


def _top_supplier(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import top_supplier

    return top_supplier(spark, sf_dir)


def _large_volume_customers(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        large_volume_customers,
    )

    return large_volume_customers(spark, sf_dir)



def _zorder_plan(spark, sf_dir):
    """Z-ORDER rewrite plan over lineitem clustered on
    (l_partkey, l_suppkey) — per-output-file row counts and min/max
    ranges on BOTH dimensions."""
    from trino_iceberg_maintenance_spark.plans.compaction import (
        plan_zorder_clustering,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return plan_zorder_clustering(
        load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"],
    )



def _token_chunks(spark, sf_dir):
    """Context-window chunking (expression path; UDTF twin pinned
    equivalent in tests/test_extensions.py)."""
    from trino_iceberg_maintenance_spark.operators.chunking import chunk_tokens
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return chunk_tokens(load_table(spark, sf_dir, "documents"))



def _embedding_dedup_keepers(spark, sf_dir):
    """SemDeDup-shaped survivor set: IVF cosine pairs -> components ->
    one representative per cluster."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        embedding_dedup_keepers,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return embedding_dedup_keepers(load_table(spark, sf_dir, "embeddings"))



def _promo_revenue_share(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        promo_revenue_share,
    )

    return promo_revenue_share(spark, sf_dir)



def _lm_support_scores(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import lm_support_scores
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return lm_support_scores(load_table(spark, sf_dir, "documents"))



def _chunk_dup_fraction(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.chunking import (
        chunk_dup_fraction,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return chunk_dup_fraction(load_table(spark, sf_dir, "documents"))



def _burst_detection(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        burst_detection,
        load_events,
    )

    return burst_detection(load_events(spark, sf_dir))


def _supplier_affinity(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        supplier_affinity,
    )

    return supplier_affinity(spark, sf_dir)


def _doc_length_histogram(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import (
        doc_length_histogram,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return doc_length_histogram(load_table(spark, sf_dir, "documents"))


def _shipping_priority(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        shipping_priority,
    )

    return shipping_priority(spark, sf_dir)


def _order_priority_check(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        order_priority_check,
    )

    return order_priority_check(spark, sf_dir)


def _local_supplier_volume(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        local_supplier_volume,
    )

    return local_supplier_volume(spark, sf_dir)


def _brand_quantity_revenue(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        brand_quantity_revenue,
    )

    return brand_quantity_revenue(spark, sf_dir)


def _pii_scan(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.pii import pii_scan
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return pii_scan(load_table(spark, sf_dir, "documents"))


def _pii_redact(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.pii import pii_redact
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return pii_redact(load_table(spark, sf_dir, "documents"))


def _gopher_quality_flags(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import (
        gopher_quality_flags,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return gopher_quality_flags(load_table(spark, sf_dir, "documents"))


def _boilerplate_spans(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import (
        boilerplate_spans,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return boilerplate_spans(load_table(spark, sf_dir, "documents"))


def _cosine_radius(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.similarity import cosine_radius
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_radius(emb, emb.where(F.col("vec_id") < 5), threshold=0.25)


def _weighted_sample(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.sampling import weighted_sample
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return weighted_sample(load_table(spark, sf_dir, "documents"))


def _containment_pairs(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.dedup import containment_pairs
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return containment_pairs(load_table(spark, sf_dir, "documents"))


def _curation_pipeline_v2(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import (
        curation_pipeline_v2,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return curation_pipeline_v2(load_table(spark, sf_dir, "documents"))


def _source_mixture_stats(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.sampling import (
        source_mixture_stats,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return source_mixture_stats(load_table(spark, sf_dir, "documents"))


def _strip_boilerplate(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import (
        strip_boilerplate_spans,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return strip_boilerplate_spans(load_table(spark, sf_dir, "documents"))


def _ivf_cell_stats(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.similarity import ivf_cell_stats
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return ivf_cell_stats(load_table(spark, sf_dir, "embeddings"))


def _equi_depth_buckets(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.sampling import (
        equi_depth_buckets,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    # exact=True is the oracle gate (DuckDB quantile_cont twin); the
    # library default is the bounded-state approx_percentile scale path
    return equi_depth_buckets(load_table(spark, sf_dir, "documents"),
                              exact=True)


def _bigram_transitions(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import bigram_transitions
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return bigram_transitions(load_table(spark, sf_dir, "documents"))


def _user_anomaly_zscore(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        user_anomaly_zscore,
    )

    return user_anomaly_zscore(load_events(spark, sf_dir))


def _corpus_health_report(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.text import (
        corpus_health_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return corpus_health_report(load_table(spark, sf_dir, "documents"))


def _order_gap_stats(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        order_gap_stats,
    )

    return order_gap_stats(spark, sf_dir)


def _promo_part_suppliers(spark, sf_dir):
    from trino_iceberg_maintenance_spark.operators.relational import (
        promo_part_suppliers,
    )

    return promo_part_suppliers(spark, sf_dir)


def _edit_distance_pairs(spark, sf_dir):
    """Record-linkage surface: blocked Levenshtein near-dup pairs —
    the character-level verifier alongside MinHash/SimHash/embedding."""
    from trino_iceberg_maintenance_spark.operators.linkage import (
        edit_distance_pairs,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return edit_distance_pairs(load_table(spark, sf_dir, "documents"))


_CDC_OLD_SQL = """SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderdate < DATE '1995-07-01'"""
_CDC_NEW_SQL = """SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10
            ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderdate < DATE '1996-07-01' AND o_orderstatus <> 'P'"""


def _snapshot_changes(spark, sf_dir):
    """Keyed CDC between two derived table states: P-status rows
    deleted, a year of new orders inserted, F-status prices updated —
    all four _change_type phases exercised."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.changelog import (
        keyed_changelog,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where("o_orderdate < DATE '1995-07-01'").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.where(
        "o_orderdate < DATE '1996-07-01' AND o_orderstatus <> 'P'"
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(
            "CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10"
            " ELSE o_totalprice END"
        ).alias("o_totalprice"),
    )
    return keyed_changelog(old, new, ["o_orderkey"])


def _incremental_agg_refresh(spark, sf_dir):
    """Materialized-view maintenance: the stored per-status summary of
    the OLD state plus the keyed changelog's +/- deltas must equal the
    aggregate of the NEW state (the oracle computes the latter
    directly). Change-sized work, not table-sized."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.plans.changelog import (
        apply_changelog_to_summary,
        keyed_changelog,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where("o_orderdate < DATE '1995-07-01'").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.where(
        "o_orderdate < DATE '1996-07-01' AND o_orderstatus <> 'P'"
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(
            "CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10"
            " ELSE o_totalprice END"
        ).alias("o_totalprice"),
    )
    summary = old.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias("total"),
    )
    refreshed = apply_changelog_to_summary(
        summary,
        keyed_changelog(old, new, ["o_orderkey"]),
        group_cols=["o_orderstatus"],
        sum_cols={"total": "o_totalprice"},
    )
    return refreshed.select(
        "o_orderstatus",
        "n_rows",
        F.col("total").cast("double").alias("total"),
    )


def _ewma_daily_revenue(spark, sf_dir):
    """Truncated-horizon EWMA smoothing of the daily revenue series
    per priority (power-of-two weights → cross-engine-exact doubles)."""
    from trino_iceberg_maintenance_spark.operators.temporal import (
        ewma_daily_revenue,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return ewma_daily_revenue(load_table(spark, sf_dir, "orders"))


def _interpolate_hourly(spark, sf_dir):
    """Time-series repair: linear interpolation of a gappy hourly
    high-value series over a generated spine (no extrapolation)."""
    from trino_iceberg_maintenance_spark.operators.events import load_events
    from trino_iceberg_maintenance_spark.operators.temporal import (
        interpolate_hourly,
    )

    return interpolate_hourly(load_events(spark, sf_dir))


def _lang_drift(spark, sf_dir):
    """Per-source language-mix drift vs the corpus (KL divergence) —
    the pipeline monitor for a source silently shifting its mix."""
    from trino_iceberg_maintenance_spark.operators.text import lang_drift
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return lang_drift(load_table(spark, sf_dir, "documents"))


def _pack_sequences(spark, sf_dir):
    """Context-window packing with document splitting — one row per
    (doc, sequence) span over a continuous token stream."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        pack_sequences,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return pack_sequences(load_table(spark, sf_dir, "documents"))


def _heavy_hitters(spark, sf_dir):
    """Exact heavy hitters via Misra-Gries candidates + exact verify —
    bounded-memory two-pass; only candidate tokens are shuffled."""
    from trino_iceberg_maintenance_spark.operators.text import heavy_hitters
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return heavy_hitters(load_table(spark, sf_dir, "documents"))


def _knn_graph(spark, sf_dir):
    """Exact kNN graph: block-pair matmul with per-block local top-k —
    candidate shuffle is n·k·n_blocks edges, never n² similarities."""
    from trino_iceberg_maintenance_spark.operators.similarity import knn_graph
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return knn_graph(load_table(spark, sf_dir, "embeddings"))


def _rf_join(spark, sf_dir):
    """Bloom-style runtime-filter join: broadcast bucket semi-join
    drops non-matching probe rows before the join shuffle; exact join
    after — result identical to the plain join."""
    from trino_iceberg_maintenance_spark.operators.skew import rf_order_lineitems
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return rf_order_lineitems(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _knn_label_vote(spark, sf_dir):
    """kNN majority-vote classifier on the exact neighbor graph —
    label-noise / cluster-purity audit; bounded candidate shuffles."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        knn_label_vote,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return knn_label_vote(load_table(spark, sf_dir, "embeddings"))


def _curriculum_order(spark, sf_dir):
    """Exact global rank by (score DESC, id) without a global sort:
    quantile-range blocking + two-phase prefix sum."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        curriculum_order,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return curriculum_order(load_table(spark, sf_dir, "documents"))


def _session_paths(spark, sf_dir):
    """Top user-journey event-type paths per gap session — funnel
    discovery; per-session arrays bounded by max_len."""
    from trino_iceberg_maintenance_spark.operators.events import session_paths
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return session_paths(load_table(spark, sf_dir, "events"))


def _order_reconciliation(spark, sf_dir):
    """Cross-table header-vs-lines reconciliation audit; decimal-exact
    drift, aggregates shuffle one decimal per order."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        order_reconciliation,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return order_reconciliation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _scd2_tier_orders(spark, sf_dir):
    """SCD2 point-in-time dimension join via union-and-window — one
    key shuffle, no interval join; oracle states the interval form."""
    from trino_iceberg_maintenance_spark.operators.temporal import (
        customer_tier_orders,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return customer_tier_orders(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def _event_dedup_within(spark, sf_dir):
    """Debounce dedup: drop same-(user,type) events within 5 minutes
    of the previous occurrence."""
    from trino_iceberg_maintenance_spark.operators.events import (
        event_dedup_within,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return event_dedup_within(load_table(spark, sf_dir, "events"))


def _twap_daily(spark, sf_dir):
    """Time-weighted average for irregular series — one (type, day)
    shuffle serves the lead window and the aggregate; decimal-exact."""
    from trino_iceberg_maintenance_spark.operators.temporal import twap_daily
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return twap_daily(load_table(spark, sf_dir, "events"))


def _exact_stratified_sample(spark, sf_dir):
    """Exactly-n-per-stratum deterministic sample: oversample by hash
    threshold map-side, then exact trim — no full-stratum sort."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        exact_stratified_sample,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return exact_stratified_sample(load_table(spark, sf_dir, "documents"))


def _minhash_recall_report(spark, sf_dir):
    """LSH quality as a monitored metric: MinHash pair set vs the
    exact prefix-filtered join — counts, precision (structurally 1.0),
    recall; one full-outer join on the tiny pair sets."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        minhash_recall_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return minhash_recall_report(load_table(spark, sf_dir, "documents"))


def _yoy_revenue_growth(spark, sf_dir):
    """YoY revenue growth per segment: lag window over the tiny
    yearly aggregate; floor-scaled rounding for cross-engine ratios."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        yoy_revenue_growth,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return yoy_revenue_growth(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def _window_rank_suite(spark, sf_dir):
    """Ranking-function family (rank/dense/percent/cume_dist/ntile) —
    one window spec, one shuffle, WindowGroupLimit top-n."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        window_rank_suite,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return window_rank_suite(load_table(spark, sf_dir, "orders"))


def _vector_stats(spark, sf_dir):
    """Higher-order array functions map-side: per-vector norm/mean/
    max/positive-fraction, no explode, no shuffle, no UDF."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        vector_stats,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return vector_stats(load_table(spark, sf_dir, "embeddings"))


def _novelty_scores(spark, sf_dir):
    """Per-doc corpus-unique shingle fraction — originality signal;
    two shuffles, arrays never hydrate onto pairs."""
    from trino_iceberg_maintenance_spark.operators.text import novelty_scores
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return novelty_scores(load_table(spark, sf_dir, "documents"))


def _cross_source_leakage(spark, sf_dir):
    """Near-dup pairs crossing source boundaries — the train/test
    leakage census over the exact prefix-filtered join."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        cross_source_leakage,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return cross_source_leakage(load_table(spark, sf_dir, "documents"))


def _events_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type — map-side buckets,
    one aggregate."""
    from trino_iceberg_maintenance_spark.operators.events import value_histogram
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return value_histogram(load_table(spark, sf_dir, "events"))


def _supplier_scorecard(spark, sf_dir):
    """Per-supplier ops scorecard from ONE lineitem aggregation +
    broadcast dimension; decimal-exact metrics, top-k by revenue."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        supplier_scorecard,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return supplier_scorecard(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


def _source_top_p(spark, sf_dir):
    """Per-source token-budget curation (nucleus shape): keep each
    source's best docs until p of its tokens; one source shuffle."""
    from trino_iceberg_maintenance_spark.operators.sampling import source_top_p
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return source_top_p(load_table(spark, sf_dir, "documents"))


def _prefix_jaccard(spark, sf_dir):
    """Prefix-filtered exact set-similarity join (PPJoin family) —
    lossless pruning; oracle is the uncapped brute force."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return prefix_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def _mor_read(spark, sf_dir):
    """Merge-on-read scan semantics (Iceberg v2 row-level deletes):
    positional (file, pos) anti-join + sequence-scoped equality delete
    — the relational twin of sources/lake.py's
    _apply_delete_entries."""
    from trino_iceberg_maintenance_spark.plans.mor import mor_read_demo
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return mor_read_demo(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def _kmv_ndv(spark, sf_dir):
    """Per-source KMV distinct-vocabulary sketch — deterministic md5
    hashing, so the (k-1)/u_k estimate is engine-exact."""
    from trino_iceberg_maintenance_spark.operators.text import kmv_ndv
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return kmv_ndv(load_table(spark, sf_dir, "documents"))


def _zipf_fit(spark, sf_dir):
    """Per-source Zipf exponent over the top-50 rank-frequency curve;
    decimal-summed log terms make the slope engine-exact."""
    from trino_iceberg_maintenance_spark.operators.text import zipf_fit
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return zipf_fit(load_table(spark, sf_dir, "documents"))


def _hll_ndv(spark, sf_dir):
    """Per-source HyperLogLog distinct-vocabulary estimate — md5
    registers + bit-length rho, exact-integer indicator sums; the
    sketch-family sibling of kmv_ndv/cms_frequencies."""
    from trino_iceberg_maintenance_spark.operators.text import hll_ndv
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return hll_ndv(load_table(spark, sf_dir, "documents"))


def _normalized_dedup_keepers(spark, sf_dir):
    """C4-style normalized exact dedup: one keeper per canonical
    (lowercased, punctuation-stripped, whitespace-collapsed) content
    form — the step between raw exact dedup and fuzzy MinHash."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        normalized_dedup_keepers,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return normalized_dedup_keepers(load_table(spark, sf_dir, "documents"))


def _hash_split_counts(spark, sf_dir):
    """Deterministic md5-bucketed train/val/test split census per
    source — stable across reruns and incremental ingestion, fully
    map-side at scan time."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        hash_split_counts,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return hash_split_counts(load_table(spark, sf_dir, "documents"))


def _bloom_membership(spark, sf_dir):
    """Bloom-filter membership pre-gate: bit set built over the even
    doc_id half of the corpus, every doc probed against it — the
    no-false-negative cheap filter before an exact anti-join."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.dedup import (
        bloom_membership,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return bloom_membership(docs.where(F.col("doc_id") % 2 == 0), docs)


def _table_history(spark, sf_dir):
    """The ``$history`` metadata relation (Iceberg parity:
    made_current_at, snapshot_id, parent_id, is_current_ancestor)
    over a deterministically constructed table: one snapshot per
    distinct order year on main, then one STAGED snapshot on a side
    branch — the ancestor flag separates published history from the
    staged line."""
    import datetime as _dt
    import tempfile

    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.sources.lake import (
        ParquetMaintainedTable,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    import os

    import pyarrow
    import pyarrow.parquet as pq

    years = [
        int(r.y)
        for r in load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
        .orderBy("y")
        .collect()
    ]
    epoch = _dt.datetime(2026, 1, 1)
    root = tempfile.mkdtemp(prefix="tim_history_")
    t = ParquetMaintainedTable.create(spark, root)

    # metadata-only commits via the add_files procedure (the files are
    # driver-written 1-row parquet — a Spark write job per snapshot
    # would be pure job-launch overhead in a metadata-relation query)
    def land(y: int, name: str) -> str:
        path = os.path.join(root, "data", f"{name}.parquet")
        pq.write_table(pyarrow.table({"y": [y]}), path)
        return path

    for i, y in enumerate(years):
        t.add_files(
            [land(y, f"y{y}")],
            clock=lambda i=i: epoch + _dt.timedelta(days=i),
        )
    t.create_branch("staging")
    t.add_files(
        [land(0, "staged")],
        branch="staging",
        clock=lambda: epoch + _dt.timedelta(days=len(years)),
    )
    out = t.history_df()
    # history_df is a driver-built relation (rows, not a lazy scan) —
    # the fixture table can be removed before returning
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return out


def _word_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy (repetition/diversity gate)."""
    from trino_iceberg_maintenance_spark.operators.text import word_entropy
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return word_entropy(load_table(spark, sf_dir, "documents"))


def _winnowing_fingerprints(spark, sf_dir):
    """Positional winnowing fingerprints (MOSS window-min selection,
    rightmost tie-break) — coverage-guaranteed contamination spans."""
    from trino_iceberg_maintenance_spark.operators.text import (
        winnowing_fingerprints,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


def _perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail thirds per language by corpus-LM
    support score; engine-exact aggregates only."""
    from trino_iceberg_maintenance_spark.operators.text import (
        perplexity_buckets,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return perplexity_buckets(load_table(spark, sf_dir, "documents"))


def _benchmark_coverage(spark, sf_dir):
    """Eval-side leakage audit: per benchmark doc (doc_id % 97 == 0),
    the fraction of its distinct shingles found in the corpus."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.dedup import (
        benchmark_coverage,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return benchmark_coverage(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
    )


def _bpe_merge_candidates(spark, sf_dir):
    """BPE tokenizer-training first merge round: vocabulary-weighted
    adjacent character-pair counts, top-50."""
    from trino_iceberg_maintenance_spark.operators.text import (
        bpe_merge_candidates,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return bpe_merge_candidates(load_table(spark, sf_dir, "documents"))


def _vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit per source (half-vs-full
    two-point form) — templated sources fit near zero."""
    from trino_iceberg_maintenance_spark.operators.text import vocab_growth
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return vocab_growth(load_table(spark, sf_dir, "documents"))


def _temperature_mixture(spark, sf_dir):
    """Temperature-scaled source sampling weights (tau=0.5 — the
    sqrt-share multilingual re-balancing rule) with upsample factors."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        temperature_mixture,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return temperature_mixture(load_table(spark, sf_dir, "documents"))


def _source_overlap_sketch(spark, sf_dir):
    """KMV pairwise Jaccard estimates between sources — cross-source
    overlap at sketch cost (signatures, not joins)."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        source_overlap_sketch,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return source_overlap_sketch(load_table(spark, sf_dir, "documents"))


def _contamination_spans(spark, sf_dir):
    """Span-level contamination localization: winnowing marks hit by
    the doc_id % 97 == 0 benchmark slice, coalesced into token
    ranges (gaps-and-islands)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.text import (
        contamination_spans,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return contamination_spans(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
    )


def _dsir_weights(spark, sf_dir):
    """DSIR importance log-weights toward the en-labeled slice —
    explicit-vocab unigram form (Xie et al. 2023)."""
    from trino_iceberg_maintenance_spark.operators.sampling import dsir_weights
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return dsir_weights(load_table(spark, sf_dir, "documents"))


def _dedup_spans(spark, sf_dir):
    """Sub-document exact dedup: corpus-duplicated 8-gram spans
    removed and text reassembled (ExactSubstr at n-gram grain)."""
    from trino_iceberg_maintenance_spark.operators.dedup import dedup_spans
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return dedup_spans(load_table(spark, sf_dir, "documents"))


def _cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution over the MinHash pair
    graph's connected components."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        cluster_size_histogram,
        minhash_near_dups,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return cluster_size_histogram(
        minhash_near_dups(load_table(spark, sf_dir, "documents"))
    )


def _ivf_recall_report(spark, sf_dir):
    """Recall@10 of the IVF ANN path vs exact brute force, per query —
    the ANN acceptance metric (twin of minhash_recall_report)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import (
        ivf_recall_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_recall_report(emb, emb.where(F.col("vec_id") < 5))


def _supplier_pagerank(spark, sf_dir):
    """PageRank over the supplier co-supply graph — 5 unrolled
    distributed iterations, engine-exact via rounded-term decimal
    sums (the iterative-graph sibling of dedup_clusters)."""
    from trino_iceberg_maintenance_spark.operators.graph import (
        supplier_pagerank,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return supplier_pagerank(load_table(spark, sf_dir, "lineitem"))


def _mad_outliers(spark, sf_dir):
    """Robust (median/MAD) per-priority outlier census on order
    totals; exact-percentile twin of the approx default."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        mad_outliers,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return mad_outliers(load_table(spark, sf_dir, "orders"), exact=True)


def _bm25_scores(spark, sf_dir):
    """Okapi BM25 top-100 for a fixed query — the lexical half of
    hybrid search; query-terms-sized streams + TakeOrdered top-n."""
    from trino_iceberg_maintenance_spark.operators.text import bm25_scores
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return bm25_scores(load_table(spark, sf_dir, "documents"))


def _rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of the exact/IVF/LSH ANN rankings —
    hybrid-retrieval ensemble over bounded per-query lists."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.similarity import rrf_fusion
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return rrf_fusion(emb, emb.where(F.col("vec_id") < 5))


def _key_skew_report(spark, sf_dir):
    """One-row skew census for a join/agg key (the pre-salting
    diagnostic): per-key counts → summary + exact p99 + TakeOrdered
    heaviest key."""
    from trino_iceberg_maintenance_spark.operators.skew import key_skew_report
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return key_skew_report(load_table(spark, sf_dir, "orders"))


def _lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix (labeled vs predicted) with
    per-label shares — curation QA over lang_id."""
    from trino_iceberg_maintenance_spark.operators.text import lang_confusion
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return lang_confusion(load_table(spark, sf_dir, "documents"))


def _join_size_estimate(spark, sf_dir):
    """Exact pre-join cardinality audit from per-key histograms —
    the CBO-style fan-out detector, key-sized joins only."""
    from trino_iceberg_maintenance_spark.operators.relational import (
        join_size_estimate,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return join_size_estimate(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _cms_frequencies(spark, sf_dir):
    """Count-Min Sketch frequency estimates audited vs exact counts
    for the top-20 tokens — md5-deterministic buckets, engine-exact."""
    from trino_iceberg_maintenance_spark.operators.text import cms_frequencies
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return cms_frequencies(load_table(spark, sf_dir, "documents"))


def _rate_limit_events(spark, sf_dir):
    """Per-user-per-hour event rate limiting (first-N keep) — the
    spam/bot-burst guard; WindowGroupLimit plan shape."""
    from trino_iceberg_maintenance_spark.operators.events import (
        load_events,
        rate_limit_events,
    )

    return rate_limit_events(load_events(spark, sf_dir))


def _curation_pipeline_v3(spark, sf_dir):
    """Round-5 curation DAG: entropy + DSIR gates, then full-corpus
    duplicated-span stripping of the survivors — one Catalyst DAG."""
    from trino_iceberg_maintenance_spark.operators.text import (
        curation_pipeline_v3,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return curation_pipeline_v3(load_table(spark, sf_dir, "documents"))


def _semantic_clusters(spark, sf_dir):
    """Mutual-kNN graph above a cosine floor → connected components:
    SemDeDup-shaped embedding clustering."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        semantic_clusters,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return semantic_clusters(load_table(spark, sf_dir, "embeddings"))


def _order_expectations(spark, sf_dir):
    """dbt-test-style declarative expectations over orders — every
    rule a conditional count in ONE aggregate pass (one scan
    regardless of rule count); NULL predicate = violation."""
    from trino_iceberg_maintenance_spark.plans.audit import order_expectations
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return order_expectations(load_table(spark, sf_dir, "orders"))


def _expectation_history(spark, sf_dir):
    """Yearly stage-5 audit history over orders (the orchestrator's
    durable EXPECTATION_AUDIT_SCHEMA shape): one year-keyed aggregate
    pass, stack-unpivoted to rule rows — no per-rule rescan."""
    from trino_iceberg_maintenance_spark.plans.audit import (
        expectation_history,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return expectation_history(load_table(spark, sf_dir, "orders"))


def _minhash_band_tuning(spark, sf_dir):
    """Analytic LSH banding-knob optimizer: every (bands, rows) split
    of the signature scored by integrated FP/FN area against the
    dedup threshold — signature-width-sized, no corpus scan."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        minhash_band_tuning,
    )

    return minhash_band_tuning(spark)


def _source_token_gini(spark, sf_dir):
    """Lorenz curve + Gini of token mass across sources — one hash
    aggregate on the tiny source domain, windows over the aggregate."""
    from trino_iceberg_maintenance_spark.operators.text import (
        source_token_gini,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return source_token_gini(load_table(spark, sf_dir, "documents"))


def _embedding_quantization(spark, sf_dir):
    """Per-dimension int8 quantization audit: absmax scale + measured
    reconstruction error per dim — one posexplode, dim-keyed
    aggregates, broadcast join on the 64-row dim relation."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        embedding_quantization_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return embedding_quantization_report(
        load_table(spark, sf_dir, "embeddings")
    )


def _lsh_bucket_skew(spark, sf_dir):
    """Per-band LSH bucket census: bucket counts, max size, over-cap
    drops, candidate-pair budget - one (band,key) count aggregate,
    no pair generation."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        lsh_bucket_skew_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return lsh_bucket_skew_report(load_table(spark, sf_dir, "documents"))


def _strip_contaminated_spans(spark, sf_dir):
    """Applied contamination strip: tokens inside benchmark-matched
    winnowing spans removed, docs rebuilt in order (doc_id % 97 == 0
    slice is the benchmark, mirroring contamination_spans)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.text import (
        strip_contaminated_spans,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return strip_contaminated_spans(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
    )


def _source_js_divergence(spark, sf_dir):
    """Pairwise JS divergence between source unigram distributions -
    disjoint-support mass folded analytically, inner join only."""
    from trino_iceberg_maintenance_spark.operators.text import (
        source_js_divergence,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return source_js_divergence(load_table(spark, sf_dir, "documents"))


def _dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplicate exposure: dup fraction + cross-
    source mirror counts - one digest aggregate + one digest join +
    source-keyed rollup."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        dedup_rate_by_source,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return dedup_rate_by_source(load_table(spark, sf_dir, "documents"))


def _readability_scores(spark, sf_dir):
    """Flesch reading ease per doc (vowel-group syllable proxy) —
    three regexp-count expressions, zero shuffle."""
    from trino_iceberg_maintenance_spark.operators.text import (
        readability_scores,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return readability_scores(load_table(spark, sf_dir, "documents"))


def _code_profile(spark, sf_dir):
    """Code-vs-prose routing signals (symbol/keyword counts + ratio)
    — map-side only."""
    from trino_iceberg_maintenance_spark.operators.text import code_profile
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return code_profile(load_table(spark, sf_dir, "documents"))


def _ocr_artifact_scores(spark, sf_dir):
    """OCR/extraction damage census (digit fusions, hyphen breaks,
    lone consonants, U+FFFD) — map-side only."""
    from trino_iceberg_maintenance_spark.operators.text import (
        ocr_artifact_scores,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return ocr_artifact_scores(load_table(spark, sf_dir, "documents"))


def _stopword_profile(spark, sf_dir):
    """Per-source stopword mass — one map-side-combined aggregate
    over the exploded token stream."""
    from trino_iceberg_maintenance_spark.operators.text import (
        stopword_profile,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return stopword_profile(load_table(spark, sf_dir, "documents"))


def _ngram_novelty(spark, sf_dir):
    """Per-doc fraction of 3-grams first seen in that doc (doc-id
    ingestion order) — gram-keyed MIN + doc-keyed fold."""
    from trino_iceberg_maintenance_spark.operators.text import ngram_novelty
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return ngram_novelty(load_table(spark, sf_dir, "documents"))


def _split_leakage(spark, sf_dir):
    """Cross-split shared-gram census over the deterministic
    hash_split assignment — split-pair-sized output."""
    from trino_iceberg_maintenance_spark.operators.dedup import split_leakage
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return split_leakage(load_table(spark, sf_dir, "documents"))


def _shuffle_order(spark, sf_dir):
    """Reproducible global training order (seeded md5 rank) via the
    two-phase prefix-sum rank — no single-partition window."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        shuffle_order,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return shuffle_order(load_table(spark, sf_dir, "documents"))


def _repeat_factors(spark, sf_dir):
    """Multi-epoch mixture plan: temperature shares with a per-source
    epoch cap (data-constrained scaling regime)."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        repeat_factors,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return repeat_factors(load_table(spark, sf_dir, "documents"))


def _embedding_covariance(spark, sf_dir):
    """Exact d×d covariance of the embedding distribution (whitening
    prep) — quantized integer sums, d²-sized state."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        embedding_covariance,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return embedding_covariance(load_table(spark, sf_dir, "embeddings"))


def _doc_length_percentiles(spark, sf_dir):
    """Exact per-source length percentiles via the (source, length)
    histogram — no per-source global sort, no approx sketch."""
    from trino_iceberg_maintenance_spark.operators.text import (
        doc_length_percentiles,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return doc_length_percentiles(load_table(spark, sf_dir, "documents"))


def _license_detect(spark, sf_dir):
    """License-family phrase detection per doc — map-side only."""
    from trino_iceberg_maintenance_spark.operators.text import license_detect
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return license_detect(load_table(spark, sf_dir, "documents"))


def _blocklist_filter(spark, sf_dir):
    """C4-style word-blocklist gate (word-boundary token matches) —
    map-side only."""
    from trino_iceberg_maintenance_spark.operators.text import (
        blocklist_filter,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return blocklist_filter(load_table(spark, sf_dir, "documents"))


def _sentence_dedup_stats(spark, sf_dir):
    """Sentence-grain duplication census — hash-keyed df aggregate +
    doc fold, no pair hydration."""
    from trino_iceberg_maintenance_spark.operators.text import (
        sentence_dedup_stats,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return sentence_dedup_stats(load_table(spark, sf_dir, "documents"))


def _strip_shared_sentences(spark, sf_dir):
    """Sentence-level strip (the census's removal candidates applied):
    drop cross-doc sentences with df >= 2, rebuild docs in order —
    hash-keyed df aggregate + doc-sized reconstruction fold."""
    from trino_iceberg_maintenance_spark.operators.text import (
        strip_shared_sentences,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return strip_shared_sentences(load_table(spark, sf_dir, "documents"))


def _markup_density(spark, sf_dir):
    """Residual-markup census (tags/entities/urls) — map-side only."""
    from trino_iceberg_maintenance_spark.operators.text import markup_density
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return markup_density(load_table(spark, sf_dir, "documents"))


def _minhash_calibration(spark, sf_dir):
    """LSH banding recall per exact-Jaccard bucket — the measured
    S-curve behind the dedup threshold knob."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        minhash_calibration,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return minhash_calibration(load_table(spark, sf_dir, "documents"))


def _unicode_profile(spark, sf_dir):
    """Per-source character-class profile (letters/digits/whitespace/
    non-ASCII mass) — map-side regexp counts + one aggregate."""
    from trino_iceberg_maintenance_spark.operators.text import unicode_profile
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return unicode_profile(load_table(spark, sf_dir, "documents"))


def _conversation_turns(spark, sf_dir):
    """Chat-transcript structure stats (turn-marker counts + balance
    flag) — map-side only."""
    from trino_iceberg_maintenance_spark.operators.text import (
        conversation_turns,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return conversation_turns(load_table(spark, sf_dir, "documents"))


def _dedup_funnel(spark, sf_dir):
    """One-row dedup survivorship funnel: exact → normalized →
    near-dup survivor counts + marginal removals."""
    from trino_iceberg_maintenance_spark.operators.dedup import dedup_funnel
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return dedup_funnel(load_table(spark, sf_dir, "documents"))


# Registry entries whose wall-clock is dominated by serialized
# per-iteration job launches on local[N] rather than data volume
# (driver-looped algorithms with lineage cuts between rounds). A timing
# report should list this set apart, so comparisons between runs don't
# read job-launch latency as a plan regression — e.g. supplier_pagerank's
# per-iteration data pass is ~0.35 s at sf0.1 while its wall is ~10 s.
ITERATIVE_QUERIES: frozenset[str] = frozenset({
    "supplier_pagerank",
    "dedup_clusters",
    "semantic_clusters",
    "supplier_kcore",  # 6 unrolled peels, one job launch per round
})

def _temperature_sweep(spark, sf_dir):
    """Temperature grid for the mixture designer: per (tau, source)
    sampling weight + upsample factor; sqrt-chain exponents only
    (engine-exact, no libm pow)."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        temperature_sweep,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return temperature_sweep(load_table(spark, sf_dir, "documents"))


def _clustering_depth_report(spark, sf_dir):
    """Distributed clustering-depth (decay-gate avg_overlap) via
    order statistics over the file inventory — manifest-sized
    windows, never the fact table."""
    from trino_iceberg_maintenance_spark.plans.pruning import (
        clustering_depth_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return clustering_depth_report(load_table(spark, sf_dir, "lineitem"))


def _semdedup_sweep(spark, sf_dir):
    """SemDeDup threshold retention curve: one block-pair matmul at
    the loosest candidate, per-vector worst lower-id cosine, and a
    per-mille threshold grid of drop counts."""
    from trino_iceberg_maintenance_spark.operators.dedup import semdedup_sweep
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return semdedup_sweep(load_table(spark, sf_dir, "embeddings"))


def _rake_keywords(spark, sf_dir):
    """RAKE keyword extraction: stopword-bounded candidate phrases,
    degree/frequency word scores, global top-k phrases via
    TakeOrderedAndProject (never a full sort)."""
    from trino_iceberg_maintenance_spark.operators.text import rake_keywords
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return rake_keywords(load_table(spark, sf_dir, "documents"))


def _hash_classifier_scores(spark, sf_dir):
    """Hashing-trick linear classifier scoring (fastText-shape with a
    deterministic arithmetic weight table): map-only, no vocabulary
    join, shifted-integer per-token scores."""
    from trino_iceberg_maintenance_spark.operators.text import (
        hash_classifier_scores,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return hash_classifier_scores(load_table(spark, sf_dir, "documents"))


def _seasonal_profile(spark, sf_dir):
    """Hour-of-week seasonal decomposition of the event stream:
    arithmetic day-of-week (engine-origin-free), milli-quantized value
    mass, integer intensity index vs the flat profile."""
    from trino_iceberg_maintenance_spark.operators.temporal import (
        seasonal_profile,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return seasonal_profile(load_table(spark, sf_dir, "events"))


def _event_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    streams: lag window partitioned by user, pair counts, integer
    conditional probabilities."""
    from trino_iceberg_maintenance_spark.operators.events import event_markov
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return event_markov(load_table(spark, sf_dir, "events"))


def _quota_sample(spark, sf_dir):
    """Quota enforcement for the token-budget allocation: per-source
    quality-ranked prefix that fits the Hamilton allotment, with the
    per-source fill ledger."""
    from trino_iceberg_maintenance_spark.operators.sampling import quota_sample
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return quota_sample(load_table(spark, sf_dir, "documents"))


def _file_skipping_report(spark, sf_dir):
    """Zone-map pruning effectiveness audit: ingest vs clustered
    layouts, per ship-year predicate — files read vs total, rows
    scanned vs matched, integer prune/read-amplification ratios."""
    from trino_iceberg_maintenance_spark.plans.pruning import (
        file_skipping_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return file_skipping_report(load_table(spark, sf_dir, "lineitem"))


def _chi2_independence(spark, sf_dir):
    """Chi-square independence census over the customer demographic
    contingency table — per-cell expected counts and contributions."""
    from trino_iceberg_maintenance_spark.plans.audit import (
        chi2_independence,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return chi2_independence(load_table(spark, sf_dir, "customer"))


def _psi_drift(spark, sf_dir):
    """Population-stability-index drift report: early-vs-late order
    value distribution over literal price buckets."""
    from trino_iceberg_maintenance_spark.plans.audit import psi_drift
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return psi_drift(load_table(spark, sf_dir, "orders"))


def _k_anonymity_report(spark, sf_dir):
    """Privacy census: k-anonymity exposure + l-diversity floor of the
    customer quasi-identifier groups, swept over k thresholds."""
    from trino_iceberg_maintenance_spark.operators.pii import (
        k_anonymity_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return k_anonymity_report(load_table(spark, sf_dir, "customer"))


def _noised_histogram(spark, sf_dir):
    """Seeded integer-noise count release over order priorities — the
    DP-release plumbing (bucket-keyed deterministic noise, clamp)."""
    from trino_iceberg_maintenance_spark.operators.pii import (
        noised_histogram,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return noised_histogram(load_table(spark, sf_dir, "orders"))


def _benford_audit(spark, sf_dir):
    """Benford first-digit audit of l_extendedprice: integer-exact
    digit census vs shared-literal log10 expectations."""
    from trino_iceberg_maintenance_spark.plans.audit import benford_audit
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return benford_audit(load_table(spark, sf_dir, "lineitem"))


# Last completed driver round in which each query earned a CORRECTNESS
# row (0 = never driver-checked yet). The rotation invariant — pinned by
# tests/test_oracle_parity.py — is that queries()'s first-50 window holds
# exactly the 50 entries with the OLDEST value here, so no query can
# silently go 3+ rounds without a driver row. Update after each round's
# CORRECTNESS_r{N}.json lands.
DRIVER_LAST_ROUND: dict[str, int] = {
    # --- last driver-checked in round 8 ---
    "quality_scores": 8,
    "stats_numeric": 8,
    "stats_null_fractions": 8,
    "stats_string": 8,
    "compaction_plan": 8,
    "orphan_files": 8,
    "snapshot_expiry": 8,
    "gc_unreachable": 8,
    "dedup_exact": 8,
    "dedup_near_minhash": 8,
    "dedup_clusters": 8,
    "embedding_near_dups": 8,
    "embedding_near_dups_ivf": 8,
    "cosine_topk": 8,
    "ivf_topk_kmeans": 8,
    "data_quality_audit": 8,
    "q1_pricing_summary": 8,
    "top_revenue_orders": 8,
    "regional_revenue": 8,
    "top_customers_per_segment": 8,
    "order_rollup": 8,
    "customer_set_ops": 8,
    "small_quantity_revenue": 8,
    "idle_rich_customers": 8,
    "event_type_pivot": 8,
    "price_quantiles": 8,
    "trailing_spend": 8,
    "late_shipment_orders": 8,
    "order_cube": 8,
    "order_count_distribution": 8,
    "min_cost_supplier": 8,
    "market_share": 8,
    "supplier_diversity": 8,
    "grouping_sets_orders": 8,
    "lineitem_corr_stats": 8,
    "part_metrics_unpivot": 8,
    "customer_spend_ranks": 8,
    "promo_brand_revenue": 8,
    "sole_blocking_supplier": 8,
    "tfidf_top_terms": 8,
    "pmi_collocations": 8,
    "dedup_keepers": 8,
    "near_dedup_keepers": 8,
    "ngram_jaccard": 8,
    "simhash": 8,
    "simhash_near_dups": 8,
    "contamination_check": 8,
    # --- last driver-checked in round 9 ---
    "expectation_history": 9,
    "minhash_band_tuning": 9,
    "source_token_gini": 9,
    "embedding_quantization": 9,
    "lsh_bucket_skew": 9,
    "strip_contaminated_spans": 9,
    "source_js_divergence": 9,
    "dedup_rate_by_source": 9,
    "ivf_topk": 9,
    "shipping_priority": 9,
    "order_priority_check": 9,
    "local_supplier_volume": 9,
    "brand_quantity_revenue": 9,
    "promo_part_suppliers": 9,
    "pii_scan": 9,
    "pii_redact": 9,
    "gopher_quality_flags": 9,
    "boilerplate_spans": 9,
    "cosine_radius": 9,
    "weighted_sample": 9,
    "containment_pairs": 9,
    "curation_pipeline_v2": 9,
    "source_mixture_stats": 9,
    "strip_boilerplate": 9,
    "ivf_cell_stats": 9,
    "equi_depth_buckets": 9,
    "bigram_transitions": 9,
    "order_gap_stats": 9,
    "user_anomaly_zscore": 9,
    "corpus_health_report": 9,
    "edit_distance_pairs": 9,
    "snapshot_changes": 9,
    "ewma_daily_revenue": 9,
    "interpolate_hourly": 9,
    "lang_drift": 9,
    "pack_sequences": 9,
    "mor_read": 9,
    "heavy_hitters": 9,
    "knn_graph": 9,
    "runtime_filter_join": 9,
    "knn_label_vote": 9,
    "curriculum_order": 9,
    "session_paths": 9,
    "order_reconciliation": 9,
    "incremental_agg_refresh": 9,
    "scd2_tier_orders": 9,
    "event_dedup_within": 9,
    "twap_daily": 9,
    "exact_stratified_sample": 9,
    "prefix_jaccard": 9,
    # --- last driver-checked in round 10 ---
    "near_dup_rate_by_source": 10,
    "curation_pipeline_v4": 10,
    "near_dedup_keepers_tuned": 10,
    "audio_features": 10,
    "source_top_p": 10,
    "minhash_recall_report": 10,
    "yoy_revenue_growth": 10,
    "window_rank_suite": 10,
    "vector_stats": 10,
    "novelty_scores": 10,
    "cross_source_leakage": 10,
    "events_value_histogram": 10,
    "supplier_scorecard": 10,
    "winnowing_fingerprints": 10,
    "perplexity_buckets": 10,
    "contamination_spans": 10,
    "source_overlap_sketch": 10,
    "temperature_mixture": 10,
    "vocab_growth": 10,
    "bpe_merge_candidates": 10,
    "benchmark_coverage": 10,
    "hll_ndv": 10,
    "bloom_membership": 10,
    "table_history": 10,
    "normalized_dedup_keepers": 10,
    "hash_split_counts": 10,
    "kmv_ndv": 10,
    "zipf_fit": 10,
    "word_entropy": 10,
    "dsir_weights": 10,
    "dedup_spans": 10,
    "cluster_size_histogram": 10,
    "ivf_recall_report": 10,
    "supplier_pagerank": 10,
    "mad_outliers": 10,
    "bm25_scores": 10,
    "rrf_fusion": 10,
    "key_skew_report": 10,
    "lang_confusion": 10,
    "join_size_estimate": 10,
    "cms_frequencies": 10,
    "rate_limit_events": 10,
    "curation_pipeline_v3": 10,
    "semantic_clusters": 10,
    "order_expectations": 10,
    "pq_topk": 10,
    "events_click_attribution": 10,
    "event_funnel": 10,
    "events_daily_gap_fill": 10,
    "cohort_retention": 10,
    # --- last driver-checked in round 11 ---
    "seq_len_packing_sweep": 11,
    "supplier_triangles": 11,
    "label_purity_report": 11,
    "label_centroid_report": 11,
    "mixture_allocation": 11,
    "source_quality_mixture": 11,
    "cluster_representatives": 11,
    "video_features": 11,
    "stratified_sample": 11,
    "mixture_interleave": 11,
    "pack_shards": 11,
    "salted_rollup": 11,
    "salted_join": 11,
    "frame_sample": 11,
    "audio_chunks": 11,
    "multimodal_meta": 11,
    "events_windows_union": 11,
    "media_chunks": 11,
    "grouping_analytics": 11,
    "doc_quality_profile": 11,
    "forecast_revenue": 11,
    "readability_scores": 11,
    "code_profile": 11,
    "ocr_artifact_scores": 11,
    "stopword_profile": 11,
    "ngram_novelty": 11,
    "split_leakage": 11,
    "shuffle_order": 11,
    "repeat_factors": 11,
    "embedding_covariance": 11,
    "unicode_profile": 11,
    "conversation_turns": 11,
    "dedup_funnel": 11,
    "doc_length_percentiles": 11,
    "license_detect": 11,
    "blocklist_filter": 11,
    "sentence_dedup_stats": 11,
    "markup_density": 11,
    "minhash_calibration": 11,
    "volume_shipping": 11,
    "nation_profit": 11,
    "returned_items": 11,
    "important_parts": 11,
    "urgent_shipment_mix": 11,
    "top_supplier": 11,
    "large_volume_customers": 11,
    "promo_revenue_share": 11,
    "zorder_plan": 11,
    "token_chunks": 11,
    "embedding_dedup_keepers": 11,
    # --- last driver-checked in round 12 ---
    "chi2_independence": 12,
    "psi_drift": 12,
    "k_anonymity_report": 12,
    "noised_histogram": 12,
    "benford_audit": 12,
    "temperature_sweep": 12,
    "clustering_depth_report": 12,
    "semdedup_sweep": 12,
    "rake_keywords": 12,
    "hash_classifier_scores": 12,
    "seasonal_profile": 12,
    "event_markov": 12,
    "quota_sample": 12,
    "file_skipping_report": 12,
    "token_budget_allocation": 12,
    "dup_source_matrix": 12,
    "label_outliers": 12,
    "format_detect": 12,
    "context_fit_report": 12,
    "user_cusum_drift": 12,
    "ngram_coverage_curve": 12,
    "quality_by_length": 12,
    "tokenizer_fertility": 12,
    "supplier_kcore": 12,
    "co_supply_strength": 12,
    "packing_plan": 12,
    "lm_support_scores": 12,
    "chunk_dup_fraction": 12,
    "burst_detection": 12,
    "supplier_affinity": 12,
    "doc_length_histogram": 12,
    "corpus_stats": 12,
    "curation_pipeline": 12,
    "doc_fingerprints": 12,
    "events_asof_join": 12,
    "events_json_rollup": 12,
    "events_range_join": 12,
    "events_session_window": 12,
    "events_sessionize": 12,
    "events_sliding": 12,
    "events_tumbling": 12,
    "lang_id": 12,
    "lsh_topk": 12,
    "repetition_scores": 12,
    "schedule_scan": 12,
    "maintenance_due": 12,
    "watermark_merge": 12,
    "strip_shared_sentences": 12,
    "vocabulary": 12,
    "token_stats": 12,
}



def _near_dup_rate_by_source(spark, sf_dir):
    """Per-source VERIFIED near-dup exposure (MinHash grain): docs in
    near-dup clusters + cross-source cluster membership - reuses the
    banded pipeline and the cluster relation, rollups only on top."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        near_dup_rate_by_source,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return near_dup_rate_by_source(load_table(spark, sf_dir, "documents"))



def _curation_pipeline_v4(spark, sf_dir):
    """Round-10 curation DAG: v3 gates + shared-sentence strip +
    contaminated-span strip over ONE shared corpus-token posexplode
    (doc_id % 97 == 0 slice is the benchmark)."""
    import pyspark.sql.functions as F

    from trino_iceberg_maintenance_spark.operators.text import (
        curation_pipeline_v4,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return curation_pipeline_v4(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
    )



def _near_dedup_keepers_tuned(spark, sf_dir):
    """The closed LSH tuning loop, end to end: tune (bands, rows) for
    the 0.2 threshold (analytic argmin, corpus-free), run the keeper
    pipeline under the tuned banding. Oracle fixes the tuner's
    deterministic pick (width 1 at 0.2 - pinned by
    test_tuned_band_config_closes_the_loop)."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        near_dedup_keepers_tuned,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return near_dedup_keepers_tuned(
        load_table(spark, sf_dir, "documents"), threshold=0.2
    )



def _audio_features(spark, sf_dir):
    """Waveform features per asset (duration/RMS/peak/zero-crossings)
    - REAL stdlib-wave decode for PCM WAV payloads; the synthesized
    fake payloads take the deterministic byte-sample path, formulated
    over exact integer sums so the DuckDB twin is bit-identical."""
    from trino_iceberg_maintenance_spark.operators.multimodal import (
        audio_features_from_docs,
    )

    return audio_features_from_docs(spark, sf_dir)


def _context_fit_report(spark, sf_dir):
    """Per-(source, context window) fit/truncation report — which
    sources need splitting (not clipping) before entering the
    mixture; integer micro-unit ratios."""
    from trino_iceberg_maintenance_spark.operators.text import (
        context_fit_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return context_fit_report(load_table(spark, sf_dir, "documents"))


def _format_detect(spark, sf_dir):
    """Per-source structural-format census (code fences / Q:A: pairs /
    bullets / headings) via literal substring position — the SFT
    routing diagnostic; engine-exact by construction."""
    from trino_iceberg_maintenance_spark.operators.text import (
        format_detect,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return format_detect(load_table(spark, sf_dir, "documents"))


def _label_outliers(spark, sf_dir):
    """Label-noise candidates: vectors beyond 2x their label's mean
    centroid radius — integer micro-unit cut over the deterministic
    distance tree, so boundary membership cannot flip on an ulp."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        label_outliers,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return label_outliers(load_table(spark, sf_dir, "embeddings"))


def _token_budget_allocation(spark, sf_dir):
    """Token-denominated mixture plan: Hamilton-apportion a wordpiece
    budget by quality weight, convert each allotment to estimated
    docs needed and a supply-coverage ratio (composes
    source_quality_mixture + tokenizer_fertility)."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        token_budget_allocation,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return token_budget_allocation(load_table(spark, sf_dir, "documents"))


def _dup_source_matrix(spark, sf_dir):
    """Cross-source near-dup leakage matrix: per source pair, verified
    clusters spanning both (diagonal = within-source duplication) —
    reuses the banded pipeline + cluster relation."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        dup_source_matrix,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return dup_source_matrix(load_table(spark, sf_dir, "documents"))


def _co_supply_strength(spark, sf_dir):
    """Top-k supplier partnerships with per-endpoint weight shares —
    the direct read of the shared co_supply_pairs relation
    (VERDICT r11 #3); integer micro-unit shares, hash-exact."""
    from trino_iceberg_maintenance_spark.operators.graph import (
        co_supply_strength,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return co_supply_strength(load_table(spark, sf_dir, "lineitem"))


def _supplier_kcore(spark, sf_dir):
    """K-core peeling (6 unrolled rounds, k=3) over the
    strength-thresholded co-supply graph — the cohesion filter next
    to pagerank/triangles; surviving nodes with post-peel degree."""
    from trino_iceberg_maintenance_spark.operators.graph import (
        supplier_kcore,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return supplier_kcore(load_table(spark, sf_dir, "lineitem"))


def _tokenizer_fertility(spark, sf_dir):
    """Per-source wordpieces-per-word and chars-per-piece — the token
    budget cost model for mixture planning; integer micro-units."""
    from trino_iceberg_maintenance_spark.operators.text import (
        tokenizer_fertility,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return tokenizer_fertility(load_table(spark, sf_dir, "documents"))


def _quality_by_length(spark, sf_dir):
    """Quality-vs-length calibration: digit-count length buckets with
    per-bucket integer composition ratios (alpha/upper/digit)."""
    from trino_iceberg_maintenance_spark.operators.text import (
        quality_by_length,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return quality_by_length(load_table(spark, sf_dir, "documents"))


def _ngram_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: token-occurrence fraction covered by
    the top-K types for K in (100, 1k, 10k) — the tokenizer-budget
    complement of vocab_growth's Heaps curve."""
    from trino_iceberg_maintenance_spark.operators.text import (
        ngram_coverage_curve,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return ngram_coverage_curve(load_table(spark, sf_dir, "documents"))


def _user_cusum_drift(spark, sf_dir):
    """Per-user clamped-CUSUM drift peak over daily event counts via
    the closed windowed form (no recursion, no UDF); exact integer
    drift units."""
    from trino_iceberg_maintenance_spark.operators.events import (
        user_cusum_drift,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return user_cusum_drift(load_table(spark, sf_dir, "events"))


def _packing_plan(spark, sf_dir):
    """Sweep-argmin -> packer integration (VERDICT r11 #9): pick the
    min-waste sequence length from seq_len_packing_sweep, pack the
    corpus at that length with pack_shards, report the one-row
    packing summary (chosen L, predicted waste, shard fill shape)."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        packing_plan,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return packing_plan(load_table(spark, sf_dir, "documents"))


def _seq_len_packing_sweep(spark, sf_dir):
    """Padding-waste sweep over candidate training sequence lengths -
    one corpus scan, targets-keyed integer aggregate."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        seq_len_packing_sweep,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return seq_len_packing_sweep(load_table(spark, sf_dir, "documents"))


def _supplier_triangles(spark, sf_dir):
    """Per-supplier triangle count + local clustering coefficient on
    the co-supply graph via degree-ordered orientation (wedge fan-out
    bounded by out-degree^2 <= O(E), never a hub's full degree^2)."""
    from trino_iceberg_maintenance_spark.operators.graph import (
        supplier_triangles,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return supplier_triangles(load_table(spark, sf_dir, "lineitem"))


def _label_purity_report(spark, sf_dir):
    """Centroid-assignment label purity: each vector assigned to its
    nearest label centroid (deterministic tree centroids, (d2, label)
    argmin); per-label homecoming fraction."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        label_purity_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return label_purity_report(load_table(spark, sf_dir, "embeddings"))


def _label_centroid_report(spark, sf_dir):
    """Per-label embedding compactness (centroid norm, mean/max member
    distance) - every cross-row float sum is a fixed two-level ordered
    reduction tree, bit-identical across engines and partitionings."""
    from trino_iceberg_maintenance_spark.operators.similarity import (
        label_centroid_report,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return label_centroid_report(load_table(spark, sf_dir, "embeddings"))


def _mixture_allocation(spark, sf_dir):
    """Largest-remainder integer apportionment of a 10k-doc budget by
    quality weight (composes source_quality_mixture) - allocations
    sum exactly to the budget."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        mixture_allocation,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return mixture_allocation(load_table(spark, sf_dir, "documents"))


def _source_quality_mixture(spark, sf_dir):
    """Quality-gated mixture weights: per-source clean-token counts
    (Gopher gates) -> sqrt-temperature sampling weights, engine-exact
    via the sequential sorted fold."""
    from trino_iceberg_maintenance_spark.operators.sampling import (
        source_quality_mixture,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return source_quality_mixture(load_table(spark, sf_dir, "documents"))


def _cluster_representatives(spark, sf_dir):
    """Quality-aware near-dup cluster keeper + savings ledger: elect
    the longest member per verified cluster (doc_id tie-break) and
    report cluster_size / total_chars / chars_saved / n_sources —
    integer-only output, hash-exact vs the recursive-CTE cluster
    oracle."""
    from trino_iceberg_maintenance_spark.operators.dedup import (
        cluster_representatives,
    )
    from trino_iceberg_maintenance_spark.sources.tables import load_table

    return cluster_representatives(load_table(spark, sf_dir, "documents"))


def _video_features(spark, sf_dir):
    """Per-asset video features (frame count / mean luma / luma
    variance) — REAL YUV4MPEG2 parse over raw Y planes for genuine
    streams; the synthesized fake payloads take the deterministic
    byte-luma path whose exact integer sums the DuckDB twin
    reproduces bit-identically (the audio_features recipe,
    VERDICT r10 #6)."""
    from trino_iceberg_maintenance_spark.operators.multimodal import (
        video_features_from_docs,
    )

    return video_features_from_docs(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING MATTERS: the external driver's correctness harness checks
    # the FIRST 50 entries only (each CORRECTNESS_r{N}.json is exactly
    # the first 50 keys in registry order at run time). The registry
    # count is derived, not hand-maintained — test_oracle_parity pins
    # len(queries()) == len(DRIVER_LAST_ROUND) and the window MUST hold
    # exactly the 50 entries whose last driver-checked round
    # (DRIVER_LAST_ROUND above) is OLDEST — the stalest-first invariant.
    # r12 window = the 21 entries last checked in round 7 (displaced
    # across the r10/r11 windows) + the 29 stalest r8-checked entries
    # (21 + 29 = 50; each new never-checked entry added this round
    # goes to the TOP of the window and displaces one r8 entry into
    # the r13 fill).
    # To rotate next round: bump DRIVER_LAST_ROUND to 12 for this
    # window's entries, re-sort the registry stalest-first (any new
    # never-checked value-0 entries first, then the oldest checked
    # block), and update the frozen window list in
    # tests/test_oracle_parity.py (tools/rotate.py is the
    # reusable script for this rotation).
    return {
        # --- DRIVER WINDOW (first 50): the 50 stalest
        # entries after the r12 rotation. New never-checked
        # additions are inserted at the TOP of the window as
        # they land, each displacing the trailing entry below
        # the fold. Pinned by tests/test_oracle_parity.py
        # (_R13_WINDOW). ---
        "quality_scores": _quality_scores,
        "stats_numeric": _stats_numeric,
        "stats_null_fractions": _stats_null_fractions,
        "stats_string": _stats_string,
        "compaction_plan": _compaction_plan,
        "orphan_files": _orphan_files,
        "snapshot_expiry": _snapshot_expiry,
        "gc_unreachable": _gc_unreachable,
        "dedup_exact": _dedup_exact,
        "dedup_near_minhash": _dedup_near_minhash,
        "dedup_clusters": _dedup_clusters,
        "embedding_near_dups": _embedding_near_dups,
        "embedding_near_dups_ivf": _embedding_near_dups_ivf,
        "cosine_topk": _cosine_topk,
        "ivf_topk_kmeans": _ivf_topk_kmeans,
        "data_quality_audit": _data_quality_audit,
        "q1_pricing_summary": _q1,
        "top_revenue_orders": _top_revenue,
        "regional_revenue": _regional_revenue,
        "top_customers_per_segment": _top_customers,
        "order_rollup": _order_rollup,
        "customer_set_ops": _customer_set_ops,
        "small_quantity_revenue": _small_quantity_revenue,
        "idle_rich_customers": _idle_rich_customers,
        "event_type_pivot": _event_type_pivot,
        "price_quantiles": _price_quantiles,
        "trailing_spend": _trailing_spend,
        "late_shipment_orders": _late_shipment_orders,
        "order_cube": _order_cube,
        "order_count_distribution": _order_count_distribution,
        "min_cost_supplier": _min_cost_supplier,
        "market_share": _market_share,
        "supplier_diversity": _supplier_diversity,
        "grouping_sets_orders": _grouping_sets_orders,
        "lineitem_corr_stats": _lineitem_corr_stats,
        "part_metrics_unpivot": _part_metrics_unpivot,
        "customer_spend_ranks": _customer_spend_ranks,
        "promo_brand_revenue": _promo_brand_revenue,
        "sole_blocking_supplier": _sole_blocking_supplier,
        "tfidf_top_terms": _tfidf_top_terms,
        "pmi_collocations": _pmi_collocations,
        "dedup_keepers": _dedup_keepers,
        "near_dedup_keepers": _near_dedup_keepers,
        "ngram_jaccard": _ngram_jaccard,
        "simhash": _simhash,
        "simhash_near_dups": _simhash_near_dups,
        "contamination_check": _contamination_check,
        "expectation_history": _expectation_history,
        "minhash_band_tuning": _minhash_band_tuning,
        "source_token_gini": _source_token_gini,
        # --- below the driver fold ---
        "embedding_quantization": _embedding_quantization,
        "lsh_bucket_skew": _lsh_bucket_skew,
        "strip_contaminated_spans": _strip_contaminated_spans,
        "source_js_divergence": _source_js_divergence,
        "dedup_rate_by_source": _dedup_rate_by_source,
        "ivf_topk": _ivf_topk,
        "shipping_priority": _shipping_priority,
        "order_priority_check": _order_priority_check,
        "local_supplier_volume": _local_supplier_volume,
        "brand_quantity_revenue": _brand_quantity_revenue,
        "promo_part_suppliers": _promo_part_suppliers,
        "pii_scan": _pii_scan,
        "pii_redact": _pii_redact,
        "gopher_quality_flags": _gopher_quality_flags,
        "boilerplate_spans": _boilerplate_spans,
        "cosine_radius": _cosine_radius,
        "weighted_sample": _weighted_sample,
        "containment_pairs": _containment_pairs,
        "curation_pipeline_v2": _curation_pipeline_v2,
        "source_mixture_stats": _source_mixture_stats,
        "strip_boilerplate": _strip_boilerplate,
        "ivf_cell_stats": _ivf_cell_stats,
        "equi_depth_buckets": _equi_depth_buckets,
        "bigram_transitions": _bigram_transitions,
        "order_gap_stats": _order_gap_stats,
        "user_anomaly_zscore": _user_anomaly_zscore,
        "corpus_health_report": _corpus_health_report,
        "edit_distance_pairs": _edit_distance_pairs,
        "snapshot_changes": _snapshot_changes,
        "ewma_daily_revenue": _ewma_daily_revenue,
        "interpolate_hourly": _interpolate_hourly,
        "lang_drift": _lang_drift,
        "pack_sequences": _pack_sequences,
        "mor_read": _mor_read,
        "heavy_hitters": _heavy_hitters,
        "knn_graph": _knn_graph,
        "runtime_filter_join": _rf_join,
        "knn_label_vote": _knn_label_vote,
        "curriculum_order": _curriculum_order,
        "session_paths": _session_paths,
        "order_reconciliation": _order_reconciliation,
        "incremental_agg_refresh": _incremental_agg_refresh,
        "scd2_tier_orders": _scd2_tier_orders,
        "event_dedup_within": _event_dedup_within,
        "twap_daily": _twap_daily,
        "exact_stratified_sample": _exact_stratified_sample,
        "prefix_jaccard": _prefix_jaccard,
        "near_dup_rate_by_source": _near_dup_rate_by_source,
        "curation_pipeline_v4": _curation_pipeline_v4,
        "near_dedup_keepers_tuned": _near_dedup_keepers_tuned,
        "audio_features": _audio_features,
        "source_top_p": _source_top_p,
        "minhash_recall_report": _minhash_recall_report,
        "yoy_revenue_growth": _yoy_revenue_growth,
        "window_rank_suite": _window_rank_suite,
        "vector_stats": _vector_stats,
        "novelty_scores": _novelty_scores,
        "cross_source_leakage": _cross_source_leakage,
        "events_value_histogram": _events_value_histogram,
        "supplier_scorecard": _supplier_scorecard,
        "winnowing_fingerprints": _winnowing_fingerprints,
        "perplexity_buckets": _perplexity_buckets,
        "contamination_spans": _contamination_spans,
        "source_overlap_sketch": _source_overlap_sketch,
        "temperature_mixture": _temperature_mixture,
        "vocab_growth": _vocab_growth,
        "bpe_merge_candidates": _bpe_merge_candidates,
        "benchmark_coverage": _benchmark_coverage,
        "hll_ndv": _hll_ndv,
        "bloom_membership": _bloom_membership,
        "table_history": _table_history,
        "normalized_dedup_keepers": _normalized_dedup_keepers,
        "hash_split_counts": _hash_split_counts,
        "kmv_ndv": _kmv_ndv,
        "zipf_fit": _zipf_fit,
        "word_entropy": _word_entropy,
        "dsir_weights": _dsir_weights,
        "dedup_spans": _dedup_spans,
        "cluster_size_histogram": _cluster_size_histogram,
        "ivf_recall_report": _ivf_recall_report,
        "supplier_pagerank": _supplier_pagerank,
        "mad_outliers": _mad_outliers,
        "bm25_scores": _bm25_scores,
        "rrf_fusion": _rrf_fusion,
        "key_skew_report": _key_skew_report,
        "lang_confusion": _lang_confusion,
        "join_size_estimate": _join_size_estimate,
        "cms_frequencies": _cms_frequencies,
        "rate_limit_events": _rate_limit_events,
        "curation_pipeline_v3": _curation_pipeline_v3,
        "semantic_clusters": _semantic_clusters,
        "order_expectations": _order_expectations,
        "pq_topk": _pq_topk,
        "events_click_attribution": _events_click_attribution,
        "event_funnel": _event_funnel,
        "events_daily_gap_fill": _events_daily_gap_fill,
        "cohort_retention": _cohort_retention,
        "seq_len_packing_sweep": _seq_len_packing_sweep,
        "supplier_triangles": _supplier_triangles,
        "label_purity_report": _label_purity_report,
        "label_centroid_report": _label_centroid_report,
        "mixture_allocation": _mixture_allocation,
        "source_quality_mixture": _source_quality_mixture,
        "cluster_representatives": _cluster_representatives,
        "video_features": _video_features,
        "stratified_sample": _stratified_sample,
        "mixture_interleave": _mixture_interleave,
        "pack_shards": _pack_shards,
        "salted_rollup": _salted_rollup,
        "salted_join": _salted_join,
        "frame_sample": _frame_sample,
        "audio_chunks": _audio_chunks,
        "multimodal_meta": _multimodal_meta,
        "events_windows_union": _events_windows_union,
        "media_chunks": _media_chunks,
        "grouping_analytics": _grouping_analytics,
        "doc_quality_profile": _doc_quality_profile,
        "forecast_revenue": _forecast_revenue,
        "readability_scores": _readability_scores,
        "code_profile": _code_profile,
        "ocr_artifact_scores": _ocr_artifact_scores,
        "stopword_profile": _stopword_profile,
        "ngram_novelty": _ngram_novelty,
        "split_leakage": _split_leakage,
        "shuffle_order": _shuffle_order,
        "repeat_factors": _repeat_factors,
        "embedding_covariance": _embedding_covariance,
        "unicode_profile": _unicode_profile,
        "conversation_turns": _conversation_turns,
        "dedup_funnel": _dedup_funnel,
        "doc_length_percentiles": _doc_length_percentiles,
        "license_detect": _license_detect,
        "blocklist_filter": _blocklist_filter,
        "sentence_dedup_stats": _sentence_dedup_stats,
        "markup_density": _markup_density,
        "minhash_calibration": _minhash_calibration,
        "volume_shipping": _volume_shipping,
        "nation_profit": _nation_profit,
        "returned_items": _returned_items,
        "important_parts": _important_parts,
        "urgent_shipment_mix": _urgent_shipment_mix,
        "top_supplier": _top_supplier,
        "large_volume_customers": _large_volume_customers,
        "promo_revenue_share": _promo_revenue_share,
        "zorder_plan": _zorder_plan,
        "token_chunks": _token_chunks,
        "embedding_dedup_keepers": _embedding_dedup_keepers,
        "chi2_independence": _chi2_independence,
        "psi_drift": _psi_drift,
        "k_anonymity_report": _k_anonymity_report,
        "noised_histogram": _noised_histogram,
        "benford_audit": _benford_audit,
        "temperature_sweep": _temperature_sweep,
        "clustering_depth_report": _clustering_depth_report,
        "semdedup_sweep": _semdedup_sweep,
        "rake_keywords": _rake_keywords,
        "hash_classifier_scores": _hash_classifier_scores,
        "seasonal_profile": _seasonal_profile,
        "event_markov": _event_markov,
        "quota_sample": _quota_sample,
        "file_skipping_report": _file_skipping_report,
        "token_budget_allocation": _token_budget_allocation,
        "dup_source_matrix": _dup_source_matrix,
        "label_outliers": _label_outliers,
        "format_detect": _format_detect,
        "context_fit_report": _context_fit_report,
        "user_cusum_drift": _user_cusum_drift,
        "ngram_coverage_curve": _ngram_coverage_curve,
        "quality_by_length": _quality_by_length,
        "tokenizer_fertility": _tokenizer_fertility,
        "supplier_kcore": _supplier_kcore,
        "co_supply_strength": _co_supply_strength,
        "packing_plan": _packing_plan,
        "lm_support_scores": _lm_support_scores,
        "chunk_dup_fraction": _chunk_dup_fraction,
        "burst_detection": _burst_detection,
        "supplier_affinity": _supplier_affinity,
        "doc_length_histogram": _doc_length_histogram,
        "corpus_stats": _corpus_stats,
        "curation_pipeline": _curation_pipeline,
        "doc_fingerprints": _fingerprints,
        "events_asof_join": _events_asof_join,
        "events_json_rollup": _events_json_rollup,
        "events_range_join": _events_range_join,
        "events_session_window": _events_session_window,
        "events_sessionize": _events_sessionize,
        "events_sliding": _events_sliding,
        "events_tumbling": _events_tumbling,
        "lang_id": _lang_id,
        "lsh_topk": _lsh_topk,
        "repetition_scores": _repetition_scores,
        "schedule_scan": _schedule_scan,
        "maintenance_due": _maintenance_due,
        "watermark_merge": _watermark_merge,
        "strip_shared_sentences": _strip_shared_sentences,
        "vocabulary": _vocabulary,
        "token_stats": _token_stats,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from trino_iceberg_maintenance_spark.operators import (
        chunking,
        dedup,
        events,
        graph,
        linkage,
        multimodal,
        pii,
        relational,
        sampling,
        similarity,
        skew,
        temporal,
        text,
    )
    from trino_iceberg_maintenance_spark.plans import (
        audit,
        changelog,
        mor,
        pruning,
        stats,
    )
    from trino_iceberg_maintenance_spark.plans.compaction import (
        plan_compaction_sql,
        plan_zorder_clustering_sql,
    )
    from trino_iceberg_maintenance_spark.plans.due import NOW_LITERAL, due_sql
    from trino_iceberg_maintenance_spark.sources.schedule import SYNTH_SCHEDULE_CTE

    sched = f"WITH schedule AS ({SYNTH_SCHEDULE_CTE})"
    orphan_listing = """
SELECT 'data/part-' || CAST(o_orderkey AS VARCHAR) || '.parquet' AS file_path,
       o_orderdate AS last_modified,
       CAST(floor(o_totalprice * 1000) AS BIGINT) AS file_size_bytes
FROM orders"""
    inventory = """
SELECT 'p=' || CAST(o_orderkey % 50 AS VARCHAR) AS partition,
       CAST(floor(o_totalprice * 1000) AS BIGINT) AS file_size_bytes
FROM orders"""
    return {
        "schedule_scan": (
            f"{sched} SELECT * REPLACE "
            "(array_to_string(columns_to_analyze, ',') AS columns_to_analyze) "
            "FROM schedule"
        ),
        "maintenance_due": f"{sched} {due_sql()}",
        "watermark_merge": f"""{sched},
due AS (
  SELECT table_name FROM schedule
  WHERE should_optimize = 1
    AND (last_optimized_on IS NULL
         OR last_optimized_on + INTERVAL (days_to_optimize) DAY
            <= TIMESTAMP '{NOW_LITERAL}')
)
SELECT s.table_name,
       s.last_optimized_on AS previous_watermark,
       CASE WHEN d.table_name IS NOT NULL THEN TIMESTAMP '{NOW_LITERAL}'
            ELSE s.last_optimized_on END AS new_watermark
FROM schedule s LEFT JOIN due d ON s.table_name = d.table_name""",
        "stats_null_fractions": stats.null_fraction_sql(
            "orders",
            [
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ],
        ),
        "stats_numeric": stats.numeric_stats_sql(
            "lineitem",
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber"],
        ),
        "stats_string": stats.string_stats_sql(
            "documents", ["lang", "source", "text"]
        ),
        "orphan_files": f"""
WITH listing AS ({orphan_listing}),
referenced AS (
  SELECT DISTINCT 'data/part-' || CAST(l_orderkey AS VARCHAR) || '.parquet'
         AS file_path
  FROM lineitem
)
SELECT l.file_path, l.last_modified, l.file_size_bytes
FROM listing l LEFT JOIN referenced r ON l.file_path = r.file_path
WHERE r.file_path IS NULL
  AND l.last_modified < TIMESTAMP '1996-06-01 00:00:00'""",
        "snapshot_expiry": """
WITH snapshots AS (
  SELECT 'tbl_' || CAST(user_id % 20 AS VARCHAR) AS table_name,
         event_id AS snapshot_id,
         ts AS committed_at
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY table_name
      ORDER BY committed_at DESC, snapshot_id DESC) AS rn
  FROM snapshots
)
SELECT table_name, snapshot_id, committed_at
FROM ranked
WHERE rn > 1 AND committed_at < TIMESTAMP '2024-01-20 00:00:00'""",
        "gc_unreachable": """
SELECT DISTINCT 'data/part-' || CAST(l_partkey AS VARCHAR) || '.parquet'
       AS file_path
FROM lineitem
EXCEPT
SELECT DISTINCT 'data/part-' || CAST(l_partkey AS VARCHAR) || '.parquet'
       AS file_path
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'""",
        "compaction_plan": plan_compaction_sql(inventory),
        "data_quality_audit": audit.QUALITY_AUDIT_SQL,
        "forecast_revenue": relational.FORECAST_REVENUE_SQL,
        "volume_shipping": relational.VOLUME_SHIPPING_SQL,
        "nation_profit": relational.NATION_PROFIT_SQL,
        "returned_items": relational.RETURNED_ITEMS_SQL,
        "important_parts": relational.IMPORTANT_PARTS_SQL,
        "urgent_shipment_mix": relational.URGENT_SHIPMENT_MIX_SQL,
        "top_supplier": relational.TOP_SUPPLIER_SQL,
        "large_volume_customers": relational.LARGE_VOLUME_CUSTOMERS_SQL,
        "promo_revenue_share": relational.PROMO_REVENUE_SHARE_SQL,
        "shipping_priority": relational.shipping_priority_sql(),
        "order_priority_check": relational.ORDER_PRIORITY_CHECK_SQL,
        "local_supplier_volume": relational.LOCAL_SUPPLIER_VOLUME_SQL,
        "brand_quantity_revenue": relational.BRAND_QUANTITY_REVENUE_SQL,
        "promo_part_suppliers": relational.promo_part_suppliers_sql(),
        "pii_scan": pii.PII_SCAN_SQL,
        "pii_redact": pii.PII_REDACT_SQL,
        "gopher_quality_flags": text.gopher_quality_flags_sql(),
        "boilerplate_spans": text.boilerplate_spans_sql(),
        "cosine_radius": similarity.cosine_radius_sql(threshold=0.25),
        "weighted_sample": sampling.weighted_sample_sql(),
        "containment_pairs": dedup.containment_pairs_sql(),
        "curation_pipeline_v2": text.curation_pipeline_v2_sql(),
        "source_mixture_stats": sampling.SOURCE_MIXTURE_STATS_SQL,
        "strip_boilerplate": text.strip_boilerplate_spans_sql(),
        "ivf_cell_stats": similarity.ivf_cell_stats_sql(),
        "equi_depth_buckets": sampling.equi_depth_buckets_sql(),
        "bigram_transitions": text.bigram_transitions_sql(),
        "order_gap_stats": relational.order_gap_stats_sql(),
        "user_anomaly_zscore": events.user_anomaly_zscore_sql(),
        "corpus_health_report": text.corpus_health_report_sql(),
        "zorder_plan": plan_zorder_clustering_sql(
            "lineitem", ["l_partkey", "l_suppkey"]
        ),
        "token_chunks": chunking.chunk_tokens_sql(),
        "embedding_dedup_keepers": dedup.embedding_dedup_keepers_sql(),
        "lm_support_scores": text.LM_SUPPORT_SQL,
        "chunk_dup_fraction": chunking.chunk_dup_fraction_sql(),
        "burst_detection": events.BURST_DETECTION_SQL,
        "supplier_affinity": relational.SUPPLIER_AFFINITY_SQL,
        "doc_length_histogram": text.DOC_LENGTH_HISTOGRAM_SQL,
        "q1_pricing_summary": relational.Q1_SQL,
        "top_revenue_orders": relational.TOP_REVENUE_SQL,
        "regional_revenue": relational.REGIONAL_REVENUE_SQL,
        "top_customers_per_segment": relational.TOP_CUSTOMERS_SQL,
        "order_rollup": relational.ORDER_ROLLUP_SQL,
        "customer_set_ops": relational.CUSTOMER_SET_OPS_SQL,
        "small_quantity_revenue": relational.SMALL_QUANTITY_SQL,
        "idle_rich_customers": relational.IDLE_RICH_SQL,
        "event_type_pivot": relational.EVENT_PIVOT_SQL,
        "price_quantiles": relational.PRICE_QUANTILES_SQL,
        "trailing_spend": relational.TRAILING_SPEND_SQL,
        "late_shipment_orders": relational.LATE_SHIPMENT_SQL,
        "order_cube": relational.ORDER_CUBE_SQL,
        "order_count_distribution": relational.ORDER_COUNT_DIST_SQL,
        "min_cost_supplier": relational.MIN_COST_SUPPLIER_SQL,
        "market_share": relational.market_share_sql(),
        "supplier_diversity": relational.SUPPLIER_DIVERSITY_SQL,
        "grouping_sets_orders": relational.GROUPING_SETS_SQL,
        "lineitem_corr_stats": relational.LINEITEM_CORR_SQL,
        "part_metrics_unpivot": relational.PART_UNPIVOT_SQL,
        "customer_spend_ranks": relational.CUSTOMER_SPEND_RANKS_SQL,
        "promo_brand_revenue": relational.PROMO_BRAND_SQL,
        "sole_blocking_supplier": relational.sole_blocking_supplier_sql(),
        "tfidf_top_terms": text.tfidf_top_terms_sql(),
        "pmi_collocations": text.pmi_collocations_sql(),
        "dedup_exact": dedup.EXACT_DEDUP_SQL,
        "dedup_keepers": dedup.EXACT_KEEPERS_SQL,
        "dedup_near_minhash": dedup.minhash_near_dups_sql(),
        "dedup_clusters": dedup.dedup_clusters_sql(),
        "near_dedup_keepers": dedup.near_dedup_keepers_sql(),
        "ngram_jaccard": dedup.ngram_jaccard_sql(),
        "simhash": dedup.simhash_sql(),
        "simhash_near_dups": dedup.simhash_near_dups_sql(
            max_hamming=3, bits=32, n_bands=4, max_bucket_size=50
        ),
        "embedding_near_dups": dedup.embedding_near_dups_sql(),
        "embedding_near_dups_ivf": dedup.embedding_near_dups_ivf_sql(),
        "contamination_check": dedup.contamination_check_sql(),
        "cosine_topk": similarity.cosine_topk_sql(),
        "ivf_topk": similarity.ivf_topk_sql(),
        "kmv_ndv": text.kmv_ndv_sql(),
        "hll_ndv": text.hll_ndv_sql(),
        "bloom_membership": dedup.bloom_membership_sql(),
        "normalized_dedup_keepers": dedup.NORMALIZED_KEEPERS_SQL,
        "hash_split_counts": sampling.hash_split_counts_sql(),
        "readability_scores": text.READABILITY_SQL,
        "code_profile": text.CODE_PROFILE_SQL,
        "ocr_artifact_scores": text.OCR_ARTIFACTS_SQL,
        "stopword_profile": text.stopword_profile_sql(),
        "ngram_novelty": text.ngram_novelty_sql(),
        "split_leakage": dedup.split_leakage_sql(),
        "shuffle_order": sampling.shuffle_order_sql(),
        "repeat_factors": sampling.repeat_factors_sql(),
        "embedding_covariance": similarity.embedding_covariance_sql(),
        "unicode_profile": text.UNICODE_PROFILE_SQL,
        "conversation_turns": text.CONVERSATION_TURNS_SQL,
        "dedup_funnel": dedup.dedup_funnel_sql(),
        "doc_length_percentiles": text.doc_length_percentiles_sql(),
        "license_detect": text.license_detect_sql(),
        "blocklist_filter": text.blocklist_filter_sql(),
        "sentence_dedup_stats": text.sentence_dedup_stats_sql(),
        "strip_shared_sentences": text.strip_shared_sentences_sql(),
        "markup_density": text.MARKUP_DENSITY_SQL,
        "minhash_calibration": dedup.minhash_calibration_sql(),
        "table_history": """
WITH yrs AS (
  SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS y FROM orders
),
r AS (
  SELECT y, row_number() OVER (ORDER BY y) AS i,
         count(*) OVER () AS n
  FROM yrs
)
SELECT TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (i - 1) DAY
         AS made_current_at,
       CAST(i AS BIGINT) AS snapshot_id,
       CASE WHEN i = 1 THEN NULL
            ELSE CAST(i - 1 AS BIGINT) END AS parent_id,
       TRUE AS is_current_ancestor
FROM r
UNION ALL
SELECT TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (n) DAY,
       CAST(n + 1 AS BIGINT),
       CAST(n AS BIGINT),
       FALSE
FROM (SELECT DISTINCT n FROM r)
""",
        "winnowing_fingerprints": text.winnowing_fingerprints_sql(),
        "perplexity_buckets": text.perplexity_buckets_sql(),
        "contamination_spans": text.contamination_spans_sql(),
        "source_overlap_sketch": dedup.source_overlap_sketch_sql(),
        "temperature_mixture": sampling.temperature_mixture_sql(),
        "vocab_growth": text.vocab_growth_sql(),
        "bpe_merge_candidates": text.bpe_merge_candidates_sql(),
        "benchmark_coverage": dedup.benchmark_coverage_sql(),
        "zipf_fit": text.zipf_fit_sql(),
        "word_entropy": text.word_entropy_sql(),
        "dsir_weights": sampling.dsir_weights_sql(),
        "dedup_spans": dedup.dedup_spans_sql(),
        "cluster_size_histogram": dedup.cluster_size_histogram_sql(),
        "ivf_recall_report": similarity.ivf_recall_report_sql(),
        "supplier_pagerank": graph.supplier_pagerank_sql(),
        "mad_outliers": relational.mad_outliers_sql(),
        "bm25_scores": text.bm25_scores_sql(),
        "rrf_fusion": similarity.rrf_fusion_sql(),
        "key_skew_report": skew.key_skew_report_sql(),
        "lang_confusion": text.lang_confusion_sql(),
        "join_size_estimate": relational.join_size_estimate_sql(),
        "cms_frequencies": text.cms_frequencies_sql(),
        "rate_limit_events": events.rate_limit_events_sql(),
        "curation_pipeline_v3": text.curation_pipeline_v3_sql(),
        "semantic_clusters": similarity.semantic_clusters_sql(),
        "order_expectations": audit.order_expectations_sql(),
        "expectation_history": audit.expectation_history_sql(),
        "minhash_band_tuning": dedup.minhash_band_tuning_sql(),
        "source_token_gini": text.SOURCE_TOKEN_GINI_SQL,
        "embedding_quantization": similarity.EMBEDDING_QUANTIZATION_SQL,
        "lsh_bucket_skew": dedup.lsh_bucket_skew_report_sql(),
        "strip_contaminated_spans": text.strip_contaminated_spans_sql(),
        "source_js_divergence": text.SOURCE_JS_DIVERGENCE_SQL,
        "dedup_rate_by_source": dedup.DEDUP_RATE_BY_SOURCE_SQL,
        "near_dup_rate_by_source": dedup.near_dup_rate_by_source_sql(),
        "curation_pipeline_v4": text.curation_pipeline_v4_sql(),
        "near_dedup_keepers_tuned":
            dedup.near_dedup_keepers_sql(0.2, band_width=1),
        "audio_features": multimodal.AUDIO_FEATURES_FAKE_SQL,
        "ivf_topk_kmeans": similarity.ivf_topk_sql(refine_iters=2),
        "lsh_topk": similarity.lsh_topk_sql(band_bits=2),
        "pq_topk": similarity.pq_topk_sql(),
        "token_stats": text.TOKEN_STATS_SQL,
        "quality_scores": text.QUALITY_SCORES_SQL,
        "repetition_scores": text.repetition_scores_sql(),
        "lang_id": text.lang_id_sql(),
        "vocabulary": text.vocabulary_sql(),
        "corpus_stats": text.CORPUS_STATS_SQL,
        "curation_pipeline": text.curation_pipeline_sql(),
        "doc_fingerprints": text.fingerprints_sql(),
        "video_features": multimodal.VIDEO_FEATURES_FAKE_SQL,
        "cluster_representatives": dedup.cluster_representatives_sql(),
        "source_quality_mixture": sampling.source_quality_mixture_sql(),
        "mixture_allocation": sampling.mixture_allocation_sql(),
        "label_centroid_report": similarity.label_centroid_report_sql(),
        "label_purity_report": similarity.label_purity_report_sql(),
        "supplier_triangles": graph.supplier_triangles_sql(),
        "chi2_independence": audit.CHI2_INDEPENDENCE_SQL,
        "psi_drift": audit.psi_drift_sql(),
        "k_anonymity_report": pii.k_anonymity_report_sql(),
        "noised_histogram": pii.noised_histogram_sql(),
        "benford_audit": audit.benford_audit_sql(),
        "temperature_sweep": sampling.temperature_sweep_sql(),
        "clustering_depth_report": pruning.clustering_depth_report_sql(),
        "semdedup_sweep": dedup.semdedup_sweep_sql(),
        "rake_keywords": text.rake_keywords_sql(),
        "hash_classifier_scores": text.HASH_CLASSIFIER_SCORES_SQL,
        "seasonal_profile": temporal.SEASONAL_PROFILE_SQL,
        "event_markov": events.EVENT_MARKOV_SQL,
        "quota_sample": sampling.quota_sample_sql(),
        "file_skipping_report": pruning.file_skipping_report_sql(),
        "token_budget_allocation": sampling.token_budget_allocation_sql(),
        "dup_source_matrix": dedup.dup_source_matrix_sql(),
        "label_outliers": similarity.label_outliers_sql(),
        "format_detect": text.FORMAT_DETECT_SQL,
        "context_fit_report": text.context_fit_report_sql(),
        "user_cusum_drift": events.USER_CUSUM_DRIFT_SQL,
        "ngram_coverage_curve": text.ngram_coverage_curve_sql(),
        "quality_by_length": text.QUALITY_BY_LENGTH_SQL,
        "tokenizer_fertility": text.TOKENIZER_FERTILITY_SQL,
        "supplier_kcore": graph.supplier_kcore_sql(),
        "co_supply_strength": graph.co_supply_strength_sql(),
        "packing_plan": sampling.packing_plan_sql(),
        "seq_len_packing_sweep": sampling.seq_len_packing_sweep_sql(),
        "events_tumbling": events.TUMBLING_SQL,
        "events_sliding": events.SLIDING_SQL,
        "events_sessionize": events.sessionize_sql(),
        "events_session_window": events.session_window_sql(),
        "events_json_rollup": events.JSON_PROPS_SQL,
        "events_click_attribution": events.click_attribution_sql(),
        "event_funnel": events.event_funnel_sql(),
        "events_daily_gap_fill": events.DAILY_GAP_FILL_SQL,
        "cohort_retention": events.COHORT_RETENTION_SQL,
        "events_asof_join": temporal.asof_join_events_sql(),
        "events_range_join": temporal.range_join_events_sql(),
        "stratified_sample": sampling.stratified_sample_sql(SAMPLE_RATES),
        "mixture_interleave": sampling.mixture_interleave_sql(MIX_WEIGHTS),
        "pack_shards": sampling.pack_shards_sql(),
        "salted_rollup": skew.SALTED_ROLLUP_SQL,
        "salted_join": skew.SALTED_JOIN_SQL,
        "frame_sample": multimodal.sampled_frames_sql(),
        "audio_chunks": multimodal.audio_chunks_sql(),
        "multimodal_meta": multimodal.ASSET_METADATA_SQL,
        "events_windows_union": events.windows_union_sql(),
        "media_chunks": multimodal.media_chunks_sql(),
        "grouping_analytics": relational.GROUPING_ANALYTICS_SQL,
        "doc_quality_profile": text.doc_quality_profile_sql(),
        "edit_distance_pairs": linkage.edit_distance_pairs_sql(),
        "snapshot_changes": changelog.keyed_changelog_sql(
            _CDC_OLD_SQL,
            _CDC_NEW_SQL,
            ["o_orderkey"],
            ["o_orderstatus", "o_totalprice"],
        ),
        "ewma_daily_revenue": temporal.ewma_daily_revenue_sql(),
        "interpolate_hourly": temporal.interpolate_hourly_sql(),
        "lang_drift": text.LANG_DRIFT_SQL,
        "pack_sequences": sampling.pack_sequences_sql(),
        "mor_read": mor.MOR_READ_SQL,
        "heavy_hitters": text.heavy_hitters_sql(),
        "knn_graph": similarity.knn_graph_sql(),
        "runtime_filter_join": skew.RF_ORDER_LINEITEMS_SQL,
        "knn_label_vote": similarity.knn_label_vote_sql(),
        "curriculum_order": sampling.curriculum_order_sql(),
        "session_paths": events.session_paths_sql(),
        "order_reconciliation": relational.ORDER_RECONCILIATION_SQL,
        "incremental_agg_refresh": f"""
SELECT o_orderstatus, count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
FROM ({_CDC_NEW_SQL})
GROUP BY o_orderstatus""",
        "scd2_tier_orders": temporal.CUSTOMER_TIER_ORDERS_SQL,
        "event_dedup_within": events.event_dedup_within_sql(),
        "twap_daily": temporal.twap_daily_sql(),
        "exact_stratified_sample": sampling.exact_stratified_sample_sql(),
        "prefix_jaccard": dedup.prefix_jaccard_sql(),
        "source_top_p": sampling.source_top_p_sql(),
        "minhash_recall_report": dedup.minhash_recall_report_sql(),
        "yoy_revenue_growth": relational.YOY_REVENUE_GROWTH_SQL,
        "window_rank_suite": relational.window_rank_suite_sql(),
        "vector_stats": similarity.VECTOR_STATS_SQL,
        "novelty_scores": text.novelty_scores_sql(),
        "cross_source_leakage": dedup.cross_source_leakage_sql(),
        "events_value_histogram": events.value_histogram_sql(),
        "supplier_scorecard": relational.supplier_scorecard_sql(),
    }
