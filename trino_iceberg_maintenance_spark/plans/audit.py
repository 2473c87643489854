"""Data-quality audit: constraint violations over the warehouse
tables — the expectation-suite shape (not-null, domain, uniqueness,
referential integrity) a maintenance pipeline runs before publishing
a snapshot. Complements plans/stats.py (which profiles; this one
enforces).

Scale notes:
- every ROW-LEVEL rule (null keys, domain bounds) is a conditional
  count folded into ONE aggregation pass over each table — adding a
  rule adds an expression, not a scan;
- referential rules are LEFT ANTI join counts (the orphan-file GC
  shape, plans/orphans.py:26) — child shuffles on the key, parent is
  key-projected first;
- the uniqueness rule is one groupBy on the candidate key counting
  groups with duplicates (map-side partial aggregation applies).

Output: one row per rule, ``(rule, n_violations)`` — empty-violation
rules included so a green audit is an explicit, countable result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from trino_iceberg_maintenance_spark.sources.tables import local_frame


def _count_where(df: DataFrame, rule: str, cond) -> DataFrame:
    return df.agg(
        F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias("n_violations")
    ).select(F.lit(rule).alias("rule"), "n_violations")


def quality_audit(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """Constraint audit over the order-management star: six rules,
    each one row of the result."""
    row_rules = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_custkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_total"),
    )
    li_rules = _count_where(
        lineitem, "lineitem_nonpositive_quantity", F.col("l_quantity") <= 0
    )
    orphan_li = (
        lineitem.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("lineitem_without_order").alias("rule"), "n_violations")
    )
    orphan_orders = (
        orders.select("o_custkey")
        .join(
            F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("order_without_customer").alias("rule"), "n_violations")
    )
    dup_pk = (
        lineitem.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("lineitem_duplicate_pk").alias("rule"), "n_violations")
    )
    return (
        row_rules.select(
            F.lit("orders_null_custkey").alias("rule"),
            F.col("null_custkey").alias("n_violations"),
        )
        .unionByName(
            row_rules.select(
                F.lit("orders_nonpositive_total").alias("rule"),
                F.col("nonpositive_total").alias("n_violations"),
            )
        )
        .unionByName(li_rules)
        .unionByName(orphan_li)
        .unionByName(orphan_orders)
        .unionByName(dup_pk)
    )


QUALITY_AUDIT_SQL = """
SELECT 'orders_null_custkey' AS rule,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'orders_nonpositive_total',
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_nonpositive_quantity',
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_without_order', count(*)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'order_without_customer', count(*)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_duplicate_pk', count(*) FROM (
  SELECT l_orderkey, l_linenumber FROM lineitem
  GROUP BY 1, 2 HAVING count(*) > 1
)
"""


def check_expectations(df, rules) -> "DataFrame":
    """dbt-test / Great-Expectations-style rule checker: evaluate a
    list of declarative row-level expectations in ONE pass and return
    one row per rule — ``(rule, n_rows, n_violations, pass)``.

    ``rules`` is a list of ``(name, condition)`` where ``condition``
    is a Column/SQL-string predicate that must hold for every row.
    Every rule compiles to a conditional count inside a single
    aggregate — one scan, one 1-row reduction, regardless of rule
    count (never one job per rule)."""
    import pyspark.sql.functions as F

    if not rules:
        # a legal (if pointless) input — an empty relation, not None
        return local_frame(
            df.sparkSession, [],
            "rule string, n_rows bigint, n_violations bigint, "
            "passed boolean",
        )
    aggs = [F.count(F.lit(1)).alias("__n")]
    # aggregates are aliased POSITIONALLY (__v_0, __v_1, ...) — a rule
    # name containing a dot/space/backtick would break F.col()
    # resolution (dots parse as struct access); the display name
    # appears only as a literal in the output's `rule` column
    for i, (_, cond) in enumerate(rules):
        cond = F.expr(cond) if isinstance(cond, str) else cond
        # NULL predicate result counts as a violation (unknown ≠ pass);
        # coalesce: SUM over ZERO rows is NULL — an empty table passes
        # every rule with 0 violations, it does not fail with NULLs
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, F.lit(0)).otherwise(F.lit(1))),
                F.lit(0),
            ).alias(f"__v_{i}")
        )
    wide = df.agg(*aggs)
    rows = None
    for i, (name, _) in enumerate(rules):
        one = wide.select(
            F.lit(name).alias("rule"),
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col(f"__v_{i}").cast("bigint").alias("n_violations"),
            (F.col(f"__v_{i}") == 0).alias("passed"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


ORDER_EXPECTATIONS = [
    ("orderkey_not_null", "o_orderkey IS NOT NULL"),
    ("totalprice_positive", "o_totalprice > 0"),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("orderdate_in_range",
     "o_orderdate >= TIMESTAMP '1992-01-01 00:00:00' "
     "AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'"),
    ("priority_prefix_digit", "o_orderpriority RLIKE '^[1-5]-'"),
]


def order_expectations(orders) -> "DataFrame":
    """The ORDER_EXPECTATIONS rule set over the orders table — the
    registry-facing instance of :func:`check_expectations`."""
    return check_expectations(orders, ORDER_EXPECTATIONS)


def order_expectations_sql() -> str:
    selects = []
    for name, cond in ORDER_EXPECTATIONS:
        # DuckDB twin: same NULL-is-violation semantics via CASE.
        # DuckDB's ~ is regexp_full_match, so RLIKE (partial match)
        # translates to regexp_matches(col, pattern). Regex-based so
        # MULTIPLE occurrences translate; constrained to the simple
        # `<identifier> RLIKE '<literal>'` shape these rule sets use.
        import re

        duck = re.sub(
            r"([A-Za-z_][A-Za-z0-9_.]*)\s+RLIKE\s+('(?:[^']|'')*')",
            r"regexp_matches(\1, \2)",
            cond,
        )
        lit_name = name.replace("'", "''")  # SQL-literal-escaped
        selects.append(f"""
SELECT '{lit_name}' AS rule,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN ({duck}) THEN 0 ELSE 1 END), 0)
            AS BIGINT) AS n_violations,
       coalesce(sum(CASE WHEN ({duck}) THEN 0 ELSE 1 END), 0) = 0
         AS passed
FROM orders""")
    return "\nUNION ALL\n".join(selects)


def expectation_history(orders) -> "DataFrame":
    """The durable audit relation a YEARLY stage-5 cadence would have
    written over orders (the orchestrator's
    ``EXPECTATION_AUDIT_SCHEMA``, VERDICT r7 #4's queryable history):
    one batch per order-year, stamped ``checked_on`` = Jan 1 after
    the year closed, one row per ORDER_EXPECTATIONS rule with that
    year's violation count and verdict.

    Scale shape: ONE year-keyed aggregate pass over orders (every
    rule a conditional count — adding a rule adds an expression, not
    a scan), then a ``stack`` unpivot of the rule columns over the
    |years|-sized aggregate — never a per-rule rescan and never a
    union of re-executed aggregates."""
    import pyspark.sql.functions as F

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (_, cond) in enumerate(ORDER_EXPECTATIONS):
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.expr(cond), F.lit(0)).otherwise(F.lit(1))),
                F.lit(0),
            ).alias(f"__v_{i}")
        )
    wide = orders.groupBy(
        F.year("o_orderdate").alias("__year")
    ).agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __v_{i}" for i, (name, _) in enumerate(ORDER_EXPECTATIONS)
    )
    return (
        wide.select(
            "__year",
            "__n",
            F.expr(
                f"stack({len(ORDER_EXPECTATIONS)}, {stack_args})"
                " AS (rule, n_violations)"
            ),
        )
        .select(
            F.lit("orders").alias("table_name"),
            F.to_timestamp(
                F.format_string("%d-01-01", F.col("__year") + 1)
            ).alias("checked_on"),
            "rule",
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def expectation_history_sql() -> str:
    import re

    rule_cols = []
    for i, (_, cond) in enumerate(ORDER_EXPECTATIONS):
        duck = re.sub(
            r"([A-Za-z_][A-Za-z0-9_.]*)\s+RLIKE\s+('(?:[^']|'')*')",
            r"regexp_matches(\1, \2)",
            cond,
        )
        rule_cols.append(
            f"coalesce(sum(CASE WHEN ({duck}) THEN 0 ELSE 1 END), 0)"
            f" AS __v_{i}"
        )
    selects = []
    for i, (name, _) in enumerate(ORDER_EXPECTATIONS):
        lit = name.replace("'", "''")
        selects.append(f"""
SELECT 'orders' AS table_name,
       CAST((__year + 1) || '-01-01' AS TIMESTAMP) AS checked_on,
       '{lit}' AS rule,
       CAST(__n AS BIGINT) AS n_rows,
       CAST(__v_{i} AS BIGINT) AS n_violations,
       __v_{i} = 0 AS passed
FROM wide""")
    return f"""
WITH wide AS (
  SELECT year(o_orderdate) AS __year, count(*) AS __n,
         {', '.join(rule_cols)}
  FROM orders GROUP BY 1
)
{chr(10).join('UNION ALL' + s if j else s for j, s in enumerate(selects))}
"""


# Benford first-digit expectations, log10(1 + 1/d) for d = 1..9.
# Computed ONCE here and embedded as the identical repr() literal in
# both the Spark expression and the DuckDB twin, so no engine's libm
# log10 ever enters the comparison — both parse the same decimal
# string to the same IEEE-754 double.
BENFORD_EXPECTED: dict[int, float] = {
    d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def benford_audit(lineitem) -> "DataFrame":
    """First-significant-digit census of ``l_extendedprice`` against
    Benford's law — the classic fabricated-data screen for financial
    columns, run as a data-quality audit before a snapshot publishes.

    Digit extraction is integer-exact on both engines for this
    column's value domain: the double price is scaled to cents and
    half-up rounded (``round(x * 100)``), cast to BIGINT, and the
    first character of its decimal string is the digit. Caveat
    (ADVICE r12): Spark rounds a double via its shortest decimal
    repr (BigDecimal HALF_UP) while DuckDB rounds the binary double
    half-away-from-zero — the two agree whenever ``x * 100`` does not
    land within one ulp of a ``.5`` boundary, which holds for
    TPC-H-style prices (integer cents by construction). A column
    where cent values sit on the boundary should use the
    ``seasonal_profile`` pattern instead:
    ``CAST(floor(x * 100.0 + 0.5) AS BIGINT)`` spelled identically on
    both engines. No float formatting, no log10 of data values.

    Output: one row per digit 1-9 (a broadcast 9-row spine guarantees
    all digits appear even with zero observations) —
    ``(digit, n_obs, obs_frac, benford_frac, abs_dev)``.

    Scale shape: one map-side-combined 9-group aggregation over the
    scan (column-pruned to l_extendedprice); the spine join and the
    total-sum window run on 9 rows. One shuffle, 100 TB-safe.

    TPC-H prices are uniform-ish in [~900, ~105k], so the audit
    *correctly reports large deviations* on this synthetic data — the
    contract is the measurement, not conformance.
    """
    cents = F.round(F.col("l_extendedprice") * F.lit(100.0), 0).cast(
        "bigint"
    )
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        lineitem.where(F.col("l_extendedprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    spine = (
        lineitem.sparkSession.range(1, 10)
        .select(F.col("id").cast("int").alias("digit"))
    )
    joined = (
        spine.join(F.broadcast(counts), "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias(
                "n_obs"
            ),
        )
    )
    from pyspark.sql import Window

    total = F.sum("n_obs").over(Window.partitionBy())
    expected = F.element_at(
        F.array(*[F.lit(BENFORD_EXPECTED[d]) for d in range(1, 10)]),
        F.col("digit"),
    )
    return (
        joined.select(
            "digit",
            "n_obs",
            (F.col("n_obs").cast("double") / total.cast("double")).alias(
                "obs_frac"
            ),
            expected.alias("benford_frac"),
        )
        .withColumn(
            "abs_dev", F.abs(F.col("obs_frac") - F.col("benford_frac"))
        )
        .orderBy("digit")
    )


def benford_audit_sql() -> str:
    """DuckDB twin of :func:`benford_audit` (same cents/string digit
    extraction, same shared literal expectations)."""
    case = " ".join(
        f"WHEN {d} THEN {BENFORD_EXPECTED[d]!r}" for d in range(1, 10)
    )
    return f"""
WITH counts AS (
    SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100.0) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           count(*) AS n_obs
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY 1
),
spine AS (SELECT CAST(range AS INTEGER) AS digit FROM range(1, 10)),
joined AS (
    SELECT s.digit, CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs
    FROM spine s LEFT JOIN counts c USING (digit)
)
SELECT digit, n_obs,
       CAST(n_obs AS DOUBLE) / CAST(sum(n_obs) OVER () AS DOUBLE)
           AS obs_frac,
       CASE digit {case} END AS benford_frac,
       abs(CAST(n_obs AS DOUBLE) / CAST(sum(n_obs) OVER () AS DOUBLE)
           - CASE digit {case} END) AS abs_dev
FROM joined
ORDER BY digit
"""


def chi2_independence(customer) -> "DataFrame":
    """Chi-square independence census between the two customer
    demographic axes (``c_mktsegment`` x ``c_nationkey``) — the
    standard pre-release check that a stratification column is not
    confounded with a geographic one.

    Emits one row per contingency cell with its expected count under
    independence and its chi-square contribution; the caller (or a
    trailing oracle-free sum) folds the statistic. Keeping the output
    at cell grain sidesteps cross-engine float-summation order
    entirely — every value is a deterministic expression of exact
    integer counts (totals come from integer window sums; the expected
    count multiplies as DOUBLE so 100 TB row counts cannot overflow a
    product of BIGINTs).

    Scale shape: one map-side-combined aggregation to the
    |segments| x |nations| cell relation (bounded cardinality); the
    window sums run on that tiny relation. One data shuffle,
    100 TB-safe."""
    from pyspark.sql import Window

    cells = customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    row_tot = F.sum("n_obs").over(Window.partitionBy("c_mktsegment"))
    col_tot = F.sum("n_obs").over(Window.partitionBy("c_nationkey"))
    grand = F.sum("n_obs").over(Window.partitionBy())
    n_exp = (
        row_tot.cast("double")
        * col_tot.cast("double")
        / grand.cast("double")
    )
    diff = F.col("n_obs").cast("double") - F.col("n_exp")
    return (
        cells.select("c_mktsegment", "c_nationkey", "n_obs", n_exp.alias("n_exp"))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "n_obs",
            "n_exp",
            (diff * diff / F.col("n_exp")).alias("chi2_term"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


CHI2_INDEPENDENCE_SQL = """
WITH cells AS (
    SELECT c_mktsegment, c_nationkey, count(*) AS n_obs
    FROM customer GROUP BY 1, 2
),
exp AS (
    SELECT c_mktsegment, c_nationkey, n_obs,
           CAST(sum(n_obs) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
           * CAST(sum(n_obs) OVER (PARTITION BY c_nationkey) AS DOUBLE)
           / CAST(sum(n_obs) OVER () AS DOUBLE) AS n_exp
    FROM cells
)
SELECT c_mktsegment, c_nationkey, n_obs, n_exp,
       (CAST(n_obs AS DOUBLE) - n_exp) * (CAST(n_obs AS DOUBLE) - n_exp)
           / n_exp AS chi2_term
FROM exp
ORDER BY c_mktsegment, c_nationkey
"""


#: literal o_totalprice bucket edges for the PSI drift report — shared
#: between the Spark CASE chain and the DuckDB twin so the bucket
#: assignment compiles to the same comparisons on both engines.
PSI_EDGES: tuple[int, ...] = (50_000, 100_000, 150_000, 200_000, 300_000)


def psi_drift(orders, split_year: int = 1995) -> "DataFrame":
    """Population-stability-index report of the order-value
    distribution, early period (``o_orderdate`` year < split) vs late
    — THE standard production-ML input-drift gate, run here over the
    one value column whose distribution the warehouse controls.

    One row per literal price bucket:
    ``(bucket, n_base, n_new, frac_base, frac_new, psi_term)`` with
    ``psi_term = (frac_new - frac_base) * ln(frac_new / frac_base)``
    rounded to 6 decimals on both engines (the tfidf ln-rounding
    precedent, text.py:493). Per-bucket grain keeps float summation
    out of the oracle; the headline PSI is the trailing sum.

    Fractions are Laplace-smoothed — ``(n + 1) / (tot + n_buckets)``
    with the FIXED bucket count ``len(PSI_EDGES) + 1`` — the standard
    PSI guard: a bucket that appears or vanishes between periods is
    precisely the strongest drift signal, and the unsmoothed formula
    sends it to ±inf (and, under ANSI mode, a DIVIDE_BY_ZERO abort)
    instead of a large finite term. Smoothing is deterministic
    arithmetic, so the oracle twin stays bit-identical.

    Scale shape: one map-side-combined aggregation to
    |buckets| x 2 conditional counts — the bucket id and the period
    flag are both scan-side CASE expressions, so the shuffle carries
    at most ``len(PSI_EDGES)+1`` groups. 100 TB-safe."""
    edges = PSI_EDGES
    # ascending CASE chain: the first matching edge wins
    bucket = None
    for i, e in enumerate(edges):
        cond = F.col("o_totalprice") < F.lit(float(e))
        bucket = F.when(cond, F.lit(i)) if bucket is None else bucket.when(cond, F.lit(i))
    bucket = bucket.otherwise(F.lit(len(edges)))
    is_base = F.year("o_orderdate") < F.lit(split_year)
    counts = (
        orders.select(bucket.alias("bucket"), is_base.alias("is_base"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_base"),
            F.sum(F.when(~F.col("is_base"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
    )
    from pyspark.sql import Window

    tot_base = F.sum("n_base").over(Window.partitionBy())
    tot_new = F.sum("n_new").over(Window.partitionBy())
    nb = F.lit(float(len(edges) + 1))
    fb = (F.col("n_base").cast("double") + F.lit(1.0)) / (
        tot_base.cast("double") + nb
    )
    fn = (F.col("n_new").cast("double") + F.lit(1.0)) / (
        tot_new.cast("double") + nb
    )
    return (
        counts.select(
            "bucket",
            "n_base",
            "n_new",
            fb.alias("frac_base"),
            fn.alias("frac_new"),
        )
        .select(
            "bucket",
            "n_base",
            "n_new",
            "frac_base",
            "frac_new",
            F.round(
                (F.col("frac_new") - F.col("frac_base"))
                * F.log(F.col("frac_new") / F.col("frac_base")),
                6,
            ).alias("psi_term"),
        )
        .orderBy("bucket")
    )


def psi_drift_sql(split_year: int = 1995) -> str:
    """DuckDB twin of :func:`psi_drift` (same literal edges, same
    rounding)."""
    edges = PSI_EDGES
    whens = " ".join(
        f"WHEN o_totalprice < {float(e)!r} THEN {i}"
        for i, e in enumerate(edges)
    )
    return f"""
WITH counts AS (
    SELECT CASE {whens} ELSE {len(edges)} END AS bucket,
           CAST(sum(CASE WHEN year(o_orderdate) < {split_year} THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           CAST(sum(CASE WHEN year(o_orderdate) >= {split_year} THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM orders GROUP BY 1
),
fracs AS (
    SELECT bucket, n_base, n_new,
           (CAST(n_base AS DOUBLE) + 1.0)
               / (CAST(sum(n_base) OVER () AS DOUBLE) + {float(len(edges) + 1)!r})
               AS frac_base,
           (CAST(n_new AS DOUBLE) + 1.0)
               / (CAST(sum(n_new) OVER () AS DOUBLE) + {float(len(edges) + 1)!r})
               AS frac_new
    FROM counts
)
SELECT bucket, n_base, n_new, frac_base, frac_new,
       round((frac_new - frac_base) * ln(frac_new / frac_base), 6)
           AS psi_term
FROM fracs
ORDER BY bucket
"""
