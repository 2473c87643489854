"""Event-stream analytics over the ``events`` table (SURVEY.md §2.9 /
§2.11): tumbling & sliding window aggregation, gap sessionization,
JSON property extraction.

Scale notes: window aggregation shuffles once on (window, key) with
map-side partial aggregation; sessionization shuffles once on user_id
and sorts within partition (the window-function shape Spark executes
without materializing global order).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from trino_iceberg_maintenance_spark.sources.tables import load_table


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-hour, per-type event counts + value sums (F.window —
    the Structured-Streaming-compatible form)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in 2
    windows."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


SLIDING_SQL = """
SELECT window_start, count(*) AS n_events FROM (
  SELECT date_trunc('hour', ts) AS window_start FROM events
  UNION ALL
  SELECT date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE
  FROM events
)
GROUP BY 1
"""


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    since the previous event exceeds ``gap_minutes``. Returns one row
    per session with span + size."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact µs arithmetic (timestamps are integral µs in storage) so
    # the boundary comparison is bit-identical with the DuckDB oracle
    gap_us = F.expr("timestampdiff(MICROSECOND, __prev_ts, ts)")
    with_start = (
        events.withColumn("__prev_ts", F.lag("ts").over(by_user))
        .withColumn(
            "is_start",
            F.when(
                F.col("__prev_ts").isNull()
                | (gap_us > gap_minutes * 60 * 1_000_000),
                1,
            ).otherwise(0),
        )
    )
    with_session = with_start.withColumn(
        "session_seq", F.sum("is_start").over(by_user)
    )
    return (
        with_session.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


def sessionize_sql(gap_minutes: int = 30) -> str:
    return f"""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {gap_minutes * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sessions
GROUP BY 1, 2
"""


def session_window_counts(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap sessionization via Spark's built-in ``session_window`` —
    the Structured-Streaming-capable formulation (state-store-backed
    merging sessions under a watermark when run as a stream). Same
    semantics as :func:`sessionize`: ``window.end`` is
    ``max(ts) + gap``, so subtracting the gap recovers the last event
    time and the two formulations agree exactly.

    Scale note: one shuffle on (user_id); session merging happens
    inside the aggregation — no window-function sort pass."""
    gap = f"{gap_minutes} minutes"
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap_minutes} MINUTES")).alias(
                "session_end"
            ),
            "n_events",
        )
    )


def session_window_sql(gap_minutes: int = 30) -> str:
    """DuckDB twin — gap sessions via the lag/cumulative-sum
    formulation, emitting (user_id, min ts, max ts, count).

    Boundary semantics: session_window's windows are half-open
    ``[start, last+gap)``, so an event at EXACTLY ``last+gap`` opens a
    new session — hence ``>=`` here, vs the strict ``>`` of
    :func:`sessionize`'s convention."""
    return f"""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      >= {gap_minutes * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
"""


def json_props_rollup(events: DataFrame) -> DataFrame:
    """Extract the integer ``k`` from the JSON ``props`` column and
    roll it up per event type — JSON parsing stays JVM-side
    (get_json_object)."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


JSON_PROPS_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
FROM events
GROUP BY 1
"""


def click_attribution(events: DataFrame, window_minutes: int = 30) -> DataFrame:
    """Click→purchase attribution: every (click, purchase) pair of the
    same user where the click lands within ``window_minutes`` BEFORE
    the purchase (inclusive).

    Scale shape: an EQUI-join on user_id with the time bound as a
    residual predicate — one shuffle per side on the user key, never a
    nested-loop theta join; this is precisely the shape Spark's
    watermarked stream-stream join executes incrementally."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    bound = F.col("purchase_ts") - F.expr(
        f"INTERVAL {window_minutes} MINUTES"
    )
    return purchases.join(clicks, "user_id").where(
        (F.col("click_ts") >= bound) & (F.col("click_ts") <= F.col("purchase_ts"))
    ).select(
        "user_id", "purchase_id", "purchase_ts",
        F.round("purchase_value", 4).alias("purchase_value"),
        "click_id", "click_ts",
    )


def click_attribution_sql(window_minutes: int = 30) -> str:
    return f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id, p.purchase_ts,
       round(p.purchase_value, 4) AS purchase_value,
       c.click_id, c.click_ts
FROM purchases p JOIN clicks c ON p.user_id = c.user_id
WHERE c.click_ts >= p.purchase_ts - INTERVAL {window_minutes} MINUTE
  AND c.click_ts <= p.purchase_ts
"""


def event_funnel(events: DataFrame, step_minutes: int = 1440) -> DataFrame:
    """Funnel analysis — per user, purchases completing the full
    view → click → purchase sequence with each step within
    ``step_minutes`` of the previous: the ordered-sequence detection
    shape (product analytics' conversion funnel).

    Scale shape: two SEMI-joins, both equi on user_id with the time
    bound as a residual — clicks qualify against views, then purchases
    against qualified clicks, so each stage's survivor set shrinks
    before the next join; no window over a global order, no theta
    join. The final per-user count is one small aggregation."""
    step = F.expr(f"INTERVAL {step_minutes} MINUTES")

    def typed(t: str, ts_name: str) -> DataFrame:
        return events.where(F.col("event_type") == t).select(
            "user_id", F.col("ts").alias(ts_name)
        )

    views = typed("view", "v_ts")
    clicks = typed("click", "c_ts")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    qualified_clicks = clicks.join(
        views,
        (clicks["user_id"] == views["user_id"])
        & (views["v_ts"] <= clicks["c_ts"])
        & (views["v_ts"] >= clicks["c_ts"] - step),
        "left_semi",
    )
    converted = purchases.join(
        qualified_clicks,
        (purchases["user_id"] == qualified_clicks["user_id"])
        & (qualified_clicks["c_ts"] <= purchases["p_ts"])
        & (qualified_clicks["c_ts"] >= purchases["p_ts"] - step),
        "left_semi",
    )
    return converted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.min("p_ts").alias("first_conversion"),
        F.max("p_ts").alias("last_conversion"),
    )


def event_funnel_sql(step_minutes: int = 1440) -> str:
    return f"""
WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
      WHERE event_type = 'purchase'),
qc AS (
  SELECT * FROM c WHERE EXISTS (
    SELECT 1 FROM v WHERE v.user_id = c.user_id
      AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL {step_minutes} MINUTE)
),
conv AS (
  SELECT * FROM p WHERE EXISTS (
    SELECT 1 FROM qc WHERE qc.user_id = p.user_id
      AND qc.ts <= p.ts AND qc.ts >= p.ts - INTERVAL {step_minutes} MINUTE)
)
SELECT user_id,
       count(*) AS n_conversions,
       min(ts) AS first_conversion,
       max(ts) AS last_conversion
FROM conv
GROUP BY user_id
"""


def daily_gap_fill(events: DataFrame) -> DataFrame:
    """Time-series resample with gap filling: per-day, per-type event
    counts with ZERO rows materialized for calendar days that saw no
    events — the dense spine downstream forecasting/monitoring needs.

    Scale shape: the calendar spine is ``sequence(min_day, max_day)``
    exploded from a 1-row bounds aggregate (broadcast — never a driver
    collect), crossed with the distinct type dim; the observed counts
    are aggregated FIRST, so the outer join touches two
    calendar-bounded relations (days × types rows each) no matter how
    large the raw corpus is."""
    day = F.date_trunc("day", F.col("ts"))
    counts = events.groupBy(
        day.alias("day"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine_days = bounds.select(
        F.explode(
            F.expr("sequence(d0, d1, interval 1 day)")
        ).alias("day")
    )
    types = events.select("event_type").distinct()
    spine = spine_days.crossJoin(F.broadcast(types))
    return spine.join(counts, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
    )


DAILY_GAP_FILL_SQL = """
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT s.day, t.event_type,
       CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
FROM spine s CROSS JOIN types t
LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type
"""


def load_events(spark, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by their FIRST-event week,
    tracked by distinct-active count in each subsequent week — the
    standard retention triangle (weekly grain, matching the testdata's
    ~1-month event span).

    Scale shape: the cohort assignment is one groupBy(user) min
    (map-side partial), joined back broadcast (one row per user is
    dimension-sized next to the event stream at 100 TB — if users
    outgrow broadcast, this join becomes the one extra shuffle);
    the triangle is a single distinct-count aggregation on
    (cohort_week, weeks_since)."""
    week = F.date_trunc("week", F.col("ts"))
    cohorts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        events.select("user_id", week.alias("event_week"))
        .join(F.broadcast(cohorts), "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.col("event_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


COHORT_RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY 1
)
SELECT c.cohort_week,
       CAST(datediff('day', CAST(c.cohort_week AS DATE),
                     CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
         AS weeks_since,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


def windows_union(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """The three window-aggregation flavors (tumbling 1h by type,
    sliding 1h/30min, gap-session per user) as one long-format
    relation tagged by ``kind`` — the §2.9 window flavors,
    exercising all three Spark window operators in a single
    driver-checkable query.

    Each branch is the same single-shuffle aggregation as its
    standalone form (window+type / window / session_window+user);
    the union is plan-level only (no extra shuffle, branches run as
    parallel stages over the shared scan).
    """
    nul_s = F.lit(None).cast("string")
    nul_l = F.lit(None).cast("bigint")
    nul_d = F.lit(None).cast("double")
    tumb = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.lit("tumbling").alias("kind"),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            nul_l.alias("user_id"),
            "n_events",
            "sum_value",
        )
    )
    slid = (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.lit("sliding").alias("kind"),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            nul_s.alias("event_type"),
            nul_l.alias("user_id"),
            "n_events",
            nul_d.alias("sum_value"),
        )
    )
    gap = f"{gap_minutes} minutes"
    sess = (
        events.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.lit("session").alias("kind"),
            F.col("w.start").alias("window_start"),
            # session_window.end is last-event + gap; subtract to emit
            # the observable session end (same convention as
            # session_window_counts — see its docstring)
            (F.col("w.end") - F.expr(f"INTERVAL {gap_minutes} MINUTES")).alias(
                "window_end"
            ),
            nul_s.alias("event_type"),
            "user_id",
            "n_events",
            nul_d.alias("sum_value"),
        )
    )
    return tumb.unionByName(slid).unionByName(sess)


def windows_union_sql(gap_minutes: int = 30) -> str:
    return f"""
SELECT 'tumbling' AS kind,
       date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(NULL AS BIGINT) AS user_id,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'sliding', window_start, window_start + INTERVAL 1 HOUR,
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       count(*), CAST(NULL AS DOUBLE)
FROM (
  SELECT date_trunc('hour', ts) AS window_start FROM events
  UNION ALL
  SELECT date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE
  FROM events
)
GROUP BY 1, 2, 3
UNION ALL
SELECT 'session', min(ts), max(ts),
       CAST(NULL AS VARCHAR), user_id, count(*), CAST(NULL AS DOUBLE)
FROM (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        >= {gap_minutes * 60 * 1_000_000}
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
)
GROUP BY user_id, session_seq
"""


def burst_detection(events: DataFrame, trailing: int = 24,
                    factor_num: int = 3, factor_den: int = 2) -> DataFrame:
    """Traffic-burst detection: hourly event counts compared against
    the trailing mean — hours whose volume exceeds
    ``factor_num/factor_den``× the average of the previous
    ``trailing`` hours (needing a full
    lookback window). The monitoring query a standing ingestion
    pipeline runs over its own throughput. The grain is fixed at one
    hour; :func:`burst_detection_sql` generates the oracle from the
    SAME parameters, so non-default arguments stay twinned.

    Engine-stable by construction: counts are integers, the trailing
    aggregate is an integer SUM over a fixed ROWS frame (order
    defined by the hour key), and the only division happens once at
    the final projection.

    Scale shape: one groupBy to the hourly grain (map-side partials),
    then a window over the TINY hourly relation — the window's
    single-partition concern applies to hours-of-history, not events
    (24k rows for 1000 days; partition by calendar year if it ever
    matters)."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.orderBy("hour")
        .rowsBetween(-trailing, -1)
    )
    trail_sum = F.sum("n_events").over(w)
    trail_cnt = F.count(F.lit(1)).over(w)
    return (
        hourly.select(
            "hour",
            "n_events",
            trail_sum.alias("trail_sum"),
            trail_cnt.alias("trail_n"),
        )
        .where(
            (F.col("trail_n") == trailing)
            # n > (num/den)·avg ⟺ n·trailing·den > num·trail_sum — the
            # threshold stays in exact integer arithmetic
            & (
                F.col("n_events") * trailing * factor_den
                > factor_num * F.col("trail_sum")
            )
        )
        .select(
            "hour",
            "n_events",
            F.round(
                F.col("n_events") * trailing / F.col("trail_sum").cast("double"),
                6,
            ).alias("burst_ratio"),
        )
    )


def burst_detection_sql(trailing: int = 24, factor_num: int = 3,
                        factor_den: int = 2) -> str:
    """DuckDB twin of :func:`burst_detection`, generated from the same
    parameters (like the other ``*_sql(...)`` builders) so non-default
    arguments cannot silently diverge from a frozen oracle."""
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events
  FROM events GROUP BY 1
),
trailed AS (
  SELECT hour, n_events,
         sum(n_events) OVER w AS trail_sum,
         count(*) OVER w AS trail_n
  FROM hourly
  WINDOW w AS (ORDER BY hour
               ROWS BETWEEN {trailing} PRECEDING AND 1 PRECEDING)
)
SELECT hour, n_events,
       round(n_events * {trailing} / CAST(trail_sum AS DOUBLE), 6)
         AS burst_ratio
FROM trailed
WHERE trail_n = {trailing}
  AND n_events * {trailing} * {factor_den} > {factor_num} * trail_sum
"""


BURST_DETECTION_SQL = burst_detection_sql()


def user_anomaly_zscore(
    events: DataFrame,
    trailing: int = 24,
    z_threshold: float = 3.0,
    min_history: int = 6,
) -> DataFrame:
    """Per-user behavioral anomaly detection: each user-hour's event
    count scored against that user's OWN trailing mean/stddev (rows
    frame over the previous ``trailing`` active hours) — the
    personalized complement of ``burst_detection``'s corpus-wide
    threshold.

    Shape: one (user, hour) count aggregation, then ONE window
    partitioned by user (high-cardinality) with a bounded rows frame —
    state per row is the frame, never the history. z-scores round to 4
    so engine-side IEEE stddev ulps can't flip the comparison; hours
    with < ``min_history`` trailing points or zero variance emit NULL
    z and never flag."""
    hourly = (
        events.select(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .groupBy("user_id", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(-trailing, -1)
    )
    scored = hourly.select(
        "user_id",
        "hour",
        "n_events",
        F.count(F.lit(1)).over(w).alias("n_hist"),
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sd"),
    )
    z = F.when(
        (F.col("n_hist") >= min_history) & (F.col("sd") > 0),
        F.round((F.col("n_events") - F.col("mu")) / F.col("sd"), 4),
    )
    return scored.select(
        "user_id",
        "hour",
        "n_events",
        z.alias("zscore"),
        F.coalesce(z > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def user_anomaly_zscore_sql(
    trailing: int = 24, z_threshold: float = 3.0, min_history: int = 6
) -> str:
    frame = f"ROWS BETWEEN {trailing} PRECEDING AND 1 PRECEDING"
    return f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n_events
  FROM events GROUP BY user_id, date_trunc('hour', ts)
), scored AS (
  SELECT user_id, hour, n_events,
         count(*) OVER (PARTITION BY user_id ORDER BY hour {frame})
           AS n_hist,
         avg(n_events) OVER (PARTITION BY user_id ORDER BY hour {frame})
           AS mu,
         stddev_samp(n_events) OVER (PARTITION BY user_id ORDER BY hour {frame})
           AS sd
  FROM hourly
)
SELECT user_id, hour, n_events, zscore,
       coalesce(zscore > {z_threshold}, false) AS is_anomaly
FROM (
  SELECT user_id, hour, n_events,
         CASE WHEN n_hist >= {min_history} AND sd > 0
              THEN round((n_events - mu) / sd, 4) END AS zscore
  FROM scored
)
"""


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    max_len: int = 8,
    k: int = 20,
) -> DataFrame:
    """Top user-journey paths: the ``k`` most common event-type
    sequences (first ``max_len`` events of each gap-based session,
    joined with '>'), with session and distinct-user counts — the
    funnel-discovery complement of ``event_funnel`` (which checks ONE
    known path; this surfaces the paths worth checking).

    Scale shape: one (user) shuffle for sessionization, a row_number
    filter truncating every session to ``max_len`` rows BEFORE the
    path aggregate (collect_list over an unfiltered session would
    materialize a pathological million-event session in one
    aggregation buffer — review finding; the filter costs one extra
    (user, session) exchange and bounds the buffer by construction),
    one path-count shuffle whose key domain is event-type^max_len,
    then TakeOrdered for the top-k — no global sort."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, __prev_ts, ts)")
    with_session = (
        events.withColumn("__prev_ts", F.lag("ts").over(by_user))
        .withColumn(
            "is_start",
            F.when(
                F.col("__prev_ts").isNull()
                | (gap_us > gap_minutes * 60 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn("session_seq", F.sum("is_start").over(by_user))
    )
    by_session = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    bounded = with_session.withColumn(
        "__rn", F.row_number().over(by_session)
    ).where(F.col("__rn") <= max_len)
    paths = bounded.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def session_paths_sql(
    gap_minutes: int = 30, max_len: int = 8, k: int = 20
) -> str:
    return f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {gap_minutes * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
),
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
                               ORDER BY ts, event_id) AS rn
  FROM sessions
),
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered WHERE rn <= {max_len}
  GROUP BY user_id, session_seq
)
SELECT path, count(*) AS n_sessions,
       count(DISTINCT user_id) AS n_users
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {k}
"""


def event_dedup_within(
    events: DataFrame, window_minutes: int = 5
) -> DataFrame:
    """Debounce dedup for event logs: drop an event when the PREVIOUS
    event of the same (user, type) — kept or dropped — is within
    ``window_minutes`` (retry storms, double-clicks, at-least-once
    delivery echoes). Lag-based 'previous row' semantics: every
    occurrence resets the clock, the standard debounce contract (and,
    unlike previous-KEPT semantics, expressible without a sequential
    scan per key).

    One (user, type) shuffle, exact µs gap arithmetic."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gap_us = F.expr("timestampdiff(MICROSECOND, __prev, ts)")
    return (
        events.withColumn("__prev", F.lag("ts").over(w))
        .where(
            F.col("__prev").isNull()
            | (gap_us > window_minutes * 60 * 1_000_000)
        )
        .select("event_id", "user_id", "ts", "event_type")
    )


def event_dedup_within_sql(window_minutes: int = 5) -> str:
    return f"""
WITH lagged AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id, ts, event_type
FROM lagged
WHERE prev_ts IS NULL
   OR epoch_us(ts) - epoch_us(prev_ts) > {window_minutes * 60 * 1_000_000}
"""


def value_histogram(
    events: DataFrame, bucket_width: float = 10.0
) -> DataFrame:
    """Fixed-width value histogram per event type — map-side bucket
    assignment (floor division), one (type, bucket) aggregate; the
    classic distribution monitor for metric streams."""
    bucket = F.floor(F.col("value") / F.lit(bucket_width)).cast("long")
    # floor-scaled rounding (the repo-standard form): double→decimal
    # casts round HALF_UP in Spark but half-even in DuckDB at
    # representation boundaries
    def _r6(c):
        return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(
            1_000_000.0
        )

    return (
        events.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.min("value")).alias("lo"),
            _r6(F.max("value")).alias("hi"),
        )
    )


def value_histogram_sql(bucket_width: float = 10.0) -> str:
    return f"""
SELECT event_type,
       CAST(floor(value / {bucket_width!r}) AS BIGINT) AS bucket,
       count(*) AS n,
       floor(min(value) * 1000000 + 0.5) / 1000000 AS lo,
       floor(max(value) * 1000000 + 0.5) / 1000000 AS hi
FROM events
GROUP BY 1, 2
"""


def rate_limit_events(
    events: DataFrame, per_user_hour: int = 5
) -> DataFrame:
    """Per-user rate limiting — keep each user's FIRST
    ``per_user_hour`` events per clock hour (ts order, event_id tie
    break) and drop the rest: the spam/bot-burst guard a curation
    pipeline applies before behavioral events enter a training set.

    One (user, hour)-partitioned window; WindowGroupLimit pushes the
    rank filter below the sort at planning time, so each task keeps at
    most ``per_user_hour`` rows per key in memory."""
    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_user_hour)
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.col("rn").cast("int").alias("slot"),
        )
    )


def rate_limit_events_sql(per_user_hour: int = 5) -> str:
    return f"""
SELECT event_id, user_id, ts, event_type, CAST(rn AS INT) AS slot
FROM (
  SELECT event_id, user_id, ts, event_type,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('hour', ts)
           ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
)
WHERE rn <= {per_user_hour}
"""


def user_cusum_drift(events: DataFrame) -> DataFrame:
    """Per-user CUSUM drift detection over daily event counts — the
    changepoint complement of :func:`burst_detection` (which
    thresholds single hours against a trailing mean on the GLOBAL
    grain): CUSUM accumulates small sustained shifts that no single
    day would flag, per entity.

    The clamped CUSUM recursion ``c_i = max(0, c_{i-1} + v_i)`` is not
    an associative aggregate, but its maximum has a closed windowed
    form: with ``S_i`` the running sum of ``v``,
    ``c_i = S_i − min(0, min_{j≤i} S_j)`` — two cumulative windows,
    no recursion, no UDF. Drift units are exact integers: each day's
    deviation is scaled by the user's day count
    (``v_i = n_days·x_i − total``, which sums to zero), so the peak
    statistic is an integer in (events × n_days) units and the DuckDB
    twin is hash-exact.

    Scale shape: one map-side-combined (user, day) count, then
    per-user cumulative windows — high-cardinality partitions (users),
    each a handful of days wide; one final per-user aggregate."""
    daily = (
        events.groupBy(
            "user_id", F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    per_user = Window.partitionBy("user_id")
    stats = daily.select(
        "user_id", "day", "x",
        F.count(F.lit(1)).over(per_user).cast("long").alias("nd"),
        F.sum("x").over(per_user).cast("long").alias("tot"),
    )
    cum = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # two layers: windows cannot nest inside windows, so S
    # materializes as a column before its running minimum
    s_rel = stats.select(
        "user_id", "day", "nd", "tot",
        F.sum(F.col("nd") * F.col("x") - F.col("tot")).over(cum)
        .alias("s"),
    )
    curve = s_rel.select(
        "user_id", "nd", "tot",
        (
            F.col("s")
            - F.least(F.lit(0).cast("long"), F.min("s").over(cum))
        ).alias("cusum"),
    )
    return (
        curve.groupBy("user_id")
        .agg(
            F.max("nd").cast("long").alias("n_days"),
            F.max("tot").cast("long").alias("total_events"),
            F.max("cusum").cast("long").alias("max_cusum_scaled"),
        )
    )


USER_CUSUM_DRIFT_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT user_id, day, x,
         count(*) OVER (PARTITION BY user_id) AS nd,
         sum(x) OVER (PARTITION BY user_id) AS tot
  FROM daily
),
s_rel AS (
  SELECT user_id, day, nd, tot,
         sum(nd * x - tot) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM stats
),
curve AS (
  SELECT user_id, nd, tot,
         s - least(0, min(s) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
  FROM s_rel
)
SELECT user_id,
       CAST(max(nd) AS BIGINT) AS n_days,
       CAST(max(tot) AS BIGINT) AS total_events,
       CAST(max(cusum) AS BIGINT) AS max_cusum_scaled
FROM curve
GROUP BY user_id
"""


def event_markov(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for each ordered pair of consecutive event types within
    a user's timeline, the transition count and the integer
    conditional probability ``P(next | prev)`` in micro-units — the
    model behind next-action prediction baselines and the
    drift-detection complement of :func:`session_paths` (paths show
    WHICH journeys exist; the matrix shows the local dynamics they
    are built from).

    Scale shape: one (user) shuffle for the lag window — partitioned
    by user_id (high cardinality, never global) — then a map-side-
    combined count keyed by the (prev, next) pair; the row-total
    window runs over the |types|²-sized RESULT, not the stream."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    wt = Window.partitionBy("prev_type")  # |types|²-sized relation
    return (
        counts.withColumn("row_total", F.sum("n_transitions").over(wt))
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            F.expr(
                "CAST((n_transitions * 1000000) DIV row_total AS BIGINT)"
            ).alias("prob_u"),
        )
    )


EVENT_MARKOV_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions,
       CAST((n_transitions * 1000000)
            // sum(n_transitions) OVER (PARTITION BY prev_type)
            AS BIGINT) AS prob_u
FROM counts
"""
