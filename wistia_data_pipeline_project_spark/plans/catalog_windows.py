"""Window-function family (SURVEY §2.7 W1-W4, §2.6 lag-anchor scan,
§2.10 sessionization) on the driver's events/orders tables.

The reference's hardest operator — the sequential watch-time fold
(``/root/reference/process_wistia_data_v2.py:402-465``) — depends only
on lag-1 state, so its whole family (interval credit, session split,
as-of lookup) is expressed with native window functions: no UDF, one
shuffle on the partition key, sort within partition.

Determinism: all time arithmetic in integer microseconds
(``unix_micros`` / ``epoch_us``), one final double division; every
window ordered by ``(ts, event_id)`` (unique tiebreak).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import incremental as INC
from ..operators import timeseries as TS
from ..sources.io import load_table
from .catalog import dec, query, shared

# Shared oracle CTE: ts normalized to Spark's microsecond precision.
E_CTE = """
    WITH e AS (
      SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
"""


@query(
    "events_active_time",
    oracle=E_CTE
    + """,
    g AS (
      SELECT user_id, ts,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM e
    )
    SELECT user_id,
           date_trunc('day', ts) AS event_date,
           COUNT(*) AS n_events,
           CAST(COALESCE(SUM(CASE WHEN gap_us IS NULL THEN NULL
                                  ELSE LEAST(gap_us, 1800000000) END), 0)
                AS DOUBLE) / 1000000.0 AS active_seconds
    FROM g
    GROUP BY 1, 2
    """,
)
def events_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watch-time-style interval credit (§2.6 option 1, window-native).

    Per user ordered by time: credit each event the gap since the
    previous event, capped at 30 min (the reference caps per-interval
    credit at ``min(time_elapsed, expected)``,
    ``process_wistia_data_v2.py:441``); roll up per (user, day).

    Scale: one shuffle on user_id for the window sort + one partial-agg
    shuffle on (user_id, day). Integer-microsecond math end to end.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = e.withColumn("gap_us", us - F.lag(us).over(w))
    # the first event per user has no previous gap and credits NOTHING:
    # both engines' least()/LEAST() skip NULLs, so an ungated
    # least(gap, cap) would mint a phantom 30-minute credit per user
    # (identically on both sides of the hash check)
    credit = F.when(
        F.col("gap_us").isNotNull(),
        F.least(F.col("gap_us"), F.lit(1800000000)),
    )
    return g.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("event_date")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.coalesce(F.sum(credit), F.lit(0)).cast("double") / 1000000.0
        ).alias("active_seconds"),
    )


@query(
    "events_sessionization",
    oracle=E_CTE
    + """,
    l AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM e
    ),
    m AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS is_start
      FROM l
    ),
    s AS (
      SELECT *, CAST(SUM(is_start) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM m
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM s GROUP BY 1, 2
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session split via lag + running sum.

    The batch equivalent of ``F.session_window`` (§2.10): a session id
    is the running count of gap-breaks. Both windows share one
    partitioning (user_id) — Spark sorts once and reuses the exchange.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_start = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    s = e.withColumn(
        "session_seq",
        F.sum(is_start).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value", 18, 2)).cast("double").alias("session_value"),
    )


@query(
    "events_asof_last_view",
    oracle=E_CTE
    + """,
    w AS (
      SELECT user_id, event_id, ts, value, event_type,
             max(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
      FROM e
    )
    SELECT event_id AS purchase_event_id, user_id,
           ts AS purchase_ts, value AS purchase_value, last_view_ts
    FROM w WHERE event_type = 'purchase'
    """,
)
def events_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window (J3 extension: Spark lacks a
    native as-of join).

    For each purchase, the most recent strictly-earlier 'view' by the
    same user: a running MAX over the interleaved event stream —
    single sort, no self-join, no per-group UDF. At 100 TB this beats
    the merge-join formulation because the streams share one shuffle.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value", "event_type")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_view = F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    return (
        e.withColumn("last_view_ts", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
            "last_view_ts",
        )
    )


@query(
    "events_first_purchase",
    oracle=E_CTE
    + """
    SELECT user_id, ts AS first_purchase_ts, value AS first_purchase_value
    FROM (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM e WHERE event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def events_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-event-per-key (A4/A5 order-sensitive first) as a struct-min
    aggregation — map-side combinable, no window sort."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select("user_id", "ts", "event_id", "value")
    )
    first = F.min(F.struct("ts", "event_id", "value")).alias("f")
    return e.groupBy("user_id").agg(first).select(
        "user_id",
        F.col("f.ts").alias("first_purchase_ts"),
        F.col("f.value").alias("first_purchase_value"),
    )


@query(
    "orders_running_total",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum per customer (W2 family) — decimal-exact."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(dec("o_totalprice", 14, 2)).over(w).cast("double").alias("running_spend"),
    )


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn AS rank_in_customer
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (W3 generalized): row_number with unique tiebreak.

    Scale note: Spark pushes a per-partition top-K (WindowGroupLimit)
    below the shuffle for rank<=K predicates, so the full sort never
    materializes.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rank_in_customer"),
        )
        .filter(F.col("rank_in_customer") <= 3)
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(date_trunc('day', CAST(ts AS TIMESTAMP)))
               AS cohort_day
      FROM events GROUP BY 1
    ),
    a AS (
      SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
               AS active_day
      FROM events
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.active_day) AS offset_days,
           COUNT(*) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each subsequent active day as an offset — the standard
    retention triangle.

    Scale: two aggregates over one events scan (first-seen per user is
    a map-combinable MIN; the distinct user-day table collapses
    map-side) joined on user_id. Both sides shuffle on the same key,
    so the join is co-partitioned; no window, no per-user sort, and
    the output is |cohorts| × |offsets| — tiny at any corpus size.
    """
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    a = e.select(
        "user_id", F.date_trunc("day", "ts").alias("active_day")
    ).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").cast("long").alias(
                "offset_days"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click-after-view →
    purchase-after-that-click): each stage anchors on the FIRST
    qualifying timestamp of the previous stage, so a click that
    precedes every view does not count — true sequential semantics,
    not per-type minima compared after the fact.

    Scale: the classic relational funnel — each stage is a
    type-filtered scan (predicate pushed to parquet) joined to the
    previous stage's per-user anchor on user_id and re-aggregated;
    stage inputs shrink monotonically down the funnel, every join is
    co-partitioned on user_id, and the final counts are three 1-row
    aggregates combined by cross join.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
        )
    )


@query(
    "events_daily_gapfill",
    oracle="""
    WITH daily AS (
      SELECT user_id, day, COUNT(*) AS n_events,
             MAX({'ts': ts, 'eid': event_id, 'v': value}).v AS day_value
      FROM (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        FROM events
      ) GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    )
    SELECT g.user_id, g.day,
           COALESCE(d.n_events, 0) AS n_events,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill
    FROM grid g LEFT JOIN daily d
      ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample with gap fill + forward fill
    (operators/timeseries.py): one row per (user, day) across the
    user's active span — 0-count gap days, day-closing value carried
    forward. The oracle regenerates the grid with generate_series and
    replays the fill with IGNORE NULLS last_value, so grid bounds,
    gap rows, and fill values are all hash-checked.

    Scale: the grid is generated per key from its own span (no global
    calendar join); dailies collapse map-side before the one shuffle
    on user_id; forward fill sorts only within each key's days.
    """
    e = load_table(spark, sf_dir, "events")
    return TS.resample_daily_ffill(e)


@query(
    "events_rolling_7d",
    oracle="""
    WITH d AS (
      SELECT event_type,
             date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                       date_trunc('day', CAST(ts AS TIMESTAMP))) AS day_num,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(day_num AS BIGINT) AS day_num, n_events,
           CAST(SUM(n_events) OVER w AS BIGINT) AS sum_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days_7d,
           CAST(SUM(n_events) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS avg_7d
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling volume per event type over a RANGE frame keyed on
    the day NUMBER — gap-correct (a missing day shrinks the window; a
    rows-frame would silently look back 7 ROWS, not 7 days). The
    average divides two exact integers, so the double is
    deterministic.

    Scale: dailies collapse map-side first (the window input is
    |types|×|days| rows, not events); one shuffle on event_type, sort
    by day within type.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("timestamp")
        )
        .cast("long")
        .alias("day_num"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return d.select(
        "event_type",
        "day_num",
        "n_events",
        F.sum("n_events").over(w).alias("sum_7d"),
        F.count(F.lit(1)).over(w).alias("n_days_7d"),
        (
            F.sum("n_events").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_7d"),
    )


@query(
    "events_transition_matrix",
    oracle=E_CTE
    + """,
    s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM e
    ),
    m AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)
             AS n_from_prev,
           CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY prev_type)
             AS transition_prob
    FROM m
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: lag-1 pairs (prev_type → next_type) counted corpus-wide,
    with the row-conditional probability P(next|prev). The behavioral
    primitive behind next-action prediction and funnel discovery.

    Determinism: the probability divides two exact longs; ordering
    inside each user uses the (ts, event_id) unique tiebreak.

    Scale: one shuffle on user_id for the lag, map-side-combined count
    to |types|² rows, then a window over that tiny matrix — the
    normalizing pass never touches event-grain data.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    m = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wp = W.partitionBy("prev_type")
    return m.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.sum("n_transitions").over(wp).alias("n_from_prev"),
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wp)
        ).alias("transition_prob"),
    )


@query(
    "events_user_deciles",
    oracle=E_CTE
    + """,
    u AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM e WHERE value IS NOT NULL GROUP BY 1
    ),
    d AS (
      SELECT user_id, total,
             ntile(10) OVER (ORDER BY total, user_id) AS decile
      FROM u
    )
    SELECT decile, COUNT(*) AS n_users,
           CAST(MIN(total) AS DOUBLE) AS min_total,
           CAST(MAX(total) AS DOUBLE) AS max_total,
           CAST(SUM(total) AS DOUBLE) AS sum_total
    FROM d GROUP BY 1
    """,
)
def events_user_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile segmentation of users by lifetime value (the LTV-tiering
    primitive): exact NTILE(10) over per-user decimal totals, then
    per-decile population and value-range stats.

    Determinism: totals are decimal-exact, the ntile ordering carries
    the user_id tiebreak, and only the final stats cast to double.

    Scale: the ranked input is the AGGREGATED user table (one row per
    user). Exact global ntile needs a single-partition sort — fine to
    ~100M users; beyond that the documented swap-in is
    approx-percentile decile BOUNDARIES (one sketch pass) + a
    broadcast range assign, trading exact tie handling for a fully
    parallel plan. This exact entry gates that variant.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    u = e.groupBy("user_id").agg(
        F.sum(dec("value", 18, 2)).alias("total")
    )
    d = u.select(
        "total",
        F.ntile(10).over(W.orderBy("total", "user_id")).alias("decile"),
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("total").cast("double").alias("min_total"),
        F.max("total").cast("double").alias("max_total"),
        F.sum("total").cast("double").alias("sum_total"),
    )


_DECILE_BOUNDS_SQL = ",\n".join(
    f"             percentile_disc(0.{i}) WITHIN GROUP (ORDER BY total)"
    f" AS b{i}"
    for i in range(1, 10)
)
_DECILE_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN total <= b{i} THEN {i}" for i in range(1, 10))
    + " ELSE 10 END"
)


@query(
    "events_user_deciles_banded",
    oracle=E_CTE
    + f""",
    u AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM e WHERE value IS NOT NULL GROUP BY 1
    ),
    b AS (
      SELECT
{_DECILE_BOUNDS_SQL}
      FROM u
    ),
    d AS (
      SELECT total, {_DECILE_CASE_SQL} AS decile
      FROM u CROSS JOIN b
    )
    SELECT decile, COUNT(*) AS n_users,
           CAST(MIN(total) AS DOUBLE) AS min_total,
           CAST(MAX(total) AS DOUBLE) AS max_total,
           CAST(SUM(total) AS DOUBLE) AS sum_total
    FROM d GROUP BY 1
    """,
)
def events_user_deciles_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE variant of ``events_user_deciles`` — the documented
    swap-in for the exact entry's one single-partition NTILE sort
    (VERDICT r06 item 1): decile BOUNDARIES come from one
    ``percentile_disc`` aggregate pass (map-side-combinable, no global
    sort), are broadcast back as a 1-row table, and users are range-
    assigned by comparison — the ``docs_perplexity_buckets`` pattern
    at 9 cut points.

    Semantics vs the exact entry: identical whenever no two users tie
    exactly at a boundary total; on a boundary tie ALL tied users land
    in the LOWER decile (deciles are value ranges, not exact tenths) —
    the deliberate trade that removes the global sort. Gated against
    ``events_user_deciles`` in ``tests/test_banded_quantiles.py``.

    Determinism: boundaries are ``percentile_disc`` (actual DECIMAL
    data values, no interpolation — both engines pick the smallest
    value whose CDF reaches p, verified on tie grids); assignment is
    pure decimal comparison; only the final stats cast to double.

    Scale: per-user totals map-side combine; the boundary aggregate
    collapses to ONE row broadcast back to the user table — no stage
    sees more than |users|/partitions rows. One honest caveat
    (measured, SCALE.md r07): ``percentile_disc`` itself aggregates a
    value→count map, so its merge cost scales with DISTINCT totals —
    exact-and-cheap when the value domain is bounded, but on an
    ~all-distinct domain it loses to the ntile sort (34 s vs 5.5 s at
    5M distinct keys). Past ~1e7 distinct totals the REQUIRED swap is
    ``approx_percentile`` (mergeable Greenwald-Khanna sketch, bounded
    memory: 3.6 s at 60M keys vs the exact sort's 101.7 s) — the
    assignment side is unchanged; only boundary picking trades
    exactness for a bounded rank error. That swap ships as
    ``events_user_deciles_approx`` (round 8), rank-error gated.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    # cache the narrow (user_id, total) relation: both the bounds
    # aggregate and the assignment join consume it (the
    # docs_perplexity_buckets precedent — without the shared relation
    # the broadcast subtree re-runs the event-grain aggregation)
    u = shared(
        e.groupBy("user_id").agg(F.sum(dec("value", 18, 2)).alias("total"))
    )
    bounds = u.agg(
        *[
            F.expr(
                f"percentile_disc(0.{i}) WITHIN GROUP (ORDER BY total)"
            ).alias(f"b{i}")
            for i in range(1, 10)
        ]
    )
    decile = F.when(F.col("total") <= F.col("b1"), 1)
    for i in range(2, 10):
        decile = decile.when(F.col("total") <= F.col(f"b{i}"), i)
    decile = decile.otherwise(10)
    d = u.crossJoin(F.broadcast(bounds)).select(
        "total", decile.alias("decile")
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("total").cast("double").alias("min_total"),
        F.max("total").cast("double").alias("max_total"),
        F.sum("total").cast("double").alias("sum_total"),
    )


@query(
    "events_user_deciles_approx",
    oracle=E_CTE
    + """,
    u AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM e WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(total) AS DOUBLE) AS min_total,
           CAST(MAX(total) AS DOUBLE) AS max_total,
           TRUE AS bounds_monotone,
           TRUE AS cum_ranks_in_band
    FROM u
    """,
)
def events_user_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT-HEAVY-domain decile variant (VERDICT r07 item 4):
    boundaries from ONE ``approx_percentile`` pass (mergeable
    Greenwald-Khanna sketch, bounded memory) instead of
    ``percentile_disc`` — the swap the banded entry documents as
    REQUIRED past ~1e7 distinct totals, where the disc aggregate's
    value→count merge map loses to the sketch (measured 34 s vs 3.6 s
    at 5M/60M distinct keys, SCALE.md r07).

    Gated by the sketch's own guarantee, the
    ``events_approx_percentiles`` pattern: with accuracy A the rank
    error is <= 1/A around the target rank ceil(p·n), so for each
    boundary b_i the count of totals <= b_i must reach
    floor((i/10 - 1/A)·n), and the count EXCLUDING ties above the
    first occurrence must stay under ceil((i/10 + 1/A)·n).
    Boundary values themselves are engine-specific sketch output, so
    the oracle-checked statement is the structural TRUE pair plus the
    exact (n_users, min, max) — the band booleans fail the hash on
    either engine if the sketch ever violates its bound. Production
    drops the gate aggregates (one extra pass over the 1-row-per-user
    relation).

    Scale: per-user totals map-side combine; the sketch is
    map-side-combinable with ~A samples of state per combiner
    regardless of distinct count; assignment/gating is a broadcast
    1-row join + one combinable aggregate. No stage depends on the
    DISTINCT cardinality of totals — the axis that kills both the
    ntile sort (global sort) and percentile_disc (merge map).
    """
    acc = 10_000  # rank error <= 1e-4; exact below 10k users
    eps = 1.0 / acc
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    u = shared(
        e.groupBy("user_id")
        .agg(F.sum(dec("value", 18, 2)).alias("total"))
        .select(F.col("total").cast("double").alias("total"))
    )
    ps = ", ".join(f"0.{i}" for i in range(1, 10))
    b = u.agg(
        F.expr(f"approx_percentile(total, array({ps}), {acc})").alias("bs"),
        F.count(F.lit(1)).alias("n_users"),
        F.min("total").alias("min_total"),
        F.max("total").alias("max_total"),
    )
    j = u.crossJoin(F.broadcast(b))
    cum = j.groupBy("n_users", "min_total", "max_total", "bs").agg(
        *[
            F.sum(
                (F.col("total") <= F.col("bs")[i - 1]).cast("long")
            ).alias(f"cnt{i}")
            for i in range(1, 10)
        ],
        *[
            F.sum(
                (F.col("total") == F.col("bs")[i - 1]).cast("long")
            ).alias(f"tie{i}")
            for i in range(1, 10)
        ],
    )
    monotone = F.lit(True)
    for i in range(1, 9):
        monotone = monotone & (F.col("bs")[i - 1] <= F.col("bs")[i])
    # the sketch targets rank ceil(p*n) (Spark's convention), so the
    # integer band is [floor((p-eps)*n), ceil((p+eps)*n)] — floor/ceil
    # absorb the rank-convention unit alongside the 1/A error term
    in_band = F.lit(True)
    for i in range(1, 10):
        p = i / 10.0
        n = F.col("n_users").cast("double")
        in_band = (
            in_band
            & (F.col(f"cnt{i}") >= F.floor((p - eps) * n))
            & (
                (F.col(f"cnt{i}") - F.col(f"tie{i}") + 1)
                <= F.ceil((p + eps) * n)
            )
        )
    return cum.select(
        F.col("n_users").cast("long").alias("n_users"),
        "min_total",
        "max_total",
        monotone.alias("bounds_monotone"),
        in_band.alias("cum_ranks_in_band"),
    )


@query(
    "events_scd2_history",
    oracle=E_CTE
    + """,
    s AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM e
    ),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM s
      WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(ts) OVER w IS NULL AS is_current
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history built from the event stream (operator
    ``incremental.scd2_history``): each user's consecutive runs of the
    same event_type collapse to validity intervals [valid_from,
    valid_to) with version numbers and an is_current open interval —
    the history-preserving upgrade of the SCD1 merge the reference's
    full-refresh dims cannot express.

    Scale: one shuffle on user_id; both window passes (change
    detection, interval close) share that partitioning, and the
    change-row filter shrinks the second pass to run boundaries only.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return INC.scd2_history(
        e, ["user_id"], "event_type", ["ts", "event_id"], ts_col="ts"
    )


@query(
    "orders_rfm_scores",
    oracle="""
    WITH m AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(o_orderdate AS TIMESTAMP)) AS last_order,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT custkey, last_order, n_orders, monetary,
             ntile(5) OVER (ORDER BY last_order, custkey) AS r_score,
             ntile(5) OVER (ORDER BY n_orders, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, custkey) AS m_score
      FROM m
    )
    SELECT custkey, last_order, n_orders,
           CAST(monetary AS DOUBLE) AS monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm_cell
    FROM s
    """,
)
def orders_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (the classic recency / frequency /
    monetary quintile scoring): per customer, last order date, order
    count, decimal-exact lifetime spend, and exact NTILE(5) scores on
    each axis (5 = most recent / most frequent / highest spend), plus
    the combined RFM cell (e.g. 555 = best customers).

    Determinism: every ntile ordering carries the custkey tiebreak;
    monetary is decimal until the final double cast.

    Scale: the ranked input is the AGGREGATED per-customer table; the
    three global ntiles share one single-partition sort stage (the
    events_user_deciles caveat — the documented swap-in at 100M+
    customers is approx-percentile quintile boundaries + broadcast
    range assign).
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice", 18, 2)).alias("monetary"),
    )
    s = m.select(
        "custkey",
        "last_order",
        "n_orders",
        "monetary",
        F.ntile(5).over(W.orderBy("last_order", "custkey")).alias("r_score"),
        F.ntile(5).over(W.orderBy("n_orders", "custkey")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary", "custkey")).alias("m_score"),
    )
    return s.select(
        "custkey",
        "last_order",
        "n_orders",
        F.col("monetary").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm_cell"),
    )


def _quintile_bounds_sql(col: str, prefix: str) -> str:
    return ",\n".join(
        f"             percentile_disc(0.{2 * i}) WITHIN GROUP"
        f" (ORDER BY {col}) AS {prefix}{i}"
        for i in range(1, 5)
    )


def _quintile_case_sql(col: str, prefix: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {col} <= {prefix}{i} THEN {i}" for i in range(1, 5)
        )
        + " ELSE 5 END"
    )


def _quintile_score(col: str, prefix: str) -> F.Column:
    score = F.when(F.col(col) <= F.col(f"{prefix}1"), 1)
    for i in range(2, 5):
        score = score.when(F.col(col) <= F.col(f"{prefix}{i}"), i)
    return score.otherwise(5)


@query(
    "orders_rfm_banded",
    oracle=f"""
    WITH m AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(o_orderdate AS TIMESTAMP)) AS last_order,
             MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS r_days,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT
{_quintile_bounds_sql("r_days", "rb")},
{_quintile_bounds_sql("n_orders", "fb")},
{_quintile_bounds_sql("monetary", "mb")}
      FROM m
    ),
    s AS (
      SELECT custkey, last_order, n_orders, monetary,
             {_quintile_case_sql("r_days", "rb")} AS r_score,
             {_quintile_case_sql("n_orders", "fb")} AS f_score,
             {_quintile_case_sql("monetary", "mb")} AS m_score
      FROM m CROSS JOIN b
    )
    SELECT custkey, last_order, n_orders,
           CAST(monetary AS DOUBLE) AS monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm_cell
    FROM s
    """,
)
def orders_rfm_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE variant of ``orders_rfm_scores`` — the documented
    swap-in for its three global NTILE(5) sorts (VERDICT r06 item 1):
    quintile BOUNDARIES per axis from ONE ``percentile_disc``
    aggregate pass (12 cut points, map-side-combinable), broadcast
    back as a 1-row table, customers range-assigned by comparison.

    Semantics vs the exact entry: identical when no boundary ties; on
    a tie all tied customers land in the LOWER quintile. Exact-NTILE
    also splits ties across bands by the custkey tiebreak — the banded
    variant makes scores a pure function of the (recency, frequency,
    monetary) VALUES, which is arguably the better segmentation
    contract (equal behavior ⇒ equal score). Gated against
    ``orders_rfm_scores`` in ``tests/test_banded_quantiles.py``.

    Determinism: recency boundaries are computed on INTEGER days since
    epoch (identical in both engines — a timestamp percentile would
    hinge on session-timezone casts), frequency on exact longs,
    monetary on exact decimals; assignment is pure comparison.

    Scale: the per-customer aggregate map-side combines; the boundary
    pass collapses to one broadcast row — no global sort anywhere.
    The deciles entry's distinct-domain caveat applies per axis:
    recency-days and order counts are BOUNDED domains (disc quantiles
    stay cheap at any corpus size), while monetary is ~all-distinct —
    past ~1e7 customers its boundary picking swaps to
    ``approx_percentile`` (SCALE.md r07 microbench).
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.max(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        ).alias("r_days"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice", 18, 2)).alias("monetary"),
    )
    m = shared(m)
    bounds = m.agg(
        *[
            F.expr(
                f"percentile_disc(0.{2 * i}) WITHIN GROUP (ORDER BY {c})"
            ).alias(f"{p}{i}")
            for c, p in (("r_days", "rb"), ("n_orders", "fb"), ("monetary", "mb"))
            for i in range(1, 5)
        ]
    )
    s = m.crossJoin(F.broadcast(bounds)).select(
        "custkey",
        "last_order",
        "n_orders",
        "monetary",
        _quintile_score("r_days", "rb").alias("r_score"),
        _quintile_score("n_orders", "fb").alias("f_score"),
        _quintile_score("monetary", "mb").alias("m_score"),
    )
    return s.select(
        "custkey",
        "last_order",
        "n_orders",
        F.col("monetary").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm_cell"),
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT))
               AS cohort_year
      FROM orders GROUP BY 1
    ),
    sizes AS (
      SELECT cohort_year, COUNT(*) AS n_customers
      FROM firsts GROUP BY 1
    ),
    rev AS (
      SELECT f.cohort_year,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
               - f.cohort_year AS age,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_year, age, r,
             SUM(r) OVER (PARTITION BY cohort_year ORDER BY age
                          ROWS UNBOUNDED PRECEDING) AS cr
      FROM rev
    )
    SELECT c.cohort_year, c.age,
           CAST(c.r AS DOUBLE) AS revenue,
           CAST(c.cr AS DOUBLE) AS cum_revenue,
           s.n_customers
    FROM cum c JOIN sizes s USING (cohort_year)
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle (the acquisition-cohort revenue
    view): customers grouped by first-order year, revenue accumulated
    by cohort age — the orders-side sibling of
    ``events_cohort_retention``. Decimal-exact revenue, exact decimal
    running sum along the age axis, cohort sizes joined in.

    Scale: first-order year is one map-side-combinable MIN per
    customer; the (cohort, age) grid is tiny, so the running-sum
    window costs nothing; the only fact-sized work is one orders scan
    + one shuffle on o_custkey (shared by both aggregates).
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate").cast("long")).alias("cohort_year")
    )
    sizes = firsts.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate").cast("long") - F.col("cohort_year")).alias(
                "age"
            ),
        )
        .agg(F.sum(dec("o_totalprice", 18, 2)).alias("r"))
    )
    cum = rev.withColumn(
        "cr",
        F.sum("r").over(
            W.partitionBy("cohort_year")
            .orderBy("age")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return cum.join(F.broadcast(sizes), "cohort_year").select(
        "cohort_year",
        "age",
        F.col("r").cast("double").alias("revenue"),
        F.col("cr").cast("double").alias("cum_revenue"),
        "n_customers",
    )


@query(
    "events_session_paths",
    oracle=E_CTE
    + """,
    l AS (
      SELECT user_id, event_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM e
    ),
    m AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS is_start
      FROM l
    ),
    s AS (
      SELECT *, CAST(SUM(is_start) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM m
    ),
    paths AS (
      SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY 1, 2
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 25
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: the 25 most common within-session
    event-type sequences (the funnel-discovery primitive — what DO
    users actually do, rather than checking a hypothesized funnel).
    Sessions are the same 30-min-gap construction as
    ``events_sessionization``; the path string concatenates event
    types in (ts, event_id) order.

    Determinism: path order carries the unique event_id tiebreak in
    both engines (struct-sort on Spark, ORDER BY inside string_agg in
    the oracle); top-25 tie-breaks on the path string.

    Scale: one shuffle on user_id (shared by the lag and running-sum
    windows and the session rollup), one on the path string for the
    frequency count (paths are short strings, and the count is
    map-side combinable); top-25 is a TakeOrdered heap. Pathological
    mega-sessions would make mega-strings — the 30-min gap bounds
    session length organically; a hard per-session event cap is the
    documented knob if a bot stream ever breaks that assumption.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_start = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    s = e.withColumn(
        "session_seq",
        F.sum(is_start).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    paths = s.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda r: r["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(25)
    )


@query(
    "events_attribution",
    oracle=E_CTE
    + """,
    t AS (
      SELECT user_id, event_id, ts, value, event_type,
             epoch_us(ts) AS us,
             max(CASE WHEN event_type IN ('click','view','signup')
                      THEN epoch_us(ts) * 10
                           + (CASE event_type WHEN 'click' THEN 1
                                              WHEN 'view' THEN 2
                                              ELSE 3 END)
                 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_touch_packed
      FROM e
    ),
    p AS (
      SELECT
        CASE
          WHEN last_touch_packed IS NULL
               OR us - last_touch_packed // 10 > 604800000000
            THEN 'organic'
          ELSE CASE last_touch_packed % 10 WHEN 1 THEN 'click'
                                           WHEN 2 THEN 'view'
                                           ELSE 'signup' END
        END AS channel,
        CASE
          WHEN last_touch_packed IS NOT NULL
               AND us - last_touch_packed // 10 <= 604800000000
            THEN us - last_touch_packed // 10
        END AS lag_us,
        value
      FROM t WHERE event_type = 'purchase'
    )
    SELECT channel,
           COUNT(*) AS n_purchases,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS attributed_revenue,
           CAST(CAST(SUM(lag_us) AS BIGINT) AS DOUBLE)
             / (COUNT(lag_us) * 60000000.0) AS avg_minutes_to_convert
    FROM p GROUP BY channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent click/view/signup by the same user within a 7-day lookback,
    else 'organic'. The marketing-analytics workhorse the reference's
    star schema exists to feed (fact grain + visitor dim,
    ``/root/reference/process_wistia_data_v2.py:69-84``), generalized
    to an attribution rollup.

    The as-of lookup packs (epoch_us, channel_code) into ONE BIGINT
    (`us*10 + code`) so a single running MAX carries both the touch
    time and its channel — no argmax struct (whose ordering semantics
    differ across engines), no self-join. Revenue sums in decimal;
    the time-to-convert average divides two exact integers once.

    Scale: one shuffle on user_id shared with the whole window
    family; the final rollup is 4 groups. Same plan shape as
    events_asof_last_view, which is the pattern's unit-size proof.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value", "event_type")
    )
    p = TS.last_touch_attribution(
        e,
        touch_types=("click", "view", "signup"),
        purchase_type="purchase",
        lookback_days=7,
    ).select("channel", "lag_us", "value")
    return p.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(dec("value"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("attributed_revenue"),
        (
            F.sum("lag_us").cast("double")
            / (F.count("lag_us") * F.lit(60000000.0))
        ).alias("avg_minutes_to_convert"),
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE ts IS NOT NULL
    ),
    d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             COUNT(*) AS n_events
      FROM e GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, n_events,
             CAST(SUM(n_events) OVER t AS BIGINT) AS s7,
             SUM(CAST(n_events AS DECIMAL(19,0))
                 * CAST(n_events AS DECIMAL(19,0))) OVER t AS ss7,
             COUNT(*) OVER t AS n7
      FROM d
      WINDOW t AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ),
    g AS (
      SELECT event_type, day, n_events, s7, n7,
             CAST(ss7 AS DOUBLE) AS ss7d, CAST(s7 AS DOUBLE) AS s7d,
             (n7 = 7) AS full7,
             (7 * ss7 - CAST(s7 AS DECIMAL(19,0)) * CAST(s7 AS DECIMAL(19,0)) > 0)
               AS posvar
      FROM w
    )
    SELECT event_type, day, n_events,
           CASE WHEN full7 THEN s7d / 7.0 END AS mean7,
           CASE WHEN full7 AND posvar
                     AND (7.0 * ss7d - s7d * s7d) > 0 THEN
             (7.0 * n_events - s7d)
               / sqrt((7.0 * ss7d - s7d * s7d) * 7.0 / 6.0)
           END AS zscore,
           COALESCE(CASE WHEN full7 AND posvar
                              AND (7.0 * ss7d - s7d * s7d) > 0 THEN
             abs((7.0 * n_events - s7d)
               / sqrt((7.0 * ss7d - s7d * s7d) * 7.0 / 6.0)) > 2.0
           END, FALSE) AS is_anomaly
    FROM g
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: per event type, the z-score of
    each day's event count against the trailing 7 observed days
    (excluding the current day). Days with an incomplete trailing
    frame or zero variance report NULL — no fake zeros.

    Determinism across engines: the trailing mean/std are derived
    from EXACT integer window sums (Σx as BIGINT; Σx² squared and
    summed in DECIMAL(19,0)² — a count over ~3e9/day would overflow
    int64 under the square, which Spark wraps silently and DuckDB
    raises on, so neither engine is allowed near it), then one shared
    closed-form double expression:
    z = (n·x − s) / sqrt((n·ss − s²)·n/(n−1)). The sample-stddev
    z-score, algebraically: (x − s/n) / sqrt((ss − s²/n)/(n−1)).
    Positivity is guarded TWICE, identically in both engines: exact
    (decimal n·Σx² − s², immune to cancellation) and double (the
    sqrt argument itself — which can round a tiny-positive variance
    negative and would otherwise emit NaN, and Spark evaluates
    NaN > threshold as TRUE).

    Scale: the daily pre-aggregation is the only big shuffle
    (map-side combinable count); the window then runs over
    |event_types| × |days| rows — thousands of rows per year even at
    100 TB of raw events, so the window sort is negligible. This is
    the monitoring query a production ingest (SURVEY §2.10) runs
    after every incremental load.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    t = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    x = F.col("n_events")
    xd = x.cast("decimal(19,0)")
    w = (
        d.withColumn("s7", F.sum("n_events").over(t))
        .withColumn("ss7", F.sum(xd * xd).over(t))
        .withColumn("n7", F.count(F.lit(1)).over(t))
    )
    s7d = F.col("s7").cast("double")
    ss7d = F.col("ss7").cast("double")
    full = F.col("n7") == 7
    s7dec = F.col("s7").cast("decimal(19,0)")
    posvar = (7 * F.col("ss7") - s7dec * s7dec) > 0
    dpos = (7.0 * ss7d - s7d * s7d) > 0
    z = (7.0 * x - s7d) / F.sqrt((7.0 * ss7d - s7d * s7d) * 7.0 / 6.0)
    return w.select(
        "event_type",
        "day",
        "n_events",
        F.when(full, s7d / 7.0).alias("mean7"),
        F.when(full & posvar & dpos, z).alias("zscore"),
        F.coalesce(
            F.when(full & posvar & dpos, F.abs(z) > 2.0), F.lit(False)
        ).alias("is_anomaly"),
    )


@query(
    "events_linear_attribution",
    oracle=E_CTE
    + """,
    t AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM e),
    c AS (
      SELECT event_type,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER w AS k0,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END)
               OVER w AS k1,
             COUNT(CASE WHEN event_type = 'signup' THEN 1 END)
               OVER w AS k2
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
    ),
    p AS (
      SELECT k0, k1, k2, k0 + k1 + k2 AS kt
      FROM c WHERE event_type = 'purchase'
    ),
    x AS (
      SELECT u.ch AS channel, u.n AS n_touches, kt
      FROM p, unnest([{'ch': 'click', 'n': k0}, {'ch': 'view', 'n': k1},
                      {'ch': 'signup', 'n': k2},
                      {'ch': 'organic', 'n': 0::BIGINT}]) AS t2(u)
      WHERE u.n > 0 OR (u.ch = 'organic' AND kt = 0)
    )
    SELECT channel,
           COUNT(*) AS n_purchases,
           CAST(SUM(n_touches) AS BIGINT) AS total_touches,
           CAST(SUM(CASE WHEN channel = 'organic'
                         THEN CAST(1 AS DECIMAL(18,6))
                         ELSE CAST(ROUND(CAST(n_touches AS DOUBLE) / kt, 6)
                                   AS DECIMAL(18,6)) END)
                AS DOUBLE) AS credit_sum
    FROM x GROUP BY channel
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution rollup (the fractional-credit
    companion of ``events_attribution``'s last-touch): every
    click/view/signup in the 7-day window strictly before a purchase
    shares the credit equally; purchases with no window touch are
    'organic' with full credit. Per channel: purchase rows credited,
    total window touches, and the summed fractional credit.

    Determinism: per-channel window counts are exact integers from a
    RANGE frame both engines define identically; each credit is ONE
    integer/integer double division, quantized to 6 decimals and
    summed in DECIMAL (the catalog's double-sum rule). Rounding is
    half-away-from-zero in both engines on positive credits.

    Scale: one shuffle on user_id shared with the whole window
    family (the range frame sorts within key); the explode is
    row-local and the rollup is 4 groups.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value", "event_type")
    )
    p = TS.linear_attribution(
        e,
        touch_types=("click", "view", "signup"),
        purchase_type="purchase",
        lookback_days=7,
    ).select("channel", "n_touches", "credit")
    credit_q = F.when(
        F.col("channel") == "organic", F.lit(1).cast("decimal(18,6)")
    ).otherwise(F.round(F.col("credit"), 6).cast("decimal(18,6)"))
    return p.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("n_touches").alias("total_touches"),
        F.sum(credit_q).cast("double").alias("credit_sum"),
    )


def _time_decay_oracle() -> str:
    """Built by interpolating the operator's OWN gate constants
    (``decay_overflow_limit(6)`` / ``10**DECAY_SUM_HEADROOM``) so the
    SQL gate can never desync from the Spark gate — repr() of the
    double reproduces it bit-for-bit in DuckDB."""
    limit = repr(TS.decay_overflow_limit(6))
    n_max = str(10 ** TS.DECAY_SUM_HEADROOM)
    return (
        E_CTE
        + _TIME_DECAY_SQL.replace("__LIMIT__", limit).replace(
            "__NMAX__", n_max
        )
    )


_TIME_DECAY_SQL = """,
    t AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM e),
    b AS (SELECT *, MIN(us) OVER (PARTITION BY user_id) AS bs FROM t),
    wq AS (
      -- the operator's quantized overflow gate replayed from its
      -- own constants (decay_overflow_limit(6), interpolated by
      -- _time_decay_oracle): past-bound weights NULL, not cast
      SELECT *,
             CASE WHEN CAST(us - bs AS DOUBLE) / 8.64e10
                       > __LIMIT__ THEN NULL
                  ELSE CAST(ROUND(POW(2e0, CAST(us - bs AS DOUBLE)
                                           / 8.64e10), 6)
                            AS DECIMAL(38,6)) END AS w
      FROM b
    ),
    c AS (
      SELECT event_type, us, bs,
             SUM(CASE WHEN event_type = 'click' THEN w END) OVER win AS s0,
             SUM(CASE WHEN event_type = 'view' THEN w END) OVER win AS s1,
             SUM(CASE WHEN event_type = 'signup' THEN w END) OVER win AS s2,
             COUNT(CASE WHEN event_type IN ('click', 'view', 'signup')
                        THEN w END) OVER win AS n_win
      FROM wq
      WINDOW win AS (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
    ),
    p AS (
      SELECT us, bs,
             COALESCE(s0, 0::DECIMAL(38,6)) AS s0,
             COALESCE(s1, 0::DECIMAL(38,6)) AS s1,
             COALESCE(s2, 0::DECIMAL(38,6)) AS s2,
             COALESCE(s0, 0::DECIMAL(38,6)) + COALESCE(s1, 0::DECIMAL(38,6))
               + COALESCE(s2, 0::DECIMAL(38,6)) AS st,
             (CAST(us - bs AS DOUBLE) / 8.64e10 > __LIMIT__
              OR n_win > __NMAX__) AS bad
      FROM c WHERE event_type = 'purchase'
    ),
    x AS (
      SELECT u.ch AS channel, u.s AS s, st, us, bs, bad
      FROM p, unnest([{'ch': 'click', 's': s0}, {'ch': 'view', 's': s1},
                      {'ch': 'signup', 's': s2},
                      {'ch': 'organic', 's': CAST(-1 AS DECIMAL(38,6))}])
             AS t2(u)
      WHERE u.s > 0 OR (u.ch = 'organic' AND st = 0)
    )
    SELECT channel,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN bad THEN NULL
                         WHEN channel = 'organic'
                         THEN CAST(1 AS DECIMAL(18,6))
                         ELSE CAST(ROUND(CAST(s AS DOUBLE)
                                         / CAST(st AS DOUBLE), 6)
                                   AS DECIMAL(18,6)) END)
                AS DOUBLE) AS credit_sum,
           CAST(SUM(CASE WHEN bad THEN NULL
                         WHEN channel = 'organic'
                         THEN CAST(0 AS DECIMAL(18,6))
                         ELSE CAST(ROUND(CAST(s AS DOUBLE)
                                         * POW(2e0, -CAST(us - bs AS DOUBLE)
                                                     / 8.64e10), 6)
                                   AS DECIMAL(18,6)) END)
                AS DOUBLE) AS weight_sum
    FROM x GROUP BY channel
    """


@query("events_time_decay_attribution", oracle=_time_decay_oracle())
def events_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution rollup (24 h half-life,
    7-day lookback): each window touch carries 2^(−age/halflife),
    credits are channel-weight shares. Runs the operator's QUANTIZED
    path (``time_decay_attribution(quantize=6)``): the factorized
    weights 2^((t−B)/h) are rounded to 6 decimals and window-summed
    in DECIMAL(38,6), so the per-purchase channel sums — and hence
    every credit division — are bit-identical in both engines; the
    per-purchase credit and absolute weight are then re-quantized for
    the final decimal rollup. The only cross-engine gamble is POW's
    last ulp surviving a 6-decimal round (the ``docs_unigram_nll``
    LN precedent).

    Scale: identical shuffle profile to events_linear_attribution
    (one user_id exchange feeding both the base-time MIN and the
    range-frame sums).
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "value", "event_type")
    )
    p = TS.time_decay_attribution(
        e,
        touch_types=("click", "view", "signup"),
        purchase_type="purchase",
        lookback_days=7,
        halflife_hours=24.0,
        quantize=6,
    ).select("channel", "weight", "credit")
    q6 = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    return p.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(q6(F.col("credit"))).cast("double").alias("credit_sum"),
        F.sum(q6(F.col("weight"))).cast("double").alias("weight_sum"),
    )


@query(
    "events_volume_anomaly_batch",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE ts IS NOT NULL
    ),
    d AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM e GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n_days,
             CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS ss
      FROM d GROUP BY 1
    ),
    bl AS (
      SELECT event_type, n_days,
             CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
             CASE WHEN n_days * CAST(ss AS DECIMAL(19,0))
                       - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
                       > 0
                   AND (CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n_days AS DOUBLE)) / (n_days - 1) > 0
                  THEN sqrt((CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                               / CAST(n_days AS DOUBLE)) / (n_days - 1))
             END AS std_daily
      FROM agg WHERE n_days >= 2
    ),
    c AS (
      SELECT date_trunc('day', ts) AS window_start, event_type,
             COUNT(*) AS n_events
      FROM e GROUP BY 1, 2
    ),
    j AS (SELECT c.*, bl.mean_daily, bl.std_daily
          FROM c LEFT JOIN bl USING (event_type))
    SELECT window_start,
           window_start + INTERVAL 1 DAY AS window_end,
           event_type, n_events, mean_daily,
           CASE WHEN std_daily * 1e0 > 0
                THEN (n_events - mean_daily * 1e0) / (std_daily * 1e0)
           END AS zscore,
           mean_daily IS NULL AS baseline_missing,
           mean_daily IS NOT NULL
             AND NOT COALESCE(std_daily > 0, FALSE) AS baseline_degenerate,
           COALESCE(ABS(CASE WHEN std_daily * 1e0 > 0
                             THEN (n_events - mean_daily * 1e0)
                                  / (std_daily * 1e0) END) > 3e0,
                    mean_daily IS NULL) AS is_anomaly
    FROM j
    """,
)
def events_volume_anomaly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING volume-anomaly monitor
    (``streaming.volume_anomaly_batch``), run with the monitor's
    exact parameterization (1-day tumbling windows, z ≥ 3, per-day
    baseline from ``volume_baseline``) — the oracle hash-checks the
    semantics the append-mode stream shares structurally (both
    select the SAME ``_score_against_baseline`` expression; the
    streaming tests pin window-for-window equality). Every double is
    deterministic: the baseline's Σx/Σx² are exact integers, the
    variance/σ are fixed-order expressions both engines evaluate
    identically (sqrt is correctly-rounded IEEE), and each z-score is
    arithmetic on those.

    Scale: the daily pre-aggregation is the only fact-sized shuffle;
    the baseline join broadcasts |event_types| rows.
    """
    from ..streaming.pipeline import volume_anomaly_batch, volume_baseline

    e = load_table(spark, sf_dir, "events").select("event_type", "ts")
    baseline = volume_baseline(e)
    return volume_anomaly_batch(e, baseline, window="1 day", z_threshold=3.0)


# Full SQL replay of the reference's lag-1 watch-time state machine
# (fact._fold_group / streaming.pipeline's fold — the shared stateful
# semantics): per (media, visitor, date) ordered by (received_at,
# event_key), a recursive CTE carries (anchor_ts, last_pct, running
# credit) row to row, crediting min(elapsed, Δpct·duration) on forward
# progress outside pause/end. The anchor-update condition collapses to
# ``ts > anchor OR pct > last_pct + 0.01`` (events are scanned in
# ascending ts, so ts < anchor is impossible — the three Python
# branches partition exactly that disjunction). All float ops are
# written in the fold's exact sequence (one elapsed division, one
# Δpct·duration product, sequential += in recursion order), and
# _round2's shortest-repr HALF_UP is CAST(CAST(x AS VARCHAR) AS
# DECIMAL) — verified identical to Decimal(repr(x)).quantize(HALF_UP).
STATEFUL_WATCH_SQL = """
    WITH RECURSIVE ev AS (
      SELECT 'm' || CAST(user_id % 7 AS VARCHAR) AS media_id,
             'v' || CAST(user_id AS VARCHAR) AS visitor_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
             CAST(ts AS TIMESTAMP) AS received_at,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             'e' || CAST(event_id AS VARCHAR) AS event_key,
             (value % 100) / 100.0 AS pct,
             CASE event_type WHEN 'click' THEN 'play'
                             WHEN 'view' THEN 'percent'
                             WHEN 'purchase' THEN 'pause'
                             WHEN 'signup' THEN 'seek'
                             ELSE 'end' END AS name,
             120.0 + 60.0 * CAST(user_id % 7 AS DOUBLE) AS duration
      FROM events
      WHERE user_id IS NOT NULL AND user_id >= 0
        AND ts IS NOT NULL AND event_id IS NOT NULL
        AND (value IS NULL OR NOT isnan(value))
      QUALIFY row_number() OVER (
        PARTITION BY media_id, visitor_id, received_at, event_key
        ORDER BY pct ASC NULLS LAST, name ASC NULLS LAST) = 1
    ),
    seq AS (
      SELECT media_id, visitor_id, date, duration, ts_us, pct, name,
             row_number() OVER (
               PARTITION BY media_id, visitor_id, date
               ORDER BY received_at, event_key) AS rn
      FROM ev WHERE pct IS NOT NULL
    ),
    grp AS (
      SELECT media_id, visitor_id, date, MAX(rn) AS n
      FROM seq GROUP BY 1, 2, 3
    ),
    fold AS (
      SELECT media_id, visitor_id, date, 0 AS rn,
             CAST(NULL AS BIGINT) AS last_us,
             CAST(0.0 AS DOUBLE) AS last_pct, CAST(0.0 AS DOUBLE) AS total
      FROM grp
      UNION ALL
      SELECT s.media_id, s.visitor_id, s.date, s.rn,
             CASE WHEN f.last_us IS NULL
                  THEN CASE WHEN s.pct > 0 OR s.name = 'play'
                            THEN s.ts_us END
                  WHEN s.ts_us > f.last_us OR s.pct > f.last_pct + 0.01
                  THEN s.ts_us ELSE f.last_us END,
             CASE WHEN f.last_us IS NULL
                  THEN CASE WHEN s.pct > 0 OR s.name = 'play'
                            THEN s.pct ELSE f.last_pct END
                  WHEN s.ts_us > f.last_us OR s.pct > f.last_pct + 0.01
                  THEN s.pct ELSE f.last_pct END,
             f.total + CASE
               WHEN f.last_us IS NOT NULL AND s.ts_us > f.last_us
                    AND s.pct > f.last_pct
                    AND COALESCE(s.name, '') NOT IN ('pause', 'end')
               THEN least(
                 CAST((s.ts_us - f.last_us) * 1000 AS DOUBLE)
                   / 1000000000.0,
                 (s.pct - f.last_pct) * s.duration)
               ELSE 0.0 END
      FROM fold f
      JOIN seq s ON s.media_id = f.media_id
                AND s.visitor_id = f.visitor_id
                AND s.date = f.date AND s.rn = f.rn + 1
    ),
    last AS (
      SELECT f.media_id, f.visitor_id, f.date, f.total
      FROM fold f JOIN grp g
        ON f.media_id = g.media_id AND f.visitor_id = g.visitor_id
       AND f.date = g.date AND f.rn = g.n
    ),
    stats AS (
      SELECT media_id, visitor_id, date,
             MAX(duration) AS duration,
             SUM(CASE WHEN name = 'play' THEN 1 ELSE 0 END) AS n_play,
             MAX(CASE WHEN pct > 0 THEN 1 ELSE 0 END) AS any_prog,
             MAX(pct) AS max_pct,
             MIN(received_at) AS event_timestamp,
             MAX(received_at) AS last_event_timestamp
      FROM ev GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT st.*,
             least(COALESCE(l.total, 0.0), st.duration) AS capped,
             CASE WHEN st.n_play > 0 THEN st.n_play
                  WHEN st.any_prog = 1 THEN 1 ELSE 0 END AS play_count
      FROM stats st LEFT JOIN last l
        ON l.media_id = st.media_id AND l.visitor_id = st.visitor_id
       AND l.date = st.date
    )
    SELECT media_id, visitor_id,
           CAST(date AS TIMESTAMP) AS date,
           CAST(play_count AS BIGINT) AS play_count,
           CASE WHEN play_count = 0 THEN 0.0
                WHEN CAST(CAST(CAST(capped AS VARCHAR) AS DECIMAL(30,2))
                          AS DOUBLE) > duration
                -- rounded up past the duration: the duration rounded
                -- DOWN to cents (fact._watch_time_cents)
                THEN CAST(floor(CAST(CAST(duration AS VARCHAR)
                                     AS DECIMAL(38,18)) * 100) / 100
                          AS DOUBLE)
                ELSE CAST(CAST(CAST(capped AS VARCHAR) AS DECIMAL(30,2))
                          AS DOUBLE) END AS total_watch_time,
           max_pct AS max_percent_viewed,
           CASE WHEN play_count = 0 OR capped <= 0 THEN 0.0
                ELSE CAST(CAST(CAST(capped / duration AS VARCHAR)
                               AS DECIMAL(30,2)) AS DOUBLE)
           END AS play_rate,
           event_timestamp, last_event_timestamp,
           CAST(NULL AS VARCHAR) AS ip, CAST(NULL AS VARCHAR) AS country,
           TIMESTAMP '2024-02-01 00:00:00' AS ingestion_timestamp
    FROM merged
"""


@query("events_stateful_watch_time", oracle=STATEFUL_WATCH_SQL)
def events_stateful_watch_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hardest operator — the sequential lag-1
    watch-time fold (``process_wistia_data_v2.py:402-465``) — run
    through the REAL grouped-map ``applyInPandas`` state machine
    (``fact.fact_media_engagement_fold``, the exact fold the streaming
    pipeline's ``applyInPandasWithState`` twin carries across
    micro-batches — their shared semantics are pinned by pytest
    equivalence tests; this entry puts the driver's hash on them:
    VERDICT r04 item 8). Wistia-shaped events derive deterministically
    from ``events`` (media = user_id mod 7, pct = value mod 100 / 100,
    event-type → play/pause/end names), so every state transition —
    anchor seeding on first progress, forward-credit
    min(elapsed, Δpct·duration), the 0.01 jitter tolerance, rewind
    re-anchoring, pause/end credit suppression, the duration cap, and
    HALF_UP 2-decimal rounding that never lands above the duration —
    is replayed by the oracle's recursive
    CTE in the identical IEEE operation sequence.

    Scale: one shuffle on the (media, visitor, date) group key into
    Arrow batches; the duration dim is broadcast. State per group is
    O(1); group fan-in is bounded by a visitor-day's event volume —
    the same shape the 100 TB streaming path holds in its state store.

    PLAN OF RECORD at 100 TB (r09, measured across sf0.1/sf1/sf10 —
    SCALE.md "Watch-time plan of record"): the WINDOW-LAG
    formulation ``fact.fact_media_engagement`` — flat 14–16 s through
    100× data (pure codegen, no Python boundary) vs 258 s
    (partition-scan fold, linear in rows) and 1724 s (this grouped-map
    fold) at sf10. The Python folds stay as the driver-SF choice
    (fastest below ~10⁶ events) and the semantics cross-checks; all
    three are pytest-pinned equivalent.
    """
    import datetime as dt

    et = F.col("event_type")
    # Declared input domain, replayed verbatim in the oracle (review
    # r05 — each clause guards a real Spark-vs-DuckDB divergence on
    # regenerated data):
    # - user_id >= 0: a negative id would miss the m0..m6 duration dim
    #   on the Spark side while the oracle's closed-form duration
    #   formula would still produce one (negative, even);
    # - NaN value (NULL passes — a play event with NULL value still
    #   counts): the pandas fold SKIPS NaN pct rows, but DuckDB's NaN
    #   comparison semantics (NaN > x TRUE) would seed and credit the
    #   recursive fold.
    wistia = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & (F.col("user_id") >= 0)
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
            & (F.col("value").isNull() | ~F.isnan(F.col("value")))
        )
        .select(
            F.concat(F.lit("m"), (F.col("user_id") % 7).cast("string")).alias(
                "media_id"
            ),
            F.concat(F.lit("v"), F.col("user_id").cast("string")).alias(
                "visitor_key"
            ),
            F.col("ts").alias("received_at"),
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias(
                "event_key"
            ),
            ((F.col("value") % 100) / F.lit(100.0)).alias("percent_viewed"),
            F.when(et == "click", "play")
            .when(et == "view", "percent")
            .when(et == "purchase", "pause")
            .when(et == "signup", "seek")
            .otherwise("end")
            .alias("name"),
            F.lit(None).cast("string").alias("ip"),
            F.lit(None).cast("string").alias("country"),
        )
    )
    # duplicate (received_at, event_key) rows (a regenerated corpus
    # may repeat event_ids) resolve deterministically BEFORE the fold:
    # keep the (pct, name)-least row, nulls-last pinned on BOTH
    # engines — the identical QUALIFY runs in the oracle, so tied-row
    # fold order can never differ between engines (review r05).
    # ``dedup_event_rows`` rides the fold's own exchange (duplicate
    # keys share the group key), so the no-op-on-unique-ids guard
    # costs zero extra shuffles (review r05, second pass — the first
    # cut paid a full extra window exchange). Unique event_ids —
    # today's corpus — make it a no-op.
    dim = spark.range(7).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("media_id"),
        (F.lit(120.0) + F.lit(60.0) * F.col("id")).alias("duration"),
    )
    from ..operators.fact import fact_media_engagement_fold_scan

    out = fact_media_engagement_fold_scan(
        wistia,
        dim,
        dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc),
        dedup_event_rows=True,
    )
    # DATE comparing as object vs datetime64 across engines: emit the
    # grain key at midnight-UTC timestamp (the catalog-wide convention)
    return out.withColumn("date", F.col("date").cast("timestamp"))


@query(
    "events_play_conversion_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL AND event_id >= 0
    ),
    p AS (
      SELECT CAST(user_id AS VARCHAR) AS visitor,
             'm' || CAST(event_id % 3 AS VARCHAR) AS media_id,
             CAST(event_id AS VARCHAR) AS play_key, ts AS play_ts
      FROM e WHERE event_type = 'view'
    ),
    c AS (
      SELECT CAST(user_id AS VARCHAR) AS visitor,
             'm' || CAST(event_id % 3 AS VARCHAR) AS media_id,
             CAST(event_id AS VARCHAR) AS conv_key, ts AS conv_ts
      FROM e WHERE event_type = 'purchase'
    )
    SELECT p.visitor, p.media_id, play_key, conv_key, play_ts, conv_ts
    FROM p JOIN c
      ON p.visitor = c.visitor AND p.media_id = c.media_id
     AND c.conv_ts >= p.play_ts
     AND c.conv_ts <= p.play_ts + INTERVAL 4 HOUR
    """,
)
def events_play_conversion_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch replay of the STREAM-STREAM attribution join — puts the
    driver's hash on ``streaming/pipeline.py:
    streaming_play_conversion_join``'s semantics (VERDICT r06 item 5):
    this entry calls THE SAME function on batch inputs (watermarks are
    a no-op on bounded data; for complete data the stream-stream inner
    join IS the relational join — the eviction machinery only bounds
    state). Views attribute later same-user same-media purchases
    within a 4-hour window: view ⋈ purchase, the
    ``streaming_volume_anomaly``/``events_volume_anomaly_batch``
    twin pattern. Stream/batch row-set equality is separately pinned
    by ``test_stream_stream_attribution_join_matches_batch``.

    Input mapping: visitor = user_id, media = event_id mod 3 (a view
    attributes a purchase of the SAME media), keys are event_id
    strings — all replayed verbatim in the oracle.

    Scale: compound equi-key (visitor, media) co-partitions both
    sides; the time-range predicate evaluates inside the sorted join —
    no cartesian, no broadcast of a fact-sized side. In the streaming
    deployment the watermark bounds state to the attribution horizon.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & (F.col("event_id") >= 0)
    )

    def shaped(typ: str) -> DataFrame:
        return e.filter(F.col("event_type") == typ).select(
            F.col("user_id").cast("string").alias("visitor_key"),
            F.concat(
                F.lit("m"), (F.col("event_id") % 3).cast("string")
            ).alias("media_id"),
            F.col("event_id").cast("string").alias("event_key"),
            F.col("ts").alias("received_at"),
        )

    from ..streaming.pipeline import streaming_play_conversion_join

    out = streaming_play_conversion_join(
        shaped("view"), shaped("purchase"), within="4 hours"
    )
    return out.select(
        F.col("p_visitor").alias("visitor"),
        F.col("p_media").alias("media_id"),
        "play_key",
        "conv_key",
        "play_ts",
        "conv_ts",
    )


@query(
    "events_time_weighted_avg",
    oracle=E_CTE
    + """,
    seg AS (
      SELECT user_id,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS v_locf,
             epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )) - epoch_us(ts) AS dt_us
      FROM e WHERE value IS NULL
                OR (NOT isnan(value) AND abs(value) < 1000000000.0)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN v_locf IS NOT NULL THEN dt_us END)
                AS BIGINT) AS span_us,
           CASE WHEN SUM(CASE WHEN v_locf IS NOT NULL THEN dt_us END) > 0
                THEN CAST(SUM(CAST(CAST(v_locf AS DECIMAL(12,2)) * 100
                                   AS DECIMAL(18,0)) * dt_us) AS DOUBLE)
                     / CAST(SUM(CASE WHEN v_locf IS NOT NULL
                                     THEN dt_us END) AS DOUBLE) / 100.0
           END AS twa
    FROM seg GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted average of ``value`` per user (TimescaleDB's
    ``time_weight``): each observation holds until the next one, so the
    mean weights values by how LONG they were in effect — the correct
    aggregate for sampled gauges (bitrate, position, price), where
    plain AVG over-weights bursts of rapid events. Distinct from
    ``events_daily_gapfill`` (fixed-grid regularization) — no grid is
    materialized; the integral is computed on the raw segments.

    Determinism: exact integer microsecond segments over the
    ``(ts, event_id)`` total order; cents×duration terms sum in an
    integer-valued decimal (whose double cast is correctly rounded in
    both engines — see the operator docstring); the trailing division
    pair is bit-identical IEEE. Single-observation users emit NULL
    span/twa in both engines (SUM over an empty segment set).

    NULL values are true LOCF in BOTH engines (``last_value IGNORE
    NULLS`` over the same window): the previous non-NULL value holds
    across a NULL observation's segment, and leading-NULL segments
    (no defined value yet) are excluded from both the weighted sum
    and the span denominator.

    Scale: one shuffle on user_id + sort within key — the watch-time
    fold family's shape; the aggregate is map-side combinable. See
    operators/timeseries.py:time_weighted_avg.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        # NaN / ±Inf / |value| >= 1e9 are outside the declared domain
        # in BOTH engines (a NaN- or overflow->decimal cast is NULL in
        # Spark but an ERROR in DuckDB — the stateful-fold precedent;
        # the 1e9 bound keeps every in-domain value safely inside
        # DECIMAL(12,2) so the quantize can never silently NULL a
        # kept row's weight while its dt still inflates the span).
        # NULL values stay: the row still anchors its time segment
        & (
            F.col("value").isNull()
            | (
                ~F.isnan(F.col("value"))
                & (F.abs(F.col("value")) < F.lit(1e9))
            )
        )
    )
    return TS.time_weighted_avg(
        e, key_col="user_id", ts_col="ts", value_col="value"
    ).select("user_id", "n_events", "span_us", "twa")


@query(
    "orders_open_backlog",
    oracle="""
    WITH closes AS (
      SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_d
      FROM lineitem GROUP BY l_orderkey
    ),
    deltas AS (
      SELECT CAST(o.o_orderdate AS DATE) AS day, 1 AS opened, 0 AS expired
      FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
      UNION ALL
      SELECT close_d + 1 AS day, 0 AS opened, 1 AS expired FROM closes
    ),
    daily AS (
      SELECT day, SUM(opened) AS n_opened, SUM(expired) AS n_expired
      FROM deltas GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_expired AS BIGINT) AS n_expired,
           CAST(SUM(n_opened - n_expired) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS open_backlog
    FROM daily
    """,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-in-flight per day: an order is open from its order date
    through its last lineitem ship date; output every day the count
    changes with the running backlog (operations dashboards' WIP
    metric). The sweep-line formulation — ±1 deltas + running sum —
    NOT a calendar range join.

    Scale: the naive plan joins orders against a day dimension on an
    inequality (O(orders × days) expansion, a BroadcastNestedLoopJoin);
    the delta form is one co-partitioned orderkey join (closes ⋈
    orders, both pre-aggregated map-side), one map-combinable day agg,
    and a running-sum window whose input is DISTINCT DAYS (~2.4k for
    TPC-H's span at any SF) — the unpartitioned window is bounded by
    the day domain, not the fact table. See
    operators/timeseries.py:open_interval_backlog.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    closes = lineitem.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_d")
    )
    iv = orders.join(
        closes, orders["o_orderkey"] == closes["l_orderkey"]
    ).select(F.to_date("o_orderdate").alias("open_d"), "close_d")
    out = TS.open_interval_backlog(iv, "open_d", "close_d")
    # DATE comparing as object vs datetime64 across engines: emit the
    # grain key at midnight-UTC timestamp (the catalog-wide convention)
    return out.withColumn("day", F.col("day").cast("timestamp"))


@query(
    "events_window_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    starts AS (
      SELECT user_id, ts AS t_v, ts + INTERVAL 7 DAY AS t_end
      FROM e WHERE event_type = 'view'
    ),
    s2 AS (
      SELECT s.user_id, s.t_v, s.t_end, MIN(c.ts) AS c1
      FROM starts s JOIN e c
        ON c.user_id = s.user_id AND c.event_type = 'click'
       AND c.ts > s.t_v AND c.ts <= s.t_end
      GROUP BY 1, 2, 3
    ),
    s3 AS (
      SELECT DISTINCT s2.user_id
      FROM s2 JOIN e p
        ON p.user_id = s2.user_id AND p.event_type = 'purchase'
       AND p.ts > s2.c1 AND p.ts <= s2.t_end
    ),
    lvl AS (
      SELECT u.user_id,
             CASE WHEN s3.user_id IS NOT NULL THEN 3
                  WHEN s2u.user_id IS NOT NULL THEN 2
                  ELSE 1 END AS level
      FROM (SELECT DISTINCT user_id FROM starts) u
      LEFT JOIN (SELECT DISTINCT user_id FROM s2) s2u
        ON s2u.user_id = u.user_id
      LEFT JOIN s3 ON s3.user_id = u.user_id
    ),
    n AS (SELECT COUNT(*) AS n_total FROM lvl)
    SELECT level, COUNT(*) AS n_users,
           CAST(COUNT(*) AS DOUBLE) / CAST(n.n_total AS DOUBLE)
             AS user_share
    FROM lvl CROSS JOIN n GROUP BY level, n.n_total
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window funnel (the ClickHouse ``windowFunnel`` shape,
    which ``events_funnel`` deliberately is NOT): the user's funnel
    level is the MAXIMAL view → click → purchase chain completed
    within 7 days of ANY view start — a later view can start the
    chain an earlier view's expired window could not. Per start the
    earliest-next-event chain is level-maximal (greedy earliest click
    leaves the largest residual window), so max-over-starts is exact,
    not heuristic. Output: users at each max level with shares.

    Determinism: exact timestamp-interval arithmetic (integer
    microseconds); MIN anchors; the level CASE is a total order.

    Scale: every join is co-partitioned on user_id and bounded by
    PER-USER activity (views × clicks within one user, never across
    users) — the same envelope as sessionization; a hot user shows up
    in ``events_key_skew``'s diagnostic long before this pair product
    matters. Stage tables shrink monotonically down the funnel; the
    final histogram is |levels| rows.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "event_type", "ts")
    week = F.expr("INTERVAL 7 DAYS")
    starts = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("t_v"),
        (F.col("ts") + week).alias("t_end"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("t_c")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_p")
    )
    s2 = (
        starts.join(clicks, "user_id")
        .filter((F.col("t_c") > F.col("t_v")) & (F.col("t_c") <= F.col("t_end")))
        .groupBy("user_id", "t_v", "t_end")
        .agg(F.min("t_c").alias("c1"))
    )
    s3 = (
        s2.join(purchases, "user_id")
        .filter((F.col("t_p") > F.col("c1")) & (F.col("t_p") <= F.col("t_end")))
        .select("user_id")
        .distinct()
        .withColumn("_l3", F.lit(1))
    )
    s2u = s2.select("user_id").distinct().withColumn("_l2", F.lit(1))
    lvl = (
        starts.select("user_id")
        .distinct()
        .join(s2u, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("_l3").isNotNull(), 3)
            .when(F.col("_l2").isNotNull(), 2)
            .otherwise(1)
            .alias("level"),
        )
    )
    return (
        lvl.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn(
            "user_share",
            F.col("n_users").cast("double")
            / F.sum("n_users").over(W.partitionBy()).cast("double"),
        )
    )


@query(
    "events_sequence_match",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'o' END AS c
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    seq AS (
      SELECT user_id, string_agg(c, '' ORDER BY ts, event_id) AS seq
      FROM e GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_total FROM seq),
    m AS (
      SELECT 'ordered_conversion' AS pattern,
             COUNT(*) FILTER (WHERE regexp_matches(seq, 'v.*c.*p'))
               AS n_users FROM seq
      UNION ALL
      SELECT 'never_purchases',
             COUNT(*) FILTER (WHERE NOT regexp_matches(seq, 'p')) FROM seq
      UNION ALL
      SELECT 'post_purchase_view',
             COUNT(*) FILTER (WHERE regexp_matches(seq, 'p.*v')) FROM seq
      UNION ALL
      SELECT 'error_then_churn',
             COUNT(*) FILTER (WHERE regexp_matches(seq, 'o[^vcps]*$'))
               FROM seq
    )
    SELECT pattern, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users AS DOUBLE) / CAST(n.n_total AS DOUBLE)
             AS user_share
    FROM m CROSS JOIN n
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching (the ClickHouse
    ``sequenceMatch`` mechanism, which subsumes shapes the funnel
    joins cannot express — negations, anchors, adjacency): each
    user's history collapses to ONE ordered type-string
    (v/c/p/s/o on the total order (ts, event_id)) and patterns are
    plain regexes over it — here: the ordered-conversion
    subsequence, never-purchases, post-purchase re-engagement, and
    error-as-final-event churn.

    Determinism: the sequence string is built on the catalog's total
    order in both engines (struct-sorted collect_list vs ORDER BY
    inside string_agg); the four patterns use only portable regex
    (literals, classes, anchors, ``.*``) with identical Java/RE2
    semantics.

    Scale: ONE user_id shuffle; per-user strings are bounded by
    per-user activity (the sessionization envelope — a hot user
    surfaces in ``events_key_skew`` long before a string matters);
    all four patterns evaluate in a single pass over the |users|-row
    sequence table (one agg, ``stack`` to rows — no re-scan per
    pattern).
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("o")
        .alias("_c"),
    )
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "_c"))
                ),
                lambda s: s["_c"],
            ),
        ).alias("seq")
    )
    pats = [
        ("ordered_conversion", "v.*c.*p"),
        ("never_purchases", "^[^p]*$"),
        ("post_purchase_view", "p.*v"),
        ("error_then_churn", "o[^vcps]*$"),
    ]
    agg = seq.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum(F.when(F.col("seq").rlike(p), 1).otherwise(0)).alias(
                f"_m{i}"
            )
            for i, (_, p) in enumerate(pats)
        ],
    )
    stack_args = ", ".join(
        f"'{name}', _m{i}" for i, (name, _) in enumerate(pats)
    )
    return agg.selectExpr(
        f"stack({len(pats)}, {stack_args}) AS (pattern, n_users)",
        "n_total",
    ).select(
        "pattern",
        F.col("n_users").cast("long").alias("n_users"),
        (
            F.col("n_users").cast("double")
            / F.col("n_total").cast("double")
        ).alias("user_share"),
    )


@query(
    "events_session_concurrency",
    oracle=E_CTE
    + """,
    l AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM e
    ),
    m AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS is_start
      FROM l
    ),
    sq AS (
      SELECT *, CAST(SUM(is_start) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM m
    ),
    sess AS (
      SELECT user_id, session_seq,
             MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
      FROM sq GROUP BY 1, 2
    ),
    segs AS (
      SELECT user_id,
             GREATEST(s_us, day * 86400000000) AS cs,
             LEAST(e_us + 1, (day + 1) * 86400000000) AS ce,
             day
      FROM (SELECT user_id, s_us, e_us,
                   unnest(generate_series(s_us // 86400000000,
                                          e_us // 86400000000)) AS day
            FROM sess)
    ),
    inst AS (
      SELECT day, cs AS t, 1 AS s, 0 AS en FROM segs
      UNION ALL
      SELECT day, ce AS t, 0 AS s, 1 AS en FROM segs
    ),
    coll AS (
      SELECT day, t, SUM(s) AS st, SUM(en) AS en
      FROM inst GROUP BY 1, 2
    ),
    sweep AS (
      SELECT day,
             SUM(st - en) OVER (PARTITION BY day ORDER BY t
                                ROWS UNBOUNDED PRECEDING) + en AS cand
      FROM coll
    ),
    pk AS (SELECT day, MAX(cand) AS peak_concurrent FROM sweep GROUP BY 1),
    ag AS (
      SELECT day, COUNT(*) AS n_sessions,
             COUNT(DISTINCT user_id) AS n_users,
             SUM(CAST(ce - cs AS DECIMAL(38,0))) AS busy_us
      FROM segs GROUP BY 1
    )
    SELECT make_timestamp(ag.day * 86400000000) AS day,
           CAST(ag.n_sessions AS BIGINT) AS n_sessions,
           CAST(ag.n_users AS BIGINT) AS n_users,
           CAST(pk.peak_concurrent AS BIGINT) AS peak_concurrent,
           CAST(ag.busy_us AS DOUBLE) / 1000000.0 AS busy_seconds,
           CAST(ag.busy_us AS DOUBLE) / 86400000000.0 AS avg_concurrency
    FROM ag JOIN pk ON pk.day = ag.day
    """,
)
def events_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency rollup (sweep-line / parallel
    prefix): per day, the PEAK number of simultaneously open user
    sessions, plus session count, active users, total busy time and
    time-weighted average concurrency. The interval-analytics operator
    (overlap stabbing) that a co-viewership / capacity-planning stack
    runs beside sessionization — computed WITHOUT the pair join (a
    naive overlap self-join is quadratic in concurrent sessions; the
    sweep is linear).

    Semantics (declared, replayed in the oracle): sessions are the
    30-min-gap splits of ``events_sessionization`` (boundaries depend
    on ts only, so no event_id tiebreak can change them); each session
    occupies the half-open microsecond range [start_us, end_us + 1) —
    zero-length single-event sessions still count; sessions clip to
    day boundaries; at equal instants starts count before ends
    (touching = overlapping), made order-independent by collapsing
    instants: with running net R_t and e_t ends at instant t, the
    concurrency DURING t is R_t + e_t, so peak = max(R + e) needs no
    intra-instant ordering at all. Integer-microsecond math end to
    end; the two doubles are positive-decimal casts + one division by
    an exact constant.

    Scale: the sweep is hierarchical (two-level parallel prefix), NOT
    one global ordered window. Level 1 sweeps each (day, hour) bucket
    independently — day x 25 balanced partitions, each bucket emitting
    (net, local_peak). Level 2 prefix-sums the per-bucket nets over a
    TINY collapsed set (days x 25 rows) to get each bucket's carry-in;
    peak(day) = max(carry + local_peak). At 100 TB the per-bucket
    sweep stays bounded (collapse instants first: at most 2 rows per
    distinct microsecond per bucket) and no single ordered partition
    sees the whole day. Segments fan out O(days-spanned) per session
    (bounded by the corpus span), generated per session — no calendar
    join.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.unix_micros(F.col("ts")).alias("us"))
    )
    wo = W.partitionBy("user_id").orderBy("us")
    gap = F.col("us") - F.lag("us").over(wo)
    is_start = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    sess = (
        e.withColumn(
            "seq",
            F.sum(is_start).over(wo.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "seq")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    day_us = F.lit(86400000000)
    segs = (
        sess.withColumn(
            "day",
            F.explode(
                F.sequence(
                    F.expr("s_us div 86400000000"),
                    F.expr("e_us div 86400000000"),
                )
            ),
        )
        .select(
            "user_id",
            "day",
            F.greatest(F.col("s_us"), F.col("day") * day_us).alias("cs"),
            F.least(
                F.col("e_us") + 1, (F.col("day") + 1) * day_us
            ).alias("ce"),
        )
    )
    # sweep + rollup shared with the streaming twin's stateless
    # consumer (one implementation, the shared-Holt-fold discipline)
    return TS.concurrency_from_segments(segs)
