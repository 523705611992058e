"""Scalar functions, projections, derived categoricals, pivot and set
operations (SURVEY §2.3 P1-P6, §2.8 U1-U2, §2.9 F1-F12).

Each reference scalar behavior maps to a native Column expression —
there is deliberately not a single Python UDF in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.io import load_table
from .catalog import query, shared


@query(
    "events_props_buckets",
    oracle="""
    SELECT bucket, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
      SELECT CASE WHEN k < 25 THEN 'low'
                  WHEN k < 75 THEN 'mid'
                  ELSE 'high' END AS bucket,
             value
      FROM (SELECT TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
                   value
            FROM events)
    )
    GROUP BY bucket
    """,
)
def events_props_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction from a JSON-ish string column (F6/F11 —
    the reference regexes run timestamps out of filenames,
    ``process_wistia_data_v2.py:20,201``) + derived categorical (P5 —
    the channel CASE chain, ``process_wistia_data_v2.py:274-278``)."""
    e = load_table(spark, sf_dir, "events")
    # try_cast: regexp_extract yields '' on no match, and ANSI
    # CAST('' AS LONG) aborts the job — a missing k must bucket as
    # 'high' via NULL, not crash
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).try_cast("long")
    bucket = (
        F.when(k < 25, "low").when(k < 75, "mid").otherwise("high").alias("bucket")
    )
    return e.select(bucket, "value").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@query(
    "events_conversion_map",
    oracle="""
    SELECT event_type AS conv_type,
           COUNT(*) AS n_conversions,
           CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1
    """,
)
def events_conversion_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``conversion_data`` map-column round trip (F11 + SURVEY §1.2's
    one remaining unexercised type: the reference's event
    ``conversion_data`` is a free-form string map,
    media_stats_schema — VERDICT r01 missing item 5 / next-round 9).

    Builds the map JVM-side (``create_map`` → ``to_json``), then
    consumes it the way a warehouse query would: ``from_json`` back to
    ``map<string,string>``, element access, cast, aggregate. The whole
    pipeline is codegen'd column expressions — no UDF, one shuffle on
    the 2-value conv_type key; the oracle checks the round trip
    preserved both keys and values."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    staged = ev.select(
        F.to_json(
            F.create_map(
                F.lit("conv_type"),
                F.col("event_type"),
                F.lit("k"),
                F.get_json_object("props", "$.k"),
            )
        ).alias("conversion_data")
    )
    m = staged.select(
        F.from_json("conversion_data", "map<string,string>").alias("m")
    )
    return (
        m.select(
            F.col("m").getItem("conv_type").alias("conv_type"),
            # try_cast: a malformed k in free-form source data must
            # yield NULL (reference's tolerant parse), not an ANSI abort
            F.col("m").getItem("k").try_cast("bigint").alias("k"),
        )
        .groupBy("conv_type")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("k").alias("sum_k"),
        )
    )


@query(
    "events_scalar_showcase",
    oracle="""
    SELECT event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ') AS iso_ts,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 SECOND AS ts_plus_1s,
           upper(trim(event_type)) AS type_upper,
           substring(event_type, 1, 3) AS type_prefix,
           length(props) AS props_len,
           CASE WHEN value IS NULL THEN NULL
                ELSE least(value, 100.0) END AS value_capped,
           CASE WHEN value IS NULL THEN NULL
                ELSE greatest(value, 0.0) END AS value_floored,
           coalesce(nullif(event_type, 'error'), 'unknown') AS type_or_unknown,
           md5(event_type || CAST(event_id AS VARCHAR)) AS row_fingerprint
    FROM events
    """,
)
def events_scalar_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface in one projection (F1-F12):
    ISO formatting (F3), +1s HWM buffer arithmetic (F4,
    ``process_wistia_data.py:413-416``), trim (F7), least/clamp
    (F9/A8), null-default (F10), substring/length, row fingerprint."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts_plus_1s"),
        F.upper(F.trim("event_type")).alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.length("props").alias("props_len"),
        # least/greatest SKIP nulls on both engines: an ungated clamp
        # would turn value=NULL into 100.0/0.0 phantom numbers — the
        # clamp must propagate NULL instead
        F.when(F.col("value").isNotNull(), F.least("value", F.lit(100.0))).alias(
            "value_capped"
        ),
        F.when(F.col("value").isNotNull(), F.greatest("value", F.lit(0.0))).alias(
            "value_floored"
        ),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias(
            "type_or_unknown"
        ),
        F.md5(F.concat("event_type", F.col("event_id").cast("string"))).alias(
            "row_fingerprint"
        ),
    )


@query(
    "events_pivot_types",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
)
def events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation). The explicit value list
    keeps the plan a single agg — no distinct-scan to discover columns."""
    e = load_table(spark, sf_dir, "events")
    piv = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ["click", "view", "purchase", "signup", "error"]
        ],
    )


@query(
    "customer_cohort_setops",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                 AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
    """,
)
def customer_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (U1 union — ``process_wistia_data_v1.py:234``;
    U2 intersect/except) over yearly customer cohorts."""
    o = load_table(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.to_timestamp(F.lit(f"{year}-01-01 00:00:00")))
                & (F.col("o_orderdate") < F.to_timestamp(F.lit(f"{year + 1}-01-01 00:00:00")))
            )
            .select("o_custkey")
            .distinct()
        )

    a, b = cohort(1995), cohort(1996)

    def count_as(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        count_as(a.union(b).distinct(), "union")
        .unionByName(count_as(a.intersect(b), "intersect"))
        .unionByName(count_as(a.subtract(b), "except"))
    )


@query(
    "media_channel_projection",
    oracle="""
    SELECT p_partkey AS media_key,
           p_name AS title,
           CASE WHEN contains(p_type, 'BRASS') THEN 'brass'
                WHEN contains(p_type, 'STEEL') THEN 'steel'
                ELSE NULL END AS channel,
           p_retailprice AS list_price,
           p_size AS size_units
    FROM part
    """,
)
def media_channel_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename + substring-derived channel (P1/P5): the
    dim_media transform shape (``process_wistia_data_v2.py:297-310``:
    rename 12 columns, infer channel from title substrings, else NULL)
    applied to the driver's part table."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("media_key"),
        F.col("p_name").alias("title"),
        F.when(F.col("p_type").contains("BRASS"), "brass")
        .when(F.col("p_type").contains("STEEL"), "steel")
        .otherwise(F.lit(None).cast("string"))
        .alias("channel"),
        F.col("p_retailprice").alias("list_price"),
        F.col("p_size").alias("size_units"),
    )


@query(
    "events_cube_day_type",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY CUBE (1, 2)
    """,
)
def events_cube_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregate (A10 cube): all (day, type) grouping
    levels in ONE shuffle — Spark expands grouping sets map-side, so
    the cube costs one pass, not four."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    return (
        e.cube(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "parts_price_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 0.0, 930.0),
             ('mid', 930.0, 970.0),
             ('premium', 970.0, 1e9)
    )
    SELECT b.band, COUNT(*) AS n_parts,
           CAST(MIN(p.p_retailprice) AS DOUBLE) AS min_price,
           CAST(MAX(p.p_retailprice) AS DOUBLE) AS max_price
    FROM part p JOIN bands b
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def parts_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join J3: non-equi predicate against a tiny band
    table — planned as broadcast-nested-loop, the right physical
    strategy when one side is a handful of rows; min/max aggregates
    are exact on doubles (no summation-order dependence).

    The band table is a JVM-side inline literal (explode of a struct
    array), NOT createDataFrame — 3 local rows through the Python RDD
    path spin up Python workers on every core (measured +7 s cold)."""
    p = load_table(spark, sf_dir, "part")

    def band(name: str, lo: float, hi: float):
        return F.struct(
            F.lit(name).alias("band"),
            F.lit(lo).alias("lo"),
            F.lit(hi).alias("hi"),
        )

    bands = (
        p.sparkSession.range(1)
        .select(
            F.explode(
                F.array(
                    band("budget", 0.0, 930.0),
                    band("mid", 930.0, 970.0),
                    band("premium", 970.0, 1e9),
                )
            ).alias("b")
        )
        .select("b.band", "b.lo", "b.hi")
    )
    joined = p.join(
        F.broadcast(bands),
        (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )


@query(
    "events_approx_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_3rsd
    FROM events GROUP BY 1
    """,
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch (approx_count_distinct) next to the exact count —
    the sketch is mergeable, so at 100 TB the distinct-visitor count
    is one map-side-combinable pass instead of a global shuffle of
    every key. The sketch estimate itself is engine-specific, so the
    oracle-checked statement is STRUCTURAL (VERDICT r01 next-round 8):
    per event_type, the exact count matches SQL and the estimate sits
    within 3·rsd of it (TRUE on both engines or the hash differs)."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 3 * 0.02 * F.col("exact_users")
        ).alias("within_3rsd"),
    )


@query(
    "events_heavy_hitters",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    HAVING COUNT(*) >= 1.2 * (SELECT COUNT(*) FROM events)
                          / (SELECT COUNT(DISTINCT user_id) FROM events)
    """,
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (users ≥ 1.2× the average event share) via
    the two-pass pigeonhole candidate scheme (operators/skew.py) —
    sketch-style cost, exact output, so the full-groupBy SQL is an
    exact oracle."""
    e = load_table(spark, sf_dir, "events")
    from ..operators.skew import heavy_hitters

    return heavy_hitters(e, "user_id", mult=1.2)


@query(
    "events_salted_user_totals",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def events_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage salted aggregation (operators/skew.py)
    — must equal the plain one-stage groupBy exactly (decimal sums are
    order-insensitive, so salting cannot change the answer; that IS
    the oracle check)."""
    from ..operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        keys=["user_id"],
        aggs={
            "total_value": ("sum", F.col("value").cast("decimal(18,2)")),
            "n_events": ("count", F.lit(1)),
            "max_value": ("max", F.col("value")),
        },
        spread_col=F.col("event_id"),
        buckets=16,
    )
    return out.select(
        "user_id",
        F.col("total_value").cast("double").alias("total_value"),
        "n_events",
        F.col("max_value").cast("double").alias("max_value"),
    )


@query(
    "events_grouping_sets",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((day, event_type), (week), (event_type))
    """,
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A10): three grouping levels —
    (day, type), (week), (type) — expanded map-side into ONE shuffle,
    the multi-granularity rollup a hypertable would materialize."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("_events_gs")
    return spark.sql(
        """
        SELECT date_trunc('day', ts) AS day,
               date_trunc('week', ts) AS week,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM _events_gs
        GROUP BY GROUPING SETS ((day, event_type), (week), (event_type))
        """
    )


@query(
    "events_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           quantile_disc(value, 0.25) AS p25_value,
           quantile_disc(value, 0.50) AS p50_value,
           quantile_disc(value, 0.75) AS p75_value,
           quantile_disc(value, 0.95) AS p95_value
    FROM events
    GROUP BY event_type
    """,
)
def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles via ``percentile_disc`` (SQL
    standard: smallest value whose cume_dist ≥ p — both engines
    implement this definition, verified at the disambiguating
    n=3/p=0.75 case). DISC, not CONT: the result is an actual data
    value, so no interpolation arithmetic exists to drift between
    engines — the cross-engine-exactness rule from catalog.py applied
    to order statistics.

    Scale: exact percentiles need the full value multiset per group —
    one shuffle on the group key, sort within group. For the
    billions-of-rows-per-group regime the approx twin is
    ``approx_percentile`` (t-digest style sketch, map-side
    combinable, rows-only checkable like events_approx_distinct);
    this entry is the exact gate for it.
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias(
            "p25_value"
        ),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").alias(
            "p50_value"
        ),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias(
            "p75_value"
        ),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias(
            "p95_value"
        ),
    )


@query(
    "events_spike_days",
    oracle="""
    WITH d AS (
      SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, quantile_disc(n_events, 0.5) AS median_daily
      FROM d GROUP BY 1
    )
    SELECT d.event_type, d.day, d.n_events, m.median_daily,
           d.n_events * 2 > m.median_daily * 3 AS is_spike
    FROM d JOIN m ON d.event_type = m.event_type
    """,
)
def events_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly scan: flag days where a type's event count
    exceeds 1.5× its median daily count. Median (percentile_disc) and
    the 1.5× comparison in integer arithmetic (n*2 > med*3) — no
    float mean/stddev whose summation order could drift between
    engines, and robust to the spike itself (a z-score inflates its
    own baseline).

    Scale: daily counts collapse map-side; the per-type median table
    is |types| rows and broadcasts back onto the dailies.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # Spark's percentile_disc returns double even over integer input;
    # DISC picks an actual count, so the long cast is value-exact and
    # matches DuckDB's BIGINT quantile_disc
    m = d.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events)")
        .cast("long")
        .alias("median_daily")
    )
    return d.join(F.broadcast(m), "event_type").select(
        "event_type",
        "day",
        "n_events",
        "median_daily",
        (F.col("n_events") * 2 > F.col("median_daily") * 3).alias("is_spike"),
    )


# (column, is_numeric) — single source of truth for events_profile;
# both the Spark projection and the SQL oracle are generated from it.
_PROFILE_COLS = [
    ("event_id", True),
    ("user_id", True),
    ("event_type", False),
    ("value", True),
    ("props", False),
]


def _profile_oracle() -> str:
    parts = []
    for c, num in _PROFILE_COLS:
        mn = f"CAST(MIN({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(MAX({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        parts.append(f"""
        SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE {c} IS NULL) AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct,
               {mn} AS min_value, {mx} AS max_value
        FROM events""")
    return " UNION ALL ".join(parts)


@query("events_profile", oracle=_profile_oracle())
def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the warehouse-ops primitive behind schema
    monitoring and data contracts): per-column null count, exact
    distinct count, and numeric range, in ONE aggregate pass — the
    per-column stats are parallel aggregate expressions over a single
    scan, then unpivoted driver-free with an explode of structs. The
    oracle is generated from the same column spec.

    Scale: one scan + one 1-row aggregate; exact COUNT(DISTINCT) over
    several columns multiplies the aggregate's expand factor — the
    documented swap-in for trillion-row profiling is
    approx_count_distinct per column (sketch, single expand), gated by
    this exact entry.
    """
    e = load_table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, num in _PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}"),
            F.countDistinct(c).alias(f"dist_{c}"),
            (F.min(c).cast("double") if num else F.lit(None).cast("double")).alias(
                f"min_{c}"
            ),
            (F.max(c).cast("double") if num else F.lit(None).cast("double")).alias(
                f"max_{c}"
            ),
        ]
    one = e.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_value"),
                F.col(f"max_{c}").alias("max_value"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "events_key_skew",
    oracle="""
    WITH k AS (
      SELECT user_id, COUNT(*) AS n_events
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n_keys, SUM(n_events) AS n_total FROM k),
    top AS (
      SELECT user_id, n_events,
             row_number() OVER (ORDER BY n_events DESC, user_id) AS rnk
      FROM k
    )
    SELECT rnk, user_id, n_events,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_events AS DOUBLE) / n_total AS share,
           CAST(n_events AS DOUBLE) * n_keys / n_total AS skew_ratio
    FROM top CROSS JOIN tot
    WHERE rnk <= 10
    """,
)
def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic (the pre-flight check behind every salting /
    AQE-skew decision in this engine): the 10 heaviest shuffle keys
    with their share of all rows and their skew ratio vs a perfectly
    uniform key (ratio ≫ 1 ⇒ that key serializes its reducer).

    Determinism: ranks tie-break on user_id; both ratios divide exact
    longs.

    Scale: per-key counts are one map-side-combined aggregate; top-10
    is TakeOrdered (per-partition heaps, no global sort); the totals
    row is a 1-row broadcast. The event table is scanned once.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    k = shared(k)  # totals + top-10 both derive from k: one scan (released at next entry build)
    tot = k.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n_events").alias("n_total")
    )
    top = (
        k.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
        .select(
            F.row_number()
            .over(W.orderBy(F.desc("n_events"), F.asc("user_id")))
            .alias("rnk"),
            "user_id",
            "n_events",
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "rnk",
        "user_id",
        "n_events",
        "n_total",
        "n_keys",
        (F.col("n_events").cast("double") / F.col("n_total")).alias("share"),
        (
            F.col("n_events").cast("double")
            * F.col("n_keys")
            / F.col("n_total")
        ).alias("skew_ratio"),
    )


@query(
    "events_approx_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           TRUE AS p50_in_band,
           TRUE AS p95_in_band
    FROM events GROUP BY 1
    """,
)
def events_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL/GK-style sketch, map-side combinable)
    gated by its own guarantee: with accuracy A the rank error is
    ≤ 1/A, so the estimate must lie within the EXACT values at ranks
    ⌈(p ± 1/A)·n⌉ (clamped). The sketch numbers are engine-specific,
    so — like events_approx_distinct — the oracle-checked statement
    is the structural TRUE per group: the band check fails the hash on
    either engine if the sketch ever violates its bound.

    Scale: this is the billions-per-group path the exact
    ``events_percentiles`` entry gates; one pass, no per-group sort,
    sketch merge at the combiner.
    """
    acc = 100  # rank error <= 1%
    eps = 1.0 / acc
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("_a50"),
        F.expr(f"approx_percentile(value, 0.95, {acc})").alias("_a95"),
        F.expr(
            f"percentile_disc({max(0.5 - eps, 0.0)}) WITHIN GROUP (ORDER BY value)"
        ).alias("_lo50"),
        F.expr(
            f"percentile_disc({min(0.5 + eps, 1.0)}) WITHIN GROUP (ORDER BY value)"
        ).alias("_hi50"),
        F.expr(
            f"percentile_disc({max(0.95 - eps, 0.0)}) WITHIN GROUP (ORDER BY value)"
        ).alias("_lo95"),
        F.expr(
            f"percentile_disc({min(0.95 + eps, 1.0)}) WITHIN GROUP (ORDER BY value)"
        ).alias("_hi95"),
    )
    # a group whose value column is entirely NULL yields NULL from
    # both the sketch and the exact percentiles; the bound is then
    # vacuously satisfied — coalesce to TRUE so the structural oracle
    # doesn't read a NULL as a violation
    in_band = lambda a, lo, hi: F.coalesce(  # noqa: E731
        (F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi)), F.lit(True)
    )
    return agg.select(
        "event_type",
        "n_events",
        in_band("_a50", "_lo50", "_hi50").alias("p50_in_band"),
        in_band("_a95", "_lo95", "_hi95").alias("p95_in_band"),
    )


def _tol_gate(est, exact, tol: float = 0.05):
    """Structural sketch-accuracy gate as a SELF-DIAGNOSING column:
    ``'ok'`` when ``|est - exact| <= tol * exact``, else the actual
    numbers (``est=.../exact=...``). The oracle asserts the literal
    ``'ok'``, so a gate trip surfaces in the comparator's value diff
    WITH the estimate and exact count inline — a tolerance diagnostic,
    not an opaque boolean hash mismatch (ADVICE r09)."""
    est, exact = F.col(est), F.col(exact)
    return F.when(
        F.abs(est - exact) <= tol * exact, F.lit("ok")
    ).otherwise(
        F.concat(
            F.lit("est="),
            F.round(est, 1).cast("string"),
            F.lit("/exact="),
            exact.cast("string"),
        )
    )


@query(
    "events_hll_rollup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           'ok' AS merge_gate
    FROM events WHERE event_type IS NOT NULL GROUP BY 1
    """,
)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-sketch rollup (the 100 TB distinct-count architecture):
    build one Datasketches HLL sketch per (event_type, day) with
    ``hll_sketch_agg``, then merge the daily sketches per event_type
    with ``hll_union_agg`` — the pattern that lets a warehouse store
    per-partition sketches and answer arbitrary date-range distinct
    counts without re-scanning raw data (re-aggregability, the
    property exact distinct counts lack). Like
    ``events_approx_distinct``, the oracle-checked statement is
    structural: the merged estimate sits within 3 sigma
    (3 * 1.04/sqrt(2^12) ~ 5%) of the exact count, or the hash
    differs.

    Scale: sketches are ~KB objects that combine map-side; the merge
    shuffles |event_type| x |days| sketch blobs instead of every
    (event_type, user) pair. The exact branch exists only to gate the
    estimate. NULL event_type is filtered in both engines: the
    exact⋈merged equi-join would drop a null group that a plain
    GROUP BY retains, which would diverge on a fixture with nulls.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("_d")
    ).agg(F.hll_sketch_agg("user_id", 12).alias("_sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        _tol_gate("_est", "exact_users").alias("merge_gate"),
    )


# DuckDB replay of operators/sketches.py's md5_64 bucket: the bucket
# is the low 10 bits of the 64-bit first-16-hex-chars pattern, i.e.
# (hex nibbles 13-16 as a 16-bit int) % 1024 — strpos-nibble
# arithmetic like SIMHASH_SQL, no base-conversion builtin needed.
_CMS_NIB = "(strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
# hex nibbles 13-16 as a 16-bit int — the low 16 bits of the md5_64
# pattern, shared by the CMS bucket (% width) and the Bloom bit
# position (% n_bits)
_HEX16 = (
    "("
    + _CMS_NIB.format(h="{h}", p=13) + " * 4096 + "
    + _CMS_NIB.format(h="{h}", p=14) + " * 256 + "
    + _CMS_NIB.format(h="{h}", p=15) + " * 16 + "
    + _CMS_NIB.format(h="{h}", p=16)
    + ")"
)
_CMS_BUCKET = "(" + _HEX16 + " % 1024)"


@query(
    "events_cms_user_counts",
    oracle=f"""
    WITH d AS (SELECT unnest(generate_series(0, 3)) AS depth),
    hits AS (
      SELECT depth,
             {_CMS_BUCKET.format(h="md5(CAST(user_id AS VARCHAR) || ':' || CAST(depth AS VARCHAR))")}
               AS bucket,
             COUNT(*) AS cnt
      FROM events, d WHERE user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_n
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    top AS (
      SELECT user_id, exact_n FROM exact
      ORDER BY exact_n DESC, user_id LIMIT 20
    ),
    probes AS (
      SELECT t.user_id, t.exact_n, d.depth,
             {_CMS_BUCKET.format(h="md5(CAST(t.user_id AS VARCHAR) || ':' || CAST(d.depth AS VARCHAR))")}
               AS bucket
      FROM top t, d
    )
    SELECT p.user_id, p.exact_n,
           CAST(MIN(COALESCE(h.cnt, 0)) AS BIGINT) AS cms_estimate
    FROM probes p
    LEFT JOIN hits h ON h.depth = p.depth AND h.bucket = p.bucket
    GROUP BY p.user_id, p.exact_n
    """,
)
def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates, hash-checked end to end:
    per-DAY sketches built over ``events.user_id`` (4×1024 counter
    rows each), merged by counter SUM — the re-aggregable frequency
    architecture next to ``events_hll_rollup``'s distinct counts —
    then the 20 heaviest users' estimates read off the merged sketch
    and reported next to their exact counts. The engine-neutral
    md5_64 bucket hash means DuckDB replays the sketch bit-for-bit,
    so unlike the structural approx entries this one hash-checks the
    ESTIMATES (including their deterministic collision over-counts:
    ~10k users into 1024 buckets collide by construction), plus the
    CMS invariant estimate >= exact on every reported row.

    Scale: raw events collapse to ≤ 4096 counters per day at the
    map-side combiner; the merge shuffles counter rows, never events;
    the probe join broadcasts the sketch. The reference has no sketch
    surface (§2.13 extension; exact dicts at
    ``process_wistia_data.py:313-361``).
    """
    from ..operators import sketches as S

    e = load_table(spark, sf_dir, "events")
    daily = S.cms_build(
        e.select(F.to_date("ts").alias("_d"), "user_id"),
        "user_id",
        group_cols=("_d",),
    )
    merged = S.cms_merge(daily)
    exact = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject — no
    # single-partition window for the global top-k
    top = exact.orderBy(F.col("exact_n").desc(), "user_id").limit(20)
    return S.cms_estimate(merged, top, "user_id").select(
        "user_id",
        "exact_n",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
    )


# Bloom bit position: low 16 bits of md5_64 mod n_bits=16384; lane =
# pos // 16, mask = 1 << (pos % 16) — operators/sketches.py:_bloom_coords
_BLOOM_POS = "(" + _HEX16 + " % 16384)"


@query(
    "customers_bloom_prune",
    oracle=f"""
    WITH i AS (SELECT unnest(generate_series(0, 3)) AS i),
    ins AS (
      SELECT {_BLOOM_POS.format(h="md5(CAST(o_custkey AS VARCHAR) || '#' || CAST(i.i AS VARCHAR))")}
               AS pos
      FROM orders, i
    ),
    lanes AS (
      SELECT pos // 16 AS lane, bit_or(1 << (pos % 16)) AS bits
      FROM ins GROUP BY 1
    ),
    pr AS (
      SELECT c.c_custkey, c.c_nationkey,
             {_BLOOM_POS.format(h="md5(CAST(c.c_custkey AS VARCHAR) || '#' || CAST(i.i AS VARCHAR))")}
               AS pos
      FROM customer c, i
    ),
    verdict AS (
      SELECT p.c_custkey, p.c_nationkey,
             bool_and((COALESCE(l.bits, 0) & (1 << (p.pos % 16)))
                      = (1 << (p.pos % 16))) AS maybe
      FROM pr p LEFT JOIN lanes l ON l.lane = p.pos // 16
      GROUP BY 1, 2
    )
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN v.maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_maybe,
           CAST(SUM(CASE WHEN a.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_actual
    FROM verdict v
    JOIN nation n ON n.n_nationkey = v.c_nationkey
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) a
      ON a.o_custkey = v.c_custkey
    GROUP BY 1
    """,
)
def customers_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction, hash-checked end to end: per
    order-YEAR Bloom filters built over ``orders.o_custkey`` (16-bit
    lane rows, ≤1 KB each), OR-merged to one filter — the membership
    member of the re-aggregable sketch architecture beside
    ``events_hll_rollup`` (distinct) and ``events_cms_user_counts``
    (frequency) — then every customer probed and the per-nation
    verdict counts reported NEXT TO the exact semi-join counts, so the
    row the driver hashes contains the pruning rate and its
    deterministic false positives (no false negatives, by
    construction: n_maybe >= n_actual on every row).

    Scale: this is the shuffle-avoidance play for 100 TB joins — the
    fact side collapses map-side to ≤1024 lane rows per group, the
    merged ≤1 KB filter broadcasts into the probe join, and
    definite-miss probe rows can be dropped BEFORE the expensive
    exchange (here they are counted instead, so the saving is
    visible). The reference has no sketch surface (§2.13 extension;
    exact dict membership at ``process_wistia_data_v2.py:350-531``).
    """
    from ..operators import sketches as S

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = S.bloom_build(
        o.select(F.year("o_orderdate").alias("_y"), "o_custkey"),
        "o_custkey",
        group_cols=("_y",),
    )
    merged = S.bloom_merge(yearly)
    probed = S.bloom_probe(
        merged, c.select("c_custkey", "c_nationkey"), "c_custkey"
    )
    actual = o.select("o_custkey").distinct()
    return (
        probed.join(
            actual, probed["c_custkey"] == actual["o_custkey"], "left"
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
            .cast("long")
            .alias("n_maybe"),
            F.sum(F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_actual"),
        )
    )


@query(
    "events_dau_mau",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    daily AS (
      SELECT date_trunc('month', ts) AS month,
             date_trunc('day', ts) AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM e GROUP BY 1, 2
    ),
    monthly AS (
      SELECT date_trunc('month', ts) AS month,
             COUNT(DISTINCT user_id) AS mau
      FROM e GROUP BY 1
    ),
    agg AS (
      SELECT month, COUNT(*) AS n_days,
             CAST(SUM(dau) AS BIGINT) AS sum_dau
      FROM daily GROUP BY 1
    )
    SELECT a.month, a.n_days,
           CAST(a.sum_dau AS DOUBLE) / a.n_days AS avg_dau,
           m.mau,
           CAST(a.sum_dau AS DOUBLE) / a.n_days / m.mau AS stickiness
    FROM agg a JOIN monthly m USING (month)
    """,
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness (the product-analytics engagement ratio):
    per month, average daily distinct users over monthly distinct
    users. Exact distincts at both grains; the two divisions are the
    only double arithmetic, written identically in both engines.

    Scale: both distinct aggregates shuffle (user, period) pairs —
    map-side partial-distinct combines first; the month-level join is
    tiny. The sketch variant of this dashboard is events_hll_rollup
    (stored per-day sketches, range-unioned) — this entry is its
    exact gate at the month grain.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    daily = e.groupBy(
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.count_distinct("user_id").alias("dau"))
    monthly = e.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    agg = daily.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dau").alias("sum_dau"),
    )
    return agg.join(monthly, "month").select(
        "month",
        "n_days",
        (F.col("sum_dau").cast("double") / F.col("n_days")).alias("avg_dau"),
        "mau",
        (
            F.col("sum_dau").cast("double") / F.col("n_days") / F.col("mau")
        ).alias("stickiness"),
    )


@query(
    "events_quality_contract",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_eid,
             SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS null_val,
             SUM(CASE WHEN event_type IS NOT NULL
                       AND event_type NOT IN
                           ('click','view','purchase','signup')
                 THEN 1 ELSE 0 END) AS bad_type,
             SUM(CASE WHEN value IS NOT NULL
                       AND (value < 0.0 OR value > 300.0)
                 THEN 1 ELSE 0 END) AS oob_val,
             COUNT(DISTINCT event_id) AS d_eid,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
      FROM events
    ),
    orph AS (
      SELECT COUNT(*) AS orphans
      FROM events e
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON e.user_id = c.c_custkey
      WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL
    )
    SELECT 'not_null(event_id)' AS name,
           CAST(null_eid AS DOUBLE) / n <= 0.0 AS passed,
           CAST(null_eid AS DOUBLE) / n AS metric,
           0.0 AS threshold, n AS n_rows
    FROM base
    UNION ALL
    SELECT 'not_null(value)',
           CAST(null_val AS DOUBLE) / n <= 0.0,
           CAST(null_val AS DOUBLE) / n, 0.0, n
    FROM base
    UNION ALL
    SELECT 'accepted_values(event_type)',
           CAST(bad_type AS DOUBLE) / n <= 0.0,
           CAST(bad_type AS DOUBLE) / n, 0.0, n
    FROM base
    UNION ALL
    SELECT 'bounds(value)',
           CAST(oob_val AS DOUBLE) / n <= 0.0,
           CAST(oob_val AS DOUBLE) / n, 0.0, n
    FROM base
    UNION ALL
    SELECT 'unique(event_id)',
           (n - null_eid) - d_eid = 0,
           CAST((n - null_eid) - d_eid AS DOUBLE), 0.0, n
    FROM base
    UNION ALL
    SELECT 'references(user_id->c_custkey)',
           orphans = 0, CAST(orphans AS DOUBLE), 0.0, n
    FROM base, orph
    UNION ALL
    SELECT 'freshness(ts)',
           -- all-NULL/empty ts: the engine fails closed with an
           -- INFINITE lag ("no data" IS the staleness incident) —
           -- COALESCE replays that instead of propagating NULL
           -- (review r05)
           COALESCE(
             (1706745600000000.0 - CAST(max_us AS DOUBLE)) / 3600000000.0
               <= 24.0, FALSE),
           COALESCE(
             (1706745600000000.0 - CAST(max_us AS DOUBLE)) / 3600000000.0,
             CAST('infinity' AS DOUBLE)),
           24.0, n
    FROM base
    """,
)
def events_quality_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality expectation contract as a driver-hashed report
    (VERDICT r04 item 3): the same ``operators.quality`` suite engine
    that gates the incremental load's post-write commit
    (``incremental.py`` run contract), pointed at ``events`` with a
    suite covering every expectation kind — not-null, accepted-values,
    bounds, uniqueness, referential integrity, and freshness against a
    FIXED logical run time (2024-02-01T00:00Z — never wall-clock, so
    the lag metric is replayable). The suite is deliberately strict
    enough to FAIL some rows (value>300 outliers, the 'error' event
    type, a 24 h freshness SLA on a ~24.05 h-stale snapshot): the
    report hash then pins metric VALUES, not just all-green booleans.

    Oracle replays each check as SQL aggregates over one scan (the
    single-pass design of ``run_expectations``) + one anti-join.
    Doubles: each metric is a single int→double division or one
    epoch-micros subtraction+division, written identically in both
    engines — no summation-order ambiguity.

    Scale: the per-row predicates, the uniqueness distinct count and
    the freshness max fold into ONE aggregate query; the referential
    check is a broadcast anti-join against the dim. Only scalar
    metrics reach the driver.
    """
    import datetime as dt

    from ..operators.quality import (
        accepted_values,
        bounds,
        freshness,
        not_null,
        references,
        run_expectations,
        unique,
    )

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return run_expectations(
        events,
        [
            not_null("event_id"),
            not_null("value"),
            accepted_values("event_type", ["click", "view", "purchase", "signup"]),
            bounds("value", lo=0.0, hi=300.0),
            unique("event_id"),
            references("user_id", customer, "c_custkey"),
            freshness("ts", dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc), 24.0),
        ],
    )


@query(
    "events_rolling_actives_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM ud),
    cover AS (
      SELECT user_id, day + CAST(g.i AS INTEGER) AS day7
      FROM ud, LATERAL unnest(generate_series(0, 6)) AS g(i)
    ),
    wau AS (
      SELECT day7 AS day, COUNT(DISTINCT user_id) AS wau_7d
      FROM cover JOIN days ON cover.day7 = days.day
      GROUP BY 1
    ),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau_7d AS BIGINT) AS wau_7d,
           CAST(d.dau AS DOUBLE) / CAST(w.wau_7d AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def events_rolling_actives_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (daily WAU) + same-day DAU +
    the daily stickiness ratio — the trailing-window DISTINCT that a
    RANGE-frame window CANNOT express (count_distinct isn't a window
    aggregate): each distinct (user, day) observation is exploded to
    the 7 days it keeps the user active for, then one distinct-count
    per covered day. ``events_dau_mau`` is the calendar-grain cousin;
    this is the sliding-grain one.

    Determinism: pure integer counts over exact day arithmetic; the
    one stickiness division is double/double on identical operands.
    Covered days are clipped to OBSERVED activity days (the days CTE
    join), so no phantom trailing days appear.

    Scale: the fan-out is 7× the DISTINCT user-day table (already
    collapsed from raw events map-side), not 7× events; the
    distinct-count shuffles (user, day7) pairs with partial-distinct
    combines. The window-function formulation would need a global
    per-user sort AND still no distinct frame aggregate — the cover
    explode is the scale-correct shape.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # Cache the distinct user-day table: cover, days, and dau are
    # three independent consumers, and without the shared InMemory
    # relation each re-runs the events scan + distinct (the
    # docs_tfidf_topk cache precedent; (user_id, day) is ~12 B/row)
    ud = shared(
        e.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    days = ud.select("day").distinct()
    cover = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias(
            "day7"
        ),
    )
    wau = (
        cover.join(days, cover["day7"] == days["day"])
        .groupBy("day7")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return dau.join(wau, dau["day"] == wau["day7"]).select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau_7d").cast("long").alias("wau_7d"),
        (F.col("dau").cast("double") / F.col("wau_7d").cast("double")).alias(
            "stickiness"
        ),
    )


@query(
    "events_activity_bitmap",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    anchor AS (SELECT MIN(day) AS d0 FROM e),
    o AS (
      SELECT user_id, datediff('day', anchor.d0, day) AS off
      FROM e, anchor
      WHERE datediff('day', anchor.d0, day) BETWEEN 0 AND 61
    ),
    m AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << CAST(off AS INT)) AS mask
      FROM o GROUP BY 1
    ),
    s AS (
      SELECT user_id,
             bit_count(mask) AS n_active_days,
             CASE WHEN (mask & (mask >> 1) & (mask >> 2)) <> 0
                  THEN 1 ELSE 0 END AS has_streak3
      FROM m
    )
    SELECT CAST(n_active_days AS BIGINT) AS n_active_days,
           COUNT(*) AS n_users,
           CAST(SUM(has_streak3) AS BIGINT) AS n_streak3_users
    FROM s GROUP BY 1
    """,
)
def events_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index activity rollup (the roaring/groupBitmap family a
    retention stack runs at scale): each user's day-level activity is
    ONE 62-bit integer mask (bit i = active on corpus day i), built
    with the idempotent ``bit_or`` aggregate — no DISTINCT pass, no
    per-day rows after the map-side combine. Downstream questions
    become bit arithmetic: activity count = popcount, "3+ consecutive
    active days" = ``mask & mask>>1 & mask>>2 != 0`` — no window, no
    self-join, no sequence scan. Output: users histogrammed by active
    days with the 3-day-streak count per bucket.

    Determinism: the day anchor is the corpus MIN day (one-row
    broadcast, the q11 scalar precedent); offsets outside [0, 61]
    are excluded BY DECLARATION (the shipped corpora span 30 days, so
    the guard is a no-op that keeps the mask inside one BIGINT on any
    regenerated corpus). 2^off is exact for off <= 61 in both
    engines' integer shifts.

    Scale: day-distinct collapses map-side into (user, day) partials;
    bit_or combines map-side too (it is associative/commutative), so
    ONE user shuffle carries 8-byte masks, then a |histogram|-row
    rollup. At 100 TB this is the cheapest possible retention shape:
    state per user is constant regardless of event volume.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id", F.date_trunc("DAY", F.col("ts")).alias("day")
        )
    )
    anchor = e.agg(F.min("day").alias("d0"))
    o = (
        e.crossJoin(F.broadcast(anchor))
        .select(
            "user_id", F.datediff(F.col("day"), F.col("d0")).alias("off")
        )
        .filter((F.col("off") >= 0) & (F.col("off") <= 61))
    )
    m = o.groupBy("user_id").agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(off AS INT))")
        ).alias("mask")
    )
    streak = (
        (
            F.col("mask")
            .bitwiseAND(F.expr("shiftright(mask, 1)"))
            .bitwiseAND(F.expr("shiftright(mask, 2)"))
        )
        != 0
    ).cast("int")
    s = m.select(
        F.bit_count("mask").alias("n_active_days"),
        streak.alias("has_streak3"),
    )
    return s.groupBy(F.col("n_active_days").cast("long").alias("n_active_days")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("has_streak3").cast("long").alias("n_streak3_users"),
    )


# one-slot-per-corpus checkpoint of the distinct (user, day) frame
# (see _pair_cache.cached_pair_checkpoint)
_USER_DAY_CACHE: dict = {}


@query(
    "events_rolling_hll_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM ud),
    cover AS (
      SELECT user_id, day + CAST(g.i AS INTEGER) AS day7
      FROM ud, LATERAL unnest(generate_series(0, 6)) AS g(i)
    )
    SELECT CAST(days.day AS TIMESTAMP) AS day,
           COUNT(DISTINCT user_id) AS exact_wau_7d,
           'ok' AS merge_gate
    FROM cover JOIN days ON cover.day7 = days.day
    GROUP BY 1
    """,
)
def events_rolling_hll_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counts from MERGED partial sketches:
    per day, the trailing-7-day distinct users estimated by unioning
    the 7 daily HLL sketches — the query shape that makes sliding
    distinct counts O(1)-state at warehouse scale (store one KB-sized
    sketch per (day) partition; ANY window is a register merge — no
    raw re-scan, no (user, day7) pair shuffle). The exact cover-explode
    twin (``events_rolling_actives_7d``'s shape) runs beside it only
    to gate the estimate: like ``events_hll_rollup``, the
    oracle-checked statement is structural — the merged estimate sits
    within 3 sigma (3 * 1.04/sqrt(2^12) ~ 5%) of the exact trailing
    count, or the hash differs.

    Scale: daily sketches combine map-side; the sliding merge
    shuffles |days| x 7 sketch blobs instead of 7x the distinct
    user-day table — at 100 TB the exact branch is the one you drop,
    and the entry records exactly how much accuracy that costs.
    """
    import os as _os

    from ._pair_cache import cached_pair_checkpoint

    # the distinct (user, day) frame feeds three consumers (day list,
    # daily sketches, exact cover); a bare .cache() here pinned
    # executor storage for the rest of a 203-entry bench session
    # (ADVICE r09) — route through the one-slot-per-corpus checkpoint
    # helper instead: bounded, spill-friendly, replaced when the
    # corpus file changes
    def _build() -> DataFrame:
        e = load_table(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        return e.select(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        ).distinct()

    ud = cached_pair_checkpoint(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        _USER_DAY_CACHE,
        _build,
    )
    days = ud.select("day").distinct()
    daily_sk = ud.groupBy("day").agg(
        F.hll_sketch_agg("user_id", 12).alias("_sk")
    )
    # cover-explode the SKETCHES (7 rows per day, not per user-day)
    sk_cover = daily_sk.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day7"),
        "_sk",
    )
    merged = (
        sk_cover.join(days, sk_cover["day7"] == days["day"])
        .groupBy("day7")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"))
    )
    cover = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias(
            "day7"
        ),
    )
    exact = (
        cover.join(days, cover["day7"] == days["day"])
        .groupBy("day7")
        .agg(F.count_distinct("user_id").alias("exact_wau_7d"))
    )
    return exact.join(merged, "day7").select(
        F.col("day7").cast("timestamp").alias("day"),
        F.col("exact_wau_7d").cast("long").alias("exact_wau_7d"),
        _tol_gate("_est", "exact_wau_7d").alias("merge_gate"),
    )


# one materialized partitioned-fact copy per corpus generation (tag =
# source mtime+size); stale generations are removed on rebuild
_DPP_BUILT: set = set()


def _corpus_tag(sf_dir: str, st) -> tuple[str, str]:
    """(stale-cleanup prefix, generation tag) for warehouse copies of
    a corpus. The prefix hashes the FULL absolute corpus path, not
    just its basename — two corpora sharing a basename (/a/sf1 and
    /b/sf1) must never delete each other's materialized generations
    (ADVICE r10)."""
    import hashlib
    import os

    apath = os.path.abspath(sf_dir.rstrip("/"))
    h = hashlib.sha1(apath.encode()).hexdigest()[:8]
    prefix = f"{os.path.basename(apath).replace('.', '_')}_{h}_"
    return prefix, f"{prefix}{st.st_mtime_ns}_{st.st_size}"


def _dpp_base_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus generation) the star-schema layout
    the DPP entry demonstrates: the events fact written
    ``partitionBy("event_date")`` plus a tiny calendar dim parquet —
    the §2.2 K2 partitioned-write surface feeding a §2.4 dim join.
    Laid out under spark-warehouse/dpp_events/<tag>; a regenerated
    corpus gets a new tag and the old generation is deleted."""
    import os
    import shutil

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    root = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
        "dpp_events",
    )
    prefix, tag = _corpus_tag(sf_dir, st)
    base = os.path.join(root, tag)
    done = os.path.join(base, "dim", "_SUCCESS")
    if base in _DPP_BUILT or os.path.exists(done):
        _DPP_BUILT.add(base)
        return base
    for stale in os.listdir(root) if os.path.isdir(root) else []:
        if stale != tag and stale.startswith(prefix):
            shutil.rmtree(os.path.join(root, stale), ignore_errors=True)
    # build into a pid-suffixed temp dir and PUBLISH with one atomic
    # rename: a concurrent builder either wins the rename (we adopt
    # its copy) or loses (we drop ours) — never interleaved files
    # under the live tag (ADVICE r10)
    tmp = f"{base}.tmp{os.getpid()}"
    fact = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "value",
            F.to_date("ts").alias("event_date"),
        )
    )
    fact.write.mode("overwrite").partitionBy("event_date").parquet(
        os.path.join(tmp, "fact")
    )
    dim = (
        fact.select("event_date")
        .distinct()
        .select(
            "event_date",
            F.weekday("event_date").alias("dow"),
            (F.weekday("event_date") >= 5).alias("is_weekend"),
        )
    )
    dim.write.mode("overwrite").parquet(os.path.join(tmp, "dim"))
    try:
        os.rename(tmp, base)
    except OSError:
        # a concurrent builder published first — use its generation
        shutil.rmtree(tmp, ignore_errors=True)
    _DPP_BUILT.add(base)
    return base


@query(
    "events_dpp_weekend_scan",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
      AND isodow(CAST(date_trunc('day', ts) AS DATE)) IN (6, 7)
    GROUP BY 1
    """,
)
def events_dpp_weekend_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning demo (VERDICT r09 next-round 8): the
    classic star-schema runtime-filter shape — a date-PARTITIONED fact
    joined to a small filtered calendar dim on the partition column.
    Spark plants a DPP subquery in the fact scan's PartitionFilters
    (asserted by ``test_dpp_scan_prunes_partitions``), so only the
    weekend partitions' files are ever listed/read: at 100 TB a
    3-day dim filter over a 5-year partitioned fact reads 3
    directories, not 1825 — partition pruning decided at RUNTIME from
    the dim side, the capability ``partitionBy("date")`` writes exist
    to enable.

    Determinism: weekday is calendar arithmetic (Spark ``weekday`` =
    DuckDB ``isodow - 1``); aggregates are the standard count /
    distinct / DECIMAL(18,2)-quantized sum.

    Scale: the dim broadcast doubles as the DPP filter (broadcast
    reuse — zero extra scans); the fact side aggregates
    map-side-combined per partition-pruned date.
    """
    base = _dpp_base_dir(spark, sf_dir)
    import os

    fact = spark.read.parquet(os.path.join(base, "fact"))
    # the dim predicate must be a COMPARISON: Spark's PartitionPruning
    # rule gates on isLikelySelective(), which rejects a bare boolean
    # attribute (even `is_weekend = true` — the optimizer simplifies
    # it back) and accepts BinaryComparison — measured live on 4.1
    dim = (
        spark.read.parquet(os.path.join(base, "dim"))
        .filter(F.col("dow") >= 5)
        .select("event_date")
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("event_date").cast("timestamp").alias("day"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


# session-local record of bucketed tables already declared/written
_BUCKETED_READY: set = set()


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize (once per corpus generation) the CO-LOCATED join
    layout: the events fact and its per-user cohort profile both
    written ``bucketBy(8, user_id).sortBy(user_id)`` — the §2.2 K2
    write surface arranged so the join needs NO exchange on either
    side. Files live under spark-warehouse/bucketed/<tag>; a fresh
    session (in-memory catalog) re-DECLARES the bucket spec over the
    existing files with CREATE TABLE ... CLUSTERED BY ... LOCATION —
    exactly how production declares bucketed external tables."""
    import os

    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    prefix, tag = _corpus_tag(sf_dir, st)
    fact, prof = f"bkt_events_{tag}", f"bkt_users_{tag}"
    # memo is per Spark application: the in-memory catalog dies with
    # the session, so a table-name-only memo would short-circuit past
    # the re-declaration after an in-process session restart and
    # spark.table() would fail (review r10; the _pair_cache
    # applicationId-keyed slot is the same rule)
    memo_key = (spark.sparkContext.applicationId, fact)
    if memo_key in _BUCKETED_READY:
        return fact, prof
    root = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
        "bucketed",
        tag,
    )
    # drop stale corpus generations (the _dpp_base_dir discipline):
    # each rebuild gets a new tag; the old ones are a full fact copy
    import shutil

    parent = os.path.dirname(root)
    if os.path.isdir(parent):
        for stale in os.listdir(parent):
            if stale != tag and stale.startswith(prefix):
                shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)
    floc, ploc = os.path.join(root, "fact"), os.path.join(root, "prof")
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "value", F.to_date("ts").alias("day"))
    )
    have_files = os.path.exists(os.path.join(ploc, "_SUCCESS"))
    if not have_files:
        (
            e.write.mode("overwrite")
            .bucketBy(8, "user_id")
            .sortBy("user_id")
            .option("path", floc)
            .saveAsTable(fact)
        )
        prof_df = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
        (
            prof_df.write.mode("overwrite")
            .bucketBy(8, "user_id")
            .sortBy("user_id")
            .option("path", ploc)
            .saveAsTable(prof)
        )
    else:
        for name, loc, schema in (
            (fact, floc, "user_id BIGINT, value DOUBLE, day DATE"),
            (prof, ploc, "user_id BIGINT, cohort_day DATE"),
        ):
            if not spark.catalog.tableExists(name):
                spark.sql(
                    f"CREATE TABLE {name} ({schema}) USING PARQUET "
                    f"CLUSTERED BY (user_id) SORTED BY (user_id) "
                    f"INTO 8 BUCKETS LOCATION '{loc}'"
                )
    _BUCKETED_READY.add(memo_key)
    return fact, prof


@query(
    "events_bucketed_cohort_join",
    oracle="""
    WITH e AS (
      SELECT user_id, value, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    p AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
    SELECT CAST(p.cohort_day AS TIMESTAMP) AS cohort_day,
           COUNT(DISTINCT e.user_id) AS n_users,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM e JOIN p ON e.user_id = p.user_id
    GROUP BY 1
    """,
)
def events_bucketed_cohort_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join demo (the shuffle-elimination sibling
    of ``events_dpp_weekend_scan``): the events fact and its per-user
    cohort profile are both stored ``bucketBy(8, user_id)`` +
    ``sortBy``, so the fact-sized join runs as a SortMergeJoin over
    bucket-aligned scans with ZERO exchange on either input — the
    only shuffle in the whole query is the final cohort rollup
    (plan CI-pinned, ``test_bucketed_join_is_shuffle_free``). At
    100 TB this is the difference between re-shuffling the fact on
    every user-keyed join and paying the shuffle ONCE at write time:
    every downstream user-grain join (attribution, LTV, profile
    enrichment) rides the same bucketing.

    Determinism: cohort = MIN(day) per user; aggregates are the
    standard count / distinct / DECIMAL(18,2)-quantized sum.
    """
    fact, prof = _bucketed_tables(spark, sf_dir)
    f, p = spark.table(fact), spark.table(prof)
    return (
        f.join(p, "user_id")
        .groupBy("cohort_day")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "n_users",
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_skew_join_topvalues",
    oracle="""
    WITH e AS (
      SELECT DISTINCT
             CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END AS k,
             event_id, value
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    )
    SELECT e.k, e.event_id, e.value, c.c_mktsegment
    FROM e JOIN customer c ON e.k = c.c_custkey
    ORDER BY e.value DESC, e.event_id ASC
    LIMIT 10
    """,
)
def events_skew_join_topvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join demonstration (VERDICT r10 next-round 7; the
    runtime complement of the DPP and bucketed physical-layout demos):
    a sort-merge join whose probe side carries a PLANTED hot key —
    ~70% of events collapse onto the house account k = 1, the
    bot-traffic shape ``events_key_skew`` diagnoses — joined to the
    customer dim on that key. ``hint("merge")`` keeps the join a
    shuffle SMJ (the 100 TB shape: a billion-row customer dim is NOT
    broadcastable; this corpus's tiny dim would otherwise broadcast
    and hide the skew), and AQE's skew-join rule splits the hot
    partition into advisory-sized chunks at runtime, replicating the
    matching dim rows — ``test_aqe_skew_join_splits_hot_key``
    executes the plan under production-scaled thresholds and asserts
    ``skew=true`` on the SortMergeJoin, plus result-invariance vs the
    unsplit run.

    Two structural requirements make the split REACHABLE, and both
    are the documented design rules for skew-prone joins:

    * both join inputs are plain ENSURE_REQUIREMENTS shuffles —
      ``OptimizeSkewedJoin`` only rewrites Sort-over-bare-shuffle
      inputs, so an aggregate (or an explicit ``repartition``, whose
      partitioning is a user contract) BETWEEN shuffle and join makes
      AQE decline (measured here: the per-key-profile formulation
      never split at ANY threshold). The exactly-once full-row
      ``distinct`` sits BELOW the join's shuffle, which also gives
      the hot partition multi-mapper provenance — skew splitting
      works at map-output granularity, so a single-mapper input
      (one-row-group parquet at the test SF; never the case at
      production scale) is unsplittable, and the test accordingly
      floors ``coalescePartitions.minPartitionSize`` so the upstream
      stage keeps its width;
    * the terminal operator is a global top-10 (TakeOrdered — no
      required hash distribution): a post-join re-aggregation on k
      would again make AQE decline rather than insert a recovery
      shuffle (``forceOptimizeSkewedJoin`` stays off).

    Determinism: top-10 tie-breaks on the unique event_id.

    Scale: the hot key's reducer would otherwise serialize 70% of the
    fact — the r07 salting entry (``events_salted_user_totals``)
    solves this for AGGREGATES by rewriting the query; this entry is
    the zero-rewrite runtime answer for JOINS. Both sides shuffle
    once on k.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            F.when(F.col("user_id") % 10 < 7, F.lit(1))
            .otherwise(F.col("user_id"))
            .cast("long")
            .alias("k"),
            "event_id",
            "value",
        )
        .distinct()
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"), "c_mktsegment"
    )
    return (
        e.join(c.hint("merge"), "k")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(10)
        .select("k", "event_id", "value", "c_mktsegment")
    )
