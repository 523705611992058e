"""Multi-join / decorrelation TPC-H-shaped family (SURVEY §2.4 J1/J3,
§2.5 A10, §4 optimizer parity).

The reference's only joins are a broadcast dim lookup and a semi-join
(``/root/reference/process_wistia_data.py:441,456-458``); these entries
exercise the join/aggregation surface a warehouse user actually runs on
the same star schema: multi-hop dim chains (q7/q8/q9), outer-join
distributions (q13), grouped-HAVING semi-joins (q18), scalar-subquery
thresholds (q15/q17/q22), and NOT-IN exclusion (q16) — each expressed
declaratively so Catalyst decorrelates / reorders, with the small dim
sides broadcast explicitly.

Scale rules used throughout (see SCALE.md):

- **Filter dims before the fact join.** The two-nation predicate in q7
  lands on `nation` (25 rows) and cuts supplier/customer BEFORE
  lineitem is touched — at 100 TB this is the difference between
  shuffling 4% of the fact's join partners and all of them.
- **Broadcast the dim chain** (region→nation→supplier): always ≤ a few
  MB after filtering. Customer/orders joins stay shuffle hash joins on
  the key; AQE converts to broadcast when a filter makes a side small.
- **Decorrelate scalar subqueries as aggregate+join**, the plan
  Catalyst would pick for the SQL form: per-key thresholds (q17) are a
  map-side-combinable agg on the probe's own key, global thresholds
  (q15/q22) a 1-row broadcast.
- **Decimal-exact money** per the catalog determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .catalog import dec, one, query

_VOL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def _volume() -> F.Column:
    return dec("l_extendedprice") * (one() - dec("l_discount", 4, 2))


@query(
    "q7_nation_trade",
    oracle=f"""
    WITH v AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             {_VOL} AS volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_20')
          OR (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_19'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM v GROUP BY 1, 2, 3
    """,
)
def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shape: bidirectional trade volume between two nations.

    Scale: the 2-row filtered nation dim is broadcast into supplier and
    customer, shrinking both to ~2/25 BEFORE the fact joins; the
    filtered supplier side is broadcast into lineitem (no shuffle), so
    the only big exchange is lineitem⋈orders on the order key. The
    nation-pair disjunction runs on two tiny joined columns, after the
    date filter pushed into the scan.
    """
    pair = ("NATION_19", "NATION_20")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        F.sum(_volume()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH v AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             {_VOL} AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_19'
                                  THEN volume END), 0) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lines
    FROM v GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shape: one nation's share of a region's ECONOMY-part
    revenue per year (conditional-sum ratio).

    Scale: region→nation→customer is a broadcast chain; the part filter
    broadcasts too (1/6 of part). lineitem⋈orders is the one big
    exchange. The share is two partial-aggregable sums — no second pass.
    """
    n2 = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem")
    joined = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    vol = _volume()
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_19", vol))
    return joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        (
            F.coalesce(nation_vol, F.lit(0).cast("decimal(12,2)")).cast("double")
            / F.sum(vol).cast("double")
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM({_VOL}
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(0.10 AS DECIMAL(4,2))) AS DOUBLE) AS profit,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shape: profit (revenue minus a 10%-of-retail cost proxy
    for the missing partsupp.ps_supplycost) by supplier nation × year
    over '%widget%' parts.

    Scale: part filter + supplier→nation chain broadcast; lineitem⋈
    orders is the only shuffle join; profit terms are decimal-exact and
    fold into one map-side-combinable SUM.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem")
    profit_term = _volume() - dec("p_retailprice") * dec("l_quantity") * F.lit(
        0.10
    ).cast("decimal(4,2)")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(profit_term).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q10_returned_revenue_topk",
    oracle=f"""
    SELECT c_custkey, c_name, n_name AS nation,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           CAST(SUM({_VOL}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shape: top-20 customers by returned-line revenue in a
    half-year window.

    Scale: returnflag + date predicates push into the scans; customer⋈
    nation broadcasts; orders⋈lineitem shuffles on the order key; the
    final top-20 is a TakeOrdered (per-partition heaps, no global
    sort), tie-broken on the unique custkey.
    """
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("nation")
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "nation", "c_acctbal")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01 00:00:00")))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "nation", "c_acctbal")
        .agg(F.sum(_volume()).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shape: distribution of non-urgent order counts per
    customer, zero-order customers included (the outer-join case the
    reference never exercises).

    Scale: one shuffle join on custkey (COUNT(col) skips the nulls the
    left join injects), one map-side-combinable re-agg on the tiny
    c_count domain.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_VOL}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shape: supplier(s) achieving the max half-year revenue
    (global scalar-subquery threshold, ties kept).

    Scale: revenue agg shuffles once on suppkey; the MAX is a 1-row
    global agg broadcast back over the per-supplier revenues, then a
    broadcast join against the supplier dim. Revenue equality is exact:
    both engines compare the same decimal-sum-cast-double value.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-07-01 00:00:00")))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_volume()).cast("double").alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
      )
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shape: distinct-supplier variety per part descriptor,
    excluding one brand and an exclusion list of suppliers (the NOT-IN
    → broadcast anti-join decorrelation).

    Scale: the exclusion list (suppliers below balance) broadcasts as
    an anti-join build side; part broadcasts into lineitem. DISTINCT
    inside the agg expands to a two-phase (partial-distinct, merge)
    plan on the 3-column grain — no row explosion.
    """
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#13")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
    WITH li_promo AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    ),
    pa AS (
      SELECT l_partkey AS a_partkey,
             0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                    / COUNT(*)) AS half_avg
      FROM li_promo GROUP BY 1
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM li_promo JOIN pa ON l_partkey = a_partkey
    WHERE CAST(l_quantity AS DOUBLE) < half_avg
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shape: revenue share of below-half-average-quantity
    lines for PROMO parts (correlated AVG subquery, decorrelated).

    Scale: the PROMO part list broadcasts as a semi-join so BOTH the
    threshold agg and the probe read only the filtered fact slice (the
    correlated subquery's semantics, without scanning lineitem twice in
    full). The per-part threshold is a map-side-combinable agg re-joined
    on the same key — AQE plans it broadcast when the part count is
    small. One deterministic double division per side of the compare.
    """
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    pa = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.lit(0.5)
            * (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("half_avg")
    )
    return (
        li.join(pa, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity").cast("double") < F.col("half_avg"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shape: orders whose total quantity exceeds a threshold,
    with their customers (grouped-HAVING feeding an IN → semi-join).

    Scale: the HAVING agg shuffles lineitem once on orderkey; the
    surviving keys semi-join back (AQE broadcasts them — the selective
    side). The outer re-agg reuses the same orderkey partitioning, and
    the customer dim join is broadcast.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 200)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        l.join(big, F.col("l_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
    )


@query(
    "q22_dormant_customers",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY 1
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shape: above-average-balance customers with no recent
    orders, counted per nation (global scalar threshold + NOT EXISTS
    anti-join).

    Scale: the average is a 1-row global agg cross-broadcast over
    customer; the NOT EXISTS decorrelates to an anti-join against the
    date-filtered orders (filter pushed to the scan, AQE broadcasts the
    build when selective). One final shuffle on the 25-value nation
    grain.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01 00:00:00")))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# --- the final four TPC-H shapes (q2/q11/q20/q21) ---------------------------
# The driver schema has no partsupp table, so the three stock-keeping
# queries keep their DEFINING decorrelation shape with lineitem as the
# supply relation (per-(part,supplier) facts); q21's lateness predicate
# uses shipdate-vs-orderdate (no commit/receipt dates in the schema).
# With these, every TPC-H query shape (1-22) has a catalog entry.


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH s_eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    supply AS (
      SELECT l_partkey, s_name, n_name,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supply_cost
      FROM lineitem JOIN s_eu ON l_suppkey = s_suppkey
      GROUP BY 1, 2, 3
    ),
    sized AS (
      SELECT p_partkey, p_name, s_name, n_name, supply_cost
      FROM supply JOIN part ON l_partkey = p_partkey
      WHERE p_size BETWEEN 10 AND 20
    ),
    mc AS (
      SELECT p_partkey AS mk, MIN(supply_cost) AS min_cost
      FROM sized GROUP BY 1
    )
    SELECT p_partkey, p_name, s_name, n_name,
           CAST(supply_cost AS DOUBLE) AS supply_cost
    FROM sized JOIN mc ON p_partkey = mk AND supply_cost = min_cost
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shape: the minimum-cost supplier per mid-size part
    within one region (the correlated MIN subquery, decorrelated as
    per-part aggregate + equality join-back on exact DECIMAL cost).

    Scale: region→nation→supplier is a broadcast chain (≤ supplier
    size); the only fact-sized shuffle is the (part, supplier) supply
    aggregation, map-side combinable on a 2-key grain. The per-part
    min is a second tiny agg on the already-aggregated supply rows,
    joined back broadcast. Cost equality compares DECIMAL(12,2) —
    exact in both engines, no double-boundary flakiness.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    supply = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", dec("l_extendedprice").alias("_c"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_name", "n_name")
        .agg(F.min("_c").alias("supply_cost"))
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
    )
    sized = supply.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    mc = sized.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    return sized.join(
        mc,
        (F.col("p_partkey") == F.col("mk"))
        & (F.col("supply_cost") == F.col("min_cost")),
    ).select(
        "p_partkey",
        "p_name",
        "s_name",
        "n_name",
        F.col("supply_cost").cast("double").alias("supply_cost"),
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH sn AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
    ),
    v AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
      FROM lineitem JOIN sn ON l_suppkey = s_suppkey
      GROUP BY 1
    ),
    tot AS (SELECT SUM(value_dec) AS total, COUNT(*) AS n FROM v)
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM v, tot
    WHERE CAST(value_dec AS DOUBLE) > 2.0 * CAST(total AS DOUBLE) / n
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shape: parts whose supply value within one region
    exceeds a fraction of the regional total (the global scalar
    subquery threshold, decorrelated as a 1-row broadcast cross join).
    The fraction is scale-free — 2× the mean per-part value, i.e.
    TPC-H's own FRACTION=0.0001/SF device — so the entry returns a
    non-degenerate row set at every test SF.

    Scale: one map-side-combinable per-part DECIMAL sum over the
    semi-joined fact slice; the total re-aggregates the per-part rows
    (not the fact) and broadcasts as a single row. Both sums are
    exact DECIMAL — only the final threshold compare converts to
    double, identically in both engines.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    v = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", dec("l_extendedprice").alias("_p"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum("_p").alias("value_dec"))
    )
    tot = v.agg(F.sum("value_dec").alias("total"), F.count(F.lit(1)).alias("n"))
    return (
        v.join(F.broadcast(tot))
        .filter(
            F.col("value_dec").cast("double")
            > F.lit(2.0) * F.col("total").cast("double") / F.col("n")
        )
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


@query(
    "q20_excess_supply",
    oracle="""
    WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    sp AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS supp_qty
      FROM lineitem JOIN promo ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    pt AS (
      SELECT l_partkey AS pk, SUM(supp_qty) AS part_qty,
             COUNT(*) AS n_supp
      FROM sp GROUP BY 1
    ),
    excess AS (
      SELECT l_suppkey, COUNT(*) AS n_excess_parts
      FROM sp JOIN pt ON l_partkey = pk
      WHERE CAST(supp_qty AS DOUBLE) * n_supp > 1.8 * CAST(part_qty AS DOUBLE)
      GROUP BY 1
    )
    SELECT s_name, n_name, n_excess_parts
    FROM excess
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
    """,
)
def q20_excess_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shape: suppliers in one region holding an outsized
    share of any PROMO part's supply (the nested semi-join chain:
    part filter → per-(part,supplier) agg → per-part threshold →
    supplier semi-join). The threshold is scale-free — 1.8× the mean
    share among the part's own suppliers — so the row set stays
    non-degenerate at every test SF.

    Scale: the PROMO part list broadcasts as a semi-join before the
    fact agg; the per-part total re-aggregates the (part, supplier)
    rows, so the fact is scanned once. The share compare converts the
    exact DECIMAL sums to double identically in both engines.
    """
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    sp = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", dec("l_quantity").alias("_q"))
        .join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("_q").alias("supp_qty"))
    )
    pt = sp.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("supp_qty").alias("part_qty"), F.count(F.lit(1)).alias("n_supp")
    )
    excess = (
        sp.join(pt, F.col("l_partkey") == F.col("pk"))
        .filter(
            F.col("supp_qty").cast("double") * F.col("n_supp")
            > F.lit(1.8) * F.col("part_qty").cast("double")
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    return excess.join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("s_name", "n_name", "n_excess_parts")


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS INT) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS ns,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nl,
             MIN(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
      FROM l GROUP BY 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM per_order JOIN supplier ON late_supp = s_suppkey
    WHERE ns >= 2 AND nl = 1
    GROUP BY 1
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order (the double correlated EXISTS /
    NOT-EXISTS, decorrelated into one per-order aggregate: another
    supplier exists ⇔ distinct suppliers ≥ 2; no other late supplier
    ⇔ distinct late suppliers = 1). Lateness = shipped >90 days after
    the order date (this schema has no commit/receipt dates).

    Scale: ONE shuffle on the order key computes all three per-order
    facts (vs. the literal EXISTS form's two extra self-joins of the
    fact); the supplier name join is broadcast. The MIN over late
    supplier keys is deterministic because the nl=1 filter makes the
    set a singleton.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("late"),
        )
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"),
        F.min(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("ns") >= 2) & (F.col("nl") == 1))
        .join(F.broadcast(s), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "orders_market_basket",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS support
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support
    FROM pairs
    ORDER BY support DESC, part_a, part_b
    LIMIT 25
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 25 most-frequent part pairs
    bought in the same order (association-rule support counting).

    Scale: the pair space is generated ORDER-LOCALLY — the distinct
    part set per order is collected into a basket array (one
    map-side-combinable collect_set shuffle on the order key) and
    C(m,2) pairs expand with an array comprehension, exactly the
    ``orders_basket_lift``/``bucket_pairs`` shape. No part-key
    self-join ever happens (the r11 rewrite: the old distinct +
    self-equi-join scanned lineitem twice and paid the distinct
    exchange twice before re-shuffling for the join); support
    counting is one shuffle on the pair; the top-25 is a TakeOrdered
    heap, not a global sort. Identical pair multiset: collect_set ==
    per-order DISTINCT, and part_a < part_b enumerates each
    unordered pair exactly once.
    """
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("_parts"))
        # single-part baskets emit no pairs either way; dropping them
        # before the Generates skips their rows entirely
        .filter(F.size("_parts") >= 2)
    )
    # pair expansion as TWO codegen'd Generates — anchor each element
    # by position, then explode the strictly-later suffix of the
    # sorted-distinct array. Same C(m,2) pair multiset as the previous
    # nested transform/flatten/filter form (sorted distinct parts ⇒
    # suffix elements are exactly the part_b > part_a set), but
    # higher-order-function lambdas evaluate INTERPRETED and allocate
    # the full m×m struct array per basket before filtering; the
    # Generate form allocates nothing and stays in whole-stage codegen
    # (plans before/after: plans/r12/orders_market_basket_*.txt).
    return (
        baskets.select(
            "_parts", F.posexplode("_parts").alias("_i", "part_a")
        )
        .select(
            "part_a",
            F.explode(
                F.slice(
                    "_parts", F.col("_i") + F.lit(2), F.size("_parts")
                )
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(25)
    )


@query(
    "nation_yoy_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             SUM({_VOL}) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT nation, o_year, rev,
             lag(rev) OVER (PARTITION BY nation ORDER BY o_year) AS prev
      FROM rev
    )
    SELECT nation, o_year,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS yoy_growth
    FROM w
    """,
)
def nation_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the trend
    layer every revenue dashboard puts on top of the q7-style rollup:
    decimal-exact yearly revenue, then a lag-1 window along the year
    axis; growth = (rev - prev) / prev (NULL for each nation's first
    year, in both engines).

    Determinism: the yearly revenue is an exact decimal sum; decimal
    addition is exact and associative, so pre-aggregating per
    (custkey, year) and re-summing per (nation, year) is bit-identical
    to the one-shot sum; the lag/subtraction stay in decimal and ONE
    double division computes the ratio identically in both engines.

    Scale: lineitem⋈orders is the only fact-sized join and orders
    broadcasts under it at driver SFs; revenue is PRE-AGGREGATED to
    (custkey, year) BEFORE the customer join (guide §2.3 — the r12
    rewrite: the previous shape shuffled the full lineitem-grain rows
    into the customer join; now the fact-grain rows no longer reach
    that join, whose input is bounded by |customers|×|years| partials.
    The rewrite ADDS one exchange: the map-side-combined (custkey,
    year) aggregate shuffles its partials, and one more exchange
    re-keys them on custkey below the customer join — 4 → 5 in
    plans/r12/nation_yoy_revenue_{before,after}.txt, 2 → 3 in
    tests/plan_pins.json), customer⋈nation is a broadcast chain; the
    trend window partitions by nation over the AGGREGATED (nation,
    year) table — tiny. Both aggs are map-side combinable.
    """
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "nation")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = load_table(spark, sf_dir, "lineitem")
    cust_rev = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(F.sum(_volume()).alias("_crev"))
    )
    rev = (
        cust_rev.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("nation", "o_year")
        .agg(F.sum("_crev").alias("rev"))
    )
    from pyspark.sql import Window as W

    prev = F.lag("rev").over(W.partitionBy("nation").orderBy("o_year"))
    return rev.select(
        "nation",
        "o_year",
        F.col("rev").cast("double").alias("revenue"),
        (
            (F.col("rev") - prev).cast("double") / prev.cast("double")
        ).alias("yoy_growth"),
    )


@query(
    "orders_delivery_percentiles",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           quantile_disc(date_diff('day', o_orderdate, l_shipdate), 0.50)
             AS p50_delay_days,
           quantile_disc(date_diff('day', o_orderdate, l_shipdate), 0.90)
             AS p90_delay_days,
           quantile_disc(date_diff('day', o_orderdate, l_shipdate), 0.99)
             AS p99_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def orders_delivery_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay percentiles per order priority (the SLA /
    fulfillment dashboard): exact percentile_disc over integer day
    deltas — order statistics on data values, so nothing can drift
    between engines (the events_percentiles rule applied to date
    arithmetic).

    Scale: lineitem⋈orders is the one fact shuffle; exact per-group
    percentiles sort within the 5 priority groups (skew-safe: 5 big
    sorted groups parallelize via AQE skew splitting; the approx
    twin for the billions-per-group regime is approx_percentile,
    gated at events_approx_percentiles).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("_delay"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY _delay)")
        .cast("long")
        .alias("p50_delay_days"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY _delay)")
        .cast("long")
        .alias("p90_delay_days"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY _delay)")
        .cast("long")
        .alias("p99_delay_days"),
    )


@query(
    "orders_abc_pareto",
    oracle="""
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
               AS revenue
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT o_custkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(revenue) OVER () AS total_rev
      FROM r
    ),
    k AS (
      SELECT revenue,
             CASE WHEN cum_rev * 100 <= total_rev * 80 THEN 'A'
                  WHEN cum_rev * 100 <= total_rev * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             total_rev
      FROM c
    )
    SELECT abc_class,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(revenue) AS DECIMAL(18,2)) AS DOUBLE) AS class_revenue,
           CAST(CAST(SUM(revenue) AS DECIMAL(18,2)) AS DOUBLE)
             / CAST(ANY_VALUE(total_rev) AS DOUBLE) AS revenue_share
    FROM k GROUP BY abc_class
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of customers by lifetime revenue:
    rank customers by revenue, take the running share of total, label
    the head that carries ≤80% of revenue 'A', the next slice to 95%
    'B', the tail 'C' — the inventory-management classic applied to
    the customer dimension.

    Determinism: revenue and both the running and total sums stay in
    DECIMAL end-to-end; the class boundaries compare
    ``cum·100 ≤ total·k`` in exact decimal (no division, no float
    threshold); the only doubles are the two final reporting casts,
    and the one share division is written identically in both engines.

    Scale: the per-customer rollup is the real shuffle (map-side
    combinable). The cumulative share is a single-partition window
    over one row per customer — at 1B customers that's the documented
    two-phase pattern (partition partial sums + broadcast offsets);
    at catalog scale Spark's one-reducer window is exact and cheap.
    The class rollup is 3 rows.
    """
    from pyspark.sql import Window as W

    r = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice")).cast("decimal(18,2)").alias("revenue"))
    )
    wc = (
        W.orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = r.select(
        "o_custkey",
        "revenue",
        F.sum("revenue").over(wc).alias("cum_rev"),
        F.sum("revenue").over(W.partitionBy()).alias("total_rev"),
    )
    k = c.select(
        "revenue",
        F.when(
            F.col("cum_rev") * 100 <= F.col("total_rev") * 80, "A"
        )
        .when(F.col("cum_rev") * 100 <= F.col("total_rev") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "total_rev",
    )
    return k.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("revenue").cast("decimal(18,2)").cast("double").alias("class_revenue"),
        (
            F.sum("revenue").cast("decimal(18,2)").cast("double")
            / F.any_value("total_rev").cast("double")
        ).alias("revenue_share"),
    )
