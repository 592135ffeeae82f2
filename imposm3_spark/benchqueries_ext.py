"""Extended relational + temporal + clustering query surface (round 2).

Registered into the same QUERIES/ORACLES registry as benchqueries. Three
groups:

* ``tpch_*`` — the remaining TPC-H operator shapes expressible on the
  driver's simplified schema (no partsupp / commitdate): left-outer
  count distribution (q13), conditional-aggregate share (q14), window
  max-equality (q15), distinct-count + NOT IN (q16), correlated avg
  (q17), disjunctive pushdown (q19), nested semi (q20), nation-pair
  (q7), profit (q9), returned-items top-k (q10).
* ``events_*`` — rollup/grouping, gap-based sessionization, exact
  group quantiles, as-of join, banded range join, set ops.
* ``emb_neardup_clusters`` — connected components over the near-dup
  pair graph (iterative label propagation; oracle = recursive CTE).

Every query aliases result columns identically in Spark and SQL so the
driver's sorted-column value hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imposm3_spark.benchqueries import (
    ORACLES,
    QUERIES,
    _cents_sum,
    _rev_e4,
    _t,
    register,
)
from imposm3_spark.datapipe import similarity as sim
from imposm3_spark.datapipe.asof import asof_join, range_count_join
from imposm3_spark.datapipe.cluster import connected_components


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# TPC-H analogs (adapted to the driver's simplified star schema)
# ---------------------------------------------------------------------------


@register(
    "tpch_q7_volume",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE (cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
       OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-pair shipping volume: two broadcast dims aliased twice; the
    nation filter cuts the fact rows before the wide join output exists."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cn, F.col("c_nationkey") == F.col("cnk"))
        .join(sn, F.col("s_nationkey") == F.col("snk"))
        .filter(
            ((F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2"))
            | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
        )
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(_rev_e4().alias("revenue"))
    )


@register(
    "tpch_q9_profit",
    """
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                     - 0.4 * p_retailprice * l_quantity) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS profit
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN part     ON l_partkey = p_partkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'PROMO'
    GROUP BY 1, 2
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-profit by supplier nation and year; the selective part filter
    is pushed below the fact joins (semi-reduces lineitem first)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.round(
                        (
                            F.col("l_extendedprice") * (1 - F.col("l_discount"))
                            - 0.4 * F.col("p_retailprice") * F.col("l_quantity")
                        )
                        * 10000
                    ).cast("bigint")
                ).cast("double")
                / F.lit(10000.0)
            ).alias("profit")
        )
    )


@register(
    "tpch_q10_returns",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
           n_name, c_mktsegment
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1996-01-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(_rev_e4().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name", "c_mktsegment")
    )


@register(
    "tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving zero-order customers, then a distribution
    re-aggregation (two shuffles; second input is one row per customer)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q14_promo",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q15_topsupp",
    """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def tpch_q15_topsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier via max-equality (ties kept, deterministic) — the
    scalar-subquery shape; Spark form: unpartitioned window max, which AQE
    executes as a single-row broadcast, not a global sort."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(_rev_e4().alias("total_rev"))
    )
    w = Window.partitionBy()
    top = rev.withColumn("__mx", F.max("total_rev").over(w)).filter(
        F.col("total_rev") == F.col("__mx")
    )
    return (
        F.broadcast(top)
        .join(s, F.col("s_suppkey") == F.col("suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "tpch_q16_suppcnt",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20, 25, 30)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def tpch_q16_suppcnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count + NOT IN: the exclusion list is a broadcast anti-join
    (key set is null-free, so anti == NOT IN)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_smallqty",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS BIGINT))
                                            AS DOUBLE) / count(*))
                        FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def tpch_q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery de-correlated into a per-part aggregate +
    join — one extra shuffle over lineitem instead of a per-row subquery."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (
            0.5
            * (F.sum(F.col("l_quantity").cast("bigint")).cast("double") / F.count("*"))
        ).alias("half_avg")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("ak") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg((_cents_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "tpch_q19_disjunct",
    """
    SELECT CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-attribute predicate: Catalyst extracts the common
    subexpressions (quantity bounds push to the lineitem scan, size/brand
    bounds to the part scan) before evaluating the OR post-join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        _rev_e4().alias("revenue")
    )


@register(
    "tpch_q20_nested_semi",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey HAVING sum(l_quantity) > 300)
    """,
)
def tpch_q20_nested_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN over an aggregated subquery -> semi join on the HAVING survivors."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    heavy = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_suppkey")
    )
    return s.join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name"
    )


# ---------------------------------------------------------------------------
# events: rollup, sessionization, quantiles, temporal joins, set ops
# ---------------------------------------------------------------------------


@register(
    "events_rollup",
    """
    WITH ev AS (
      SELECT event_type, CAST(date_part('hour', ts) AS INT) AS hr, value FROM events
    )
    SELECT event_type, hr, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value,
           CAST(grouping(event_type) AS INT) AS g_type,
           CAST(grouping(hr) AS INT) AS g_hr
    FROM ev GROUP BY ROLLUP (event_type, hr)
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (type, hour) with grouping indicators — the
    multi-level aggregate surface (computed in one pass, map-side partial)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hr"), "value"
    )
    return ev.rollup("event_type", "hr").agg(
        F.count("*").alias("n"),
        _cents_sum("value").alias("total_value"),
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("hr").cast("int").alias("g_hr"),
    )


@register(
    "events_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> boundary flag ->
    running sum = session id. One shuffle on user_id serves both windows and
    the final aggregate (same partitioning, Catalyst reuses the exchange)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "lineitem_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS q25,
           round(quantile_cont(l_quantity, 0.5), 4) AS q50,
           round(quantile_cont(l_quantity, 0.75), 4) AS q75,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS mean
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated group quantiles (Spark `percentile` == DuckDB
    `quantile_cont`). At 100 TB swap in percentile_approx (t-digest sketch,
    mergeable map-side) — exact form kept here for oracle equality."""
    li = _t(spark, sf_dir, "lineitem")
    qs = F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            qs.alias("q"),
            (F.sum(F.col("l_quantity").cast("bigint")).cast("double") / F.count("*")).alias(
                "mean"
            ),
        )
        .select(
            "l_returnflag",
            F.round(F.col("q")[0], 4).alias("q25"),
            F.round(F.col("q")[1], 4).alias("q50"),
            F.round(F.col("q")[2], 4).alias("q75"),
            "mean",
        )
    )


@register(
    "events_asof_order",
    """
    WITH ord AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate
    FROM events e ASOF LEFT JOIN ord o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator the reference lacks): latest order at or before
    each event, per user. Union-merge plan — one shuffle, no row blow-up
    (see datapipe/asof.py). Right side deduped per (key, time) so ties are
    deterministic on both engines."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
        .withColumnRenamed("o_orderdate", "last_orderdate")
    )
    return asof_join(
        ev,
        o.withColumnRenamed("o_custkey", "user_id"),
        on="user_id",
        left_time="ts",
        right_time="last_orderdate",
        right_payload=["last_orderkey", "last_orderdate"],
    )


@register(
    "orders_events_7d",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, count(e.event_id) AS n_in_range
    FROM orders o LEFT JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_custkey < 100
    GROUP BY 1, 2, 3
    """,
)
def orders_events_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: events within 7 days after each order. The equi
    key (user) bounds the band blow-up; AQE splits skewed users."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    ev = _t(spark, sf_dir, "events")
    return range_count_join(
        o,
        ev,
        on_left="o_custkey",
        on_right="user_id",
        right_time="ts",
        lo=F.col("o_orderdate"),
        hi=F.col("o_orderdate") + F.expr("INTERVAL 7 DAY"),
    )


@register(
    "cust_active_both_years",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 2000
    """,
)
def cust_active_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select(F.col("o_custkey").alias("c_custkey"))
    y00 = o.filter(F.year("o_orderdate") == 2000).select(F.col("o_custkey").alias("c_custkey"))
    return y95.intersect(y00)


@register(
    "cust_new_in_2001",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 2001
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) < 2001
    """,
)
def cust_new_in_2001(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference): customers whose first order is in 2001.

    Fixture note (round-7 zero-row audit): non-empty only at sf0.01 (3
    rows) — the fixture gives customers ~10 orders spread over the whole
    date range, so 'first order this late' is rare. The EXCEPT operator
    keeps a robust all-SF exercise in cust_except_months below."""
    o = _t(spark, sf_dir, "orders")
    y01 = o.filter(F.year("o_orderdate") == 2001).select(F.col("o_custkey").alias("c_custkey"))
    before = o.filter(F.year("o_orderdate") < 2001).select(F.col("o_custkey").alias("c_custkey"))
    return y01.subtract(before)


@register(
    "cust_except_months",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE month(o_orderdate) = 7
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE month(o_orderdate) = 1
    """,
)
def cust_except_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference) with a predicate that's non-empty at every
    SF (38 / 344 / 3660 rows at sf0.001/0.01/0.1): customers ordering in
    July but never in January. Registered alongside cust_new_in_2001 after
    the round-7 zero-row audit showed that one only exercises EXCEPT at
    sf0.01."""
    o = _t(spark, sf_dir, "orders")
    jul = o.filter(F.month("o_orderdate") == 7).select(F.col("o_custkey").alias("c_custkey"))
    jan = o.filter(F.month("o_orderdate") == 1).select(F.col("o_custkey").alias("c_custkey"))
    return jul.subtract(jan)


# ---------------------------------------------------------------------------
# skew-safe combinators (datapipe/skew.py): salted two-phase agg + salted
# join must be EXACTLY the plain GROUP BY / JOIN — the oracles are the
# unsalted SQL, so any row lost or duplicated by the salting is a hash miss
# ---------------------------------------------------------------------------


@register(
    "events_salted_agg",
    """
    SELECT event_type,
           count(event_id) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
           max(value) AS max_v
    FROM events GROUP BY event_type
    """,
)
def events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on the (deliberately low-cardinality,
    skew-prone) event_type key: partials over (key, salt=hash(row)%16)
    then merge per key — the GROUP BY analog of AQE's skew-join split,
    which AQE itself cannot do for aggregations."""
    from imposm3_spark.datapipe import skew

    ev = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    out = skew.salted_agg(
        ev,
        keys=["event_type"],
        aggs={"n": ("event_id", "count"), "total_c": ("cents", "sum"), "max_v": ("value", "max")},
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        (F.col("total_c").cast("double") / F.lit(100.0)).alias("total"),
        "max_v",
    )


@register(
    "orders_salted_join",
    """
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def orders_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicate join: orders rows explode 8x keyed (orderkey,
    salt); each lineitem takes one deterministic salt — a hot orderkey
    spreads over 8 reducers. Result must equal the plain join exactly.
    (Full replication is the blunt instrument; see orders_hotkey_join for
    the measured-skew split that pays nothing on cold keys.)"""
    from imposm3_spark.datapipe import skew

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = skew.salted_broadcast_join(li, o, key="l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("rev_c"),
    )


def _sql_zorder(bits: int = 8) -> str:
    cells = (1 << bits) - 1
    terms = " + ".join(
        f"(((qx >> {b}) & 1) * {1 << (2 * b)}) + (((qy >> {b}) & 1) * {1 << (2 * b + 1)})"
        for b in range(bits)
    )
    return f"""
    WITH q AS (
      SELECT event_id,
        CAST(round(least(greatest((value - 0.0) / 1000.0, 0.0), 1.0) * {cells}.0) AS BIGINT) AS qx,
        CAST(round(least(greatest((CAST(user_id % 1000 AS DOUBLE) - 0.0) / 1000.0, 0.0), 1.0) * {cells}.0) AS BIGINT) AS qy
      FROM events WHERE event_id < 3000
    )
    SELECT event_id, CAST({terms} AS BIGINT) AS zkey FROM q
    """


@register("osm_zorder_key", _sql_zorder())
def osm_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key as a pure expression tree (geom/spatial_index) —
    the write-path clustering key that makes parquet row-group min/max
    stats prune spatial bbox queries at 100 TB. Value-checked bit-for-bit
    against the same interleave in SQL."""
    from imposm3_spark.geom.spatial_index import zorder_key

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    key = zorder_key(
        F.col("value"),
        (F.col("user_id") % 1000).cast("double"),
        bbox=(0.0, 0.0, 1000.0, 1000.0),
        bits=8,
    )
    return ev.select("event_id", key.alias("zkey"))


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------


@register(
    "emb_neardup_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ), reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, min(lbl) AS component FROM reach GROUP BY node
    """,
)
def emb_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components (min-label propagation) over
    embedding near-dup pairs; component id = min vec_id reachable. Oracle =
    exact reachability via recursive CTE."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = sim.cosine_neardup_pairs(e, threshold=0.4)
    return connected_components(
        e.select("vec_id"), pairs, node_col="vec_id", src="a_id", dst="b_id"
    )


def _sampled_neardup_sql() -> str:
    from imposm3_spark.datapipe.evaluation import sampled_table_sql

    return sampled_table_sql(
        ORACLES["emb_neardup_clusters"], table="embeddings", id_col="vec_id", mod=2
    )


@register("emb_neardup_clusters_sampled", _sampled_neardup_sql())
def emb_neardup_clusters_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_neardup_clusters on the deterministic 1/2 embedding sample:
    the pair graph's exact all-pairs stage is quadratic, so the eval gets
    the same md5-bucket `sample_frac` knob as the other pairwise truths
    (pair cost 1/4, engine-portable, filter pushed below the matmul)."""
    from imposm3_spark.datapipe.evaluation import deterministic_sample

    e = deterministic_sample(_t(spark, sf_dir, "embeddings"), id_col="vec_id", mod=2)
    pairs = sim.cosine_neardup_pairs(e, threshold=0.4)
    return connected_components(
        e.select("vec_id"), pairs, node_col="vec_id", src="a_id", dst="b_id"
    )


def _sql_curate(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    """Full training-data-curation oracle: quality gate -> exact dedup ->
    MinHash-LSH near-dup clusters (recursive CTE) -> representatives."""
    width = 32 // num_hashes
    sig = ",\n             ".join(
        f"list_min(list_transform(mh, m -> substr(m, {1 + i * width}, {width}))) AS sig{i}"
        for i in range(num_hashes)
    )
    bands = []
    for bi, b in enumerate(range(0, num_hashes, rows_per_band)):
        parts = " || ".join(f"sig{b + r}" for r in range(rows_per_band))
        bands.append(
            f"SELECT doc_id AS doc, {bi} AS band_idx, md5({parts}) AS band_key "
            f"FROM sigs WHERE sig{b} IS NOT NULL"
        )
    bands_sql = "\n      UNION ALL\n      ".join(bands)
    return rf"""
    WITH RECURSIVE rawtoks AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS tokens
      FROM documents
    ), feat AS (
      SELECT doc_id, text,
             len(tokens) AS n_tok,
             CASE WHEN len(tokens) > 0
                  THEN CAST(len(list_filter(list_transform(tokens, t -> lower(t)),
                       t -> t IN ('the','and','of','to','a','in','is','that'))) AS DOUBLE) / len(tokens)
                  ELSE 0.0 END AS sw_ratio,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS p_ratio,
             CASE WHEN len(tokens) > 0
                  THEN CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE) / len(tokens)
                  ELSE 0.0 END AS atl
      FROM rawtoks
    ), scored AS (
      SELECT doc_id, text, n_tok,
             CAST((CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN p_ratio < 0.2 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) AS DOUBLE) AS quality
      FROM feat
    ), q AS (
      SELECT * FROM scored WHERE quality >= 0.75
    ), ex AS (
      SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
    ), q2 AS (
      SELECT q.* FROM q WHERE doc_id IN (SELECT doc_id FROM ex)
    ), toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM q2
    ), sh AS (
      SELECT doc_id, list_transform(list_transform(
        range(1, greatest(len(tokens) - 2, 0) + 1),
        i -> array_to_string(tokens[i:i+2], ' ')), s -> md5(s)) AS mh
      FROM toks
    ), sigs AS (
      SELECT doc_id,
             {sig}
      FROM sh
    ), bands AS (
      {bands_sql}
    ), pairs AS (
      SELECT DISTINCT a.doc AS a_id, b.doc AS b_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ), reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM q2
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node
    )
    SELECT q2.doc_id, q2.n_tok AS n_tokens, round(q2.quality, 2) AS quality
    FROM q2 JOIN comp USING (doc_id)
    WHERE comp.component = q2.doc_id
    """


@register("doc_curate", _sql_curate())
def doc_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data curation pipeline, end to end: quality gate
    (expression-only scoring) -> exact dedup (hash groupBy, min-id rep) ->
    MinHash-LSH near-dup candidates -> connected components (multi-level
    union-find) -> keep one representative per cluster. Every stage is the
    production operator from datapipe/*; the oracle reproduces the whole
    pipeline in SQL including the component reachability (recursive CTE)."""
    from imposm3_spark.datapipe import cluster as cl
    from imposm3_spark.datapipe import dedup as dd2
    from imposm3_spark.datapipe import text as tx2
    from imposm3_spark.datapipe.sampling import spread_small_input

    # spread: the multi-regex scorer + md5 exact-dedup key run in the scan
    # stage — one task on a sub-split corpus (guide §2.5 input skew)
    d = spread_small_input(_t(spark, sf_dir, "documents"))
    # eval_once: the quality gate filters on the projected score; without
    # the barrier Catalyst substitutes the full multi-regex tree into the
    # pushed-down Filter and the scan pays it TWICE (guide §4.4 class;
    # measured 2.34 s -> 1.05 s for this stage at sf0.1, value-identical)
    q = d.select(
        "doc_id", "text",
        tx2.token_count(F.col("text")).alias("n_tokens"),
        tx2.eval_once(tx2.quality_score(F.col("text"))).alias("quality"),
    ).filter(F.col("quality") >= 0.75)
    keep_exact = (
        q.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # materialize the curated set once: quality scoring + the exact-dedup
    # semi join would otherwise re-evaluate for every downstream consumer
    # (LSH, the component node set, the final semi join) — 4x the most
    # expensive expression tree in the pipeline. The pin is re-sized to
    # the DATA (plan_parallelism: est bytes / 64 MB), not to the spread's
    # kernel parallelism: the LSH banding, union-find levels, and final
    # semi join that read it are iterative small-row consumers, and a
    # 32-block pin makes every one of them pay per-partition micro-tasks
    # and leaves 32x the block churn for the session's cleaner (round 11).
    from imposm3_spark.datapipe.sampling import plan_parallelism

    kept = q.join(keep_exact, "doc_id", "leftsemi")
    q2 = kept.repartition(plan_parallelism(kept)).localCheckpoint(eager=True)
    pairs = dd2.minhash_lsh_pairs(q2)
    curated = cl.dedup_representatives(q2, pairs, "doc_id", pair_a="id_a", pair_b="id_b")
    return curated.select(
        "doc_id", "n_tokens", F.round("quality", 2).alias("quality")
    )


__all__ = ["QUERIES", "ORACLES"]


# ---------------------------------------------------------------------------
# Training-data curation surface (round 2): decontamination, deterministic
# sampling, PII scrubbing, vocabulary building, embedding quantization
# ---------------------------------------------------------------------------

from imposm3_spark.datapipe.dedup import decontaminate  # noqa: E402
from imposm3_spark.datapipe.sampling import stratified_quota  # noqa: E402
from imposm3_spark.datapipe.similarity import quantize_int8  # noqa: E402
from imposm3_spark.datapipe.text import normalize_text, scrub_pii, tokens  # noqa: E402


@register(
    "doc_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tokens
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tokens) - 2, 0) + 1),
        i -> array_to_string(tokens[i:i+2], ' '))) AS shs
      FROM toks
    ), bench AS (
      SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0
    ), corp AS (
      SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT doc_id, count(*) AS n_shared
    FROM corp WHERE s IN (SELECT s FROM bench)
    GROUP BY doc_id
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 3-gram with
    the held-out benchmark slice (doc_id % 97 == 0 stands in for the eval
    set). Broadcast semi-join of corpus shingles against the (tiny,
    distinct) benchmark shingle set — no corpus-wide shuffle; see
    datapipe.dedup.decontaminate."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, shingle_k=3)


@register(
    "doc_sample_stratified",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                        doc_id
             ) AS rk
      FROM documents) t
    WHERE rk <= 50
    """,
)
def doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: at most 50 docs per source,
    selected by md5-hash order (engine-independent, partition-independent,
    reproducible — no random()). One exchange on the stratum key; see
    datapipe.sampling.stratified_quota."""
    docs = _t(spark, sf_dir, "documents")
    return stratified_quota(docs, "source", "doc_id", 50).select("doc_id", "source")


@register(
    "doc_scrub",
    """
    WITH payload AS (
      SELECT doc_id,
             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
               || ' uid:' || CAST(doc_id * 1000000 + 123456 AS VARCHAR)
               || ' mail u' || CAST(doc_id AS VARCHAR)
               || '@ex.co visit https://ex.co/p/' || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, 'https?://[^ \\t\\n]+', '<URL>', 'g'),
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS clean
    FROM payload
    """,
)
def doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize + PII-scrub: whitespace-collapse/lowercase, then redact
    URLs, emails, and long digit runs with typed placeholders. The synthetic
    corpus carries no PII, so a deterministic uid/email/url suffix derived
    from doc_id is appended first — every row then exercises all three
    redaction patterns, and the oracle verifies the exact regex semantics
    engine-independently. Pure expressions: scan-speed, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(
        normalize_text(F.col("text")),
        F.lit(" uid:"),
        (F.col("doc_id") * 1000000 + 123456).cast("string"),
        F.lit(" mail u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.co visit https://ex.co/p/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select("doc_id", scrub_pii(payload).alias("clean"))


@register(
    "doc_vocab_topk",
    """
    SELECT token, count(*) AS n FROM (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ) t
    GROUP BY token ORDER BY n DESC, token LIMIT 100
    """,
)
def doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token frequencies, top-100 by count
    (ties broken by token for a total order). One explode + one shuffle on
    the token — map-side partial aggregation keeps the exchange to distinct
    tokens per partition, and the top-k is a tiny driver-side sort. This is
    the counting half of a BPE/vocab trainer."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
    )


@register(
    "emb_quantize",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), m AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS mx
      FROM v
    )
    SELECT vec_id,
           array_to_string(list_transform(e, x -> CAST(floor(
             x * (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0 END) + 0.5) AS INT)), ',') AS qvec,
           CAST(floor((CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0 END) * 1e6 + 0.5) AS BIGINT) AS scale_e6
    FROM m
    """,
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the storage half of a
    quantized ANN index): q_i = floor(v_i * 127/max|v| + 0.5). Explicit
    half-up floor arithmetic — bit-identical across engines, no round()
    dialect dependence. Scan-speed, zero shuffle.

    ``qvec`` is rendered as a comma-joined string of the int8 codes: the
    driver's comparator cannot canonicalize ArrayType cells (round-8
    forensics), and int->string casts are engine-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    q, scale = quantize_int8(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("qvec"),
        F.floor(scale * 1e6 + F.lit(0.5)).cast("bigint").alias("scale_e6"),
    )


from imposm3_spark.datapipe.dedup import repetition_stats  # noqa: E402


@register(
    "doc_repetition",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tokens
      FROM documents
    ), base AS (
      SELECT doc_id, len(tokens) AS n_tokens,
             CASE WHEN len(tokens) > 0
                  THEN CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens)
                  ELSE 1.0 END AS distinct_ratio,
             greatest(len(tokens) - 1, 0) AS n_bigrams
      FROM toks
    ), tok_max AS (
      SELECT doc_id, max(c) AS max_tok FROM (
        SELECT doc_id, t, count(*) AS c FROM (
          SELECT doc_id, unnest(tokens) AS t FROM toks) u
        GROUP BY doc_id, t) g
      GROUP BY doc_id
    ), bg_max AS (
      SELECT doc_id, max(c) AS max_bg FROM (
        SELECT doc_id, b, count(*) AS c FROM (
          SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(tokens) - 1, 0) + 1),
            i -> array_to_string(tokens[i:i+1], ' '))) AS b
          FROM toks) u
        GROUP BY doc_id, b) g
      GROUP BY doc_id
    )
    SELECT base.doc_id, n_tokens,
           round(distinct_ratio, 6) AS distinct_ratio,
           CASE WHEN n_tokens > 0
                THEN round(CAST(coalesce(max_tok, 0) AS DOUBLE) / n_tokens, 6)
                ELSE 0.0 END AS top_token_frac,
           CASE WHEN n_bigrams > 0
                THEN round(CAST(coalesce(max_bg, 0) AS DOUBLE) / n_bigrams, 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM base
      LEFT JOIN tok_max ON base.doc_id = tok_max.doc_id
      LEFT JOIN bg_max  ON base.doc_id = bg_max.doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition quality signals: distinct-token ratio
    (expression-only), most-frequent-token fraction, most-frequent-bigram
    fraction (explode + two-level agg — the linear, spillable shape; see
    datapipe.dedup.repetition_stats)."""
    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs)


@register(
    "orders_hotkey_join",
    """
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def orders_hotkey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key split join (the production skew remedy): keys whose measured
    probe frequency exceeds the threshold route to a broadcast join of
    their (tiny) build slice; everything else is a plain shuffle join. On
    unskewed data — like this one — the hot set is empty and the query
    costs a plain join plus one 1%-sample detection pass; on skewed data
    the straggler key never lands on a single reducer. Exact same rows as
    the plain join either way (that is what this oracle checks)."""
    from imposm3_spark.datapipe import skew

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = skew.hot_key_join(li, o, key="l_orderkey", threshold=100_000)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("rev_c"),
    )


@register(
    "doc_clean_sample",
    """
    WITH toks AS (
      SELECT doc_id, text, source,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS tokens
      FROM documents
    ), feat AS (
      SELECT doc_id, text, source,
             len(tokens) AS n_tok,
             CASE WHEN len(tokens) > 0
                  THEN CAST(len(list_filter(list_transform(tokens, t -> lower(t)),
                       t -> t IN ('the','and','of','to','a','in','is','that'))) AS DOUBLE) / len(tokens)
                  ELSE 0.0 END AS sw_ratio,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS p_ratio,
             CASE WHEN len(tokens) > 0
                  THEN CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE) / len(tokens)
                  ELSE 0.0 END AS atl
      FROM toks
    ), q AS (
      SELECT doc_id, text, source FROM feat
      WHERE (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN p_ratio < 0.2 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) >= 0.75
        AND doc_id % 97 <> 0
    ), ltoks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tokens
      FROM documents
    ), lsh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tokens) - 2, 0) + 1),
        i -> array_to_string(tokens[i:i+2], ' '))) AS shs
      FROM ltoks
    ), bench AS (
      SELECT DISTINCT unnest(shs) AS s FROM lsh WHERE doc_id % 97 = 0
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest(shs) AS s FROM lsh WHERE doc_id % 97 <> 0) c
      WHERE s IN (SELECT s FROM bench)
    ), clean AS (
      SELECT q.doc_id, q.source,
             regexp_replace(
               regexp_replace(
                 regexp_replace(regexp_replace(trim(lower(q.text)), '\\s+', ' ', 'g'),
                   'https?://[^ \\t\\n]+', '<URL>', 'g'),
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g') AS clean_text
      FROM q WHERE q.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT doc_id, source, clean_text FROM (
      SELECT doc_id, source, clean_text,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                        doc_id
             ) AS rk
      FROM clean) t
    WHERE rk <= 40
    """,
)
def doc_clean_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation ops composed end-to-end in one lazy plan: quality gate
    (expression) -> benchmark decontamination (broadcast semi-join filter)
    -> normalize + PII scrub (expression) -> deterministic per-source
    quota sample (one window exchange). Everything before the final
    window is scan-speed + one broadcast — the composed pipeline keeps the
    individual operators' physical shapes (no new shuffles appear from
    composition), which is exactly the property that matters when chaining
    curation stages over 100 TB."""
    from imposm3_spark.datapipe.dedup import decontaminate as _decon
    from imposm3_spark.datapipe.sampling import spread_small_input
    from imposm3_spark.datapipe.text import quality_score

    # spread once at the source: the quality regexes, the shingle explode
    # inside decontaminate, and the PII scrub all run in scan stages
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    q = corpus.filter(quality_score(F.col("text")) >= 0.75)
    dirty = _decon(corpus, bench, shingle_k=3).select("doc_id")
    cleaned = (
        q.join(dirty, "doc_id", "left_anti")
        .select(
            "doc_id",
            "source",
            scrub_pii(normalize_text(F.col("text"))).alias("clean_text"),
        )
    )
    return stratified_quota(cleaned, "source", "doc_id", 40).select(
        "doc_id", "source", "clean_text"
    )


from imposm3_spark.datapipe.sampling import pack_sequences  # noqa: E402


@register(
    "doc_pack_sequences",
    """
    WITH h AS (
      SELECT doc_id, n_chars,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS dh
      FROM documents
    ), b AS (
      SELECT doc_id, n_chars, dh, dh % 8 AS bucket FROM h
    ), c AS (
      SELECT doc_id, n_chars, bucket,
             coalesce(sum(n_chars) OVER (
               PARTITION BY bucket ORDER BY dh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM b
    )
    SELECT doc_id, bucket,
           CAST(floor(cb / 2048) AS BIGINT) AS pack_id,
           CAST(cb % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: shard by id hash into 8 buckets,
    greedy-fill 2048-token packs by running length within each bucket
    (one exchange + one window — never a global sort; see
    datapipe.sampling.pack_sequences)."""
    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "n_chars", 2048, n_buckets=8).select(
        "doc_id", "bucket", "pack_id", "pack_offset"
    )


# ---------------------------------------------------------------------------
# Round 3: targeted data selection, Bloom decontamination, PQ ANN
# ---------------------------------------------------------------------------

from imposm3_spark.datapipe.dedup import bloom_decontaminate  # noqa: E402
from imposm3_spark.datapipe.sampling import (  # noqa: E402
    dsir_log_weights,
    temperature_mix,
)
from imposm3_spark.datapipe.similarity import pq_topk  # noqa: E402


@register(
    "doc_mix_temperature",
    """
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    r1 AS (
      SELECT lang, n,
             pow(CAST(n AS DOUBLE), 0.5) / sum(pow(CAST(n AS DOUBLE), 0.5)) OVER () AS q
      FROM counts
    ),
    rates AS (
      SELECT lang, round(least(1.0, q * (min(n / q) OVER ()) / n), 6) AS keep_rate
      FROM r1
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < r.keep_rate
    """,
)
def doc_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted language mixing (alpha=0.5): downsample so the
    kept corpus follows p^alpha — the multilingual-pretraining rebalance.
    Deterministic md5-hash selection; one stratum-sized agg + broadcast
    join + pure filter (the corpus never shuffles); see
    datapipe.sampling.temperature_mix."""
    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(docs, "lang", "doc_id", alpha=0.5).select("doc_id", "lang")


@register(
    "doc_bloom_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tokens
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tokens) - 2, 0) + 1),
        i -> array_to_string(tokens[i:i+2], ' '))) AS shs
      FROM toks
    ), bench_sh AS (
      SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0
    ), bench_bits AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(s), 1 + 8 * j, 8)) AS BIGINT) % 65536 AS bit
      FROM bench_sh, (SELECT unnest(range(0, 4)) AS j)
    ), corp AS (
      SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0
    ), corp_bits AS (
      SELECT doc_id, s,
             CAST(concat('0x', substr(md5(s), 1 + 8 * j, 8)) AS BIGINT) % 65536 AS bit
      FROM corp, (SELECT unnest(range(0, 4)) AS j)
    ), pos AS (
      SELECT doc_id, s
      FROM corp_bits
      WHERE bit IN (SELECT bit FROM bench_bits)
      GROUP BY doc_id, s
      HAVING count(*) = 4
    )
    SELECT doc_id, count(*) AS n_hits FROM pos GROUP BY doc_id
    """,
)
def doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: same contamination question as
    doc_decontaminate but through a fixed-size (64 Kbit, 4 hash) Bloom
    filter of the eval shingles — broadcast cost independent of eval-suite
    size, deterministic false positives, zero false negatives. The oracle
    rebuilds the filter bit-for-bit from the same md5 windows; see
    datapipe.dedup.bloom_decontaminate."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return bloom_decontaminate(corpus, bench, shingle_k=3)


@register(
    "doc_dsir_weights",
    """
    WITH toks AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tokens
      FROM documents
    ), feats AS (
      SELECT doc_id, source,
             unnest(list_concat(
               tokens,
               list_transform(range(1, greatest(len(tokens) - 1, 0) + 1),
                              i -> array_to_string(tokens[i:i+1], ' ')))) AS f
      FROM toks
    ), fb AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
      FROM feats
    ), t_counts AS (
      SELECT bucket, count(*) AS t_n FROM fb WHERE source = 'src0' GROUP BY bucket
    ), r_counts AS (
      SELECT bucket, count(*) AS r_n FROM fb WHERE source <> 'src0' GROUP BY bucket
    ), buckets AS (
      SELECT COALESCE(t.bucket, r.bucket) AS bucket,
             COALESCE(t_n, 0) AS t_n, COALESCE(r_n, 0) AS r_n
      FROM t_counts t FULL JOIN r_counts r ON t.bucket = r.bucket
    ), ratios AS (
      SELECT bucket,
             CAST(floor((ln((t_n + 1) / (sum(t_n) OVER () + 4096.0))
                         - ln((r_n + 1) / (sum(r_n) OVER () + 4096.0)))
                        * 1000000.0) AS BIGINT) AS lq
      FROM buckets
    )
    SELECT fb.doc_id,
           count(*) AS n_feats,
           CAST(sum(COALESCE(ratios.lq, 0)) AS DOUBLE) / 1000000.0 AS logw
    FROM fb LEFT JOIN ratios USING (bucket)
    WHERE fb.source <> 'src0'
    GROUP BY fb.doc_id
    """,
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (data selection for
    targeted pretraining, public method): unigram+bigram features hashed
    into 4096 buckets, per-doc weight = summed log likelihood ratio of the
    target distribution (source 'src0') vs the raw corpus. Two bucket-sized
    aggregates + a broadcast joined back onto one corpus scan; see
    datapipe.sampling.dsir_log_weights."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return dsir_log_weights(corpus, target, n_buckets=4096)


@register(
    "emb_pq_topk",
    """
    WITH RECURSIVE seeds AS (
      SELECT m, j, 7000 + m * 16 + j AS seed
      FROM (SELECT unnest(range(0, 8)) AS m), (SELECT unnest(range(0, 16)) AS j)
    ), lcg(seed, step, state) AS (
      SELECT seed, 0,
             (CAST(seed AS HUGEINT)*6364136223846793005 + 1442695040888963407)
               % 18446744073709551616
      FROM seeds
      UNION ALL
      SELECT seed, step + 1,
             (state*6364136223846793005 + 1442695040888963407) % 18446744073709551616
      FROM lcg WHERE step < 8
    ), cents AS (
      SELECT seed,
             list((((CAST(state // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0) * 0.5)
                  ORDER BY step) AS cent
      FROM lcg WHERE step >= 1 GROUP BY seed
    ), cb AS (
      SELECT s.m, s.j, c.cent FROM seeds s JOIN cents c ON c.seed = s.seed
    ), sub AS (
      SELECT e.vec_id, mm.m,
             list_transform(range(1, 9), d -> CAST(e.embedding[mm.m * 8 + d] AS DOUBLE)) AS sv
      FROM embeddings e, (SELECT unnest(range(0, 8)) AS m) mm
    ), dists AS (
      SELECT sub.vec_id, sub.m, cb.j,
             list_aggregate(list_transform(range(1, 9),
               d -> (sv[d] - cent[d]) * (sv[d] - cent[d])), 'sum') AS d2
      FROM sub JOIN cb ON cb.m = sub.m
    ), codes AS (
      SELECT vec_id, m, j FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
        FROM dists) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ), qsub AS (
      SELECT q.query_id, mm.m,
             list_transform(range(1, 9), d -> CAST(q.qvec[mm.m * 8 + d] AS DOUBLE)) AS qv
      FROM q, (SELECT unnest(range(0, 8)) AS m) mm
    ), adc_m AS (
      SELECT qsub.query_id, codes.vec_id AS cand_id, qsub.m,
             list_aggregate(list_transform(range(1, 9),
               d -> (qv[d] - cent[d]) * (qv[d] - cent[d])), 'sum') AS dm
      FROM qsub
      JOIN codes ON codes.m = qsub.m AND codes.vec_id != qsub.query_id
      JOIN cb ON cb.m = codes.m AND cb.j = codes.j
    ), adc AS (
      SELECT query_id, cand_id,
             round(list_aggregate(list(dm ORDER BY m), 'sum'), 6) AS adc
      FROM adc_m GROUP BY query_id, cand_id
    )
    SELECT query_id, cand_id AS vec_id, rank, adc FROM (
      SELECT query_id, cand_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rank
      FROM adc
    ) WHERE rank <= 3
    """,
)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-dim vectors compress to 8 one-byte
    codes (16 centroids per 8-dim subspace, LCG codebook — deterministic,
    so the oracle rebuilds every centroid bit-for-bit) and the top-k scan
    uses asymmetric distances against codes only. The candidate side
    carries m_sub bytes per row instead of the vector — the memory shape
    that makes billion-scale ANN fit; see datapipe.similarity.pq_topk."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return pq_topk(e, q, k=3)


from imposm3_spark.benchqueries import ORACLES as _ORACLES  # noqa: E402
from imposm3_spark.datapipe.similarity import ivfpq_topk  # noqa: E402
from imposm3_spark.datapipe.text import unigram_nll  # noqa: E402


# IVF-PQ run ALL-PROBE must equal plain PQ exactly (cell routing prunes
# nothing), so the composed machinery — trained coarse quantizer, cell
# equi-join, per-cell ADC, cross-cell merge — value-checks against the PQ
# oracle even though k-means itself is not SQL-reproducible.
@register("emb_ivfpq_topk", _ORACLES["emb_pq_topk"])
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the standard billion-scale layout): coarse quantizer
    routes candidates to cells, queries probe cells, rerank by PQ
    asymmetric distance over 8-byte codes. All-probe here (see oracle
    note); production sets nprobe << ncentroids; see
    datapipe.similarity.ivfpq_topk."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return ivfpq_topk(e, q, k=3, ncentroids=16, nprobe=16)


@register(
    "doc_perplexity_bins",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS tokens
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(tokens) AS tok FROM toks
    ), vocab AS (
      SELECT tok, count(*) AS c FROM t GROUP BY tok
    ), lp AS (
      SELECT tok, ln(c / sum(c) OVER ()) AS logp FROM vocab
    ), nll AS (
      SELECT t.doc_id, count(*) AS n_tokens, round(-avg(lp.logp), 4) AS nll
      FROM t JOIN lp USING (tok)
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, nll,
           ntile(3) OVER (ORDER BY nll, doc_id) AS bin
    FROM nll
    """,
)
def doc_perplexity_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity binning with a corpus-trained unigram LM:
    per-doc mean negative log likelihood, then head/middle/tail terciles.
    The tercile is exact ntile semantics WITHOUT a single-task global
    window — two-phase global row numbers + the closed-form ntile bucket
    from (rn, total); see datapipe.text.unigram_nll and
    sampling.with_global_row_numbers."""
    from imposm3_spark.datapipe.sampling import with_global_row_numbers

    docs = _t(spark, sf_dir, "documents")
    nll = unigram_nll(docs)
    numbered = with_global_row_numbers(
        nll, [F.col("nll").asc(), F.col("doc_id").asc()]
    )
    total = numbered.count()
    q, r = divmod(total, 3)
    big = r * (q + 1)
    bin_col = (
        F.when(F.col("rn") <= big, ((F.col("rn") - 1) / (q + 1)).cast("long") + 1)
        .otherwise(((F.col("rn") - 1 - big) / q).cast("long") + 1 + r)
        if q
        else F.col("rn")
    )
    return numbered.select(
        "doc_id", "n_tokens", "nll", bin_col.cast("int").alias("bin")
    )
