"""Query registry: the engine's operator surface exposed as named queries.

Each entry pairs a PySpark implementation with an equivalent ANSI-SQL oracle
(run by the driver in DuckDB on the same parquet). Column names and rounding
are aligned on both sides, so row-count + schema + value-hash all match.

Sections:
  tpch_*    generic relational surface (scan/filter/join/agg/window/sort)
  osm_*     imposm3 operator analogs exercised on the synthetic tables
            (projection math, column-type truth tables, way resolution J1,
            tag->table matching F2, wayzorder)
  doc_*     training-data pipeline ops on `documents` (text analysis,
            exact dedup, MinHash LSH, SimHash, n-gram Jaccard)
  emb_*     similarity search on `embeddings` (brute-force cosine top-k,
            LSH-bucketed ANN)
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imposm3_spark.datapipe import dedup as dd
from imposm3_spark.datapipe import similarity as sim
from imposm3_spark.datapipe import text as tx
from imposm3_spark.geom.build import line_length
from imposm3_spark.geom.proj import POLE, merc_to_wgs_lat, merc_to_wgs_lon, wgs_to_merc_x, wgs_to_merc_y
from imposm3_spark.pipeline.resolve import resolve_way_coords

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Per-session cache of table HANDLES (analyzed read plans), not data: a
# warm `spark.read.parquet` still costs ~170 ms of driver-side file
# listing + footer/schema re-inference per call, and the 242-query bench
# loop makes ~350 such calls on the same ten paths (~60 s of pure
# re-listing). The cached object is an unresolved DataFrame plan — every
# action on it scans the parquet files exactly as an uncached read would;
# no rows, no results, nothing keyed on data content is stored. Keyed on
# the live SparkSession object (WeakKeyDictionary) so a stopped/new
# session can never see another session's plan handles.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Analyzed read-plan handle for a bench table.

    STATIC-INPUT ASSUMPTION (round-10 ADVICE): the cached handle freezes
    the InMemoryFileIndex captured at spark.read.parquet time, so it
    assumes the parquet at sf_dir is immutable for the session's lifetime
    — true for the bench corpus (deterministic generator, never rewritten
    mid-run). If a workflow regenerates a dataset mid-session, start a
    new SparkSession (new handles by construction) or clear the session's
    entry: `_TABLE_CACHE.pop(spark, None)`."""
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (session sets nanosAsLong); convert
        # to a proper timestamp at microsecond precision
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    per_session[key] = df
    return df


# ---------------------------------------------------------------------------
# exact money aggregation (round-6 discipline)
#
# Price/value columns hold exactly-2-decimal data, so every money SUM runs
# on scaled BIGINTs — order-free and engine-free — and each emitted float
# is ONE fixed-order division of the exact sum. round(<float sum>) is
# banned from compared cells: float sums are order-dependent across
# engines, and round()'s half-tie behavior differs between Spark
# (HALF_UP on the shortest decimal repr) and DuckDB (on the binary value)
# even for the SAME double. Scaled int64 sums hold to ~9e14 dollars at e4
# (switch to DECIMAL(38,0)/HUGEINT-with-final-CAST beyond).
# ---------------------------------------------------------------------------

# sum of l_extendedprice * (1 - l_discount) as exact 1e-4-scaled BIGINT,
# emitted as dollars (one division). The inner product is 4-decimal exact,
# so round(x * 10000) sits ~1e-6 from an integer — unambiguous everywhere.
def _rev_e4():
    return F.sum(
        F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast(
            "bigint"
        )
    ).cast("double") / F.lit(10000.0)


def _cents_sum(col: str):
    """Exact dollars: sum of a 2-decimal column via integer cents."""
    return F.sum(F.round(F.col(col) * 100).cast("bigint")).cast("double") / F.lit(100.0)


# ---------------------------------------------------------------------------
# TPC-H-ish relational surface
# ---------------------------------------------------------------------------


@register(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_base_price,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / count(*) / 100.0 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exactness (round-6 discipline): money terms are exactly-2-decimal
    # data, so every sum runs on scaled BIGINTs (order-free, engine-free)
    # and each emitted float is ONE fixed-order division of the exact sum
    # — no round(<float sum>) anywhere (float sums are order-dependent
    # and round() half-tie behavior differs across engines).
    li = _t(spark, sf_dir, "lineitem")
    qty = F.sum(F.col("l_quantity").cast("bigint"))
    base_c = F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
    disc_e4 = F.sum(
        F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast(
            "bigint"
        )
    )
    disc_c = F.sum(F.round(F.col("l_discount") * 100).cast("bigint"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qty.cast("double").alias("sum_qty"),
            (base_c.cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (disc_e4.cast("double") / F.lit(10000.0)).alias("sum_disc_price"),
            (qty.cast("double") / n).alias("avg_qty"),
            (disc_c.cast("double") / n / F.lit(100.0)).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                    ).cast("bigint")
                ).cast("double")
                / F.lit(10000.0)
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "tpch_q5",
    """
    SELECT n_name,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_rev_e4().alias("revenue"))
    )


@register(
    "events_top_types_per_user",
    """
    SELECT user_id, event_type, cnt, rn FROM (
      SELECT user_id, event_type, count(*) AS cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn <= 2 AND user_id < 100
    """,
)
def events_top_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 2) & (F.col("user_id") < 100))
        .select("user_id", "event_type", "cnt", "rn")
    )


@register(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count("*").alias("n"), _cents_sum("value").alias("total_value"))


# ---------------------------------------------------------------------------
# imposm operator analogs (SURVEY §2) on the synthetic tables
# ---------------------------------------------------------------------------

# shared synthetic lon/lat derivation (integer arithmetic -> exact doubles)
# CAST the literals: bare 100.0/180.0 parse as DECIMAL in DuckDB, making
# the subtraction exact-decimal there but double-ulp arithmetic in Spark —
# a 1-ulp lon/lat skew that surfaced at sf0.1 under the strict gate. The
# same string feeds F.expr() and the oracle, so both engines run identical
# DOUBLE ops (IEEE division/subtraction are correctly rounded -> bit-equal).
_LON_SQL = ("(c_custkey % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)")
_LAT_SQL = ("(c_custkey % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)")


@register(
    "osm_merc_roundtrip",
    # The oracle mirrors geom/proj.py EXPRESSION BY EXPRESSION — same
    # precomputed constant literals, same association order. Pure-
    # arithmetic cells (merc_x, lon_rt) are then bit-identical across
    # engines and compare RAW. Transcendental cells differ by a few ulps
    # between JVM Math.* and DuckDB's libm, so merc_y compares floor-
    # quantized to whole meters (straddle probability ~1e-4 corpus-wide)
    # and the latitude ROUNDTRIP as a boolean error bound with 1e5 margin
    # (|lat_rt - lat| < 1e-9 vs ~1e-14 actual). round()ed projections hit
    # shortest-repr half-ties (caught by the round-6 strict gate at
    # sf0.1) and are banned from compared cells.
    f"""
    WITH pts AS (
      SELECT c_custkey AS id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM customer
    ), m AS (
      SELECT id, lat,
             lon * {POLE / 180.0!r} AS mx,
             ln(tan((lat + 90.0) * {math.pi / 360.0!r})) * {POLE / math.pi!r} AS my
      FROM pts
    )
    SELECT id, mx AS merc_x,
           CAST(floor(my) AS BIGINT) AS merc_y_m,
           mx * {180.0 / POLE!r} AS lon_rt,
           abs((((atan(exp(my * {math.pi / POLE!r})) * 2.0) - {math.pi / 2.0!r})
                * {180.0 / math.pi!r}) - lat) < 1e-9 AS lat_rt_ok
    FROM m
    """,
)
def osm_merc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2.6 WgsToMerc/MercToWgs (proj/proj.go:9-21) as column expressions."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (F.expr(_LON_SQL)).alias("lon"),
        (F.expr(_LAT_SQL)).alias("lat"),
    )
    x = wgs_to_merc_x(F.col("lon"))
    y = wgs_to_merc_y(F.col("lat"))
    return c.select(
        "id",
        x.alias("merc_x"),
        F.floor(y).cast("bigint").alias("merc_y_m"),
        merc_to_wgs_lon(x).alias("lon_rt"),
        (F.abs(merc_to_wgs_lat(y) - F.col("lat")) < F.lit(1e-9)).alias("lat_rt_ok"),
    )


@register(
    "osm_column_types",
    """
    WITH vals AS (
      SELECT p_partkey,
             CASE p_partkey % 6 WHEN 0 THEN '' WHEN 1 THEN '0' WHEN 2 THEN 'false'
                  WHEN 3 THEN 'no' WHEN 4 THEN 'yes' WHEN 5 THEN '-1' END AS v,
             p_size, p_brand
      FROM part
    )
    SELECT p_partkey,
           NOT (v IN ('', '0', 'false', 'no')) AS bool_v,
           CAST(NOT (v IN ('', '0', 'false', 'no')) AS TINYINT) AS boolint_v,
           CAST(CASE WHEN v IN ('1', 'yes', 'true') THEN 1
                     WHEN v = '-1' THEN -1 ELSE 0 END AS TINYINT) AS direction_v,
           CAST(CASE WHEN p_size > 40 THEN NULL ELSE p_size END AS INT) AS integer_v,
           CAST(CASE p_brand WHEN 'Brand#1' THEN 1 WHEN 'Brand#2' THEN 2
                     WHEN 'Brand#3' THEN 3 ELSE 0 END AS INT) AS enum_v
    FROM vals
    """,
)
def osm_column_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2.6 scalar column-type truth tables (mapping/columns.go:67-129),
    exercised through the real registry builders."""
    from imposm3_spark.mapping.columns import RowContext, build_column
    from imposm3_spark.mapping.config import Column as ColCfg

    p = _t(spark, sf_dir, "part")
    v = (
        F.when(F.col("p_partkey") % 6 == 0, F.lit(""))
        .when(F.col("p_partkey") % 6 == 1, F.lit("0"))
        .when(F.col("p_partkey") % 6 == 2, F.lit("false"))
        .when(F.col("p_partkey") % 6 == 3, F.lit("no"))
        .when(F.col("p_partkey") % 6 == 4, F.lit("yes"))
        .otherwise(F.lit("-1"))
    )
    df = p.select(
        "p_partkey",
        F.create_map(
            F.lit("v"), v,
            F.lit("size"), F.when(F.col("p_size") > 40, F.lit("overflow")).otherwise(
                F.col("p_size").cast("string")
            ),
            F.lit("brand"), F.col("p_brand"),
        ).alias("tags"),
    )
    ctx = RowContext(
        tags=F.col("tags"), osm_id=F.col("p_partkey"),
        match_key=F.lit("v"), match_value=F.lit("v"),
    )
    return df.select(
        "p_partkey",
        build_column(ColCfg(name="bool_v", type="bool", key="v"), ctx),
        build_column(ColCfg(name="boolint_v", type="boolint", key="v"), ctx),
        build_column(ColCfg(name="direction_v", type="direction", key="v"), ctx),
        build_column(ColCfg(name="integer_v", type="integer", key="size"), ctx),
        build_column(
            ColCfg(
                name="enum_v", type="enumerate", key="brand",
                args={"values": ["Brand#1", "Brand#2", "Brand#3"]},
            ),
            ctx,
        ),
    )


_HIGHWAY_SQL = """CASE o_orderkey % 5 WHEN 0 THEN 'motorway' WHEN 1 THEN 'primary'
    WHEN 2 THEN 'residential' WHEN 3 THEN 'secondary' ELSE 'footpath' END"""


@register(
    "osm_wayzorder",
    f"""
    WITH w AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 7 - 3 AS VARCHAR) AS layer,
             {_HIGHWAY_SQL} AS hw,
             CASE WHEN o_orderkey % 3 = 0 THEN 'yes' ELSE 'no' END AS bridge,
             CASE WHEN o_orderkey % 4 = 0 THEN 'true' ELSE '' END AS tunnel
      FROM orders
    )
    SELECT o_orderkey,
           CAST(CAST(layer AS BIGINT) * 10
                + (CASE hw WHEN 'motorway' THEN 9 WHEN 'primary' THEN 6
                        WHEN 'residential' THEN 3 WHEN 'secondary' THEN 5 ELSE 0 END)
                + (CASE WHEN bridge IN ('true','yes','1') THEN 10 ELSE 0 END)
                - (CASE WHEN tunnel IN ('true','yes','1') THEN 10 ELSE 0 END) AS INT) AS z_order
    FROM w
    """,
)
def osm_wayzorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2.6 wayzorder (mapping/columns.go:264-291) through the registry."""
    from imposm3_spark.mapping.columns import RowContext, build_column
    from imposm3_spark.mapping.config import Column as ColCfg

    o = _t(spark, sf_dir, "orders")
    hw = (
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("motorway"))
        .when(F.col("o_orderkey") % 5 == 1, F.lit("primary"))
        .when(F.col("o_orderkey") % 5 == 2, F.lit("residential"))
        .when(F.col("o_orderkey") % 5 == 3, F.lit("secondary"))
        .otherwise(F.lit("footpath"))
    )
    df = o.select(
        "o_orderkey",
        F.create_map(
            F.lit("layer"), (F.col("o_orderkey") % 7 - 3).cast("string"),
            F.lit("bridge"), F.when(F.col("o_orderkey") % 3 == 0, F.lit("yes")).otherwise(F.lit("no")),
            F.lit("tunnel"), F.when(F.col("o_orderkey") % 4 == 0, F.lit("true")).otherwise(F.lit("")),
        ).alias("tags"),
        hw.alias("hw"),
    )
    ctx = RowContext(
        tags=F.col("tags"), osm_id=F.col("o_orderkey"),
        match_key=F.lit("highway"), match_value=F.col("hw"),
    )
    return df.select(
        "o_orderkey",
        build_column(ColCfg(name="z_order", type="wayzorder"), ctx),
    )


@register(
    "osm_way_resolve",
    """
    WITH coords AS (
      SELECT p_partkey AS id,
             (p_partkey % 20000) / 10.0 AS x,
             (p_partkey % 10000) / 10.0 AS y
      FROM part WHERE p_partkey % 50 != 0
    ),
    refs AS (
      SELECT l_orderkey AS way_id, l_linenumber AS pos, l_partkey AS ref
      FROM lineitem
    ),
    joined AS (
      SELECT r.way_id, r.pos, r.ref, c.x, c.y
      FROM refs r LEFT JOIN coords c ON r.ref = c.id
    ),
    complete AS (
      SELECT way_id FROM joined GROUP BY way_id HAVING count(*) = count(x)
    ),
    seg AS (
      -- (pos, ref) matches the engine's array_sort(struct(linenumber, partkey))
      SELECT way_id, pos, x, y,
             lag(x) OVER (PARTITION BY way_id ORDER BY pos, ref) AS px,
             lag(y) OVER (PARTITION BY way_id ORDER BY pos, ref) AS py
      FROM joined WHERE way_id IN (SELECT way_id FROM complete)
    )
    SELECT way_id,
           count(*) AS n_points,
           round(coalesce(sum(sqrt((x - px) * (x - px) + (y - py) * (y - py))), 0.0), 3) AS length
    FROM seg GROUP BY way_id
    """,
)
def osm_way_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 way⋈coords resolution (cache/delta.go:162-198) through the real
    resolve_way_coords, incl. the any-missing-ref-drops-way semantics."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ways = li.groupBy(F.col("l_orderkey").alias("id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            lambda s: s["l_partkey"],
        ).alias("refs")
    )
    coords = part.filter(F.col("p_partkey") % 50 != 0).select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") % 20000) / 10.0).alias("x"),
        ((F.col("p_partkey") % 10000) / 10.0).alias("y"),
    )
    resolved = resolve_way_coords(ways, coords)
    return resolved.select(
        F.col("id").alias("way_id"),
        F.size("coords").cast("long").alias("n_points"),
        F.round(line_length(F.col("coords")), 3).alias("length"),
    )


@register(
    "osm_tag_match",
    """
    WITH elems AS (
      SELECT p_partkey AS id, p_brand AS brand,
             CASE p_partkey % 4 WHEN 0 THEN 'urban' WHEN 1 THEN 'rural'
                  WHEN 2 THEN 'industrial' ELSE 'park' END AS zone
      FROM part
    ),
    matches AS (
      SELECT id, 'zones' AS dest_table,
             CASE WHEN zone = 'urban' THEN 0
                  WHEN zone = 'park' THEN 1
                  WHEN brand = 'Brand#1' THEN 2 END AS ord,
             CASE WHEN zone IN ('urban', 'park') THEN 'zone'
                  WHEN brand = 'Brand#1' THEN 'brand' END AS mkey,
             CASE WHEN zone IN ('urban', 'park') THEN zone
                  WHEN brand = 'Brand#1' THEN brand END AS mvalue
      FROM elems
      WHERE zone IN ('urban', 'park') OR brand = 'Brand#1'
      UNION ALL
      SELECT id, 'industrial_areas', 0, 'zone', zone
      FROM elems WHERE zone = 'industrial'
    )
    SELECT id, dest_table, mkey, mvalue FROM (
      SELECT id, dest_table, mkey, mvalue,
             row_number() OVER (PARTITION BY id, dest_table ORDER BY ord) AS rn
      FROM matches
    ) WHERE rn = 1
    """,
)
def osm_tag_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 tag->table matching (mapping/matcher.go:166-233) through the real
    compiled MatchUnits: wildcard values, lowest-declaration-order wins."""
    from imposm3_spark.mapping.config import Mapping
    from imposm3_spark.mapping.matcher import compile_match_units

    raw = {
        "tables": {
            "zones": {
                "type": "point",
                "mapping": {"zone": ["urban", "park"], "brand": ["Brand#1"]},
                "columns": [],
            },
            "industrial_areas": {
                "type": "point",
                "mapping": {"zone": ["industrial"]},
                "columns": [],
            },
        }
    }
    units = compile_match_units(Mapping.parse(raw), "point")
    p = _t(spark, sf_dir, "part")
    zone = (
        F.when(F.col("p_partkey") % 4 == 0, F.lit("urban"))
        .when(F.col("p_partkey") % 4 == 1, F.lit("rural"))
        .when(F.col("p_partkey") % 4 == 2, F.lit("industrial"))
        .otherwise(F.lit("park"))
    )
    elems = p.select(
        F.col("p_partkey").alias("id"),
        F.create_map(F.lit("zone"), zone, F.lit("brand"), F.col("p_brand")).alias("tags"),
    )
    outs = []
    for unit in units:
        m = unit.match_expr(F.col("tags"))
        outs.append(
            elems.select(
                "id",
                F.lit(unit.table.name).alias("dest_table"),
                m["key"].alias("mkey"),
                m["value"].alias("mvalue"),
            ).filter(m.isNotNull())
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "osm_tag_prefilter",
    """
    WITH elems AS (
      SELECT p_partkey AS id, p_brand, p_type, p_size FROM part
    ), tags AS (
      SELECT id, 'brand' AS k, p_brand AS v FROM elems
      UNION ALL SELECT id, 'ptype', p_type FROM elems
      UNION ALL SELECT id, 'size', CAST(p_size AS VARCHAR) FROM elems
    )
    SELECT id, k, v FROM tags
    WHERE k = 'brand' OR (k = 'size' AND v IN ('1', '2', '3'))
    """,
)
def osm_tag_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 tag prefilter (mapping/filter.go:15-124): map_filter keeps only
    mapping-referenced keys/values; output exploded for comparability."""
    p = _t(spark, sf_dir, "part")
    tags = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("ptype"), F.col("p_type"),
        F.lit("size"), F.col("p_size").cast("string"),
    )
    kept = F.map_filter(
        tags,
        lambda k, v: (k == "brand") | ((k == "size") & v.isin("1", "2", "3")),
    )
    return (
        _t(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("id"), F.explode(kept).alias("k", "v"))
    )


@register(
    "osm_hstore_render",
    """
    SELECT o_orderkey,
           concat('"priority"=>"', o_orderpriority, '", "status"=>"', o_orderstatus, '"') AS tags
    FROM orders
    """,
)
def osm_hstore_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hstore_tags column type (mapping/columns.go:171-196) via registry."""
    from imposm3_spark.mapping.columns import RowContext, build_column
    from imposm3_spark.mapping.config import Column as ColCfg

    o = _t(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        F.create_map(
            F.lit("priority"), F.col("o_orderpriority"),
            F.lit("status"), F.col("o_orderstatus"),
        ).alias("tags"),
    )
    ctx = RowContext(
        tags=F.col("tags"), osm_id=F.col("o_orderkey"),
        match_key=F.lit(""), match_value=F.lit(""),
    )
    return df.select(
        "o_orderkey", build_column(ColCfg(name="tags", type="hstore_tags"), ctx)
    )


@register(
    "osm_rel_resolve",
    """
    WITH rels AS (
      SELECT o_orderkey AS rel_id, o_custkey FROM orders WHERE o_orderkey % 10 = 0
    ),
    members AS (
      SELECT r.rel_id, l.l_partkey AS way_id, l.l_linenumber AS pos
      FROM rels r JOIN lineitem l ON l.l_orderkey = r.rel_id
    ),
    resolved AS (
      SELECT m.rel_id, m.way_id, p.p_retailprice
      FROM members m LEFT JOIN (SELECT * FROM part WHERE p_partkey % 7 != 0) p
        ON m.way_id = p.p_partkey
    ),
    complete AS (
      SELECT rel_id FROM resolved GROUP BY rel_id
      HAVING count(*) = count(p_retailprice)
    )
    SELECT rel_id, count(*) AS n_members,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_price
    FROM resolved WHERE rel_id IN (SELECT rel_id FROM complete)
    GROUP BY rel_id
    """,
)
def osm_rel_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 relation member resolution with all-or-nothing completeness
    (cache/ways.go:99-114: any missing member way drops the relation)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 != 0)
    members = o.select(F.col("o_orderkey").alias("rel_id")).join(
        li.select(F.col("l_orderkey").alias("rel_id"), F.col("l_partkey").alias("way_id")),
        on="rel_id",
    )
    resolved = members.join(
        part.select(F.col("p_partkey").alias("way_id"), "p_retailprice"),
        on="way_id",
        how="left",
    )
    complete = (
        resolved.groupBy("rel_id")
        .agg((F.count("*") == F.count("p_retailprice")).alias("_ok"))
        .filter("_ok")
        .select("rel_id")
    )
    return (
        resolved.join(complete, on="rel_id", how="leftsemi")
        .groupBy("rel_id")
        .agg(
            F.count("*").alias("n_members"),
            _cents_sum("p_retailprice").alias("total_price"),
        )
    )


@register(
    "osm_closed_way_dispatch",
    """
    WITH ways AS (
      SELECT o_orderkey AS id,
             CASE WHEN o_orderkey % 3 = 0
                  THEN [o_orderkey, o_orderkey+1, o_orderkey+2, o_orderkey+3, o_orderkey]
                  ELSE [o_orderkey, o_orderkey+1, o_orderkey+2] END AS refs,
             CASE o_orderkey % 4 WHEN 0 THEN 'yes' WHEN 1 THEN 'no' ELSE '' END AS area_tag
      FROM orders
    )
    SELECT id,
           (len(refs) >= 4 AND refs[1] = refs[-1]) AS is_closed,
           (NOT ((len(refs) >= 4 AND refs[1] = refs[-1]) AND area_tag = 'yes')) AS as_line,
           ((len(refs) >= 4 AND refs[1] = refs[-1]) AND area_tag != 'no') AS as_polygon
    FROM ways
    """,
)
def osm_closed_way_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 closed-way area/linestring dispatch (mapping/matcher.go:137-155,
    element.go:49-51) through the engine's is_closed_refs expression."""
    from imposm3_spark.geom.build import is_closed_refs

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    refs = F.when(
        k % 3 == 0, F.array(k, k + 1, k + 2, k + 3, k)
    ).otherwise(F.array(k, k + 1, k + 2))
    area_tag = (
        F.when(k % 4 == 0, F.lit("yes")).when(k % 4 == 1, F.lit("no")).otherwise(F.lit(""))
    )
    df = o.select(k.alias("id"), refs.alias("refs"), area_tag.alias("area_tag"))
    closed = is_closed_refs(F.col("refs"))
    return df.select(
        "id",
        closed.alias("is_closed"),
        (~(closed & (F.col("area_tag") == "yes"))).alias("as_line"),
        (closed & (F.col("area_tag") != "no")).alias("as_polygon"),
    )


@register(
    "osm_id_mangle",
    f"""
    SELECT s_suppkey AS id,
           s_suppkey AS node_osm_id,
           -s_suppkey AS way_osm_id,
           CAST(-100000000000000000 AS BIGINT) - s_suppkey AS rel_osm_id,
           -s_suppkey AS rel_osm_id_dual
    FROM supplier
    """,
)
def osm_id_mangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-id-space mangling (element/element.go:36-48, writer/
    ways.go:60-65, relations.go:65-70) through the engine helpers."""
    from imposm3_spark import elements as el

    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return s.select(
        k.alias("id"),
        el.node_osm_id(k).alias("node_osm_id"),
        el.way_osm_id(k, single_id_space=True).alias("way_osm_id"),
        el.relation_osm_id(k, single_id_space=True).alias("rel_osm_id"),
        el.relation_osm_id(k, single_id_space=False).alias("rel_osm_id_dual"),
    )


@register(
    "osm_metadata",
    """
    SELECT event_id,
      CASE WHEN event_id % 7 != 0 THEN CAST(user_id AS INTEGER) END AS m_user_id,
      CASE WHEN event_id % 7 != 0 THEN 'u' || CAST(user_id AS VARCHAR) END AS m_user_name,
      CASE WHEN event_id % 7 != 0 THEN CAST(event_id % 10 + 1 AS INTEGER) END AS m_version,
      CASE WHEN event_id % 7 != 0 THEN CAST(floor(epoch(ts)) AS BIGINT) END AS m_ts,
      CASE WHEN event_id % 7 != 0 THEN event_id END AS m_changeset
    FROM events WHERE event_id < 2000
    """,
)
def osm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-metadata struct semantics (element.go:23-29; sources/osm_xml.py
    METADATA_SCHEMA): build the nullable metadata struct exactly as the
    PBF/XML sources emit it, then project fields back out — null structs
    propagate NULL through every field, populated structs round-trip all
    five (user_id, user_name, version, timestamp, changeset)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    meta = F.when(
        F.col("event_id") % 7 != 0,
        F.struct(
            F.col("user_id").cast("int").alias("user_id"),
            F.concat(F.lit("u"), F.col("user_id")).alias("user_name"),
            (F.col("event_id") % 10 + 1).cast("int").alias("version"),
            F.unix_timestamp("ts").alias("timestamp"),
            F.col("event_id").alias("changeset"),
        ),
    )
    return ev.select(
        "event_id",
        meta["user_id"].alias("m_user_id"),
        meta["user_name"].alias("m_user_name"),
        meta["version"].alias("m_version"),
        meta["timestamp"].alias("m_ts"),
        meta["changeset"].alias("m_changeset"),
    )


@register(
    "osm_diff_frontier",
    """
    WITH ways AS (
      SELECT l_orderkey AS way_id, l_partkey AS node_id FROM lineitem
    ),
    changed_nodes AS (
      SELECT DISTINCT p_partkey AS node_id FROM part WHERE p_partkey % 97 = 0
    ),
    dep_ways AS (
      SELECT DISTINCT way_id FROM ways
      WHERE node_id IN (SELECT node_id FROM changed_nodes)
    ),
    rels AS (
      SELECT o_custkey AS rel_id, o_orderkey AS way_id FROM orders
    ),
    dep_rels AS (
      SELECT DISTINCT rel_id FROM rels
      WHERE way_id IN (SELECT way_id FROM dep_ways)
    )
    SELECT 'way' AS kind, way_id AS id FROM dep_ways
    UNION ALL
    SELECT 'relation', rel_id FROM dep_rels
    """,
)
def osm_diff_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/T3 cascading invalidation (update/process.go:220-259): changed
    nodes -> dependent ways -> dependent relations, via the engine's
    reverse-reference semi-joins."""
    from imposm3_spark.diff import refindex as ri

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    ways = li.groupBy(F.col("l_orderkey").alias("id")).agg(
        F.collect_set("l_partkey").alias("refs")
    )
    changed = part.filter(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("id")
    ).distinct()
    dep_ways = ri.dependent_ways(ways, changed)
    rels = o.groupBy(F.col("o_custkey").alias("id")).agg(
        F.transform(
            F.collect_set("o_orderkey"),
            lambda w: F.struct(
                w.alias("id"), F.lit(1).cast("tinyint").alias("type"), F.lit("").alias("role")
            ),
        ).alias("members")
    )
    dep_rels = ri.dependent_relations(rels, changed_way_ids=dep_ways)
    return dep_ways.select(F.lit("way").alias("kind"), F.col("id")).unionByName(
        dep_rels.select(F.lit("relation").alias("kind"), F.col("id"))
    )


X_FACTOR = POLE / 180.0
Y_INNER = math.pi / 360.0
Y_OUTER = POLE / math.pi


@register(
    "osm_expire_tiles",
    f"""
    WITH pts AS (
      SELECT c_custkey AS id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM customer
    ), merc AS (
      SELECT id,
             lon * {X_FACTOR!r} AS x,
             ln(tan((lat + 90.0) * {Y_INNER!r})) * {Y_OUTER!r} AS y
      FROM pts
    )
    SELECT id,
           CAST(floor((x + {POLE!r}) / (2 * {POLE!r}) * 16384.0) AS INT) AS tile_x,
           CAST(floor(({POLE!r} - y) / (2 * {POLE!r}) * 16384.0) AS INT) AS tile_y,
           14 AS zoom
    FROM merc
    WHERE abs(x) <= {POLE!r} AND abs(y) <= {POLE!r}
    """,
)
def osm_expire_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 tile expiry math (expire/tilelist.go:33-44): point -> z14 tile."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.expr(_LON_SQL).alias("lon"),
        F.expr(_LAT_SQL).alias("lat"),
    )
    x = wgs_to_merc_x(F.col("lon"))
    y = wgs_to_merc_y(F.col("lat"))
    return (
        c.select("id", x.alias("x"), y.alias("y"))
        .filter((F.abs(F.col("x")) <= POLE) & (F.abs(F.col("y")) <= POLE))
        .select(
            "id",
            F.floor((F.col("x") + POLE) / (2 * POLE) * 16384.0).cast("int").alias("tile_x"),
            F.floor((F.lit(POLE) - F.col("y")) / (2 * POLE) * 16384.0).cast("int").alias("tile_y"),
            F.lit(14).alias("zoom"),
        )
    )


# ---------------------------------------------------------------------------
# documents: text analysis + dedup
# ---------------------------------------------------------------------------

_SQL_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"


@register(
    "doc_text_stats",
    rf"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN [] ELSE {_SQL_TOKENS} END AS tokens
      FROM documents
    )
    SELECT doc_id,
           len(tokens) AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
           round(CASE WHEN len(tokens) > 0
                 THEN CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE) / len(tokens)
                 ELSE 0.0 END, 6) AS avg_token_len,
           round(CASE WHEN length(text) > 0
                 THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio
    FROM toks
    """,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.token_count(t).cast("long").alias("n_tokens"),
        tx.bpe_token_count(t).cast("long").alias("n_bpe_tokens"),
        F.round(tx.avg_token_len(t), 6).alias("avg_token_len"),
        F.round(tx.punct_ratio(t), 6).alias("punct_ratio"),
    )


@register(
    "doc_quality",
    rf"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN [] ELSE {_SQL_TOKENS} END AS tokens
      FROM documents
    ), feat AS (
      SELECT doc_id,
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
      FROM toks
    )
    SELECT doc_id,
           round(CAST((CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN p_ratio < 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) AS DOUBLE), 2) AS quality
    FROM feat
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(tx.quality_score(F.col("text")), 2).alias("quality"))


@register(
    "doc_fingerprint",
    rf"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
             range(1, greatest(len(tokens) - 3, 0) + 1),
             i -> md5(array_to_string(tokens[i:i+3], ' ')))) AS fingerprint
    FROM toks
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "doc_dedup_exact",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM unioned GROUP BY md5(text)
    """,
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: union the corpus with an id-shifted copy so every doc
    has exactly one duplicate, keep min-id representative."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    unioned = d.unionByName(d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return dd.exact_dedup(unioned)


_SQL_SHINGLES = r"""list_transform(
      range(1, greatest(len(tokens) - 2, 0) + 1),
      i -> array_to_string(tokens[i:i+2], ' '))"""


def _sql_minhash_bands(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    # one md5 per shingle, sliced into num_hashes fixed-width sub-hashes
    # (matches datapipe.dedup._minhash_fold)
    width = 32 // num_hashes
    sig = ",\n             ".join(
        f"list_min(list_transform(mh, m -> substr(m, {1 + i * width}, {width}))) AS sig{i}"
        for i in range(num_hashes)
    )
    bands = []
    for bi, b in enumerate(range(0, num_hashes, rows_per_band)):
        # raw concat band key — mirrors datapipe.dedup.minhash_lsh_pairs
        # (injective on fixed-width slices, identical bucketing to the
        # round-2 md5 around it)
        parts = " || ".join(f"sig{b + r}" for r in range(rows_per_band))
        bands.append(f"SELECT doc_id AS doc, {bi} AS band_idx, {parts} AS band_key FROM sigs WHERE sig{b} IS NOT NULL")
    return (
        rf"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), sh AS (
      SELECT doc_id, list_transform({_SQL_SHINGLES}, s -> md5(s)) AS mh FROM toks
    ), sigs AS (
      SELECT doc_id,
             {sig}
      FROM sh
    ), bands AS (
      """
        + "\n      UNION ALL\n      ".join(bands)
        + """
    )"""
    )


@register(
    "doc_minhash_pairs",
    _sql_minhash_bands()
    + """
    SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
    """,
)
def doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


@register(
    "doc_simhash",
    None,  # oracle attached below (generated)
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_table(_t(spark, sf_dir, "documents"))


def _sql_simhash(bits: int = 16) -> str:
    # sum over bits of 2^b when the (+1/-1) token vote for bit b is positive
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(tokens, t -> "
        f"CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> {b}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    )
    SELECT doc_id, CAST(coalesce({terms}, 0) AS BIGINT) AS simhash FROM toks
    """


ORACLES["doc_simhash"] = _sql_simhash()


def _sql_simhash_terms(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(tokens, t -> "
        f"CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> {b}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )


@register(
    "doc_simhash_pairs",
    None,  # oracle attached below (generated)
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via the pigeonhole band join (exact w.r.t.
    hamming <= 3 over 60 bits; datapipe/dedup.simhash_hamming_pairs). The
    oracle brute-forces all pairs — the band join must reproduce it
    exactly, any lost candidate is a hash mismatch."""
    return dd.simhash_hamming_pairs(_t(spark, sf_dir, "documents"))


def _sql_simhash_pairs(bits: int = 60, max_distance: int = 3) -> str:
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), sims AS (
      SELECT doc_id, CAST(coalesce({_sql_simhash_terms(bits)}, 0) AS BIGINT) AS simhash
      FROM toks
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}
    """


ORACLES["doc_simhash_pairs"] = _sql_simhash_pairs()


@register(
    "doc_ngram_jaccard",
    _sql_minhash_bands()
    + rf"""
    , cand AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
    ), sets AS (
      SELECT doc_id AS doc, list_distinct({_SQL_SHINGLES}) AS sh
      FROM (SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
            FROM documents)
    )
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
    FROM cand JOIN sets sa ON cand.id_a = sa.doc JOIN sets sb ON cand.id_b = sb.doc
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.2
    """,
)
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


@register(
    "doc_langid",
    None,  # generated below
)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.langid(F.col("text")).alias("lang_guess"))


def _sql_langid() -> str:
    hit_cols = []
    for code, sw in tx.LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in sw)
        hit_cols.append(
            f"len(list_filter(tokens, t -> t IN ({lst}))) AS hits_{code}"
        )
    # best = max hits, ties -> earlier code order, zero hits -> 'und'
    codes = sorted(tx.LANG_STOPWORDS)
    best = "CASE"
    for code in codes:
        others_ge = " AND ".join(
            f"hits_{code} >= hits_{other}" for other in codes if other != code
        )
        best += f" WHEN hits_{code} > 0 AND {others_ge} THEN '{code}'"
    best += " ELSE 'und' END"
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tokens
      FROM documents
    ), hits AS (
      SELECT doc_id, {", ".join(hit_cols)} FROM toks
    )
    SELECT doc_id, {best} AS lang_guess FROM hits
    """


ORACLES["doc_langid"] = _sql_langid()


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------


@register(
    "emb_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             round(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS sim
      FROM q CROSS JOIN embeddings e WHERE q.query_id != e.vec_id
    )
    SELECT query_id, cand_id AS vec_id, rank, sim FROM (
      SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return sim.brute_force_topk(e, q, k=3)


@register(
    "emb_lsh_topk",
    # Full-parity oracle: the engine's LCG hyperplanes (similarity._hyperplane,
    # seeds 1..8) are exact integer arithmetic, reproduced here in HUGEINT
    # (state*A+C mod 2^64; each product < 2^127 so no overflow). The sign of
    # vec . plane is invariant under the engine's plane normalization, so the
    # oracle skips it; bucket = sum of 2^(seed-1) over non-negative dots.
    """
    WITH RECURSIVE lcg(seed, step, state) AS (
      SELECT seed, 0,
             (CAST(seed AS HUGEINT)*6364136223846793005 + 1442695040888963407)
               % 18446744073709551616
      FROM (SELECT unnest(range(1, 9)) AS seed)
      UNION ALL
      SELECT seed, step + 1,
             (state*6364136223846793005 + 1442695040888963407) % 18446744073709551616
      FROM lcg WHERE step < 64
    ), planes AS (
      SELECT seed,
             list((CAST(state // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0
                  ORDER BY step) AS plane
      FROM lcg WHERE step >= 1 GROUP BY seed
    ), buckets AS (
      SELECT vec_id,
             sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << (seed - 1)) ELSE 0 END) AS bucket
      FROM (SELECT e.vec_id, p.seed,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) AS dp
            FROM embeddings e CROSS JOIN planes p)
      GROUP BY vec_id
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM buckets qb
      JOIN embeddings q ON q.vec_id = qb.vec_id AND q.vec_id < 5
      JOIN buckets cb ON cb.bucket = qb.bucket
      JOIN embeddings c ON c.vec_id = cb.vec_id AND c.vec_id != q.vec_id
    )
    SELECT query_id, cand_id AS vec_id, rank, sim FROM (
      SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return sim.lsh_topk(e, q, k=3)


@register(
    "emb_neardup",
    """
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, broadcast-one-side)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.cosine_neardup_pairs(e, threshold=0.4)


@register(
    "emb_ivf_topk",
    # nprobe == ncentroids probes every cell, so the IVF machinery (k-means
    # quantizer, cell assignment UDF, cell equi-join, exact rerank) must
    # reproduce the brute-force answer exactly — an end-to-end value check
    # of the full pipeline: any row lost in the cell join changes the result.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             round(list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6) AS sim
      FROM q CROSS JOIN embeddings e WHERE q.query_id != e.vec_id
    )
    SELECT query_id, cand_id AS vec_id, rank, sim FROM (
      SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return sim.ivf_topk(e, q, k=3, ncentroids=16, nprobe=16)


@register(
    "emb_lsh_neardup",
    # Full-parity oracle for the sub-quadratic near-dup SCALE path: 4 LSH
    # tables (seeds 1000*(t+1)+i, similarity.lsh_neardup_pairs), candidates
    # from any table's bucket collision, exact cosine verify. Plane LCG
    # reproduced in HUGEINT exactly as in emb_lsh_topk's oracle.
    """
    WITH RECURSIVE seeds AS (
      SELECT t, i, 1000 * (t + 1) + i AS seed
      FROM (SELECT unnest(range(0, 4)) AS t), (SELECT unnest(range(0, 8)) AS i)
    ), lcg(seed, step, state) AS (
      SELECT seed, 0,
             (CAST(seed AS HUGEINT)*6364136223846793005 + 1442695040888963407)
               % 18446744073709551616
      FROM seeds
      UNION ALL
      SELECT seed, step + 1,
             (state*6364136223846793005 + 1442695040888963407) % 18446744073709551616
      FROM lcg WHERE step < 64
    ), planes AS (
      SELECT seed,
             list((CAST(state // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0
                  ORDER BY step) AS plane
      FROM lcg WHERE step >= 1 GROUP BY seed
    ), buckets AS (
      SELECT vec_id, t,
             sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS bucket
      FROM (SELECT e.vec_id, s.t, s.i,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) AS dp
            FROM embeddings e
            CROSS JOIN seeds s
            JOIN planes p ON p.seed = s.seed)
      GROUP BY vec_id, t
    ), cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM buckets a JOIN buckets b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT a_id, b_id,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = a_id
    JOIN embeddings eb ON eb.vec_id = b_id
    WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def emb_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-broadcast 100TB near-dup path, value-checked: multi-table
    bucket equi-joins (no corpus broadcast, no all-pairs stage) + exact
    verify. Recall < 1 vs the exact emb_neardup by design; the oracle
    reproduces the buckets bit-for-bit so the result is deterministic."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.lsh_neardup_pairs(e, threshold=0.4, bits=8, tables=4, dim=64)


@register(
    "emb_ivf_topk_probe",
    # Recall-bound oracle: pruning (nprobe=4 of 16 cells) has recall < 1, so
    # the probe's exact ROWS aren't SQL-predictable — but three invariants
    # are, and each fails if the machinery breaks: (n_results) every query
    # returns exactly k=3 rows; (n_sim_exact) every probe sim equals the
    # independently recomputed exact cosine — a wrong rerank or a row
    # corrupted in the cell join changes this; (n_within_m) every probe
    # result sits inside the brute-force top-32 — measured max exact rank is
    # 11 across sf0.001/0.01/0.1, so 32 bounds recall with 3x margin while
    # still rejecting a quantizer that probes the wrong cells.
    """
    SELECT vec_id AS query_id,
           3 AS n_results, 3 AS n_sim_exact, 3 AS n_within_m
    FROM embeddings WHERE vec_id < 5
    """,
)
def emb_ivf_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF shape — nprobe=4 of 16 cells, ~4x less rerank
    work — emitted as per-query invariant counts (see oracle comment) so
    the pruned path is value-checked, not rows-only."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    probe = sim.ivf_topk(e, q, k=3, ncentroids=16, nprobe=4)
    exact = sim.brute_force_topk(e, q, k=32)
    j = probe.alias("p").join(
        exact.alias("x"), ["query_id", "vec_id"], "left"
    )
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.sum(
            F.when(
                F.abs(F.col("p.sim") - F.col("x.sim")) <= F.lit(1.5e-6), 1
            ).otherwise(0)
        ).alias("n_sim_exact"),
        F.sum(F.when(F.col("x.rank") <= 32, 1).otherwise(0)).alias("n_within_m"),
    )


@register(
    "tpch_q6",
    """
    SELECT CAST(sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter+agg — the predicate-pushdown showcase: all four filters
    reach the parquet scan (PushedFilters), no shuffle beyond the final
    single-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    ).agg(
        (
            F.sum(
                F.round((F.col("l_extendedprice") * F.col("l_discount")) * 10000).cast(
                    "bigint"
                )
            ).cast("double")
            / F.lit(10000.0)
        ).alias("revenue")
    )


@register(
    "tpch_q4_semi",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS -> left-semi join (the engine's existence-check surface, same
    shape as the reference's cascade-skip F9)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q8_share",
    """
    WITH v AS (
      SELECT year(o_orderdate) AS o_year,
             CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS volume,
             n2.n_name AS supp_nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM v GROUP BY o_year
    """,
)
def tpch_q8_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: the 8-table join tree. All four dimension
    sides (part, supplier, customer-nation-region chain) are broadcast-size
    at any SF; only lineitem-orders is a fact-fact shuffle join."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    p, s = _t(spark, sf_dir, "part"), _t(spark, sf_dir, "supplier")
    c, n, r = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    v = (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("c_nk"))
        .join(F.broadcast(r.filter(F.col("r_name") == "AMERICA")), F.col("c_rk") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000)
            .cast("bigint")
            .alias("volume"),
            "supp_nation",
        )
    )
    return v.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@register(
    "tpch_q12_priority",
    """
    SELECT l_returnflag AS shipclass,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def tpch_q12_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (late lineitems split by order priority) adapted to the
    available columns: l_returnflag stands in for l_shipmode and the
    lateness predicate is shipdate >= orderdate + 60d (the testdata carries
    no commit/receipt dates). Same plan: fact-fact equi-join with a
    join-crossing predicate + conditional aggregation."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # Representation-proof timestamps: the parquet columns are tz-less
    # timestamp[us]; force TIMESTAMP_NTZ on the column side AND the literal
    # side so the predicate evaluates identically whether the session read
    # the scan as NTZ or LTZ and regardless of session timezone.
    sd = F.col("l_shipdate").cast("timestamp_ntz")
    od = F.col("o_orderdate").cast("timestamp_ntz")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(
            (sd >= od + F.expr("INTERVAL 60 DAYS"))
            & (sd >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (sd < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_returnflag").alias("shipclass"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q21_wait",
    """
    SELECT s_name, count(*) AS numwait FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def tpch_q21_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's signature double correlation — one EXISTS plus one NOT EXISTS
    against the same fact table with inequality correlation (adapted to
    shipdate; testdata has no receipt/commit dates): left-semi + left-anti
    joins on the exploded lineitem. The reference analog is the
    cascade-skip / dependency-check pattern (SURVEY F9/J8)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    l1 = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        F.col("l_shipdate").alias("sd"),
    )
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"),
        F.col("l_suppkey").alias("sk2"),
        F.col("l_shipdate").alias("sd2"),
    )
    base = (
        l1.join(o.filter(F.col("o_orderstatus") == "F"), F.col("ok") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("ok2") == F.col("ok")) & (F.col("sk2") != F.col("sk")),
            "left_semi",
        )
        .join(
            l2,
            (F.col("ok2") == F.col("ok"))
            & (F.col("sk2") != F.col("sk"))
            & (F.col("sd2") > F.col("sd")),
            "left_anti",
        )
    )
    return (
        base.join(F.broadcast(s), F.col("sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "tpch_q18",
    """
    SELECT c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS total,
           round(sum_qty, 2) AS sum_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200) big
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
    ORDER BY total DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer: agg -> HAVING -> join -> global top-k. The
    HAVING prunes before the joins, so the join input is ~1% of orders."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 200)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("total"),
            F.round(F.col("sum_qty_raw"), 2).alias("sum_qty"),
        )
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q22_anti",
    """
    SELECT c_mktsegment, count(*) AS n_quiet
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def tpch_q22_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join (customers with no recent orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_quiet"))
    )


@register(
    "tpch_q2_mincost",
    """
    WITH ps AS (
      -- struct-min: the double ratio picks the min (identical IEEE
      -- division on both engines); the exact integer pair (cents, qty)
      -- of the winning row rides along for the COMPARED output, with
      -- (cents, qty) breaking ratio ties deterministically.
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min({'r': l_extendedprice / l_quantity,
                  'c': CAST(round(l_extendedprice * 100) AS BIGINT),
                  'q': CAST(l_quantity AS BIGINT)}) AS m
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT ps_partkey, ps_suppkey, m.r AS ps_supplycost,
             m.c AS cost_cents, m.q AS cost_qty, s_name, s_acctbal, n_name
      FROM ps, supplier, nation, region
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
    )
    SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
           p_partkey, p_type, cost_cents, cost_qty
    FROM eu JOIN part ON p_partkey = ps_partkey
    WHERE p_size <= 15 AND p_type = 'STANDARD'
      AND ps_supplycost = (SELECT min(e2.ps_supplycost) FROM eu e2
                           WHERE e2.ps_partkey = eu.ps_partkey)
    ORDER BY acctbal DESC, s_name, p_partkey LIMIT 100
    """,
)
def tpch_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: correlated MIN subquery -> window-min over
    the region-restricted part-supplier set, then equality filter. The
    part-supplier relation (no partsupp table in the testdata) is derived
    from lineitem as min unit price per (partkey, suppkey) — one fact-side
    aggregation; everything after it is broadcast-joined dimension work.
    Cost at scale: one shuffle on (partkey, suppkey) for the ps aggregate +
    one narrower shuffle on partkey for the correlated-min window — both on
    the already-aggregated (much smaller) part-supplier set, never a second
    pass over lineitem.

    Exactness: the min-cost pick and the correlated-min filter compare the
    double ratio (one IEEE division, identical on both engines), but the
    COMPARED output is the winning row's exact integer pair (cost_cents,
    cost_qty) — round(ratio, 4) hit a real round-half tie at sf0.001
    (26.24125: Spark shortest-repr HALF_UP down, DuckDB up)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    eu_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p_fil = p.filter((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
    # Pre-filter lineitem BEFORE the (partkey, suppkey) aggregation with
    # broadcast semi-joins on the two dimension restrictions. Equivalence:
    # both predicates only remove whole (partkey, suppkey) GROUPS — the
    # part filter drops partkeys the final inner part-join would discard
    # (the correlated window-min partitions BY ps_partkey, so dropping
    # other partkeys cannot change any surviving partkey's min), and the
    # supplier filter drops exactly the groups the eu inner join would
    # discard (min_cost is defined over the region-restricted eu set).
    # The fact-table shuffle shrinks to the qualifying keys instead of
    # every lineitem row.
    li = li.join(
        F.broadcast(p_fil.select("p_partkey")),
        li["l_partkey"] == F.col("p_partkey"),
        "left_semi",
    ).join(
        F.broadcast(eu_supp.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(
        F.min(
            F.struct(
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("r"),
                F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
                F.col("l_quantity").cast("bigint").alias("q"),
            )
        ).alias("m")
    ).select(
        "ps_partkey",
        "ps_suppkey",
        F.col("m.r").alias("ps_supplycost"),
        F.col("m.c").alias("cost_cents"),
        F.col("m.q").alias("cost_qty"),
    )
    eu = ps.join(F.broadcast(eu_supp), ps["ps_suppkey"] == F.col("s_suppkey"))
    w = Window.partitionBy("ps_partkey")
    best = eu.withColumn("min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("min_cost")
    )
    return (
        best.join(
            F.broadcast(p_fil),
            F.col("p_partkey") == F.col("ps_partkey"),
        )
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "cost_cents",
            "cost_qty",
        )
        .orderBy(F.desc("acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


@register(
    "tpch_q11_stock",
    """
    WITH v AS (
      SELECT l_partkey AS pk, sum(l_extendedprice * (1 - l_discount)) AS val
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_7'
      GROUP BY 1
    )
    SELECT pk, round(val, 2) AS value
    FROM v WHERE val > (SELECT avg(val) * 3 FROM v)
    ORDER BY value DESC, pk
    """,
)
def tpch_q11_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock: per-part value for one nation's suppliers,
    HAVING value > 3x-the-global-average (scalar subquery; an average-based
    cut stays selective at every scale factor, where a fixed fraction of the
    total thins to zero rows as part count grows). Spark shape:
    one shuffle agg on partkey; the global total is a second agg over the
    SAME cached aggregate (tiny) cross-joined back as a broadcast literal —
    the fact table is scanned once, not twice."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    supp7 = (
        s.join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
            s["s_nationkey"] == n["n_nationkey"],
            "left_semi",
        ).select("s_suppkey")
    )
    v = (
        li.join(F.broadcast(supp7), li["l_suppkey"] == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"))
        .localCheckpoint(eager=False)
    )
    total = v.agg((F.avg("val") * 3).alias("threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("pk", F.round("val", 2).alias("value"))
        .orderBy(F.desc("value"), F.asc("pk"))
    )


# round-2 extended surface registers itself into QUERIES/ORACLES on import
from imposm3_spark import benchqueries_ext as _ext  # noqa: E402,F401
from imposm3_spark import benchqueries_media as _media  # noqa: E402,F401
from imposm3_spark import benchqueries_text as _text  # noqa: E402,F401
from imposm3_spark import benchqueries_spatial as _spatial  # noqa: E402,F401
from imposm3_spark import benchqueries_stats as _stats  # noqa: E402,F401
from imposm3_spark import benchqueries_mining as _mining  # noqa: E402,F401
from imposm3_spark import benchqueries_exact as _exact  # noqa: E402,F401
from imposm3_spark import benchqueries_r4 as _r4  # noqa: E402,F401
from imposm3_spark import benchqueries_r4b as _r4b  # noqa: E402,F401
