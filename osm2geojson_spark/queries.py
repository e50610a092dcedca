"""Driver-contract query catalog: every operator family from SURVEY.md §2
expressed twice — once as the engine's DataFrame pipeline, once as ANSI SQL
for the DuckDB oracle (CORRECTNESS gate).

Cross-engine determinism rules used throughout (so value-hashes match):

- money/measure sums go through ``CAST(x AS DECIMAL(...))`` **before** the
  sum: decimal addition is exact and order-independent, so Spark's
  parallel partial aggregation and DuckDB's serial sum agree bit-for-bit;
  the final value is cast back to double (one deterministic conversion).
- derived lon/lat coordinates come from pure int64 modular arithmetic on
  key columns (exact in both engines), divided once by a power of ten.
- no trig in oracle'd distance ranking (haversine last-ulp libm drift);
  the oracle'd kNN ranks by planar squared distance (mul/add only).
- box-polygon edges sit at +5e-7 offsets so no 1e-6-grid point ever lies
  exactly on an edge (strict interior semantics on both sides).
- every computed column is aliased identically in both twins.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm2geojson_spark.functions import cells as C
from osm2geojson_spark.functions import hexgrid as HX
from osm2geojson_spark.functions import s2 as S2
from osm2geojson_spark.functions import text as TX
from osm2geojson_spark.operators import dedup as DD
from osm2geojson_spark.operators import osm_join as OJ
from osm2geojson_spark.operators import similarity as SIM
from osm2geojson_spark.session import persist
from osm2geojson_spark.spatial import knn as KNN
from osm2geojson_spark.spatial import pip as PIP
from osm2geojson_spark.spatial import tiles as TI

# --------------------------------------------------------------------------
# shared helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with explicit parallelism: the test file is a single tiny
    parquet split, which would serialize the expression-heavy text kernels
    into ONE task. At production scale the scan has many splits and this
    round-robin exchange is a no-op to remove."""
    df = _t(spark, sf_dir, "documents")
    return df.repartition(spark.sparkContext.defaultParallelism)


# deterministic int64 coordinate derivation (identical in Spark + DuckDB)
_LON_MUL = 2654435761
_LAT_MUL = 2246822519
_LAT_OFF = 1013904223


def lon_col(key):
    return ((key * F.lit(_LON_MUL)) % F.lit(360_000_000)).cast("double") / 1_000_000.0 - 180.0


def lat_col(key):
    return ((key * F.lit(_LAT_MUL) + F.lit(_LAT_OFF)) % F.lit(170_000_000)).cast("double") / 1_000_000.0 - 85.0


def lon_sql(key: str) -> str:
    return f"CAST((({key}) * {_LON_MUL}) % 360000000 AS DOUBLE) / 1000000.0 - 180.0"


def lat_sql(key: str) -> str:
    return f"CAST((({key}) * {_LAT_MUL} + {_LAT_OFF}) % 170000000 AS DOUBLE) / 1000000.0 - 85.0"


def _dec_sum(col, prec: int = 28, scale: int = 6):
    """Order-independent exact sum → double (see module docstring)."""
    return F.sum(col.cast(f"decimal({prec},{scale})")).cast("double")


# PIP fixture polygons: 5 disjoint boxes derived from r_regionkey.
# Edges at +5e-7 so no derived coordinate (1e-6 grid) is ever ON an edge.
def _box_cols(rk):
    return (rk * 60 - 170.0000005, rk * 60 - 140.0000005,
            rk * 25 - 60.0000005, rk * 25 - 40.0000005)


def region_boxes(region: DataFrame) -> DataFrame:
    """Polygon table (poly_id, ring) for the PIP operator: 5 axis-aligned
    boxes — exercised through the *generic* ray-cast path, while the oracle
    uses the strict box predicate (same interior for axis-aligned rings)."""
    rk = F.col("r_regionkey").cast("long")
    x0, x1, y0, y1 = _box_cols(rk)
    pt = lambda x, y: F.struct(x.alias("lon"), y.alias("lat"))  # noqa: E731
    return region.select(
        F.col("r_regionkey").alias("poly_id"),
        F.array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1), pt(x0, y0)).alias("ring"),
    )


# --------------------------------------------------------------------------
# relational surface (reference shapes J0-J6 / O1-O4 / A1 on TPC-H tables)


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan→filter→hash agg (map-side partial, one shuffle)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 45)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    out = li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), 18, 2).alias("sum_qty"),
        _dec_sum(F.col("l_extendedprice"), 18, 2).alias("sum_base_price"),
        _dec_sum(disc).alias("sum_disc_price"),
        _dec_sum(charge).alias("sum_charge"),
        F.count("*").alias("count_order"),
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_quantity < 45
GROUP BY l_returnflag, l_linestatus
"""


def q_star_join(spark, sf_dir):
    """Star join: big fact ⋈ broadcast dims (lineitem→orders→customer→
    nation→region), revenue rollup per region. Catalyst broadcasts every
    dim (< threshold); one shuffle for the final agg."""
    li, orders, cust, nation, region = (
        _t(spark, sf_dir, n) for n in ("lineitem", "orders", "customer", "nation", "region"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey")),
                li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(_dec_sum(disc).alias("revenue"), F.count("*").alias("n_items"))
    )


_SQL_STAR = """
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_cogroup_join(spark, sf_dir):
    """J0 — the reference's cogrouped inner join (EntryJoiningIterable):
    group sizes per key present on BOTH sides; unmatched keys dropped."""
    left = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.col("l_linenumber").cast("string").alias("value"))
    right = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), F.col("o_orderpriority").alias("value"))
    cg = OJ.cogroup_join(left, right)
    return cg.select(
        "key", F.size("left_values").alias("n_left"), F.size("right_values").alias("n_right"))


_SQL_COGROUP = """
SELECT l.key, l.n_left, r.n_right
FROM (SELECT l_orderkey AS key, CAST(COUNT(*) AS INT) AS n_left FROM lineitem GROUP BY 1) l
JOIN (SELECT o_orderkey AS key, CAST(COUNT(*) AS INT) AS n_right FROM orders GROUP BY 1) r
USING (key)
"""


def _ways_input(spark, sf_dir):
    """Shared (nodes, ways) synthesis for the way-assembly query family:
    'ways' = orders (ns = parts in linenumber order), 'nodes' = parts
    with derived coords.

    The ways agg repartitions by the GROUP KEY first: collect_list has
    no map-side reduction, so this is the same single shuffle the
    groupBy would do anyway — but the heavy sort/collect side runs at
    full parallelism instead of inheriting the scan's task count (the
    driver regenerated sf0.1 as ONE 10.8 MB parquet file mid-round-3,
    which cut the scan to 3 tasks and cost way_assembly +35% until this
    re-base; at 100 TB the scan has thousands of splits and Catalyst
    collapses the adjacent exchanges)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    nodes = part.select(
        F.col("p_partkey").alias("id"),
        lon_col(F.col("p_partkey")).alias("lon"),
        lat_col(F.col("p_partkey")).alias("lat"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    ways = (
        li.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                lambda s: s["l_partkey"],
            ).alias("ns"))
        .select(F.col("l_orderkey").alias("id"),
                F.create_map().cast("map<string,string>").alias("tags"),
                "ns")
    )
    return nodes, ways


def q_way_assembly(spark, sf_dir):
    """J1+J2 on driver data: runs the REAL assemble_ways operator, then
    flattens the ordered chain for the oracle (order-preservation
    through the shuffle is the property under test)."""
    nodes, ways = _ways_input(spark, sf_dir)
    assembled = OJ.assemble_ways(nodes, ways)
    return assembled.select(
        F.col("id").alias("way_id"), F.posexplode("nodes").alias("pos", "n")
    ).select("way_id", "pos", F.col("n.id").alias("node_id"),
             F.col("n.lon").alias("lon"), F.col("n.lat").alias("lat"))


_SQL_WAY_ASSEMBLY = f"""
SELECT l_orderkey AS way_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) - 1 AS INT) AS pos,
       l_partkey AS node_id,
       {lon_sql('l_partkey')} AS lon,
       {lat_sql('l_partkey')} AS lat
FROM lineitem
"""


def q_way_bbox(spark, sf_dir):
    """Feature enrichment: per-way bounding box + vertex count over the
    REAL assembled geometry (array exprs on the collected chain — no
    extra shuffle past assembly). min/max are order-independent →
    bit-exact oracle; sums/centroids deliberately excluded (double sum
    order is engine-dependent)."""
    nodes, ways = _ways_input(spark, sf_dir)
    assembled = OJ.assemble_ways(nodes, ways)
    lons = F.transform("nodes", lambda n: n["lon"])
    lats = F.transform("nodes", lambda n: n["lat"])
    return assembled.select(
        F.col("id").alias("way_id"),
        F.size("nodes").alias("n_pts"),
        F.array_min(lons).alias("min_lon"),
        F.array_max(lons).alias("max_lon"),
        F.array_min(lats).alias("min_lat"),
        F.array_max(lats).alias("max_lat"),
    )


_SQL_WAY_BBOX = f"""
SELECT l_orderkey AS way_id, CAST(COUNT(*) AS INT) AS n_pts,
       MIN({lon_sql('l_partkey')}) AS min_lon,
       MAX({lon_sql('l_partkey')}) AS max_lon,
       MIN({lat_sql('l_partkey')}) AS min_lat,
       MAX({lat_sql('l_partkey')}) AS max_lat
FROM lineitem GROUP BY l_orderkey
"""


def q_way_geom_type(spark, sf_dir):
    """GE2 closure rule (OsmPostProcessor.java:194-208) through the REAL
    geometry expressions: assembled chain → first==last coords → Polygon
    else LineString. Oracle compares the derived coords of the first/last
    chain members (arg_min/arg_max by position)."""
    from osm2geojson_spark.functions import geometry as G

    nodes, ways = _ways_input(spark, sf_dir)
    assembled = OJ.assemble_ways(nodes, ways)
    coords = G.way_coords(F.col("nodes"))
    return assembled.select(
        F.col("id").alias("way_id"),
        G.way_geom_type(coords).alias("geom_type"),
        F.size("nodes").alias("n_points"),
    )


_SQL_WAY_GEOM_TYPE = f"""
WITH ends AS (
  SELECT l_orderkey AS way_id,
         -- composite ordering value: (l_orderkey, l_linenumber) is NOT
         -- unique in this data, so ties must break by partkey exactly
         -- like the engine's struct sort
         arg_min(l_partkey, l_linenumber * 100000000 + l_partkey) AS p_first,
         arg_max(l_partkey, l_linenumber * 100000000 + l_partkey) AS p_last,
         CAST(COUNT(*) AS INT) AS n_points
  FROM lineitem GROUP BY l_orderkey)
SELECT way_id,
       CASE WHEN ({lon_sql('p_first')}) = ({lon_sql('p_last')})
             AND ({lat_sql('p_first')}) = ({lat_sql('p_last')})
            THEN 'Polygon' ELSE 'LineString' END AS geom_type,
       n_points
FROM ends
"""


def q_window_topk(spark, sf_dir):
    """Top-3 orders per customer — window + row_number (top-k pattern)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rn"))


_SQL_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 3
"""


def q_sort_limit(spark, sf_dir):
    """Global sort + limit with deterministic tie-break (O2/O3 shape)."""
    return (_t(spark, sf_dir, "part")
            .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
            .limit(10)
            .select("p_partkey", "p_name", "p_retailprice"))


_SQL_SORT_LIMIT = """
SELECT p_partkey, p_name, p_retailprice FROM part
ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
"""


def q_semi_anti(spark, sf_dir):
    """Left-semi + left-anti joins, tagged and unioned."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    ok = orders.select("o_custkey")
    semi = cust.join(ok, cust["c_custkey"] == ok["o_custkey"], "left_semi") \
        .select("c_custkey").withColumn("op", F.lit("has_orders"))
    anti = cust.join(ok, cust["c_custkey"] == ok["o_custkey"], "left_anti") \
        .select("c_custkey").withColumn("op", F.lit("no_orders"))
    return semi.unionByName(anti)


_SQL_SEMI_ANTI = """
SELECT c_custkey, 'has_orders' AS op FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'no_orders' AS op FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT set semantics."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    both = building.intersect(with_orders).withColumn("op", F.lit("intersect"))
    only = building.subtract(with_orders).withColumn("op", F.lit("except"))
    return both.unionByName(only)


_SQL_SET_OPS = """
SELECT c_custkey, 'intersect' AS op FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'except' AS op FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT SELECT o_custkey FROM orders)
"""


def q_outer_join(spark, sf_dir):
    """Full outer join with side indicators (the reference only ever does
    inner cogroups — engine completeness). Nation ⋈ customers-per-nation:
    nations with no customers AND a synthetic key with no nation both
    survive."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = cust.groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    # shift half the keys so both dangling sides exist deterministically
    shifted = per_nation.withColumn(
        "c_nationkey",
        F.when(F.col("c_nationkey") % 5 == 0, F.col("c_nationkey") + 100)
        .otherwise(F.col("c_nationkey")))
    out = nation.join(shifted, nation["n_nationkey"] == shifted["c_nationkey"], "full_outer")
    return out.select(
        F.coalesce("n_nationkey", F.lit(-1)).alias("nationkey"),
        F.coalesce("n_name", F.lit("NONE")).alias("nname"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        (F.col("n_nationkey").isNotNull()).alias("has_nation"),
        (F.col("n_cust").isNotNull()).alias("has_cust"),
    )


_SQL_OUTER_JOIN = """
WITH per_nation AS (
  SELECT CASE WHEN c_nationkey % 5 = 0 THEN c_nationkey + 100
              ELSE c_nationkey END AS c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM customer GROUP BY c_nationkey)
SELECT COALESCE(n_nationkey, -1) AS nationkey,
       COALESCE(n_name, 'NONE') AS nname,
       COALESCE(n_cust, 0) AS n_cust,
       n_nationkey IS NOT NULL AS has_nation,
       n_cust IS NOT NULL AS has_cust
FROM nation FULL OUTER JOIN per_nation ON n_nationkey = c_nationkey
"""


def q_collect_agg(spark, sf_dir):
    """Set-collect aggregation with canonical order (A1 family): distinct
    order priorities per status, sorted then joined to one string."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), "|")
        .alias("priorities"),
        F.countDistinct("o_orderpriority").alias("n_distinct"),
    )


_SQL_COLLECT_AGG = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct
FROM orders GROUP BY o_orderstatus
"""


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median / p90) per group — Spark's
    `percentile` and DuckDB's `quantile_cont` share the linear
    interpolation formula, verified bit-exact."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


_SQL_PERCENTILES = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS med,
       quantile_cont(o_totalprice, 0.9) AS p90,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM orders GROUP BY o_orderstatus
"""


def q_pivot(spark, sf_dir):
    """Pivot (wide aggregation): order counts by status × priority —
    groupBy().pivot() in the engine, CASE-sum twin in the oracle.

    Pivot values are HARDCODED (TPC-H's fixed five priorities) in both
    twins: collecting them from data would add a driver round-trip AND
    let the engine/oracle silently diverge if the data changed. Explicit
    values also skip Spark's pivot-value discovery job."""
    orders = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cols = {p: "p" + p.split("-")[0] for p in sorted(prios)}
    out = (orders.groupBy("o_orderstatus")
           .pivot("o_orderpriority", sorted(prios))
           .agg(F.count(F.lit(1))))
    for p, alias in cols.items():
        out = out.withColumnRenamed(p, alias)
    return out.select("o_orderstatus",
                      *[F.coalesce(a, F.lit(0)).alias(a) for a in cols.values()])


def _sql_pivot() -> str:
    # priorities are the TPC-H fixed five: 1-URGENT .. 5-LOW
    cases = ", ".join(
        f"CAST(SUM(CASE WHEN o_orderpriority = '{n}-{w}' THEN 1 ELSE 0 END) AS BIGINT) AS p{n}"
        for n, w in [("1", "URGENT"), ("2", "HIGH"), ("3", "MEDIUM"),
                     ("4", "NOT SPECIFIED"), ("5", "LOW")])
    return f"SELECT o_orderstatus, {cases} FROM orders GROUP BY o_orderstatus"


def q_rollup(spark, sf_dir):
    """ROLLUP grouping sets (engine addition; reference has none)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), _dec_sum(F.col("l_quantity"), 18, 2).alias("sum_qty"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                    "n", "sum_qty"))


_SQL_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every purchase event matched to
    the user's most recent PRECEDING click (right side pre-aggregated to
    unique (user, ts) so DuckDB's native ASOF JOIN is an exact twin).
    Timestamps emitted as epoch seconds (cross-engine-stable ints)."""
    from osm2geojson_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    right = (ev.filter(F.col("event_type") == "click")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("click_value")))
    out = asof_join(left, right, by="user_id", value_cols=["click_value"])
    # truncating epoch (determinism rules): unix_timestamp floors but
    # DuckDB's date_part('epoch') rounds sub-second parts — timestampdiff
    # truncates in both engines
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    rsec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts_asof)")
    return out.select(
        "event_id", "user_id", sec.alias("l_sec"), rsec.alias("r_sec"),
        "click_value_asof",
    ).withColumnRenamed("click_value_asof", "click_value")


_SQL_ASOF_JOIN = """
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     r AS (SELECT user_id, ts, MAX(value) AS click_value FROM events
           WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id,
       CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00',
                     CAST(l.ts AS TIMESTAMP)) AS BIGINT) AS l_sec,
       CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00',
                     CAST(r.ts AS TIMESTAMP)) AS BIGINT) AS r_sec,
       r.click_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_interval_join(spark, sf_dir):
    """Temporal range join (operators/ranges.py): orders as point events
    vs synthetic per-order validity windows of the same customers —
    bucketed prefilter + residual containment, never a theta join.
    Day-integer time axis (exact ints both engines)."""
    from osm2geojson_spark.operators.ranges import interval_join

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 30)
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit("1970-01-01").cast("date"))
    ev = orders.select(F.col("o_orderkey").alias("event_key"),
                       F.col("o_custkey").alias("ck"), day.alias("t"))
    iv = orders.select(F.col("o_orderkey").alias("interval_key"),
                       F.col("o_custkey").alias("ck"),
                       day.alias("start"),
                       (day + F.col("o_orderkey") % 45).alias("end"))
    out = interval_join(ev, iv, on="ck", ts="t", start="start", end="end",
                        bucket=16)
    return out.select("ck", "event_key", "interval_key", "t", "start", "end")


_SQL_INTERVAL_JOIN = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS INT) AS day
  FROM orders WHERE o_custkey <= 30)
SELECT e.o_custkey AS ck, e.o_orderkey AS event_key,
       i.o_orderkey AS interval_key, e.day AS t,
       i.day AS start, (i.day + (i.o_orderkey % 45)) AS "end"
FROM o e JOIN o i
  ON e.o_custkey = i.o_custkey
 AND i.day <= e.day AND e.day <= (i.day + (i.o_orderkey % 45))
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): the two marginal
    distributions of (returnflag, linestatus) in ONE pass — spark.sql
    grouping-sets syntax, expand-once plan."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """)


_SQL_GROUPING_SETS = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def q_string_scalar(spark, sf_dir):
    """P10/P11 scalar surface: concat-prefix ids, lower, substring,
    regexp_extract, length."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        F.concat(F.lit("part/"), F.col("p_partkey").cast("string")).alias("fid"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.length("p_name").alias("name_len"),
    )


_SQL_STRING_SCALAR = """
SELECT 'part/' || CAST(p_partkey AS VARCHAR) AS fid,
       lower(p_type) AS type_lower,
       substring(p_name, 1, 8) AS name_prefix,
       regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
       CAST(length(p_name) AS INT) AS name_len
FROM part
"""


def q_events_hourly(spark, sf_dir):
    """Time-bucketed agg on the events table (batch twin of the streaming
    windowed agg; hour truncation + decimal-exact sums)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("hour"), "event_type")
            .agg(F.count("*").alias("n"), _dec_sum(F.col("value"), 18, 6).alias("sum_value")))


_SQL_EVENTS_HOURLY = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_json_props(spark, sf_dir):
    """JSON scalar surface (§2.6 from_json/get_json_object twin): parse
    the events props JSON and aggregate per extracted value bucket."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.select((k % 10).alias("k_bucket"))
            .groupBy("k_bucket").agg(F.count("*").alias("n")))


_SQL_JSON_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min gap): lag + cumulative flag-sum —
    the stateful-session shape as deterministic window algebra."""
    # timestampdiff over TIMESTAMP_NTZ: explicitly timezone-free epoch
    # seconds (unix_timestamp would consult the session zone for TZ types)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.withColumn(
        "new_s", F.when(
            (F.col("sec") - F.lag("sec", 1).over(w)) > 1800, 1).otherwise(0))
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("sec").alias("start_sec"), F.max("sec").alias("end_sec")))


_SQL_SESSIONIZE = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
flagged AS (
  SELECT *, CASE WHEN sec - LAG(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
sess AS (
  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(sec) AS start_sec, MAX(sec) AS end_sec
FROM sess GROUP BY user_id, session_id
"""


def q_dedup_kv(spark, sf_dir):
    """O4 — (key, value)-pair dedup (SortingWriter.java:76-81 TreeMultimap
    semantics) via the real dedup_kv operator on a multimap projection."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.col("l_returnflag").alias("value"))
    return OJ.dedup_kv(li)


_SQL_DEDUP_KV = """
SELECT DISTINCT l_orderkey AS key, l_returnflag AS value FROM lineitem
"""


def q_running_sum(spark, sf_dir):
    """Window frame (running cumulative sum per customer over order time,
    decimal-exact)."""
    orders = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("running_total"),
    )


_SQL_RUNNING_SUM = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
"""


def q_lead_lag(spark, sf_dir):
    """Offset window functions: per customer, each order's gap to the
    previous/next order (lead/lag with defaults) + quartile bucket
    (ntile). Deterministic order: (o_orderdate, o_orderkey)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.lag("o_orderkey", 1, -1).over(w).alias("prev_key"),
        F.lead("o_orderkey", 1, -1).over(w).alias("next_key"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate", 1).over(w)
        ).alias("days_since_prev"),
        F.ntile(4).over(w).alias("quartile"),
    )


_SQL_LEAD_LAG = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey, 1, -1) OVER w AS prev_key,
       LEAD(o_orderkey, 1, -1) OVER w AS next_key,
       CAST(date_diff('day', CAST(LAG(o_orderdate, 1) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
       CAST(NTILE(4) OVER w AS INT) AS quartile
FROM orders WHERE o_custkey <= 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_cube(spark, sf_dir):
    """CUBE grouping sets over two dims."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 _dec_sum(F.col("o_totalprice"), 18, 2).alias("total"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n", "total"))


_SQL_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# text / dedup family (documents table)


def q_text_stats(spark, sf_dir):
    """Language-ID, quality score, token counts, fingerprint — all
    JVM-side column expressions (functions/text.py)."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count_expr(t).alias("n_tok"),
        TX.bpe_ish_token_count_expr(t).alias("n_bpe"),
        TX.fingerprint_expr(t).alias("fingerprint"),
        TX.lang_id_expr(t).alias("lang_pred"),
        TX.quality_score_expr(t, F.col("n_chars")).alias("quality"),
        TX.stopword_ratio_expr(t).alias("stopword_ratio"),
    )


def _lang_score_sql(markers: list[str]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return ("length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
            f"t -> t != '' AND list_contains({lst}, t)))")


def _sql_text_stats() -> str:
    sw = "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS) + "]"
    scores = {lang: _lang_score_sql(m) for lang, m in sorted(TX.LANG_MARKERS.items())}
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in scores) + ")"
    # tie-break: first language in sorted order wins (matches lang_id_expr)
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in scores
    ) + " ELSE 'und' END"
    score_cols = ", ".join(f"{e} AS s_{lang}" for lang, e in scores.items())
    return f"""
WITH toks AS (
  SELECT doc_id, text, n_chars,
    length(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '')) AS n_tok,
    length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != ''))
      + length(regexp_replace(text, '[\\sA-Za-z0-9]', '', 'g')) AS n_bpe,
    substring(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fingerprint,
    length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> t != '')) AS n_alnum,
    length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> t != '' AND list_contains({sw}, t))) AS n_stop,
    {score_cols}
  FROM documents),
scored AS (SELECT *, {best} AS best FROM toks)
SELECT doc_id, CAST(n_tok AS INT) AS n_tok, CAST(n_bpe AS INT) AS n_bpe,
       fingerprint, {case} AS lang_pred,
       ((CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN n_tok > 0 AND CAST(n_chars AS DOUBLE)/n_tok >= 3.0
              AND CAST(n_chars AS DOUBLE)/n_tok <= 12.0 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN length(regexp_replace(text, '[\\sA-Za-z0-9]', '', 'g'))
              / greatest(CAST(n_chars AS DOUBLE), 1.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
       ) / 3.0 AS quality,
       CASE WHEN n_alnum > 0 THEN CAST(n_stop AS DOUBLE) / n_alnum
            ELSE 0.0 END AS stopword_ratio
FROM scored
"""


def q_exact_dedup(spark, sf_dir):
    """Exact dedup: normalized-text fingerprint groups, min-id keeper."""
    docs = _docs(spark, sf_dir)
    return DD.exact_dedup(docs, text_col="text", id_col="doc_id")


_SQL_EXACT_DEDUP = """
SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS group_size
FROM documents
GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
"""

# shared tokenizer CTE — twin of text.tokens_expr (trim → split \s+ → drop '')
_SQL_TOKS_CTE = """
toks AS (
  SELECT doc_id, t AS tok FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x != '')) AS t
    FROM documents)
)
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style per-doc repetition metrics (training-data quality
    filter): token/distinct counts, type-token ratio, dominant token and
    its mass share. int/int double divisions → bit-exact twin."""
    return TX.repetition_stats(_docs(spark, sf_dir))


_SQL_REPETITION_STATS = f"""
WITH {_SQL_TOKS_CTE},
counts AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY doc_id, tok),
tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM counts GROUP BY doc_id),
top AS (SELECT doc_id, tok AS top_tok, CAST(n AS BIGINT) AS top_n FROM (
          SELECT doc_id, tok, n,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY n DESC, tok ASC) AS rn
          FROM counts) WHERE rn = 1)
SELECT t.doc_id, t.n_tokens, t.n_distinct,
       (CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) AS distinct_ratio,
       p.top_tok, p.top_n,
       (CAST(p.top_n AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) AS top_ratio
FROM tot t JOIN top p ON (t.doc_id = p.doc_id)
"""


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary build: top-50 tokens by tf (lexicographic ties)
    with document frequency — TakeOrdered plan, no full sort."""
    return TX.vocab_topk(_docs(spark, sf_dir), k=50)


_SQL_VOCAB_TOPK = f"""
WITH {_SQL_TOKS_CTE}
SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM toks GROUP BY tok
ORDER BY tf DESC, tok ASC LIMIT 50
"""


def q_term_salience(spark, sf_dir):
    """Per-doc top-3 salient terms by tf/df — the TF-IDF shape with an
    exact rational score (no log: transcendental funcs are banned from
    oracle-compared values). df table broadcast to per-doc counts."""
    return TX.doc_term_salience(_docs(spark, sf_dir), top_n=3)


_SQL_TERM_SALIENCE = f"""
WITH {_SQL_TOKS_CTE},
counts AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
          FROM toks GROUP BY tok)
SELECT doc_id, tok, tf, doc_freq, salience, CAST(rn AS INT) AS rank FROM (
  SELECT c.doc_id, c.tok, c.tf, d.doc_freq,
         (CAST(c.tf AS DOUBLE) / CAST(d.doc_freq AS DOUBLE)) AS salience,
         ROW_NUMBER() OVER (PARTITION BY c.doc_id ORDER BY
           (CAST(c.tf AS DOUBLE) / CAST(d.doc_freq AS DOUBLE)) DESC,
           c.tok ASC) AS rn
  FROM counts c JOIN dfreq d ON (c.tok = d.tok)
) WHERE rn <= 3
"""


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs via inverted-index candidate join."""
    docs = _docs(spark, sf_dir)
    return DD.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)


_SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id AS id, list_distinct(sh) AS sh FROM (
    SELECT doc_id,
      CASE WHEN length(toks) >= 3 THEN
        list_transform(range(1, length(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))
      ELSE [array_to_string(toks, ' ')] END AS sh
    FROM (SELECT doc_id,
            list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                        t -> t != '') AS toks
          FROM documents))),
postings AS (SELECT id, unnest(sh) AS g FROM sh),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM postings a JOIN postings b ON a.g = b.g AND a.id < b.id)
SELECT id_a, id_b,
       CAST(length(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
     / CAST(length(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
FROM cand
JOIN sh sa ON sa.id = cand.id_a
JOIN sh sb ON sb.id = cand.id_b
WHERE CAST(length(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
     / CAST(length(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.2
"""


def q_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: n-gram Jaccard pairs → transitive closure via
    distributed min-label propagation (operators/dedup.dup_clusters) —
    the step that turns pairwise dedup output into droppable groups.
    Oracle: the same pair SQL + a recursive-CTE connected components."""
    docs = _docs(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)
    return DD.dup_clusters(pairs.select("id_a", "id_b"))


def _sql_dup_clusters() -> str:
    # reuse the ngram pair CTEs, then min-label closure as a recursive CTE
    body = _SQL_NGRAM_JACCARD.strip()
    assert body.startswith("WITH ")
    pair_ctes = body[len("WITH "):body.index("SELECT id_a")]
    pair_select = body[body.index("SELECT id_a"):]
    return f"""
WITH RECURSIVE {pair_ctes.rstrip()},
dup_pairs AS ({pair_select}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM dup_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM dup_pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst AS id, reach.r AS r
  FROM reach JOIN edges e ON (e.src = reach.id)
)
SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


def q_canonical_pick(spark, sf_dir):
    """Quality-ranked canonical selection over near-dup clusters: the
    highest-quality member of each cluster is kept (ties → lowest id) —
    dedup that keeps the BEST capture, not the first. Oracle: the
    recursive-CTE closure + the text_stats quality formula + the same
    window rank."""
    docs = _docs(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)
    clusters = DD.dup_clusters(pairs.select("id_a", "id_b"))
    quality = TX.quality_score_expr(F.col("text"), F.col("n_chars"))
    return DD.canonical_pick(clusters, docs, quality)


def _sql_canonical_pick() -> str:
    base = _sql_dup_clusters().strip()
    final = "SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id"
    assert base.endswith(final)
    quality = """
((CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
 + (CASE WHEN n_tok > 0 AND (CAST(n_chars AS DOUBLE) / n_tok) >= 3.0
         AND (CAST(n_chars AS DOUBLE) / n_tok) <= 12.0 THEN 1.0 ELSE 0.0 END)
 + (CASE WHEN (length(regexp_replace(text, '[\\sA-Za-z0-9]', '', 'g'))
               / greatest(CAST(n_chars AS DOUBLE), 1.0)) <= 0.2
         THEN 1.0 ELSE 0.0 END)) / 3.0
"""
    return base[: -len(final)] + f""",
cl AS ({final}),
qual AS (
  SELECT doc_id AS id, {quality} AS quality
  FROM (SELECT doc_id, text, n_chars,
               length(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  t -> t != '')) AS n_tok
        FROM documents) AS t)
SELECT cl.id, cl.cluster_id, qual.quality,
       (ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                           ORDER BY qual.quality DESC, cl.id ASC) = 1) AS keep
FROM cl JOIN qual USING (id)
"""


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs (xxhash64 seeds — DuckDB has no
    builtin, so the twin is a pyref literal table)."""
    docs = _docs(spark, sf_dir)
    return DD.minhash_lsh_pairs(docs)


def q_simhash_pairs(spark, sf_dir):
    """SimHash hamming≤3 near-dup pairs (pyref literal-table twin)."""
    docs = _docs(spark, sf_dir)
    return DD.simhash_near_dup_pairs(docs)


# --------------------------------------------------------------------------
# literal-table oracles (pure-Python/numpy reference → DuckDB VALUES)
#
# DuckDB cannot reproduce Spark's seeded xxhash64 or run numpy k-means, so
# the minhash/simhash/IVF/phash oracles are generated instead: the expected
# output is recomputed from the parquet (or deterministic synth seed) by the
# Spark-free reference implementations in ``pyref`` and inlined as a VALUES
# table. The driver compares at sf0.01, so the generators read that dir
# (overridable via SPARK_GRAFT_ORACLE_SF_DIR for local experiments).

_ORACLE_SF_DIR_DEFAULT = "/root/testdata/sf0.01"


def _oracle_sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", _ORACLE_SF_DIR_DEFAULT)


def _oracle_parquet(table: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    tb = pq.read_table(f"{_oracle_sf_dir()}/{table}.parquet", columns=columns)
    return list(zip(*(tb.column(c).to_pylist() for c in columns)))


def _sql_minhash_pairs() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_minhash_pairs(_oracle_parquet("documents", ["doc_id", "text"]))
    return pyref.values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("jaccard", "DOUBLE")])


def _sql_simhash_pairs() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_simhash_pairs(_oracle_parquet("documents", ["doc_id", "text"]))
    return pyref.values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("hamming", "INT")])


def _sql_embedding_ivf() -> str:
    from osm2geojson_spark import pyref

    data = _oracle_parquet("embeddings", ["vec_id", "embedding"])
    ids = [r[0] for r in data]
    vecs = [list(r[1]) for r in data]
    rows = pyref.ref_ivf_topk(ids, vecs, query_max_id=10, k=5,
                              n_centroids=16, nprobe=6)
    return pyref.values_sql(
        rows, [("query_id", "BIGINT"), ("corpus_id", "BIGINT"),
               ("cosine", "DOUBLE"), ("rank", "INT")])


def _sql_image_phash_dedup() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_phash_pairs(n=500, seed=42, max_hamming=10)
    return pyref.values_sql(
        rows, [("id_a", "VARCHAR"), ("id_b", "VARCHAR"), ("hamming", "INT")])


# --------------------------------------------------------------------------
# embeddings / similarity search


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k (the exactness baseline for ANN)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = SIM.cosine_topk_bruteforce(emb, queries, k=5)
    return out.select("query_id", "corpus_id", F.round("cosine", 6).alias("cosine_r"), "rank")


_SQL_EMBEDDING_TOPK = """
SELECT query_id, corpus_id, round(cosine, 6) AS cosine_r, CAST(rank AS INT) AS rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < 10) WHERE rank <= 5
"""


def q_embedding_ann(spark, sf_dir):
    """LSH-bucketed approximate top-k — VALUE-EXACT (round-2 upgrade):
    the hyperplanes are deterministic numpy literals, so the oracle
    reproduces the EXACT candidate set in SQL — each table's bucket is a
    sum of sign-bit CASEs over an UNROLLED left-associated dot product
    (same fold order as the Spark aggregate, so signs match bit-for-bit)
    and scoring reuses list_cosine_similarity (already proven bit-exact
    by embedding_topk). Recall vs brute force separately pinned in
    pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = SIM.cosine_topk_lsh(emb, queries, k=5, dim=64)
    return out.select("query_id", "corpus_id",
                      F.round("cosine", 6).alias("cosine_r"), "rank")


def _sql_lsh_bucket(alias: str, planes) -> str:
    """Hyperplane-LSH bucket as SQL: per plane an UNROLLED left-associated
    dot product (same fold order as the Spark aggregate → signs match
    bit-for-bit), sign bit summed into the bucket integer."""
    bits = []
    for i, p in enumerate(planes):
        dot = "0.0"
        for j, x in enumerate(p):
            # float(x)!r: under numpy>=2, repr(np.float64) is
            # 'np.float64(0.125)' — not SQL. Plain-float repr always is.
            dot = f"({dot} + ({alias}.embedding[{j + 1}] * {float(x)!r}))"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _sql_embedding_ann(dim: int = 64, n_planes: int = 8, n_tables: int = 4,
                       seed: int = 3) -> str:
    """Oracle twin of cosine_topk_lsh with the planes inlined as literals."""
    from osm2geojson_spark.operators.similarity import _hyperplanes

    legs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        legs.append(f"""
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
  FROM emb_q q JOIN emb_c c
    ON {_sql_lsh_bucket('q', planes)} = {_sql_lsh_bucket('c', planes)}""")
    union = "\n  UNION\n".join(legs)  # UNION dedups pairs across tables
    return f"""
WITH emb_q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
               FROM embeddings WHERE vec_id < 10),
     emb_c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
               FROM embeddings),
cand AS ({union}),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         list_cosine_similarity(q.embedding, c.embedding) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY cand.query_id ORDER BY
           list_cosine_similarity(q.embedding, c.embedding) DESC,
           cand.corpus_id ASC) AS rank
  FROM cand
  JOIN emb_q q ON (q.vec_id = cand.query_id)
  JOIN emb_c c ON (c.vec_id = cand.corpus_id))
SELECT query_id, corpus_id, round(cosine, 6) AS cosine_r,
       CAST(rank AS INT) AS rank
FROM scored WHERE rank <= 5
"""


def q_embedding_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN (scale path #2; recall pinned in pytest).
    Rows-only: k-means assignment isn't SQL-expressible."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.cosine_topk_ivf(emb, queries, k=5, n_centroids=16, nprobe=6)


def q_embedding_pq(spark, sf_dir):
    """Product-quantization ANN (scale path #3): per-subspace codebooks
    → compressed-domain ADC scan (m table lookups per row, raw vectors
    untouched) → partial+global top-refine (total order ⇒ identical to
    global) → exact-cosine re-rank. VALUE-EXACT vs pyref.ref_pq_topk:
    same sorted-limit sample, same rng order, same lexsort cut, same
    fold-order cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.cosine_topk_pq(emb, queries, k=5, m=8, n_codes=16, refine=64)


def _sql_embedding_pq() -> str:
    from osm2geojson_spark import pyref

    data = _oracle_parquet("embeddings", ["vec_id", "embedding"])
    rows = pyref.ref_pq_topk([r[0] for r in data],
                             [list(r[1]) for r in data],
                             query_max_id=10, k=5, m=8, n_codes=16,
                             refine=64)
    return pyref.values_sql(
        rows, [("query_id", "BIGINT"), ("corpus_id", "BIGINT"),
               ("cosine", "DOUBLE"), ("rank", "INT")])


def q_embedding_near_dup_exact(spark, sf_dir):
    """EXACT cosine near-dup pairs over a bounded corpus — value-exact
    DuckDB twin (the correctness baseline the LSH path is recalled
    against). Filter applies to the ROUNDED cosine in both engines so
    boundary rows cannot flip on last-bit drift."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    out = SIM.embedding_near_dup_exact(emb, threshold=-1.0)
    return (out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))
            .filter(F.col("cosine_r") >= 0.3))


_SQL_EMBEDDING_NEAR_DUP_EXACT = """
SELECT id_a, id_b, cosine_r FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine_r
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 1000 AND b.vec_id < 1000
) WHERE cosine_r >= 0.3
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — VALUE-EXACT (round-2
    upgrade, same literal-planes trick as embedding_ann). The operator
    runs unthresholded (threshold=-1 keeps every LSH candidate) and both
    twins filter on the ROUNDED cosine so boundary pairs cannot flip.
    The synthetic embeddings have no true near-dups (max pairwise cosine
    ≈0.51), so the demo threshold/bucketing is loosened to exercise the
    operator; recall vs brute force is separately pinned in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.embedding_near_dup_pairs(emb, threshold=-1.0, dim=64,
                                       n_planes=4, n_tables=6)
    return (out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))
            .filter(F.col("cosine_r") >= 0.3))


def _sql_embedding_near_dup(dim: int = 64, n_planes: int = 4,
                            n_tables: int = 6, seed: int = 5) -> str:
    from osm2geojson_spark.operators.similarity import _hyperplanes

    legs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        legs.append(f"""
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM emb a JOIN emb b
    ON a.vec_id < b.vec_id
   AND {_sql_lsh_bucket('a', planes)} = {_sql_lsh_bucket('b', planes)}""")
    union = "\n  UNION\n".join(legs)
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
             FROM embeddings),
cand AS ({union})
SELECT id_a, id_b, cosine_r FROM (
  SELECT cand.id_a, cand.id_b,
         round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine_r
  FROM cand
  JOIN emb a ON (a.vec_id = cand.id_a)
  JOIN emb b ON (b.vec_id = cand.id_b)
) WHERE cosine_r >= 0.3
"""


# --------------------------------------------------------------------------
# spatial layer (G1-G4) on derived coordinates


def q_cell_encode(spark, sf_dir):
    """G1 — Morton cell encode + parent, pure column expressions."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cell = C.cell_expr(lon_col(k), lat_col(k), 8)
    return cust.select(
        "c_custkey", cell.alias("cell"), C.parent_expr(cell, 3).alias("parent"))


def _sql_cell_encode() -> str:
    cell = C.cell_sql(lon_sql("c_custkey"), lat_sql("c_custkey"), 8)
    return f"""
SELECT c_custkey, {cell} AS cell, ({cell}) >> 6 AS parent FROM customer
"""


def q_s2_cell_encode(spark, sf_dir):
    """G1+ — TRUE S2 cell encode (cube-face + Hilbert): Arrow-batched
    numpy kernel for the curve walk, then parent rollup as pure column
    bit math (JVM-side). The north-star's "batch-encode to H3/S2 cells"
    shape, value-exact against the scalar pure-Python twin."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    enc = S2.s2_udf(level=12)
    cell = enc(lon_col(k), lat_col(k))
    return cust.select(
        "c_custkey", cell.alias("s2_cell"),
        S2.parent_expr(cell, 5).alias("s2_parent"))


def _sql_s2_cell_encode() -> str:
    """Literal-table oracle: ids recomputed by the scalar pure-Python
    twin (pyref.s2_encode — math module, no numpy/Spark) from the same
    int-derived coordinates."""
    from osm2geojson_spark import pyref

    rows = []
    for (key,) in _oracle_parquet("customer", ["c_custkey"]):
        lon = (key * _LON_MUL % 360_000_000) / 1_000_000.0 - 180.0
        lat = ((key * _LAT_MUL + _LAT_OFF) % 170_000_000) / 1_000_000.0 - 85.0
        cell = pyref.s2_encode(lon, lat, 12)
        rows.append((key, cell, pyref.s2_parent(cell, 5)))
    return pyref.values_sql(
        rows, [("c_custkey", "BIGINT"), ("s2_cell", "BIGINT"),
               ("s2_parent", "BIGINT")])


def q_s2_histogram(spark, sf_dir):
    """G4+ with the S2 index: encode events ONCE at a fine level
    (Arrow-batched Hilbert kernel), roll up to a coarse level with pure
    column bit math, then a partial-agg count — the Hilbert analog of
    tile_histogram, with ids whose numeric order IS spatial order."""
    ev = _t(spark, sf_dir, "events")
    enc = S2.s2_udf(level=12)
    k = F.col("event_id")
    fine = enc(lon_col(k), lat_col(k))
    return (ev.select(S2.parent_expr(fine, 4).alias("s2_cell"))
            .groupBy("s2_cell").agg(F.count("*").alias("n_rows")))


def _sql_s2_histogram() -> str:
    from collections import Counter

    from osm2geojson_spark import pyref

    counts = Counter()
    for (key,) in _oracle_parquet("events", ["event_id"]):
        lon = (key * _LON_MUL % 360_000_000) / 1_000_000.0 - 180.0
        lat = ((key * _LAT_MUL + _LAT_OFF) % 170_000_000) / 1_000_000.0 - 85.0
        counts[pyref.s2_parent(pyref.s2_encode(lon, lat, 12), 4)] += 1
    return pyref.values_sql(
        sorted(counts.items()),
        [("s2_cell", "BIGINT"), ("n_rows", "BIGINT")])


def q_hex_encode(spark, sf_dir):
    """G1++ — H3-style hexagonal cell encode: Voronoi of two offset
    integer lattices (functions/hexgrid.py), pure column arithmetic
    (codegen, no UDF).  Emits the cell id, its exact center, and the
    H3-style approximate parent (re-encode of the center) — the three
    ops an H3 user runs per row.  Value-exact twin: the identical
    bounded-integer math as plain SQL."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cell = HX.hex_cell_expr(lon_col(k), lat_col(k), 5)
    clon, clat = HX.hex_center_expr(cell, 5)
    return cust.select(
        "c_custkey", cell.alias("hex_cell"),
        clon.alias("hex_lon"), clat.alias("hex_lat"),
        HX.hex_parent_expr(cell, 5, 2).alias("hex_parent"))


def _sql_hex_encode() -> str:
    cell = HX.hex_cell_sql(lon_sql("c_custkey"), lat_sql("c_custkey"), 5)
    lon, lat = HX.hex_center_sql(cell, 5)
    parent = HX.hex_parent_sql(cell, 5, 2)
    return f"""
SELECT c_custkey, {cell} AS hex_cell, {lon} AS hex_lon, {lat} AS hex_lat,
       {parent} AS hex_parent FROM customer
"""


def q_hex_smooth(spark, sf_dir):
    """G4++ — hex-ring density smoothing: bin events to hex cells (one
    partial-agg count), then each cell's count contributes to itself and
    its 6 hex neighbors (array explode of pure-arithmetic neighbor ids —
    the counts table is tiny, so the explode runs over cells, never over
    raw events) and re-aggregates.  The hexagonal analog of a one-ring
    raster blur; numeric order of ids groups rows of the same lattice
    stripe together."""
    ev = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    cell = HX.hex_cell_expr(lon_col(k), lat_col(k), 3)
    counts = (ev.select(cell.alias("hex_cell"))
              .groupBy("hex_cell").agg(F.count("*").alias("n")))
    targets = F.array_union(
        F.array(F.col("hex_cell")),
        HX.hex_neighbors_expr(F.col("hex_cell"), 3))
    return (counts
            .select(F.explode(targets).alias("hex_cell"), "n")
            .groupBy("hex_cell").agg(F.sum("n").alias("smoothed")))


def _sql_hex_smooth() -> str:
    cell = HX.hex_cell_sql(lon_sql("event_id"), lat_sql("event_id"), 3)
    lb, i, j = HX.hex_unpack_sql("hex_cell")
    pack = (lambda lbv, iv, jv:
            f"((({jv}) * {HX._PACK_I} + ({iv})) * 2 + ({lbv})) * 16 + 3")
    other = f"(1 - ({lb}))"
    d0 = f"(({lb}) - 1)"
    variants = [
        "hex_cell",
        pack(lb, f"({i}) - 1", j),
        pack(lb, f"({i}) + 1", j),
        pack(other, f"({i}) + ({d0})", f"({j}) + ({d0})"),
        pack(other, f"({i}) + ({d0}) + 1", f"({j}) + ({d0})"),
        pack(other, f"({i}) + ({d0})", f"({j}) + ({d0}) + 1"),
        pack(other, f"({i}) + ({d0}) + 1", f"({j}) + ({d0}) + 1"),
    ]
    contribs = "\nUNION ALL\n".join(
        f"SELECT {v} AS hex_cell, n FROM counts" for v in variants)
    return f"""
WITH counts AS (
  SELECT {cell} AS hex_cell, COUNT(*) AS n FROM events GROUP BY 1
)
SELECT hex_cell, CAST(SUM(n) AS BIGINT) AS smoothed
FROM ({contribs}) GROUP BY hex_cell
"""


# box-polygon synthesis for the polygon-overlap join: half-sizes in
# micro-degrees from the same exact int arithmetic as the coordinates
_HW_MUL, _HW_MOD, _HW_OFF = 2654435761, 2_000_000, 250_000
_HH_MUL, _HH_MOD, _HH_OFF = 2246822519, 1_500_000, 250_000


def _box_bounds_cols(key):
    lon, lat = lon_col(key), lat_col(key)
    hw = ((key * F.lit(_HW_MUL)) % F.lit(_HW_MOD) + F.lit(_HW_OFF)
          ).cast("double") / 1_000_000.0
    hh = ((key * F.lit(_HH_MUL)) % F.lit(_HH_MOD) + F.lit(_HH_OFF)
          ).cast("double") / 1_000_000.0
    return lon - hw, lon + hw, lat - hh, lat + hh


def _box_bounds_sql(key: str) -> tuple[str, str, str, str]:
    lon, lat = lon_sql(key), lat_sql(key)
    hw = f"(CAST((({key}) * {_HW_MUL}) % {_HW_MOD} + {_HW_OFF} AS DOUBLE) / 1000000.0)"
    hh = f"(CAST((({key}) * {_HH_MUL}) % {_HH_MOD} + {_HH_OFF} AS DOUBLE) / 1000000.0)"
    return (f"(({lon}) - {hw})", f"(({lon}) + {hw})",
            f"(({lat}) - {hh})", f"(({lat}) + {hh})")


def _box_ring_df(df, key_col: str, id_alias: str):
    k = F.col(key_col)
    minx, maxx, miny, maxy = _box_bounds_cols(k)
    pt = lambda x, y: F.struct(x.alias("lon"), y.alias("lat"))
    ring = F.array(pt(minx, miny), pt(maxx, miny), pt(maxx, maxy),
                   pt(minx, maxy), pt(minx, miny))
    return df.select(k.alias(id_alias), ring.alias("ring"))


def q_poly_overlap(spark, sf_dir):
    """G2++ — distributed polygon↔polygon overlap join
    (spatial/overlap.py): bbox → Morton cell-range cover → equi-join on
    cell with CANONICAL-CELL dedup (each pair emitted at exactly one
    shared cell — no dropDuplicates shuffle) → exact interval predicate.
    Neither side broadcasts; never a cartesian.  Boxes are exact
    int-derived rectangles so the DuckDB interval-join twin is
    value-exact; the non-rectangular exact mode (edge crossing +
    containment) is pinned in tests/test_overlap.py vs a numpy brute
    reference."""
    from osm2geojson_spark.spatial.overlap import polygon_overlap_join

    supp = _box_ring_df(_t(spark, sf_dir, "supplier"), "s_suppkey", "l_id")
    cust = _box_ring_df(
        _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 400),
        "c_custkey", "r_id")
    return (polygon_overlap_join(supp, cust, res=4)
            .select("l_id", "r_id"))


def _sql_poly_overlap() -> str:
    lminx, lmaxx, lminy, lmaxy = _box_bounds_sql("s_suppkey")
    rminx, rmaxx, rminy, rmaxy = _box_bounds_sql("c_custkey")
    return f"""
WITH l AS (SELECT s_suppkey AS l_id, {lminx} AS minx, {lmaxx} AS maxx,
                  {lminy} AS miny, {lmaxy} AS maxy FROM supplier),
     r AS (SELECT c_custkey AS r_id, {rminx} AS minx, {rmaxx} AS maxx,
                  {rminy} AS miny, {rmaxy} AS maxy FROM customer
           WHERE c_custkey <= 400)
SELECT l_id, r_id FROM l JOIN r
  ON l.minx <= r.maxx AND r.minx <= l.maxx
 AND l.miny <= r.maxy AND r.miny <= l.maxy
"""


def q_tile_histogram(spark, sf_dir):
    """G4 — shuffle-free tile assignment + per-tile histogram (the skew
    detector feeding the salted join)."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select("event_id", lon_col(F.col("event_id")).alias("lon"),
                    lat_col(F.col("event_id")).alias("lat"))
    return TI.tile_histogram(pts, zoom=6)


def _sql_tile_histogram() -> str:
    tile = C.cell_sql(lon_sql("event_id"), lat_sql("event_id"), 6)
    return f"""
SELECT {tile} AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1
"""


def q_tile_pyramid(spark, sf_dir):
    """G4+ — quadtree pyramid rollup: zoom-6 histogram re-aggregated up
    two levels via parent shifts (points scanned once)."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select("event_id", lon_col(F.col("event_id")).alias("lon"),
                    lat_col(F.col("event_id")).alias("lat"))
    return TI.tile_pyramid(pts, zoom=6, levels=2)


def _sql_tile_pyramid() -> str:
    tile = C.cell_sql(lon_sql("event_id"), lat_sql("event_id"), 6)
    return f"""
WITH base AS (
  SELECT {tile} AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY 1)
SELECT tile_id, n_rows, 6 AS zoom FROM base
UNION ALL
SELECT tile_id >> 2 AS tile_id, CAST(SUM(n_rows) AS BIGINT) AS n_rows, 5 AS zoom
FROM base GROUP BY 1
UNION ALL
SELECT tile_id >> 4 AS tile_id, CAST(SUM(n_rows) AS BIGINT) AS n_rows, 4 AS zoom
FROM base GROUP BY 1
"""


def q_distance_join(spark, sf_dir):
    """Range/theta join: (customer, supplier) pairs within 2 planar
    degrees — cell equi-prefilter + exact residual (never a cross join
    in the engine; the ORACLE uses the cross join)."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    left = cust.select(F.col("c_custkey").alias("l_id"),
                       lon_col(F.col("c_custkey")).alias("lon"),
                       lat_col(F.col("c_custkey")).alias("lat"))
    # offset the supplier derivation key so coords are NOT coincident
    # with same-numbered customers — real near-pairs, not degenerate ones
    rk = F.col("s_suppkey") + 7_777_777
    right = supp.select(F.col("s_suppkey").alias("r_id"),
                        lon_col(rk).alias("lon"), lat_col(rk).alias("lat"))
    return TI.distance_join(left, right, radius_deg=6.0)


_SQL_DISTANCE_JOIN = f"""
SELECT l_id, r_id, dist2 FROM (
  SELECT c_custkey AS l_id, s_suppkey AS r_id,
         (({lon_sql('c_custkey')}) - ({lon_sql('s_suppkey + 7777777')}))
       * (({lon_sql('c_custkey')}) - ({lon_sql('s_suppkey + 7777777')}))
       + (({lat_sql('c_custkey')}) - ({lat_sql('s_suppkey + 7777777')}))
       * (({lat_sql('c_custkey')}) - ({lat_sql('s_suppkey + 7777777')})) AS dist2
  FROM customer CROSS JOIN supplier)
WHERE dist2 <= 36.0
"""


def q_pip_join(spark, sf_dir):
    """G2 — broadcast point-in-polygon join: Morton-cell equi prefilter +
    generic ray-cast residual (axis-aligned fixture boxes make the oracle
    an exact strict-interior box predicate)."""
    cust = _t(spark, sf_dir, "customer")
    region = _t(spark, sf_dir, "region")
    pts = cust.select("c_custkey", lon_col(F.col("c_custkey")).alias("lon"),
                      lat_col(F.col("c_custkey")).alias("lat"))
    out = PIP.point_in_polygon_join(pts, region_boxes(region), res=6)
    return out.select("c_custkey", "poly_id")


_SQL_PIP = f"""
SELECT c_custkey, r_regionkey AS poly_id
FROM customer CROSS JOIN region
WHERE {lon_sql('c_custkey')} > (r_regionkey * 60 - 170.0000005)
  AND {lon_sql('c_custkey')} < (r_regionkey * 60 - 140.0000005)
  AND {lat_sql('c_custkey')} > (r_regionkey * 25 - 60.0000005)
  AND {lat_sql('c_custkey')} < (r_regionkey * 25 - 40.0000005)
"""


def q_knn_bruteforce(spark, sf_dir):
    """Exact kNN baseline, planar squared distance (mul/add only → oracle
    bit-exact; the ring-expansion G3 path is checked against this in
    pytest and has its own twin below)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 20)
    supp = _t(spark, sf_dir, "supplier")
    q = cust.select(F.col("c_custkey").alias("query_id"),
                    lon_col(F.col("c_custkey")).alias("qx"),
                    lat_col(F.col("c_custkey")).alias("qy"))
    c = supp.select(F.col("s_suppkey").alias("corpus_id"),
                    lon_col(F.col("s_suppkey")).alias("cx"),
                    lat_col(F.col("s_suppkey")).alias("cy"))
    dx, dy = F.col("qx") - F.col("cx"), F.col("qy") - F.col("cy")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "corpus_id", (dx * dx + dy * dy).alias("dist2"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5))


_SQL_KNN_BRUTE = f"""
SELECT query_id, corpus_id, dist2, CAST(rank AS INT) AS rank FROM (
  SELECT q.query_id, c.corpus_id,
         (q.qx - c.cx) * (q.qx - c.cx) + (q.qy - c.cy) * (q.qy - c.cy) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           (q.qx - c.cx) * (q.qx - c.cx) + (q.qy - c.cy) * (q.qy - c.cy) ASC,
           c.corpus_id ASC) AS rank
  FROM (SELECT c_custkey AS query_id, {lon_sql('c_custkey')} AS qx,
               {lat_sql('c_custkey')} AS qy FROM customer WHERE c_custkey <= 20) q
  CROSS JOIN (SELECT s_suppkey AS corpus_id, {lon_sql('s_suppkey')} AS cx,
              {lat_sql('s_suppkey')} AS cy FROM supplier) c
) WHERE rank <= 5
"""


def q_knn_ring(spark, sf_dir):
    """G3 — kNN via cell-ring expansion, VALUE-EXACT vs the brute-force
    SQL oracle (round-2 upgrade from rows-only):

    - planar metric (mul/add only — no trig, per the oracle determinism
      rules at the top of this module);
    - margin=5 at res=3 guarantees exactness: round-1 early exits score
      a cheb≤6 disk (bound needs ≥3: k candidates at cheb≤1 are within
      2√2 cells ⇒ true kNN within cheb ≤ 2√2+1); the final round's disk
      radius 2+5=7 covers the whole 8×8 grid, so stragglers degenerate
      to exact brute force."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    supp = _t(spark, sf_dir, "supplier")
    q = cust.select(F.col("c_custkey").alias("id"),
                    lon_col(F.col("c_custkey")).alias("lon"),
                    lat_col(F.col("c_custkey")).alias("lat"))
    c = supp.select(F.col("s_suppkey").alias("id"),
                    lon_col(F.col("s_suppkey")).alias("lon"),
                    lat_col(F.col("s_suppkey")).alias("lat"))
    return KNN.knn_join(c, q, k=5, res=3, max_rounds=2, margin=5,
                        metric="planar")


_SQL_KNN_RING = f"""
SELECT query_id, corpus_id, dist2, CAST(rank AS INT) AS rank FROM (
  SELECT q.query_id, c.corpus_id,
         (q.qx - c.cx) * (q.qx - c.cx) + (q.qy - c.cy) * (q.qy - c.cy) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           (q.qx - c.cx) * (q.qx - c.cx) + (q.qy - c.cy) * (q.qy - c.cy) ASC,
           c.corpus_id ASC) AS rank
  FROM (SELECT c_custkey AS query_id, {lon_sql('c_custkey')} AS qx,
               {lat_sql('c_custkey')} AS qy FROM customer WHERE c_custkey <= 50) q
  CROSS JOIN (SELECT s_suppkey AS corpus_id, {lon_sql('s_suppkey')} AS cx,
              {lat_sql('s_suppkey')} AS cy FROM supplier) c
) WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# image payload (input_hint table — synthesized deterministically, so the
# twins recompute the expected output from the seed formula or as pyref
# literal tables; invariants are pinned in tests/test_images.py)


def q_image_validate(spark, sf_dir):
    """M4 — decode/PSNR/phash/caption invariants per fmt (quarantine
    discipline mirrors problemNodes). Input synthesized (not in sf_dir).

    VALUE-EXACT (round-2 upgrade): per-fmt row counts follow the seed
    formula (fmt index = (seed>>1) % 5 with seed = i·2+42) and a healthy
    pipeline validates EVERY row, so the oracle recomputes the expected
    aggregate from generate_series — any decode/phash/PSNR regression
    flips n_ok / all_psnr_ok and fails the gate. (Raw min PSNR per fmt
    stays pinned in pytest, where inf/47 dB floors are asserted.)

    Round 3: the rotation now includes REAL baseline JPEG (synth/jpeg.py,
    alternating 4:2:0 / 4:4:4 originals by seed) AND real lossless WebP
    (VP8L, synth/webp.py) — those rows must decode and pass the
    PSNR≥40dB re-encode invariant, not quarantine. Round-3 final adds a
    SEVENTH format: HEIF with the standard JPEG coding item
    (synth/heif.py — real ftyp/meta/pitm/iinf/iloc/ispe walk; hvc1/av01
    payloads codec-gate → quarantine). Every format in the rotation is
    a real codec; no blind stubs remain. Late round 3 adds an EIGHTH:
    GIF (synth/gif.py — real variable-width LZW both directions,
    interlace, animation compositing; the deterministic 3-3-2 palette
    quantization is idempotent, so re-encode PSNR is inf) and a NINTH:
    baseline TIFF (synth/tiff.py — II/MM IFD walk, strips, PackBits +
    TIFF-flavor LZW with predictor 2; lossless, and the encoder
    round-robins compression/byte-order from pixel content so every
    decode path runs in this very query)."""
    from osm2geojson_spark.operators.images import validate_images
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=500, seed=42, fmts=FMTS_TIFF)
    v = validate_images(imgs)
    return v.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.col("ok").cast("int")).alias("n_ok"),
        F.sum(F.col("phash_match").cast("int")).alias("n_phash_match"),
        F.bool_and(F.col("psnr_db") >= 40.0).alias("all_psnr_ok"),
    )


_SQL_IMAGE_VALIDATE = """
WITH seeds AS (SELECT i FROM generate_series(0, 499) AS t(i))
SELECT CASE ((i + 21) % 9) WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
            WHEN 2 THEN 'qz6' WHEN 3 THEN 'png' WHEN 4 THEN 'jpg'
            WHEN 5 THEN 'webp' WHEN 6 THEN 'heif' WHEN 7 THEN 'gif'
            ELSE 'tiff' END AS fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_ok,
       CAST(COUNT(*) AS BIGINT) AS n_phash_match,
       TRUE AS all_psnr_ok
FROM seeds GROUP BY 1
"""


def q_audio_validate(spark, sf_dir):
    """Audio twin of image_validate: real stdlib WAV decode, header-vs-
    declared metadata check, transcript non-null, quarantine split.

    VALUE-EXACT (round-2 upgrade): the synth rows' metadata is a
    closed-form function of the seed (n_samples = 1600 + 160·(seed%50),
    rate 16 kHz), so the oracle recomputes the expected aggregate from
    generate_series — and since the Spark side derives duration from the
    DECODED sample count, a decode bug diverges the aggregate and fails
    the gate.

    Round 3: the rotation covers SIX real codecs — WAV, AIFF (IFF
    grammar, 80-bit extended-float rate), FLAC (CONSTANT/FIXED+Rice,
    CRC-8/16), and the compressed-WAV family G.711 μ-law/A-law + IMA
    ADPCM (synth/wavext.py) — every row must decode and match its
    declared metadata, not quarantine. ADPCM's duration check is the
    sharp one: the fact-chunk sample count must survive block padding.
    Round-3 final: SEVENTH format — Ogg (RFC 3533 pages + FLAC-in-Ogg
    mapping, synth/ogg.py): CRC-verified page walk, continuation-aware
    packet reassembly, then the repo's FLAC decoder; Vorbis/Opus
    payloads codec-gate honestly → quarantine."""
    from osm2geojson_spark.operators.audio import validate_audio
    from osm2geojson_spark.synth.audio import AFMTS_OGG, audio_table

    aud = audio_table(spark, n=300, seed=24, fmts=AFMTS_OGG)
    v = validate_audio(aud)
    return v.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.col("ok").cast("int")).alias("n_ok"),
        F.min("duration_sec").alias("min_dur"),
        F.max("duration_sec").alias("max_dur"),
    )


def q_audio_probe(spark, sf_dir):
    """Header-only stream metadata over the FULL 8-format rotation
    including mp3 (operators/audio.probe_audio): RIFF/AIFF/FLAC chunk
    grammars, Ogg page granules, and a REAL MPEG-1 frame walk
    (synth/mpeg_audio.py — per-frame header parse, frame-length
    arithmetic, Xing detection) — the ffprobe shape, no DSP decode.

    VALUE-EXACT: every synthesized stream's (rate, samples) is a
    closed-form function of the seed — 16 kHz and n=1600+160·(seed%50)
    except mp3, which is 32 kHz (MPEG-1 legal rates) with n padded to
    whole 1152-sample frames — so the oracle replays the formula; a
    probe bug in any grammar diverges n_probed/total_samples."""
    from osm2geojson_spark.operators.audio import probe_audio
    from osm2geojson_spark.synth.audio import AFMTS_MP3, audio_table

    aud = audio_table(spark, n=280, seed=24, fmts=AFMTS_MP3)
    p = probe_audio(aud)
    return p.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.col("error").isNull().cast("int")).alias("n_probed"),
        F.sum(F.col("decodable").cast("int")).alias("n_decodable"),
        F.sum(F.col("matches_declared").cast("int")).alias("n_match"),
        F.sum("n_samples").alias("total_samples"),
        F.max("duration_sec").alias("max_dur"),
    )


_SQL_AUDIO_PROBE = """
WITH seeds AS (
  SELECT i, (i * 2 + 24) AS seed FROM generate_series(0, 279) AS t(i)),
rows_ AS (
  SELECT CASE ((i + 12) % 8) WHEN 0 THEN 'wav' WHEN 1 THEN 'aiff'
              WHEN 2 THEN 'flac' WHEN 3 THEN 'ulaw' WHEN 4 THEN 'alaw'
              WHEN 5 THEN 'adpcm' WHEN 6 THEN 'ogg' ELSE 'mp3' END AS fmt,
         (1600 + 160 * (seed % 50)) AS n_raw
  FROM seeds),
r2 AS (
  SELECT fmt,
         CASE WHEN fmt = 'mp3'
              THEN ((n_raw + 1151) // 1152) * 1152 ELSE n_raw END AS samps,
         CASE WHEN fmt = 'mp3' THEN 32000 ELSE 16000 END AS rate
  FROM rows_)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(CASE WHEN fmt = 'mp3' THEN 0 ELSE 1 END) AS BIGINT) AS n_decodable,
       CAST(COUNT(*) AS BIGINT) AS n_match,
       CAST(SUM(samps) AS BIGINT) AS total_samples,
       MAX(CAST(samps AS DOUBLE) / CAST(rate AS DOUBLE)) AS max_dur
FROM r2 GROUP BY 1
"""


_SQL_AUDIO_VALIDATE = """
WITH seeds AS (
  SELECT i, (i * 2 + 24) AS seed FROM generate_series(0, 299) AS t(i))
SELECT CASE ((i + 12) % 7) WHEN 0 THEN 'wav' WHEN 1 THEN 'aiff'
            WHEN 2 THEN 'flac' WHEN 3 THEN 'ulaw' WHEN 4 THEN 'alaw'
            WHEN 5 THEN 'adpcm' ELSE 'ogg' END AS fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_ok,
       MIN(CAST(1600 + 160 * (seed % 50) AS DOUBLE) / 16000.0) AS min_dur,
       MAX(CAST(1600 + 160 * (seed % 50) AS DOUBLE) / 16000.0) AS max_dur
FROM seeds GROUP BY 1
"""


def q_video_validate(spark, sf_dir):
    """Video twin of image/audio_validate over the FULL container
    rotation (round-3 final: real fpack + MJPEG in AVI/MP4/MKV, plus a
    structurally-valid webm whose V_VP9 codec the reader honestly
    refuses → quarantine): video_stats decodes EVERY frame of every
    decodable clip — RIFF/idx1, ISO-BMFF sample tables, EBML cluster
    walk, per-frame baseline-JPEG decode — and aggregates per fmt.

    VALUE-EXACT by seed formula: n_frames = 4 + seed % 9, fps = 10,
    fmt index = (seed>>1) % 5 with seed = i·2+66, so the oracle
    recomputes (n, n_ok, min_dur, max_dur) from generate_series; webm
    rows quarantine (n_ok 0, durations NULL) by design."""
    from osm2geojson_spark.operators.video import video_stats
    from osm2geojson_spark.synth.video import VFMTS_ALL, video_table

    vids = video_table(spark, n=120, seed=66, fmts=VFMTS_ALL)
    v = video_stats(vids)
    return v.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.col("error").isNull().cast("int")).alias("n_ok"),
        F.min("duration_sec").alias("min_dur"),
        F.max("duration_sec").alias("max_dur"),
    )


_SQL_VIDEO_VALIDATE = """
WITH seeds AS (
  SELECT i, (i * 2 + 66) AS seed,
         CASE ((i + 33) % 5) WHEN 0 THEN 'fpack' WHEN 1 THEN 'avi'
              WHEN 2 THEN 'mp4' WHEN 3 THEN 'mkv' ELSE 'webm' END AS fmt
  FROM generate_series(0, 119) AS t(i))
SELECT fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN fmt = 'webm' THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
       MIN(CASE WHEN fmt = 'webm' THEN NULL
                ELSE CAST(4 + (seed % 9) AS DOUBLE) / 10.0 END) AS min_dur,
       MAX(CASE WHEN fmt = 'webm' THEN NULL
                ELSE CAST(4 + (seed % 9) AS DOUBLE) / 10.0 END) AS max_dur
FROM seeds GROUP BY 1
"""


def q_image_tile_join(spark, sf_dir):
    """North-star shape: image rows → shuffle-free tile assignment →
    broadcast join against the GeoJSON tile table → per-tile rollup.

    VALUE-EXACT (round-2 upgrade): the synth image coords are pure
    integer arithmetic keyed on the row seed, so the oracle regenerates
    them with generate_series and replays the same Morton tile id —
    no binary payloads needed on the DuckDB side."""
    from osm2geojson_spark.synth.images import images_table

    imgs = images_table(spark, n=2000, seed=42)
    tiles = TI.tile_table(spark, zoom=4).select("tile_id", "zoom", "geojson")
    joined = TI.tile_vector_join(imgs, tiles, zoom=4)
    return joined.groupBy("tile_id").agg(
        F.count("*").alias("n_images"),
        F.min("image_id").alias("first_image"),
    )


def _sql_image_tile_join(n: int = 2000, base_seed: int = 42, zoom: int = 4) -> str:
    """Twin of q_image_tile_join: synth/images._coords_for re-derived in
    SQL (int mods + power-of-ten divisions → bit-exact doubles), then the
    shared Morton tile id. Every tile exists at this zoom, so the
    broadcast join is a no-op for the aggregate."""
    h1 = "((seed * 2654435761) % 1000000)"
    lon_city = (f"((CAST(({h1} % 3) AS DOUBLE) * 40.0 - 60.0)"
                f" + (CAST(({h1} % 10000) AS DOUBLE) / 10000.0))")
    lat_city = (f"((CAST(({h1} % 3) AS DOUBLE) * 20.0 - 10.0)"
                f" + (CAST(((seed * 40503) % 10000) AS DOUBLE) / 10000.0))")
    lon_rand = ("((CAST(((seed * 2654435761) % 360000000) AS DOUBLE)"
                " / 1000000.0) - 180.0)")
    lat_rand = ("((CAST(((seed * 2246822519) % 170000000) AS DOUBLE)"
                " / 1000000.0) - 85.0)")
    lon = f"(CASE WHEN ({h1} % 10) < 3 THEN {lon_city} ELSE {lon_rand} END)"
    lat = f"(CASE WHEN ({h1} % 10) < 3 THEN {lat_city} ELSE {lat_rand} END)"
    tile = C.cell_sql(lon, lat, zoom)
    return f"""
WITH seeds AS (
  SELECT (i * 2 + {base_seed}) AS seed
  FROM generate_series(0, {n - 1}) AS t(i))
SELECT {tile} AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_images,
       MIN('img-' || lpad(CAST(seed AS VARCHAR), 12, '0')) AS first_image
FROM seeds GROUP BY 1
"""


def q_zonal_stats(spark, sf_dir):
    """G5 — raster zonal statistics (spatial/zonal.py): per-polygon pixel
    aggregates over georeferenced image tiles, REAL decode in the kernel
    (all six codecs incl. JPEG 4:2:0/4:4:4 and VP8L).  Partial tile
    coverage masks at pixel-center granularity (even-odd ray cast over
    the lattice), partials are integer-exact (luminance = r+g+b per
    pixel), and the only shuffle moves per-(zone, tile) rows.  Oracle:
    literal table from pyref.ref_zonal_stats — the same corpus decoded
    and masked by the Spark-free pure-Python/numpy reference."""
    from osm2geojson_spark import pyref
    from osm2geojson_spark.spatial.zonal import zonal_stats
    from osm2geojson_spark.synth.images import FMTS_ALL, images_table

    imgs = images_table(spark, n=240, seed=42, fmts=FMTS_ALL)
    zones = spark.createDataFrame(
        [(zid, [{"lon": x, "lat": y} for x, y in ring])
         for zid, ring in pyref.ref_zones(3)],
        "zone_id string, ring array<struct<lon:double,lat:double>>")
    return zonal_stats(imgs, zones, zoom=6)


def _sql_zonal_stats() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_zonal_stats(n=240, seed=42, zoom=6, n_extra_zones=3)
    return pyref.values_sql(rows, [
        ("zone_id", "VARCHAR"), ("n_tiles", "BIGINT"), ("n_pix", "BIGINT"),
        ("sum_lum", "BIGINT"), ("mean_lum", "DOUBLE"),
        ("min_lum", "INT"), ("max_lum", "INT")])


def q_image_phash_dedup(spark, sf_dir):
    """Image near-dup pairs from the phash column — no decode in the hot
    path (hash rides the table); 4x16-bit band LSH + exact hamming."""
    from osm2geojson_spark.operators.images import phash_near_dup_pairs
    from osm2geojson_spark.synth.images import images_table

    imgs = images_table(spark, n=500, seed=42)
    return phash_near_dup_pairs(imgs, max_hamming=10)


_WKB_N = 200  # fixed synthetic point set for the byte-level oracle


def q_wkb_point_hex(spark, sf_dir):
    """WKB interop, byte level: int-derived points → canonical
    little-endian OGC WKB via the vectorized Arrow pack
    (functions/wkb.wkb_point_udf), emitted as hex. Oracle: a literal
    table from pyref.wkb_point_hex — stdlib struct, an independent code
    path from the kernel's numpy byte views — so the match pins the
    IEEE-754 bytes themselves. Fixed 200-point set (sf-independent,
    like the other literal-table oracles)."""
    from osm2geojson_spark.functions.wkb import wkb_point_udf

    pts = spark.range(_WKB_N).select(
        F.col("id").alias("pt_id"),
        lon_col(F.col("id")).alias("lon"),
        lat_col(F.col("id")).alias("lat"))
    return pts.select(
        "pt_id", F.hex(wkb_point_udf()(F.col("lon"), F.col("lat"))
                       ).alias("wkb_hex"))


def _sql_wkb_point_hex() -> str:
    from osm2geojson_spark import pyref

    rows = [(k, pyref.wkb_point_hex(_py_lon(k), _py_lat(k)))
            for k in range(_WKB_N)]
    return pyref.values_sql(
        rows, [("pt_id", "BIGINT"), ("wkb_hex", "VARCHAR")])


def q_wkb_roundtrip(spark, sf_dir):
    """WKB round trip over REAL assembled way geometry: chains encode as
    LineString or (closed) Polygon WKB, decode back through the
    both-endian parser, and the reconstructed type / vertex count /
    endpoint coords are reported. The oracle recomputes those directly
    from lineitem — equality proves decode(encode(x)) == x including
    doubles surviving the IEEE byte pack."""
    from osm2geojson_spark.functions import geometry as G
    from osm2geojson_spark.functions.wkb import (
        wkb_decode_udf,
        wkb_line_udf,
        wkb_polygon_udf,
    )

    nodes, ways = _ways_input(spark, sf_dir)
    assembled = OJ.assemble_ways(nodes, ways)
    coords = G.way_coords(F.col("nodes"))
    geom = assembled.select(
        F.col("id").alias("way_id"),
        coords.alias("coords"),
        G.way_geom_type(coords).alias("gt"))
    wkb = geom.select(
        "way_id",
        F.when(F.col("gt") == "Polygon",
               wkb_polygon_udf()(F.array(F.col("coords"))))
        .otherwise(wkb_line_udf()(F.col("coords"))).alias("wkb"))
    dec = wkb.select("way_id", wkb_decode_udf()(F.col("wkb")).alias("g"))
    ring = F.element_at(F.col("g.rings"), 1)
    return dec.select(
        "way_id",
        F.col("g.gtype").alias("geom_type"),
        F.size(ring).cast("int").alias("n_points"),
        F.element_at(F.element_at(ring, 1), 1).alias("first_lon"),
        F.element_at(F.element_at(ring, -1), 2).alias("last_lat"),
    )


_SQL_WKB_ROUNDTRIP = f"""
WITH ends AS (
  SELECT l_orderkey AS way_id,
         arg_min(l_partkey, l_linenumber * 100000000 + l_partkey) AS p_first,
         arg_max(l_partkey, l_linenumber * 100000000 + l_partkey) AS p_last,
         CAST(COUNT(*) AS INT) AS n_points
  FROM lineitem GROUP BY l_orderkey)
SELECT way_id,
       CASE WHEN ({lon_sql('p_first')}) = ({lon_sql('p_last')})
             AND ({lat_sql('p_first')}) = ({lat_sql('p_last')})
            THEN 'Polygon' ELSE 'LineString' END AS geom_type,
       n_points,
       ({lon_sql('p_first')}) AS first_lon,
       ({lat_sql('p_last')}) AS last_lat
FROM ends
"""


def q_geojson_roundtrip(spark, sf_dir):
    """GeoJSON ROUND TRIP (north-star axis): build feature documents
    for all four geometry classes from int-derived coordinates, emit
    the JSON text JVM-side with the pipeline's own emitter
    (json_canon.geojson_doc), then PARSE it back with
    functions/geojson_read.parse_features (get_json_object +
    type-matched from_json — zero Python, zero shuffle) and report the
    reconstructed per-feature bbox/vertex/closure columns. The oracle
    replays the source arithmetic directly — equality proves
    parse(emit(x)) == x including double round-tripping through JSON
    text."""
    from osm2geojson_spark.functions.geojson_read import parse_features
    from osm2geojson_spark.functions.json_canon import geojson_doc

    def doc(fid, title, gtype, coords, cats):
        return geojson_doc(
            fid, title, F.lit(gtype), F.to_json(coords),
            F.array(*[F.lit(c) for c in cats]),
            F.lit(None).cast("map<string,string>"),
            F.lit(None).cast("array<struct<href:string>>"))

    def box_ring(x0, y0, x1, y1):
        return F.array(*[F.array(x, y) for x, y in
                         ((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))])

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 150)
    k = F.col("c_custkey")
    points = cust.select(doc(
        F.concat(F.lit("pt/"), k.cast("string")),
        F.concat(F.lit("c"), k.cast("string")),
        "Point", F.array(lon_col(k), lat_col(k)), ["poi"]).alias("geojson"))

    supp = _t(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 60)
    sk = F.col("s_suppkey")
    lines = supp.select(doc(
        F.concat(F.lit("ln/"), sk.cast("string")),
        F.concat(F.lit("s"), sk.cast("string")),
        "LineString",
        F.array(F.array(lon_col(sk), lat_col(sk)),
                F.array(lon_col(sk + 7), lat_col(sk + 7))),
        ["way"]).alias("geojson"))

    nat = _t(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    nx0, ny0 = lon_col(nk), lat_col(nk)
    nx1 = nx0 + (1 + nk % 5).cast("double")
    ny1 = ny0 + (1 + nk % 3).cast("double")
    polys = nat.select(doc(
        F.concat(F.lit("pg/"), nk.cast("string")),
        F.concat(F.lit("n"), nk.cast("string")),
        "Polygon", F.array(box_ring(nx0, ny0, nx1, ny1)),
        ["park", "area"]).alias("geojson"))

    reg = _t(spark, sf_dir, "region")
    rk = F.col("r_regionkey")
    ax0, ay0 = lon_col(rk), lat_col(rk)
    ax1, ay1 = ax0 + F.lit(2.0), ay0 + F.lit(1.0)
    bx0, by0 = lon_col(rk + 100), lat_col(rk + 100)
    bx1, by1 = bx0 + F.lit(3.0), by0 + F.lit(2.0)
    mpolys = reg.select(doc(
        F.concat(F.lit("mp/"), rk.cast("string")),
        F.concat(F.lit("r"), rk.cast("string")),
        "MultiPolygon",
        F.array(F.array(box_ring(ax0, ay0, ax1, ay1)),
                F.array(box_ring(bx0, by0, bx1, by1))),
        ["region"]).alias("geojson"))

    docs = points.unionAll(lines).unionAll(polys).unionAll(mpolys)
    out = parse_features(docs)
    return out.select(
        "feature_id", "title", "geom_type", "n_points",
        "min_lon", "min_lat", "max_lon", "max_lat", "ring_closed",
        F.size("categories").alias("n_cats"),
    )


def _sql_geojson_roundtrip() -> str:
    lon, lat = lon_sql, lat_sql
    return f"""
SELECT ('pt/' || CAST(c_custkey AS VARCHAR)) AS feature_id,
       ('c' || CAST(c_custkey AS VARCHAR)) AS title,
       'Point' AS geom_type, CAST(1 AS INT) AS n_points,
       ({lon('c_custkey')}) AS min_lon, ({lat('c_custkey')}) AS min_lat,
       ({lon('c_custkey')}) AS max_lon, ({lat('c_custkey')}) AS max_lat,
       CAST(NULL AS BOOLEAN) AS ring_closed, CAST(1 AS INT) AS n_cats
FROM customer WHERE (c_custkey <= 150)
UNION ALL
SELECT ('ln/' || CAST(s_suppkey AS VARCHAR)),
       ('s' || CAST(s_suppkey AS VARCHAR)),
       'LineString', CAST(2 AS INT),
       LEAST(({lon('s_suppkey')}), ({lon('s_suppkey + 7')})),
       LEAST(({lat('s_suppkey')}), ({lat('s_suppkey + 7')})),
       GREATEST(({lon('s_suppkey')}), ({lon('s_suppkey + 7')})),
       GREATEST(({lat('s_suppkey')}), ({lat('s_suppkey + 7')})),
       CAST(NULL AS BOOLEAN), CAST(1 AS INT)
FROM supplier WHERE (s_suppkey <= 60)
UNION ALL
SELECT ('pg/' || CAST(n_nationkey AS VARCHAR)),
       ('n' || CAST(n_nationkey AS VARCHAR)),
       'Polygon', CAST(5 AS INT),
       ({lon('n_nationkey')}), ({lat('n_nationkey')}),
       (({lon('n_nationkey')}) + CAST((1 + (n_nationkey % 5)) AS DOUBLE)),
       (({lat('n_nationkey')}) + CAST((1 + (n_nationkey % 3)) AS DOUBLE)),
       TRUE, CAST(2 AS INT)
FROM nation
UNION ALL
SELECT ('mp/' || CAST(r_regionkey AS VARCHAR)),
       ('r' || CAST(r_regionkey AS VARCHAR)),
       'MultiPolygon', CAST(10 AS INT),
       LEAST(({lon('r_regionkey')}), ({lon('r_regionkey + 100')})),
       LEAST(({lat('r_regionkey')}), ({lat('r_regionkey + 100')})),
       GREATEST((({lon('r_regionkey')}) + 2.0),
                (({lon('r_regionkey + 100')}) + 3.0)),
       GREATEST((({lat('r_regionkey')}) + 1.0),
                (({lat('r_regionkey + 100')}) + 2.0)),
       TRUE, CAST(1 AS INT)
FROM region
"""


def q_exif_tile_join(spark, sf_dir):
    """Image bytes → Exif GPS → raster tile assignment: the north-star
    image↔tile join with coordinates sourced from INSIDE the image
    payload (TIFF IFD GPS rationals) instead of table columns. Pure map
    (Arrow Exif parse) + codegen tile math + one aggregate shuffle.
    VALUE-EXACT: GPS microdegrees are a seed formula; the oracle replays
    it through the identical Morton-cell SQL."""
    from osm2geojson_spark.operators.images import extract_exif
    from osm2geojson_spark.synth.images import images_table

    imgs = images_table(spark, n=400, seed=42, fmts=("jpg",), exif=True)
    e = extract_exif(imgs).where(F.col("has_exif"))
    pts = e.select(
        "image_id",
        (F.col("lon_udeg") / F.lit(1_000_000.0)).alias("lon"),
        (F.col("lat_udeg") / F.lit(1_000_000.0)).alias("lat"),
    )
    tiled = TI.assign_tiles(pts, zoom=5)
    return tiled.groupBy("tile_id").agg(
        F.count("*").cast("long").alias("n_imgs"),
        F.min("image_id").alias("min_img"),
    )


def _sql_exif_tile_join() -> str:
    lon = "(CAST(lon_u AS DOUBLE) / 1000000.0)"
    lat = "(CAST(lat_u AS DOUBLE) / 1000000.0)"
    tile = C.cell_sql(lon, lat, 5)
    return f"""
WITH seeds AS (
  SELECT (i * 2 + 42) AS seed FROM generate_series(0, 399) AS t(i)),
r AS (
  SELECT seed,
         ((((seed * 2246822519) + 1013904223) % 180000001) - 90000000) AS lat_u,
         ((((seed * 2654435761) + 40503) % 360000001) - 180000000) AS lon_u,
         ('img-' || lpad(CAST(seed AS VARCHAR), 12, '0')) AS image_id
  FROM seeds WHERE ((seed % 5) != 2))
SELECT {tile} AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_imgs,
       MIN(image_id) AS min_img
FROM r GROUP BY 1
"""


def q_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): corpus →
    word-freq collapse (the only corpus-sized shuffle) → 24 merge
    rounds, each a vocab-sized pair-count + TakeOrdered(1) with O(1)
    driver traffic and a JVM carry-scan merge. VALUE-EXACT vs the
    pure-Python trainer (pyref.ref_bpe_merges) replayed on the same
    corpus — same greedy semantics, same (freq DESC, left, right)
    tie-break."""
    from osm2geojson_spark.operators.bpe import train_bpe

    m = train_bpe(_docs(spark, sf_dir), num_merges=24)
    # lhs/rhs: LEFT/RIGHT are reserved words in the oracle dialect
    return m.select("rank", F.col("left").alias("lhs"),
                    F.col("right").alias("rhs"), "pair_freq")


def _sql_bpe_train() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_bpe_merges(
        _oracle_parquet("documents", ["doc_id", "text"]), num_merges=24)
    return pyref.values_sql(
        rows, [("rank", "INT"), ("lhs", "VARCHAR"), ("rhs", "VARCHAR"),
               ("pair_freq", "BIGINT")])


def q_exif_extract(spark, sf_dir):
    """Exif APP1 metadata over an all-JPEG table (3 in 4 rows carry a
    real TIFF IFD blob, alternating II/MM byte order; synth/exif.py):
    per-orientation rollup of GPS microdegree sums, maker cardinality,
    and datetime range. VALUE-EXACT: every Exif field is a pure integer
    seed formula (exif_fields_for) the oracle replays — a parser bug in
    either byte order, the IFD walk, the pointer chase, or the rational
    decode shifts a sum."""
    from osm2geojson_spark.operators.images import extract_exif
    from osm2geojson_spark.synth.images import images_table

    imgs = images_table(spark, n=400, seed=42, fmts=("jpg",), exif=True)
    e = extract_exif(imgs)
    return e.groupBy("orientation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("byte_order") == "II", 1).otherwise(0))
        .cast("long").alias("n_ii"),
        F.countDistinct("make").cast("long").alias("n_makes"),
        F.sum("lat_udeg").cast("long").alias("lat_sum"),
        F.sum("lon_udeg").cast("long").alias("lon_sum"),
        F.min("dt").alias("min_dt"),
        F.max("dt").alias("max_dt"),
    )


_SQL_EXIF_EXTRACT = """
WITH seeds AS (
  SELECT i, (i * 2 + 42) AS seed FROM generate_series(0, 399) AS t(i)),
r AS (
  SELECT seed,
         ((seed % 5) != 2) AS has_exif,
         (1 + (seed % 8)) AS orient,
         (CASE WHEN ((seed % 3) = 0) THEN 'II' ELSE 'MM' END) AS bo,
         ((((seed * 2246822519) + 1013904223) % 180000001) - 90000000) AS lat,
         ((((seed * 2654435761) + 40503) % 360000001) - 180000000) AS lon,
         ('CamCo' || CAST((seed % 5) AS VARCHAR)) AS mk,
         (CAST((2010 + (seed % 15)) AS VARCHAR) || ':'
          || lpad(CAST((1 + (seed % 12)) AS VARCHAR), 2, '0') || ':'
          || lpad(CAST((1 + (seed % 28)) AS VARCHAR), 2, '0') || ' '
          || lpad(CAST((seed % 24) AS VARCHAR), 2, '0') || ':'
          || lpad(CAST((seed % 60) AS VARCHAR), 2, '0') || ':'
          || lpad(CAST(((seed * 7) % 60) AS VARCHAR), 2, '0')) AS dt
  FROM seeds)
SELECT (CASE WHEN has_exif THEN CAST(orient AS INT) END) AS orientation,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN has_exif AND (bo = 'II') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ii,
       CAST(COUNT(DISTINCT CASE WHEN has_exif THEN mk END) AS BIGINT)
         AS n_makes,
       CAST(SUM(CASE WHEN has_exif THEN lat END) AS BIGINT) AS lat_sum,
       CAST(SUM(CASE WHEN has_exif THEN lon END) AS BIGINT) AS lon_sum,
       MIN(CASE WHEN has_exif THEN dt END) AS min_dt,
       MAX(CASE WHEN has_exif THEN dt END) AS max_dt
FROM r
GROUP BY (CASE WHEN has_exif THEN CAST(orient AS INT) END)
"""


# --------------------------------------------------------------------------
# corpus hygiene (operators/corpus.py): decontamination, PII redaction,
# consistent sampling, boilerplate stripping


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 23 == 0 play the
    eval suite; every other doc reports how many of its word 4-grams
    (with multiplicity) appear anywhere in the eval set. Eval-side gram
    set is aggregated once and broadcast — corpus side never shuffles on
    the gram key."""
    from osm2geojson_spark.operators import corpus as CP

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 23 == 0)
    train = docs.where(F.col("doc_id") % 23 != 0)
    return CP.decontaminate(train, bench, n=4)


_SQL_DECONTAMINATE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM documents),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN (len(ts) >= 4)
                     THEN list_transform(range(1, (len(ts) - 2)),
                                         i -> array_to_string(ts[i:(i + 3)], ' '))
                     ELSE [] END) AS gm
  FROM t),
bench AS (SELECT DISTINCT gm FROM g WHERE (doc_id % 23) = 0),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
         CAST(SUM(CASE WHEN gm IN (SELECT gm FROM bench) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM g WHERE (doc_id % 23) != 0 GROUP BY 1)
SELECT d.doc_id, COALESCE(h.n_ngrams, 0) AS n_ngrams,
       COALESCE(h.n_hits, 0) AS n_hits,
       (COALESCE(h.n_hits, 0) > 0) AS contaminated
FROM documents AS d LEFT JOIN hits AS h ON (d.doc_id = h.doc_id)
WHERE (d.doc_id % 23) != 0
"""


def q_dup_spans(spark, sf_dir):
    """Repeated-n-gram span detection (the exact-substring-dedup shape
    of Lee et al. 2022) over documents with deterministically planted
    boilerplate: every doc gains a shared 6-token footer and every
    third doc a promo chunk parameterized by doc_id % 5, so corpus-
    frequent 4-grams appear at document-dependent offsets. Flagged
    windows (gram df ≥ 2, multiplicity counted) merge into maximal
    token spans per doc — gram-count shuffle with map-side combine on
    the hot boilerplate keys, one equi-join, one per-doc window pass."""
    from osm2geojson_spark.operators.corpus import dup_spans

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" copyright footer all rights reserved worldwide"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" promo code alpha"),
                         (F.col("doc_id") % 5).cast("string"),
                         F.lit(" beta gamma delta epsilon")),
            ).otherwise(F.lit("")),
        ).alias("text"))
    return dup_spans(docs, n=4, min_df=2).orderBy("doc_id", "span_start")


_SQL_DUP_SPANS = """
WITH d AS (
  SELECT doc_id,
         (text || ' copyright footer all rights reserved worldwide'
          || (CASE WHEN ((doc_id % 3) = 0)
                   THEN (' promo code alpha'
                         || CAST((doc_id % 5) AS VARCHAR)
                         || ' beta gamma delta epsilon')
                   ELSE '' END)) AS text
  FROM documents),
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM d),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN (len(ts) >= 4)
                     THEN list_transform(range(1, (len(ts) - 2)),
                            i -> struct_pack(
                                   pos := CAST((i - 1) AS BIGINT),
                                   gm := array_to_string(
                                           ts[i:(i + 3)], ' ')))
                     ELSE [] END) AS pg
  FROM t),
g2 AS (SELECT doc_id, (pg).pos AS pos, (pg).gm AS gm FROM g),
cnt AS (SELECT gm FROM g2 GROUP BY gm HAVING (COUNT(*) >= 2)),
f AS (SELECT doc_id, pos FROM g2
      WHERE gm IN (SELECT gm FROM cnt)),
w AS (
  SELECT doc_id, pos,
         (CASE WHEN ((pos - lag(pos) OVER (PARTITION BY doc_id
                                           ORDER BY pos ASC)) <= 4)
               THEN 0 ELSE 1 END) AS brk
  FROM f),
i AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS island
  FROM w)
SELECT doc_id, MIN(pos) AS span_start, (MAX(pos) + 3) AS span_end,
       COUNT(*) AS n_windows
FROM i GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def q_lm_score(spark, sf_dir):
    """Model-based quality scoring: mean per-token bigram Stupid
    Backoff probability under the corpus's own counts (the CCNet/
    Gopher LM-filter, trained and applied in the same job). Scores are
    exact-count RATIOS, not log-probs (ln is the same libm trap as
    trig), the per-doc mean is an ordered fold — doubles bit-exact
    across engines. Two map-side-combinable count aggregates, two
    position⋈vocabulary joins (AQE handles stopword skew), one per-doc
    regroup."""
    from osm2geojson_spark.operators.corpus import lm_score

    return lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


_SQL_LM_SCORE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts) + 1),
                  i -> struct_pack(
                         pos := CAST((i - 1) AS BIGINT),
                         w := ts[i],
                         wprev := (CASE WHEN (i > 1) THEN ts[i - 1]
                                        ELSE NULL END)))) AS pt
  FROM t WHERE (len(ts) >= 1)),
p2 AS (SELECT doc_id, (pt).pos AS pos, (pt).w AS w,
              (pt).wprev AS wprev FROM p),
uni AS (SELECT w, COUNT(*) AS c1 FROM p2 GROUP BY w),
big AS (SELECT wprev, w, COUNT(*) AS c2 FROM p2
        WHERE (wprev IS NOT NULL) GROUP BY wprev, w),
n AS (SELECT COUNT(*) AS n_corpus FROM p2),
sc AS (
  SELECT p2.doc_id, p2.pos,
         (CASE WHEN (p2.wprev IS NULL)
               THEN (CAST(u.c1 AS DOUBLE) / CAST(n.n_corpus AS DOUBLE))
               WHEN (b.c2 IS NOT NULL)
               THEN (CAST(b.c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE))
               ELSE (CAST('0.4' AS DOUBLE)
                     * (CAST(u.c1 AS DOUBLE)
                        / CAST(n.n_corpus AS DOUBLE))) END) AS s
  FROM p2
  JOIN uni u ON (u.w = p2.w)
  LEFT JOIN uni up ON (up.w = p2.wprev)
  LEFT JOIN big b ON ((b.wprev = p2.wprev) AND (b.w = p2.w))
  CROSS JOIN n),
d AS (SELECT doc_id, list(s ORDER BY pos ASC) AS ss
      FROM sc GROUP BY doc_id)
SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_tokens,
       (CAST(list_reduce(ss, (a, b) -> (a + b)) AS DOUBLE)
        / CAST(len(ss) AS DOUBLE)) AS lm_score
FROM d
ORDER BY doc_id
"""


def _pii_augmented_text():
    """Deterministic PII planting (identical in Spark + DuckDB): every
    doc gets exactly one of email/phone/IPv4 by doc_id % 3, and every
    doc_id % 5 == 0 gets a second email — so n_* counts of 0, 1 and 2
    all occur."""
    did = F.col("doc_id")

    def s(c):
        return c.cast("string")

    email = F.concat(F.lit(" contact u"), s(did), F.lit("@ex"),
                     s(did % 7), F.lit(".com"))
    phone = F.concat(F.lit(" call 555-"), F.lpad(s(did % 1000), 3, "0"),
                     F.lit("-"), F.lpad(s(did % 10000), 4, "0"))
    ip = F.concat(F.lit(" from 10."), s(did % 256), F.lit("."),
                  s(F.expr("(doc_id div 256)") % 256), F.lit("."),
                  s(did % 100))
    extra = F.concat(F.lit(" mail b"), s(did), F.lit("@h"), s(did % 5),
                     F.lit(".org"))
    return F.concat(
        F.col("text"),
        F.when(did % 3 == 0, email).when(did % 3 == 1, phone).otherwise(ip),
        F.when(did % 5 == 0, extra).otherwise(F.lit("")),
    )


def q_pii_redact(spark, sf_dir):
    """PII scrub over documents with deterministically planted PII:
    per-doc email/phone/IPv4 counts (on the original text) plus the
    md5 + length of the sequentially redacted text. Pure codegen regex
    expressions — zero shuffles, zero Python."""
    from osm2geojson_spark.operators import corpus as CP

    docs = _docs(spark, sf_dir).withColumn("text", _pii_augmented_text())
    out = CP.pii_redact(docs)
    return out.select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.length("redacted").cast("int").alias("red_len"),
        F.md5("redacted").alias("red_md5"),
    )


_SQL_PII_AUG = """
aug AS (
  SELECT doc_id,
         (text
          || CASE (doc_id % 3)
               WHEN 0 THEN (' contact u' || CAST(doc_id AS VARCHAR) || '@ex'
                            || CAST((doc_id % 7) AS VARCHAR) || '.com')
               WHEN 1 THEN (' call 555-'
                            || lpad(CAST((doc_id % 1000) AS VARCHAR), 3, '0')
                            || '-'
                            || lpad(CAST((doc_id % 10000) AS VARCHAR), 4, '0'))
               ELSE (' from 10.' || CAST((doc_id % 256) AS VARCHAR) || '.'
                     || CAST(((doc_id // 256) % 256) AS VARCHAR) || '.'
                     || CAST((doc_id % 100) AS VARCHAR))
             END
          || CASE WHEN ((doc_id % 5) = 0)
                  THEN (' mail b' || CAST(doc_id AS VARCHAR) || '@h'
                        || CAST((doc_id % 5) AS VARCHAR) || '.org')
                  ELSE '' END) AS text
  FROM documents)
"""

_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_SQL = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP_SQL = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_SQL_PII_REDACT = f"""
WITH {_SQL_PII_AUG},
red AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(text, '{_PII_EMAIL_SQL}')) AS INT)
           AS n_emails,
         CAST(length(regexp_extract_all(text, '{_PII_PHONE_SQL}')) AS INT)
           AS n_phones,
         CAST(length(regexp_extract_all(text, '{_PII_IP_SQL}')) AS INT)
           AS n_ips,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{_PII_EMAIL_SQL}', '<PII>', 'g'),
             '{_PII_PHONE_SQL}', '<PII>', 'g'),
           '{_PII_IP_SQL}', '<PII>', 'g') AS redacted
  FROM aug)
SELECT doc_id, n_emails, n_phones, n_ips,
       CAST(length(redacted) AS INT) AS red_len, md5(redacted) AS red_md5
FROM red
"""


def q_trajectory_stats(spark, sf_dir):
    """Per-user trajectory statistics over the events stream (pings
    ordered by (ts, event_id), coords int-derived from event_id):
    fold-exact path length (left-to-right ``F.aggregate`` ==
    ``list_reduce`` in the oracle — a parallel sum would reorder IEEE
    additions), net displacement, straightness, step max, bbox. One
    shuffle."""
    from osm2geojson_spark.spatial.trajectory import trajectory_stats

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    return trajectory_stats(pts)


def _sql_trajectory_stats() -> str:
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         ({lon_sql('event_id')}) AS x, ({lat_sql('event_id')}) AS y
  FROM events),
paths AS (
  SELECT user_id,
         list(struct_pack(x := x, y := y) ORDER BY ts ASC, event_id ASC)
           AS path
  FROM pts GROUP BY user_id),
st AS (
  SELECT user_id, path,
         (CASE WHEN (len(path) >= 2) THEN
            list_transform(range(1, len(path)), i ->
              sqrt((((path[(i + 1)]).x - (path[i]).x)
                    * ((path[(i + 1)]).x - (path[i]).x))
                 + (((path[(i + 1)]).y - (path[i]).y)
                    * ((path[(i + 1)]).y - (path[i]).y))))
          ELSE [] END) AS steps
  FROM paths),
agg AS (
  SELECT user_id, path, steps,
         (CASE WHEN (len(steps) > 0)
               THEN CAST(list_reduce(steps, (a, b) -> (a + b)) AS DOUBLE)
               ELSE 0.0 END) AS path_len,
         sqrt((((path[len(path)]).x - (path[1]).x)
               * ((path[len(path)]).x - (path[1]).x))
            + (((path[len(path)]).y - (path[1]).y)
               * ((path[len(path)]).y - (path[1]).y))) AS net_disp
  FROM st)
SELECT user_id, CAST(len(path) AS INT) AS n_pts, path_len, net_disp,
       (CASE WHEN (path_len > 0.0) THEN (net_disp / path_len)
             ELSE 0.0 END) AS straightness,
       (CASE WHEN (len(steps) > 0)
             THEN CAST(list_aggregate(steps, 'max') AS DOUBLE)
             ELSE 0.0 END) AS max_step,
       CAST(list_aggregate(list_transform(path, p -> (p).x), 'min')
            AS DOUBLE) AS min_x,
       CAST(list_aggregate(list_transform(path, p -> (p).y), 'min')
            AS DOUBLE) AS min_y,
       CAST(list_aggregate(list_transform(path, p -> (p).x), 'max')
            AS DOUBLE) AS max_x,
       CAST(list_aggregate(list_transform(path, p -> (p).y), 'max')
            AS DOUBLE) AS max_y
FROM agg
"""


def q_trip_segmentation(spark, sf_dir):
    """Trip segmentation + per-trip trajectory rollup: gap-based movement
    sessionization (``segment_trips``, 1-day gap — the GPS-trace analog
    of SURVEY §2.5 sessionize) feeding the compound-key
    ``trajectory_stats``. Both the window pass and the path groupBy key
    on user_id, so AQE coalesces them onto ONE shuffle of the ping
    stream. Gap uses truncated epoch seconds (timestampdiff over
    TIMESTAMP_NTZ == DuckDB floor(epoch()) — determinism rules)."""
    from osm2geojson_spark.spatial.trajectory import (
        segment_trips,
        trajectory_stats,
    )

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    seg = segment_trips(pts, max_gap_sec=86400)
    return trajectory_stats(seg, id_col=["user_id", "trip_id"])


def _sql_trip_segmentation() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         ({lon_sql('event_id')}) AS x, ({lat_sql('event_id')}) AS y
  FROM events),
flagged AS (
  SELECT *, (CASE WHEN ((sec - LAG(sec) OVER w) IS NULL)
                    OR ((sec - LAG(sec) OVER w) > 86400)
             THEN 1 ELSE 0 END) AS new_t
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
trips AS (
  SELECT *, CAST(SUM(new_t) OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC
              ROWS UNBOUNDED PRECEDING) AS INT) AS trip_id
  FROM flagged),
paths AS (
  SELECT user_id, trip_id,
         list(struct_pack(x := x, y := y) ORDER BY ts ASC, event_id ASC)
           AS path
  FROM trips GROUP BY user_id, trip_id),
st AS (
  SELECT user_id, trip_id, path,
         (CASE WHEN (len(path) >= 2) THEN
            list_transform(range(1, len(path)), i ->
              sqrt((((path[(i + 1)]).x - (path[i]).x)
                    * ((path[(i + 1)]).x - (path[i]).x))
                 + (((path[(i + 1)]).y - (path[i]).y)
                    * ((path[(i + 1)]).y - (path[i]).y))))
          ELSE [] END) AS steps
  FROM paths),
agg AS (
  SELECT user_id, trip_id, path, steps,
         (CASE WHEN (len(steps) > 0)
               THEN CAST(list_reduce(steps, (a, b) -> (a + b)) AS DOUBLE)
               ELSE 0.0 END) AS path_len,
         sqrt((((path[len(path)]).x - (path[1]).x)
               * ((path[len(path)]).x - (path[1]).x))
            + (((path[len(path)]).y - (path[1]).y)
               * ((path[len(path)]).y - (path[1]).y))) AS net_disp
  FROM st)
SELECT user_id, trip_id, CAST(len(path) AS INT) AS n_pts, path_len, net_disp,
       (CASE WHEN (path_len > 0.0) THEN (net_disp / path_len)
             ELSE 0.0 END) AS straightness,
       (CASE WHEN (len(steps) > 0)
             THEN CAST(list_aggregate(steps, 'max') AS DOUBLE)
             ELSE 0.0 END) AS max_step,
       CAST(list_aggregate(list_transform(path, p -> (p).x), 'min')
            AS DOUBLE) AS min_x,
       CAST(list_aggregate(list_transform(path, p -> (p).y), 'min')
            AS DOUBLE) AS min_y,
       CAST(list_aggregate(list_transform(path, p -> (p).x), 'max')
            AS DOUBLE) AS max_x,
       CAST(list_aggregate(list_transform(path, p -> (p).y), 'max')
            AS DOUBLE) AS max_y
FROM agg
"""


def q_od_matrix(spark, sf_dir):
    """Origin→destination flow matrix: trips (1-day gap sessionization)
    → first/last ping per trip via lexicographic struct min/max (whole
    row, map-side combinable — no path arrays through the shuffle) →
    Morton zone pair at res 3 → exact integer flow counts. The transit
    OD rollup composed from segment_trips + cell_expr."""
    from osm2geojson_spark.spatial.trajectory import od_matrix

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    return od_matrix(pts, res=3, max_gap_sec=86400)


def _sql_od_matrix() -> str:
    o_cell = C.cell_sql("((path[1]).x)", "((path[1]).y)", 3)
    d_cell = C.cell_sql("((path[len(path)]).x)", "((path[len(path)]).y)", 3)
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         ({lon_sql('event_id')}) AS x, ({lat_sql('event_id')}) AS y
  FROM events),
flagged AS (
  SELECT *, (CASE WHEN ((sec - LAG(sec) OVER w) IS NULL)
                    OR ((sec - LAG(sec) OVER w) > 86400)
             THEN 1 ELSE 0 END) AS new_t
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
trips AS (
  SELECT *, CAST(SUM(new_t) OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC
              ROWS UNBOUNDED PRECEDING) AS INT) AS trip_id
  FROM flagged),
paths AS (
  SELECT user_id, trip_id,
         list(struct_pack(x := x, y := y) ORDER BY ts ASC, event_id ASC)
           AS path,
         CAST(COUNT(*) AS BIGINT) AS n_pings
  FROM trips GROUP BY user_id, trip_id),
od AS (
  SELECT user_id, ({o_cell}) AS o_cell, ({d_cell}) AS d_cell, n_pings
  FROM paths)
SELECT o_cell, d_cell, CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(n_pings) AS BIGINT) AS n_pings
FROM od GROUP BY o_cell, d_cell
"""


def q_grid_cluster(spark, sf_dir):
    """Grid-density spatial clustering (DBSCAN-lite): points → dense
    Morton cells (>= 5 pts at res 6) → 8-neighbor connected components
    via the SAME distributed min-label propagation as near-dup
    clustering. Oracle: grid agg + offset-join adjacency + recursive-CTE
    closure. Exact integer output (cell, n_pts, cluster_id)."""
    from osm2geojson_spark.spatial.cluster import grid_cluster

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    return grid_cluster(pts, res=6, min_pts=5)


def _sql_grid_cluster() -> str:
    res, min_pts = 6, 5
    ix = C.lon_ix_sql(lon_sql("event_id"), res)
    iy = C.lat_iy_sql(lat_sql("event_id"), res)
    cell = C.cell_from_ixiy_sql("ix", "iy")
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1)
                     for dy in (-1, 0, 1) if (dx, dy) != (0, 0))
    return f"""
WITH RECURSIVE grid AS (
  SELECT ({ix}) AS ix, ({iy}) AS iy, CAST(COUNT(*) AS BIGINT) AS n_pts
  FROM events GROUP BY ix, iy),
dense AS (
  SELECT ix, iy, n_pts, ({cell}) AS cell
  FROM grid WHERE n_pts >= {min_pts}),
offs(dx, dy) AS (VALUES {offs}),
edges AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM dense a, offs o, dense b
  WHERE (b.ix = (a.ix + o.dx)) AND (b.iy = (a.iy + o.dy))),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst AS id, reach.r AS r
  FROM reach JOIN edges e ON (e.src = reach.id)),
lab AS (SELECT id, MIN(r) AS cid FROM reach GROUP BY id)
SELECT d.cell AS cell, d.n_pts AS n_pts,
       COALESCE(l.cid, d.cell) AS cluster_id
FROM dense d LEFT JOIN lab l ON (l.id = d.cell)
"""


_MM_EPS = 0.05  # map-match radius, planar degrees


def _mm_segments(part):
    """Synthetic road network: one short segment per sampled part row,
    endpoints int-derived (endpoint B = A + grid-step deltas so len2 is
    never 0 and directions vary)."""
    seg = part.where((F.col("p_partkey") % 4) == 1).select(
        F.col("p_partkey").alias("seg_id"),
        lon_col(F.col("p_partkey")).alias("ax"),
        lat_col(F.col("p_partkey")).alias("ay"),
        (((F.col("p_partkey") * 13) % 41) - 20).alias("dxi"),
        (((F.col("p_partkey") * 17) % 36) + 1).alias("dyi"),
    )
    return seg.select(
        "seg_id", "ax", "ay",
        (F.col("ax") + F.col("dxi").cast("double") * F.lit(0.001)).alias("bx"),
        (F.col("ay") + F.col("dyi").cast("double") * F.lit(0.001)).alias("by"),
    )


def _mm_points(events):
    """Synthetic pings: each event jitters (±0.05°) around the anchor
    endpoint of segment ((event_id % 500) * 4 + 1), so pings cluster on
    the road network like real GPS traces."""
    anchor = (F.col("event_id") % 500) * 4 + 1
    jx = (((F.col("event_id") * 31) % 2001) - 1000).cast("double") * F.lit(5e-5)
    jy = (((F.col("event_id") * 43) % 2001) - 1000).cast("double") * F.lit(5e-5)
    return events.select(
        F.col("event_id").alias("point_id"),
        (lon_col(anchor) + jx).alias("px"),
        (lat_col(anchor) + jy).alias("py"),
    )


def q_map_match(spark, sf_dir):
    """Map matching: snap synthetic GPS pings to the nearest road
    segment within 0.05° (cell-prefiltered candidate equi-join, one
    argmin shuffle). The oracle is a brute-force cross join — an
    independent algorithm, so the value match also PROVES the cell
    prefilter is complete on this corpus."""
    from osm2geojson_spark.spatial.match import map_match

    segs = _mm_segments(_t(spark, sf_dir, "part"))
    pts = _mm_points(_t(spark, sf_dir, "events"))
    return map_match(pts, segs, eps=_MM_EPS, res=10)


def _sql_map_match() -> str:
    from osm2geojson_spark.spatial.match import match_steps_sql

    anchor = "(((event_id % 500) * 4) + 1)"
    jx = f"(CAST((((event_id * 31) % 2001) - 1000) AS DOUBLE) * 5e-5)"
    jy = f"(CAST((((event_id * 43) % 2001) - 1000) AS DOUBLE) * 5e-5)"
    steps = match_steps_sql("pts", "segs", _MM_EPS)
    return f"""
WITH pts AS (
  SELECT event_id AS point_id,
         (({lon_sql(anchor)}) + {jx}) AS px,
         (({lat_sql(anchor)}) + {jy}) AS py
  FROM events),
segs0 AS (
  SELECT p_partkey AS seg_id,
         ({lon_sql('p_partkey')}) AS ax,
         ({lat_sql('p_partkey')}) AS ay,
         (((p_partkey * 13) % 41) - 20) AS dxi,
         (((p_partkey * 17) % 36) + 1) AS dyi
  FROM part WHERE ((p_partkey % 4) = 1)),
segs1 AS (
  SELECT seg_id, ax, ay,
         ((ax) + (CAST(dxi AS DOUBLE) * 1e-3)) AS bx,
         ((ay) + (CAST(dyi AS DOUBLE) * 1e-3)) AS by
  FROM segs0),
segs2 AS (
  SELECT *, ((bx) - (ax)) AS dx, ((by) - (ay)) AS dy FROM segs1),
segs AS (
  SELECT *, (((dx) * (dx)) + ((dy) * (dy))) AS len2 FROM segs2),
{steps}
SELECT point_id, seg_id, dist2, snap_lon, snap_lat FROM matched
"""


def _gf_zones(nation):
    """25 disjoint geofence rectangles on a 5x4 world grid (with gaps —
    'outside' exists), corners int-derived so every coordinate is an
    exact double in both engines."""
    k = F.col("n_nationkey")
    return nation.select(
        k.alias("zone_id"),
        ((k % 5) * 72 - 180).cast("double").alias("x0"),
        ((k % 5) * 72 - 144).cast("double").alias("x1"),
        ((k - (k % 5)) / 5 * 34 - 85).cast("double").alias("y0"),
        ((k - (k % 5)) / 5 * 34 - 68).cast("double").alias("y1"),
    )


def q_geofence(spark, sf_dir):
    """Geofence enter/exit/hop transitions over the GPS ping stream:
    broadcast range-join zone assignment (pings never shuffle for it),
    then one per-user window pass emitting every null-safe zone change.
    from_zone/to_zone NULL = outside any fence."""
    from osm2geojson_spark.spatial.geofence import geofence_transitions

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    zones = _gf_zones(_t(spark, sf_dir, "nation"))
    return geofence_transitions(
        pts, zones, order_cols=("ts", "event_id"))


def _sql_geofence() -> str:
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         ({lon_sql('event_id')}) AS lon,
         ({lat_sql('event_id')}) AS lat
  FROM events),
zones AS (
  SELECT n_nationkey AS zone_id,
         CAST(((n_nationkey % 5) * 72 - 180) AS DOUBLE) AS x0,
         CAST(((n_nationkey % 5) * 72 - 144) AS DOUBLE) AS x1,
         CAST(((n_nationkey - (n_nationkey % 5)) / 5 * 34 - 85) AS DOUBLE) AS y0,
         CAST(((n_nationkey - (n_nationkey % 5)) / 5 * 34 - 68) AS DOUBLE) AS y1
  FROM nation),
az AS (
  SELECT p.user_id, p.ts, p.event_id, z.zone_id
  FROM pts p LEFT JOIN zones z
    ON ((p.lon >= z.x0) AND (p.lon < z.x1)
        AND (p.lat >= z.y0) AND (p.lat < z.y1))),
seq AS (
  SELECT user_id, ts, event_id, zone_id,
         LAG(zone_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM az)
SELECT user_id, ts, event_id, prev AS from_zone, zone_id AS to_zone
FROM seq WHERE (zone_id IS DISTINCT FROM prev)
"""


def q_quadkey_rollup(spark, sf_dir):
    """Bing quadkey rollup: every event point keyed at res 8 (base-4
    digits of the Morton id — pure ``conv``/``lpad`` codegen), rolled up
    by 4-char PREFIX: count + distinct res-8 keys per res-4 tile. The
    prefix-is-ancestor property is the point — it is what lets a string
    GROUP BY walk the tile tree, and what XYZ tile caches key on. The
    oracle builds the key digit-by-digit with integer div/mod (no
    base-conversion builtin assumed)."""
    from osm2geojson_spark.functions.cells import cell_expr, quadkey_expr

    ev = _t(spark, sf_dir, "events")
    qk = quadkey_expr(
        cell_expr(lon_col(F.col("event_id")), lat_col(F.col("event_id")), 8),
        8)
    return (
        ev.select(qk.alias("qk"))
        .groupBy(F.substring("qk", 1, 4).alias("qk4"))
        .agg(F.count("*").alias("n_pts"),
             F.countDistinct("qk").alias("n_cells"))
    )


def _sql_quadkey_rollup() -> str:
    from osm2geojson_spark.functions.cells import cell_sql, quadkey_sql

    qk = quadkey_sql(
        f"({cell_sql(lon_sql('event_id'), lat_sql('event_id'), 8)})", 8)
    return f"""
WITH g AS (SELECT {qk} AS qk FROM events)
SELECT substr(qk, 1, 4) AS qk4,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(COUNT(DISTINCT qk) AS BIGINT) AS n_cells
FROM g GROUP BY qk4
"""


def q_geohash_rollup(spark, sf_dir):
    """Geohash spatial rollup: base-32 geohash of every event point
    (pure codegen'd integer bit math — the 4th cell-index family next to
    Morton/S2/hex) aggregated by 3-char prefix: point count + distinct
    6-char cells per prefix. Prefix truncation IS the parent operation
    (geohash hierarchy property, pinned in test_geohash)."""
    from osm2geojson_spark.functions.geohash import geohash_expr

    ev = _t(spark, sf_dir, "events")
    gh = geohash_expr(
        lon_col(F.col("event_id")), lat_col(F.col("event_id")), 6)
    return (
        ev.select(gh.alias("gh"))
        .groupBy(F.substring("gh", 1, 3).alias("gh3"))
        .agg(F.count("*").alias("n_pts"),
             F.countDistinct("gh").alias("n_cells"))
    )


def _sql_geohash_rollup() -> str:
    from osm2geojson_spark.functions.geohash import geohash_sql

    gh = geohash_sql(lon_sql("event_id"), lat_sql("event_id"), 6)
    return f"""
WITH g AS (SELECT {gh} AS gh FROM events)
SELECT substr(gh, 1, 3) AS gh3,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_cells
FROM g GROUP BY gh3
"""


def q_heatmap_tiles(spark, sf_dir):
    """Density heatmap raster tiles: event pings → per-Morton-tile
    64×64 grayscale PNGs (vector→raster, the inverse of zonal_stats).
    Output hexes the png bytes so the oracle — a pyref literal table
    that re-bins and RE-ENCODES the same pings Spark-free — checks the
    image bytes themselves, not just counts."""
    from osm2geojson_spark.spatial.heatmap import heatmap_tiles

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    out = heatmap_tiles(pts, res=3, tile_px=64)
    return out.select(
        "tile", "n_pts", F.hex("png").alias("png_hex"))


def _py_lon(k: int) -> float:
    return float((k * _LON_MUL) % 360_000_000) / 1_000_000.0 - 180.0


def _py_lat(k: int) -> float:
    return float((k * _LAT_MUL + _LAT_OFF) % 170_000_000) / 1_000_000.0 - 85.0


def _sql_heatmap_tiles() -> str:
    from osm2geojson_spark import pyref

    ids = [r[0] for r in _oracle_parquet("events", ["event_id"])]
    rows = pyref.ref_heatmap(
        [(_py_lon(k), _py_lat(k)) for k in ids], res=3, tile_px=64)
    return pyref.values_sql(
        rows, [("tile", "BIGINT"), ("n_pts", "BIGINT"),
               ("png_hex", "VARCHAR")])


def q_heatmap_pyramid(spark, sf_dir):
    """Overview-zoom rendering from ALREADY-RENDERED tiles (the basemap
    serving path when raw points are gone): res-3 heatmap PNGs → decode
    → exact integer 2×2 block average → parent-quadrant assembly →
    re-encoded res-2 PNGs. One groupBy(parent) shuffle of tile blobs;
    the oracle re-renders AND re-pyramids the same pings Spark-free and
    checks the parent PNG bytes."""
    from osm2geojson_spark.spatial.heatmap import heatmap_tiles, overview_tiles

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    leaf = heatmap_tiles(pts, res=3, tile_px=64)
    out = overview_tiles(leaf, tile_px=64)
    return out.select(
        "tile", F.col("n_children").cast("int").alias("n_children"),
        "n_pts", F.hex("png").alias("png_hex"))


def _sql_heatmap_pyramid() -> str:
    from osm2geojson_spark import pyref

    ids = [r[0] for r in _oracle_parquet("events", ["event_id"])]
    rows = pyref.ref_heatmap_overview(
        [(_py_lon(k), _py_lat(k)) for k in ids], res=3, tile_px=64)
    return pyref.values_sql(
        rows, [("tile", "BIGINT"), ("n_children", "INT"),
               ("n_pts", "BIGINT"), ("png_hex", "VARCHAR")])


def q_vector_tiles(spark, sf_dir):
    """Mapbox Vector Tiles: event pings → per-Morton-tile MVT protobuf
    (vector-tile-spec 2.1 — zigzag-delta command geometry, tag-indexed
    properties), the vector twin of heatmap_tiles' PNG rasters. Pings
    collapse map-side to (tile, pixel, count) partials before the one
    shuffle; per-tile Arrow applyInPandas serializes deterministically
    (row-major features, sorted value table). Output hexes the tile so
    the oracle — a pyref literal table that re-bins and RE-ENCODES the
    pings Spark-free — checks the protobuf bytes themselves."""
    from osm2geojson_spark.spatial.mvt import vector_tiles

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    out = vector_tiles(pts, res=3, extent=4096)
    return out.select(
        "tile", "n_features", "n_pts", F.hex("mvt").alias("mvt_hex"))


def _sql_vector_tiles() -> str:
    from osm2geojson_spark import pyref

    ids = [r[0] for r in _oracle_parquet("events", ["event_id"])]
    rows = pyref.ref_vector_tiles(
        [(_py_lon(k), _py_lat(k)) for k in ids], res=3, extent=4096)
    return pyref.values_sql(
        rows, [("tile", "BIGINT"), ("n_features", "BIGINT"),
               ("n_pts", "BIGINT"), ("mvt_hex", "VARCHAR")])


def q_line_tiles(spark, sf_dir):
    """MVT LINESTRING tiles: per-user GPS trajectories clipped to every
    Morton tile they cross (EXACT rational Liang–Barsky — int64
    cross-multiplication, no floats, so the vectorized Spark kernel and
    the scalar-Fraction oracle twin meet bit-for-bit at the protobuf
    bytes), re-chained into maximal polylines per (tile, path) and
    serialized with the vector-tile-spec 2.1 encoder. One window
    shuffle builds segments, the teleport filter (max_seg_px = extent)
    bounds the candidate-tile fanout at 9, empty clips die map-side,
    and ONE tile-keyed shuffle feeds the render — the linestring
    completion of vector_tiles' POINT layers."""
    from osm2geojson_spark.spatial.cliptile import line_tiles

    ev = _t(spark, sf_dir, "events")
    verts = ev.select(
        F.col("user_id").alias("path_id"),
        F.col("ts"), F.col("event_id"),
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    out = line_tiles(verts, res=3, extent=4096,
                     id_col="path_id", order_cols=("ts", "event_id"))
    return out.select("tile", "n_features", "n_vertices",
                      F.hex("mvt").alias("mvt_hex"))


def _sql_line_tiles() -> str:
    from osm2geojson_spark import pyref

    rows = _oracle_parquet("events", ["user_id", "ts", "event_id"])
    by_user: dict = {}
    for uid, ts, k in rows:
        by_user.setdefault(uid, []).append((ts, k))
    paths = []
    for uid in sorted(by_user):
        seq = sorted(by_user[uid])
        paths.append(
            (uid, [(_py_lon(k), _py_lat(k)) for _ts, k in seq]))
    ref = pyref.ref_line_tiles(paths, res=3, extent=4096)
    return pyref.values_sql(
        ref, [("tile", "BIGINT"), ("n_features", "BIGINT"),
              ("n_vertices", "BIGINT"), ("mvt_hex", "VARCHAR")])


# deterministic octagon + triangular hole per nation key: every vertex
# is (center + scale * offset) in IEEE doubles, with center/scale from
# pure int64 arithmetic — bit-identical in Spark, Python, and the
# quantization floor (see module docstring rules)
_POLY_OCT = [(1.0, 0.0), (0.75, 0.75), (0.0, 1.0), (-0.75, 0.75),
             (-1.0, 0.0), (-0.75, -0.75), (0.0, -1.0), (0.75, -0.75)]
_POLY_HOLE = [(0.25, 0.0), (0.0, 0.25), (-0.25, -0.125)]


def _poly_center_scale(k: int) -> tuple:
    cx = ((k * _LON_MUL) % 300_000_000) / 1_000_000.0 - 150.0
    cy = ((k * _LAT_MUL + _LAT_OFF) % 120_000_000) / 1_000_000.0 - 60.0
    s = 10.0 + float(k % 4) * 6.0
    return cx, cy, s


def q_polygon_tiles(spark, sf_dir):
    """MVT POLYGON tiles: per-nation octagons with a triangular hole,
    clipped to every Morton tile their bbox covers with the INTEGER
    Sutherland–Hodgman (exact int64 cross-multiplications, half-up
    lattice rounding per half-plane — the vectorized Spark kernel and
    the scalar oracle twin meet bit-for-bit at the protobuf bytes),
    winding normalized to the vector-tile-spec 2.1 area-sign rule.
    One group-key shuffle assembles rings, empty/degenerate clips die
    map-side, ONE tile-keyed shuffle feeds the render — the polygon
    completion of vector_tiles (POINT) and line_tiles (LINESTRING)."""
    from osm2geojson_spark.spatial.polytile import polygon_tiles

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"))
    cx = (((F.col("k") * F.lit(_LON_MUL)) % F.lit(300_000_000))
          .cast("double") / 1_000_000.0 - 150.0)
    cy = (((F.col("k") * F.lit(_LAT_MUL) + F.lit(_LAT_OFF))
           % F.lit(120_000_000)).cast("double") / 1_000_000.0 - 60.0)
    s = F.lit(10.0) + (F.col("k") % F.lit(4)).cast("double") * F.lit(6.0)
    offs = F.array(*[
        F.struct(F.lit(r).alias("ring"), F.lit(p).alias("pos"),
                 F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
        for r, ring in ((0, _POLY_OCT), (1, _POLY_HOLE))
        for p, (ox, oy) in enumerate(ring)])
    verts = (
        nat.select("k", cx.alias("cx"), cy.alias("cy"), s.alias("s"),
                   F.explode(offs).alias("o"))
        .select(
            F.col("k").alias("poly_id"),
            F.col("o.ring").alias("ring"),
            F.col("o.pos").alias("pos"),
            (F.col("cx") + F.col("s") * F.col("o.ox")).alias("lon"),
            (F.col("cy") + F.col("s") * F.col("o.oy")).alias("lat")))
    out = polygon_tiles(verts, res=3, extent=4096)
    return out.select("tile", "n_features", "n_rings",
                      F.hex("mvt").alias("mvt_hex"))


def _sql_polygon_tiles() -> str:
    from osm2geojson_spark import pyref

    rows = _oracle_parquet("nation", ["n_nationkey"])
    polys = []
    for (k,) in sorted(rows):
        cx, cy, s = _poly_center_scale(int(k))
        polys.append((int(k), [
            [(cx + s * ox, cy + s * oy) for ox, oy in _POLY_OCT],
            [(cx + s * ox, cy + s * oy) for ox, oy in _POLY_HOLE],
        ]))
    ref = pyref.ref_polygon_tiles(polys, res=3, extent=4096)
    return pyref.values_sql(
        ref, [("tile", "BIGINT"), ("n_features", "BIGINT"),
              ("n_rings", "BIGINT"), ("mvt_hex", "VARCHAR")])


def q_osm_polygon_tiles(spark, sf_dir):
    """Reference parity meets the tile renderer: ORDER-PRESERVING way
    assembly (the reference's OsmJoin node-chaining) feeds the MVT
    POLYGON pipeline — each assembled chain is treated as a ring
    (explicit closing vertex stripped, the reference's closure rule),
    clipped per tile with the integer Sutherland–Hodgman, winding
    normalized. Arbitrary self-intersecting real-data rings exercise
    the S-H bowtie-bridge determinism the octagon query can't. The
    oracle replays assembly + scalar clipping Spark-free from the same
    parquet."""
    from osm2geojson_spark.spatial.polytile import polygon_tiles

    nodes, ways = _ways_input(spark, sf_dir)
    sel = ways.where(F.col("id") % 97 == 0)
    ns = F.col("ns")
    stripped = F.when(
        (F.size(ns) >= 2)
        & (F.element_at(ns, 1) == F.element_at(ns, -1)),
        F.slice(ns, 1, F.size(ns) - 1)).otherwise(ns)
    verts = (
        sel.select(F.col("id").alias("poly_id"),
                   F.posexplode(stripped).alias("pos", "nid"))
        .join(nodes.select(F.col("id").alias("nid"), "lon", "lat"), "nid")
        .select("poly_id", F.lit(0).alias("ring"), "pos", "lon", "lat"))
    out = polygon_tiles(verts, res=2, extent=4096)
    return out.select("tile", "n_features", "n_rings",
                      F.hex("mvt").alias("mvt_hex")).orderBy("tile")


def _sql_osm_polygon_tiles() -> str:
    from osm2geojson_spark import pyref

    li = _oracle_parquet("lineitem",
                         ["l_orderkey", "l_linenumber", "l_partkey"])
    chains: dict = {}
    for ok, ln, pk in li:
        if ok % 97 == 0:
            chains.setdefault(ok, []).append((ln, pk))
    polys = []
    for ok in sorted(chains):
        refs = [pk for _ln, pk in sorted(chains[ok])]
        if len(refs) >= 2 and refs[0] == refs[-1]:
            refs = refs[:-1]
        polys.append(
            (ok, [[(_py_lon(pk), _py_lat(pk)) for pk in refs]]))
    ref = pyref.ref_polygon_tiles(polys, res=2, extent=4096)
    return pyref.values_sql(
        ref, [("tile", "BIGINT"), ("n_features", "BIGINT"),
              ("n_rings", "BIGINT"), ("mvt_hex", "VARCHAR")])


# integer quarter-unit octagon + triangular hole for the measures query:
# every vertex is center + (scale/4) * offset in PURE int64 microdegrees
# (scale*1e6 is divisible by 4 for all k), so area2/bbox are exact in
# both engines and the float measures are ordered folds over identical
# int-derived doubles
_MEAS_OCT = [(4, 0), (3, 3), (0, 4), (-3, 3),
             (-4, 0), (-3, -3), (0, -4), (3, -3)]
_MEAS_HOLE = [(1, 0), (0, 1), (-1, -1)]


def q_geom_measures(spark, sf_dir):
    """ST_Area / ST_Perimeter / ST_Centroid / ST_Envelope surface
    (functions/measures.py) over per-nation octagons with a triangular
    hole on the int64 microdegree lattice: shoelace area2 is an EXACT
    int64 fold; perimeter and centroid numerators are LEFT-TO-RIGHT
    ``F.aggregate`` folds the oracle replays with ``list_reduce``
    (bit-identical doubles past 2^53). One group-key shuffle, all
    measures codegen folds — no UDF."""
    from osm2geojson_spark.functions.measures import ring_measures

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"))
    cx = (F.col("k") * F.lit(_LON_MUL)) % F.lit(300_000_000) \
        - F.lit(150_000_000)
    cy = (F.col("k") * F.lit(_LAT_MUL) + F.lit(_LAT_OFF)) \
        % F.lit(120_000_000) - F.lit(60_000_000)
    sq = (F.lit(10) + (F.col("k") % F.lit(4)) * F.lit(6)) * F.lit(250_000)
    offs = F.array(*[
        F.struct(F.lit(r).alias("ring"), F.lit(p).alias("pos"),
                 F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
        for r, shape in ((0, _MEAS_OCT), (1, _MEAS_HOLE))
        for p, (ox, oy) in enumerate(shape)])
    verts = (
        nat.select("k", cx.alias("cx"), cy.alias("cy"), sq.alias("sq"),
                   F.explode(offs).alias("o"))
        .select(
            F.col("k").alias("poly_id"),
            F.col("o.ring").alias("ring"),
            F.col("o.pos").alias("pos"),
            (F.col("cx") + F.col("sq") * F.col("o.ox")).alias("x"),
            (F.col("cy") + F.col("sq") * F.col("o.oy")).alias("y")))
    return ring_measures(verts).orderBy("poly_id", "ring")


def _sql_geom_measures() -> str:
    off_rows = ", ".join(
        f"({r}, {p}, {ox}, {oy})"
        for r, shape in ((0, _MEAS_OCT), (1, _MEAS_HOLE))
        for p, (ox, oy) in enumerate(shape))
    cross = "(((ed.p).x * (ed.q).y) - ((ed.q).x * (ed.p).y))"
    d2 = ("((((ed.q).x - (ed.p).x) * ((ed.q).x - (ed.p).x)) "
          "+ (((ed.q).y - (ed.p).y) * ((ed.q).y - (ed.p).y)))")
    return f"""
WITH off(ring, pos, ox, oy) AS (VALUES {off_rows}),
base AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
verts AS (
  SELECT k AS poly_id, off.ring AS ring, off.pos AS pos,
         (((k * {_LON_MUL}) % 300000000) - 150000000)
           + (((10 + ((k % 4) * 6)) * 250000) * ox) AS x,
         (((k * {_LAT_MUL} + {_LAT_OFF}) % 120000000) - 60000000)
           + (((10 + ((k % 4) * 6)) * 250000) * oy) AS y
  FROM base, off),
rings AS (
  SELECT poly_id, ring,
         list(struct_pack(x := x, y := y) ORDER BY pos ASC) AS v
  FROM verts GROUP BY poly_id, ring),
ed AS (
  SELECT poly_id, ring, v,
         list_transform(range(1, len(v) + 1), i ->
           struct_pack(p := v[i], q := v[(i % len(v)) + 1])) AS e
  FROM rings),
m AS (
  SELECT poly_id, ring, v, e,
         list_reduce(list_transform(e, ed -> {cross}),
                     (a, b) -> (a + b)) AS area2
  FROM ed)
SELECT poly_id, CAST(ring AS INT) AS ring,
       CAST(len(v) AS INT) AS n_vertices,
       area2,
       CAST(list_reduce(list_transform(e, ed ->
              sqrt(CAST({d2} AS DOUBLE))), (a, b) -> (a + b))
            AS DOUBLE) AS perimeter,
       (list_reduce(list_transform(e, ed ->
           (CAST(((ed.p).x + (ed.q).x) AS DOUBLE)
            * CAST({cross} AS DOUBLE))), (a, b) -> (a + b))
        / (3.0 * CAST(area2 AS DOUBLE))) AS cx,
       (list_reduce(list_transform(e, ed ->
           (CAST(((ed.p).y + (ed.q).y) AS DOUBLE)
            * CAST({cross} AS DOUBLE))), (a, b) -> (a + b))
        / (3.0 * CAST(area2 AS DOUBLE))) AS cy,
       list_aggregate(list_transform(v, p -> (p).x), 'min') AS min_x,
       list_aggregate(list_transform(v, p -> (p).y), 'min') AS min_y,
       list_aggregate(list_transform(v, p -> (p).x), 'max') AS max_x,
       list_aggregate(list_transform(v, p -> (p).y), 'max') AS max_y
FROM m
ORDER BY poly_id, ring
"""


def q_contours(spark, sf_dir):
    """Density isolines: event pings → res-6 occupancy grid → marching-
    squares contour segments at levels 2 and 5 (raster→vector, the
    converse of heatmap_tiles). Integer-exact end to end — the oracle
    replays the corner-mask aggregation and the 16-case table in pure
    SQL."""
    from osm2geojson_spark.spatial.contour import contour_segments

    ev = _t(spark, sf_dir, "events")
    res = 6
    grid = (
        ev.select(
            C.lon_ix(lon_col(F.col("event_id")), res).alias("ix"),
            C.lat_iy(lat_col(F.col("event_id")), res).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count("*").alias("v"))
    )
    return contour_segments(grid, thresholds=[2, 5])


def _sql_contours() -> str:
    from osm2geojson_spark.spatial.contour import case_values_sql

    res = 6
    ix = C.lon_ix_sql(lon_sql("event_id"), res)
    iy = C.lat_iy_sql(lat_sql("event_id"), res)
    return f"""
WITH grid AS (
  SELECT ({ix}) AS ix, ({iy}) AS iy, COUNT(*) AS v
  FROM events GROUP BY ix, iy),
lv(level) AS (VALUES (2), (5)),
above AS (
  SELECT l.level, g.ix, g.iy FROM grid g, lv l WHERE (g.v >= l.level)),
corners(dx, dy, w) AS (VALUES (0,0,1), (1,0,2), (0,1,4), (1,1,8)),
masks AS (
  SELECT a.level, (a.ix - c.dx) AS bxx, (a.iy - c.dy) AS byy,
         CAST(SUM(c.w) AS INT) AS mask
  FROM above a, corners c
  GROUP BY a.level, bxx, byy
  HAVING (CAST(SUM(c.w) AS INT) != 15)),
cases AS ({case_values_sql()})
SELECT m.level AS level,
       CAST(((m.bxx * 2) + s.x1o) AS BIGINT) AS x1,
       CAST(((m.byy * 2) + s.y1o) AS BIGINT) AS y1,
       CAST(((m.bxx * 2) + s.x2o) AS BIGINT) AS x2,
       CAST(((m.byy * 2) + s.y2o) AS BIGINT) AS y2
FROM masks m JOIN cases s ON (s.mask = m.mask)
"""


_ISO_BUDGETS = (40, 80, 120)


def q_isochrone_contour(spark, sf_dir):
    """Isochrone POLYGON rings — the composition a routing service
    actually serves: frontier SSSP over the grid road network →
    reachability mask per travel budget → marching-squares isolines.
    One trick makes a multi-budget call single-pass: cells carry
    v = −dist and the thresholds are −budget, so "v ≥ level" ⟺
    "dist ≤ budget" and all three rings fall out of ONE
    contour_segments invocation. Oracle = pyref Dijkstra distances as a
    literal CTE feeding the same pure-SQL case-table marching squares
    the contours oracle uses — the geometry side is genuinely
    cross-engine."""
    from osm2geojson_spark.spatial.contour import contour_segments
    from osm2geojson_spark.spatial.route import grid_edges, shortest_paths

    dist = shortest_paths(grid_edges(spark, _ROUTE_N), 0)
    cells = dist.select(
        (F.col("node_id") % _ROUTE_N).alias("ix"),
        (F.col("node_id") / _ROUTE_N).cast("long").alias("iy"),
        (-F.col("dist")).alias("v"),
    )
    return contour_segments(cells, [-b for b in _ISO_BUDGETS])


def _sql_isochrone_contour() -> str:
    from osm2geojson_spark import pyref
    from osm2geojson_spark.spatial.contour import case_values_sql

    dist_values = pyref.values_sql(
        pyref.ref_shortest_paths(_ROUTE_N),
        [("node_id", "BIGINT"), ("dist", "BIGINT")])
    lv = ", ".join(f"({-b})" for b in _ISO_BUDGETS)
    return f"""
WITH d AS ({dist_values}),
cells AS (
  SELECT (node_id % {_ROUTE_N}) AS ix, (node_id // {_ROUTE_N}) AS iy,
         (0 - dist) AS v
  FROM d),
lv(level) AS (VALUES {lv}),
above AS (
  SELECT l.level, c.ix, c.iy FROM cells c, lv l WHERE (c.v >= l.level)),
corners(dx, dy, w) AS (VALUES (0,0,1), (1,0,2), (0,1,4), (1,1,8)),
masks AS (
  SELECT a.level, (a.ix - c.dx) AS bxx, (a.iy - c.dy) AS byy,
         CAST(SUM(c.w) AS INT) AS mask
  FROM above a, corners c
  GROUP BY a.level, bxx, byy
  HAVING (CAST(SUM(c.w) AS INT) != 15)),
cases AS ({case_values_sql()})
SELECT m.level AS level,
       CAST(((m.bxx * 2) + s.x1o) AS BIGINT) AS x1,
       CAST(((m.byy * 2) + s.y1o) AS BIGINT) AS y1,
       CAST(((m.bxx * 2) + s.x2o) AS BIGINT) AS x2,
       CAST(((m.byy * 2) + s.y2o) AS BIGINT) AS y2
FROM masks m JOIN cases s ON (s.mask = m.mask)
"""


def q_polyfill(spark, sf_dir):
    """Polygon → covering cell set (H3-polyfill shape): the five region
    boxes PLUS a non-convex star polygon with a hole, filled at res 6 —
    cells whose CENTER is inside (even-odd, holes subtracted). The bbox
    lattice explodes as nested JVM sequences (no driver loop, no join —
    each candidate tests against its own polygon via the broadcast
    Arrow ray-cast). Oracle = the same kernel replayed Spark-free."""
    from osm2geojson_spark import pyref
    from osm2geojson_spark.spatial.pip import polyfill

    boxes = region_boxes(_t(spark, sf_dir, "region"))
    star_ring = [{"lon": x, "lat": y} for x, y in pyref.POLYFILL_STAR]
    star_hole = [[{"lon": x, "lat": y} for x, y in pyref.POLYFILL_HOLE]]
    star = spark.createDataFrame(
        [(100, star_ring, star_hole)],
        "poly_id long, ring array<struct<lon:double,lat:double>>, "
        "holes array<array<struct<lon:double,lat:double>>>")
    polys = boxes.withColumn(
        "holes",
        F.lit(None).cast("array<array<struct<lon:double,lat:double>>>"),
    ).unionByName(star)
    return polyfill(polys, res=6).select(
        F.col("poly_id").cast("long").alias("poly_id"), "cell", "ix", "iy")


def _sql_polyfill() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_polyfill([0, 1, 2, 3, 4], res=6)
    return pyref.values_sql(
        rows, [("poly_id", "BIGINT"), ("cell", "BIGINT"),
               ("ix", "BIGINT"), ("iy", "BIGINT")])


_RDP_EPS = 20.0


def q_simplify_paths(spark, sf_dir):
    """Per-zoom geometry simplification made driver-visible: per-user
    ordered GPS paths → RDP keep-mask (vectorized span kernel, Arrow
    UDF — simplify runs WHERE the geometry already is, no extra
    shuffle after the path groupBy) → exploded (user_id, pos, x, y)
    vertices. Oracle = the same kernel applied Spark-free per user
    (pyref literal table — the heatmap/zonal reuse pattern; kernel
    correctness itself is pinned by the hypothesis property tests in
    tests/test_simplify.py)."""
    from osm2geojson_spark.spatial.simplify import simplified_nodes_udf

    ev = _t(spark, sf_dir, "events")
    pt = F.struct(
        F.col("ts").alias("ts"), F.col("event_id").alias("o"),
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
    )
    paths = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(pt)).alias("path"))
        .select(
            "user_id",
            F.transform(
                F.col("path"),
                lambda p: F.struct(p["lon"].alias("lon"),
                                   p["lat"].alias("lat"))).alias("nodes"),
        )
    )
    simp = simplified_nodes_udf(_RDP_EPS)
    out = paths.select("user_id", simp(F.col("nodes")).alias("sn"))
    return out.select(
        "user_id", F.posexplode("sn").alias("pos", "p")
    ).select(
        "user_id", F.col("pos").cast("int").alias("pos"),
        F.col("p.lon").alias("x"), F.col("p.lat").alias("y"))


def _sql_simplify_paths() -> str:
    from osm2geojson_spark import pyref

    rows = _oracle_parquet("events", ["user_id", "event_id", "ts"])
    ref = pyref.ref_simplify_paths(rows, _RDP_EPS)
    return pyref.values_sql(
        ref, [("user_id", "BIGINT"), ("pos", "INT"),
              ("x", "DOUBLE"), ("y", "DOUBLE")])


_IDW_RES = 6


def q_idw_smooth(spark, sf_dir):
    """IDW spatial interpolation: event samples (value = deterministic
    int-derived field) → per-occupied-cell inverse-distance-weighted
    estimate of the cell center from the 3×3 neighborhood. Constant
    9× explode + one equi-join + ONE grouping shuffle; float weight
    sums are made engine-exact by folding in sample-id order
    (F.aggregate == DuckDB list_reduce — the trajectory_stats
    discipline), so this oracle is a TRUE cross-engine double-precision
    replay, not a literal table."""
    from osm2geojson_spark.spatial.interpolate import idw_smooth

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("sample_id"),
        lon_col(F.col("event_id")).alias("lon"),
        lat_col(F.col("event_id")).alias("lat"),
        ((F.col("event_id") * 13) % 1000).cast("double").alias("v"),
    )
    return idw_smooth(pts, value_col="v", res=_IDW_RES)


def _sql_idw_smooth() -> str:
    res = _IDW_RES
    n = 1 << res
    six = C.lon_ix_sql(lon_sql("event_id"), res)
    siy = C.lat_iy_sql(lat_sql("event_id"), res)
    cell = C.cell_from_ixiy_sql("tix", "tiy")
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1)
                     for dy in (-1, 0, 1))
    return f"""
WITH samples AS (
  SELECT event_id AS o,
         ({lon_sql('event_id')}) AS x, ({lat_sql('event_id')}) AS y,
         CAST(((event_id * 13) % 1000) AS DOUBLE) AS v,
         ({six}) AS six, ({siy}) AS siy
  FROM events),
occupied AS (SELECT DISTINCT six AS tix, siy AS tiy FROM samples),
offs(dx, dy) AS (VALUES {offs}),
cand AS (
  SELECT s.o, s.x, s.y, s.v,
         (s.six + f.dx) AS tix, (s.siy + f.dy) AS tiy
  FROM samples s, offs f
  WHERE ((s.six + f.dx) >= 0) AND ((s.six + f.dx) < {n})
    AND ((s.siy + f.dy) >= 0) AND ((s.siy + f.dy) < {n})),
hit AS (
  SELECT c.* FROM cand c
  JOIN occupied t ON ((c.tix = t.tix) AND (c.tiy = t.tiy))),
wts AS (
  SELECT tix, tiy, o, v,
         (1.0 / ((((x - ((((CAST(tix AS DOUBLE) + 0.5) / {float(n)!r}) * 360.0) - 180.0))
                   * (x - ((((CAST(tix AS DOUBLE) + 0.5) / {float(n)!r}) * 360.0) - 180.0)))
                  + ((y - ((((CAST(tiy AS DOUBLE) + 0.5) / {float(n)!r}) * 180.0) - 90.0))
                     * (y - ((((CAST(tiy AS DOUBLE) + 0.5) / {float(n)!r}) * 180.0) - 90.0))))
                 + 1e-12)) AS w
  FROM hit),
arrs AS (
  SELECT tix, tiy,
         list(struct_pack(w := w, wv := (w * v)) ORDER BY o ASC) AS arr,
         COUNT(*) AS n_samples
  FROM wts GROUP BY tix, tiy),
folded AS (
  SELECT tix, tiy, n_samples,
         list_reduce(arr, (a, b) -> struct_pack(
             w := ((a).w + (b).w), wv := ((a).wv + (b).wv))) AS f
  FROM arrs)
SELECT ({cell}) AS cell, tix, tiy,
       CAST(n_samples AS BIGINT) AS n_samples,
       ((f).wv / (f).w) AS idw
FROM folded
"""


def q_convex_hull(spark, sf_dir):
    """Distributed convex hull (coverage footprint): event pings in
    integer microdegrees → per-partition partial hulls (mapInPandas, a
    few dozen vertices out of the whole partition) → one merge of the
    tiny partials. Hull-of-hulls == hull-of-all is exact because every
    turn predicate is an int64 cross product — no floats anywhere — and
    the oracle is the SINGLE-PASS pyref hull over the same ints, so a
    value match also proves the algebraic-aggregate decomposition."""
    from osm2geojson_spark.spatial.hull import convex_hull

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * F.lit(_LON_MUL)) % F.lit(360_000_000))
        .alias("x"),
        ((F.col("event_id") * F.lit(_LAT_MUL) + F.lit(_LAT_OFF))
         % F.lit(170_000_000)).alias("y"),
    )
    return convex_hull(pts)


def _sql_convex_hull() -> str:
    from osm2geojson_spark import pyref

    ids = [r[0] for r in _oracle_parquet("events", ["event_id"])]
    pts = [((k * _LON_MUL) % 360_000_000,
            (k * _LAT_MUL + _LAT_OFF) % 170_000_000) for k in ids]
    rows = pyref.ref_convex_hull(pts)
    return pyref.values_sql(
        rows, [("pos", "INT"), ("x", "BIGINT"), ("y", "BIGINT")])


_ROUTE_N = 24  # grid road network side; 576 nodes / 2,208 directed edges
_ROUTE_TARGET = _ROUTE_N * _ROUTE_N - 1  # far corner


def q_shortest_paths(spark, sf_dir):
    """Distributed single-source shortest paths (routing) over the
    deterministic 24×24 grid road network: frontier Bellman-Ford —
    one frontier⋈edges join + min partial-agg per round, localCheckpoint
    lineage truncation, driver sees one count per round. Exact integer
    distances; oracle = heap Dijkstra (pyref, an INDEPENDENT algorithm)
    inlined as a literal table. Graph size is fixed by the oracle, so
    sf_dir is unused (routing cost scales with the road graph, not the
    fact tables)."""
    from osm2geojson_spark.spatial.route import grid_edges, shortest_paths

    return shortest_paths(grid_edges(spark, _ROUTE_N), 0)


def _sql_shortest_paths() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_shortest_paths(_ROUTE_N)
    return pyref.values_sql(rows, [("node_id", "BIGINT"), ("dist", "BIGINT")])


def q_sssp_delta(spark, sf_dir):
    """Δ-stepping SSSP (bucketed block fusion): same converged output as
    ``shortest_paths`` but each barrier runs an exact heap Dijkstra
    inside every active graph block (cogrouped Arrow kernel) and only
    block-crossing relaxations shuffle — rounds collapse from O(diameter
    in hops) to O(diameter in blocks), the scale fix for the frontier
    version's round-barrier ceiling on high-diameter road graphs. Same
    independent pyref heap-Dijkstra literal oracle; exercised here with
    6×6 blocks AND a finite bucket width so both the fusion and the
    Δ-bucket paths are under the value-exact gate."""
    from osm2geojson_spark.spatial.route import (
        grid_block_part,
        grid_edges,
        shortest_paths_delta,
    )

    return shortest_paths_delta(
        grid_edges(spark, _ROUTE_N), 0,
        part=grid_block_part(_ROUTE_N, 6), delta=25)


_ASTAR_TGT = 155  # off-diagonal target so goal-direction has a corridor


def q_astar_route(spark, sf_dir):
    """Goal-directed point-to-point routing: ALT A* (corner landmarks,
    one-sided directed triangle-inequality bounds) run as f-bucketed
    best-first frontier expansion — expansion hugs the source→target
    corridor instead of flooding the SSSP ball, and termination is
    fmin ≥ incumbent. Exactness pinned here against the independent
    heap-Dijkstra literal (the routing-family oracle); the
    fewer-relaxations property is pinned in tests/test_astar.py."""
    from osm2geojson_spark.spatial.route import (
        astar_route,
        grid_edges,
        landmark_dist_table,
    )

    n = _ROUTE_N
    edges = grid_edges(spark, n)
    lms = [0, n - 1, n * (n - 1), n * n - 1]
    lt = landmark_dist_table(edges, lms)
    return astar_route(edges, 0, _ASTAR_TGT, lt, lms)


def _sql_astar_route() -> str:
    from osm2geojson_spark import pyref

    rows = [r for r in pyref.ref_shortest_paths(_ROUTE_N)
            if r[0] == _ASTAR_TGT]
    return pyref.values_sql(rows,
                            [("node_id", "BIGINT"), ("dist", "BIGINT")])


def q_route_path(spark, sf_dir):
    """Route reconstruction: SSSP → deterministic predecessor tree
    (pred[v] = MIN u with dist[u]+w == dist[v], a property of the OUTPUT
    so any correct SSSP agrees) → pointer-doubling path materialization
    (O(log L) rounds: jump table squares, known prefix doubles — never a
    driver loop over path rows). Output (pos, node_id) target→source."""
    from osm2geojson_spark.spatial.route import (
        grid_edges,
        reconstruct_route,
        route_predecessors,
        shortest_paths,
    )

    e = grid_edges(spark, _ROUTE_N)
    dist = shortest_paths(e, 0)
    pred = route_predecessors(e, dist)
    return reconstruct_route(pred, 0, _ROUTE_TARGET)


def _sql_route_path() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_route(_ROUTE_N, 0, _ROUTE_TARGET)
    return pyref.values_sql(rows, [("pos", "BIGINT"), ("node_id", "BIGINT")])


def q_isochrone(spark, sf_dir):
    """Isochrone rollup: SSSP distances bucketed into travel-cost bands
    (band = dist // 10) with node counts and band extents — the
    reachability summary a routing service renders. One map-side
    partial agg over the converged dist table."""
    from osm2geojson_spark.spatial.route import (
        grid_edges,
        isochrone_bands,
        shortest_paths,
    )

    return isochrone_bands(shortest_paths(grid_edges(spark, _ROUTE_N), 0), 10)


def _sql_isochrone() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_shortest_paths(_ROUTE_N)
    return f"""
WITH d(node_id, dist) AS ({pyref.values_sql(rows, [("node_id", "BIGINT"), ("dist", "BIGINT")])})
SELECT CAST(dist // 10 AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(dist) AS min_dist, MAX(dist) AS max_dist
FROM d GROUP BY band
"""


_ROUTE_DEPOTS = [0, 23, 552, 575]  # the four grid corners


def q_catchment(spark, sf_dir):
    """Nearest-facility catchment: batched multi-source SSSP (all four
    depots expand in the SAME rounds/shuffles, keyed (src, node) — one
    traversal, not four) → per-node argmin over sources as a single
    struct-min aggregate (map-side combinable, no window). Oracle =
    per-source heap Dijkstra + the same min(dist, src) tie rule."""
    from osm2geojson_spark.spatial.route import (
        catchment_assign,
        grid_edges,
        travel_time_matrix,
    )

    m = travel_time_matrix(grid_edges(spark, _ROUTE_N), _ROUTE_DEPOTS)
    return catchment_assign(m)


def q_catchment_delta(spark, sf_dir):
    """Catchment over the BLOCK-FUSED multi-source SSSP
    (travel_time_matrix_delta): all depots expand through per-block heap
    Dijkstra kernels in the (source, node) product space, so the rounds
    collapse from O(diameter in hops) to O(diameter in blocks) while the
    argmin assignment and the per-source Dijkstra oracle stay identical
    to ``catchment`` — both the batched-frontier and the fused paths are
    under the same value-exact gate."""
    from osm2geojson_spark.spatial.route import (
        catchment_assign,
        grid_block_part,
        grid_edges,
        travel_time_matrix_delta,
    )

    m = travel_time_matrix_delta(
        grid_edges(spark, _ROUTE_N), _ROUTE_DEPOTS,
        part=grid_block_part(_ROUTE_N, 6))
    return catchment_assign(m)


def _sql_catchment() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_catchment(_ROUTE_N, _ROUTE_DEPOTS)
    return pyref.values_sql(
        rows, [("node_id", "BIGINT"), ("nearest_src", "BIGINT"),
               ("dist", "BIGINT")])


def q_pagerank(spark, sf_dir):
    """Deterministic integer PageRank over the grid road network —
    large-graph ranking completing the CC (dup_clusters) + SSSP trio.
    Integer mass diffusion (floor divisions, `div` not `/`) makes the
    per-node sums order-independent, so the ranks are bit-identical
    across engines and partitionings; mass/1e12 == float PageRank to
    1e-6 (pinned in tests/test_graph.py). One mass⋈edges join + one
    integer-sum shuffle per iteration, dup_clusters loop discipline."""
    from osm2geojson_spark.operators.graph import pagerank
    from osm2geojson_spark.spatial.route import grid_edges

    return pagerank(grid_edges(spark, _ROUTE_N), n_iters=10)


def _sql_pagerank() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_pagerank(
        [(u, v) for u, v, _ in pyref.grid_graph(_ROUTE_N)], n_iters=10)
    return pyref.values_sql(
        rows, [("node_id", "BIGINT"), ("mass", "BIGINT")])


_FOCAL_T, _FOCAL_TILES = 32, 3  # 96x96 DEM in 9 tiles


def q_focal_sum(spark, sf_dir):
    """Tiled-raster focal 3×3 sum via HALO EXCHANGE (spatial/focal.py):
    every DEM tile ships its 4 edge strips + 4 corner pixels to the 8
    neighbor keys (a 1.13× shuffle at T=32, →1.0 as T grows), one
    uniform shuffle groups tile+halo, and an Arrow kernel pads and
    convolves — the classic distributed raster pattern; no executor
    ever sees more than one tile + 8 strips. Edge replication at the
    raster boundary == coordinate clamping, which is exactly what lets
    the oracle compute every pixel CLOSED-FORM (the synthetic DEM is an
    int expression — 9 clamped terms, no join): two maximally different
    execution paths meeting at exact int64 values."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    out = focal_op(tiles, op="sum3", tile_size=t)
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "focal"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            "focal")
        .orderBy("y", "x"))


def _sql_focal_sum() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    terms = " + ".join(v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y)
SELECT x, y, ({terms}) AS focal
FROM xs, ys
ORDER BY y, x
"""


def q_morph_raster(spark, sf_dir):
    """Grayscale morphology (erosion / dilation / morphological
    gradient, 3×3 square structuring element) over the tiled DEM via
    the SAME halo exchange as focal_sum — erosion is focal min,
    dilation focal max, gradient their difference (the classic edge
    detector for segmentation masks). Two focal passes over the same
    synthesized tiles joined on (tx, ty), arrays zipped pixel-wise —
    no second scan of any source. Oracle = LEAST / GREATEST over the
    9 clamped closed-form DEM terms, no join (the focal_sum
    discipline: two maximally different paths, exact int64)."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = persist(synth_dem_tiles(
        spark, _FOCAL_TILES, _FOCAL_TILES, t))
    ero = focal_op(tiles, op="min3", tile_size=t).withColumnRenamed(
        "data", "ero")
    dil = focal_op(tiles, op="max3", tile_size=t).withColumnRenamed(
        "data", "dil")
    out = (
        ero.join(dil, ["tx", "ty"])
        .select("tx", "ty", F.posexplode(
            F.zip_with("ero", "dil",
                       lambda e, d: F.struct(e.alias("e"), d.alias("d"))))
            .alias("i", "p"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            F.col("p.e").alias("erode"),
            F.col("p.d").alias("dilate"),
            (F.col("p.d") - F.col("p.e")).alias("gradient"))
        .orderBy("y", "x"))
    return out


def _sql_morph_raster() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    terms = ", ".join(v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y)
SELECT x, y, least({terms}) AS erode, greatest({terms}) AS dilate,
       (greatest({terms}) - least({terms})) AS gradient
FROM xs, ys
ORDER BY y, x
"""


_SAT_K = 3  # box-filter radius for the catalog entry


def _sat_value_np(gx, gy):
    # polynomial raster: its 2-D prefix sum has a CLOSED FORM, so the
    # oracle needs no join and no window — pure per-pixel arithmetic
    return 3 * gx + 5 * gy + 7 + gx * gy


def _sat_closed_form(a: str, b: str) -> str:
    """DuckDB closed-form inclusive SAT of ``_sat_value_np`` at (a, b):
    Σ_{x≤a, y≤b} (3x + 5y + 7 + xy) with triangular numbers Ta, Tb."""
    ta = f"((({a}) * (({a}) + 1)) // 2)"
    tb = f"((({b}) * (({b}) + 1)) // 2)"
    return (f"((3 * {ta} * (({b}) + 1)) + (5 * {tb} * (({a}) + 1))"
            f" + (7 * (({a}) + 1) * (({b}) + 1)) + ({ta} * {tb}))")


def q_integral_image(spark, sf_dir):
    """Distributed summed-area table over tiled rasters
    (spatial/sat.py): per-tile local SATs + two per-LINE exclusive
    window sums (tiles×T rows each, never the full raster) + a 2-D
    exclusive prefix over the tiny tile-totals grid, combined in PURE
    CODEGEN (transform with a[i div T] + b[i mod T] + c). The synth
    raster is a polynomial whose 2-D prefix sum has a closed form, so
    the oracle is join-free per-pixel arithmetic — two maximally
    different paths meeting at exact int64 (the focal_sum discipline,
    but for a GLOBAL cumulative statistic, not a local window)."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.sat import integral_image_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(
        spark, _FOCAL_TILES, _FOCAL_TILES, t, value_fn=_sat_value_np)
    out = integral_image_tiles(tiles, t)
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "sat"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            "sat")
        .orderBy("y", "x"))


def _sql_integral_image() -> str:
    w = _FOCAL_T * _FOCAL_TILES
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y)
SELECT x, y, {_sat_closed_form('x', 'y')} AS sat
FROM xs, ys
ORDER BY y, x
"""


def q_box_filter(spark, sf_dir):
    """Radius-k box sum in O(1) per pixel from the distributed SAT —
    the payoff primitive (adaptive thresholding, Haar features,
    variance maps all reduce to it). The 4 SAT corners are fetched by
    a (k+1)-wide halo exchange (the far corner is the EXCLUSIVE
    S(r-k-1, c-k-1)); borders are zero above/left of the raster and
    edge-replicated right/below == window clamping, so the oracle is
    4 clamped closed-form SAT terms with CASE-zeroed negative args —
    still join-free."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.sat import (
        box_filter_tiles,
        integral_image_tiles,
    )

    t = _FOCAL_T
    tiles = synth_dem_tiles(
        spark, _FOCAL_TILES, _FOCAL_TILES, t, value_fn=_sat_value_np)
    sat = integral_image_tiles(tiles, t)
    out = box_filter_tiles(sat, t, _SAT_K, _FOCAL_TILES, _FOCAL_TILES)
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "box"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            "box")
        .orderBy("y", "x"))


def _sql_box_filter() -> str:
    w = _FOCAL_T * _FOCAL_TILES
    k = _SAT_K

    hx = f"least((x + {k}), {w - 1})"
    hy = f"least((y + {k}), {w - 1})"
    lx, ly = f"(x - {k + 1})", f"(y - {k + 1})"
    br = _sat_closed_form(hx, hy)
    tr = f"(CASE WHEN ({ly}) >= 0 THEN {_sat_closed_form(hx, ly)} ELSE 0 END)"
    bl = f"(CASE WHEN ({lx}) >= 0 THEN {_sat_closed_form(lx, hy)} ELSE 0 END)"
    tl = (f"(CASE WHEN (({lx}) >= 0 AND ({ly}) >= 0)"
          f" THEN {_sat_closed_form(lx, ly)} ELSE 0 END)")
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y)
SELECT x, y, (({br}) - ({tr}) - ({bl}) + ({tl})) AS box
FROM xs, ys
ORDER BY y, x
"""


def _sat2_closed_form(a: str, b: str) -> str:
    """DuckDB closed-form inclusive SAT of ``_sat_value_np``² at (a,b):
    f = 7 + 3x + 5y + xy ⇒ f² sums factorize over N/T/Q moments
    (N = a+1, T = a(a+1)/2, Q = a(a+1)(2a+1)/6, both dims)."""
    na, nb = f"(({a}) + 1)", f"(({b}) + 1)"
    ta = f"((({a}) * (({a}) + 1)) // 2)"
    tb = f"((({b}) * (({b}) + 1)) // 2)"
    qa = f"((({a}) * (({a}) + 1) * ((2 * ({a})) + 1)) // 6)"
    qb = f"((({b}) * (({b}) + 1) * ((2 * ({b})) + 1)) // 6)"
    return (f"((49 * {na} * {nb}) + (9 * {qa} * {nb}) + (25 * {na} * {qb})"
            f" + ({qa} * {qb}) + (42 * {ta} * {nb}) + (70 * {na} * {tb})"
            f" + (44 * {ta} * {tb}) + (6 * {qa} * {tb})"
            f" + (10 * {ta} * {qb}))")


def _sql_box_corner_sum(sat_form, k: int, w: int) -> str:
    """4-corner box expression from a closed-form SAT generator:
    clamped high corners, CASE-zeroed negative exclusive corners."""
    hx, hy = f"least((x + {k}), {w - 1})", f"least((y + {k}), {w - 1})"
    lx, ly = f"(x - {k + 1})", f"(y - {k + 1})"
    br = sat_form(hx, hy)
    tr = f"(CASE WHEN ({ly}) >= 0 THEN {sat_form(hx, ly)} ELSE 0 END)"
    bl = f"(CASE WHEN ({lx}) >= 0 THEN {sat_form(lx, hy)} ELSE 0 END)"
    tl = (f"(CASE WHEN (({lx}) >= 0 AND ({ly}) >= 0)"
          f" THEN {sat_form(lx, ly)} ELSE 0 END)")
    return f"(({br}) - ({tr}) - ({bl}) + ({tl}))"


def q_box_variance(spark, sf_dir):
    """Local variance map — the adaptive-threshold / NCC-normalization
    primitive: per pixel over the radius-k window ∩ raster, window
    pixel count n (pure codegen closed form), Σv, and the EXACT
    integer variance numerator n·Σv² − (Σv)² (no division, no floats;
    ≥ 0 by Cauchy-Schwarz). Two SAT+box pipelines (values and the
    codegen-squared raster) joined on (tx, ty). Oracle: the squared
    polynomial's prefix sum also factorizes over N/T/Q moment closed
    forms, so both Σ terms stay join-free per-pixel arithmetic."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.sat import box_stats_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(
        spark, _FOCAL_TILES, _FOCAL_TILES, t, value_fn=_sat_value_np)
    out = box_stats_tiles(tiles, t, _SAT_K, _FOCAL_TILES, _FOCAL_TILES)
    return (
        out.select(
            "tx", "ty",
            F.posexplode(F.arrays_zip("n", "s1", "s2")).alias("i", "z"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            F.col("z.n").alias("n"), F.col("z.s1").alias("s1"),
            (F.col("z.n") * F.col("z.s2") - F.col("z.s1") * F.col("z.s1"))
            .alias("varnum"))
        .orderBy("y", "x"))


def _sql_box_variance() -> str:
    w = _FOCAL_T * _FOCAL_TILES
    k = _SAT_K
    s1 = _sql_box_corner_sum(_sat_closed_form, k, w)
    s2 = _sql_box_corner_sum(_sat2_closed_form, k, w)
    n = (f"((least((x + {k}), {w - 1}) - greatest((x - {k}), 0) + 1)"
         f" * (least((y + {k}), {w - 1}) - greatest((y - {k}), 0) + 1))")
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y)
SELECT x, y, {n} AS n, {s1} AS s1,
       (({n} * {s2}) - ({s1} * {s1})) AS varnum
FROM xs, ys
ORDER BY y, x
"""


def q_wkt_roundtrip(spark, sf_dir):
    """WKT interop on the integer microdegree lattice (float→text is
    the classic cross-engine formatting trap; int64→text is identical
    everywhere): per-user event LINESTRINGs + per-nation octagon-with-
    hole POLYGONs encode through PURE-CODEGEN nested string builds
    (zero Python on the write path), parse back through the Arrow WKT
    reader, and must re-encode to the identical string. The oracle
    rebuilds the same strings with DuckDB list functions — the text
    itself is the value under the hash."""
    from osm2geojson_spark.functions.wkt import (
        wkt_linestring_expr,
        wkt_parse_udf,
        wkt_polygon_expr,
    )

    parse = wkt_parse_udf()

    ev = _t(spark, sf_dir, "events")
    lines = (
        ev.select(
            "user_id", "ts", "event_id",
            ((F.col("event_id") * F.lit(_LON_MUL)) % F.lit(300_000_000)
             - F.lit(150_000_000)).alias("x"),
            ((F.col("event_id") * F.lit(_LAT_MUL)) % F.lit(120_000_000)
             - F.lit(60_000_000)).alias("y"))
        .repartition("user_id")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(
            F.struct("ts", "event_id", "x", "y"))).alias("vraw"))
        .where(F.size("vraw") >= 2)
        .select(
            F.col("user_id").alias("gid"),
            F.transform("vraw", lambda s: F.struct(
                s["x"].alias("x"), s["y"].alias("y"))).alias("pts"))
        .select("gid", wkt_linestring_expr(F.col("pts")).alias("wkt")))

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"))
    cx = (F.col("k") * F.lit(_LON_MUL)) % F.lit(300_000_000) \
        - F.lit(150_000_000)
    cy = (F.col("k") * F.lit(_LAT_MUL) + F.lit(_LAT_OFF)) \
        % F.lit(120_000_000) - F.lit(60_000_000)
    sq = (F.lit(10) + (F.col("k") % F.lit(4)) * F.lit(6)) * F.lit(250_000)

    def _ring(shape):
        return F.array(*[
            F.struct((cx + sq * F.lit(ox)).alias("x"),
                     (cy + sq * F.lit(oy)).alias("y"))
            for ox, oy in shape])

    polys = nat.select(
        (F.col("k") + F.lit(100_000)).alias("gid"),
        wkt_polygon_expr(
            F.array(_ring(_MEAS_OCT), _ring(_MEAS_HOLE))).alias("wkt"))

    both = lines.unionAll(polys).withColumn("p", parse(F.col("wkt")))
    reenc = F.when(
        F.col("p.geom_type") == "LINESTRING",
        wkt_linestring_expr(F.element_at(F.col("p.rings"), 1)),
    ).otherwise(wkt_polygon_expr(F.col("p.rings")))
    return both.select(
        "gid", "wkt",
        F.col("p.geom_type").alias("geom_type"),
        F.when(F.col("p.geom_type") == "LINESTRING",
               F.size(F.element_at(F.col("p.rings"), 1)))
        .otherwise(F.aggregate(
            F.col("p.rings"), F.lit(0),
            lambda a, r: a + F.size(r) + 1)).alias("n_points"),
        (reenc == F.col("wkt")).alias("roundtrip_ok"),
    ).orderBy("gid")


def _sql_wkt_roundtrip() -> str:
    off_rows = ", ".join(
        f"({r}, {p}, {ox}, {oy})"
        for r, shape in ((0, _MEAS_OCT), (1, _MEAS_HOLE))
        for p, (ox, oy) in enumerate(shape))
    xy = "(CAST((p).x AS VARCHAR) || ' ' || CAST((p).y AS VARCHAR))"
    return f"""
WITH lv AS (
  SELECT user_id,
         list(struct_pack(
                x := ((event_id * {_LON_MUL}) % 300000000) - 150000000,
                y := ((event_id * {_LAT_MUL}) % 120000000) - 60000000)
              ORDER BY ts ASC, event_id ASC) AS pts
  FROM events GROUP BY user_id),
lines AS (
  SELECT user_id AS gid,
         ('LINESTRING ('
          || array_to_string(list_transform(pts, p -> {xy}), ', ')
          || ')') AS wkt,
         'LINESTRING' AS geom_type,
         CAST(len(pts) AS INT) AS n_points
  FROM lv WHERE (len(pts) >= 2)),
off(ring, pos, ox, oy) AS (VALUES {off_rows}),
base AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
pverts AS (
  SELECT k, off.ring AS ring, off.pos AS pos,
         ((((k * {_LON_MUL}) % 300000000) - 150000000)
          + (((10 + ((k % 4) * 6)) * 250000) * ox)) AS x,
         ((((k * {_LAT_MUL} + {_LAT_OFF}) % 120000000) - 60000000)
          + (((10 + ((k % 4) * 6)) * 250000) * oy)) AS y
  FROM base, off),
prings AS (
  SELECT k, ring,
         list(struct_pack(x := x, y := y) ORDER BY pos ASC) AS v
  FROM pverts GROUP BY k, ring),
ptexts AS (
  SELECT k, ring,
         ('(' || array_to_string(
            list_transform(list_append(v, v[1]), p -> {xy}), ', ')
          || ')') AS rt,
         len(v) AS nv
  FROM prings),
polys AS (
  SELECT (k + 100000) AS gid,
         ('POLYGON (' || array_to_string(
            list(rt ORDER BY ring ASC), ', ') || ')') AS wkt,
         'POLYGON' AS geom_type,
         CAST(SUM(nv + 1) AS INT) AS n_points
  FROM ptexts GROUP BY k)
SELECT gid, wkt, geom_type, n_points, TRUE AS roundtrip_ok
FROM (SELECT * FROM lines UNION ALL SELECT * FROM polys)
ORDER BY gid
"""


def q_hillshade(spark, sf_dir):
    """Horn (1981) hillshade over the tiled DEM through the SAME halo
    exchange as focal_sum — float gradients with whole-array numpy op
    order, so the shade bytes are deterministic and the Spark-free
    pyref twin (identical kernel over the full padded grid, sliced per
    tile) meets them exactly. Output = per-tile shade hex + integer
    checksum."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    out = focal_op(tiles, op="hillshade", tile_size=t)
    return out.select(
        "tx", "ty",
        F.concat_ws("", F.transform(
            "data", lambda v: F.lpad(F.hex(v), 2, "0"))).alias("shade_hex"),
        F.aggregate("data", F.lit(0).cast("long"),
                    lambda a, v: a + v).alias("shade_sum"),
    ).orderBy("ty", "tx")


def _sql_hillshade() -> str:
    import numpy as np

    from osm2geojson_spark import pyref
    from osm2geojson_spark.spatial.focal import dem_value_np, focal_reference

    t, nt = _FOCAL_T, _FOCAL_TILES
    gx = np.arange(nt * t, dtype=np.int64)[None, :]
    gy = np.arange(nt * t, dtype=np.int64)[:, None]
    full = focal_reference(dem_value_np(gx, gy), op="hillshade")
    rows = []
    for ty in range(nt):
        for tx in range(nt):
            shade = full[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
            rows.append((tx, ty,
                         bytes(shade.astype(np.uint8).ravel()).hex().upper(),
                         int(shade.sum())))
    return pyref.values_sql(
        rows, [("tx", "BIGINT"), ("ty", "BIGINT"),
               ("shade_hex", "VARCHAR"), ("shade_sum", "BIGINT")])


def q_flow_dir(spark, sf_dir):
    """D8 steepest-descent flow direction (the hydrology primitive
    under watershed/flow-accumulation) as a focal op on the halo-
    exchange substrate: per cell, the steepest positive drop among 8
    neighbors with the exact rational √2 weighting (drop·99 straight
    vs drop·70 diagonal — pure int64, so the tie-broken argmax is
    deterministic) → ESRI direction codes, 0 for pits/flats. Oracle =
    the same comparison chain evaluated CLOSED-FORM on clamped
    coordinates (no join, no exchange — maximally different path)."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    out = focal_op(tiles, op="flowdir8", tile_size=t)
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "dir"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            "dir")
        .orderBy("y", "x"))


def _sql_flow_dir() -> str:
    from osm2geojson_spark.spatial.focal import _D8

    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    scores = [f"(({v(0, 0)} - {v(dx, dy)}) * {wt})"
              for dx, dy, _code, wt in _D8]
    names = [f"s{i}" for i in range(8)]
    sel = ", ".join(f"{s} AS {n}" for s, n in zip(scores, names))
    gmax = f"greatest({', '.join(names)})"
    chain = " ".join(
        f"WHEN ({n} = gm) THEN {code}"
        for n, (_dx, _dy, code, _wt) in zip(names, _D8))
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
sc AS (SELECT x, y, {sel} FROM xs, ys),
g AS (SELECT x, y, s0, s1, s2, s3, s4, s5, s6, s7, {gmax} AS gm FROM sc)
SELECT x, y,
       (CASE WHEN (gm <= 0) THEN 0 {chain} END) AS dir
FROM g
ORDER BY y, x
"""


def q_dem_crosstab(spark, sf_dir):
    """Raster reclassify × categorical cross-tabulation (the GIS
    "tabulate area" op): elevation class (dem div 25) against D8 flow
    direction, with per-cell elevation sums — one map-side-combinable
    agg over the focal substrate's flow_dir output; the class comes
    from the SAME closed form both engines share, so the oracle needs
    NO join (the focal-family trick)."""
    dirs = q_flow_dir(spark, sf_dir)  # (x, y, dir); agg discards order
    dem = (((F.col("x") * 73 + F.col("y") * 19) % 100)
           + ((F.col("x") * F.col("x")
               + 3 * (F.col("y") * F.col("y"))) % 7))
    return (dirs.withColumn("dem", dem)
            .groupBy(F.expr("dem div 25").alias("elev_class"), "dir")
            .agg(F.count(F.lit(1)).cast("long").alias("n_cells"),
                 F.sum("dem").cast("long").alias("sum_elev"))
            .orderBy("elev_class", "dir"))


def _sql_dem_crosstab() -> str:
    return f"""
WITH fd AS ({_sql_flow_dir()}),
d AS (
  SELECT x, y, dir,
         (((x * 73 + y * 19) % 100)
          + (((x * x) + 3 * (y * y)) % 7)) AS dem
  FROM fd)
SELECT (dem // 25) AS elev_class, dir,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(dem) AS BIGINT) AS sum_elev
FROM d
GROUP BY (dem // 25), dir
ORDER BY elev_class, dir
"""


_KWIC_TERMS = ("dup", "spark")
_KWIC_W = 3


def q_kwic(spark, sf_dir):
    """Keyword-in-context concordance (search-result snippets) straight
    from the token arrays: every occurrence of the query terms emits a
    ±3-token window — generate + filter + slice, ZERO shuffles (the
    snippet never leaves the doc's partition). Completes the search
    family: build (inverted_index) → rank (bm25) → phrase → snippet."""
    from osm2geojson_spark.functions.text import tokens_expr

    w = _KWIC_W
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_expr(F.col("text")).alias("ts"))
    occ = (toks.select(
        "doc_id", "ts", F.posexplode("ts").alias("pos", "term"))
        .where(F.col("term").isin(*_KWIC_TERMS)))
    start = F.greatest(F.col("pos") + 1 - w, F.lit(1))
    end = F.least(F.col("pos") + 1 + w, F.size("ts"))
    return (occ.select(
        "doc_id", "term", F.col("pos").cast("long").alias("pos"),
        F.array_join(F.slice("ts", start, end - start + 1), " ")
        .alias("snippet"))
        .orderBy("doc_id", "pos"))


def _sql_kwic() -> str:
    terms = ", ".join(f"'{t}'" for t in _KWIC_TERMS)
    w = _KWIC_W
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM documents),
idx AS (
  SELECT doc_id, ts,
         unnest(generate_series(0, (length(ts) - 1))) AS pos
  FROM t WHERE (length(ts) > 0)),
occ AS (
  SELECT doc_id, ts, pos, ts[(pos + 1)] AS term
  FROM idx WHERE (ts[(pos + 1)] IN ({terms})))
SELECT doc_id, term, CAST(pos AS BIGINT) AS pos,
       array_to_string(
         list_slice(ts, GREATEST((pos + 1) - {w}, 1),
                    LEAST((pos + 1) + {w}, length(ts))), ' ') AS snippet
FROM occ
ORDER BY doc_id, pos
"""


_EQD_BUCKETS = 16


def q_equidepth_hist(spark, sf_dir):
    """Equi-depth (equi-height) histogram build over lineitem revenue —
    the optimizer-statistics op: exact global rank via the strpack
    value-bucket machinery (no single-task sort), bucket = (rank−1) div
    ⌈n/B⌉, per-bucket count + exact min/max bounds. Values are exact
    integer cents (decimal × 100), so ranks and bounds are
    engine-identical."""
    from osm2geojson_spark.spatial.strpack import global_rank

    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        # price is DOUBLE in the parquet; ×100 is the same IEEE product
        # in both engines but Spark's long cast truncates while DuckDB's
        # rounds — explicit floor() makes the integerization identical
        F.floor(F.col("l_extendedprice") * 100).alias("cents"))
    n = v.count()
    depth = -(-n // _EQD_BUCKETS)
    ranked = global_rank(v, ["cents", "id"],
                         F.expr("cents div 655360"))
    return (ranked
            .groupBy(F.expr(f"(rank - 1) div {depth}").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.min("cents").alias("lo"), F.max("cents").alias("hi"))
            .orderBy("bucket"))


def _sql_equidepth_hist() -> str:
    b = _EQD_BUCKETS
    return f"""
WITH v AS (
  SELECT (l_orderkey * 10 + l_linenumber) AS id,
         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
k AS (SELECT ((COUNT(*) + {b - 1}) // {b}) AS depth FROM v),
r AS (SELECT v.*, ROW_NUMBER() OVER (ORDER BY cents, id) AS rk FROM v)
SELECT ((r.rk - 1) // k.depth) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(r.cents) AS lo, MAX(r.cents) AS hi
FROM r CROSS JOIN k
GROUP BY ((r.rk - 1) // k.depth)
ORDER BY bucket
"""


def q_flow_accum(spark, sf_dir):
    """Flow accumulation (upstream drainage area) over the D8 forest:
    a distributed DAG aggregation run as TOPOLOGICAL WAVES — each round
    the cells whose upstream totals have all arrived push one edge
    downstream (one join + one integer-sum shuffle per round, SSSP loop
    discipline, O(1) driver rows); rounds = flow-tree depth, bounded by
    the elevation range, not the raster size. Oracle: DuckDB
    recursive-CTE path walk over the same closed-form directions (every
    cell has ≤ 1 outgoing edge, so paths are unique and COUNT(*) per
    reached cell IS the drainage area)."""
    from osm2geojson_spark.spatial.focal import (
        flow_accumulation,
        focal_op,
        synth_dem_tiles,
    )

    t = _FOCAL_T
    w = _FOCAL_T * _FOCAL_TILES
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    dirs = focal_op(tiles, op="flowdir8", tile_size=t)
    return flow_accumulation(dirs, t, w, w).orderBy("cell")


def _sql_flow_accum() -> str:
    from osm2geojson_spark.spatial.focal import _D8

    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    scores = [f"(({v(0, 0)} - {v(dx, dy)}) * {wt})"
              for dx, dy, _code, wt in _D8]
    names = [f"s{i}" for i in range(8)]
    sel = ", ".join(f"{s} AS {n}" for s, n in zip(scores, names))
    gmax = f"greatest({', '.join(names)})"
    chain = " ".join(
        f"WHEN ({n} = gm) THEN {code}"
        for n, (_dx, _dy, code, _wt) in zip(names, _D8))
    dxc = " ".join(f"WHEN {code} THEN {dx}"
                   for dx, _dy, code, _wt in _D8)
    dyc = " ".join(f"WHEN {code} THEN {dy}"
                   for _dx, dy, code, _wt in _D8)
    return f"""
WITH RECURSIVE
xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
sc AS (SELECT x, y, {sel} FROM xs, ys),
g AS (SELECT x, y, s0, s1, s2, s3, s4, s5, s6, s7, {gmax} AS gm FROM sc),
d AS (SELECT x, y,
             (CASE WHEN (gm <= 0) THEN 0 {chain} END) AS dir
      FROM g),
c AS (SELECT ((y * {w}) + x) AS cell,
             (CASE WHEN (dir = 0) THEN NULL ELSE
               ((least(greatest((y + (CASE dir {dyc} ELSE 0 END)), 0),
                       {w - 1}) * {w})
                + least(greatest((x + (CASE dir {dxc} ELSE 0 END)), 0),
                        {w - 1})) END) AS tgt
      FROM d),
walk(start, cur) AS (
  SELECT cell, cell FROM c
  UNION ALL
  SELECT wk.start, c2.tgt FROM walk wk
  JOIN c c2 ON (c2.cell = wk.cur)
  WHERE (c2.tgt IS NOT NULL))
SELECT cur AS cell, COUNT(*) AS acc
FROM walk GROUP BY cur
ORDER BY cell
"""


def q_inverted_index(spark, sf_dir):
    """Distributed search-index build: token positions per (term, doc)
    — posexplode carries the position for free, postings aggregate
    sorted position arrays + tf, and document frequency rides the SAME
    term-partitioned shuffle as a window (no second join). df ≥ 5 keeps
    the tail out of the compare. The DuckDB twin indexes the token list
    by a generated subscript (a different position-derivation path) and
    aggregates ``list(pos ORDER BY pos)``."""
    from pyspark.sql import Window

    from osm2geojson_spark.functions.text import tokens_expr

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(tokens_expr(F.col("text"))).alias("pos", "term"))
    postings = (toks.groupBy("term", "doc_id")
                .agg(F.count(F.lit(1)).alias("tf"),
                     F.sort_array(F.collect_list("pos"))
                     .alias("positions")))
    w = Window.partitionBy("term")
    return (postings
            .withColumn("df", F.count(F.lit(1)).over(w))
            .where(F.col("df") >= 5)
            .select("term", "doc_id",
                    F.col("tf").cast("long").alias("tf"),
                    "positions",
                    F.col("df").cast("long").alias("df"))
            .orderBy("term", "doc_id"))


def _sql_inverted_index() -> str:
    return """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS toks
  FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, (length(toks) - 1))) AS pos
  FROM t WHERE (length(toks) > 0)),
tok AS (SELECT doc_id, pos, toks[(pos + 1)] AS term FROM idx),
postings AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
         list(pos ORDER BY pos) AS positions
  FROM tok GROUP BY term, doc_id),
with_df AS (
  SELECT *, CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
  FROM postings)
SELECT term, doc_id, tf, positions, df
FROM with_df WHERE (df >= 5)
ORDER BY term, doc_id
"""


_PHRASE = ("table", "hash")


def q_phrase_search(spark, sf_dir):
    """Phrase query answered FROM the positional index (not a text
    rescan): postings for the two terms equi-join on doc_id, then the
    adjacency test is ``array_intersect(positions_a + 1, positions_b)``
    — the classic positional-postings merge, here as set algebra the
    JVM vectorizes. Returns matching docs with occurrence counts and
    first match position. Oracle: DuckDB runs the same index-side
    algebra with list_transform/list_intersect over ITS index build."""
    from osm2geojson_spark.functions.text import tokens_expr

    a, b = _PHRASE
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(tokens_expr(F.col("text"))).alias("pos", "term"))
    postings = (toks.where(F.col("term").isin(a, b))
                .groupBy("term", "doc_id")
                .agg(F.sort_array(F.collect_list("pos"))
                     .alias("positions")))
    pa = postings.where(F.col("term") == a).select(
        "doc_id", F.col("positions").alias("pos_a"))
    pb = postings.where(F.col("term") == b).select(
        "doc_id", F.col("positions").alias("pos_b"))
    hits = (pa.join(pb, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform("pos_a", lambda p: p + 1),
                    F.col("pos_b")).alias("m"))
            .where(F.size("m") > 0))
    return (hits.select(
        "doc_id",
        F.size("m").cast("long").alias("n_matches"),
        (F.array_min("m") - 1).cast("long").alias("first_pos"))
        .orderBy("doc_id"))


def _sql_phrase_search() -> str:
    a, b = _PHRASE
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS toks
  FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, (length(toks) - 1))) AS pos
  FROM t WHERE (length(toks) > 0)),
tok AS (SELECT doc_id, pos, toks[(pos + 1)] AS term FROM idx),
pa AS (SELECT doc_id, list(pos ORDER BY pos) AS pos_a FROM tok
       WHERE (term = '{a}') GROUP BY doc_id),
pb AS (SELECT doc_id, list(pos ORDER BY pos) AS pos_b FROM tok
       WHERE (term = '{b}') GROUP BY doc_id),
hits AS (
  SELECT pa.doc_id AS doc_id,
         list_intersect(list_transform(pa.pos_a, p -> (p + 1)), pb.pos_b)
           AS m
  FROM pa JOIN pb ON (pb.doc_id = pa.doc_id))
SELECT doc_id, CAST(length(m) AS BIGINT) AS n_matches,
       CAST((list_min(m) - 1) AS BIGINT) AS first_pos
FROM hits WHERE (length(m) > 0)
ORDER BY doc_id
"""


_BM25_TERMS = ("dup", "merge", "spark")


def q_bm25_topk(spark, sf_dir):
    """Ranked retrieval on the postings the inverted-index op builds:
    ratio-BM25 (k1=6/5, b=3/4 as exact rationals — the idf log replaced
    by its rational argument, the lm_score determinism move). Every
    factor is one IEEE division of exact int64 products and the per-doc
    term sum is an ordered fold, so scores are bit-identical in DuckDB.
    Only the token scan is corpus-sized; postings for the 3-term query
    are tiny and df/corpus stats broadcast."""
    from osm2geojson_spark.operators.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), list(_BM25_TERMS), limit=50)


def _sql_bm25_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM documents),
d AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, ts FROM t
      WHERE (len(ts) >= 1)),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(dl) AS BIGINT) AS l_total FROM d),
tok AS (SELECT doc_id, unnest(ts) AS w FROM d),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       WHERE (w IN ({terms})) GROUP BY doc_id, w),
dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
sc AS (
  SELECT tf.doc_id AS doc_id, tf.w AS w,
         ((CAST((2 * st.n_docs - 2 * dfq.df + 1) AS DOUBLE)
           / CAST((2 * dfq.df + 1) AS DOUBLE))
          * (CAST((44 * tf.tf * st.l_total) AS DOUBLE)
             / CAST((20 * st.l_total * tf.tf + 6 * st.l_total
                     + 18 * d.dl * st.n_docs) AS DOUBLE))) AS s
  FROM tf
  JOIN dfq ON (dfq.w = tf.w)
  JOIN d ON (d.doc_id = tf.doc_id)
  CROSS JOIN st),
agg AS (SELECT doc_id, list(s ORDER BY w ASC) AS ss FROM sc
        GROUP BY doc_id)
SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_hit_terms,
       (CAST('0.0' AS DOUBLE) + list_reduce(ss, (a, b) -> (a + b)))
         AS score
FROM agg
ORDER BY score DESC, doc_id
LIMIT 50
"""


def q_collocations(spark, sf_dir):
    """Adjacent-bigram collocation mining ranked by the exact PMI ratio
    c_pair·U² / (T·c_a·c_b) — one IEEE division of int64 products (the
    log dropped per the module rules). Bigrams come from two shifted
    slices zipped map-side (no self-join); both count aggregates
    map-side combine; vocabulary-sized unigram tables broadcast."""
    from osm2geojson_spark.functions.text import collocations

    return collocations(_docs(spark, sf_dir), min_count=5, limit=100)


def _sql_collocations() -> str:
    return """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM documents),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(ts) AS w FROM t) GROUP BY w),
ut AS (SELECT CAST(SUM(c) AS BIGINT) AS u_tot FROM uni),
bg AS (
  SELECT unnest(list_transform(range(1, len(ts)),
                  i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
  FROM t WHERE (len(ts) >= 2)),
pc AS (SELECT (p).a AS term_a, (p).b AS term_b,
              CAST(COUNT(*) AS BIGINT) AS c_pair
       FROM bg GROUP BY (p).a, (p).b),
tt AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS t_tot FROM pc)
SELECT pc.term_a AS term_a, pc.term_b AS term_b, pc.c_pair AS c_pair,
       ua.c AS c_a, ub.c AS c_b,
       (CAST((pc.c_pair * ut.u_tot * ut.u_tot) AS DOUBLE)
        / CAST((tt.t_tot * ua.c * ub.c) AS DOUBLE)) AS pmi_ratio
FROM pc
JOIN uni ua ON (ua.w = pc.term_a)
JOIN uni ub ON (ub.w = pc.term_b)
CROSS JOIN ut CROSS JOIN tt
WHERE (pc.c_pair >= 5)
ORDER BY pmi_ratio DESC, term_a, term_b
LIMIT 100
"""


def q_funnel(spark, sf_dir):
    """view → click → purchase funnel over events: per-user monotone
    stage chain (earliest stage-i event STRICTLY after stage i−1's
    second — a purchase before the first view does not count). k
    filtered aggs + equi-joins all on the user key (one partitioning
    reused); integer-second minima so the DuckDB twin is value-exact."""
    from osm2geojson_spark.operators.funnel import funnel_stages

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"))
    return (funnel_stages(ev, ["view", "click", "purchase"])
            .orderBy("user_id"))


def _sql_funnel() -> str:
    return """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
s1 AS (
  SELECT user_id, MIN(sec) AS t_1 FROM ev
  WHERE (event_type = 'view') GROUP BY user_id),
s2 AS (
  SELECT e.user_id AS user_id, MIN(e.sec) AS t_2
  FROM ev e JOIN s1 ON (s1.user_id = e.user_id)
  WHERE ((e.event_type = 'click') AND (e.sec > s1.t_1))
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id AS user_id, MIN(e.sec) AS t_3
  FROM ev e JOIN s2 ON (s2.user_id = e.user_id)
  WHERE ((e.event_type = 'purchase') AND (e.sec > s2.t_2))
  GROUP BY e.user_id)
SELECT s1.user_id AS user_id, s1.t_1 AS t_1, s2.t_2 AS t_2, s3.t_3 AS t_3
FROM s1
LEFT JOIN s2 ON (s2.user_id = s1.user_id)
LEFT JOIN s3 ON (s3.user_id = s1.user_id)
ORDER BY user_id
"""


def q_multimodal_dedup(spark, sf_dir):
    """Cross-modal near-dup clustering over the image+caption table —
    the graft cell's two axes joined in one operator: phash band pairs
    (image modality) ∪ thresholded caption-minhash pairs (text
    modality) → distributed min-label CC. Oracle: pyref UNION-FIND over
    the same two (independently oracled) pair generators — a different
    CC algorithm meeting at the unique min-id labeling."""
    from osm2geojson_spark.operators.images import multimodal_dup_clusters
    from osm2geojson_spark.synth.images import images_table

    imgs = images_table(spark, n=500, seed=42)
    return multimodal_dup_clusters(imgs).orderBy("id")


def _sql_multimodal_dedup() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_multimodal_clusters(n=500, seed=42)
    return pyref.values_sql(
        rows, [("id", "VARCHAR"), ("cluster_id", "VARCHAR")]
    ) + " ORDER BY id"


def q_staypoints(spark, sf_dir):
    """Staypoint (dwell) detection over the event ping stream: maximal
    same-grid-cell runs per user (lag → change flag → running sum) kept
    at ≥2 pings — the trajectory op between raw pings and trips. Int
    micro-degree cells (`div`), truncated epoch seconds; one shuffle
    (window + groupBy share the user key). DuckDB twin = the same
    window algebra."""
    from osm2geojson_spark.spatial.trajectory import staypoints

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "event_id",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"),
        ((F.col("event_id") * _LON_MUL) % 360_000_000).alias("ix"),
        ((F.col("event_id") * _LAT_MUL + _LAT_OFF) % 170_000_000)
        .alias("iy"))
    return (staypoints(pts, cell_size=120_000_000, min_dwell_sec=1,
                       min_pings=2)
            .select("user_id", F.col("sp_id").cast("long").alias("sp_id"),
                    "cell_x", "cell_y",
                    F.col("n_pings").cast("long").alias("n_pings"),
                    "t_start", "t_end", "dwell_sec")
            .orderBy("user_id", "sp_id"))


def _sql_staypoints() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         (((event_id * {_LON_MUL}) % 360000000) // 120000000) AS cell_x,
         (((event_id * {_LAT_MUL} + {_LAT_OFF}) % 170000000) // 120000000)
           AS cell_y
  FROM events),
flagged AS (
  SELECT *,
         (CASE WHEN ((LAG(cell_x) OVER w IS NULL)
                     OR (LAG(cell_x) OVER w != cell_x)
                     OR (LAG(cell_y) OVER w != cell_y))
               THEN 1 ELSE 0 END) AS moved
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC,
                       event_id ASC)),
runs AS (
  SELECT *, SUM(moved) OVER (PARTITION BY user_id
             ORDER BY sec ASC, event_id ASC
             ROWS UNBOUNDED PRECEDING) AS sp_id
  FROM flagged),
agg AS (
  SELECT user_id, CAST(sp_id AS BIGINT) AS sp_id,
         MIN(cell_x) AS cell_x, MIN(cell_y) AS cell_y,
         CAST(COUNT(*) AS BIGINT) AS n_pings,
         MIN(sec) AS t_start, MAX(sec) AS t_end,
         (MAX(sec) - MIN(sec)) AS dwell_sec
  FROM runs GROUP BY user_id, sp_id)
SELECT * FROM agg
WHERE ((n_pings >= 2) AND (dwell_sec >= 1))
ORDER BY user_id, sp_id
"""


def q_cost_distance(spark, sf_dir):
    """Accumulated least-cost distance over a 48×48 tiled cost raster
    (GIS Cost Distance): 8-neighbor edges weighted
    (cost_a+cost_b)·70/99 (exact rational √2), then Δ-stepping SSSP
    with the grid block partitioner — rounds = raster diameter in
    BLOCKS. Oracle: pyref heap Dijkstra on the same closed-form cost
    surface (an independent algorithm AND an independent edge builder)."""
    from osm2geojson_spark.spatial.focal import (
        cost_distance,
        synth_dem_tiles,
    )

    t, nt = 16, 3
    w = t * nt
    tiles = synth_dem_tiles(spark, nt, nt, t)
    return cost_distance(tiles, t, w, w, source=0).orderBy("node_id")


def _sql_cost_distance() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_cost_distance(48, 0)
    return pyref.values_sql(
        rows, [("node_id", "BIGINT"), ("dist", "BIGINT")]
    ) + " ORDER BY node_id"


def q_raster_pyramid(spark, sf_dir):
    """Overview pyramid (2 levels of 2×2 floor-mean) over a 64×64
    tiled DEM: per level, 2×2 child tiles shrink and merge into one
    parent via a uniform 4-payload shuffle (the halo-exchange guarantee
    without the halo). NESTED means (level 2 = mean of level 1, not of
    the base) — the oracle replays the nesting whole-grid in numpy.
    Output exploded to pixels for the value-exact compare."""
    from osm2geojson_spark.spatial.focal import (
        raster_pyramid,
        synth_dem_tiles,
    )

    t, nt = 16, 4
    tiles = synth_dem_tiles(spark, nt, nt, t)
    pyr = raster_pyramid(tiles, t, levels=2)
    return (pyr.select(
        "level", "tx", "ty", F.posexplode("data").alias("i", "v"))
        .select(
            "level",
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + F.expr(f"i div {t}")).alias("y"),
            "v")
        .orderBy("level", "y", "x"))


def _sql_raster_pyramid() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_raster_pyramid(64, 2)
    return pyref.values_sql(
        rows, [("level", "BIGINT"), ("x", "BIGINT"), ("y", "BIGINT"),
               ("v", "BIGINT")]) + " ORDER BY level, y, x"


_CHUNK_W, _CHUNK_S = 32, 16


def q_chunk_windows(spark, sf_dir):
    """Overlapping token windows (W=32, stride 16) over documents — the
    packing step before embedding/LM training. One map-side generator,
    no shuffle; trailing short chunks kept (documented policy). Oracle:
    the same starts via generate_series + list_slice in DuckDB."""
    from osm2geojson_spark.operators.corpus import chunk_windows

    d = _t(spark, sf_dir, "documents")
    return (chunk_windows(d, window=_CHUNK_W, stride=_CHUNK_S)
            .orderBy("doc_id", "chunk_idx"))


def _sql_chunk_windows() -> str:
    w, s = _CHUNK_W, _CHUNK_S
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS toks
  FROM documents),
nz AS (SELECT doc_id, toks, length(toks) AS n FROM t
       WHERE (length(toks) > 0)),
st AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(1, n, {s})) AS start_tok
  FROM nz)
SELECT doc_id,
       CAST(((start_tok - 1) // {s}) AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(least({w}, ((n - start_tok) + 1)) AS BIGINT) AS n_tokens,
       array_to_string(
         list_slice(toks, start_tok, least((start_tok + {w - 1}), n)),
         ' ') AS chunk_text
FROM st
ORDER BY doc_id, chunk_idx
"""


def _url_synth_expr(cast_t: str) -> str:
    """Messy-URL synth from doc_id (int-derived, engine-identical):
    scheme/host case noise, www., default ports, trailing slash,
    unordered + tracking query params, fragments. Query params only
    ever follow a non-empty path (the parser's documented assumption).
    ``cast_t`` = STRING (Spark) / VARCHAR (DuckDB)."""
    n = lambda m: f"CAST((doc_id % {m}) AS {cast_t})"  # noqa: E731
    return (
        "((CASE WHEN ((doc_id % 3) = 0) THEN 'HTTPS' ELSE 'HTTP' END)"
        " || '://'"
        " || (CASE WHEN ((doc_id % 2) = 0) THEN 'WWW.' ELSE '' END)"
        f" || 'Site' || {n(7)} || '.COM'"
        " || (CASE WHEN ((doc_id % 5) = 0) THEN ':443'"
        "          WHEN ((doc_id % 5) = 1) THEN ':80' ELSE '' END)"
        " || (CASE WHEN ((doc_id % 13) = 0) THEN ''"
        f"         ELSE ('/Docs/' || {n(11)}"
        "           || (CASE WHEN ((doc_id % 4) = 0) THEN '/' ELSE '' END)"
        "           || (CASE WHEN ((doc_id % 4) = 0)"
        "                      THEN '?utm_source=x&b=2&a=1'"
        "                    WHEN ((doc_id % 4) = 1) THEN '?b=2&a=1'"
        "                    WHEN ((doc_id % 4) = 2) THEN '?a=1&b=2'"
        "                    ELSE '' END)) END)"
        " || (CASE WHEN ((doc_id % 6) < 2)"
        f"          THEN ('#sec' || {n(3)}) ELSE '' END))")


def q_url_dedup(spark, sf_dir):
    """Crawl-URL canonicalization + dedup — the first stage of every
    web-corpus pipeline: lowercase scheme/host, strip fragment /
    default ports / www. / trailing slashes, drop utm_* params, sort
    the rest, then ONE groupBy on the canonical key (min id keeper +
    dup count). The normalizer is a pure codegen expression chain
    (functions/urls.py — zero UDFs); the oracle re-derives canonical
    URLs with DuckDB's list_filter/list_sort over the identical synth."""
    from osm2geojson_spark.functions.urls import url_dedup

    d = _t(spark, sf_dir, "documents")
    urls = d.select("doc_id", F.expr(_url_synth_expr("STRING")).alias("url"))
    return url_dedup(urls).orderBy("canon_url")


def _sql_url_dedup() -> str:
    return f"""
WITH raw AS (
  SELECT doc_id, {_url_synth_expr("VARCHAR")} AS url FROM documents),
c1 AS (SELECT doc_id, (string_split(url, '#'))[1] AS nf FROM raw),
c2 AS (SELECT doc_id, lower((string_split(nf, '://'))[1]) AS scheme,
              (string_split(nf, '://'))[-1] AS rest FROM c1),
c3 AS (SELECT doc_id, scheme,
              (string_split(rest, '/'))[1] AS hostport,
              substr(rest, (length((string_split(rest, '/'))[1]) + 1))
                AS path_q
       FROM c2),
c4 AS (SELECT doc_id, scheme,
              (string_split(path_q, '?'))[1] AS path,
              (CASE WHEN contains(path_q, '?')
                    THEN (string_split(path_q, '?'))[-1] ELSE '' END)
                AS query,
              regexp_replace(lower(hostport), '^www\\.', '') AS h0
       FROM c3),
c5 AS (SELECT doc_id, scheme, path, query,
              (CASE WHEN (scheme = 'http')
                      THEN regexp_replace(h0, ':80$', '')
                    WHEN (scheme = 'https')
                      THEN regexp_replace(h0, ':443$', '')
                    ELSE h0 END) AS host
       FROM c4),
c6 AS (SELECT doc_id, scheme, host, query,
              (CASE WHEN (regexp_replace(path, '/+$', '') = '') THEN '/'
                    ELSE regexp_replace(path, '/+$', '') END) AS cpath
       FROM c5),
c7 AS (SELECT doc_id, scheme, host, cpath,
              coalesce(array_to_string(list_sort(list_filter(
                string_split(query, '&'),
                p -> ((p != '') AND (NOT starts_with(p, 'utm_'))))), '&'),
                '') AS params
       FROM c6),
canon AS (
  SELECT doc_id,
         (scheme || '://' || host || cpath
          || (CASE WHEN (params = '') THEN ''
                   ELSE ('?' || params) END)) AS canon_url
  FROM c7)
SELECT canon_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
FROM canon GROUP BY canon_url ORDER BY canon_url
"""


def q_image_sharpness(spark, sf_dir):
    """Blur/sharpness curation scoring over the full 9-format rotation:
    real decode → integer Rec.601 luma → 4-neighbor Laplacian → RAW
    int64 moments (no float variance — thresholds derive it later), so
    the oracle is a bit-exact pyref literal table accumulated by a
    DIFFERENT summation route (row-by-row python ints vs whole-array
    numpy). The curation filter a pipeline runs before spending caption
    compute on blurry frames."""
    from osm2geojson_spark.operators.images import sharpness_scores
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    return (sharpness_scores(imgs)
            .select("image_id", "fmt", "n_interior", "lap_sum",
                    "lap_sq_sum")
            .orderBy("image_id"))


def _sql_image_sharpness() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_sharpness(n=300, seed=42)
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("fmt", "VARCHAR"),
               ("n_interior", "BIGINT"), ("lap_sum", "BIGINT"),
               ("lap_sq_sum", "BIGINT")]) + " ORDER BY image_id"


def q_image_resize(spark, sf_dir):
    """Thumbnail generation over the 9-format corpus — EXACT integer
    box-filter downscale (per-block int64 sums, round-half-up; no float
    mean) re-encoded as lossless ppm, compared by md5. Oracle: pyref
    literal table whose thumbnails accumulate row-by-row in python ints
    (different summation route, same bytes)."""
    from osm2geojson_spark.operators.images import resize_images
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    return (resize_images(imgs)
            .join(imgs.select("image_id", "fmt"), "image_id")
            .select("image_id", "fmt", "w", "h",
                    F.md5("thumb").alias("thumb_md5"))
            .orderBy("image_id"))


def _sql_image_resize() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_resize(n=300, seed=42)
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("fmt", "VARCHAR"),
               ("w", "INTEGER"), ("h", "INTEGER"),
               ("thumb_md5", "VARCHAR")]) + " ORDER BY image_id"


def q_image_mse_dedup(spark, sf_dir):
    """Two-stage image near-dup: phash band-LSH candidates (cheap, no
    decode) verified by EXACT integer thumbnail SSE — the classic
    recall-then-precision pipeline. The verify stage is pure column
    algebra (zip_with + ordered fold over the int64 thumb vectors), so
    after the one decode pass everything stays JVM-side. Oracle: pyref
    literal table (band-LSH + python-int SSE, independent route)."""
    from osm2geojson_spark.operators.images import (
        mse_verify_pairs,
        phash_near_dup_pairs,
        thumb_vectors,
    )
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    pairs = phash_near_dup_pairs(imgs, max_hamming=10)
    thumbs = thumb_vectors(imgs)
    return (mse_verify_pairs(pairs, thumbs)
            .select("id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming"),
                    "sse")
            .orderBy("id_a", "id_b"))


def _sql_image_mse_dedup() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_mse_pairs(n=300, seed=42, max_hamming=10)
    return pyref.values_sql(
        rows, [("id_a", "VARCHAR"), ("id_b", "VARCHAR"),
               ("hamming", "BIGINT"), ("sse", "BIGINT")]) \
        + " ORDER BY id_a, id_b"


def q_color_histogram(spark, sf_dir):
    """Quantized 4³-bin RGB histogram summary per image (bins used,
    dominant bin + pixel count; ties → lowest bin) — the color-diversity
    curation signal. Exact integer counts; oracle accumulates with
    python dicts vs the engine's np.bincount."""
    from osm2geojson_spark.operators.images import color_histograms
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    return (color_histograms(imgs)
            .select("image_id", "fmt", "n_px", "n_bins_used",
                    "top_bin", "top_count")
            .orderBy("image_id"))


def _sql_color_histogram() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_color_hist(n=300, seed=42)
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("fmt", "VARCHAR"),
               ("n_px", "BIGINT"), ("n_bins_used", "BIGINT"),
               ("top_bin", "BIGINT"), ("top_count", "BIGINT")]) \
        + " ORDER BY image_id"


_STR_CAP = 32


def q_str_pack(spark, sf_dir):
    """STR R-tree bulk packing over int-lattice points (the spatial
    index/layout build): distributed x-rank via monotone value buckets
    + broadcast prefix offsets (NO single-task global window), per-slice
    y-rank as a partitioned window, leaf MBR directory as one map-side
    agg. All integer math — the DuckDB twin replays the identical
    slice/leaf formulas from its own ROW_NUMBERs, deriving ⌈√P⌉ exactly
    (min s with s² ≥ P — no float sqrt)."""
    from osm2geojson_spark.spatial.strpack import str_leaves, str_pack

    p = _t(spark, sf_dir, "part")
    pts = p.select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") * F.lit(_LON_MUL)) % F.lit(360_000_000))
        .alias("x"),
        ((F.col("p_partkey") * F.lit(_LAT_MUL) + F.lit(_LAT_OFF))
         % F.lit(170_000_000)).alias("y"))
    n = pts.count()
    assigned = str_pack(pts, n, leaf_capacity=_STR_CAP,
                        x_bucket=F.expr("x div 36000000"))
    return str_leaves(assigned).orderBy("leaf_id")


def _sql_str_pack() -> str:
    return f"""
WITH pts AS (
  SELECT p_partkey AS id,
         ((p_partkey * {_LON_MUL}) % 360000000) AS x,
         ((p_partkey * {_LAT_MUL} + {_LAT_OFF}) % 170000000) AS y
  FROM part),
k AS (
  SELECT GREATEST(1, ((COUNT(*) + {_STR_CAP - 1}) // {_STR_CAP}))
           AS pages
  FROM pts),
s AS (
  SELECT k.pages AS pages,
         (SELECT MIN(g.s) FROM generate_series(1, 1000000) g(s)
          WHERE ((g.s * g.s) >= k.pages)) AS slices
  FROM k),
c AS (
  SELECT pages, slices,
         ((pages + slices - 1) // slices) AS per_slice,
         ({_STR_CAP} * ((pages + slices - 1) // slices)) AS slice_sz
  FROM s),
rx AS (
  SELECT pts.*, ROW_NUMBER() OVER (ORDER BY x, id) AS rxn FROM pts),
sl AS (
  SELECT rx.id, rx.x, rx.y,
         ((rx.rxn - 1) // c.slice_sz) AS slc, c.per_slice AS per_slice
  FROM rx CROSS JOIN c),
ry AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY slc ORDER BY y, id) AS ryn
  FROM sl)
SELECT CAST((slc * per_slice + ((ryn - 1) // {_STR_CAP})) AS BIGINT)
         AS leaf_id,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM ry
GROUP BY (slc * per_slice + ((ryn - 1) // {_STR_CAP}))
ORDER BY leaf_id
"""


_HAUS_OBJS, _HAUS_PTS = 60, 24


def _haus_points(spark):
    o = F.expr("id div 24")
    s = F.col("id") % 24
    return spark.range(_HAUS_OBJS * _HAUS_PTS).select(
        o.alias("obj_id"), s.alias("seq"),
        (((o * 31 + s * 17 + 3) * F.lit(_LON_MUL)) % F.lit(1_000_000))
        .alias("x"),
        (((o * 29 + s * 13 + 11) * F.lit(_LAT_MUL)) % F.lit(1_000_000))
        .alias("y"))


def q_hausdorff(spark, sf_dir):
    """Symmetric squared Hausdorff distance between candidate geometry
    pairs — exact int64 (no sqrt), the O(|A|·|B|) min/max double loop as
    nested JVM higher-order functions over per-object point arrays
    (collapse once, then zero per-pair shuffle). Candidates here are
    same-group pairs (the cell-prefilter stand-in). Oracle: DuckDB takes
    the OTHER route — unnest → per-direction cross join → GROUP BY
    min → GROUP BY max."""
    from osm2geojson_spark.spatial.hausdorff import (
        collect_geoms,
        hausdorff_pairs,
    )

    pts = _haus_points(spark)
    geoms = collect_geoms(pts)
    objs = geoms.select("obj_id")
    pairs = (objs.select(F.col("obj_id").alias("id_a"))
             .join(objs.select(F.col("obj_id").alias("id_b")),
                   F.expr("id_a < id_b AND (id_a % 6) = (id_b % 6)"))
             )
    return (hausdorff_pairs(geoms, pairs)
            .select("id_a", "id_b", "h_ab", "h_ba", "h_sq")
            .orderBy("id_a", "id_b"))


def _sql_hausdorff() -> str:
    return f"""
WITH g AS (
  SELECT CAST(v AS BIGINT) AS pid
  FROM generate_series(0, {_HAUS_OBJS * _HAUS_PTS - 1}) t(v)),
p AS (
  SELECT (pid // 24) AS obj_id, (pid % 24) AS seq,
         ((((pid // 24) * 31 + (pid % 24) * 17 + 3) * {_LON_MUL})
          % 1000000) AS x,
         ((((pid // 24) * 29 + (pid % 24) * 13 + 11) * {_LAT_MUL})
          % 1000000) AS y
  FROM g),
objs AS (SELECT DISTINCT obj_id FROM p),
pairs AS (
  SELECT a.obj_id AS id_a, b.obj_id AS id_b
  FROM objs a JOIN objs b
    ON ((a.obj_id < b.obj_id) AND ((a.obj_id % 6) = (b.obj_id % 6)))),
dirs AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs),
mind AS (
  SELECT d.id_a AS id_a, d.id_b AS id_b, pa.seq AS sa,
         MIN((pa.x - pb.x) * (pa.x - pb.x)
             + (pa.y - pb.y) * (pa.y - pb.y)) AS md
  FROM dirs d
  JOIN p pa ON (pa.obj_id = d.id_a)
  JOIN p pb ON (pb.obj_id = d.id_b)
  GROUP BY d.id_a, d.id_b, pa.seq),
h AS (SELECT id_a, id_b, MAX(md) AS hv FROM mind GROUP BY id_a, id_b)
SELECT pr.id_a AS id_a, pr.id_b AS id_b,
       h1.hv AS h_ab, h2.hv AS h_ba,
       GREATEST(h1.hv, h2.hv) AS h_sq
FROM pairs pr
JOIN h h1 ON ((h1.id_a = pr.id_a) AND (h1.id_b = pr.id_b))
JOIN h h2 ON ((h2.id_a = pr.id_b) AND (h2.id_b = pr.id_a))
ORDER BY id_a, id_b
"""


_DENS_K = 4


def q_line_densify(spark, sf_dir):
    """Parameter-space line densification (the RDP inverse): every
    segment emits k interpolated points ``v_j + (Δ·i) div k`` with exact
    FLOOR division on signed deltas (Spark ``div`` truncates toward
    zero, DuckDB ``//`` floors — the engine computes (d − pmod) div k
    to agree for every sign). Pure map-side array algebra: two shifted
    slices zipped, nested transform, one flatten — zero shuffle after
    geometry collection. Oracle: DuckDB derives segments by a seq+1
    self-join instead."""
    from osm2geojson_spark.spatial.hausdorff import collect_geoms
    from osm2geojson_spark.spatial.simplify import densify_paths

    geoms = collect_geoms(_haus_points(spark))
    return (densify_paths(geoms, _DENS_K)
            .orderBy("obj_id", "seq"))


def _sql_line_densify() -> str:
    k = _DENS_K
    return f"""
WITH g AS (
  SELECT CAST(v AS BIGINT) AS pid
  FROM generate_series(0, {_HAUS_OBJS * _HAUS_PTS - 1}) t(v)),
p AS (
  SELECT (pid // 24) AS obj_id, (pid % 24) AS seq,
         ((((pid // 24) * 31 + (pid % 24) * 17 + 3) * {_LON_MUL})
          % 1000000) AS x,
         ((((pid // 24) * 29 + (pid % 24) * 13 + 11) * {_LAT_MUL})
          % 1000000) AS y
  FROM g),
seg AS (
  SELECT a.obj_id AS obj_id, a.seq AS j,
         a.x AS ax, a.y AS ay, b.x AS bx, b.y AS b_y
  FROM p a JOIN p b
    ON ((b.obj_id = a.obj_id) AND (b.seq = (a.seq + 1)))),
iv AS (SELECT CAST(v AS BIGINT) AS i FROM generate_series(0, {k - 1}) t(v)),
dd AS (
  SELECT obj_id, ((j * {k}) + iv.i) AS seq, ax, ay,
         ((bx - ax) * iv.i) AS dx, ((b_y - ay) * iv.i) AS dy
  FROM seg CROSS JOIN iv),
mid AS (
  -- DuckDB // truncates toward zero (checked), so FLOOR division is
  -- spelled with the same pmod trick the engine uses
  SELECT obj_id, seq,
         (ax + ((dx - (((dx % {k}) + {k}) % {k})) // {k})) AS x,
         (ay + ((dy - (((dy % {k}) + {k}) % {k})) // {k})) AS y
  FROM dd),
fin AS (
  SELECT obj_id, CAST(({_HAUS_PTS - 1} * {k}) AS BIGINT) AS seq, x, y
  FROM p WHERE (seq = {_HAUS_PTS - 1}))
SELECT obj_id, seq, x, y
FROM (SELECT * FROM mid UNION ALL SELECT * FROM fin)
ORDER BY obj_id, seq
"""


def q_trajectory_dtw(spark, sf_dir):
    """Alignment-aware trajectory similarity: exact-integer DTW (min
    SUM of aligned squared distances) + discrete Fréchet (minimax) over
    the same candidate pairs as ``hausdorff`` — the DP row recurrence
    serializes, so it runs as an Arrow-batched mapInPandas kernel over
    joined point arrays (per-pair bounded, zero per-pair shuffle,
    python ints — no silent int64 wrap). Oracle: pyref literal table
    computed by MEMOIZED RECURSION from the far corner (different
    evaluation order, same integers)."""
    from osm2geojson_spark.spatial.dtw import trajectory_similarity_pairs
    from osm2geojson_spark.spatial.hausdorff import collect_geoms

    geoms = collect_geoms(_haus_points(spark))
    objs = geoms.select("obj_id")
    pairs = (objs.select(F.col("obj_id").alias("id_a"))
             .join(objs.select(F.col("obj_id").alias("id_b")),
                   F.expr("id_a < id_b AND (id_a % 6) = (id_b % 6)")))
    return (trajectory_similarity_pairs(geoms, pairs)
            .orderBy("id_a", "id_b"))


def _sql_trajectory_dtw() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_traj_sim(n_objs=_HAUS_OBJS, m=_HAUS_PTS,
                              group_mod=6)
    return pyref.values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"),
               ("dtw_sq_sum", "BIGINT"), ("frechet_sq", "BIGINT")]) \
        + " ORDER BY id_a, id_b"


def q_snapshot_diff(spark, sf_dir):
    """Lakehouse CDC: the changelog between two Iceberg snapshots
    (create_changelog_view semantics) computed from time-travel reads —
    v1 = part(id, val); then an MOR equality-delete of id%7 keys, a COW
    upsert of +100 on id%5 survivors plus 50 inserts; diff = two
    key-partitioned anti-joins + one null-safe inner compare, one key
    partitioning reused, nothing collected. The oracle derives the SAME
    v1/v2 algebraically from part — it never sees the table format, so
    the match pins the snapshot/manifest/delete machinery end to end."""
    import shutil
    import tempfile

    from osm2geojson_spark.plans.iceberg_layout import IcebergLikeTable

    root = tempfile.mkdtemp(prefix="sgraft_snapdiff_")
    try:
        tbl = IcebergLikeTable(root)
        p = _t(spark, sf_dir, "part")
        v1 = p.select(F.col("p_partkey").alias("id"),
                      F.col("p_size").cast("long").alias("val"))
        s1 = tbl.append(v1, stats_cols=["id"])["snapshot_id"]
        updates = v1.where("id % 5 = 0 AND id % 7 != 0") \
            .select("id", (F.col("val") + 100).alias("val"))
        inserts = v1.where("id % 40 = 0") \
            .select((F.col("id") + 10_000_000).alias("id"),
                    (F.col("val") + 7).alias("val"))
        # COW upsert first, MOR delete second (upsert refuses to rewrite
        # across outstanding equality deletes) — same end state
        tbl.upsert(spark, updates.unionByName(inserts), "id",
                   stats_cols=["id"])
        tbl.delete_keys(spark, v1.where("id % 7 = 0").select("id"), "id")
        s2 = tbl.snapshots()[-1]["snapshot_id"]
        d = tbl.snapshot_diff(spark, s1, s2, "id")
        out = (d["added"].select(F.lit("added").alias("change_type"),
                                 "id", F.col("val").alias("val_new"),
                                 F.lit(None).cast("long").alias("val_old"))
               .unionByName(
                   d["removed"].select(
                       F.lit("removed").alias("change_type"), "id",
                       F.lit(None).cast("long").alias("val_new"),
                       F.col("val").alias("val_old")))
               .unionByName(
                   d["changed"].select(
                       F.lit("changed").alias("change_type"), "id",
                       F.col("val").alias("val_new"),
                       F.col("val_before").alias("val_old"))))
        # materialize before the table directory disappears
        rows = out.collect()
        return spark.createDataFrame(
            rows, "change_type string, id long, val_new long, "
                  "val_old long").orderBy("change_type", "id")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sql_snapshot_diff() -> str:
    return """
WITH v1 AS (
  SELECT p_partkey AS id, CAST(p_size AS BIGINT) AS val FROM part),
removed AS (SELECT id, val FROM v1 WHERE ((id % 7) = 0)),
changed AS (SELECT id, (val + 100) AS val_new, val AS val_old
            FROM v1 WHERE (((id % 5) = 0) AND ((id % 7) != 0))),
added AS (SELECT (id + 10000000) AS id, (val + 7) AS val
          FROM v1 WHERE ((id % 40) = 0))
SELECT change_type, id, val_new, val_old FROM (
  SELECT 'added' AS change_type, id, val AS val_new,
         CAST(NULL AS BIGINT) AS val_old FROM added
  UNION ALL
  SELECT 'removed' AS change_type, id, CAST(NULL AS BIGINT) AS val_new,
         val AS val_old FROM removed
  UNION ALL
  SELECT 'changed' AS change_type, id, val_new, val_old FROM changed)
ORDER BY change_type, id
"""


_COMP_N = 300


def q_compression_ratio(spark, sf_dir):
    """zlib compressibility quality filter (Gopher/RedPajama signal):
    repetitive text compresses too well, junk too little — both tails
    filtered before training. Texts are synthesized sf-independently by
    concat/repeat/md5 COLUMN expressions (id-dependent repetition + an
    md5 tail so ratios spread); the kernel is one Arrow map pass, no
    shuffle. Oracle: pyref literal table building the SAME strings in
    python and counting stdlib-zlib bytes (plumbing-identity oracle,
    the html_extract precedent — zlib at a fixed level is
    bit-deterministic for a given input)."""
    from osm2geojson_spark.operators.corpus import compression_ratio

    ids = spark.range(_COMP_N)
    s = F.col("id").cast("string")
    docs = ids.select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), s, F.lit(" "),
                 F.repeat(F.lit("spam ham "), (F.col("id") % 23)
                          .cast("int")),
                 F.repeat(F.lit("x"), (F.col("id") % 17).cast("int")),
                 F.substring(F.md5(s), 1, 8)).alias("text"))
    return compression_ratio(docs).orderBy("doc_id")


def _sql_compression_ratio() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_compression(n=_COMP_N)
    return pyref.values_sql(
        rows, [("doc_id", "BIGINT"), ("raw_len", "BIGINT"),
               ("zlib_len", "BIGINT"), ("compress_ratio", "DOUBLE")]) \
        + " ORDER BY doc_id"


def q_copurchase(spark, sf_dir):
    """Item co-occurrence mining (the recommender/e-commerce basket op):
    distinct parts per order collapse to a sorted array ONCE, pairs
    generate map-side as nested HOFs (no basket self-join — fanout is
    C(|basket|,2) with baskets bounded), one pair-key count shuffle;
    top pairs under a total order. Oracle: DuckDB takes the self-join
    route (the other path)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    n = F.size("parts")
    pairs = (baskets.where(n >= 2)
             .select(F.explode(F.flatten(F.transform(
                 F.sequence(F.lit(0), n - 2),
                 lambda i: F.transform(
                     F.slice(F.col("parts"), i + 2, n - 1 - i),
                     lambda b: F.struct(
                         F.element_at(F.col("parts"), (i + 1)
                                      .cast("int")).alias("part_a"),
                         b.alias("part_b")))))).alias("p"))
             .select("p.part_a", "p.part_b"))
    return (pairs.groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
            .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
            .limit(500))


def _sql_copurchase() -> str:
    return """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM d a JOIN d b
  ON ((b.l_orderkey = a.l_orderkey) AND (a.l_partkey < b.l_partkey))
GROUP BY a.l_partkey, b.l_partkey
ORDER BY n_orders DESC, part_a, part_b
LIMIT 500
"""


def q_line_dedup(spark, sf_dir):
    """CCNet-style cross-document line dedup: boilerplate lines planted
    deterministically (a mod-3 header, the unique original text, a
    mod-5 promo, a footer shared by ALL docs) survive only in the first
    (doc, position) occurrence corpus-wide; docs rebuilt from surviving
    lines. One uniform md5-key window shuffle + one doc regroup. The
    DuckDB twin replays the same window semantics over its own
    string_split."""
    from osm2geojson_spark.operators.corpus import line_dedup

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("header v"), (F.col("doc_id") % 3)
                     .cast("string")),
            F.col("text"),
            F.concat(F.lit("promo "), (F.col("doc_id") % 5)
                     .cast("string")),
            F.lit("footer common")).alias("text"))
    out = line_dedup(docs)
    return (out.select(
        F.col("id").alias("doc_id"), "n_lines", "n_kept",
        F.length("text").cast("long").alias("text_len"),
        F.md5("text").alias("text_md5"))
        .orderBy("doc_id"))


def _sql_line_dedup() -> str:
    return """
WITH docs AS (
  SELECT doc_id,
         (('header v' || CAST((doc_id % 3) AS VARCHAR)) || chr(10)
          || text || chr(10)
          || ('promo ' || CAST((doc_id % 5) AS VARCHAR)) || chr(10)
          || 'footer common') AS text
  FROM documents),
ln AS (
  SELECT doc_id, ls, unnest(generate_series(1, length(ls))) AS i
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs)),
lines AS (
  SELECT doc_id, (i - 1) AS pos, ls[i] AS line, md5(trim(ls[i])) AS h
  FROM ln),
kept AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM lines),
rebuilt AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         array_to_string(list(line ORDER BY pos), chr(10)) AS text
  FROM kept WHERE (rn = 1) GROUP BY doc_id),
totals AS (
  SELECT doc_id,
         CAST(length(string_split(text, chr(10))) AS BIGINT) AS n_lines
  FROM docs)
SELECT t.doc_id AS doc_id, t.n_lines AS n_lines,
       COALESCE(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       CAST(length(COALESCE(r.text, '')) AS BIGINT) AS text_len,
       md5(COALESCE(r.text, '')) AS text_md5
FROM totals t LEFT JOIN rebuilt r ON (r.doc_id = t.doc_id)
ORDER BY doc_id
"""


def q_retention_cohorts(spark, sf_dir):
    """Daily retention-cohort matrix (the product-analytics staple):
    cohort = a user's first active day, one row per (cohort, day
    offset) with active-user counts, cohort size, and the retention
    ratio as a single IEEE division of exact counts. Two distinct
    aggregates + one user-keyed join — all map-side-combinable, the
    user partitioning reused."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
               " CAST(ts AS TIMESTAMP_NTZ)) div 86400").alias("week"))
    active = ev.distinct()
    cohort = active.groupBy("user_id").agg(F.min("week").alias("cohort"))
    sizes = cohort.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort"))
    ret = (active.join(cohort, "user_id")
           .groupBy("cohort", (F.col("week") - F.col("cohort"))
                    .alias("week_offset"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_active")))
    return (ret.join(sizes, "cohort")
            .select("cohort", "week_offset", "n_active", "n_cohort",
                    (F.col("n_active").cast("double")
                     / F.col("n_cohort").cast("double"))
                    .alias("retention"))
            .orderBy("cohort", "week_offset"))


def _sql_retention_cohorts() -> str:
    return """
WITH ev AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS week
  FROM events),
active AS (SELECT DISTINCT user_id, week FROM ev),
cohort AS (SELECT user_id, MIN(week) AS cohort FROM active
           GROUP BY user_id),
sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
          FROM cohort GROUP BY cohort),
ret AS (
  SELECT c.cohort AS cohort, (a.week - c.cohort) AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM active a JOIN cohort c ON (c.user_id = a.user_id)
  GROUP BY c.cohort, (a.week - c.cohort))
SELECT r.cohort AS cohort, r.week_offset AS week_offset,
       r.n_active AS n_active, s.n_cohort AS n_cohort,
       (CAST(r.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE))
         AS retention
FROM ret r JOIN sizes s ON (s.cohort = r.cohort)
ORDER BY cohort, week_offset
"""


def q_union_area(spark, sf_dir):
    """Rectilinear dissolve (ST_Union → ST_Area) — exact union area of
    int boxes per group via strip decomposition + interval-union
    windows (spatial/dissolve.py): x-events cut strips, a coverage join
    fans boxes to spanned strips, one running-max window per (group,
    strip) counts newly covered y-length. All int64 — the DuckDB oracle
    expresses the same sweep with its own window functions; ties in the
    window order contribute 0 either way, so ordering is value-safe."""
    from osm2geojson_spark.spatial.dissolve import union_area

    p = _t(spark, sf_dir, "part")
    boxes = p.select(
        (F.col("p_partkey") % F.lit(12)).alias("group_id"),
        ((F.col("p_partkey") * 37) % 500).alias("x1"),
        ((F.col("p_partkey") * 29) % 500).alias("y1"),
        ((F.col("p_partkey") * 37) % 500 + 1
         + (F.col("p_partkey") * 13) % 60).alias("x2"),
        ((F.col("p_partkey") * 29) % 500 + 1
         + (F.col("p_partkey") * 17) % 60).alias("y2"))
    return union_area(boxes).orderBy("group_id")


def _sql_union_area() -> str:
    return """
WITH b AS (
  SELECT (p_partkey % 12) AS g,
         ((p_partkey * 37) % 500) AS x1,
         ((p_partkey * 29) % 500) AS y1,
         (((p_partkey * 37) % 500) + 1 + ((p_partkey * 13) % 60)) AS x2,
         (((p_partkey * 29) % 500) + 1 + ((p_partkey * 17) % 60)) AS y2
  FROM part),
xs AS (
  SELECT DISTINCT g, x FROM (
    SELECT g, x1 AS x FROM b UNION ALL SELECT g, x2 AS x FROM b)),
strips AS (
  SELECT g, x AS sx0, lead(x) OVER (PARTITION BY g ORDER BY x) AS sx1
  FROM xs),
st AS (SELECT * FROM strips WHERE (sx1 IS NOT NULL)),
cov AS (
  SELECT b.g AS g, st.sx0 AS sx0, st.sx1 AS sx1, b.y1 AS y1, b.y2 AS y2
  FROM b JOIN st ON ((b.g = st.g) AND (b.x1 <= st.sx0)
                     AND (b.x2 >= st.sx1))),
seg AS (
  SELECT g, sx0, sx1, y1, y2,
         max(y2) OVER (PARTITION BY g, sx0 ORDER BY y1, y2
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM cov),
agg AS (
  SELECT g,
         SUM((sx1 - sx0)
             * greatest(0, (y2 - greatest(y1, coalesce(pm, y1)))))
           AS union_area
  FROM seg GROUP BY g)
SELECT b.g AS group_id,
       COUNT(*) AS n_boxes,
       CAST(ANY_VALUE(agg.union_area) AS BIGINT) AS union_area
FROM b JOIN agg ON (agg.g = b.g)
GROUP BY b.g
ORDER BY group_id
"""


def q_k_core(spark, sf_dir):
    """k-core decomposition (k=40) over a skew-degree 400-node hash
    graph from events (the divisor term concentrates targets at low
    ids — a real degree distribution, so the peel takes multiple
    rounds): distributed peel = per-round degree agg + two anti-joins
    against the (small) kill set, localCheckpoint loop discipline.
    Oracle: pyref asynchronous peel — deletion ORDER differs between
    the two implementations, but the k-core fixpoint is unique, so
    agreement pins the loop logic, not the schedule."""
    from osm2geojson_spark.operators.graph import k_core

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % F.lit(400)).alias("src"),
        F.expr(f"((event_id * {_LON_MUL}) % 400) div (1 + (event_id % 4))")
        .alias("dst"))
    return k_core(edges, k=40).orderBy("node")


def _sql_k_core() -> str:
    from osm2geojson_spark import pyref

    pairs = _oracle_parquet("events", ["user_id", "event_id"])
    edges = [(u % 400, ((e * _LON_MUL) % 400) // (1 + (e % 4)))
             for u, e in pairs]
    rows = pyref.ref_k_core(edges, k=40)
    return pyref.values_sql(
        rows, [("node", "BIGINT"), ("deg", "BIGINT")]) + " ORDER BY node"


def q_watershed(spark, sf_dir):
    """Watershed (basin) labeling over the D8 forest: every cell → the
    terminal pit its flow path drains to, via POINTER DOUBLING — each
    round one self-equi-join squares the distance covered, so rounds =
    ceil(log2(longest flow path)), not path length (the flow_accum
    waves would take depth rounds; doubling takes log of it). Oracle:
    the same recursive-CTE path walk as flow_accum, ending at the rows
    whose target is NULL (the pit) — a sequential walk vs the
    logarithmic doubling, two maximally different paths."""
    from osm2geojson_spark.spatial.focal import (
        focal_op,
        synth_dem_tiles,
        watershed_basins,
    )

    t = _FOCAL_T
    w = _FOCAL_T * _FOCAL_TILES
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    dirs = focal_op(tiles, op="flowdir8", tile_size=t)
    return watershed_basins(dirs, t, w, w).orderBy("cell")


def _sql_watershed() -> str:
    from osm2geojson_spark.spatial.focal import _D8

    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    scores = [f"(({v(0, 0)} - {v(dx, dy)}) * {wt})"
              for dx, dy, _code, wt in _D8]
    names = [f"s{i}" for i in range(8)]
    sel = ", ".join(f"{s} AS {n}" for s, n in zip(scores, names))
    gmax = f"greatest({', '.join(names)})"
    chain = " ".join(
        f"WHEN ({n} = gm) THEN {code}"
        for n, (_dx, _dy, code, _wt) in zip(names, _D8))
    dxc = " ".join(f"WHEN {code} THEN {dx}"
                   for dx, _dy, code, _wt in _D8)
    dyc = " ".join(f"WHEN {code} THEN {dy}"
                   for _dx, dy, code, _wt in _D8)
    return f"""
WITH RECURSIVE
xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
sc AS (SELECT x, y, {sel} FROM xs, ys),
g AS (SELECT x, y, s0, s1, s2, s3, s4, s5, s6, s7, {gmax} AS gm FROM sc),
d AS (SELECT x, y,
             (CASE WHEN (gm <= 0) THEN 0 {chain} END) AS dir
      FROM g),
c AS (SELECT ((y * {w}) + x) AS cell,
             (CASE WHEN (dir = 0) THEN NULL ELSE
               ((least(greatest((y + (CASE dir {dyc} ELSE 0 END)), 0),
                       {w - 1}) * {w})
                + least(greatest((x + (CASE dir {dxc} ELSE 0 END)), 0),
                        {w - 1})) END) AS tgt
      FROM d),
walk(start, cur) AS (
  SELECT cell, cell FROM c
  UNION ALL
  SELECT wk.start, c2.tgt FROM walk wk
  JOIN c c2 ON (c2.cell = wk.cur)
  WHERE (c2.tgt IS NOT NULL))
SELECT wk.start AS cell, wk.cur AS basin
FROM walk wk JOIN c cc ON (cc.cell = wk.cur)
WHERE (cc.tgt IS NULL)
ORDER BY cell
"""


def q_strahler(spark, sf_dir):
    """Strahler stream order over the D8 forest — the third hydrology
    op on the focal substrate (flow_dir → flow_accum → strahler): the
    topological-wave loop of flow_accum carrying the (max,
    count-of-max) semigroup instead of a sum, merged exactly across
    waves. Oracle: pyref literal table — a memoized pure-Python
    post-order walk over the same closed-form directions (Spark-free,
    join-free)."""
    from osm2geojson_spark.spatial.focal import (
        focal_op,
        strahler_order,
        synth_dem_tiles,
    )

    t = _FOCAL_T
    w = _FOCAL_T * _FOCAL_TILES
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    dirs = focal_op(tiles, op="flowdir8", tile_size=t)
    return strahler_order(dirs, t, w, w).orderBy("cell")


def _sql_strahler() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_strahler(_FOCAL_T * _FOCAL_TILES)
    return pyref.values_sql(
        rows, [("cell", "BIGINT"), ("strahler", "BIGINT")]
    ) + " ORDER BY cell"


_DEM_LEVELS = (40, 60)


def q_dem_contours(spark, sf_dir):
    """Terrain isolines — the raster family composed end to end: the
    halo-exchange focal MEAN smooths the tiled DEM (the standard
    pre-contour denoise), pixels feed the marching-squares machinery
    (spatial/contour.py), two elevation levels fall out of one pass.
    Oracle: the smoothed field is CLOSED-FORM (9 clamped int terms,
    floor-div 9), so DuckDB computes grid → corner masks → case table
    with no halo exchange at all."""
    from osm2geojson_spark.spatial.contour import contour_segments
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    sm = focal_op(tiles, op="mean3", tile_size=t)
    pixels = (
        sm.select("tx", "ty", F.posexplode("data").alias("i", "v"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("ix"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("iy"),
            "v"))
    return contour_segments(pixels, list(_DEM_LEVELS)) \
        .orderBy("level", "x1", "y1", "x2", "y2")


def _sql_dem_contours() -> str:
    from osm2geojson_spark.spatial.contour import case_values_sql

    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    terms = " + ".join(v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    lv = ", ".join(f"({t})" for t in _DEM_LEVELS)
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
grid AS (SELECT x AS ix, y AS iy, (({terms}) // 9) AS v FROM xs, ys),
lv(level) AS (VALUES {lv}),
above AS (
  SELECT l.level, g.ix, g.iy FROM grid g, lv l WHERE (g.v >= l.level)),
corners(dx, dy, cw) AS (VALUES (0,0,1), (1,0,2), (0,1,4), (1,1,8)),
masks AS (
  SELECT a.level, (a.ix - c.dx) AS bxx, (a.iy - c.dy) AS byy,
         CAST(SUM(c.cw) AS INT) AS mask
  FROM above a, corners c
  GROUP BY a.level, bxx, byy
  HAVING (CAST(SUM(c.cw) AS INT) != 15)),
cases AS ({case_values_sql()})
SELECT m.level AS level,
       CAST(((m.bxx * 2) + s.x1o) AS BIGINT) AS x1,
       CAST(((m.byy * 2) + s.y1o) AS BIGINT) AS y1,
       CAST(((m.bxx * 2) + s.x2o) AS BIGINT) AS x2,
       CAST(((m.byy * 2) + s.y2o) AS BIGINT) AS y2
FROM masks m JOIN cases s ON (s.mask = m.mask)
ORDER BY level, x1, y1, x2, y2
"""


def q_triangle_count(spark, sf_dir):
    """Per-vertex triangle counting over a 400-node hash graph derived
    from events (user/event keys folded into one id space so the graph
    is non-bipartite): degree-ordered orientation makes every triangle
    a wedge at its lowest-(deg, id) vertex closed by exactly one
    oriented edge — out-degrees bounded O(sqrt m), so the wedge join
    survives celebrity vertices that explode the naive three-way
    self-join. Oracle = the direct a<b<c three-way join (a DIFFERENT
    enumeration order — agreement pins the orientation logic)."""
    from osm2geojson_spark.operators.graph import triangle_count

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % F.lit(400)).alias("src"),
        ((F.col("event_id") * F.lit(_LON_MUL)) % F.lit(400)).alias("dst"))
    return triangle_count(edges).orderBy("node")


def _sql_triangle_count() -> str:
    return f"""
WITH e0 AS (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
  FROM (SELECT (user_id % 400) AS s,
               ((event_id * {_LON_MUL}) % 400) AS d FROM events)
  WHERE s <> d),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e0 e1
  JOIN e0 e2 ON (e2.a = e1.a AND e2.b > e1.b)
  JOIN e0 e3 ON (e3.a = e1.b AND e3.b = e2.b))
SELECT node, COUNT(*) AS n_tri
FROM (SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri)
GROUP BY node
ORDER BY node
"""


def q_compact_cover(spark, sf_dir):
    """Minimal multi-resolution cell covering (H3-style compact): the
    distinct res-6 cells occupied by events collapse complete sibling
    quads into parents recursively — the cell-set algebra behind
    polyfill storage and viewport culling. Driver loops over ≤6 levels,
    each level one groupBy+join on a 4×-shrinking set."""
    from osm2geojson_spark.functions.cells import compact_cells

    ev = _t(spark, sf_dir, "events")
    res = 6
    cells = ev.select(
        C.cell_expr(
            lon_col(F.col("event_id")), lat_col(F.col("event_id")), res
        ).alias("cell"))
    return compact_cells(cells, res=res)


def _sql_compact_cover() -> str:
    from osm2geojson_spark.functions.cells import compact_sql

    res = 6
    cell = C.cell_sql(lon_sql("event_id"), lat_sql("event_id"), res)
    return f"""
WITH occ AS (SELECT ({cell}) AS cell FROM events),
{compact_sql('occ', res)}
SELECT cell, CAST(res AS INT) AS res FROM compacted
"""


def q_html_extract(spark, sf_dir):
    """HTML → visible text (the C4-grade extraction baseline): every
    document is wrapped in a deterministic HTML shell (head/title,
    style+script blocks — the script contains a '</div>' STRING, the
    classic non-greedy trap — a comment, and trailing entities), then
    functions/text.html_to_text_expr recovers the visible text. The
    oracle computes the expected text DIRECTLY from (doc_id, text) via
    the construction identity — so the hash proves the whole regex
    chain (block removal, tag strip, decode-after-strip order,
    whitespace collapse) against ground truth, not against another
    regex engine."""
    from osm2geojson_spark.functions.text import (
        html_title_expr,
        html_to_text_expr,
    )

    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>t"), did,
        F.lit('</title><style>.a{color:red}</style></head>'
              '<body><script type="text/javascript">'
              'if (1<2) { x("</div>"); }</script>'
              '<!-- hidden comment --><div class="c">'),
        F.col("text"),
        F.lit('</div><p>tail&nbsp;&amp;&nbsp;entities &lt;ok&gt;</p>'
              "</body></html>"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", html.alias("html"))
    txt = html_to_text_expr(F.col("html"))
    return docs.select(
        "doc_id",
        html_title_expr(F.col("html")).alias("title"),
        F.length(txt).cast("int").alias("n_chars"),
        F.md5(txt).alias("txt_md5"),
    )


_SQL_HTML_EXTRACT = """
WITH e AS (
  SELECT doc_id,
         ('t' || CAST(doc_id AS VARCHAR)) AS title,
         (('t' || CAST(doc_id AS VARCHAR)) || ' '
          || regexp_replace(trim(text), '\\s+', ' ', 'g')
          || ' tail & entities <ok>') AS body
  FROM documents)
SELECT doc_id, title, CAST(length(body) AS INT) AS n_chars,
       md5(body) AS txt_md5
FROM e
"""


def q_sample_threshold(spark, sf_dir):
    """Consistent (hash-threshold) sampling: keep rows whose
    md5(doc_id) hex sorts below a per-stratum prefix (even-numbered
    sources ≈ 25 %, odd ≈ 75 %). A shuffle-free filter — membership is
    decided locally and is stable across re-runs/engines — rolled up
    per source with a kept-id checksum."""
    docs = _docs(spark, sf_dir)
    from osm2geojson_spark.operators.corpus import hash_bucket_expr

    tier_even = (F.expr("CAST(substring(source, 4) AS INT)") % 2) == 0
    thr = F.when(tier_even, F.lit("40")).otherwise(F.lit("c0"))
    kept = hash_bucket_expr(F.col("doc_id")) < thr
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
        .cast("long").alias("kept_id_sum"),
    )


_SQL_SAMPLE_THRESHOLD = """
WITH k AS (
  SELECT source, doc_id,
         (md5(CAST(doc_id AS VARCHAR)) <
          CASE WHEN ((CAST(substr(source, 4) AS INT) % 2) = 0)
               THEN '40' ELSE 'c0' END) AS kept
  FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN kept THEN doc_id END), 0) AS BIGINT)
         AS kept_id_sum
FROM k GROUP BY source
"""


def q_sample_stratified(spark, sf_dir):
    """Exact-k-per-stratum deterministic sample (k=5 per source) by
    md5-hash order — uniform-without-replacement, one shuffle on the
    stratum key, stable under retries."""
    from osm2geojson_spark.operators.corpus import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(docs, "source", "doc_id", k=5).select(
        "source", "doc_id", "rk"
    )


_SQL_SAMPLE_STRATIFIED = """
SELECT source, doc_id, CAST(rn AS INT) AS rk FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rn
  FROM documents) AS r
WHERE (rn <= 5)
"""


def q_boilerplate_strip(spark, sf_dir):
    """C4-style repeated-boilerplate removal over aligned 8-token
    chunks: chunks occurring in ≥2 distinct docs are stripped and the
    document reassembled in order (sort_array(collect_list(struct)))."""
    from osm2geojson_spark.operators.corpus import boilerplate_strip

    return boilerplate_strip(_docs(spark, sf_dir), chunk_tokens=8, min_df=2)


_SQL_BOILERPLATE_STRIP = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS ts
  FROM documents),
c AS (
  SELECT doc_id,
         unnest(range(1, (len(ts) + 1), 8)) AS idx,
         unnest(list_transform(range(1, (len(ts) + 1), 8),
                               i -> array_to_string(ts[i:(i + 7)], ' '))) AS ch
  FROM t WHERE (len(ts) >= 1)),
d AS (SELECT ch, COUNT(DISTINCT doc_id) AS dfreq FROM c GROUP BY 1),
f AS (
  SELECT c.doc_id, c.idx, c.ch, (d.dfreq < 2) AS keep
  FROM c JOIN d USING (ch)),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         COALESCE(string_agg(CASE WHEN keep THEN ch END, ' ' ORDER BY idx),
                  '') AS clean
  FROM f GROUP BY 1)
SELECT doc_id, n_chunks, n_removed,
       CAST(length(list_filter(regexp_split_to_array(trim(clean), '\\s+'),
                               x -> x != '')) AS BIGINT) AS clean_ntok,
       md5(clean) AS clean_md5
FROM agg
"""


def q_fuzzy_join(spark, sf_dir):
    """Entity resolution between two sources with misaligned keys: a
    deterministically dirtied registry (per-key deletion / insertion /
    double substitution) linked back to the clean customer table by
    blocking on the last-2-digit key + Levenshtein <= 2 verify. The
    blocked equi-join is the ONLY shuffle; the edit-distance runs
    JVM-side with Spark's early-exit threshold form. Oracle: DuckDB
    builds the same dirty twin and uses its native levenshtein()."""
    from osm2geojson_spark.operators.linkage import fuzzy_match_pairs

    cust = _t(spark, sf_dir, "customer")
    clean = cust.select(F.col("c_custkey").alias("id"),
                        F.col("c_name").alias("name"))
    dirty = cust.select(
        F.col("c_custkey").alias("id"),
        F.expr("""
          CASE WHEN ((c_custkey % 3) = 0)
                 THEN (substring(c_name, 1, 3) || substring(c_name, 5))
               WHEN ((c_custkey % 3) = 1)
                 THEN (substring(c_name, 1, 5) || 'X'
                       || substring(c_name, 6))
               ELSE ('K' || substring(c_name, 2, 7) || '-'
                     || substring(c_name, 10))
          END""").alias("name"))
    pairs = fuzzy_match_pairs(
        clean, dirty,
        block_expr=lambda name: F.substring(name, -2, 2),
        max_distance=2)
    return (pairs.select("id_a", "id_b", "name_a", "name_b", "dist")
            .orderBy("id_a", "id_b"))


_SQL_FUZZY_JOIN = """
WITH dirty AS (
  SELECT c_custkey AS id,
         (CASE WHEN ((c_custkey % 3) = 0)
                 THEN (substr(c_name, 1, 3) || substr(c_name, 5))
               WHEN ((c_custkey % 3) = 1)
                 THEN (substr(c_name, 1, 5) || 'X' || substr(c_name, 6))
               ELSE ('K' || substr(c_name, 2, 7) || '-'
                     || substr(c_name, 10))
          END) AS name
  FROM customer),
clean AS (SELECT c_custkey AS id, c_name AS name FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM clean a JOIN dirty b
  ON (right(a.name, 2) = right(b.name, 2))
WHERE (levenshtein(a.name, b.name) <= 2)
ORDER BY id_a, id_b
"""


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the event stream: one
    lead() window per user (ts, event_id total order), then a count
    shuffle on the (from, to) pair; transition probability in exact
    ppm fixed point (integer div — no float summation, bit-exact
    partials at any parallelism)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.select(F.col("event_type").alias("from_type"),
                    F.lead("event_type").over(w).alias("to_type"))
          .where(F.col("to_type").isNotNull()))
    counts = tr.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("from_type")
    return (counts
            .withColumn("total", F.sum("n").over(tot))
            .select("from_type", "to_type", "n",
                    F.expr("(n * 1000000) div total")
                     .cast("long").alias("p_ppm"))
            .orderBy("from_type", "to_type"))


_SQL_EVENT_TRANSITIONS = """
WITH tr AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM tr WHERE (to_type IS NOT NULL)
  GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       CAST(((n * 1000000) // SUM(n) OVER (PARTITION BY from_type))
            AS BIGINT) AS p_ppm
FROM counts
ORDER BY from_type, to_type
"""


def q_link_predict(spark, sf_dir):
    """Common-neighbor link prediction over the repeat-co-purchase
    graph (parts co-bought in >= 2 orders): wedge equi-join on the
    middle vertex, resource-allocation score in exact ppm ints,
    anti-join removes existing edges. Edge building reuses the
    map-side basket HOF (no basket self-join); the oracle takes the
    self-join route end-to-end — two independent paths to the same
    scores."""
    from osm2geojson_spark.operators.linkage import link_prediction

    li = _t(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    n = F.size("parts")
    pair_rows = (baskets.where(n >= 2)
                 .select(F.explode(F.flatten(F.transform(
                     F.sequence(F.lit(0), n - 2),
                     lambda i: F.transform(
                         F.slice(F.col("parts"), i + 2, n - 1 - i),
                         lambda b: F.struct(
                             F.element_at(F.col("parts"), (i + 1)
                                          .cast("int")).alias("src"),
                             b.alias("dst")))))).alias("p"))
                 .select("p.src", "p.dst"))
    edges = (pair_rows.groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("n_orders"))
             .where(F.col("n_orders") >= 2)
             .select("src", "dst"))
    return (link_prediction(edges)
            .orderBy(F.col("common").desc(), F.col("ra_ppm").desc(),
                     "src", "dst")
            .limit(500))


_SQL_LINK_PREDICT = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM d a JOIN d b
    ON ((b.l_orderkey = a.l_orderkey) AND (a.l_partkey < b.l_partkey))
  GROUP BY a.l_partkey, b.l_partkey
  HAVING (COUNT(*) >= 2)),
und AS (SELECT src AS x, dst AS y FROM e
        UNION ALL SELECT dst AS x, src AS y FROM e),
deg AS (SELECT x, COUNT(*) AS deg FROM und GROUP BY x),
adj AS (SELECT und.x, und.y, deg.deg FROM und JOIN deg USING (x)),
wedges AS (
  SELECT l.y AS src, r.y AS dst, l.deg AS mdeg
  FROM adj l JOIN adj r ON (l.x = r.x)
  WHERE (l.y < r.y)),
scored AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS common,
         CAST(SUM((1000000 // mdeg)) AS BIGINT) AS ra_ppm
  FROM wedges GROUP BY src, dst)
SELECT s.src, s.dst, s.common, s.ra_ppm
FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM e
                  WHERE ((e.src = s.src) AND (e.dst = s.dst)))
ORDER BY common DESC, ra_ppm DESC, src, dst
LIMIT 500
"""


def q_ewma(spark, sf_dir):
    """Per-user EWMA of the event value (alpha 0.25): one key shuffle,
    then a LEFT-TO-RIGHT F.aggregate fold in (sec, event_id) order —
    the IDW/trajectory determinism pattern, so DuckDB's list_reduce
    over the same ORDER BY list reproduces the doubles bit-for-bit."""
    from osm2geojson_spark.operators.timeseries import ewma_last

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .alias("sec"))
    return (ewma_last(ev, "user_id", "sec", "event_id", "value",
                      alpha=0.25)
            .orderBy("user_id"))


_SQL_EWMA = """
WITH ev AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
series AS (
  SELECT user_id,
         list(value ORDER BY sec ASC, event_id ASC) AS vs
  FROM ev GROUP BY user_id)
SELECT user_id,
       CAST(len(vs) AS BIGINT) AS n_events,
       vs[len(vs)] AS last_value,
       CAST(list_reduce(vs, (a, b) -> (a + ((b - a) * 0.25)))
            AS DOUBLE) AS ewma
FROM series
ORDER BY user_id
"""


def q_gap_fill(spark, sf_dir):
    """Resampling with linear interpolation: every whole-minute grid
    instant strictly inside each consecutive-event gap gets
    v0 + (v1-v0)*(t-t0)/(t1-t0). Grid enumeration is pure int64 div
    (identical truncation in both engines); the interpolation
    expression is written identically on both sides (bit-exact
    doubles). One lead() window + an explode — no join. Catalog entry
    uses the HOURLY grid over a 1-in-10 user sample to keep the
    compare-gate output bounded (the minute grid at sf0.01 is 6.3M
    rows — fine for the engine, hostile to a value-hash diff)."""
    from osm2geojson_spark.operators.timeseries import gap_fill_linear

    ev = (_t(spark, sf_dir, "events")
          .where((F.col("user_id") % 10) == 0)
          .select(
              "user_id", "event_id", "value",
              F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ "
                     "'1970-01-01 00:00:00', ts)").alias("sec")))
    return (gap_fill_linear(ev, "user_id", "sec", "event_id", "value",
                            step=3600)
            .orderBy("user_id", "t_sec"))


_SQL_GAP_FILL = """
WITH ev AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
  WHERE ((user_id % 10) = 0)),
nx AS (
  SELECT user_id, sec AS t0, value AS v0,
         LEAD(sec) OVER w AS t1, LEAD(value) OVER w AS v1
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
gaps AS (
  SELECT * FROM nx
  WHERE ((t1 IS NOT NULL)
         AND (((t1 - 1) // 3600) >= ((t0 // 3600) + 1)))),
grid AS (
  SELECT user_id, t0, v0, t1, v1,
         unnest(range(((t0 // 3600) + 1), (((t1 - 1) // 3600) + 1)))
           AS mi
  FROM gaps)
SELECT user_id,
       CAST((mi * 3600) AS BIGINT) AS t_sec,
       (v0 + ((v1 - v0)
              * (CAST(((mi * 3600) - t0) AS DOUBLE)
                 / CAST((t1 - t0) AS DOUBLE)))) AS value_interp
FROM grid
ORDER BY user_id, t_sec
"""


def q_image_blobs(spark, sf_dir):
    """Bright-region connected components per image over the full
    9-format rotation: integer luma threshold, 4-connected labels by
    numpy min-propagation, exact integer summary incl. the sum(size²)
    partition fingerprint. Oracle: pyref literal table labeled by an
    explicit python BFS flood fill — an independent labeling route."""
    from osm2geojson_spark.operators.images import blob_stats
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    return (blob_stats(imgs, luma_threshold=128)
            .select("image_id", "fmt", "n_fg", "n_blobs", "max_blob",
                    "blob_sq_sum")
            .orderBy("image_id"))


def _sql_image_blobs() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_blobs(n=300, seed=42)
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("fmt", "VARCHAR"),
               ("n_fg", "BIGINT"), ("n_blobs", "BIGINT"),
               ("max_blob", "BIGINT"), ("blob_sq_sum", "BIGINT")]) \
        + " ORDER BY image_id"


def q_image_borders(spark, sf_dir):
    """Letterbox/pillarbox margin detection over a deterministic
    lossless-codec corpus with planted 0-3 px black bars per side:
    exact-match margin scan against the two reference corners, content
    box derived. The crop-before-train curation op. Oracle: pyref
    literal table via python-loop scans."""
    from osm2geojson_spark.operators.images import border_margins
    from osm2geojson_spark.synth.images import letterboxed_images_table

    imgs = letterboxed_images_table(spark, n=300, seed=42)
    return (border_margins(imgs)
            .select("image_id", "fmt", "top", "bottom", "left_m",
                    "right_m", "content_w", "content_h")
            .orderBy("image_id"))


def _sql_image_borders() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_borders(n=300, seed=42)
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("fmt", "VARCHAR"),
               ("top", "INTEGER"), ("bottom", "INTEGER"),
               ("left_m", "INTEGER"), ("right_m", "INTEGER"),
               ("content_w", "INTEGER"), ("content_h", "INTEGER")]) \
        + " ORDER BY image_id"


_DBSCAN_X = """
CASE WHEN ((id % 10) = 0)
     THEN (((id * 2654435761) + 97) % 360000000)
     ELSE ((1000000 + (((id % 50) * 7246889) % 358000000))
           + (((id * 2654435761)
               % (CASE WHEN ((id % 7) = 3) THEN 900001 ELSE 200001 END))
              - (CASE WHEN ((id % 7) = 3) THEN 450000 ELSE 100000 END)))
END"""
_DBSCAN_Y = """
CASE WHEN ((id % 10) = 0)
     THEN (((id * 2246822519) + 31) % 170000000)
     ELSE ((1000000 + (((id % 50) * 9576891) % 168000000))
           + (((id * 2246822519)
               % (CASE WHEN ((id % 7) = 3) THEN 900001 ELSE 200001 END))
              - (CASE WHEN ((id % 7) = 3) THEN 450000 ELSE 100000 END)))
END"""


def q_dbscan(spark, sf_dir):
    """EXACT eps-DBSCAN (grid_cluster is the approximation; this is
    the real definition) over a deterministic 50-cluster mixture with
    a fringe band and 10% scattered noise — all int64 formulas, both
    engines synthesize identical points. Candidates via ONE 9-image
    cell equi-join, cores by exact integer eps-count, clusters = CC of
    the core-core graph (distributed min-label propagation), border
    ties broken to the smallest adjacent cluster. Oracle replays the
    cell join in SQL and closes components with a recursive CTE."""
    from osm2geojson_spark.spatial.cluster import dbscan

    pts = spark.range(4000).select(
        "id",
        F.expr(_DBSCAN_X).alias("x"),
        F.expr(_DBSCAN_Y).alias("y"))
    return dbscan(pts, eps=250_000, min_pts=6).orderBy("id")


_SQL_DBSCAN = f"""
WITH RECURSIVE pts AS (
  SELECT id, ({_DBSCAN_X}) AS x, ({_DBSCAN_Y}) AS y
  FROM (SELECT range AS id FROM range(4000))),
cel AS (SELECT id, x, y, (x // 250000) AS cx, (y // 250000) AS cy
        FROM pts),
img AS (SELECT id AS id_b, x AS xb, y AS yb,
               (cx + o.dx) AS cx, (cy + o.dy) AS cy
        FROM cel CROSS JOIN (VALUES (-1, -1), (-1, 0), (-1, 1),
                                    (0, -1), (0, 0), (0, 1),
                                    (1, -1), (1, 0), (1, 1))
             AS o(dx, dy)),
prs AS (SELECT a.id AS id_a, i.id_b
        FROM cel a JOIN img i ON ((i.cx = a.cx) AND (i.cy = a.cy))
        WHERE ((a.id != i.id_b)
               AND ((((a.x - i.xb) * (a.x - i.xb))
                     + ((a.y - i.yb) * (a.y - i.yb)))
                    <= 62500000000))),
cnt AS (SELECT id_a, COUNT(*) AS nn FROM prs GROUP BY id_a),
core AS (SELECT id_a AS id FROM cnt WHERE ((nn + 1) >= 6)),
ce AS (SELECT p.id_a AS src, p.id_b AS dst FROM prs p
       WHERE ((p.id_a IN (SELECT id FROM core))
              AND (p.id_b IN (SELECT id FROM core)))),
reach(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.dst AS id, reach.r AS r
  FROM reach JOIN ce e ON (e.src = reach.id)),
clab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
bord AS (
  SELECT p.id_a AS id, MIN(c.cluster_id) AS cluster_id
  FROM prs p JOIN clab c ON (c.id = p.id_b)
  WHERE (p.id_a NOT IN (SELECT id FROM core))
  GROUP BY p.id_a)
SELECT t.id AS id,
       (CASE WHEN (cl.id IS NOT NULL) THEN 'core'
             WHEN (b.id IS NOT NULL) THEN 'border'
             ELSE 'noise' END) AS role,
       CAST(COALESCE(cl.cluster_id, b.cluster_id, -1) AS BIGINT)
         AS cluster_id
FROM pts t
LEFT JOIN clab cl ON (cl.id = t.id)
LEFT JOIN bord b ON (b.id = t.id)
ORDER BY id
"""


def q_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION at corpus scale: train 24 merges (the
    oracle-proven distributed trainer), then encode every document —
    each merge is a JVM carry-scan over the word's symbol array, the
    whole encode stays codegen (no Python in the hot path). The merge
    list is O(vocab) driver data by design — exactly what a production
    job broadcasts. Oracle: pyref literal table (python replay of the
    same greedy semantics)."""
    from osm2geojson_spark.operators.bpe import apply_bpe, train_bpe

    docs = _docs(spark, sf_dir)
    merges_df = train_bpe(docs, num_merges=24)
    merges = [(r["left"], r["right"])
              for r in merges_df.orderBy("rank").collect()]
    return apply_bpe(docs, merges).orderBy("doc_id")


def _sql_bpe_encode() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_bpe_encode(
        _oracle_parquet("documents", ["doc_id", "text"]), num_merges=24)
    return pyref.values_sql(
        rows, [("doc_id", "BIGINT"), ("n_words", "BIGINT"),
               ("n_bpe_tokens", "BIGINT")]) + " ORDER BY doc_id"


def q_anomaly_zscore(spark, sf_dir):
    """Per-event-type z-score outliers: moments via exact decimal sums
    (order-independent partials — the pricing discipline), then the
    mean/variance/z expressions written IDENTICALLY in both engines so
    every double matches bit-for-bit (sqrt is correctly rounded). The
    5-row stats table broadcasts back onto the stream; one shuffle
    total. The squares sum uses scale 4, NOT 12: the decimal→double
    cast is only exact while the decimal's RAW integer stays under
    2^53 (the documented DuckDB lossy-cast trap — scale 12 tripped it
    at a mere 1e7 sum; scale 4 has headroom through sf10)."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("value")).alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,4)"))
         .cast("double").alias("ss"))
    j = ev.join(F.broadcast(stats), "event_type")
    mean = "(s / CAST(n AS DOUBLE))"
    var = (f"((ss - (CAST(n AS DOUBLE) * ({mean} * {mean})))"
           " / CAST(n AS DOUBLE))")
    z = f"((value - {mean}) / sqrt({var}))"
    return (j.select("event_id", "event_type", "value",
                     F.expr(z).alias("z"))
            .where(F.expr(f"abs({z}) > 2.5"))
            .orderBy("event_id"))


_SQL_ANOMALY_ZSCORE = """
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST((value * value) AS DECIMAL(38,4))) AS DOUBLE)
           AS ss
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       ((e.value - (s / CAST(n AS DOUBLE)))
        / sqrt(((ss - (CAST(n AS DOUBLE)
                       * ((s / CAST(n AS DOUBLE))
                          * (s / CAST(n AS DOUBLE)))))
                / CAST(n AS DOUBLE)))) AS z
FROM events e JOIN stats USING (event_type)
WHERE (abs(((e.value - (s / CAST(n AS DOUBLE)))
            / sqrt(((ss - (CAST(n AS DOUBLE)
                           * ((s / CAST(n AS DOUBLE))
                              * (s / CAST(n AS DOUBLE)))))
                    / CAST(n AS DOUBLE))))) > 2.5)
ORDER BY e.event_id
"""


def q_line_merge(spark, sf_dir):
    """JTS-style linemerge / OSM way stitching over a deterministic
    grid world (6 horizontal polylines crossed by 4 vertical ones):
    chains extend through degree-2 nodes, break at junctions (crossing
    nodes have degree 4, T-nodes 3) and turn corners where exactly two
    terminals meet. Links come from ONE deg-2-restricted equi-join
    (each deg-2 node emits exactly one pair — no fanout); chains close
    via the distributed min-label CC. Oracle replays degrees + links
    in SQL and closes with a recursive CTE."""
    from osm2geojson_spark.spatial.linemerge import merge_lines

    rows_df = spark.range(354).select(
        F.col("id").alias("seg_id"),
        F.expr("(((id div 59) * 10) * 1000) + (id % 59)")
         .alias("node_a"),
        F.expr("((((id div 59) * 10) * 1000) + (id % 59)) + 1")
         .alias("node_b"))
    cols_df = spark.range(236).select(
        (F.col("id") + 1000).alias("seg_id"),
        F.expr("((id % 59) * 1000) + ((id div 59) * 15)")
         .alias("node_a"),
        F.expr("(((id % 59) + 1) * 1000) + ((id div 59) * 15)")
         .alias("node_b"))
    segs = rows_df.unionByName(cols_df)
    return (merge_lines(segs, max_iters=60)
            .orderBy("chain_id"))


_SQL_LINE_MERGE = """
WITH RECURSIVE segs AS (
  SELECT id AS seg_id,
         ((((id // 59) * 10) * 1000) + (id % 59)) AS node_a,
         (((((id // 59) * 10) * 1000) + (id % 59)) + 1) AS node_b
  FROM (SELECT range AS id FROM range(354))
  UNION ALL
  SELECT (id + 1000) AS seg_id,
         (((id % 59) * 1000) + ((id // 59) * 15)) AS node_a,
         ((((id % 59) + 1) * 1000) + ((id // 59) * 15)) AS node_b
  FROM (SELECT range AS id FROM range(236))),
ends AS (
  SELECT seg_id, node_a AS node FROM segs
  UNION ALL
  SELECT seg_id, node_b AS node FROM segs),
deg2 AS (SELECT node FROM ends GROUP BY node HAVING (COUNT(*) = 2)),
lnk AS (
  SELECT a.seg_id AS src, b.seg_id AS dst
  FROM ends a JOIN ends b ON (a.node = b.node)
  WHERE ((a.seg_id != b.seg_id)
         AND (a.node IN (SELECT node FROM deg2)))),
reach(id, r) AS (
  SELECT seg_id, seg_id FROM segs
  UNION
  SELECT e.dst AS id, reach.r AS r
  FROM reach JOIN lnk e ON (e.src = reach.id)),
lab AS (SELECT id AS seg_id, MIN(r) AS chain_id FROM reach GROUP BY id)
SELECT chain_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(seg_id) AS BIGINT) AS seg_sum
FROM lab GROUP BY chain_id
ORDER BY chain_id
"""


def q_colocation(spark, sf_dir):
    """Spatiotemporal co-location (co-travel detection): pings within
    500k µdeg AND 30 min of each other, users in 20 deterministic
    city hotspots with ±1M µdeg per-event jitter. ONE 27-image bucket
    equi-join (space 3x3 × time 3) — both marginal joins exist in the
    engine; this is the combined primitive. Rolled up to user pairs
    with exact integer d2/dt fingerprints. Oracle replays the buckets
    as a range join."""
    from osm2geojson_spark.spatial.colocation import cotravel_counts

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("(1000000 + (((user_id % 20) * 7246889) % 358000000))"
               " + (((event_id * 2654435761) % 2000001) - 1000000)")
         .alias("x"),
        F.expr("(1000000 + (((user_id % 20) * 9576891) % 168000000))"
               " + (((event_id * 2246822519) % 2000001) - 1000000)")
         .alias("y"),
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ "
               "'1970-01-01 00:00:00', ts)").alias("sec"))
    return (cotravel_counts(ev, eps=500_000, window_sec=1800)
            .orderBy("user_a", "user_b"))


_SQL_COLOCATION = """
WITH ev AS (
  SELECT event_id, user_id,
         ((1000000 + (((user_id % 20) * 7246889) % 358000000))
          + (((event_id * 2654435761) % 2000001) - 1000000)) AS x,
         ((1000000 + (((user_id % 20) * 9576891) % 168000000))
          + (((event_id * 2246822519) % 2000001) - 1000000)) AS y,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
cel AS (SELECT *, (x // 500000) AS cx, (y // 500000) AS cy,
               (sec // 1800) AS tb
        FROM ev),
prs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         (((a.x - b.x) * (a.x - b.x))
          + ((a.y - b.y) * (a.y - b.y))) AS d2,
         abs(a.sec - b.sec) AS dt_sec
  FROM cel a JOIN cel b
    ON ((b.cx BETWEEN (a.cx - 1) AND (a.cx + 1))
        AND (b.cy BETWEEN (a.cy - 1) AND (a.cy + 1))
        AND (b.tb BETWEEN (a.tb - 1) AND (a.tb + 1)))
  WHERE ((a.user_id < b.user_id)
         AND ((((a.x - b.x) * (a.x - b.x))
               + ((a.y - b.y) * (a.y - b.y))) <= 250000000000)
         AND (abs(a.sec - b.sec) <= 1800)))
SELECT user_a, user_b,
       CAST(COUNT(*) AS BIGINT) AS n_meetings,
       CAST(SUM(d2) AS BIGINT) AS d2_sum,
       CAST(SUM(dt_sec) AS BIGINT) AS dt_sum
FROM prs GROUP BY user_a, user_b
ORDER BY user_a, user_b
"""


def q_dem_upsample(spark, sf_dir):
    """EXACT 2x bilinear raster upsample on the tiled DEM (values ×4
    so halves/quarters stay int64): the same halo-exchange substrate
    as focal_sum — right/bottom/diagonal samples come from the shipped
    strips, edge replication IS the coordinate clamp. Oracle computes
    every output pixel closed-form (4 clamped DEM terms, no join)."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, 2, 2, t)
    out = focal_op(tiles, op="bilin2x", tile_size=t)
    t2 = 2 * t
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "v4"))
        .select(
            (F.col("tx") * t2 + F.col("i") % t2).alias("x"),
            (F.col("ty") * t2 + (F.col("i") - F.col("i") % t2) / t2)
            .cast("long").alias("y"),
            "v4")
        .orderBy("y", "x"))


def _sql_dem_upsample() -> str:
    w = _FOCAL_T * 2  # 2x2 tiles of _FOCAL_T

    def f(a, b):
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    x0, y0 = "(x // 2)", "(y // 2)"
    x1 = f"least(((x // 2) + (x % 2)), {w - 1})"
    y1 = f"least(((y // 2) + (y % 2)), {w - 1})"
    v4 = " + ".join([f(x0, y0), f(x1, y0), f(x0, y1), f(x1, y1)])
    return f"""
WITH xs AS (SELECT unnest(range(0, {2 * w})) AS x),
ys AS (SELECT unnest(range(0, {2 * w})) AS y)
SELECT x, y, ({v4}) AS v4
FROM xs, ys
ORDER BY y, x
"""


def q_skyline(spark, sf_dir):
    """3-D Pareto skyline over lineitem (dims = modular int64 mixes of
    the keys, all minimized): pivot prefilter (one agg + broadcast) →
    per-partition numpy local skylines → bounded exact merge. The
    oracle replays the ALGEBRA, not the algorithm: the same min-sum
    pivot prefilter (sound by dominance transitivity, and it leaves
    only a few hundred candidates) then literal NOT-EXISTS dominance."""
    from osm2geojson_spark.operators.skyline import skyline

    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_orderkey", "l_linenumber",
        F.expr("((l_orderkey * 2654435761 + l_linenumber) % 1000003)")
        .alias("c1"),
        F.expr("((l_partkey * 2246822519 + l_orderkey) % 1000033)")
        .alias("c2"),
        F.expr("((l_suppkey * 3266489917 + l_linenumber * 7"
               " + l_orderkey * 3) % 1000151)").alias("c3"))
    return (skyline(pts, ["c1", "c2", "c3"])
            .orderBy("c1", "c2", "c3", "l_orderkey", "l_linenumber"))


_SQL_SKYLINE = """
WITH pts AS (
  SELECT l_orderkey, l_linenumber,
         ((l_orderkey * 2654435761 + l_linenumber) % 1000003) AS c1,
         ((l_partkey * 2246822519 + l_orderkey) % 1000033) AS c2,
         ((l_suppkey * 3266489917 + l_linenumber * 7
           + l_orderkey * 3) % 1000151) AS c3
  FROM lineitem),
piv AS (
  SELECT c1 AS p1, c2 AS p2, c3 AS p3 FROM pts
  ORDER BY (c1 + c2 + c3), c1, c2, c3 LIMIT 1),
cand AS (
  SELECT p.* FROM pts p, piv
  WHERE NOT ((p1 <= c1 AND p2 <= c2 AND p3 <= c3)
             AND (p1 < c1 OR p2 < c2 OR p3 < c3)))
SELECT l_orderkey, l_linenumber, c1, c2, c3
FROM cand p
WHERE NOT EXISTS (
  SELECT 1 FROM cand q
  WHERE q.c1 <= p.c1 AND q.c2 <= p.c2 AND q.c3 <= p.c3
    AND (q.c1 < p.c1 OR q.c2 < p.c2 OR q.c3 < p.c3))
ORDER BY c1, c2, c3, l_orderkey, l_linenumber
"""


def q_shard_pack(spark, sf_dir):
    """WebDataset-style training-shard manifests: every document gets a
    deterministic global byte offset in shuffled (modular-bijection)
    order via the strpack bucketed distributed prefix sum — no 1-task
    global window — then shard = offset div capacity and one manifest
    aggregation (count, bytes, first/last doc in shard order)."""
    from osm2geojson_spark.operators.shards import (
        pack_shards, shard_manifest)

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.expr("((doc_id * 2654435761) % 999999937)").alias("okey"))
    a = pack_shards(docs, size_col="n_chars", order_col="okey",
                    bucket=F.expr("okey div 1048576"), capacity=32768)
    return (shard_manifest(a, id_col="doc_id", size_col="n_chars",
                           order_col="okey")
            .orderBy("shard_id"))


_SQL_SHARD_PACK = """
WITH o AS (
  SELECT doc_id, n_chars,
         ((doc_id * 2654435761) % 999999937) AS okey
  FROM documents),
c AS (
  SELECT doc_id, n_chars, okey,
         COALESCE(SUM(n_chars) OVER (
           ORDER BY okey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
  FROM o),
a AS (SELECT doc_id, n_chars, okey, (pos // 32768) AS shard_id FROM c)
SELECT shard_id,
       COUNT(*) AS n_items,
       CAST(SUM(n_chars) AS BIGINT) AS bytes,
       arg_min(doc_id, okey) AS first_id,
       arg_max(doc_id, okey) AS last_id
FROM a GROUP BY shard_id
ORDER BY shard_id
"""


def q_scd2_build(spark, sf_dir):
    """SCD type-2 dimension build from the event changelog: per-user
    change detection (lag) → segment numbering (cumulative flag sum) →
    validity intervals closed off by lead(valid_from); the open current
    version carries valid_to = -1. Pure window algebra, identical in
    both engines."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
               " ts)").alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("event_type").over(w)
    flagged = ev.withColumn(
        "new_seg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1)
        .otherwise(0))
    seg = flagged.withColumn(
        "version",
        F.sum("new_seg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    g = seg.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("sec").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"))
    wv = Window.partitionBy("user_id").orderBy("version")
    return (g.select(
        "user_id", "version", "event_type", "valid_from",
        F.coalesce(F.lead("valid_from").over(wv), F.lit(-1).cast("long"))
        .alias("valid_to"),
        "n_events")
        .orderBy("user_id", "version"))


_SQL_SCD2_BUILD = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
f AS (
  SELECT *,
         (CASE WHEN (LAG(event_type) OVER w IS NULL)
                    OR (LAG(event_type) OVER w <> event_type)
               THEN 1 ELSE 0 END) AS new_seg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
s AS (
  SELECT *,
         CAST(SUM(new_seg) OVER (
           PARTITION BY user_id ORDER BY sec, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS version
  FROM f),
g AS (
  SELECT user_id, version, MIN(event_type) AS event_type,
         MIN(sec) AS valid_from, COUNT(*) AS n_events
  FROM s GROUP BY user_id, version)
SELECT user_id, version, event_type, valid_from,
       COALESCE(LEAD(valid_from) OVER (
         PARTITION BY user_id ORDER BY version), -1) AS valid_to,
       n_events
FROM g
ORDER BY user_id, version
"""


def q_twap(spark, sf_dir):
    """Time-weighted average price per user over the irregular event
    stream: each sample holds until the next one (step function), so
    TWAP = Σ value·dur / Σ dur. value goes through DECIMAL(18,2)
    BEFORE the multiply (exact, order-independent partials — the
    pricing discipline; scale 2 keeps the summed raw integer far under
    2^53, the documented lossy-cast trap), one double division at the
    end."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
               " ts)").alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    d = (ev.withColumn("dur", F.lead("sec").over(w) - F.col("sec"))
         .where(F.col("dur").isNotNull())
         .withColumn(
             "vd",
             F.col("value").cast("decimal(18,2)")
             * F.col("dur").cast("decimal(18,0)")))
    return (d.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_holds"),
                 F.sum("dur").alias("total_dur"),
                 F.sum("vd").alias("_sv"))
            .where(F.col("total_dur") > 0)
            .select("user_id", "n_holds", "total_dur",
                    (F.col("_sv").cast("double")
                     / F.col("total_dur").cast("double")).alias("twap"))
            .orderBy("user_id"))


_SQL_TWAP = """
WITH e AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
d AS (
  SELECT user_id,
         (LEAD(sec) OVER w - sec) AS dur,
         (CAST(value AS DECIMAL(18,2)) * CAST((LEAD(sec) OVER w - sec)
            AS DECIMAL(18,0))) AS vd
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
g AS (
  SELECT user_id, COUNT(*) AS n_holds,
         CAST(SUM(dur) AS BIGINT) AS total_dur, SUM(vd) AS sv
  FROM d WHERE dur IS NOT NULL GROUP BY user_id)
SELECT user_id, n_holds, total_dur,
       (CAST(sv AS DOUBLE) / CAST(total_dur AS DOUBLE)) AS twap
FROM g WHERE total_dur > 0
ORDER BY user_id
"""


def q_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over the scene-structured clip corpus:
    exact int64 inter-frame squared-diff sums in one sequential decode
    pass per clip, cut iff d2 > 100·npix (integer compare). In-scene
    deltas are exactly 9·npix by construction, boundaries ≈ 6,600·npix.
    Oracle: pyref literal table via direct fpack slicing."""
    from osm2geojson_spark.operators.video import scene_cuts
    from osm2geojson_spark.synth.video import scene_video_table

    vids = scene_video_table(spark, n=300, seed=42)
    return (scene_cuts(vids, thr_per_px=100)
            .where(F.col("error").isNull())
            .select("media_id", "cut_at", "d2")
            .orderBy("media_id", "cut_at"))


def _sql_scene_cuts() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_scene_cuts(n=300, seed=42)
    return pyref.values_sql(
        rows, [("media_id", "VARCHAR"), ("cut_at", "INTEGER"),
               ("d2", "BIGINT")]) + " ORDER BY media_id, cut_at"


def q_shot_phash(spark, sf_dir):
    """Shot-level video signatures over the shot-pool dup corpus: cuts
    via the scene_cuts integer threshold, one phash64 per shot's first
    frame, single sequential decode pass per clip. Oracle: pyref
    literal table (direct fpack slicing, same phash64)."""
    from osm2geojson_spark.operators.video import shot_signatures
    from osm2geojson_spark.synth.video import shotpool_video_table

    vids = shotpool_video_table(spark, n=240, seed=0)
    return (shot_signatures(vids, thr_per_px=100)
            .where(F.col("error").isNull())
            .select("media_id", "shot_idx", "start_frame",
                    "n_frames", "phash")
            .orderBy("media_id", "shot_idx"))


def _sql_shot_phash() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_shot_signatures(n=240, seed=0)
    return pyref.values_sql(
        rows, [("media_id", "VARCHAR"), ("shot_idx", "INTEGER"),
               ("start_frame", "INTEGER"), ("n_frames", "INTEGER"),
               ("phash", "BIGINT")]) + " ORDER BY media_id, shot_idx"


def q_video_dedup(spark, sf_dir):
    """Near-duplicate VIDEO pairs: distinct shot-phash sets equi-joined
    on phash (the only data-sized shuffle), shared-shot counts ≥ 2,
    exact integer-ppm Jaccard. Oracle: DuckDB runs the same set algebra
    over the pyref shot-signature literal table — only the signatures
    are shared; the dedup join/agg logic is checked cross-engine."""
    from osm2geojson_spark.operators.video import (
        shot_signatures,
        video_dup_pairs,
    )
    from osm2geojson_spark.synth.video import shotpool_video_table

    vids = shotpool_video_table(spark, n=240, seed=0)
    return (video_dup_pairs(shot_signatures(vids, thr_per_px=100),
                            min_shared=2)
            .orderBy("id_a", "id_b"))


def _sql_video_dedup() -> str:
    from osm2geojson_spark import pyref

    rows = [(m, h) for (m, _s, _st, _nf, h)
            in pyref.ref_shot_signatures(n=240, seed=0)]
    vals = pyref.values_sql(rows, [("media_id", "VARCHAR"),
                                   ("phash", "BIGINT")])
    return f"""
WITH sigs AS (SELECT DISTINCT media_id, phash FROM ({vals}) raw),
cnt AS (SELECT media_id, COUNT(*) AS n_shots FROM sigs GROUP BY media_id),
pairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS shared
  FROM sigs a JOIN sigs b
    ON (a.phash = b.phash) AND (a.media_id < b.media_id)
  GROUP BY a.media_id, b.media_id
)
SELECT p.id_a, p.id_b, p.shared,
       (p.shared * 1000000) // (ca.n_shots + cb.n_shots - p.shared)
         AS jaccard_ppm
FROM pairs p
JOIN cnt ca ON (ca.media_id = p.id_a)
JOIN cnt cb ON (cb.media_id = p.id_b)
WHERE p.shared >= 2
ORDER BY p.id_a, p.id_b
"""


_MORAN_T, _MORAN_TILES, _MORAN_ZT = 32, 8, 2   # 256² px, 16 zones of 64²


def q_moran(spark, sf_dir):
    """Global Moran's I per zone (spatial/autocorr.py): rook-adjacency
    spatial autocorrelation rewritten over five integer power sums so
    the mean-centered statistic is EXACT (the N² scale of dᵢ = N·xᵢ−S
    cancels in the ratio). Tiles ship only their left column + top row
    to same-zone west/north neighbors (half the focal halo), partials
    shrink to one row per tile, zones aggregate in a tiny final agg.
    Oracle: closed-form DEM — DuckDB evaluates neighbor products
    directly from the formula, no join, HUGEINT algebra."""
    from osm2geojson_spark.spatial.autocorr import moran_zone_stats
    from osm2geojson_spark.spatial.focal import synth_dem_tiles

    tiles = synth_dem_tiles(spark, _MORAN_TILES, _MORAN_TILES, _MORAN_T)
    return (moran_zone_stats(tiles, _MORAN_T, _MORAN_ZT)
            .orderBy("zone_y", "zone_x"))


def _sql_moran() -> str:
    t, nt, zt = _MORAN_T, _MORAN_TILES, _MORAN_ZT
    wpx, z = t * nt, t * zt

    def v(ax, ay):
        return (f"(((({ax}) * 73 + ({ay}) * 19) % 100)"
                f" + ((({ax}) * ({ax}) + 3 * (({ay}) * ({ay}))) % 7))")

    return f"""
WITH xs AS (SELECT unnest(range(0, {wpx})) AS x),
ys AS (SELECT unnest(range(0, {wpx})) AS y),
px AS (
  SELECT (x // {z}) AS zone_x, (y // {z}) AS zone_y,
         {v('x', 'y')} AS val,
         (CASE WHEN ((x % {z}) <> {z - 1})
               THEN ({v('x', 'y')} * {v('x + 1', 'y')}) ELSE 0 END) AS hx,
         (CASE WHEN ((y % {z}) <> {z - 1})
               THEN ({v('x', 'y')} * {v('x', 'y + 1')}) ELSE 0 END) AS vy,
         (CASE WHEN ((x % {z}) <> {z - 1})
               THEN (({v('x', 'y')} - {v('x + 1', 'y')})
                     * ({v('x', 'y')} - {v('x + 1', 'y')}))
               ELSE 0 END) AS hd2,
         (CASE WHEN ((y % {z}) <> {z - 1})
               THEN (({v('x', 'y')} - {v('x', 'y + 1')})
                     * ({v('x', 'y')} - {v('x', 'y + 1')}))
               ELSE 0 END) AS vd2,
         (4 - (CASE WHEN ((x % {z}) = 0) THEN 1 ELSE 0 END)
            - (CASE WHEN ((x % {z}) = {z - 1}) THEN 1 ELSE 0 END)
            - (CASE WHEN ((y % {z}) = 0) THEN 1 ELSE 0 END)
            - (CASE WHEN ((y % {z}) = {z - 1}) THEN 1 ELSE 0 END)) AS deg
  FROM xs, ys
),
agg AS (
  SELECT zone_x, zone_y,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(val) AS BIGINT) AS s,
         CAST(SUM(val * val) AS BIGINT) AS q,
         CAST(SUM(hx + vy) AS BIGINT) AS e_xy,
         CAST(SUM(deg * val) AS BIGINT) AS e_dx,
         CAST(SUM(deg) AS BIGINT) AS w,
         CAST(SUM(hd2 + vd2) AS BIGINT) AS e_d2
  FROM px GROUP BY zone_x, zone_y
),
md AS (
  SELECT *,
         ((CAST(n AS HUGEINT) * n * 2 * e_xy)
          - (CAST(2 AS HUGEINT) * n * s * e_dx)
          + (CAST(s AS HUGEINT) * s * w)) AS num_h,
         (CAST(n AS HUGEINT) * ((CAST(n AS HUGEINT) * q)
          - (CAST(s AS HUGEINT) * s))) AS den_h
  FROM agg
)
SELECT zone_x, zone_y, n, s, q, e_xy, e_dx, w, e_d2,
       CAST(num_h AS DECIMAL(38,0)) AS num,
       CAST(den_h AS DECIMAL(38,0)) AS den,
       CAST(((CAST(1000000 AS HUGEINT) * n * num_h)
             // (CAST(w AS HUGEINT) * den_h)) AS BIGINT) AS moran_ppm,
       CAST(((CAST(1000000 AS HUGEINT) * (n - 1) * n * n * e_d2)
             // (CAST(w AS HUGEINT) * den_h)) AS BIGINT) AS geary_ppm
FROM md
ORDER BY zone_y, zone_x
"""


_VS_OX, _VS_OY, _VS_H, _VS_R = 128, 128, 5, 40


def q_viewshed(spark, sf_dir):
    """Exact-R3 viewshed (spatial/viewshed.py): per-target profile
    samples generated as pure column math (posexplode(sequence), zero
    Python), ONE equi-join against the DEM cell table for the profile
    elevations, per-target max of the integer cross-multiplied slope
    test. Oracle: closed-form DEM ⇒ DuckDB evaluates every sample
    in-row with list_filter, NO join — the focal family's two-path
    pattern."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.viewshed import viewshed

    t = _MORAN_T
    tiles = synth_dem_tiles(spark, _MORAN_TILES, _MORAN_TILES, t)
    cells = tiles.select(
        "tx", "ty", F.posexplode("data").alias("i", "e")).select(
        (F.col("tx") * t + F.col("i") % t).alias("x"),
        (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
        .cast("long").alias("y"),
        "e")
    return (viewshed(cells, _VS_OX, _VS_OY, _VS_H, _VS_R)
            .orderBy("y", "x"))


def _sql_viewshed() -> str:
    ox, oy, h, r = _VS_OX, _VS_OY, _VS_H, _VS_R

    def v(ax, ay):
        return (f"(((({ax}) * 73 + ({ay}) * 19) % 100)"
                f" + ((({ax}) * ({ax}) + 3 * (({ay}) * ({ay}))) % 7))")

    eo = f"({v(str(ox), str(oy))} + {h})"
    sx = (f"(CASE WHEN (adx >= ady)"
          f" THEN ({ox} + (k * (CASE WHEN (dx > 0) THEN 1 ELSE -1 END)))"
          f" ELSE ((((2 * {ox}) * ady) + ((2 * k) * dx) + ady)"
          f" // (2 * ady)) END)")
    sy = (f"(CASE WHEN (adx >= ady)"
          f" THEN ((((2 * {oy}) * adx) + ((2 * k) * dy) + adx)"
          f" // (2 * adx))"
          f" ELSE ({oy} + (k * (CASE WHEN (dy > 0) THEN 1 ELSE -1 END)))"
          f" END)")
    blocked = (f"len(list_filter(range(1, delta), k ->"
               f" (({v(sx, sy)} - {eo}) * delta)"
               f" >= ((et - {eo}) * k))) > 0")
    return f"""
WITH xs AS (SELECT unnest(range({ox - r}, {ox + r + 1})) AS x),
ys AS (SELECT unnest(range({oy - r}, {oy + r + 1})) AS y),
tgt AS (
  SELECT x, y, {v('x', 'y')} AS et,
         (x - {ox}) AS dx, (y - {oy}) AS dy,
         abs(x - {ox}) AS adx, abs(y - {oy}) AS ady,
         greatest(abs(x - {ox}), abs(y - {oy})) AS delta
  FROM xs, ys
  WHERE NOT ((x = {ox}) AND (y = {oy}))
)
SELECT x, y, et AS e, delta,
       (CASE WHEN ({blocked}) THEN 0 ELSE 1 END) AS visible
FROM tgt
ORDER BY y, x
"""


def q_gram_matrix(spark, sf_dir):
    """EXACT int64 Gram matrix of the embedding corpus — the one-pass
    second-moment primitive under PCA/whitening/ridge at 100 TB:
    vectors quantized to floor(x·2²⁰) (bit-identical in every engine:
    float32→double is exact, the scale is a power of two), per-Arrow-
    batch numpy int64 matmuls emit upper-triangle partials, a
    d(d+1)/2-row groupBy finishes. Oracle: DuckDB computes the same
    Gram from the raw parquet via unnest + self-join — a genuinely
    different execution route meeting at exact integers."""
    from osm2geojson_spark.operators.similarity import gram_matrix

    emb = _t(spark, sf_dir, "embeddings")
    return gram_matrix(emb).orderBy("i", "j")


_SQL_GRAM_MATRIX = """
WITH e AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
)
SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
FROM e a JOIN e b ON ((a.vec_id = b.vec_id) AND (a.i <= b.i))
GROUP BY a.i, b.i
ORDER BY i, j
"""


def q_pca_project(spark, sf_dir):
    """Top-3 PCA projection, exact end-to-end: integer Gram + moments
    → driver-side centered covariance (O(d²) metadata) → deterministic
    pure-numpy Jacobi eigenvectors (pyref.jacobi_eigh, no LAPACK) →
    int64-quantized components → pure-integer centered projection
    z = (n·q − s)·vq. Oracle: pyref twin runs the identical algebra
    Spark-free on the same parquet."""
    from osm2geojson_spark.operators.similarity import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    return pca_project(emb, k=3).orderBy("vec_id")


def _sql_pca_project() -> str:
    from osm2geojson_spark import pyref

    data = _oracle_parquet("embeddings", ["vec_id", "embedding"])
    rows = pyref.ref_pca_project([r[0] for r in data],
                                 [list(r[1]) for r in data], k=3)
    return pyref.values_sql(
        rows, [("vec_id", "BIGINT"), ("z1", "BIGINT"),
               ("z2", "BIGINT"), ("z3", "BIGINT")]) + " ORDER BY vec_id"


def _chi2_cells(spark, sf_dir):
    from osm2geojson_spark.operators.stats import contingency_chi2

    j = (_t(spark, sf_dir, "orders")
         .join(_t(spark, sf_dir, "customer"),
               F.col("o_custkey") == F.col("c_custkey"))
         .select("o_orderpriority", "c_nationkey"))
    return contingency_chi2(j, "o_orderpriority", "c_nationkey")


def q_chi2_assoc(spark, sf_dir):
    """Exact chi-square contingency cells (operators/stats.py) for
    order priority × customer nation: ONE data-sized shuffle (the
    (a,b) count), marginals aggregated over the metadata-sized cell
    table and broadcast back, zero cells included via distinct²
    cross join. cell_ppm = 10⁶·(O·N − r·c)²/(N·r·c) in DECIMAL —
    pure integers both engines."""
    return _chi2_cells(spark, sf_dir).orderBy("a", "b")


_SQL_CHI2_COMMON = """
WITH j AS (
  SELECT o_orderpriority AS a, c_nationkey AS b
  FROM orders JOIN customer ON (o_custkey = c_custkey)
),
cnt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM j GROUP BY a, b),
grid AS (SELECT ka.a, kb.b
         FROM (SELECT DISTINCT a FROM cnt) ka,
              (SELECT DISTINCT b FROM cnt) kb),
fullg AS (SELECT g.a, g.b, COALESCE(cnt.o, 0) AS o
          FROM grid g LEFT JOIN cnt ON ((g.a = cnt.a) AND (g.b = cnt.b))),
rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM fullg GROUP BY a),
ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM fullg GROUP BY b),
nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM fullg),
cells AS (
  SELECT f.a, f.b, f.o, rt.r, ct.c, nt.n,
         CAST(((CAST(1000000 AS HUGEINT)
                * ((CAST(f.o AS HUGEINT) * nt.n) - (CAST(rt.r AS HUGEINT) * ct.c))
                * ((CAST(f.o AS HUGEINT) * nt.n) - (CAST(rt.r AS HUGEINT) * ct.c)))
               // (CAST(nt.n AS HUGEINT) * rt.r * ct.c)) AS BIGINT) AS cell_ppm
  FROM fullg f
  JOIN rt ON (f.a = rt.a)
  JOIN ct ON (f.b = ct.b)
  CROSS JOIN nt
)
"""

_SQL_CHI2_ASSOC = _SQL_CHI2_COMMON + """
SELECT a, b, o, r, c, n, cell_ppm FROM cells ORDER BY a, b
"""


def q_cramers_v(spark, sf_dir):
    """Cramér's V² (exact ppb) for priority × nation — the one-row
    association summary over the chi2 cell table."""
    from osm2geojson_spark.operators.stats import cramers_v2_ppb

    return cramers_v2_ppb(_chi2_cells(spark, sf_dir))


_SQL_CRAMERS_V = _SQL_CHI2_COMMON + """
SELECT n, n_a, n_b, chi2_ppm,
       CAST(((CAST(1000 AS HUGEINT) * chi2_ppm)
             // (CAST(n AS HUGEINT) * (least(n_a, n_b) - 1))) AS BIGINT)
         AS v2_ppb
FROM (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
         CAST(SUM(cell_ppm) AS BIGINT) AS chi2_ppm
  FROM cells
)
"""


_POLYGONIZE_T, _POLYGONIZE_TILES = 32, 4   # 128² raster


def _polygonize_value_np(gx, gy):
    """Coarse block pattern: equal-value blocks merge across block and
    tile borders into irregular multi-tile regions."""
    return ((gx // 5) * 3 + (gy // 7) * 5) % 4


def q_polygonize(spark, sf_dir):
    """Raster polygonize (spatial/polygonize.py): two-phase distributed
    connected components — map-side per-tile labeling, one labeled-
    strip shuffle for seam edges, boundary-sized min-label CC
    (dup_clusters), partial bbox/count rollup. Region ids are the
    global min cell id. Oracle: pyref whole-raster BFS flood fill —
    a genuinely different route meeting at exact integers."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.polygonize import polygonize

    t, nt = _POLYGONIZE_T, _POLYGONIZE_TILES
    tiles = synth_dem_tiles(spark, nt, nt, t,
                            value_fn=_polygonize_value_np)
    return polygonize(tiles, t, width=t * nt).orderBy("region_id")


def _sql_polygonize() -> str:
    import numpy as np

    from osm2geojson_spark import pyref

    w = _POLYGONIZE_T * _POLYGONIZE_TILES
    gx = np.arange(w, dtype=np.int64)[None, :]
    gy = np.arange(w, dtype=np.int64)[:, None]
    vals = np.broadcast_to(_polygonize_value_np(gx, gy), (w, w))
    rows = pyref.ref_polygonize(vals)
    return pyref.values_sql(
        rows, [("region_id", "BIGINT"), ("value", "BIGINT"),
               ("n_cells", "BIGINT"), ("min_x", "BIGINT"),
               ("min_y", "BIGINT"), ("max_x", "BIGINT"),
               ("max_y", "BIGINT")]) + " ORDER BY region_id"


def q_polyline_roundtrip(spark, sf_dir):
    """Encoded-polyline (precision-6) interop on the microdegree
    lattice: per-user event paths encode through the PURE-CODEGEN
    unrolled chunk build (functions/polyline.py — zero Python on the
    write path), decode through the Arrow kernel, and must re-encode
    to the identical string. Oracle: DuckDB rebuilds the same strings
    with list lambdas + chr() — the polyline text itself is under the
    hash."""
    from osm2geojson_spark.functions.polyline import (
        polyline6_decode_udf,
        polyline6_encode_expr,
    )

    ev = _t(spark, sf_dir, "events")
    paths = (
        ev.select(
            "user_id", "ts", "event_id",
            ((F.col("event_id") * F.lit(_LON_MUL)) % F.lit(300_000_000)
             - F.lit(150_000_000)).alias("x"),
            ((F.col("event_id") * F.lit(_LAT_MUL)) % F.lit(120_000_000)
             - F.lit(60_000_000)).alias("y"))
        .repartition("user_id")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(
            F.struct("ts", "event_id", "x", "y"))).alias("vraw"))
        .where(F.size("vraw") >= 2)
        .select(
            "user_id",
            F.transform("vraw", lambda s: F.struct(
                s["x"].alias("x"), s["y"].alias("y"))).alias("pts")))
    dec = polyline6_decode_udf()
    enc = paths.select(
        F.col("user_id").alias("gid"),
        polyline6_encode_expr(F.col("pts")).alias("polyline"),
        F.size("pts").cast("int").alias("n_points"))
    return (enc
            # materialize the UDF output first: Spark rejects a Python
            # UDF expression captured inside a HOF lambda
            .withColumn("p2", dec(F.col("polyline")))
            .withColumn("poly2", polyline6_encode_expr(F.col("p2")))
            .select("gid", "polyline", "n_points",
                    (F.col("polyline") == F.col("poly2"))
                    .alias("roundtrip_ok"))
            .orderBy("gid"))


def _sql_polyline_roundtrip() -> str:
    def enc5(v: str) -> str:
        parts = []
        for k in range(7):
            cur = f"({v} >> {5 * k})"
            code = (f"(({cur} & 31) + (CASE WHEN (({v} >> {5 * (k + 1)})"
                    f" > 0) THEN 95 ELSE 63 END))")
            parts.append(f"(CASE WHEN (({cur} > 0) OR ({k} = 0))"
                         f" THEN chr(CAST({code} AS INT)) ELSE '' END)")
        return "(" + " || ".join(parts) + ")"

    def zz(d: str) -> str:
        return (f"(CASE WHEN ({d} < 0) THEN ((-({d})) * 2 - 1)"
                f" ELSE ({d} * 2) END)")

    dlat = ("(CASE WHEN (i = 1) THEN (p).y"
            " ELSE ((p).y - (pts[(i - 1)]).y) END)")
    dlon = ("(CASE WHEN (i = 1) THEN (p).x"
            " ELSE ((p).x - (pts[(i - 1)]).x) END)")
    pair = f"({enc5(zz(dlat))} || {enc5(zz(dlon))})"
    return f"""
WITH lv AS (
  SELECT user_id,
         list(struct_pack(
                x := ((event_id * {_LON_MUL}) % 300000000) - 150000000,
                y := ((event_id * {_LAT_MUL}) % 120000000) - 60000000)
              ORDER BY ts ASC, event_id ASC) AS pts
  FROM events GROUP BY user_id)
SELECT user_id AS gid,
       array_to_string(list_transform(pts, (p, i) -> {pair}), '')
         AS polyline,
       CAST(len(pts) AS INT) AS n_points,
       TRUE AS roundtrip_ok
FROM lv WHERE (len(pts) >= 2)
ORDER BY gid
"""


def q_audio_segments(spark, sf_dir):
    """Voice-activity segmentation over the speech-shaped corpus
    (operators/audio.activity_segments): exact int64 frame energies,
    integer threshold, maximal active runs — one sequential decode
    pass per clip through the real wav/aiff/flac codecs. Oracle: pyref
    literal table (direct per-format decode, same run-length scan)."""
    from osm2geojson_spark.operators.audio import activity_segments
    from osm2geojson_spark.synth.audio import segmented_audio_table

    auds = segmented_audio_table(spark, n=300, seed=0)
    return (activity_segments(auds)
            .where(F.col("error").isNull())
            .select("audio_id", "seg_idx", "start_frame", "n_frames",
                    "energy")
            .orderBy("audio_id", "seg_idx"))


def _sql_audio_segments() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_audio_segments(n=300, seed=0)
    return pyref.values_sql(
        rows, [("audio_id", "VARCHAR"), ("seg_idx", "INTEGER"),
               ("start_frame", "INTEGER"), ("n_frames", "INTEGER"),
               ("energy", "BIGINT")]) + " ORDER BY audio_id, seg_idx"


def q_hist_equalize(spark, sf_dir):
    """Histogram equalization (operators/images.equalize_images):
    decode through the real lossless codecs, exact integer cdf-LUT
    remap (floor division — bit-identical everywhere), re-encode as
    canonical PPM; the OUTPUT BYTES are pinned via md5. Oracle: pyref
    replays the identical pipeline Spark-free."""
    from osm2geojson_spark.operators.images import equalize_images
    from osm2geojson_spark.synth.images import (
        FMTS_LOSSLESS,
        images_table,
    )

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_LOSSLESS)
    eq = equalize_images(imgs).where(F.col("error").isNull())
    return (eq.select("image_id", F.md5("bytes").alias("md5"))
            .orderBy("image_id"))


def _sql_hist_equalize() -> str:
    from osm2geojson_spark import pyref

    rows = [(m, h) for m, h, _s in pyref.ref_equalize_md5(n=300, seed=42)]
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("md5", "VARCHAR")]) \
        + " ORDER BY image_id"


def q_scc(spark, sf_dir):
    """Strongly connected components (operators/graph.py) — the
    Pregel/Orzan coloring algorithm: forward max-color fixpoint →
    backward reach within color class → assign/subtract/repeat, with
    the dup_clusters loop discipline (localCheckpoint, O(1) driver
    counts, loud budget failures). Test graph is closed-form Spark
    ranges (ring+expander blocks, forward chain, periodic back-merges,
    singleton tail). Oracle: pyref iterative Tarjan — the sequential
    ground truth."""
    from osm2geojson_spark.operators.graph import (
        strongly_connected_components,
    )

    nb, b, tail = 16, 32, 20
    n = nb * b
    blocks = spark.range(n).select(F.col("id").cast("long").alias("i"))
    bs = (F.col("i") - F.col("i") % b)
    ring = blocks.select(
        F.col("i").alias("src"),
        (bs + (F.col("i") - bs + 1) % b).alias("dst"))
    expander = blocks.select(
        F.col("i").alias("src"),
        (bs + ((F.col("i") - bs) * 2 + 1) % b).alias("dst"))
    firsts = blocks.where(F.col("i") % b == 0)
    cross = (firsts.where(F.col("i") < (nb - 1) * b)
             .select(F.col("i").alias("src"),
                     (F.col("i") + b).alias("dst")))
    merge = (firsts.where((F.col("i") / b).cast("long") % 5 == 2)
             .select(F.col("i").alias("src"),
                     (F.col("i") - b).alias("dst")))
    bridge = spark.range(1).select(
        F.lit((nb - 1) * b).cast("long").alias("src"),
        F.lit(n).cast("long").alias("dst"))
    chain = (spark.range(n, n + tail - 1)
             .select(F.col("id").alias("src"),
                     (F.col("id") + 1).alias("dst")))
    edges = ring.unionByName(expander).unionByName(cross) \
        .unionByName(merge).unionByName(bridge).unionByName(chain)
    return (strongly_connected_components(edges)
            .orderBy("id"))


def _sql_scc() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_scc()
    return pyref.values_sql(
        rows, [("id", "BIGINT"), ("scc_id", "BIGINT")]) + " ORDER BY id"


def _als_ratings(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.col("o_custkey").alias("user"),
                     F.col("l_partkey").alias("item"))
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("rl"))
            .select("user", "item", F.col("rl").cast("double").alias("r")))


def q_als_factors(spark, sf_dir):
    """Distributed ALS (operators/als.py) over the customer×part
    quantity matrix: each half-step is ONE shuffle join (ratings ⋈ the
    other side's factors) + ONE groupBy solve — factors never touch
    the driver, nothing is broadcast, so the plan survives both sides
    at billions of rows. Bit-exact under the oracle because all linear
    algebra is the shared no-BLAS kernel (pyref.solve_linear +
    explicit-sum normal equations). Output: int64-quantized user
    factors."""
    from osm2geojson_spark.operators.als import als_factors

    fu, _fi = als_factors(_als_ratings(spark, sf_dir), d=8, lam=0.1,
                          iters=2)
    cols = [F.expr(f"CAST(floor(element_at(f, {k + 1}) * 1048576)"
                   f" AS BIGINT)").alias(f"q{k + 1}") for k in range(8)]
    return fu.select("user", *cols).orderBy("user")


def _sql_als_factors() -> str:
    from collections import defaultdict

    from osm2geojson_spark import pyref

    li = _oracle_parquet("lineitem",
                         ["l_orderkey", "l_partkey", "l_quantity"])
    od = dict(_oracle_parquet("orders", ["o_orderkey", "o_custkey"]))
    agg: dict = defaultdict(int)
    for ok, pk, q in li:
        agg[(od[ok], pk)] += int(q)
    rows = pyref.ref_als_factors(
        [(u, i, r) for (u, i), r in agg.items()], d=8, lam=0.1, iters=2)
    return pyref.values_sql(
        rows, [("user", "BIGINT")] + [(f"q{k + 1}", "BIGINT")
                                      for k in range(8)]) + " ORDER BY user"


_BLOOM_M, _BLOOM_K, _BLOOM_SEED = 4096, 5, 7


def q_bloom_prune(spark, sf_dir):
    """Bloom-filter join pruning (operators/bloom.py): build the filter
    in one pass over the filtered supplier dim (bounded m/64-word
    collect — metadata, not data), probe the fact side with PURE
    CODEGEN shift/mask — no join, no shuffle; at 100 TB this drops
    non-matching rows before the real join's exchange. False positives
    are deterministic outputs of the hash family, so the gate checks
    them too (is_member marks the truth)."""
    from osm2geojson_spark.operators.bloom import (
        bloom_probe_expr,
        build_bloom,
    )

    dim = (_t(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") > 5000)
           .select(F.col("s_suppkey").cast("long").alias("k")))
    words = build_bloom(dim, "k", m_bits=_BLOOM_M, k_hashes=_BLOOM_K,
                        seed=_BLOOM_SEED)
    probe = (_t(spark, sf_dir, "lineitem")
             .where(F.col("l_orderkey") < 3000)
             .select(F.col("l_orderkey").cast("long").alias("l_orderkey"),
                     F.col("l_linenumber").cast("int").alias("l_linenumber"),
                     F.col("l_suppkey").cast("long").alias("suppkey")))
    return (probe
            .select("l_orderkey", "l_linenumber", "suppkey",
                    bloom_probe_expr(F.col("suppkey"), words,
                                     k_hashes=_BLOOM_K,
                                     seed=_BLOOM_SEED).alias("bloom_hit"))
            .join(dim.withColumnRenamed("k", "suppkey").distinct()
                  .withColumn("is_member", F.lit(1)),
                  "suppkey", "left")
            .select("l_orderkey", "l_linenumber", "suppkey", "bloom_hit",
                    F.coalesce("is_member", F.lit(0)).alias("is_member"))
            .orderBy("l_orderkey", "l_linenumber"))


def _sql_bloom_prune() -> str:
    from osm2geojson_spark import pyref

    dim = [k for k, bal in _oracle_parquet("supplier",
                                           ["s_suppkey", "s_acctbal"])
           if bal > 5000]
    probe = sorted(
        (ok, ln, sk) for ok, ln, sk in _oracle_parquet(
            "lineitem", ["l_orderkey", "l_linenumber", "l_suppkey"])
        if ok < 3000)
    rows = pyref.ref_bloom_prune([int(k) for k in dim],
                                 [(int(a), int(b), int(c))
                                  for a, b, c in probe],
                                 m_bits=_BLOOM_M, k_hashes=_BLOOM_K,
                                 seed=_BLOOM_SEED)
    return pyref.values_sql(
        rows, [("l_orderkey", "BIGINT"), ("l_linenumber", "INTEGER"),
               ("suppkey", "BIGINT"), ("bloom_hit", "INTEGER"),
               ("is_member", "INTEGER")]) \
        + " ORDER BY l_orderkey, l_linenumber"


_CMS_W, _CMS_D, _CMS_SEED = 256, 4, 11


def q_cms_counters(spark, sf_dir):
    """Count-min sketch counters over lineitem part keys — the
    fixed-size frequency summary (one pass, d·w bounded output,
    estimates never undercount). Value-exact unlike HLL: every counter
    is a deterministic xxhash64 bucket count, replayed by pyref."""
    from osm2geojson_spark.operators.bloom import cms_counters

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("k"))
    return (cms_counters(li, "k", w=_CMS_W, d_rows=_CMS_D,
                         seed=_CMS_SEED)
            .orderBy("j", "h"))


def _sql_cms_counters() -> str:
    from osm2geojson_spark import pyref

    keys = [int(k[0]) for k in _oracle_parquet("lineitem", ["l_partkey"])]
    rows = pyref.ref_cms_counters(keys, w=_CMS_W, d_rows=_CMS_D,
                                  seed=_CMS_SEED)
    return pyref.values_sql(
        rows, [("j", "INTEGER"), ("h", "BIGINT"), ("cnt", "BIGINT")]) \
        + " ORDER BY j, h"


def q_cms_estimates(spark, sf_dir):
    """CMS point estimates for the 20 most frequent parts vs their true
    counts (est ≥ true always; overshoot = deterministic collisions).
    The estimate lookup is pure codegen over the collected d·w counter
    arrays; truth comes from a plain groupBy. The oracle computes truth
    with SQL and takes estimates from the pyref sketch — a mixed
    cross-engine check."""
    from osm2geojson_spark.operators.bloom import (
        cms_counters,
        cms_estimate_expr,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("k"))
    counters = {(r["j"], r["h"]): r["cnt"]
                for r in cms_counters(li, "k", w=_CMS_W, d_rows=_CMS_D,
                                      seed=_CMS_SEED).collect()}
    top = (li.groupBy("k").agg(F.count("*").alias("true_cnt"))
           .orderBy(F.desc("true_cnt"), F.asc("k")).limit(20))
    return top.select(
        F.col("k").alias("partkey"), "true_cnt",
        cms_estimate_expr(F.col("k"), counters, w=_CMS_W,
                          d_rows=_CMS_D, seed=_CMS_SEED).alias("est")) \
        .orderBy("partkey")


def _sql_cms_estimates() -> str:
    from collections import Counter

    from osm2geojson_spark import pyref

    keys = [int(k[0]) for k in _oracle_parquet("lineitem", ["l_partkey"])]
    counters = {(j, h): c for j, h, c in pyref.ref_cms_counters(
        keys, w=_CMS_W, d_rows=_CMS_D, seed=_CMS_SEED)}
    top = sorted(Counter(keys).items(),
                 key=lambda t: (-t[1], t[0]))[:20]
    est_rows = [(k, pyref.ref_cms_estimate(counters, k, w=_CMS_W,
                                           d_rows=_CMS_D, seed=_CMS_SEED))
                for k, _ in top]
    vals = pyref.values_sql(est_rows, [("partkey", "BIGINT"),
                                       ("est", "BIGINT")])
    return f"""
WITH est AS ({vals}),
tc AS (SELECT l_partkey AS partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt
       FROM lineitem GROUP BY l_partkey)
SELECT e.partkey, tc.true_cnt, e.est
FROM est e JOIN tc ON (tc.partkey = e.partkey)
ORDER BY e.partkey
"""


def q_table_profile(spark, sf_dir):
    """One-pass profiler (operators/profile.py) over lineitem: exact
    distinct counts, null counts, min/max per column in ONE agg job,
    unpivoted with stack() — the ANALYZE surface. DuckDB twin computes
    the identical stats with per-column scalar aggregates."""
    from osm2geojson_spark.operators.profile import profile_table

    return (profile_table(_t(spark, sf_dir, "lineitem"))
            .orderBy("column"))


def _sql_table_profile() -> str:
    num = {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    ts = {"l_shipdate"}
    strs = {"l_returnflag", "l_linestatus"}
    legs = []
    for c in sorted(num | ts | strs):
        if c in ts:
            mn = f"CAST(MIN(CAST(floor(epoch({c})) AS BIGINT)) AS DOUBLE)"
            mx = f"CAST(MAX(CAST(floor(epoch({c})) AS BIGINT)) AS DOUBLE)"
            ms = xs = "CAST(NULL AS VARCHAR)"
        elif c in strs:
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms, xs = f"MIN({c})", f"MAX({c})"
        else:
            mn, mx = (f"CAST(MIN({c}) AS DOUBLE)",
                      f"CAST(MAX({c}) AS DOUBLE)")
            ms = xs = "CAST(NULL AS VARCHAR)"
        legs.append(f"""
  SELECT '{c}' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
         {mn} AS min_num, {mx} AS max_num,
         {ms} AS min_str, {xs} AS max_str
  FROM lineitem""")
    return "SELECT * FROM (" + " UNION ALL ".join(legs) \
        + ') ORDER BY "column"'


def q_isotonic(spark, sf_dir):
    """Distributed isotonic regression (operators/isotonic.py): PAV
    over range-partitioned sorted points — per-partition exact integer
    pooling, one guarded compressed-block merge (the MLlib recipe),
    strict cross-multiplied violation tests so the block list is
    deterministic. Oracle: sequential PAV ground truth (pyref) over
    the same closed-form trend+noise series."""
    from osm2geojson_spark.operators.isotonic import isotonic_blocks

    pts = spark.range(5000).select(
        F.col("id").alias("x"),
        (F.expr("id div 50") + (F.col("id") * 2654435761) % 17 - 8)
        .alias("y"))
    return isotonic_blocks(pts, partitions=8).orderBy("start_x")


def _sql_isotonic() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_isotonic(n=5000)
    return pyref.values_sql(
        rows, [("start_x", "BIGINT"), ("end_x", "BIGINT"),
               ("sum_y", "BIGINT"), ("n", "BIGINT"),
               ("fit_ppm", "BIGINT")]) + " ORDER BY start_x"


def q_setsim_join(spark, sf_dir):
    """Prefix-filter set-similarity join (operators/dedup.setsim_join,
    PPJoin family): documents' distinct tokens ordered rarest-first
    under one global total order; only the length-m − ceil(τm) + 1
    prefix generates candidates (LOSSLESS by pigeonhole for the
    declared τ, unlike the lossy max_df cap) + a length filter, then
    exact integer-ppm Jaccard verification. Corpus: the shared
    sparse-vocab near-dup groups, built with pure codegen. Oracle:
    pyref brute-force over ALL pairs — no prefix logic at all."""
    from osm2geojson_spark.operators.dedup import setsim_join

    docs = spark.range(400).select(
        F.col("id").cast("long").alias("doc_id"),
        F.concat_ws(" ", F.expr(
            "transform(sequence(0, 17 + 2 * CAST(id % 4 AS INT)),"
            " j -> concat('t', ((id div 4) * 37 + j * 11) % 6000))"))
        .alias("text"))
    return (setsim_join(docs, tau_ppm=700_000)
            .orderBy("id_a", "id_b"))


def _sql_setsim_join() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_setsim(pyref.setsim_corpus(400), tau_ppm=700_000)
    return pyref.values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"),
               ("inter", "INTEGER"), ("jaccard_ppm", "BIGINT")]) \
        + " ORDER BY id_a, id_b"


_ED_MUT = ("concat(substring(p_name, 1, CAST(p_partkey % length(p_name)"
           " AS INT)), 'q', substring(p_name, CAST(p_partkey %"
           " length(p_name) AS INT) + 2, length(p_name)))")


def q_edit_distance_join(spark, sf_dir):
    """FastSS deletion-neighborhood edit-distance join
    (operators/dedup.edit_distance_join): ed(a,b) ≤ d ⟺ the ≤d-deletion
    neighborhoods intersect, so candidates come from a skew-free
    EQUI-join on codegen-generated deletion variants, then exact
    levenshtein verification — the fuzzy-matching primitive (typo
    dedup, entity resolution) with zero cartesian. Corpus: part names
    + a planted one-substitution twin per name (position keyed by
    p_partkey — deterministic in both engines). Oracle: brute-force
    cross join with levenshtein ≤ d, no deletion logic anywhere."""
    from osm2geojson_spark.operators.dedup import edit_distance_join

    part = _t(spark, sf_dir, "part").where("p_partkey <= 1000")
    base = part.select(F.col("p_partkey").cast("long").alias("doc_id"),
                       F.col("p_name").alias("text"))
    mut = part.select(
        (F.col("p_partkey") + F.lit(1_000_000)).cast("long")
        .alias("doc_id"),
        F.expr(_ED_MUT).alias("text"))
    docs = base.unionByName(mut)
    return (edit_distance_join(docs, d=1)
            .withColumn("dist", F.col("dist").cast("long"))
            .orderBy("id_a", "id_b"))


def _sql_edit_distance_join() -> str:
    return f"""
WITH corpus AS (
  SELECT p_partkey AS doc_id, p_name AS text
  FROM part WHERE p_partkey <= 1000
  UNION ALL
  SELECT (p_partkey + 1000000) AS doc_id, {_ED_MUT} AS text
  FROM part WHERE p_partkey <= 1000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM corpus a, corpus b
WHERE (a.doc_id < b.doc_id) AND (levenshtein(a.text, b.text) <= 1)
ORDER BY id_a, id_b
"""


def _sql_scd2() -> str:
    return """
WITH ordered AS (
  SELECT user_id, event_type, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
           AS prev
  FROM events
), starts AS (
  SELECT user_id, event_type, event_id AS valid_from
  FROM ordered WHERE (prev IS NULL) OR (prev <> event_type)
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       (lead(valid_from) OVER w IS NULL) AS is_current
FROM starts
WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)
"""


def q_scd2_snapshot(spark, sf_dir):
    """Point-in-time (as-of) read of an SCD2 dimension
    (operators/scd.py): the one version per user covering order key
    5000 — a pure filter over the built dimension (at scale:
    partition-pruned scan, no window). The generic scd2_build here is
    the reusable-operator twin of the inline q_scd2_build catalog
    entry: versions keyed by event_id (unique per user — timestamps
    tie), runs collapsed with a null-safe struct compare."""
    from osm2geojson_spark.operators.scd import scd2_build, scd2_snapshot

    ev = _t(spark, sf_dir, "events")
    dim = scd2_build(ev, "user_id", ["event_type"], "event_id")
    return (scd2_snapshot(dim, 5000)
            .select("user_id", "event_type", "valid_from", "valid_to",
                    "version")
            .orderBy("user_id"))


def _sql_scd2_snapshot() -> str:
    return (f"WITH dim AS ({_sql_scd2()}) "
            "SELECT user_id, event_type, valid_from, valid_to, version "
            "FROM dim WHERE (valid_from <= 5000) AND "
            "((valid_to IS NULL) OR (valid_to > 5000)) ORDER BY user_id")


def q_template_match(spark, sf_dir):
    """Template matching over tiled rasters (spatial/ncc.py): a 4×4
    signed template anchors at every fully-inside pixel; each tile
    ships only 3-wide RIGHT/BOTTOM halo strips (one bounded shuffle),
    the kernel computes Σf·t by 16 shifted adds and Σf, Σf² from a
    LOCAL summed-area table in O(1)/anchor. Output: exact integer NCC
    pieces num = n·Σft − Σf·Σt and denf = n·Σf² − (Σf)² — score
    comparisons cross-multiply, never divide. Oracle: 16 closed-form
    polynomial terms for Σft + anchored SAT corner algebra for the
    moments, join-free."""
    import numpy as np

    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.ncc import match_template_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(
        spark, _FOCAL_TILES, _FOCAL_TILES, t, value_fn=_sat_value_np)
    dy, dx = np.mgrid[0:4, 0:4]
    tmpl = 1 + dx + 2 * dy
    out = match_template_tiles(
        tiles, t, tmpl, _FOCAL_TILES, _FOCAL_TILES)
    n, st = 16, int(tmpl.sum())
    return (out.select(
        "x", "y", "cross",
        (F.lit(n) * F.col("cross") - F.lit(st) * F.col("sf"))
        .alias("num"),
        (F.lit(n) * F.col("sf2") - F.col("sf") * F.col("sf"))
        .alias("denf"))
        .orderBy("y", "x"))


def _sql_template_match() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def f(a, b):  # the raster polynomial at (a, b)
        return f"(7 + (3 * ({a})) + (5 * ({b})) + (({a}) * ({b})))"

    cross = " + ".join(
        f"({1 + dx + 2 * dy} * {f(f'(x + {dx})', f'(y + {dy})')})"
        for dy in range(4) for dx in range(4))

    def anchored(form):
        hx, hy = "(x + 3)", "(y + 3)"
        lx, ly = "(x - 1)", "(y - 1)"
        br = form(hx, hy)
        tr = f"(CASE WHEN ({ly}) >= 0 THEN {form(hx, ly)} ELSE 0 END)"
        bl = f"(CASE WHEN ({lx}) >= 0 THEN {form(lx, hy)} ELSE 0 END)"
        tl = (f"(CASE WHEN (({lx}) >= 0 AND ({ly}) >= 0)"
              f" THEN {form(lx, ly)} ELSE 0 END)")
        return f"(({br}) - ({tr}) - ({bl}) + ({tl}))"

    sf = anchored(_sat_closed_form)
    sf2 = anchored(_sat2_closed_form)
    return f"""
WITH xs AS (SELECT unnest(range(0, {w - 3})) AS x),
ys AS (SELECT unnest(range(0, {w - 3})) AS y)
SELECT x, y, ({cross}) AS cross,
       ((16 * ({cross})) - (88 * {sf})) AS num,
       ((16 * {sf2}) - ({sf} * {sf})) AS denf
FROM xs, ys
ORDER BY y, x
"""


def q_glcm(spark, sf_dir):
    """Gray-level co-occurrence matrix (spatial/texture.py): the
    Haralick texture substrate — quantized value-pair counts at
    offsets (1,0)/(0,1) over the tiled DEM. Each tile ships ONE
    1-wide right/bottom strip; kernels bincount locally and the
    global matrix is a groupBy-sum of ≤ tiles·L² partials — shuffle
    bounded regardless of raster size. Quantization is integer
    ``v·L div (hi−lo+1)``. Oracle: join-free — both pair values are
    closed-form DEM terms, grouped in SQL."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.texture import glcm_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    return (glcm_tiles(tiles, t, _FOCAL_TILES, _FOCAL_TILES,
                       levels=8, lo=0, hi=106)
            .orderBy("dir", "la", "lb"))


def _sql_glcm() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def v(a, b):
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    def q(e):
        return f"CAST(((({e}) * 8) // 107) AS INT)"

    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
g AS (SELECT x, y FROM xs, ys)
SELECT CAST(0 AS INT) AS dir, {q(v('x', 'y'))} AS la,
       {q(v('(x + 1)', 'y'))} AS lb, count(*) AS cnt
FROM g WHERE x < {w - 1} GROUP BY la, lb
UNION ALL
SELECT CAST(1 AS INT) AS dir, {q(v('x', 'y'))} AS la,
       {q(v('x', '(y + 1)'))} AS lb, count(*) AS cnt
FROM g WHERE y < {w - 1} GROUP BY la, lb
ORDER BY dir, la, lb
"""


def q_seq_patterns(spark, sf_dir):
    """Sequential pattern census (operators/sequence.py): every
    ordered event-type pair occurring within 3 stream positions per
    user — occurrences + distinct supporting users. One shuffle on
    the user key, pair generation is pure codegen array algebra
    (nested transform + slice — no self-join over the event table),
    one bounded |types|² groupBy. Oracle: the maximally different
    path — a row_number CTE self-joined on the rank range."""
    from osm2geojson_spark.operators.sequence import seq_patterns

    ev = _t(spark, sf_dir, "events")
    return (seq_patterns(ev, "user_id", "event_id", "event_type",
                         max_gap=3)
            .orderBy("a", "b"))


def _sql_seq_patterns() -> str:
    return """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id)
           AS rn
  FROM events)
SELECT x.event_type AS a, y.event_type AS b,
       count(*) AS n_occ, count(DISTINCT x.user_id) AS n_users
FROM r x JOIN r y
  ON (x.user_id = y.user_id)
 AND (y.rn > x.rn) AND (y.rn <= (x.rn + 3))
GROUP BY a, b
ORDER BY a, b
"""


def q_otsu_curve(spark, sf_dir):
    """Otsu between-class variance curve (operators/stats.otsu_curve)
    over a 32×32 DEM: per candidate threshold the EXACT rational
    σ²_B pieces num = (s0·N − S·n0)², den = n0·(N−n0) — argmax by
    bignum cross-multiplication downstream, zero floats. One
    histogram groupBy (the only data-sized pass) + window algebra
    over the tiny histogram. Oracle: the same algebra in SQL over
    the closed-form DEM."""
    from osm2geojson_spark.operators.stats import otsu_curve
    from osm2geojson_spark.spatial.focal import synth_dem_tiles

    tiles = synth_dem_tiles(spark, 1, 1, 32)
    px = tiles.select(F.explode("data").alias("v"))
    return otsu_curve(px, "v").orderBy("t")


def _sql_otsu_curve() -> str:
    return """
WITH xs AS (SELECT unnest(range(0, 32)) AS x),
ys AS (SELECT unnest(range(0, 32)) AS y),
g AS (SELECT (((x * 73 + y * 19) % 100)
              + ((x * x + 3 * (y * y)) % 7)) AS v FROM xs, ys),
h AS (SELECT v AS t, count(*) AS c FROM g GROUP BY v),
tot AS (SELECT sum(c) AS n_tot, sum(t * c) AS s_tot FROM h),
cum AS (
  SELECT t,
         sum(c) OVER w AS n0,
         sum(t * c) OVER w AS s0,
         n_tot, s_tot
  FROM h, tot
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))
SELECT t,
       (((s0 * n_tot) - (s_tot * n0)) * ((s0 * n_tot) - (s_tot * n0)))
         AS num,
       (n0 * (n_tot - n0)) AS den
FROM cum
ORDER BY t
"""


def q_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction (operators/graph.py) over the
    co-purchase part graph (parts ≤ 400 to bound the wedge fan-out):
    non-adjacent pairs sharing neighbors, scored by exact-integer
    common-neighbor count + preferential-attachment degree product.
    One wedge join (Σ deg² bound, hub cap available), one pair
    count shuffle, anti-join vs edges, two degree joins. Oracle:
    the same graph algebra in SQL."""
    from osm2geojson_spark.operators.graph import link_prediction

    li = _t(spark, sf_dir, "lineitem").where("l_partkey <= 400")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    e = (baskets.alias("a")
         .join(baskets.alias("b"),
               (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
         .select(F.col("a.l_partkey").alias("src"),
                 F.col("b.l_partkey").alias("dst"))
         .distinct())
    return (link_prediction(e)
            .orderBy(F.col("cn").desc(), "u", "v")
            .limit(300))


def _sql_link_prediction() -> str:
    return """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_partkey <= 400),
e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM d a JOIN d b ON ((a.l_orderkey = b.l_orderkey)
                        AND (a.l_partkey < b.l_partkey))),
adj AS (SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v AS a, u AS b FROM e),
deg AS (SELECT a, count(*) AS dg FROM adj GROUP BY a),
cn AS (SELECT x.b AS u, y.b AS v, count(*) AS cn
       FROM adj x JOIN adj y ON ((x.a = y.a) AND (x.b < y.b))
       GROUP BY x.b, y.b),
ne AS (SELECT cn.u, cn.v, cn.cn FROM cn
       LEFT JOIN e ON ((e.u = cn.u) AND (e.v = cn.v))
       WHERE e.u IS NULL)
SELECT ne.u, ne.v, ne.cn, du.dg AS deg_u, dv.dg AS deg_v,
       (du.dg * dv.dg) AS pa
FROM ne JOIN deg du ON (du.a = ne.u) JOIN deg dv ON (dv.a = ne.v)
ORDER BY cn DESC, u, v
LIMIT 300
"""


def q_palette_quantize(spark, sf_dir):
    """Median-cut palette extraction (operators/images.
    palette_quantize — Heckbert 1982, the GIF/PNG8 quantizer): 8
    colors per image via recursive largest-range box splits at the
    pixel median, every tie deterministically laddered (range → box
    index → channel; pixel order (chan,r,g,b); split n div 2;
    palette sorted (r,g,b,n)). One Arrow decode pass over the real
    TIFF-rotation corpus, no shuffle. Oracle: pyref pure-python
    median cut — list sorts vs np.lexsort, same integers."""
    from osm2geojson_spark.operators.images import palette_quantize
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=200, seed=42, fmts=FMTS_TIFF)
    return (palette_quantize(imgs, k_colors=8)
            .select("image_id", "fmt", "color_idx", "r", "g", "b",
                    "n_px")
            .orderBy("image_id", "color_idx"))


def _sql_palette_quantize() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_palette(n=200, seed=42, k=8)
    return pyref.values_sql(
        rows, [("image_id", "VARCHAR"), ("fmt", "VARCHAR"),
               ("color_idx", "BIGINT"), ("r", "BIGINT"),
               ("g", "BIGINT"), ("b", "BIGINT"),
               ("n_px", "BIGINT")]) + " ORDER BY image_id, color_idx"


def q_blob_moments(spark, sf_dir):
    """Per-blob integer moment analysis (the connected-component
    shape-statistics surface: centroid/orientation/eccentricity all
    derive from raw moments by column arithmetic): threshold the DEM
    at 60 → binary mask tiles (pure codegen transform) → the
    polygonize two-phase CC with moments=True — per-tile moment
    partials ride the SAME stats rollup, zero extra passes. 89 blobs,
    up to 40 cells, spanning tile seams (the halo stitch is load-
    bearing). Oracle: a maximally different path — DuckDB RECURSIVE
    CTE min-label propagation over 4-adjacency of closed-form
    foreground cells, then SQL moment aggregation."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.polygonize import polygonize

    t, n = 16, 3  # 48x48 raster
    tiles = synth_dem_tiles(spark, n, n, t)
    mask = tiles.select(
        "tx", "ty",
        F.transform("data",
                    lambda v: (v >= 60).cast("long")).alias("data"))
    out = polygonize(mask, t, n * t, moments=True)
    return (out.where(F.col("value") == 1)
            .select("region_id", "n_cells", "sx", "sy", "sxx", "sxy",
                    "syy")
            .orderBy("region_id"))


def _sql_blob_moments() -> str:
    w = 48
    dem = ("(((x * 73 + y * 19) % 100)"
           " + ((x * x + 3 * (y * y)) % 7))")
    return f"""
WITH RECURSIVE
xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
cells AS (
  SELECT ((y * {w}) + x) AS id, x, y FROM xs, ys
  WHERE ({dem}) >= 60),
adj AS (
  SELECT a.id AS s, b.id AS d FROM cells a JOIN cells b
    ON (((b.x = (a.x + 1)) AND (b.y = a.y))
     OR ((b.x = a.x) AND (b.y = (a.y + 1))))),
e AS (SELECT s, d FROM adj UNION ALL SELECT d AS s, s AS d FROM adj),
r(id, lab) AS (
  SELECT id, id FROM cells
  UNION
  SELECT e.d, r.lab FROM r JOIN e ON (e.s = r.id)),
m AS (SELECT id, min(lab) AS region_id FROM r GROUP BY id)
SELECT m.region_id, count(*) AS n_cells,
       sum(c.x) AS sx, sum(c.y) AS sy,
       sum(c.x * c.x) AS sxx, sum(c.x * c.y) AS sxy,
       sum(c.y * c.y) AS syy
FROM m JOIN cells c ON (c.id = m.id)
GROUP BY m.region_id
ORDER BY region_id
"""


def q_edge_histogram(spark, sf_dir):
    """HOG-style edge-orientation census (spatial/texture.
    edge_orientation_hist): clamped central-difference gradients
    bucketed into 8 octants by an exact integer comparison ladder
    (no atan2), + flat bucket; global (sector, n, Σmag²) rollup. One
    4-edge-strip halo shuffle, ≤ 9 partial rows per tile. Oracle: the
    identical ladder as a SQL CASE chain over closed-form gradients
    — join-free."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.texture import edge_orientation_hist

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    return (edge_orientation_hist(tiles, t, _FOCAL_TILES, _FOCAL_TILES)
            .orderBy("sector"))


def _sql_edge_histogram() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def v(a, b):
        a = f"least(greatest(({a}), 0), {w - 1})"
        b = f"least(greatest(({b}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    gx = f"({v('(x + 1)', 'y')} - {v('(x - 1)', 'y')})"
    gy = f"({v('x', '(y + 1)')} - {v('x', '(y - 1)')})"
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
g AS (SELECT {gx} AS gx, {gy} AS gy FROM xs, ys),
s AS (SELECT gx, gy,
  CASE WHEN (gx = 0) AND (gy = 0) THEN 8
       WHEN (gy >= 0) AND (gx > 0) AND (abs(gy) < abs(gx)) THEN 0
       WHEN (gy >= 0) AND (gx > 0) THEN 1
       WHEN (gy >= 0) AND (gx = 0) THEN 2
       WHEN (gy >= 0) AND (abs(gy) >= abs(gx)) THEN 2
       WHEN (gy >= 0) THEN 3
       WHEN (gy < 0) AND (gx < 0) AND (abs(gy) < abs(gx)) THEN 4
       WHEN (gy < 0) AND (gx < 0) THEN 5
       WHEN (gy < 0) AND (gx = 0) THEN 6
       WHEN (gy < 0) AND (abs(gy) >= abs(gx)) THEN 6
       ELSE 7 END AS sector
  FROM g)
SELECT CAST(sector AS INT) AS sector, count(*) AS n,
       sum((gx * gx) + (gy * gy)) AS mag2_sum
FROM s
GROUP BY sector
ORDER BY sector
"""


def q_merge_intervals(spark, sf_dir):
    """Gaps-and-islands interval coalescing (operators/ranges.
    merge_intervals): per-user event intervals [sec, sec + dur] (dur
    keyed by event_id) merged where overlapping-or-touching — running
    max end (NOT lag: a long interval swallows several later ones),
    cumulative island ids, one key shuffle + reused exchange. Oracle:
    the same declarative window algebra in DuckDB."""
    from osm2geojson_spark.operators.ranges import merge_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01"
               " 00:00:00', ts)").alias("s"),
        (F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01"
                " 00:00:00', ts)")
         + (F.col("event_id") % 7) * 180 + 60).alias("e"))
    return (merge_intervals(ev, "user_id", "s", "e")
            .orderBy("user_id", "start"))


def _sql_merge_intervals() -> str:
    return """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         (CAST(floor(epoch(ts)) AS BIGINT)
          + ((event_id % 7) * 180) + 60) AS e
  FROM events),
f AS (
  SELECT user_id, s, e,
         (CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL THEN 1
               WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END) AS newg
  FROM iv),
g AS (
  SELECT user_id, s, e,
         sum(newg) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM f)
SELECT user_id, min(s) AS start, max(e) AS "end",
       count(*) AS n_merged
FROM g
GROUP BY user_id, grp
ORDER BY user_id, start
"""


def q_distance_transform(spark, sf_dir):
    """L1 distance transform + raster Voronoi (spatial/dt.py): per
    pixel the L1 distance to the nearest DEM≥90 cell AND which one —
    multi-source frontier BFS where (dist, src) pairs are ENCODED as
    dist·K + src so plain integer-min relaxation computes the
    lexicographic argmin (ties → smallest cell id) with O(V) state,
    no virtual source, no per-source matrix. Oracle: per-pixel min
    over all foreground cells of the encoded |Δx|+|Δy| — a grid ×
    features join, the opposite execution shape."""
    from osm2geojson_spark.spatial.dt import distance_transform
    from osm2geojson_spark.spatial.focal import synth_dem_tiles

    t, n = 16, 3  # 48x48
    tiles = synth_dem_tiles(spark, n, n, t)
    mask = tiles.select(
        "tx", "ty",
        F.transform("data",
                    lambda v: (v >= 90).cast("long")).alias("data"))
    return (distance_transform(mask, t, n * t, n * t)
            .orderBy("y", "x"))


def _sql_distance_transform() -> str:
    w = 48
    k = w * w
    dem = ("(((x * 73 + y * 19) % 100)"
           " + ((x * x + 3 * (y * y)) % 7))")
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
g AS (SELECT x, y FROM xs, ys),
fg AS (SELECT ((y * {w}) + x) AS fid, x AS fx, y AS fy FROM g
       WHERE ({dem}) >= 90),
enc AS (
  SELECT g.x, g.y,
         min(((abs(g.x - fg.fx) + abs(g.y - fg.fy)) * {k}) + fg.fid)
           AS e
  FROM g, fg
  GROUP BY g.x, g.y)
SELECT x, y, (e // {k}) AS dist, (e % {k}) AS nearest
FROM enc
ORDER BY y, x
"""


def q_harris_corners(spark, sf_dir):
    """Harris-Stephens corner response (spatial/texture.
    harris_response), exact int64: structure-tensor 3×3 box sums of
    clamped central-difference gradient products, resp = 20·det −
    tr² (k = 0.05 scaled integral). ONE margin-2 halo pass computes
    gradients AND window sums; valid-mode interior anchors. Oracle:
    9-term sums of squared/multiplied closed-form clamped gradients
    per pixel — join-free."""
    from osm2geojson_spark.spatial.focal import synth_dem_tiles
    from osm2geojson_spark.spatial.texture import harris_response

    t, n = 16, 3
    tiles = synth_dem_tiles(spark, n, n, t)
    return (harris_response(tiles, t, n, n)
            .orderBy("y", "x"))


def _sql_harris_corners() -> str:
    w = 48

    def v(a, b):
        a = f"least(greatest(({a}), 0), {w - 1})"
        b = f"least(greatest(({b}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    def gx(a, b):
        return f"({v(f'({a}) + 1', b)} - {v(f'({a}) - 1', b)})"

    def gy(a, b):
        return f"({v(a, f'({b}) + 1')} - {v(a, f'({b}) - 1')})"

    offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    sxx = " + ".join(
        f"({gx(f'x + {dx}', f'y + {dy}')}"
        f" * {gx(f'x + {dx}', f'y + {dy}')})" for dx, dy in offs)
    syy = " + ".join(
        f"({gy(f'x + {dx}', f'y + {dy}')}"
        f" * {gy(f'x + {dx}', f'y + {dy}')})" for dx, dy in offs)
    sxy = " + ".join(
        f"({gx(f'x + {dx}', f'y + {dy}')}"
        f" * {gy(f'x + {dx}', f'y + {dy}')})" for dx, dy in offs)
    return f"""
WITH xs AS (SELECT unnest(range(1, {w - 1})) AS x),
ys AS (SELECT unnest(range(1, {w - 1})) AS y),
s AS (SELECT x, y, ({sxx}) AS sxx, ({syy}) AS syy, ({sxy}) AS sxy
      FROM xs, ys)
SELECT x, y, sxx, syy, sxy,
       ((20 * ((sxx * syy) - (sxy * sxy))) - ((sxx + syy) * (sxx + syy)))
         AS resp
FROM s
ORDER BY y, x
"""


def q_focal_mode(spark, sf_dir):
    """3×3 majority filter (spatial/focal.py mode3) — the categorical
    raster resampler (landcover smoothing): most frequent of the 9
    clamped neighbors, ties → smallest value, realized kernel-side as
    integer min of the −count·2³²+value encode. Input: the DEM
    quantized to 6 classes (div 20). Oracle: unnest the 9 closed-form
    class terms per pixel, count, and min the nonnegative
    (9−cnt)·2³²+val encode — same tie rule, no kernel."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T

    def classes(gx, gy):
        return ((gx * 73 + gy * 19) % 100
                + (gx * gx + 3 * gy * gy) % 7) // 20

    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t,
                            value_fn=classes)
    out = focal_op(tiles, op="mode3", tile_size=t)
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "mode"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            "mode")
        .orderBy("y", "x"))


def _sql_focal_mode() -> str:
    w = _FOCAL_T * _FOCAL_TILES
    m = 1 << 32

    def c(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"((((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7)) // 20)")

    terms = ", ".join(c(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
n AS (SELECT x, y, unnest([{terms}]) AS val FROM xs, ys),
c AS (SELECT x, y, val, count(*) AS cnt FROM n GROUP BY x, y, val),
e AS (SELECT x, y, min(((9 - cnt) * {m}) + val) AS enc
      FROM c GROUP BY x, y)
SELECT x, y, (enc % {m}) AS mode
FROM e
ORDER BY y, x
"""


def q_ols_trend(spark, sf_dir):
    """Exact per-group simple linear regression (the GROUP BY trend
    fit): slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) and intercept =
    (ΣyΣx² − ΣxΣxy)/same, emitted as EXACT int64 numerator/
    denominator pairs — compare/rank by cross-multiplication, divide
    only at presentation. x = l_quantity, y = extendedprice in cents
    (decimal·100 → exact BIGINT in both engines), groups = l_suppkey
    mod 100. One partial-aggregable groupBy — the cheapest possible
    distributed shape. Oracle: the same sums in SQL."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 100).alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor("l_extendedprice").cast("long").alias("y"))
    agg = li.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    return (agg.select(
        "grp", "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("den"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
        .alias("icept_num"))
        .orderBy("grp"))


def _sql_ols_trend() -> str:
    return """
WITH pts AS (
  SELECT (l_suppkey % 100) AS grp,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(floor(l_extendedprice) AS BIGINT) AS y
  FROM lineitem),
a AS (
  SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM pts GROUP BY grp)
SELECT grp, n,
       ((n * sxy) - (sx * sy)) AS slope_num,
       ((n * sxx) - (sx * sx)) AS den,
       ((sy * sxx) - (sx * sxy)) AS icept_num
FROM a
ORDER BY grp
"""


def q_motion_vectors(spark, sf_dir):
    """Per-frame dominant motion via full-search SAD block matching
    (operators/video.motion_vectors — the MPEG motion-estimation
    primitive, exact int64): consecutive frame pairs of the pure-
    translation clip corpus, block votes → mode vector with the
    (count desc, (dy,dx) asc) tie rule; sad_sum is 0 wherever the
    cyclic roll never crosses a block's search window. Oracle: pyref
    direct fpack slicing around the same deterministic kernel — no
    container dispatch, no Arrow."""
    from osm2geojson_spark.operators.video import motion_vectors
    from osm2geojson_spark.synth.video import motion_video_table

    vids = motion_video_table(spark, n=150, seed=42)
    return (motion_vectors(vids, block=8, search=3)
            .where(F.col("error").isNull())
            .select("media_id", "frame_idx", "vx", "vy", "n_blocks",
                    "agree", "sad_sum")
            .orderBy("media_id", "frame_idx"))


def _sql_motion_vectors() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_motion_vectors(n=150, seed=42)
    return pyref.values_sql(
        rows, [("media_id", "VARCHAR"), ("frame_idx", "INTEGER"),
               ("vx", "INTEGER"), ("vy", "INTEGER"),
               ("n_blocks", "INTEGER"), ("agree", "INTEGER"),
               ("sad_sum", "BIGINT")]) + " ORDER BY media_id, frame_idx"


def q_table_fingerprint(spark, sf_dir):
    """Sharded order-independent table fingerprint (operators/
    profile.fingerprint_shards) over 7 canonicalized lineitem
    columns: md5-derived 60-bit row hashes folded per shard into
    count + bit_xor + sum-mod digests — cross-engine reconciliation
    that LOCALIZES drift to a shard. md5 (unlike native hash()) and
    the 15-hex-digit parse agree exactly between Spark and DuckDB;
    doubles FLOOR first, timestamps → epoch seconds (the committed
    idioms). Oracle: the same digest algebra in SQL."""
    from osm2geojson_spark.operators.profile import fingerprint_shards

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("c1"),
        F.col("l_partkey").cast("string").alias("c2"),
        F.col("l_suppkey").cast("string").alias("c3"),
        F.floor("l_quantity").cast("long").cast("string").alias("c4"),
        F.col("l_returnflag").alias("c5"),
        F.col("l_linestatus").alias("c6"),
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01"
               " 00:00:00', l_shipdate)").cast("string").alias("c7"))
    return (fingerprint_shards(li, ["c1", "c2", "c3", "c4", "c5",
                                    "c6", "c7"], n_shards=16)
            .orderBy("shard"))


def _sql_table_fingerprint() -> str:
    return """
WITH rows_ AS (
  SELECT concat_ws('|',
           CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),
           CAST(l_suppkey AS VARCHAR),
           CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR),
           l_returnflag, l_linestatus,
           CAST(CAST(floor(epoch(l_shipdate)) AS BIGINT) AS VARCHAR))
         AS canon
  FROM lineitem),
h AS (SELECT CAST(('0x' || substr(md5(canon), 1, 15)) AS BIGINT) AS h
      FROM rows_)
SELECT (h % 16) AS shard, count(*) AS n_rows,
       bit_xor(h) AS xor_fp,
       sum(h % 1000000007) AS sum_fp
FROM h
GROUP BY shard
ORDER BY shard
"""


def q_locf_resample(spark, sf_dir):
    """LOCF gap-fill onto a 10-minute grid (operators/timeseries.
    locf_resample): per-user event values carried forward as a step
    function between observations — the snapshot-resampling sibling
    of gap_fill_linear, values untouched so doubles stay
    bit-identical. One key shuffle (lead window) + a bounded grid
    explode. Oracle: the identical lead-pair range algebra in SQL."""
    from osm2geojson_spark.operators.timeseries import locf_resample

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01"
               " 00:00:00', ts)").alias("sec"))
    return (locf_resample(ev, "user_id", "sec", "event_id", "value",
                          step=600)
            .orderBy("user_id", "t_sec"))


def _sql_locf_resample() -> str:
    return """
WITH e AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
p AS (
  SELECT user_id, sec AS t0, value AS v0,
         lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
           AS t1
  FROM e),
g AS (
  SELECT user_id, v0,
         unnest(generate_series(((t0 + 599) // 600),
                                ((t1 - 1) // 600))) AS mi
  FROM p WHERE (t1 IS NOT NULL) AND (((t1 - 1) // 600)
                                     >= ((t0 + 599) // 600)))
SELECT user_id, (mi * 600) AS t_sec, v0 AS value_locf
FROM g
ORDER BY user_id, t_sec
"""


def q_exact_quantiles(spark, sf_dir):
    """Exact order statistics at scale (operators/stats.
    exact_quantiles): rank ceil(p·n) located via a floor(v) value-
    bucket histogram — one data-sized groupBy, a cumulative walk over
    the SMALL histogram, and a sort of ONLY the hit bucket (no global
    sort, no single fat window task). Values untouched → doubles
    bit-identical. p ∈ {50, 90, 99, 99.9}% of l_extendedprice.
    Oracle: the brute row_number pick — DuckDB sorts everything."""
    from osm2geojson_spark.operators.stats import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return (exact_quantiles(li, "l_extendedprice",
                            [500_000, 900_000, 990_000, 999_000])
            .orderBy("p_ppm"))


def _sql_exact_quantiles() -> str:
    return """
WITH n AS (SELECT count(*) AS n FROM lineitem),
ks AS (
  SELECT p_ppm, (((p_ppm * n) + 999999) // 1000000) AS k
  FROM (VALUES (500000), (900000), (990000), (999000)) t(p_ppm), n),
r AS (
  SELECT l_extendedprice AS v,
         row_number() OVER (ORDER BY l_extendedprice) AS rn
  FROM lineitem)
SELECT ks.p_ppm, ks.k, r.v AS value
FROM ks JOIN r ON (r.rn = ks.k)
ORDER BY p_ppm
"""


def q_audio_dedup(spark, sf_dir):
    """Audio near-dup detection via landmark fingerprints (operators/
    audio.audio_fingerprints + audio_dup_pairs): envelope peak-pair
    hashes (the Shazam constellation shape, exact integers) over the
    shared-snippet-pool corpus (variants of a group share their first
    3 frame-aligned snippets), pairs sharing ≥ 5 distinct hashes via
    one hash equi-join — completing the dedup triple (text minhash,
    image phash, video shot-phash) with the audio member. Oracle:
    pyref rebuilds the PCM from the pool directly (no codec, no
    Arrow) around the same deterministic kernel."""
    from osm2geojson_spark.operators.audio import (
        audio_dup_pairs,
        audio_fingerprints,
    )
    from osm2geojson_spark.synth.audio import snippet_audio_table

    clips = snippet_audio_table(spark, n=120, seed=42)
    fps = audio_fingerprints(clips)
    return (audio_dup_pairs(fps, min_shared=5)
            .orderBy("id_a", "id_b"))


def _sql_audio_dedup() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_audio_dedup(n=120, seed=42, min_shared=5)
    return pyref.values_sql(
        rows, [("id_a", "VARCHAR"), ("id_b", "VARCHAR"),
               ("n_shared", "BIGINT")]) + " ORDER BY id_a, id_b"


def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient (operators/graph.
    clustering_coeff) over the ≤400-part co-purchase graph — exact
    rational (n_tri, C(deg,2)) per node, riding triangle_count's
    degree-ordered orientation (every triangle generated exactly
    once, wedge fan-out O(√m)-bounded). Oracle: unoriented SQL —
    triangles via the plain 3-way join on u<v<w edges, membership
    exploded by UNION ALL."""
    from osm2geojson_spark.operators.graph import clustering_coeff

    li = _t(spark, sf_dir, "lineitem").where("l_partkey <= 400")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    e = (baskets.alias("a")
         .join(baskets.alias("b"),
               (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
         .select(F.col("a.l_partkey").alias("src"),
                 F.col("b.l_partkey").alias("dst"))
         .distinct())
    return clustering_coeff(e).orderBy("node")


def _sql_clustering_coeff() -> str:
    return """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_partkey <= 400),
e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM d a JOIN d b ON ((a.l_orderkey = b.l_orderkey)
                        AND (a.l_partkey < b.l_partkey))),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e a JOIN e b ON (b.u = a.v)
           JOIN e c ON ((c.u = a.u) AND (c.v = b.v))),
mem AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y AS node FROM tri
  UNION ALL SELECT z AS node FROM tri),
tc AS (SELECT node, count(*) AS n_tri FROM mem GROUP BY node)
SELECT deg.node, deg.deg, coalesce(tc.n_tri, 0) AS n_tri,
       ((deg.deg * (deg.deg - 1)) // 2) AS possible
FROM deg LEFT JOIN tc ON (tc.node = deg.node)
ORDER BY deg.node
"""


def q_rake_keywords(spark, sf_dir):
    """RAKE keyword statistics (operators/search.rake_word_stats):
    stopword-delimited candidate phrases over the documents table,
    per-word exact (freq, degree) integers — RAKE's degree/freq rank
    compares cross-multiplied. One doc-key window for phrase ids +
    two groupBys. Oracle: the same declarative algebra in DuckDB
    (positions via the unnest(range)+arr[i] idiom — no WITH
    ORDINALITY; regexp_replace needs 'g')."""
    from osm2geojson_spark.operators.search import rake_word_stats

    docs = _t(spark, sf_dir, "documents")
    return (rake_word_stats(docs, min_freq=3)
            .orderBy("w"))


def _sql_rake_keywords() -> str:
    stops = "('a', 'the', 'and', 'of', 'in', 'to', 'is')"
    return f"""
WITH t AS (
  SELECT doc_id AS doc,
         list_filter(string_split(regexp_replace(lower(text),
           '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS arr
  FROM documents),
p AS (
  SELECT doc, unnest(range(1, len(arr) + 1)) AS pos, arr FROM t),
w AS (
  SELECT doc, pos, arr[pos] AS w,
         (CASE WHEN arr[pos] IN {stops} THEN 1 ELSE 0 END) AS stp
  FROM p),
ph AS (
  SELECT doc, pos, w, stp,
         sum(stp) OVER (PARTITION BY doc ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phr
  FROM w),
ns AS (SELECT doc, phr, w FROM ph WHERE stp = 0),
pl AS (SELECT doc, phr, count(*) AS plen FROM ns GROUP BY doc, phr)
SELECT ns.w, count(*) AS freq, sum(pl.plen) AS degree
FROM ns JOIN pl ON ((pl.doc = ns.doc) AND (pl.phr = ns.phr))
GROUP BY ns.w
HAVING count(*) >= 3
ORDER BY ns.w
"""


def q_dt_update(spark, sf_dir):
    """Incremental distance-transform maintenance (spatial/dt.
    distance_transform_update): new features ARRIVE (DEM in [85,90)
    cells join the ≥90 set) and only the cells they now win relax —
    the sssp_update contract on the encoded (dist, src) labels
    (decrease-only, exact new fixpoint; removals = cold rerun).
    Oracle: the FULL cold transform over the union mask — the
    incremental path must land on the identical fixpoint."""
    from osm2geojson_spark.spatial.dt import (
        distance_transform,
        distance_transform_update,
    )
    from osm2geojson_spark.spatial.focal import synth_dem_tiles

    t, n = 16, 3  # 48x48
    tiles = synth_dem_tiles(spark, n, n, t)
    mask_a = tiles.select(
        "tx", "ty",
        F.transform("data",
                    lambda v: (v >= 90).cast("long")).alias("data"))
    base = distance_transform(mask_a, t, n * t, n * t)
    new_cells = (
        tiles.select("tx", "ty", F.posexplode("data").alias("i", "v"))
        .where((F.col("v") >= 85) & (F.col("v") < 90))
        .select((F.col("tx") * t + F.col("i") % t).alias("x"),
                (F.col("ty") * t + F.expr(f"i div {t}")).alias("y")))
    return (distance_transform_update(base, new_cells, n * t, n * t)
            .orderBy("y", "x"))


def _sql_dt_update() -> str:
    w = 48
    k = w * w
    dem = ("(((x * 73 + y * 19) % 100)"
           " + ((x * x + 3 * (y * y)) % 7))")
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
g AS (SELECT x, y FROM xs, ys),
fg AS (SELECT ((y * {w}) + x) AS fid, x AS fx, y AS fy FROM g
       WHERE ({dem}) >= 85),
enc AS (
  SELECT g.x, g.y,
         min(((abs(g.x - fg.fx) + abs(g.y - fg.fy)) * {k}) + fg.fid)
           AS e
  FROM g, fg
  GROUP BY g.x, g.y)
SELECT x, y, (e // {k}) AS dist, (e % {k}) AS nearest
FROM enc
ORDER BY y, x
"""


def q_heading_hist(spark, sf_dir):
    """Movement-direction census (spatial/trajectory.heading_octants):
    consecutive-ping integer-microdegree deltas per user bucketed by
    the exact octant comparison ladder (no atan2) → global (sector,
    n, n_users). One user-key window + one 9-key groupBy. Oracle:
    the identical CASE ladder over the same lead-pair SQL."""
    from osm2geojson_spark.spatial.trajectory import heading_octants

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "event_id",
        ((F.col("event_id") * F.lit(_LON_MUL)) % F.lit(360_000_000))
        .alias("ix"),
        ((F.col("event_id") * F.lit(_LAT_MUL) + F.lit(_LAT_OFF))
         % F.lit(170_000_000)).alias("iy"))
    return (heading_octants(pts, "user_id", "event_id", "ix", "iy")
            .orderBy("sector"))


def _sql_heading_hist() -> str:
    return f"""
WITH p AS (
  SELECT user_id AS u,
         ((event_id * {_LON_MUL}) % 360000000) AS ix,
         ((event_id * {_LAT_MUL} + {_LAT_OFF}) % 170000000) AS iy,
         event_id
  FROM events),
d AS (
  SELECT u,
         (lead(ix) OVER w - ix) AS dx,
         (lead(iy) OVER w - iy) AS dy
  FROM p WINDOW w AS (PARTITION BY u ORDER BY event_id)),
s AS (
  SELECT u,
    CASE WHEN (dx = 0) AND (dy = 0) THEN 8
         WHEN (dy >= 0) AND (dx > 0) AND (abs(dy) < abs(dx)) THEN 0
         WHEN (dy >= 0) AND (dx > 0) THEN 1
         WHEN (dy >= 0) AND (dx = 0) THEN 2
         WHEN (dy >= 0) AND (abs(dy) >= abs(dx)) THEN 2
         WHEN (dy >= 0) THEN 3
         WHEN (dy < 0) AND (dx < 0) AND (abs(dy) < abs(dx)) THEN 4
         WHEN (dy < 0) AND (dx < 0) THEN 5
         WHEN (dy < 0) AND (dx = 0) THEN 6
         WHEN (dy < 0) AND (abs(dy) >= abs(dx)) THEN 6
         ELSE 7 END AS sector
  FROM d WHERE dx IS NOT NULL)
SELECT CAST(sector AS INT) AS sector, count(*) AS n,
       count(DISTINCT u) AS n_users
FROM s
GROUP BY sector
ORDER BY sector
"""


def q_contact_sheet(spark, sf_dir):
    """Contact-sheet pages (operators/images.contact_sheet): exact-
    integer thumbnails laid into 8×8 grids in image_id order, pages
    re-encoded as lossless ppm and md5-pinned (the hist_equalize
    discipline — the BYTES are the value). One decode pass, a global
    row_number slot (fine ≤1M images; strpack rank beyond), bounded
    per-page assembly. Oracle: pyref row-by-row python-int
    thumbnails + plain list page math — different summation route,
    identical bytes."""
    from osm2geojson_spark.operators.images import contact_sheet
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=200, seed=42, fmts=FMTS_TIFF)
    return contact_sheet(imgs, cols=8, rows=8, cell=16).orderBy("page")


def _sql_contact_sheet() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_contact_sheet(n=200, seed=42)
    return pyref.values_sql(
        rows, [("page", "BIGINT"), ("n_images", "BIGINT"),
               ("w_px", "INTEGER"), ("h_px", "INTEGER"),
               ("md5", "VARCHAR")]) + " ORDER BY page"


# --------------------------------------------------------------------------
# registry


# The external correctness gate samples the FIRST 50 catalog keys, so
# the head of the dict must cover every major operator family (r4
# verdict item 3): joins/windows, reference OSM assembly, text dedup,
# corpus, ANN/linalg, spatial index+joins, routing/Δ-stepping,
# rasters/SAT/hydrology, media, search, graph, stats, CDC, behavioral.
# Keys and semantics unchanged — dict insertion order only.
# ---------------------------------------------------------------- round 5

_R5_GRAPH_N, _R5_GRAPH_E = 97, 520  # closed-form hash graph (pyref twin)


def _r5_hash_edges(spark):
    """The pyref.hash_graph twin in pure column math — engines never
    exchange data (the grid_edges discipline)."""
    return spark.range(_R5_GRAPH_E).select(
        ((F.col("id") * F.lit(2654435761)) % F.lit(_R5_GRAPH_N))
        .alias("src"),
        ((F.col("id") * F.lit(40503) + F.lit(7)) % F.lit(_R5_GRAPH_N))
        .alias("dst"))


def q_hits(spark, sf_dir):
    """Deterministic integer HITS (operators/graph.hits) over the
    closed-form hash graph: hub/authority mass as L1-rescaled int64
    fixed-point — the rescale divides through DECIMAL(38,0) with `DIV`
    floor semantics, so every engine and partitioning yields identical
    integers (the pagerank discipline, extended with a broadcast
    one-row total instead of a damping constant). Oracle: pyref twin
    with Python big ints."""
    from osm2geojson_spark.operators.graph import hits

    return hits(_r5_hash_edges(spark), n_iters=8).orderBy("node_id")


def _sql_hits() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_hits(
        pyref.hash_graph(_R5_GRAPH_N, _R5_GRAPH_E), n_iters=8)
    return pyref.values_sql(
        rows, [("node_id", "BIGINT"), ("hub", "BIGINT"),
               ("auth", "BIGINT")]) + " ORDER BY node_id"


def q_label_prop(spark, sf_dir):
    """Synchronous label-propagation communities (operators/graph.
    label_propagation) — most-frequent-neighbor label, ties to the
    smallest, fixed 4 rounds: both determinism choices pinned so the
    result is a pure graph function (asynchronous LPA depends on visit
    order and is unreproducible across partitionings). Distinct from
    min-label CC: LPA splits dense regions linked by thin bridges.
    Oracle: pyref synchronous twin."""
    from osm2geojson_spark.operators.graph import label_propagation

    return (label_propagation(_r5_hash_edges(spark), n_iters=4)
            .orderBy("node"))


def _sql_label_prop() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_label_propagation(
        pyref.hash_graph(_R5_GRAPH_N, _R5_GRAPH_E), n_iters=4)
    return pyref.values_sql(
        rows, [("node", "BIGINT"), ("label", "BIGINT")]) + " ORDER BY node"


def q_modularity(spark, sf_dir):
    """Per-community Newman modularity of the label-propagation
    partition as EXACT integer rationals (operators/graph.modularity):
    q_num = 4·m·m_c − d_c², q_den = 4m² — the clustering_coeff
    cross-multiplication discipline, so partition quality is
    value-hashable with zero float drift. Composes two catalog
    operators (LPA labels feed the scorer). Oracle: pyref replays
    both."""
    from osm2geojson_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    e = _r5_hash_edges(spark)
    return modularity(e, label_propagation(e, n_iters=4)).orderBy("label")


def _sql_modularity() -> str:
    from osm2geojson_spark import pyref

    g = pyref.hash_graph(_R5_GRAPH_N, _R5_GRAPH_E)
    rows = pyref.ref_modularity(
        g, pyref.ref_label_propagation(g, n_iters=4))
    return pyref.values_sql(
        rows, [("label", "BIGINT"), ("n_nodes", "BIGINT"),
               ("m_in", "BIGINT"), ("d_tot", "BIGINT"),
               ("q_num", "BIGINT"), ("q_den", "BIGINT")]) \
        + " ORDER BY label"


def q_degree_assort(spark, sf_dir):
    """Degree assortativity (operators/graph.degree_assortativity) of
    the 400-node events hash graph (the triangle_count substrate):
    Newman's mixing coefficient via EXACT int64 power sums over both
    edge orientations; the final r is one double expression written
    identically in the oracle (the anomaly_zscore discipline). One
    degree agg + two degree joins + one global aggregate."""
    from osm2geojson_spark.operators.graph import degree_assortativity

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % F.lit(400)).alias("src"),
        ((F.col("event_id") * F.lit(_LON_MUL)) % F.lit(400)).alias("dst"))
    return degree_assortativity(edges)


def _sql_degree_assort() -> str:
    return f"""
WITH e0 AS (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
  FROM (SELECT (user_id % 400) AS s,
               ((event_id * {_LON_MUL}) % 400) AS d FROM events)
  WHERE s <> d),
deg AS (
  SELECT node, COUNT(*) AS dg
  FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
  GROUP BY node),
pairs AS (
  SELECT da.dg AS x, db.dg AS y
  FROM e0 JOIN deg da ON (da.node = e0.a)
          JOIN deg db ON (db.node = e0.b)),
pairs2 AS (
  SELECT x, y FROM pairs UNION ALL SELECT y AS x, x AS y FROM pairs),
agg AS (
  SELECT COUNT(*) AS n_pairs, SUM(x) AS sx, SUM(x * x) AS sxx,
         SUM(x * y) AS sxy
  FROM pairs2)
SELECT n_pairs, sx, sxx, sxy,
       CASE WHEN ((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE))
                  - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) = 0.0E0
            THEN NULL ELSE
       ((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE))
        - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       / ((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE))
          - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) END AS r
FROM agg
"""


def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift gate (operators/stats.
    ks_2samp) between the click and view value distributions — the
    check a pipeline runs before mixing two corpus slices. D is exact:
    max |c1·n2 − c2·n1| over the distinct-value histogram (integer),
    one division at the end. The cumulative walk is histogram-sized
    (the exact_quantiles bound), never row-sized."""
    from osm2geojson_spark.operators.stats import ks_2samp

    ev = _t(spark, sf_dir, "events")
    return ks_2samp(ev, "value", "event_type", "click", "view")


def _sql_ks_test() -> str:
    return """
WITH src AS (
  SELECT value AS v,
         (CASE WHEN (event_type = 'click') THEN 1
               WHEN (event_type = 'view') THEN 2 END) AS g
  FROM events WHERE event_type IN ('click', 'view')),
counts AS (
  SELECT v, SUM(CASE WHEN (g = 1) THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN (g = 2) THEN 1 ELSE 0 END) AS c2
  FROM src GROUP BY v),
cum AS (
  SELECT SUM(c1) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
         SUM(c2) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
  FROM counts),
tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM counts),
d AS (
  SELECT max(n1) AS n1, max(n2) AS n2,
         max(abs((f1 * n2) - (f2 * n1))) AS d_num
  FROM cum, tot)
SELECT n1, n2, d_num,
       CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         AS d
FROM d
"""


def q_mwu_test(spark, sf_dir):
    """Mann–Whitney rank-sum test (operators/stats.mann_whitney_u)
    between click and purchase values — EXACT tie-averaged midranks
    carried as 2×rank integers (a tie group of size t after s smaller
    items has 2·midrank = 2s+t+1), so U is an integer with zero float
    drift; same histogram-walk shape as ks_test."""
    from osm2geojson_spark.operators.stats import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "click", "purchase")


def _sql_mwu_test() -> str:
    return """
WITH src AS (
  SELECT value AS v,
         (CASE WHEN (event_type = 'click') THEN 1
               WHEN (event_type = 'purchase') THEN 2 END) AS g
  FROM events WHERE event_type IN ('click', 'purchase')),
counts AS (
  SELECT v, SUM(CASE WHEN (g = 1) THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN (g = 2) THEN 1 ELSE 0 END) AS c2
  FROM src GROUP BY v),
walk AS (
  SELECT c1, c2,
         (SUM(c1 + c2) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - (c1 + c2)) AS s
  FROM counts),
agg AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2,
         SUM(c1 * ((2 * s) + c1 + c2 + 1)) AS r1_x2
  FROM walk)
SELECT n1, n2, r1_x2,
       (r1_x2 - (n1 * (n1 + 1))) AS u1_x2,
       ((2 * n1 * n2) - (r1_x2 - (n1 * (n1 + 1)))) AS u2_x2
FROM agg
"""


def q_acf(spark, sf_dir):
    """Per-event-type autocorrelation at lags 1–3 (operators/
    timeseries.acf_lags) over the value series ordered by (ts,
    event_id): ONE partitioned window pass computes every lag's pair
    sums, exact decimal partials for all base moments (the
    anomaly_zscore 2^53 headroom discipline), and the final acf double
    is one expression shared verbatim with the oracle."""
    from osm2geojson_spark.operators.timeseries import acf_lags

    ev = _t(spark, sf_dir, "events")
    return (acf_lags(ev, "event_type", ["ts", "event_id"], "value",
                     max_lag=3)
            .orderBy("key", "lag"))


def _sql_acf() -> str:
    lag_sel = []
    for lg in (1, 2, 3):
        lag_sel.append(
            f"lag(value, {lg}) OVER "
            f"(PARTITION BY event_type ORDER BY ts, event_id) AS l{lg}")
    m = "(s / CAST(n AS DOUBLE))"
    outs = []
    for lg in (1, 2, 3):
        outs.append(f"""
SELECT key, {lg} AS lag, np{lg} AS n_pairs,
       (((sxy{lg} - ({m} * (sh{lg} + st{lg})))
         + (CAST(np{lg} AS DOUBLE) * ({m} * {m})))
        / (ss - (CAST(n AS DOUBLE) * ({m} * {m})))) AS acf
FROM per_key""")
    per_lag_aggs = []
    for lg in (1, 2, 3):
        per_lag_aggs.append(f"""
         COUNT(l{lg}) AS np{lg},
         CAST(SUM(CAST((value * l{lg}) AS DECIMAL(38,4))) AS DOUBLE)
           AS sxy{lg},
         CAST(SUM(CAST((CASE WHEN (l{lg} IS NOT NULL) THEN l{lg} END)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sh{lg},
         CAST(SUM(CAST((CASE WHEN (l{lg} IS NOT NULL) THEN value END)
                       AS DECIMAL(38,6))) AS DOUBLE) AS st{lg}""")
    return f"""
WITH base AS (
  SELECT event_type AS key, value, {', '.join(lag_sel)}
  FROM events),
per_key AS (
  SELECT key, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST((value * value) AS DECIMAL(38,4))) AS DOUBLE)
           AS ss,
         {', '.join(per_lag_aggs)}
  FROM base GROUP BY key)
SELECT * FROM ({' UNION ALL '.join(outs)})
ORDER BY key, lag
"""


def q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outliers (operators/stats.iqr_outliers) over the
    events value stream: q1/q3 from the exact_quantiles histogram
    substrate (real data values, no global sort), fences at the exact
    1.5 = 6/4 multiplier, 2-row quantile frame pivoted and broadcast
    back — one data pass for the histogram, one for the flagging.
    Oracle: DuckDB brute row_number order statistics + the same fence
    expression."""
    from osm2geojson_spark.operators.stats import iqr_outliers

    ev = _t(spark, sf_dir, "events")
    return (iqr_outliers(ev, "value")
            .select("event_id", "value", "q1", "q3", "lo", "hi")
            .orderBy("event_id"))


def _sql_iqr_outliers() -> str:
    return """
WITH n AS (SELECT count(*) AS n FROM events),
r AS (SELECT value AS v, row_number() OVER (ORDER BY value) AS rn
      FROM events),
ks AS (SELECT (((250000 * n) + 999999) // 1000000) AS k1,
              (((750000 * n) + 999999) // 1000000) AS k3 FROM n),
qq AS (SELECT
        (SELECT v FROM r, ks WHERE (rn = k1)) AS q1,
        (SELECT v FROM r, ks WHERE (rn = k3)) AS q3),
fences AS (
  SELECT q1, q3,
         (q1 - ((6 * (q3 - q1)) / 4.0)) AS lo,
         (q3 + ((6 * (q3 - q1)) / 4.0)) AS hi
  FROM qq)
SELECT e.event_id, e.value, f.q1, f.q3, f.lo, f.hi
FROM events e, fences f
WHERE ((e.value < f.lo) OR (e.value > f.hi))
ORDER BY e.event_id
"""


def q_convoys(spark, sf_dir):
    """Convoy (co-movement) detection (spatial/trajectory.convoys):
    maximal runs of consecutive day-buckets in which a user PAIR shares
    a grid cell — presence dedup → cell-bucket self-join (the
    LSH-bucket discipline: candidates bounded by cell occupancy², never
    user-count²) → gaps-and-islands. Positions are a deterministic
    group walk (user_id mod 8, (user_id div 8 + 3-day phase) mod 8) so
    same-group users genuinely travel together; ts rides through
    cast(sec AS TIMESTAMP) so unix_timestamp is the exact epoch inverse
    in any session timezone (the TIMESTAMP_NTZ trap sidestepped)."""
    from osm2geojson_spark.spatial.trajectory import convoys

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"))
    pts = pts.select(
        "user_id",
        F.col("sec").cast("timestamp").alias("pts_ts"),
        F.expr("CAST((user_id % 8) AS DOUBLE)").alias("x"),
        F.expr("CAST((((user_id div 8) + (sec div 259200)) % 8) AS DOUBLE)")
        .alias("y"))
    return (convoys(pts, user_col="user_id", ts_col="pts_ts",
                    x_col="x", y_col="y", cell=1, bucket_secs=86_400,
                    min_len=2)
            .orderBy("user_a", "user_b", "start_bucket"))


def _sql_convoys() -> str:
    return """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
pres AS (
  SELECT DISTINCT user_id AS u, (sec // 86400) AS bucket,
         (user_id % 8) AS cx,
         (((user_id // 8) + (sec // 259200)) % 8) AS cy
  FROM ev),
pairs AS (
  SELECT DISTINCT a.u AS user_a, b.u AS user_b, a.bucket AS bucket
  FROM pres a JOIN pres b
    ON ((a.bucket = b.bucket) AND (a.cx = b.cx) AND (a.cy = b.cy)
        AND (a.u < b.u))),
runs AS (
  SELECT user_a, user_b, bucket,
         (bucket - ROW_NUMBER() OVER (PARTITION BY user_a, user_b
                                      ORDER BY bucket)) AS grp
  FROM pairs)
SELECT user_a, user_b, MIN(bucket) AS start_bucket,
       MAX(bucket) AS end_bucket, COUNT(*) AS run_len
FROM runs
GROUP BY user_a, user_b, grp
HAVING (COUNT(*) >= 2)
ORDER BY user_a, user_b, start_bucket
"""


def q_spearman(spark, sf_dir):
    """Spearman rank correlation (operators/stats.spearman_rho) between
    order quantity and extended price — the monotone-association
    screen. Exact integer 2×-midrank moments (DECIMAL accumulation),
    distributed ranks via histogram-cumsum + join-back (no global row
    sort); rho is one guarded double expression, sqrt correctly
    rounded in both engines."""
    from osm2geojson_spark.operators.stats import spearman_rho

    li = _t(spark, sf_dir, "lineitem")
    return spearman_rho(li, "l_quantity", "l_extendedprice")


def _sql_spearman() -> str:
    def mid(col):
        return f"""
  SELECT {col}, (2 * SUM(cnt) OVER (ORDER BY {col}
                 ROWS UNBOUNDED PRECEDING) - cnt + 1) AS r{col}
  FROM (SELECT {col}, COUNT(*) AS cnt FROM src GROUP BY {col})"""

    return f"""
WITH src AS (
  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
  WHERE ((l_quantity IS NOT NULL) AND (l_extendedprice IS NOT NULL))),
hx AS ({mid('x')}),
hy AS ({mid('y')}),
ranked AS (
  SELECT hx.rx AS rx, hy.ry AS ry
  FROM src JOIN hx USING (x) JOIN hy USING (y)),
agg AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS BIGINT) AS sx,
         CAST(SUM(CAST(rx AS DECIMAL(38,0)) * rx) AS BIGINT) AS sxx,
         CAST(SUM(CAST(ry AS DECIMAL(38,0)) * ry) AS BIGINT) AS syy,
         CAST(SUM(CAST(rx AS DECIMAL(38,0)) * ry) AS BIGINT) AS sxy
  FROM ranked)
SELECT n, sx, sxx, syy, sxy,
       CASE WHEN ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))
                  - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) = 0.0E0
            OR ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE))
                - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) = 0.0E0
            THEN NULL ELSE
       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
        - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       / sqrt(((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))
               - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE))
                 - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) END AS rho
FROM agg
"""


def q_ab_ztest(spark, sf_dir):
    """Two-proportion z-test (operators/stats.two_prop_ztest) between
    the click and view arms on the high-value conversion flag — the
    A/B significance gate. Exact integer counts; z is one pooled
    double expression."""
    from osm2geojson_spark.operators.stats import two_prop_ztest

    ev = _t(spark, sf_dir, "events").withColumn(
        "ok", F.expr("value > 245.0"))
    return two_prop_ztest(ev, "event_type", "click", "view", "ok")


def _sql_ab_ztest() -> str:
    return """
WITH agg AS (
  SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN ((event_type = 'click') AND (value > 245.0))
             THEN 1 ELSE 0 END) AS x1,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN ((event_type = 'view') AND (value > 245.0))
             THEN 1 ELSE 0 END) AS x2
  FROM events)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
       CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
       CASE WHEN (n1 = 0) OR (n2 = 0) OR ((x1 + x2) = 0)
            OR ((x1 + x2) = (n1 + n2)) THEN NULL ELSE
       ((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        - (CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
       / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
              * (1.0E0 - (CAST(x1 + x2 AS DOUBLE)
                          / CAST(n1 + n2 AS DOUBLE)))
              * ((1.0E0 / CAST(n1 AS DOUBLE))
                 + (1.0E0 / CAST(n2 AS DOUBLE)))) END AS z
FROM agg
"""


def q_welch_ttest(spark, sf_dir):
    """Welch's t-test (operators/stats.welch_ttest) on the click-vs-view
    value means — the unequal-variance mean-shift gate. Decimal sums,
    one double cast per moment, single-expression t and
    Welch–Satterthwaite dof."""
    from osm2geojson_spark.operators.stats import welch_ttest

    ev = _t(spark, sf_dir, "events")
    return welch_ttest(ev, "value", "event_type", "click", "view")


def _sql_welch_ttest() -> str:
    v1 = ("((ss1 - ((s1 * s1) / CAST(n1 AS DOUBLE)))"
          " / CAST(n1 - 1 AS DOUBLE))")
    v2 = ("((ss2 - ((s2 * s2) / CAST(n2 AS DOUBLE)))"
          " / CAST(n2 - 1 AS DOUBLE))")
    se2 = f"(({v1} / CAST(n1 AS DOUBLE)) + ({v2} / CAST(n2 AS DOUBLE)))"
    return f"""
WITH agg AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS s1,
         CAST(SUM(CASE WHEN event_type = 'view'
                  THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS s2,
         CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST((value * value) AS DECIMAL(38,4)) END)
              AS DOUBLE) AS ss1,
         CAST(SUM(CASE WHEN event_type = 'view'
                  THEN CAST((value * value) AS DECIMAL(38,4)) END)
              AS DOUBLE) AS ss2
  FROM events WHERE (value IS NOT NULL))
SELECT n1, n2, s1, s2, ss1, ss2,
       CASE WHEN (n1 < 2) OR (n2 < 2) OR ({se2} <= 0.0E0) THEN NULL
            ELSE ((s1 / CAST(n1 AS DOUBLE)) - (s2 / CAST(n2 AS DOUBLE)))
            / sqrt({se2}) END AS t,
       CASE WHEN (n1 < 2) OR (n2 < 2) OR ({se2} <= 0.0E0) THEN NULL
            ELSE ({se2} * {se2})
            / ((({v1} / CAST(n1 AS DOUBLE)) * ({v1} / CAST(n1 AS DOUBLE))
                / CAST(n1 - 1 AS DOUBLE))
               + (({v2} / CAST(n2 AS DOUBLE)) * ({v2} / CAST(n2 AS DOUBLE))
                  / CAST(n2 - 1 AS DOUBLE))) END AS dof
FROM agg
"""


def q_psi_drift(spark, sf_dir):
    """Population-drift histogram (operators/stats.psi_buckets) between
    the click and view value distributions — integer-ppm masses per
    bucket, zero buckets included (the PSI input table, kept ln-free
    so it is bit-stable across engines)."""
    from osm2geojson_spark.operators.stats import psi_buckets

    ev = _t(spark, sf_dir, "events")
    return (psi_buckets(ev, "value", "event_type", "click", "view", 50)
            .orderBy("bucket"))


def _sql_psi_drift() -> str:
    return """
WITH src AS (
  SELECT CASE WHEN event_type = 'click' THEN 1
              WHEN event_type = 'view' THEN 2 END AS g,
         CAST(floor(value / 50) AS BIGINT) AS bucket
  FROM events
  WHERE (event_type IN ('click', 'view'))),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM src GROUP BY bucket),
tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM counts)
SELECT bucket, n1, n2,
       CAST(((n1 * 1000000) // t1) AS BIGINT) AS p1_ppm,
       CAST(((n2 * 1000000) // t2) AS BIGINT) AS p2_ppm
FROM counts, tot
ORDER BY bucket
"""


def q_seasonal_profile(spark, sf_dir):
    """Hour-of-day seasonal profile (operators/timeseries.
    seasonal_profile) per event type — the additive-seasonal component
    a pipeline subtracts before trend/anomaly work. Decimal sums, one
    groupBy(key, phase) shuffle."""
    from osm2geojson_spark.operators.timeseries import seasonal_profile

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"))
    return (seasonal_profile(ev, "event_type", "sec", "value")
            .orderBy("key", "phase"))


def _sql_seasonal_profile() -> str:
    return """
WITH ev AS (
  SELECT event_type AS key,
         ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24) AS phase,
         value
  FROM events)
SELECT key, phase, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       (CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE)) AS mean_value
FROM ev
GROUP BY key, phase
ORDER BY key, phase
"""


def q_cusum(spark, sf_dir):
    """Mean-centered CUSUM alarms (operators/timeseries.cusum_alerts,
    target=None) per event type: the running deviation-from-key-mean
    walk in exact int64 micro-units (cross-multiplied rational mean —
    no decimal×decimal precision-cap divergence), emitting rows where
    the walk leaves a ±1500 band — the retro mean-shift changepoint
    scan."""
    from osm2geojson_spark.operators.timeseries import cusum_alerts

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"))
    return (cusum_alerts(ev, "event_type", ["sec", "event_id"], "value",
                         None, 1500)
            .select("event_type", "event_id", "sec", "value", "cusum")
            .orderBy("event_type", "sec", "event_id"))


def _sql_cusum() -> str:
    return """
WITH ev AS (
  SELECT event_type, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST((CAST(value AS DECIMAL(28,6)) * 1000000) AS BIGINT) AS vu
  FROM events),
tot AS (
  SELECT event_type, COUNT(*) AS cn, SUM(vu) AS cs
  FROM ev GROUP BY event_type),
walked AS (
  SELECT ev.event_type, ev.event_id, ev.sec, ev.value, t.cn,
         ((CAST(t.cn AS BIGINT) * CAST(SUM(ev.vu)
            OVER (PARTITION BY ev.event_type ORDER BY ev.sec, ev.event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT))
          - (CAST(ROW_NUMBER()
              OVER (PARTITION BY ev.event_type ORDER BY ev.sec, ev.event_id)
              AS BIGINT) * CAST(t.cs AS BIGINT))) AS num
  FROM ev JOIN tot t ON (t.event_type = ev.event_type))
SELECT event_type, event_id, sec, value,
       (CAST(num AS DOUBLE) / (CAST(cn AS DOUBLE) * 1000000.0E0)) AS cusum
FROM walked
WHERE (abs(num) > (cn * 1500000000))
ORDER BY event_type, sec, event_id
"""


def q_attribution(spark, sf_dir):
    """First/last-touch attribution (operators/funnel.touch_attribution):
    every purchase event attributed to the user's first and latest
    click at-or-before it — ONE partitioned window pass, no self-join.
    Unattributed purchases kept with NULL touch ids."""
    from osm2geojson_spark.operators.funnel import touch_attribution

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"))
    return (touch_attribution(ev).orderBy("user", "convert_sec",
                                          "convert_id"))


def _sql_attribution() -> str:
    return """
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN event_type = 'click' THEN event_id END AS tid
  FROM events),
attached AS (
  SELECT user_id AS "user", event_id AS eid, sec, event_type,
         first_value(tid IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS UNBOUNDED PRECEDING) AS first_touch_id,
         last_value(tid IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_touch_id
  FROM ev)
SELECT "user", eid AS convert_id, sec AS convert_sec,
       first_touch_id, last_touch_id
FROM attached
WHERE (event_type = 'purchase')
ORDER BY "user", convert_sec, convert_id
"""


_CLOSENESS_SOURCES = [(i * 73) % 576 for i in range(8)]


def q_closeness(spark, sf_dir):
    """Weighted closeness centrality (operators/graph.
    closeness_centrality) for 8 seed depots on the 24×24 grid road
    network — rides the Δ-stepping multi-source matrix (broadcast-edge
    full-relax at this size), then one aggregate per source. Oracle =
    independent pyref heap Dijkstra aggregated the same way."""
    from osm2geojson_spark.operators.graph import closeness_centrality
    from osm2geojson_spark.spatial.route import grid_edges

    return (closeness_centrality(grid_edges(spark, _ROUTE_N),
                                 _CLOSENESS_SOURCES)
            .orderBy("src"))


def _sql_closeness() -> str:
    from osm2geojson_spark import pyref

    m = pyref.ref_travel_matrix(_ROUTE_N, _CLOSENESS_SOURCES)
    agg: dict = {}
    for s, _node, d in m:
        n, t = agg.get(s, (0, 0))
        agg[s] = (n + 1, t + d)
    rows = [(s, n, t, None if t == 0 else float(n - 1) / float(t))
            for s, (n, t) in sorted(agg.items())]
    return pyref.values_sql(
        rows, [("src", "BIGINT"), ("n_reached", "BIGINT"),
               ("sum_dist", "BIGINT"), ("closeness", "DOUBLE")])


_SEG_CELL = 4096


def _seg_exprs():
    """The synthetic segment layer shared by both twins: int endpoints
    in a 100k square, deltas within ±1500."""
    ax = f"((event_id * {_LON_MUL}) % 100000)"
    ay = f"((event_id * {_LAT_MUL} + {_LAT_OFF}) % 100000)"
    dx = "(((event_id * 40503) + 77) % 3001 - 1500)"
    dy = "(((event_id * 65587) + 123) % 3001 - 1500)"
    return ax, ay, f"({ax} + {dx})", f"({ay} + {dy})"


def q_segment_intersections(spark, sf_dir):
    """Exact segment–segment intersection self-join
    (spatial/segjoin.segment_intersection_join): cell-cover candidate
    equi-join + pure-int64 orientation tests (no epsilon, no UDF) —
    the line-layer spatial join (road crossings / conflation). The
    DuckDB twin is the literal same cover + cross-product algebra."""
    from osm2geojson_spark.spatial.segjoin import segment_intersection_join

    ax, ay, bx, by = _seg_exprs()
    segs = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("seg_id"),
        F.expr(ax).alias("ax"), F.expr(ay).alias("ay"),
        F.expr(bx).alias("bx"), F.expr(by).alias("by"))
    return (segment_intersection_join(segs, cell=_SEG_CELL)
            .orderBy("seg_a", "seg_b"))


def _sql_segment_intersections() -> str:
    from osm2geojson_spark.spatial import segjoin

    ax, ay, bx, by = _seg_exprs()
    c = _SEG_CELL
    d1 = segjoin._cross("p3x", "p3y", "p4x", "p4y", "p1x", "p1y")
    d2 = segjoin._cross("p3x", "p3y", "p4x", "p4y", "p2x", "p2y")
    d3 = segjoin._cross("p1x", "p1y", "p2x", "p2y", "p3x", "p3y")
    d4 = segjoin._cross("p1x", "p1y", "p2x", "p2y", "p4x", "p4y")
    on1 = ("((least(p3x, p4x) <= p1x) AND (p1x <= greatest(p3x, p4x))"
           " AND (least(p3y, p4y) <= p1y) AND (p1y <= greatest(p3y, p4y)))")
    on2 = ("((least(p3x, p4x) <= p2x) AND (p2x <= greatest(p3x, p4x))"
           " AND (least(p3y, p4y) <= p2y) AND (p2y <= greatest(p3y, p4y)))")
    on3 = ("((least(p1x, p2x) <= p3x) AND (p3x <= greatest(p1x, p2x))"
           " AND (least(p1y, p2y) <= p3y) AND (p3y <= greatest(p1y, p2y)))")
    on4 = ("((least(p1x, p2x) <= p4x) AND (p4x <= greatest(p1x, p2x))"
           " AND (least(p1y, p2y) <= p4y) AND (p4y <= greatest(p1y, p2y)))")
    proper = (f"((((({d1}) > 0) AND (({d2}) < 0))"
              f" OR ((({d1}) < 0) AND (({d2}) > 0)))"
              f" AND (((({d3}) > 0) AND (({d4}) < 0))"
              f" OR ((({d3}) < 0) AND (({d4}) > 0))))")
    touching = (f"(((({d1}) = 0) AND {on1}) OR ((({d2}) = 0) AND {on2})"
                f" OR ((({d3}) = 0) AND {on3}) OR ((({d4}) = 0) AND {on4}))")
    return f"""
WITH segs AS (
  SELECT event_id AS sid, {ax} AS ax, {ay} AS ay,
         {bx} AS bx, {by} AS by
  FROM events),
cov1 AS (
  SELECT sid, ax, ay, bx, by,
         unnest(range((least(ax, bx) // {c}),
                      ((greatest(ax, bx) // {c}) + 1))) AS cx
  FROM segs),
cov AS (
  SELECT sid, ax, ay, bx, by, cx,
         unnest(range((least(ay, by) // {c}),
                      ((greatest(ay, by) // {c}) + 1))) AS cy
  FROM cov1),
cand AS (
  SELECT DISTINCT a.sid AS seg_a, b.sid AS seg_b,
         a.ax AS p1x, a.ay AS p1y, a.bx AS p2x, a.by AS p2y,
         b.ax AS p3x, b.ay AS p3y, b.bx AS p4x, b.by AS p4y
  FROM cov a JOIN cov b
    ON ((a.cx = b.cx) AND (a.cy = b.cy) AND (a.sid < b.sid)))
SELECT seg_a, seg_b, {proper} AS proper
FROM cand
WHERE (({proper}) OR ({touching}))
ORDER BY seg_a, seg_b
"""


_STRESS_SOURCES = [3, 17, 41, 59, 88]


def q_stress(spark, sf_dir):
    """Sampled stress centrality (operators/graph.stress_centrality)
    over the closed-form hash graph: exact int64 shortest-path COUNTS
    through each node (the oracle-compatible cousin of betweenness —
    σ-ratio accumulation is float and partitioning-ordered, path
    counting is order-free). Forward BFS σ wave + backward DAG tally,
    both frontier joins. Oracle: independent pyref BFS twin."""
    from osm2geojson_spark.operators.graph import stress_centrality

    return (stress_centrality(_r5_hash_edges(spark), _STRESS_SOURCES)
            .orderBy("node"))


def _sql_stress() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_stress(
        pyref.hash_graph(_R5_GRAPH_N, _R5_GRAPH_E), _STRESS_SOURCES)
    return pyref.values_sql(
        rows, [("node", "BIGINT"), ("stress", "BIGINT")]) + " ORDER BY node"


def q_ohlc(spark, sf_dir):
    """Daily OHLC bars (operators/timeseries.ohlc_bars) per event type:
    open/high/low/close/n per (type, day) with the open/close
    tie-break encoded into one unique int64 order key
    (sec·10⁷ + event_id) so min_by/max_by are deterministic and the
    DuckDB twin is the literal same aggregate pair."""
    from osm2geojson_spark.operators.timeseries import ohlc_bars

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("sec"))
    ev = ev.select(
        "event_type", "value",
        F.expr("sec div 86400").alias("day"),
        F.expr("sec * 10000000 + event_id").alias("okey"))
    return (ohlc_bars(ev, "event_type", "okey", "value", "day")
            .orderBy("key", "bucket"))


def _sql_ohlc() -> str:
    return """
WITH ev AS (
  SELECT event_type, value,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
         ((CAST(floor(epoch(ts)) AS BIGINT) * 10000000) + event_id)
           AS okey
  FROM events)
SELECT event_type AS key, day AS bucket,
       min_by(value, okey) AS open, MAX(value) AS high,
       MIN(value) AS low, max_by(value, okey) AS close,
       COUNT(*) AS n
FROM ev
GROUP BY event_type, day
ORDER BY key, bucket
"""


def _areal_rect_sql(key: str, mul_w: int, mul_h: int, base: int,
                    spread: int) -> tuple:
    x0 = f"(({key} * {_LON_MUL}) % 100000)"
    y0 = f"((({key} * {_LAT_MUL}) + {_LAT_OFF}) % 100000)"
    w = f"({base} + (({key} * {mul_w}) % {spread}))"
    h = f"({base} + (({key} * {mul_h}) % {spread}))"
    return x0, y0, w, h


def q_areal_interp(spark, sf_dir):
    """Areal-weighted interpolation (spatial/overlap.
    rect_areal_interpolate): reallocate part sizes from 2,000 source
    rect zones onto 100 supplier target zones by EXACT int64 overlap
    areas; the reallocated estimate is an ordered fold over sid-sorted
    contributions (F.aggregate == list_reduce). Cell-cover candidate
    join Spark-side; the oracle brute-forces all pairs."""
    from osm2geojson_spark.spatial.overlap import rect_areal_interpolate

    sx0, sy0, sw, sh = _areal_rect_sql("p_partkey", 13, 29, 500, 2000)
    src = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("sid"),
        F.expr(sx0).alias("x0"), F.expr(sy0).alias("y0"),
        F.expr(f"{sx0} + {sw}").alias("x1"),
        F.expr(f"{sy0} + {sh}").alias("y1"),
        F.col("p_size").cast("long").alias("val"))
    tx0, ty0, tw, th = _areal_rect_sql("s_suppkey", 37, 41, 3000, 9000)
    tgt = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("tid"),
        F.expr(tx0).alias("x0"), F.expr(ty0).alias("y0"),
        F.expr(f"{tx0} + {tw}").alias("x1"),
        F.expr(f"{ty0} + {th}").alias("y1"))
    return rect_areal_interpolate(src, tgt, res=4096).orderBy("tid")


def _sql_areal_interp() -> str:
    sx0, sy0, sw, sh = _areal_rect_sql("p_partkey", 13, 29, 500, 2000)
    tx0, ty0, tw, th = _areal_rect_sql("s_suppkey", 37, 41, 3000, 9000)
    return f"""
WITH src AS (
  SELECT p_partkey AS sid, {sx0} AS sx0, {sy0} AS sy0,
         ({sx0} + {sw}) AS sx1, ({sy0} + {sh}) AS sy1,
         CAST(p_size AS BIGINT) AS val
  FROM part),
tgt AS (
  SELECT s_suppkey AS tid, {tx0} AS tx0, {ty0} AS ty0,
         ({tx0} + {tw}) AS tx1, ({ty0} + {th}) AS ty1
  FROM supplier),
pairs AS (
  SELECT sid, tid, val,
         ((least(sx1, tx1) - greatest(sx0, tx0))
          * (least(sy1, ty1) - greatest(sy0, ty0))) AS inter,
         ((sx1 - sx0) * (sy1 - sy0)) AS sarea
  FROM src CROSS JOIN tgt
  WHERE ((sx0 < tx1) AND (tx0 < sx1) AND (sy0 < ty1) AND (ty0 < sy1)))
SELECT tid, CAST(COUNT(*) AS BIGINT) AS n_src,
       CAST(SUM(inter) AS BIGINT) AS wsum_area,
       list_reduce(
         list_prepend(CAST(0.0E0 AS DOUBLE),
           list(CAST(val * inter AS DOUBLE) / CAST(sarea AS DOUBLE)
                ORDER BY sid)),
         (a, b) -> (a + b)) AS est
FROM pairs
GROUP BY tid
ORDER BY tid
"""


def q_gini(spark, sf_dir):
    """Gini concentration per order priority (operators/stats.
    gini_coefficient) over floored order totals — the exact rank-sum
    form on the distinct-value histogram (one partitioned window, no
    global sort); gini is the single guarded double. DuckDB twin is
    the literal same algebra."""
    from osm2geojson_spark.operators.stats import gini_coefficient

    od = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("CAST(FLOOR(o_totalprice) AS BIGINT)").alias("tp"))
    return (gini_coefficient(od, "tp", "o_orderpriority")
            .orderBy("g"))


def _sql_gini() -> str:
    return """
WITH src AS (
  SELECT o_orderpriority AS g, CAST(FLOOR(o_totalprice) AS BIGINT) AS v
  FROM orders WHERE (o_totalprice IS NOT NULL)),
hist AS (SELECT g, v, COUNT(*) AS c FROM src GROUP BY g, v),
cum AS (
  SELECT g, v, c,
         COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS s_before
  FROM hist),
agg AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(v * c) AS BIGINT) AS s,
         CAST(SUM(v * c * ((2 * s_before) + c + 1)) AS BIGINT) AS a
  FROM cum GROUP BY g)
SELECT g, n, s, a,
       CASE WHEN ((s = 0) OR (n = 0)) THEN NULL ELSE
       (CAST(a AS DOUBLE) - (CAST(n + 1 AS DOUBLE) * CAST(s AS DOUBLE)))
       / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) END AS gini
FROM agg
ORDER BY g
"""


def q_interval_coverage(spark, sf_dir):
    """Sweep-line interval coverage (operators/ranges.
    interval_coverage): per-priority order activity windows (order
    date + keyed duration) collapsed to the exact concurrency profile
    between breakpoints — ±1 events, one partitioned cumsum + lead,
    all int64."""
    from osm2geojson_spark.operators.ranges import interval_coverage

    od = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01"
               " 00:00:00', CAST(o_orderdate AS TIMESTAMP_NTZ))"
               " div 86400").alias("d0"))
    iv = od.select(
        "o_orderpriority", F.col("d0").alias("s"),
        (F.col("d0") + 1 + F.expr("pmod(d0, 30)")).alias("e"))
    return (interval_coverage(iv, "o_orderpriority", "s", "e")
            .orderBy("key", "t"))


def _sql_interval_coverage() -> str:
    return """
WITH od AS (
  SELECT o_orderpriority,
         (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS d0
  FROM orders),
iv AS (
  SELECT o_orderpriority AS key, d0 AS s,
         ((d0 + 1) + (((d0 % 30) + 30) % 30)) AS e
  FROM od),
ev AS (
  SELECT key, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT key, e AS t, -1 AS d FROM iv),
agg AS (SELECT key, t, SUM(d) AS d FROM ev GROUP BY key, t)
SELECT key, t,
       LEAD(t) OVER (PARTITION BY key ORDER BY t) AS t_next,
       CAST(SUM(d) OVER (PARTITION BY key ORDER BY t
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cov
FROM agg
ORDER BY key, t
"""


def q_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test (operators/stats.runs_test) on the
    above-250 flag sequence of a 1/17 event slice in time order (the
    encoded unique order key) — exact runs count via one ordered lag,
    z as a single fixed-order double."""
    from osm2geojson_spark.operators.stats import runs_test

    ev = _t(spark, sf_dir, "events").where("(event_id % 17) = 0") \
        .select(
            F.expr("(timestampdiff(SECOND, TIMESTAMP_NTZ"
                   " '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP_NTZ))"
                   " * 10000000) + event_id").alias("okey"),
            F.expr("value > 250.0").alias("hot"))
    return runs_test(ev, "okey", "hot")


def _sql_runs_test() -> str:
    return """
WITH ev AS (
  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) * 10000000) + event_id)
           AS okey,
         (value > 250.0) AS f
  FROM events WHERE (((event_id % 17) = 0) AND (value IS NOT NULL))),
flipped AS (
  SELECT f, CASE WHEN (LAG(f) OVER (ORDER BY okey) IS NULL) THEN 0
               WHEN (LAG(f) OVER (ORDER BY okey) <> f) THEN 1
               ELSE 0 END AS flip
  FROM ev),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(flip) + 1 AS BIGINT) AS runs
  FROM flipped)
SELECT n, n1, (n - n1) AS n2, runs,
       CASE WHEN ((n1 = 0) OR (n1 = n) OR (n < 2)) THEN NULL ELSE
       (CAST(runs AS DOUBLE) - ((2.0E0 * CAST(n1 AS DOUBLE)
        * CAST(n - n1 AS DOUBLE)) / CAST(n AS DOUBLE) + 1.0E0))
       / sqrt(((2.0E0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))
         * ((2.0E0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))
            - CAST(n AS DOUBLE)))
         / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
            * CAST(n - 1 AS DOUBLE))) END AS z
FROM agg
"""


def q_weighted_median(spark, sf_dir):
    """Exact weighted lower median (operators/stats.weighted_median)
    of part size weighted by floored retail price — the smallest value
    whose cumulative weight reaches half the total, read off the
    histogram walk."""
    from osm2geojson_spark.operators.stats import weighted_median

    p = _t(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("sz"),
        F.expr("CAST(FLOOR(p_retailprice) AS BIGINT)").alias("wt"))
    return weighted_median(p, "sz", "wt")


def _sql_weighted_median() -> str:
    return """
WITH src AS (
  SELECT CAST(p_size AS BIGINT) AS v,
         CAST(FLOOR(p_retailprice) AS BIGINT) AS wt
  FROM part
  WHERE ((p_size IS NOT NULL) AND (p_retailprice IS NOT NULL)
         AND (FLOOR(p_retailprice) > 0))),
hist AS (
  SELECT v, COUNT(*) AS c, SUM(wt) AS w FROM src GROUP BY v),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(w) AS BIGINT) AS w_total FROM hist),
walk AS (
  SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_w
  FROM hist)
SELECT t.n, t.w_total, CAST(MIN(w.v) AS BIGINT) AS wmed
FROM walk w CROSS JOIN tot t
WHERE (w.cum_w >= ((t.w_total + 1) // 2))
GROUP BY t.n, t.w_total
"""


def q_group_mode(spark, sf_dir):
    """Exact per-group mode with the smallest-value tie rule
    (operators/stats.group_mode): dominant part type per brand — one
    count + one partitioned rank window; identical SQL twin."""
    from osm2geojson_spark.operators.stats import group_mode

    p = _t(spark, sf_dir, "part")
    return group_mode(p, "p_brand", "p_type").orderBy("key")


def _sql_group_mode() -> str:
    return """
WITH counts AS (
  SELECT p_brand AS key, p_type AS val, COUNT(*) AS cnt
  FROM part WHERE (p_type IS NOT NULL)
  GROUP BY p_brand, p_type),
ranked AS (
  SELECT key, val, cnt,
         ROW_NUMBER() OVER (PARTITION BY key
                            ORDER BY cnt DESC, val ASC) AS rn
  FROM counts)
SELECT key, val AS mode, CAST(cnt AS BIGINT) AS mode_n
FROM ranked WHERE (rn = 1)
ORDER BY key
"""


def q_trimmed_mean(spark, sf_dir):
    """Exact 10%-trimmed mean (operators/stats.trimmed_mean) of
    floored extended prices — kept sum via two exact cumulative-value
    lookups on the histogram walk (the lorenz partial); tmean is the
    single division."""
    from osm2geojson_spark.operators.stats import trimmed_mean

    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(FLOOR(l_extendedprice) AS BIGINT)").alias("ep"))
    return trimmed_mean(li, "ep", trim_ppm=100_000)


def _sql_trimmed_mean() -> str:
    return """
WITH src AS (
  SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
  FROM lineitem WHERE (l_extendedprice IS NOT NULL)),
hist AS (SELECT v, COUNT(*) AS c FROM src GROUP BY v),
cum AS (
  SELECT v, c,
         COALESCE(SUM(c) OVER w, 0) AS s_before,
         COALESCE(SUM(v * c) OVER w, 0) AS v_before
  FROM hist
  WINDOW w AS (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
ranks AS (
  SELECT n, ((100000 * n) // 1000000) AS k,
         ((100000 * n) // 1000000) AS r_lo,
         (n - ((100000 * n) // 1000000)) AS r_hi
  FROM tot),
lo AS (
  SELECT r.n, r.k,
         COALESCE(CAST(MIN(c.v_before + ((r.r_lo - c.s_before) * c.v))
                  AS BIGINT), 0) AS cum_lo
  FROM ranks r LEFT JOIN cum c
    ON ((c.s_before < r.r_lo) AND (r.r_lo <= (c.s_before + c.c)))
  GROUP BY r.n, r.k),
hi AS (
  SELECT r.n, r.k,
         COALESCE(CAST(MIN(c.v_before + ((r.r_hi - c.s_before) * c.v))
                  AS BIGINT), 0) AS cum_hi
  FROM ranks r LEFT JOIN cum c
    ON ((c.s_before < r.r_hi) AND (r.r_hi <= (c.s_before + c.c)))
  GROUP BY r.n, r.k)
SELECT lo.n, lo.k, (lo.n - (2 * lo.k)) AS kept_n,
       (hi.cum_hi - lo.cum_lo) AS kept_sum,
       CASE WHEN ((lo.n - (2 * lo.k)) <= 0) THEN NULL ELSE
            (CAST(hi.cum_hi - lo.cum_lo AS DOUBLE)
             / CAST(lo.n - (2 * lo.k) AS DOUBLE)) END AS tmean
FROM lo JOIN hi ON ((lo.n = hi.n) AND (lo.k = hi.k))
"""


def q_dag_layers(spark, sf_dir):
    """Longest-path DAG layering (operators/graph.dag_layers) of a
    hash-derived acyclic graph (edges oriented min→max id, so
    acyclicity is by construction): distributed Kahn peel rounds with
    localCheckpoint truncation — rounds = DAG depth. Oracle = pyref
    python Kahn twin."""
    from osm2geojson_spark.operators.graph import dag_layers

    n, m = 400, 900
    e = spark.range(m).select(
        F.expr(f"least((id * 2654435761) % {n},"
               f" ((id * 40503) + 7) % {n})").alias("src"),
        F.expr(f"greatest((id * 2654435761) % {n},"
               f" ((id * 40503) + 7) % {n})").alias("dst"))
    return (dag_layers(e.where("src <> dst")).orderBy("node"))


def _sql_dag_layers() -> str:
    from osm2geojson_spark import pyref

    n, m = 400, 900
    raw = [((i * 2654435761) % n, ((i * 40503) + 7) % n)
           for i in range(m)]
    edges = [(min(u, v), max(u, v)) for u, v in raw if u != v]
    rows = pyref.ref_dag_layers(edges)
    return pyref.values_sql(
        rows, [("node", "BIGINT"), ("layer", "BIGINT")])         + " ORDER BY node"


def q_lorenz(spark, sf_dir):
    """Lorenz concentration curve (operators/stats.lorenz_curve) of
    floored order totals at the 10 deciles — exact ranks and exact
    cumulative value at each rank read off the distinct-value
    histogram (inside a tie bucket every row equals v, so the partial
    sum is (k − s_before)·v); shares are the only doubles."""
    from osm2geojson_spark.operators.stats import lorenz_curve

    od = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice) AS BIGINT)").alias("tp"))
    return lorenz_curve(od, "tp").orderBy("p_pct")


def _sql_lorenz() -> str:
    return """
WITH src AS (
  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v
  FROM orders WHERE (o_totalprice IS NOT NULL)),
hist AS (SELECT v, COUNT(*) AS c FROM src GROUP BY v),
cum AS (
  SELECT v, c,
         COALESCE(SUM(c) OVER w, 0) AS s_before,
         COALESCE(SUM(v * c) OVER w, 0) AS v_before
  FROM hist
  WINDOW w AS (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(v * c) AS BIGINT) AS s FROM hist),
p AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])
        AS p_pct),
ranks AS (
  SELECT CAST(p_pct AS BIGINT) AS p_pct, n, s,
         (((p_pct * n) + 99) // 100) AS k
  FROM p CROSS JOIN tot),
hit AS (
  SELECT r.p_pct, CAST(r.k AS BIGINT) AS k,
         CAST(c.v_before + ((r.k - c.s_before) * c.v) AS BIGINT)
           AS cum_v,
         r.n, r.s
  FROM ranks r JOIN cum c
    ON ((c.s_before < r.k) AND (r.k <= (c.s_before + c.c))))
SELECT p_pct, k, cum_v, n, s,
       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) AS pop_share,
       CASE WHEN (s = 0) THEN NULL ELSE
            (CAST(cum_v AS DOUBLE) / CAST(s AS DOUBLE)) END
         AS value_share
FROM hit
ORDER BY p_pct
"""


def q_median_mad(spark, sf_dir):
    """Robust location/scale (operators/stats.median_mad) of floored
    event values: exact low-median and exact MAD via two
    exact_quantiles passes — real data values, no interpolation."""
    from osm2geojson_spark.operators.stats import median_mad

    ev = _t(spark, sf_dir, "events").select(
        F.expr("CAST(FLOOR(value) AS BIGINT)").alias("fv"))
    return median_mad(ev, "fv")


def _sql_median_mad() -> str:
    def med_cte(src: str, col: str, name: str) -> str:
        return f"""
{name}_h AS (SELECT {col} AS v, COUNT(*) AS c FROM {src} GROUP BY {col}),
{name}_c AS (
  SELECT v, c, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
    AS cume
  FROM {name}_h),
{name}_t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM {name}_h),
{name}_m AS (
  SELECT MIN(v) AS med FROM {name}_c CROSS JOIN {name}_t
  WHERE (cume >= (((500000 * n) + 999999) // 1000000)))"""

    return f"""
WITH src AS (
  SELECT CAST(FLOOR(value) AS BIGINT) AS fv
  FROM events WHERE (value IS NOT NULL)),
{med_cte('src', 'fv', 'm1').lstrip()},
dev AS (
  SELECT abs(src.fv - m1_m.med) AS d, m1_m.med AS med
  FROM src CROSS JOIN m1_m),
{med_cte('dev', 'd', 'm2').lstrip()}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n,
       CAST((SELECT med FROM m1_m) AS BIGINT) AS median,
       CAST((SELECT med FROM m2_m) AS BIGINT) AS mad
"""


def q_randomization(spark, sf_dir):
    """Deterministic randomization test (operators/stats.
    randomization_test) on a closed-form 900-row two-group series with
    a planted +150 shift: 199 hash-assignment replicates
    (pmod(xxhash64(id, rep), n) < n_a — IntegerType rep, the 4-byte
    form), mean diffs compared by exact int64 cross-multiplication.
    Oracle = pyref pure-Python XXH64 replay (the bloom parity
    discipline)."""
    from osm2geojson_spark.operators.stats import randomization_test

    df = spark.range(900).select(
        F.expr("CASE WHEN ((id * 7) % 10) < 4 THEN 'a' ELSE 'b' END")
        .alias("g"),
        F.expr("(((id * 2654435761) % 1000) + ((id % 13) * 3))"
               " + (CASE WHEN ((id * 7) % 10) < 4 THEN 150 ELSE 0 END)")
        .alias("v"),
        F.col("id").alias("rid"))
    return randomization_test(df, "g", "a", "b", "v", "rid", k=199)


def _sql_randomization() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_randomization_test(n=900, k=199)
    return pyref.values_sql(
        rows, [("n", "BIGINT"), ("n_a", "BIGINT"), ("n_b", "BIGINT"),
               ("d0", "BIGINT"), ("k_total", "BIGINT"),
               ("k_valid", "BIGINT"), ("k_ge", "BIGINT"),
               ("p", "DOUBLE")])


def q_diversity(spark, sf_dir):
    """Categorical diversity screen (operators/profile.
    diversity_profile): unbiased Simpson concentration + Gini–Simpson
    complement in exact integer ppm over the documents lang/source and
    a derived length bucket — ONE pass via column-stack explode, no
    libm (the psi_buckets ln-free move)."""
    from osm2geojson_spark.operators.profile import diversity_profile

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.expr("CAST(n_chars div 500 AS STRING)"))
    return (diversity_profile(docs, ["lang", "source", "len_bucket"])
            .orderBy("col"))


def _sql_diversity() -> str:
    return """
WITH stacked AS (
  SELECT 'lang' AS col, CAST(lang AS VARCHAR) AS val FROM documents
  UNION ALL
  SELECT 'source' AS col, CAST(source AS VARCHAR) AS val FROM documents
  UNION ALL
  SELECT 'len_bucket' AS col, CAST((n_chars // 500) AS VARCHAR) AS val
  FROM documents),
counts AS (
  SELECT col, val, COUNT(*) AS c FROM stacked GROUP BY col, val),
agg AS (
  SELECT col, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_cat,
         CAST(MAX(c) AS BIGINT) AS dom_n,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS pp
  FROM counts GROUP BY col)
SELECT col, n, n_cat, dom_n,
       CASE WHEN (n < 2) THEN NULL
            ELSE ((1000000 * pp) // (n * (n - 1))) END AS d_ppm,
       CASE WHEN (n < 2) THEN NULL
            ELSE (1000000 - ((1000000 * pp) // (n * (n - 1)))) END
         AS gs_ppm
FROM agg
ORDER BY col
"""


def q_mosaic_pyramid(spark, sf_dir):
    """Overview pyramid of the geo-mosaic (operators/images.
    mosaic_pyramid): base mean-blend render keeping pixels, then one
    groupBy(parent) kernel per level merging ≤4 children with nested
    2×2 floor-means (absent quadrants black). Oracle: pyref twin
    materializes the WHOLE world canvas once and slices level tiles —
    a route the tile-sharded engine never takes, identical bytes."""
    from osm2geojson_spark.operators.images import mosaic_pyramid
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    return (mosaic_pyramid(imgs, world_px=1024, tile=128, thumb=16,
                           levels=3)
            .orderBy("level", "ty", "tx"))


def _sql_mosaic_pyramid() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_mosaic_pyramid(n=300, seed=42, world_px=1024,
                                    tile=128, thumb=16, levels=3)
    rows = sorted(rows, key=lambda r: (r[0], r[2], r[1]))
    return pyref.values_sql(
        rows, [("level", "INTEGER"), ("tx", "BIGINT"), ("ty", "BIGINT"),
               ("w_px", "INTEGER"), ("h_px", "INTEGER"),
               ("md5", "VARCHAR")]) + " ORDER BY level, ty, tx"


def q_effective_diameter(spark, sf_dir):
    """Sampled effective diameter (operators/graph.effective_diameter)
    on the 24×24 grid for the eccentricity seeds: exact p90 of the
    pooled sampled distances via a cumulative walk over the distance
    HISTOGRAM (rank = ceil ppm, no interpolation, all int64). Oracle =
    pyref Dijkstra distances ranked the same way."""
    from osm2geojson_spark.operators.graph import effective_diameter
    from osm2geojson_spark.spatial.route import grid_edges

    return effective_diameter(grid_edges(spark, _ROUTE_N), _ECC_SOURCES)


def _sql_effective_diameter() -> str:
    from osm2geojson_spark import pyref

    dists = sorted(d for _s, _node, d in
                   pyref.ref_travel_matrix(_ROUTE_N, _ECC_SOURCES))
    n = len(dists)
    k = -((-900_000 * n) // 1_000_000)
    rows = [(n, k, dists[k - 1])]
    return pyref.values_sql(
        rows, [("n_pairs", "BIGINT"), ("k", "BIGINT"),
               ("eff_diam", "BIGINT")])


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition (operators/timeseries.
    seasonal_decompose) of hourly event counts per type: centered
    25-hour RANGE-window trend (exact int sums, NULL at incomplete
    windows), per-phase seasonal as the exact rational (snum, sden)
    over complete windows, trend/seasonal/resid as fixed-order double
    expressions. DuckDB twin is the literal same window algebra."""
    from osm2geojson_spark.operators.timeseries import seasonal_decompose

    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.expr("timestampdiff(SECOND,"
                         " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                         " CAST(ts AS TIMESTAMP_NTZ)) div 3600")
                  .alias("hour"))
          .groupBy("event_type", "hour")
          .agg(F.count("*").alias("n")))
    return (seasonal_decompose(ev, "event_type", "hour", "n",
                               period=24, half=12)
            .orderBy("key", "t"))


def _sql_seasonal_decompose() -> str:
    return """
WITH ev AS (
  SELECT event_type AS key,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS t,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM events
  GROUP BY event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600)),
base AS (
  SELECT key, t, v,
         CAST(SUM(v) OVER w AS BIGINT) AS wsum,
         CAST(COUNT(*) OVER w AS BIGINT) AS wn,
         (((t % 24) + 24) % 24) AS phase
  FROM ev
  WINDOW w AS (PARTITION BY key ORDER BY t
               RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
seas AS (
  SELECT key, phase,
         CAST(SUM((25 * v) - wsum) AS BIGINT) AS snum,
         CAST(COUNT(*) AS BIGINT) AS sden
  FROM base WHERE (wn = 25) GROUP BY key, phase)
SELECT b.key, b.t, b.v, b.wsum, b.wn, b.phase, s.snum, s.sden,
       CASE WHEN (b.wn = 25) THEN (CAST(b.wsum AS DOUBLE) / 25.0E0)
            ELSE NULL END AS trend,
       CASE WHEN (s.sden IS NULL) THEN NULL ELSE
            (CAST(s.snum AS DOUBLE)
             / (25.0E0 * CAST(s.sden AS DOUBLE))) END AS seasonal,
       CASE WHEN ((b.wn = 25) AND (s.sden IS NOT NULL)) THEN
            ((CAST((25 * b.v) - b.wsum AS DOUBLE) / 25.0E0)
             - (CAST(s.snum AS DOUBLE)
                / (25.0E0 * CAST(s.sden AS DOUBLE))))
            ELSE NULL END AS resid
FROM base b LEFT JOIN seas s
  ON ((b.key = s.key) AND (b.phase = s.phase))
ORDER BY b.key, b.t
"""


def q_harmonic(spark, sf_dir):
    """Sampled harmonic centrality (operators/graph.
    harmonic_centrality) for the eccentricity seed set on the 24×24
    grid — Σ 1/d as an ordered fold over the per-source distance
    HISTOGRAM (F.aggregate == the pyref twin's left fold, bit-exact
    doubles); rides the Δ-stepping matrix."""
    from osm2geojson_spark.operators.graph import harmonic_centrality
    from osm2geojson_spark.spatial.route import grid_edges

    return (harmonic_centrality(grid_edges(spark, _ROUTE_N),
                                _ECC_SOURCES)
            .orderBy("src"))


def _sql_harmonic() -> str:
    from osm2geojson_spark import pyref

    m = pyref.ref_travel_matrix(_ROUTE_N, _ECC_SOURCES)
    hist: dict = {}
    for s, _node, d in m:
        hist.setdefault(s, {})
        hist[s][d] = hist[s].get(d, 0) + 1
    rows = []
    for s in sorted(hist):
        acc = 0.0
        for d in sorted(hist[s]):
            if d != 0:
                acc = acc + (float(hist[s][d]) / float(d))
        rows.append((s, sum(hist[s].values()), acc))
    return pyref.values_sql(
        rows, [("src", "BIGINT"), ("n_reached", "BIGINT"),
               ("harmonic", "DOUBLE")]) + " ORDER BY src"


def q_tri(spark, sf_dir):
    """Terrain Ruggedness Index (Riley et al.) over the tiled DEM —
    the focal 'tri' kernel (sum |neighbor − center| over the 8) via
    the SAME halo exchange as focal_sum; boundary clamped, so the
    oracle is the 8-term closed form over the synthetic DEM (no
    join)."""
    from osm2geojson_spark.spatial.focal import focal_op, synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    out = focal_op(tiles, op="tri", tile_size=t)
    return (
        out.select("tx", "ty", F.posexplode("data").alias("i", "tri"))
        .select(
            (F.col("tx") * t + F.col("i") % t).alias("x"),
            (F.col("ty") * t + (F.col("i") - F.col("i") % t) / t)
            .cast("long").alias("y"),
            "tri")
        .orderBy("y", "x"))


def _sql_tri() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    c = v(0, 0)
    terms = " + ".join(f"abs({v(dx, dy)} - {c})"
                       for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                       if not (dx == 0 and dy == 0))
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y)
SELECT x, y, ({terms}) AS tri
FROM xs, ys
ORDER BY y, x
"""


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (plans/iceberg_layout.
    plan_compaction_groups): the RewriteDataFiles binPack planner
    shape — deterministic in-partition file order, offset-bucketed
    rewrite groups (``start_offset div target``), one partition-keyed
    window + one groupBy over the METADATA-sized manifest. Run here on
    a closed-form synthetic manifest (per-brand file listings with
    int-derived sizes) so the DuckDB twin is the literal same window
    algebra; the pytest twin runs it over a REAL IcebergLikeTable
    manifest."""
    from osm2geojson_spark.plans.iceberg_layout import (
        plan_compaction_groups,
    )

    p = _t(spark, sf_dir, "part")
    manifest = p.select(
        F.col("p_brand").alias("part"),
        F.format_string("f%08d.parquet", F.col("p_partkey"))
        .alias("file"),
        (((F.col("p_partkey") * 2654435761) % 40_000_000) + 1024)
        .alias("bytes"))
    out = plan_compaction_groups(manifest, 64_000_000)
    return (out.select("part", "group_id", "n_files", "group_bytes",
                       F.array_join("files", "|").alias("files"))
            .orderBy("part", "group_id"))


def _sql_compaction_plan() -> str:
    return """
WITH manifest AS (
  SELECT p_brand AS part, printf('f%08d.parquet', p_partkey) AS file,
         (((p_partkey * 2654435761) % 40000000) + 1024) AS bytes
  FROM part),
staged AS (
  SELECT part, file, bytes,
         (SUM(bytes) OVER (PARTITION BY part ORDER BY file
                           ROWS UNBOUNDED PRECEDING) - bytes) AS off
  FROM manifest)
SELECT part, (off // 64000000) AS group_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS group_bytes,
       string_agg(file, '|' ORDER BY file) AS files
FROM staged
GROUP BY part, (off // 64000000)
ORDER BY part, group_id
"""


def q_kruskal(spark, sf_dir):
    """Kruskal–Wallis k-sample rank test (operators/stats.
    kruskal_wallis) on floored event value across event types — the
    nonparametric does-the-group-matter gate. Exact integer midrank
    sums and tie correction; the rational rank-sum-square term is an
    ordered double fold over the group-sorted stats (F.aggregate ==
    DuckDB list_reduce, the IDW discipline)."""
    from osm2geojson_spark.operators.stats import kruskal_wallis

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(value) AS BIGINT)").alias("fv"))
    return kruskal_wallis(ev, "fv", "event_type")


def _sql_kruskal() -> str:
    return """
WITH src AS (
  SELECT event_type AS g, CAST(FLOOR(value) AS BIGINT) AS v
  FROM events
  WHERE ((event_type IS NOT NULL) AND (value IS NOT NULL))),
hist AS (SELECT v, COUNT(*) AS cnt FROM src GROUP BY v),
ranks AS (
  SELECT v, ((2 * SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING))
             - cnt + 1) AS r2
  FROM hist),
grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(r2) AS BIGINT) AS s2r
  FROM src JOIN ranks USING (v) GROUP BY g),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce(
           list_prepend(CAST(0.0E0 AS DOUBLE),
             list((CAST(s2r AS DOUBLE) * CAST(s2r AS DOUBLE))
                  / (4.0E0 * CAST(n_g AS DOUBLE)) ORDER BY g)),
           (a, b) -> (a + b)) AS sum_t
  FROM grp),
ties AS (
  SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS n,
         COALESCE(CAST(SUM((cnt * cnt * cnt) - cnt) AS BIGINT), 0)
           AS tie3
  FROM hist)
SELECT n, k, tie3, sum_t,
       (((12.0E0 * sum_t)
         / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))
        - (3.0E0 * CAST(n + 1 AS DOUBLE))) AS h,
       CASE WHEN (n < 2) OR (CAST(tie3 AS DOUBLE) =
                 ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * CAST(n AS DOUBLE)) - CAST(n AS DOUBLE)))
            THEN NULL ELSE
       ((((12.0E0 * sum_t)
          / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))
         - (3.0E0 * CAST(n + 1 AS DOUBLE)))
        / (1.0E0 - (CAST(tie3 AS DOUBLE)
           / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n AS DOUBLE)) - CAST(n AS DOUBLE)))))
       END AS h_adj
FROM ties CROSS JOIN folded
"""


def q_geo_mosaic(spark, sf_dir):
    """Geo-referenced photo mosaic (operators/images.geo_mosaic): the
    graft cell's flagship geospatial×image op — exact-integer
    thumbnails placed at lon/lat world-pixel origins on an
    equirectangular canvas, a ≤4-way tile-straddle explode, ONE
    groupBy(tile) Arrow kernel clipping + mean-blending overlaps
    (sum div count), tiles md5-pinned as lossless ppm. City-clustered
    coords exercise the hot-cell skew surface. Oracle: pyref twin with
    row-accumulator thumbnails + dict-of-int pixel maps — different
    summation route, identical bytes."""
    from osm2geojson_spark.operators.images import geo_mosaic
    from osm2geojson_spark.synth.images import FMTS_TIFF, images_table

    imgs = images_table(spark, n=300, seed=42, fmts=FMTS_TIFF)
    return geo_mosaic(imgs, world_px=1024, tile=128, thumb=16) \
        .orderBy("ty", "tx")


def _sql_geo_mosaic() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_geo_mosaic(n=300, seed=42, world_px=1024,
                                tile=128, thumb=16)
    return pyref.values_sql(
        rows, [("tx", "BIGINT"), ("ty", "BIGINT"),
               ("n_contrib", "BIGINT"), ("w_px", "INTEGER"),
               ("h_px", "INTEGER"), ("md5", "VARCHAR")]) \
        + " ORDER BY ty, tx"


_LCSS_EPS_SQ = 30_000_000_000  # ε ≈ 173k on the 1M lattice


def q_trajectory_lcss(spark, sf_dir):
    """Threshold-based trajectory similarity: exact-integer LCSS match
    length (+ ppm of min length) and EDR edit distance over the same
    candidate pairs as ``trajectory_dtw`` — the robust family (an
    outlier ping costs 1, not its squared distance). Same mapInPandas
    DP kernel shape; oracle = pyref memoized-recursion literal table
    (different evaluation order, same integers)."""
    from osm2geojson_spark.spatial.dtw import lcss_similarity_pairs
    from osm2geojson_spark.spatial.hausdorff import collect_geoms

    geoms = collect_geoms(_haus_points(spark))
    objs = geoms.select("obj_id")
    pairs = (objs.select(F.col("obj_id").alias("id_a"))
             .join(objs.select(F.col("obj_id").alias("id_b")),
                   F.expr("id_a < id_b AND (id_a % 6) = (id_b % 6)")))
    return (lcss_similarity_pairs(geoms, pairs, _LCSS_EPS_SQ)
            .orderBy("id_a", "id_b"))


def _sql_trajectory_lcss() -> str:
    from osm2geojson_spark import pyref

    rows = pyref.ref_traj_lcss(n_objs=_HAUS_OBJS, m=_HAUS_PTS,
                               group_mod=6, eps_sq=_LCSS_EPS_SQ)
    return pyref.values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"),
               ("lcss_len", "BIGINT"), ("lcss_ppm", "BIGINT"),
               ("edr_dist", "BIGINT")]) + " ORDER BY id_a, id_b"


_ECC_SOURCES = [(i * 131 + 7) % 576 for i in range(12)]


def q_eccentricity(spark, sf_dir):
    """Sampled weighted eccentricity + diameter lower bound
    (operators/graph.eccentricity_sample) for 12 seeds on the 24×24
    grid road network — the Δ-stepping multi-source matrix reduced by
    a per-source max; diam_lb broadcast back onto every row. All
    int64. Oracle = independent pyref heap Dijkstra, same reduction."""
    from osm2geojson_spark.operators.graph import eccentricity_sample
    from osm2geojson_spark.spatial.route import grid_edges

    return (eccentricity_sample(grid_edges(spark, _ROUTE_N),
                                _ECC_SOURCES)
            .orderBy("src"))


def _sql_eccentricity() -> str:
    from osm2geojson_spark import pyref

    m = pyref.ref_travel_matrix(_ROUTE_N, _ECC_SOURCES)
    agg: dict = {}
    for s, _node, d in m:
        n, e = agg.get(s, (0, 0))
        agg[s] = (n + 1, max(e, d))
    diam_lb = max(e for _n, e in agg.values())
    rows = [(s, n, e, diam_lb) for s, (n, e) in sorted(agg.items())]
    return pyref.values_sql(
        rows, [("src", "BIGINT"), ("n_reached", "BIGINT"),
               ("ecc", "BIGINT"), ("diam_lb", "BIGINT")]) \
        + " ORDER BY src"


def q_getis(spark, sf_dir):
    """Getis–Ord Gi* hotspots (spatial/autocorr.getis_gi_star): the
    local-hotspot z-score per pixel over the tiled DEM — one focal
    halo-exchange pass for the 3×3 window sum, one broadcast row of
    exact global power sums, z as a single double expression over
    exact int64 inputs. Returns the |z| ≥ 1.5 hot/cold cells. Oracle =
    9 clamped closed-form DEM terms + grid-wide aggregates, no join
    (the focal-family discipline)."""
    from osm2geojson_spark.spatial.autocorr import getis_gi_star
    from osm2geojson_spark.spatial.focal import synth_dem_tiles

    t = _FOCAL_T
    tiles = synth_dem_tiles(spark, _FOCAL_TILES, _FOCAL_TILES, t)
    out = getis_gi_star(tiles, t)
    return (out.where("(z >= 1.5) OR (z <= -1.5)")
            .orderBy("y", "x"))


def _sql_getis() -> str:
    w = _FOCAL_T * _FOCAL_TILES

    def v(dx, dy):
        a = f"least(greatest((x + {dx}), 0), {w - 1})"
        b = f"least(greatest((y + {dy}), 0), {w - 1})"
        return (f"(((({a}) * 73 + ({b}) * 19) % 100)"
                f" + ((({a}) * ({a}) + 3 * (({b}) * ({b}))) % 7))")

    terms = " + ".join(v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    val = v(0, 0)
    return f"""
WITH xs AS (SELECT unnest(range(0, {w})) AS x),
ys AS (SELECT unnest(range(0, {w})) AS y),
px AS (SELECT x, y, ({terms}) AS wx, ({val}) AS val FROM xs, ys),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(val) AS BIGINT) AS s,
         CAST(SUM(val * val) AS BIGINT) AS q
  FROM px),
scored AS (
  SELECT px.x, px.y, px.wx,
         ((g.n * px.wx) - (9 * g.s)) AS a,
         CASE WHEN (((g.n * g.q) - (g.s * g.s)) <= 0) OR (g.n <= 9)
              THEN NULL
              ELSE CAST((g.n * px.wx) - (9 * g.s) AS DOUBLE)
              / sqrt(CAST((g.n * g.q) - (g.s * g.s) AS DOUBLE)
                     * CAST((9 * g.n) - 81 AS DOUBLE)
                     / CAST(g.n - 1 AS DOUBLE)) END AS z
  FROM px CROSS JOIN g)
SELECT x, y, wx, a, z
FROM scored
WHERE ((z >= 1.5) OR (z <= -1.5))
ORDER BY y, x
"""


def q_kendall(spark, sf_dir):
    """Kendall tau-b (operators/stats.kendall_tau) between quantity and
    price-bucket on a deterministic 1/37 order slice — EXACT pair
    counts (concordant/discordant/tie splits) with NO all-pairs join:
    equidepth block inclusion–exclusion (P = blocks + x-stripes +
    y-stripes − both-stripes) over the distinct-cell histogram. The
    oracle brute-forces the same slice all-pairs (the slice keeps it
    ~1.3M pairs); FLOOR casts both sides (double→long cast truncates in
    Spark and rounds in DuckDB — determinism rules)."""
    from osm2geojson_spark.operators.stats import kendall_tau

    li = _t(spark, sf_dir, "lineitem").where("(l_orderkey % 37) = 0") \
        .select(
            F.expr("CAST(FLOOR(l_quantity) AS BIGINT)").alias("qx"),
            F.expr("CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT)")
            .alias("qy"))
    return kendall_tau(li, "qx", "qy")


def _sql_kendall() -> str:
    return """
WITH s AS (
  SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS y,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rid
  FROM lineitem
  WHERE (((l_orderkey % 37) = 0) AND (l_quantity IS NOT NULL)
         AND (l_extendedprice IS NOT NULL))),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN (((a.x < b.x) AND (a.y < b.y))
                        OR ((a.x > b.x) AND (a.y > b.y)))
             THEN 1 ELSE 0 END) AS BIGINT) AS p,
    CAST(SUM(CASE WHEN (((a.x < b.x) AND (a.y > b.y))
                        OR ((a.x > b.x) AND (a.y < b.y)))
             THEN 1 ELSE 0 END) AS BIGINT) AS q,
    CAST(SUM(CASE WHEN ((a.x = b.x) AND (a.y <> b.y))
             THEN 1 ELSE 0 END) AS BIGINT) AS tx_only,
    CAST(SUM(CASE WHEN ((a.x <> b.x) AND (a.y = b.y))
             THEN 1 ELSE 0 END) AS BIGINT) AS ty_only,
    CAST(SUM(CASE WHEN ((a.x = b.x) AND (a.y = b.y))
             THEN 1 ELSE 0 END) AS BIGINT) AS txy
  FROM s a JOIN s b ON (a.rid < b.rid)),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s)
SELECT n, p, q, tx_only, ty_only, txy,
       CASE WHEN ((((n * (n - 1)) // 2) - (tx_only + txy)) = 0)
            OR ((((n * (n - 1)) // 2) - (ty_only + txy)) = 0)
            THEN NULL ELSE
       (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))
       / sqrt(CAST(((n * (n - 1)) // 2) - (tx_only + txy) AS DOUBLE)
              * CAST(((n * (n - 1)) // 2) - (ty_only + txy) AS DOUBLE))
       END AS tau_b
FROM agg CROSS JOIN cnt
"""


def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend test (operators/stats.mann_kendall) on the
    floored event value over epoch seconds, 1/17 event slice —
    ``s = P − Q`` rides the exact kendall pair counts with x = time
    (duplicate instants collapsed to min value first, the unique-times
    MK precondition), ``var18`` is the exact integer tie-corrected
    variance numerator, ``z`` the ±1-continuity double."""
    from osm2geojson_spark.operators.stats import mann_kendall

    ev = _t(spark, sf_dir, "events").where("(event_id % 17) = 0").select(
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
               " CAST(ts AS TIMESTAMP_NTZ))").alias("t"),
        F.expr("CAST(FLOOR(value) AS BIGINT)").alias("v"))
    return mann_kendall(ev, "t", "v")


def _sql_mann_kendall() -> str:
    return """
WITH raw AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(FLOOR(value) AS BIGINT) AS v
  FROM events
  WHERE (((event_id % 17) = 0) AND (ts IS NOT NULL)
         AND (value IS NOT NULL))),
series AS (SELECT t, MIN(v) AS v FROM raw GROUP BY t),
s AS (SELECT t, v, ROW_NUMBER() OVER (ORDER BY t) AS rid FROM series),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN (((a.t < b.t) AND (a.v < b.v))
                        OR ((a.t > b.t) AND (a.v > b.v)))
             THEN 1 ELSE 0 END) AS BIGINT) AS p,
    CAST(SUM(CASE WHEN (((a.t < b.t) AND (a.v > b.v))
                        OR ((a.t > b.t) AND (a.v < b.v)))
             THEN 1 ELSE 0 END) AS BIGINT) AS q
  FROM s a JOIN s b ON (a.rid < b.rid)),
ties AS (
  SELECT COALESCE(CAST(SUM((g * (g - 1)) * ((2 * g) + 5)) AS BIGINT), 0)
         AS tie18
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM series GROUP BY v)),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM series),
row1 AS (
  SELECT n, (p - q) AS s,
         ((n * (n - 1)) * ((2 * n) + 5) - tie18) AS var18
  FROM agg CROSS JOIN ties CROSS JOIN cnt)
SELECT n, s, var18,
       CASE WHEN (var18 <= 0) THEN NULL
            WHEN (s > 0) THEN (CAST(s AS DOUBLE) - 1.0E0)
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0E0)
            WHEN (s < 0) THEN (CAST(s AS DOUBLE) + 1.0E0)
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0E0)
            ELSE 0.0E0 END AS z
FROM row1
"""


_HEAD_50 = [
    "pricing_summary", "window_topk", "asof_join", "sessionize",
    "grouping_sets",
    "way_assembly", "way_geom_type", "cogroup_join", "dedup_kv",
    "exact_dedup", "minhash_pairs", "dup_clusters", "setsim_join",
    "edit_distance_join",
    "decontaminate", "lm_score", "text_stats", "bpe_train",
    "embedding_topk", "embedding_ivf", "embedding_pq", "pca_project",
    "cell_encode", "s2_cell_encode", "pip_join", "knn_ring",
    "poly_overlap", "tile_histogram", "vector_tiles", "str_pack",
    "sssp_delta", "catchment_delta", "cost_distance", "dt_update",
    "box_filter", "glcm", "distance_transform", "watershed",
    "image_validate", "image_phash_dedup", "contact_sheet",
    "audio_dedup", "video_dedup",
    "bm25_topk",
    "pagerank", "scc",
    "exact_quantiles", "table_profile",
    "snapshot_diff",
    "funnel",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {k: _CATALOG[k][0] for k in _HEAD_50}
    ordered.update((k, b) for k, (b, _) in _CATALOG.items()
                   if k not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    return {k: _twin_sql(k) for k in queries()}


@functools.cache
def _twin_sql(name: str) -> str:
    # memoized here, not on the _sql_* functions: tests call those twice
    # to prove the literal-table twins are deterministic
    twin = _CATALOG[name][1]
    return twin if isinstance(twin, str) else twin()


def _catalog(rows):
    """``name -> (builder, twin)`` in row order. ``twin`` is the DuckDB
    SQL string, or a zero-argument function that builds it on first
    use. A repeated name raises; a dict literal would keep the last."""
    table = {}
    for name, builder, twin in rows:
        if name in table:
            raise ValueError(f"duplicate catalog entry {name!r}")
        table[name] = (builder, twin)
    return table


# One row per entry: (name, DataFrame builder, DuckDB twin). Twins DuckDB
# cannot express natively (seeded xxhash64, k-means, ...) are LITERAL
# tables: the expected output recomputed by the Spark-free references in
# pyref.py and inlined as VALUES, which is why twins are built lazily.
_CATALOG = _catalog([
    ("pricing_summary", q_pricing_summary, _SQL_PRICING),
    ("star_join", q_star_join, _SQL_STAR),
    ("cogroup_join", q_cogroup_join, _SQL_COGROUP),
    ("way_assembly", q_way_assembly, _SQL_WAY_ASSEMBLY),
    ("way_bbox", q_way_bbox, _SQL_WAY_BBOX),
    ("way_geom_type", q_way_geom_type, _SQL_WAY_GEOM_TYPE),
    ("window_topk", q_window_topk, _SQL_WINDOW_TOPK),
    ("sort_limit", q_sort_limit, _SQL_SORT_LIMIT),
    ("semi_anti", q_semi_anti, _SQL_SEMI_ANTI),
    ("outer_join", q_outer_join, _SQL_OUTER_JOIN),
    ("collect_agg", q_collect_agg, _SQL_COLLECT_AGG),
    ("set_ops", q_set_ops, _SQL_SET_OPS),
    ("rollup", q_rollup, _SQL_ROLLUP),
    ("grouping_sets", q_grouping_sets, _SQL_GROUPING_SETS),
    ("asof_join", q_asof_join, _SQL_ASOF_JOIN),
    ("interval_join", q_interval_join, _SQL_INTERVAL_JOIN),
    ("pivot", q_pivot, _sql_pivot),
    ("percentiles", q_percentiles, _SQL_PERCENTILES),
    ("cube", q_cube, _SQL_CUBE),
    ("dedup_kv", q_dedup_kv, _SQL_DEDUP_KV),
    ("running_sum", q_running_sum, _SQL_RUNNING_SUM),
    ("lead_lag", q_lead_lag, _SQL_LEAD_LAG),
    ("string_scalar", q_string_scalar, _SQL_STRING_SCALAR),
    ("events_hourly", q_events_hourly, _SQL_EVENTS_HOURLY),
    ("json_props", q_json_props, _SQL_JSON_PROPS),
    ("sessionize", q_sessionize, _SQL_SESSIONIZE),
    ("text_stats", q_text_stats, _sql_text_stats),
    ("exact_dedup", q_exact_dedup, _SQL_EXACT_DEDUP),
    ("repetition_stats", q_repetition_stats, _SQL_REPETITION_STATS),
    ("vocab_topk", q_vocab_topk, _SQL_VOCAB_TOPK),
    ("term_salience", q_term_salience, _SQL_TERM_SALIENCE),
    ("ngram_jaccard", q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    ("dup_clusters", q_dup_clusters, _sql_dup_clusters),
    ("minhash_pairs", q_minhash_pairs, _sql_minhash_pairs),
    ("simhash_pairs", q_simhash_pairs, _sql_simhash_pairs),
    ("embedding_topk", q_embedding_topk, _SQL_EMBEDDING_TOPK),
    ("embedding_ann", q_embedding_ann, _sql_embedding_ann),
    ("embedding_ivf", q_embedding_ivf, _sql_embedding_ivf),
    ("embedding_near_dup", q_embedding_near_dup, _sql_embedding_near_dup),
    ("embedding_near_dup_exact", q_embedding_near_dup_exact,
     _SQL_EMBEDDING_NEAR_DUP_EXACT),
    ("cell_encode", q_cell_encode, _sql_cell_encode),
    ("s2_cell_encode", q_s2_cell_encode, _sql_s2_cell_encode),
    ("s2_histogram", q_s2_histogram, _sql_s2_histogram),
    ("hex_encode", q_hex_encode, _sql_hex_encode),
    ("hex_smooth", q_hex_smooth, _sql_hex_smooth),
    ("poly_overlap", q_poly_overlap, _sql_poly_overlap),
    ("tile_histogram", q_tile_histogram, _sql_tile_histogram),
    ("tile_pyramid", q_tile_pyramid, _sql_tile_pyramid),
    ("distance_join", q_distance_join, _SQL_DISTANCE_JOIN),
    ("pip_join", q_pip_join, _SQL_PIP),
    ("knn_bruteforce", q_knn_bruteforce, _SQL_KNN_BRUTE),
    ("knn_ring", q_knn_ring, _SQL_KNN_RING),
    ("image_validate", q_image_validate, _SQL_IMAGE_VALIDATE),
    ("image_tile_join", q_image_tile_join, _sql_image_tile_join),
    ("audio_validate", q_audio_validate, _SQL_AUDIO_VALIDATE),
    ("audio_probe", q_audio_probe, _SQL_AUDIO_PROBE),
    ("video_validate", q_video_validate, _SQL_VIDEO_VALIDATE),
    ("image_phash_dedup", q_image_phash_dedup, _sql_image_phash_dedup),
    ("exif_extract", q_exif_extract, _SQL_EXIF_EXTRACT),
    ("exif_tile_join", q_exif_tile_join, _sql_exif_tile_join),
    ("embedding_pq", q_embedding_pq, _sql_embedding_pq),
    ("canonical_pick", q_canonical_pick, _sql_canonical_pick),
    ("bpe_train", q_bpe_train, _sql_bpe_train),
    ("geojson_roundtrip", q_geojson_roundtrip, _sql_geojson_roundtrip),
    ("wkb_point_hex", q_wkb_point_hex, _sql_wkb_point_hex),
    ("wkb_roundtrip", q_wkb_roundtrip, _SQL_WKB_ROUNDTRIP),
    ("decontaminate", q_decontaminate, _SQL_DECONTAMINATE),
    ("dup_spans", q_dup_spans, _SQL_DUP_SPANS),
    ("lm_score", q_lm_score, _SQL_LM_SCORE),
    ("html_extract", q_html_extract, _SQL_HTML_EXTRACT),
    ("trajectory_stats", q_trajectory_stats, _sql_trajectory_stats),
    ("trip_segmentation", q_trip_segmentation, _sql_trip_segmentation),
    ("od_matrix", q_od_matrix, _sql_od_matrix),
    ("grid_cluster", q_grid_cluster, _sql_grid_cluster),
    ("map_match", q_map_match, _sql_map_match),
    ("geofence", q_geofence, _sql_geofence),
    ("geohash_rollup", q_geohash_rollup, _sql_geohash_rollup),
    ("quadkey_rollup", q_quadkey_rollup, _sql_quadkey_rollup),
    ("heatmap_tiles", q_heatmap_tiles, _sql_heatmap_tiles),
    ("vector_tiles", q_vector_tiles, _sql_vector_tiles),
    ("line_tiles", q_line_tiles, _sql_line_tiles),
    ("polygon_tiles", q_polygon_tiles, _sql_polygon_tiles),
    ("osm_polygon_tiles", q_osm_polygon_tiles, _sql_osm_polygon_tiles),
    ("geom_measures", q_geom_measures, _sql_geom_measures),
    ("heatmap_pyramid", q_heatmap_pyramid, _sql_heatmap_pyramid),
    ("contours", q_contours, _sql_contours),
    ("compact_cover", q_compact_cover, _sql_compact_cover),
    ("shortest_paths", q_shortest_paths, _sql_shortest_paths),
    ("sssp_delta", q_sssp_delta, _sql_shortest_paths),
    ("astar_route", q_astar_route, _sql_astar_route),
    ("convex_hull", q_convex_hull, _sql_convex_hull),
    ("idw_smooth", q_idw_smooth, _sql_idw_smooth),
    ("simplify_paths", q_simplify_paths, _sql_simplify_paths),
    ("polyfill", q_polyfill, _sql_polyfill),
    ("route_path", q_route_path, _sql_route_path),
    ("isochrone", q_isochrone, _sql_isochrone),
    ("catchment", q_catchment, _sql_catchment),
    ("catchment_delta", q_catchment_delta, _sql_catchment),
    ("pagerank", q_pagerank, _sql_pagerank),
    ("triangle_count", q_triangle_count, _sql_triangle_count),
    ("focal_sum", q_focal_sum, _sql_focal_sum),
    ("morph_raster", q_morph_raster, _sql_morph_raster),
    ("integral_image", q_integral_image, _sql_integral_image),
    ("box_filter", q_box_filter, _sql_box_filter),
    ("box_variance", q_box_variance, _sql_box_variance),
    ("edit_distance_join", q_edit_distance_join, _sql_edit_distance_join),
    ("scd2_snapshot", q_scd2_snapshot, _sql_scd2_snapshot),
    ("template_match", q_template_match, _sql_template_match),
    ("glcm", q_glcm, _sql_glcm),
    ("seq_patterns", q_seq_patterns, _sql_seq_patterns),
    ("otsu_curve", q_otsu_curve, _sql_otsu_curve),
    ("link_prediction", q_link_prediction, _sql_link_prediction),
    ("palette_quantize", q_palette_quantize, _sql_palette_quantize),
    ("blob_moments", q_blob_moments, _sql_blob_moments),
    ("edge_histogram", q_edge_histogram, _sql_edge_histogram),
    ("merge_intervals", q_merge_intervals, _sql_merge_intervals),
    ("distance_transform", q_distance_transform, _sql_distance_transform),
    ("harris_corners", q_harris_corners, _sql_harris_corners),
    ("focal_mode", q_focal_mode, _sql_focal_mode),
    ("ols_trend", q_ols_trend, _sql_ols_trend),
    ("motion_vectors", q_motion_vectors, _sql_motion_vectors),
    ("table_fingerprint", q_table_fingerprint, _sql_table_fingerprint),
    ("locf_resample", q_locf_resample, _sql_locf_resample),
    ("exact_quantiles", q_exact_quantiles, _sql_exact_quantiles),
    ("audio_dedup", q_audio_dedup, _sql_audio_dedup),
    ("clustering_coeff", q_clustering_coeff, _sql_clustering_coeff),
    ("rake_keywords", q_rake_keywords, _sql_rake_keywords),
    ("dt_update", q_dt_update, _sql_dt_update),
    ("heading_hist", q_heading_hist, _sql_heading_hist),
    ("contact_sheet", q_contact_sheet, _sql_contact_sheet),
    ("hillshade", q_hillshade, _sql_hillshade),
    ("flow_dir", q_flow_dir, _sql_flow_dir),
    ("flow_accum", q_flow_accum, _sql_flow_accum),
    ("k_core", q_k_core, _sql_k_core),
    ("image_sharpness", q_image_sharpness, _sql_image_sharpness),
    ("url_dedup", q_url_dedup, _sql_url_dedup),
    ("chunk_windows", q_chunk_windows, _sql_chunk_windows),
    ("cost_distance", q_cost_distance, _sql_cost_distance),
    ("raster_pyramid", q_raster_pyramid, _sql_raster_pyramid),
    ("staypoints", q_staypoints, _sql_staypoints),
    ("multimodal_dedup", q_multimodal_dedup, _sql_multimodal_dedup),
    ("funnel", q_funnel, _sql_funnel),
    ("hits", q_hits, _sql_hits),
    ("label_prop", q_label_prop, _sql_label_prop),
    ("modularity", q_modularity, _sql_modularity),
    ("degree_assort", q_degree_assort, _sql_degree_assort),
    ("ks_test", q_ks_test, _sql_ks_test),
    ("mwu_test", q_mwu_test, _sql_mwu_test),
    ("acf", q_acf, _sql_acf),
    ("iqr_outliers", q_iqr_outliers, _sql_iqr_outliers),
    ("convoys", q_convoys, _sql_convoys),
    ("spearman", q_spearman, _sql_spearman),
    ("ab_ztest", q_ab_ztest, _sql_ab_ztest),
    ("welch_ttest", q_welch_ttest, _sql_welch_ttest),
    ("psi_drift", q_psi_drift, _sql_psi_drift),
    ("seasonal_profile", q_seasonal_profile, _sql_seasonal_profile),
    ("cusum", q_cusum, _sql_cusum),
    ("attribution", q_attribution, _sql_attribution),
    ("closeness", q_closeness, _sql_closeness),
    ("segment_intersections", q_segment_intersections,
     _sql_segment_intersections),
    ("stress", q_stress, _sql_stress),
    ("ohlc", q_ohlc, _sql_ohlc),
    ("kendall", q_kendall, _sql_kendall),
    ("mann_kendall", q_mann_kendall, _sql_mann_kendall),
    ("getis_hotspots", q_getis, _sql_getis),
    ("eccentricity", q_eccentricity, _sql_eccentricity),
    ("trajectory_lcss", q_trajectory_lcss, _sql_trajectory_lcss),
    ("geo_mosaic", q_geo_mosaic, _sql_geo_mosaic),
    ("kruskal", q_kruskal, _sql_kruskal),
    ("compaction_plan", q_compaction_plan, _sql_compaction_plan),
    ("tri_ruggedness", q_tri, _sql_tri),
    ("harmonic", q_harmonic, _sql_harmonic),
    ("seasonal_decompose", q_seasonal_decompose, _sql_seasonal_decompose),
    ("areal_interp", q_areal_interp, _sql_areal_interp),
    ("effective_diameter", q_effective_diameter, _sql_effective_diameter),
    ("mosaic_pyramid", q_mosaic_pyramid, _sql_mosaic_pyramid),
    ("diversity", q_diversity, _sql_diversity),
    ("randomization_test", q_randomization, _sql_randomization),
    ("gini", q_gini, _sql_gini),
    ("lorenz", q_lorenz, _sql_lorenz),
    ("median_mad", q_median_mad, _sql_median_mad),
    ("dag_layers", q_dag_layers, _sql_dag_layers),
    ("interval_coverage", q_interval_coverage, _sql_interval_coverage),
    ("runs_test", q_runs_test, _sql_runs_test),
    ("weighted_median", q_weighted_median, _sql_weighted_median),
    ("group_mode", q_group_mode, _sql_group_mode),
    ("trimmed_mean", q_trimmed_mean, _sql_trimmed_mean),
    ("inverted_index", q_inverted_index, _sql_inverted_index),
    ("phrase_search", q_phrase_search, _sql_phrase_search),
    ("bm25_topk", q_bm25_topk, _sql_bm25_topk),
    ("collocations", q_collocations, _sql_collocations),
    ("image_resize", q_image_resize, _sql_image_resize),
    ("image_mse_dedup", q_image_mse_dedup, _sql_image_mse_dedup),
    ("color_histogram", q_color_histogram, _sql_color_histogram),
    ("str_pack", q_str_pack, _sql_str_pack),
    ("hausdorff", q_hausdorff, _sql_hausdorff),
    ("line_densify", q_line_densify, _sql_line_densify),
    ("trajectory_dtw", q_trajectory_dtw, _sql_trajectory_dtw),
    ("dem_crosstab", q_dem_crosstab, _sql_dem_crosstab),
    ("kwic", q_kwic, _sql_kwic),
    ("equidepth_hist", q_equidepth_hist, _sql_equidepth_hist),
    ("snapshot_diff", q_snapshot_diff, _sql_snapshot_diff),
    ("compression_ratio", q_compression_ratio, _sql_compression_ratio),
    ("copurchase", q_copurchase, _sql_copurchase),
    ("line_dedup", q_line_dedup, _sql_line_dedup),
    ("fuzzy_join", q_fuzzy_join, _SQL_FUZZY_JOIN),
    ("event_transitions", q_event_transitions, _SQL_EVENT_TRANSITIONS),
    ("link_predict", q_link_predict, _SQL_LINK_PREDICT),
    ("ewma", q_ewma, _SQL_EWMA),
    ("gap_fill", q_gap_fill, _SQL_GAP_FILL),
    ("image_blobs", q_image_blobs, _sql_image_blobs),
    ("image_borders", q_image_borders, _sql_image_borders),
    ("dbscan", q_dbscan, _SQL_DBSCAN),
    ("bpe_encode", q_bpe_encode, _sql_bpe_encode),
    ("anomaly_zscore", q_anomaly_zscore, _SQL_ANOMALY_ZSCORE),
    ("line_merge", q_line_merge, _SQL_LINE_MERGE),
    ("colocation", q_colocation, _SQL_COLOCATION),
    ("dem_upsample", q_dem_upsample, _sql_dem_upsample),
    ("skyline", q_skyline, _SQL_SKYLINE),
    ("shard_pack", q_shard_pack, _SQL_SHARD_PACK),
    ("scd2_build", q_scd2_build, _SQL_SCD2_BUILD),
    ("twap", q_twap, _SQL_TWAP),
    ("scene_cuts", q_scene_cuts, _sql_scene_cuts),
    ("shot_phash", q_shot_phash, _sql_shot_phash),
    ("video_dedup", q_video_dedup, _sql_video_dedup),
    ("moran", q_moran, _sql_moran),
    ("viewshed", q_viewshed, _sql_viewshed),
    ("gram_matrix", q_gram_matrix, _SQL_GRAM_MATRIX),
    ("pca_project", q_pca_project, _sql_pca_project),
    ("chi2_assoc", q_chi2_assoc, _SQL_CHI2_ASSOC),
    ("cramers_v", q_cramers_v, _SQL_CRAMERS_V),
    ("polygonize", q_polygonize, _sql_polygonize),
    ("polyline_roundtrip", q_polyline_roundtrip, _sql_polyline_roundtrip),
    ("audio_segments", q_audio_segments, _sql_audio_segments),
    ("hist_equalize", q_hist_equalize, _sql_hist_equalize),
    ("scc", q_scc, _sql_scc),
    ("als_factors", q_als_factors, _sql_als_factors),
    ("bloom_prune", q_bloom_prune, _sql_bloom_prune),
    ("cms_counters", q_cms_counters, _sql_cms_counters),
    ("cms_estimates", q_cms_estimates, _sql_cms_estimates),
    ("table_profile", q_table_profile, _sql_table_profile),
    ("isotonic", q_isotonic, _sql_isotonic),
    ("setsim_join", q_setsim_join, _sql_setsim_join),
    ("retention_cohorts", q_retention_cohorts, _sql_retention_cohorts),
    ("union_area", q_union_area, _sql_union_area),
    ("watershed", q_watershed, _sql_watershed),
    ("strahler", q_strahler, _sql_strahler),
    ("dem_contours", q_dem_contours, _sql_dem_contours),
    ("wkt_roundtrip", q_wkt_roundtrip, _sql_wkt_roundtrip),
    ("isochrone_contour", q_isochrone_contour, _sql_isochrone_contour),
    ("pii_redact", q_pii_redact, _SQL_PII_REDACT),
    ("sample_threshold", q_sample_threshold, _SQL_SAMPLE_THRESHOLD),
    ("sample_stratified", q_sample_stratified, _SQL_SAMPLE_STRATIFIED),
    ("boilerplate_strip", q_boilerplate_strip, _SQL_BOILERPLATE_STRIP),
    ("zonal_stats", q_zonal_stats, _sql_zonal_stats),
])
