"""The engine's query registry: every SURVEY.md §2 operator exposed as a
(spark_fn, oracle_sql) pair for the driver's DuckDB correctness gate.

Each entry ``NAME: (fn, sql)`` where ``fn(spark, sf_dir) -> DataFrame`` runs
the operator through the real engine code and ``sql`` is the ANSI twin DuckDB
executes over the same parquet views.  ``sql=None`` marks genuinely
non-SQL-expressible ops (rows-only check).

Conventions for hash-exact parity:
- every computed double is rounded identically on both sides;
- geo inputs are *derived* from the relational tables with pure integer/
  float arithmetic reproduced verbatim in the SQL;
- column names alias-matched one-for-one.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import tags as TG
from .functions import text as TX
from .operators import buildings as B
from .operators import conflate as C
from .operators import curation as CU
from .operators import dedup as D
from .operators import media as M
from .operators import poi as P
from .operators import similarity as S
from .operators import spans as SP
from .operators import tiling as TL
from .plans import skew, stage
from .sources import synth

Entry = tuple[Callable[[SparkSession, str], DataFrame], str | None]
REGISTRY: dict[str, Entry] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Derived geo points (shared by several queries; SQL twin in _PT_SQL)
# ---------------------------------------------------------------------------


def customer_points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        (F.lit(-109.0) + F.pmod(F.col("c_custkey"), F.lit(500)) * 0.01).alias("lon"),
        (F.lit(37.0) + F.pmod(F.col("c_custkey") * 7, F.lit(350)) * 0.01).alias("lat"),
    )


CUST_PT_SQL = """
SELECT c_custkey, c_nationkey,
       -109.0 + (c_custkey % 500) * 0.01 AS lon,
       37.0 + ((c_custkey * 7) % 350) * 0.01 AS lat
FROM customer
"""


def supplier_points(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        (F.lit(-109.0) + F.pmod(F.col("s_suppkey") * 13, F.lit(500)) * 0.01
         + F.pmod(F.col("s_suppkey"), F.lit(7)) * 0.001).alias("lon"),
        (F.lit(37.0) + F.pmod(F.col("s_suppkey") * 11, F.lit(350)) * 0.01
         + F.pmod(F.col("s_suppkey"), F.lit(5)) * 0.001).alias("lat"),
    )


SUPP_PT_SQL = """
SELECT s_suppkey, s_nationkey,
       -109.0 + ((s_suppkey * 13) % 500) * 0.01 + (s_suppkey % 7) * 0.001 AS lon,
       37.0 + ((s_suppkey * 11) % 350) * 0.01 + (s_suppkey % 5) * 0.001 AS lat
FROM supplier
"""

HAVERSINE_SQL = (
    "2 * 6371008.8 * asin(sqrt(least(1.0, "
    "pow(sin(radians({lat2} - {lat1}) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin(radians({lon2} - {lon1}) / 2), 2))))"
)


# ---------------------------------------------------------------------------
# P1/P2 — tag-key / value-whitelist filter
# ---------------------------------------------------------------------------


@register(
    "q_tag_filter",
    """
    SELECT event_id, event_type, user_id
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    ORDER BY event_id
    """,
)
def q_tag_filter(spark, sf_dir):
    """P1/P2: value-whitelist filter (`osmhighways.py:348-366`) as a pushed-
    down Column predicate."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# P3 — junk-tag projection via the real map_filter path
# ---------------------------------------------------------------------------


@register(
    "q_junk_tag_drop",
    """
    SELECT doc_id, 'lang=' || lang || '|source=' || source AS tag_sig
    FROM documents ORDER BY doc_id
    """,
)
def q_junk_tag_drop(spark, sf_dir):
    """P3: build a tags map (with tiger junk on doc_id%4==0 rows), drop junk
    with the engine's map_filter, emit a sorted signature string."""
    d = _t(spark, sf_dir, "documents")
    tags = F.map_concat(
        F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 0,
            F.create_map(F.lit("tiger:cfcc"), F.lit("A41"), F.lit("_FID"), F.lit("x")),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    clean = TG.drop_junk_tags(tags)
    entries = F.array_sort(
        F.transform(F.map_entries(clean), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
    )
    return d.select("doc_id", F.concat_ws("|", entries).alias("tag_sig")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# P8 — schema-map projection (name normalization)
# ---------------------------------------------------------------------------


@register(
    "q_schema_map_name",
    r"""
    SELECT p_partkey,
           array_to_string(
             list_transform(
               string_split(regexp_replace(trim(p_name), '\s+', ' ', 'g'), ' '),
               w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))
             ), ' ') AS name_norm
    FROM part ORDER BY p_partkey
    """,
)
def q_schema_map_name(spark, sf_dir):
    """P8: converter-style name normalization (initcap + space collapse),
    the `mvum.py:150-166` transform through the engine function."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey", TG.normalize_name(F.col("p_name")).alias("name_norm")
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# P9 — opening-hours conversion
# ---------------------------------------------------------------------------

_MONTH_SQL = "CASE {m} " + " ".join(
    f"WHEN {i} THEN '{n}'" for i, n in enumerate(
        ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"], 1
    )
) + " END"


@register(
    "q_opening_hours",
    f"""
    WITH src AS (
      SELECT o_orderkey,
             lpad(CAST(month(o_orderdate) AS VARCHAR),2,'0') || '/01-' ||
             lpad(CAST((o_orderkey % 12) + 1 AS VARCHAR),2,'0') || '/28' AS date_range
      FROM orders
    )
    SELECT o_orderkey, date_range,
           {_MONTH_SQL.format(m="CAST(substr(date_range,1,2) AS INT)")} || '-' ||
           {_MONTH_SQL.format(m="CAST(substr(date_range,7,2) AS INT)")} AS opening_hours,
           CASE WHEN {_MONTH_SQL.format(m="CAST(substr(date_range,1,2) AS INT)")} = 'Jan'
                 AND {_MONTH_SQL.format(m="CAST(substr(date_range,7,2) AS INT)")} = 'Dec'
                THEN 'no' ELSE 'yes' END AS seasonal
    FROM src ORDER BY o_orderkey
    """,
)
def q_opening_hours(spark, sf_dir):
    """P9: "MM/DD-MM/DD" → "Mon-Mon" + seasonal flag (`mvum.py:69-109`)."""
    o = _t(spark, sf_dir, "orders")
    dr = F.concat(
        F.lpad(F.month("o_orderdate").cast("string"), 2, "0"),
        F.lit("/01-"),
        F.lpad((F.pmod(F.col("o_orderkey"), F.lit(12)) + 1).cast("string"), 2, "0"),
        F.lit("/28"),
    )
    return o.select(
        "o_orderkey",
        dr.alias("date_range"),
        TG.opening_hours(dr).alias("opening_hours"),
        TG.is_seasonal(dr).alias("seasonal"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Cell index — mercator tile assignment + histogram (salt-map pre-pass)
# ---------------------------------------------------------------------------

_TILE_SQL = """
WITH pts AS ({pts}),
cells AS (
  SELECT *,
    CAST(floor((lon + 180.0) / 360.0 * 4096) AS BIGINT) AS cx,
    CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * 4096) AS BIGINT) AS cy
  FROM pts
)
SELECT cx, cy, count(*) AS cnt
FROM cells GROUP BY cx, cy ORDER BY cx, cy
"""


@register("q_cell_histogram", _TILE_SQL.format(pts=CUST_PT_SQL.strip()))
def q_cell_histogram(spark, sf_dir):
    """Cell-frequency pre-pass (the salting estimator input): mercator z12
    tile per point, exact floor math both sides."""
    pts = customer_points(spark, sf_dir)
    z = 12
    n = 1 << z
    cx = F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("long")
    cy = F.floor(
        (1.0 - F.log(F.tan(F.radians(F.col("lat"))) + 1.0 / F.cos(F.radians(F.col("lat")))) / float(np.pi)) / 2.0 * n
    ).cast("long")
    # one range exchange serves both the aggregation (range partitioning
    # satisfies the groupBy's clustering) and the final sort (in-partition,
    # no boundary-sampling re-execution of the aggregate)
    return (
        pts.withColumn("cx", cx)
        .withColumn("cy", cy)
        .repartitionByRange(skew.shuffle_width(spark), "cx", "cy")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
        .orderBy("cx", "cy")
    )


# ---------------------------------------------------------------------------
# J5/W1 — kNN point-distance join (k=1) + J7 anti-join
# ---------------------------------------------------------------------------

_KNN_SQL = f"""
WITH c AS ({CUST_PT_SQL.strip()}),
s AS ({SUPP_PT_SQL.strip()}),
pairs AS (
  SELECT c.c_custkey, s.s_suppkey,
         {HAVERSINE_SQL.format(lon1='c.lon', lat1='c.lat', lon2='s.lon', lat2='s.lat')} AS dist
  FROM c CROSS JOIN s
),
ranked AS (
  SELECT c_custkey, s_suppkey, dist,
         row_number() OVER (PARTITION BY c_custkey ORDER BY dist, s_suppkey) AS rn
  FROM pairs WHERE dist <= 5000.0
)
SELECT c_custkey, s_suppkey, round(dist, 2) AS dist_m
FROM ranked WHERE rn = 1 ORDER BY c_custkey
"""


@register("q_knn_join", _KNN_SQL)
def q_knn_join(spark, sf_dir):
    """J5/W1: nearest supplier within 5 km per customer through the engine's
    cell-join kNN operator (`conflatePOI.py:86-153` semantics)."""
    out = P.knn_join(
        customer_points(spark, sf_dir),
        supplier_points(spark, sf_dir),
        tolerance_m=5000.0,
        k=1,
        probe_id="c_custkey",
        target_id="s_suppkey",
    )
    return out.select(
        "c_custkey", "s_suppkey", F.round("dist", 2).alias("dist_m")
    ).orderBy("c_custkey")


@register(
    "q_knn_anti",
    f"""
    WITH c AS ({CUST_PT_SQL.strip()}),
    s AS ({SUPP_PT_SQL.strip()}),
    matched AS (
      SELECT DISTINCT c.c_custkey
      FROM c JOIN s
        ON {HAVERSINE_SQL.format(lon1='c.lon', lat1='c.lat', lon2='s.lon', lat2='s.lat')} <= 5000.0
    )
    SELECT c_custkey FROM c
    WHERE c_custkey NOT IN (SELECT c_custkey FROM matched)
    ORDER BY c_custkey
    """,
)
def q_knn_anti(spark, sf_dir):
    """J7: customers with no supplier within tolerance → left_anti 'new'."""
    matched = P.knn_join(
        customer_points(spark, sf_dir),
        supplier_points(spark, sf_dir),
        tolerance_m=5000.0,
        k=1,
        probe_id="c_custkey",
        target_id="s_suppkey",
    ).select("c_custkey")
    return (
        customer_points(spark, sf_dir)
        .join(matched, "c_custkey", "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# J6 — building-footprint overlap join (bbox form)
# ---------------------------------------------------------------------------

_BOX_A_SQL = """
SELECT p_partkey AS bld_id,
       -109.0 + (p_partkey % 400) * 0.01 AS min_lon,
       37.0 + ((p_partkey * 3) % 300) * 0.01 AS min_lat,
       -109.0 + (p_partkey % 400) * 0.01 + 0.0005 + (p_partkey % 5) * 0.0001 AS max_lon,
       37.0 + ((p_partkey * 3) % 300) * 0.01 + 0.0005 + (p_partkey % 3) * 0.0001 AS max_lat
FROM part WHERE p_partkey % 2 = 0
"""
_BOX_B_SQL = """
SELECT p_partkey AS osm_bld_id,
       -109.0 + ((p_partkey - 1) % 400) * 0.01 + (p_partkey % 4) * 0.0002 AS min_lon,
       37.0 + (((p_partkey - 1) * 3) % 300) * 0.01 + (p_partkey % 6) * 0.0001 AS min_lat,
       -109.0 + ((p_partkey - 1) % 400) * 0.01 + (p_partkey % 4) * 0.0002 + 0.0006 AS max_lon,
       37.0 + (((p_partkey - 1) * 3) % 300) * 0.01 + (p_partkey % 6) * 0.0001 + 0.0006 AS max_lat
FROM part WHERE p_partkey % 2 = 1
"""


def _boxes_a(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.pmod("p_partkey", F.lit(2)) == 0)
    k = F.col("p_partkey")
    min_lon = F.lit(-109.0) + F.pmod(k, F.lit(400)) * 0.01
    min_lat = F.lit(37.0) + F.pmod(k * 3, F.lit(300)) * 0.01
    return p.select(
        k.alias("bld_id"),
        min_lon.alias("min_lon"),
        min_lat.alias("min_lat"),
        (min_lon + 0.0005 + F.pmod(k, F.lit(5)) * 0.0001).alias("max_lon"),
        (min_lat + 0.0005 + F.pmod(k, F.lit(3)) * 0.0001).alias("max_lat"),
    )


def _boxes_b(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.pmod("p_partkey", F.lit(2)) == 1)
    k = F.col("p_partkey")
    min_lon = F.lit(-109.0) + F.pmod(k - 1, F.lit(400)) * 0.01 + F.pmod(k, F.lit(4)) * 0.0002
    min_lat = F.lit(37.0) + F.pmod((k - 1) * 3, F.lit(300)) * 0.01 + F.pmod(k, F.lit(6)) * 0.0001
    return p.select(
        k.alias("osm_bld_id"),
        min_lon.alias("min_lon"),
        min_lat.alias("min_lat"),
        (min_lon + 0.0006).alias("max_lon"),
        (min_lat + 0.0006).alias("max_lat"),
    )


@register(
    "q_building_overlap",
    f"""
    WITH a AS ({_BOX_A_SQL.strip()}), b AS ({_BOX_B_SQL.strip()}),
    pairs AS (
      SELECT a.bld_id, b.osm_bld_id,
             greatest(least(a.max_lon, b.max_lon) - greatest(a.min_lon, b.min_lon), 0.0) AS w,
             greatest(least(a.max_lat, b.max_lat) - greatest(a.min_lat, b.min_lat), 0.0) AS h,
             (a.min_lat + a.max_lat) / 2.0 AS mid_lat
      FROM a JOIN b
        ON a.min_lon < b.max_lon AND a.max_lon > b.min_lon
       AND a.min_lat < b.max_lat AND a.max_lat > b.min_lat
    )
    SELECT bld_id, osm_bld_id,
           CAST(round(w * 10000000.0) AS BIGINT) * CAST(round(h * 10000000.0) AS BIGINT) AS overlap_e14
    FROM pairs WHERE w > 0 AND h > 0
    ORDER BY bld_id, osm_bld_id
    """,
)
def q_building_overlap(spark, sf_dir):
    """J6: overlapping footprint pairs + intersection area through the
    engine's bucketed overlap join (`conflateBuildings.py:106-112`)."""
    ov = B.overlap_join(_boxes_a(spark, sf_dir), _boxes_b(spark, sf_dir))
    w = F.least("a_max_lon", "b_max_lon") - F.greatest("a_min_lon", "b_min_lon")
    h = F.least("a_max_lat", "b_max_lat") - F.greatest("a_min_lat", "b_min_lat")
    # integer-scaled overlap: ULP-exact across engines (plain double rounding
    # of the m2 area differs in the last digit between JVM and C++ libm)
    overlap = F.round(w * 1e7).cast("bigint") * F.round(h * 1e7).cast("bigint")
    return (
        ov.select("bld_id", "osm_bld_id", overlap.alias("overlap_e14"))
        .orderBy("bld_id", "osm_bld_id")
    )


@register(
    "q_building_new_antijoin",
    f"""
    WITH a AS ({_BOX_A_SQL.strip()}), b AS ({_BOX_B_SQL.strip()}),
    hit AS (
      SELECT DISTINCT a.bld_id
      FROM a JOIN b
        ON a.min_lon < b.max_lon AND a.max_lon > b.min_lon
       AND a.min_lat < b.max_lat AND a.max_lat > b.min_lat
    )
    SELECT bld_id FROM a WHERE bld_id NOT IN (SELECT bld_id FROM hit)
    ORDER BY bld_id
    """,
)
def q_building_new_antijoin(spark, sf_dir):
    """J7/J8: footprints with no overlap → new-buildings anti-join
    (`conflateBuildings.py:114-143`)."""
    a = _boxes_a(spark, sf_dir)
    ov = B.overlap_join(a, _boxes_b(spark, sf_dir))
    return B.new_buildings(a, ov).select("bld_id").orderBy("bld_id")


# ---------------------------------------------------------------------------
# J9 — tile assignment (point routing, exact floor math)
# ---------------------------------------------------------------------------


@register(
    "q_tile_assign",
    f"""
    WITH pts AS ({CUST_PT_SQL.strip()}),
    params AS (
      SELECT 10000.0 / 110540.0 AS dlat,
             10000.0 / (111320.0 * cos(radians((37.0 + 40.5) / 2.0))) AS dlon,
             CAST(ceil((40.5 - 37.0) / (10000.0 / 110540.0)) AS BIGINT) AS ny
    )
    SELECT c_custkey,
           'Task_' || CAST(CAST(floor((lon - (-109.0)) / dlon) AS BIGINT) * ny
                         + CAST(floor((lat - 37.0) / dlat) AS BIGINT) AS VARCHAR) AS tile_id
    FROM pts, params
    WHERE lon >= -109.0 AND lon < -104.0 AND lat >= 37.0 AND lat < 40.5
    ORDER BY c_custkey
    """,
)
def q_tile_assign(spark, sf_dir):
    """J9: point→task-grid routing through the engine tiling operator
    (`tm_splitter.py:377-395` semantics)."""
    # range-partition the point table by the sort key up front: the tile
    # arithmetic runs at shuffle width and the final orderBy needs no second
    # exchange (filter/project preserve the range partitioning)
    pts = customer_points(spark, sf_dir).repartitionByRange(skew.shuffle_width(spark), "c_custkey")
    return (
        TL.assign_points_to_tiles(pts, -109.0, 37.0, -104.0, 40.5, tile_m=10_000.0)
        .select("c_custkey", "tile_id")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# A2/A3/W1 — window top-k
# ---------------------------------------------------------------------------


@register(
    "q_topk_window",
    """
    SELECT c_nationkey, c_custkey, c_acctbal, rn AS rank
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    ORDER BY c_nationkey, rank
    """,
)
def q_topk_window(spark, sf_dir):
    """A2/A3/W1: deterministic per-group top-k (the best-match pattern)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rank")
        .orderBy("c_nationkey", "rank")
    )


# ---------------------------------------------------------------------------
# Fuzzy string join (levenshtein ratio, JVM-side both engines)
# ---------------------------------------------------------------------------


@register(
    "q_fuzzy_match",
    """
    SELECT c.c_custkey, s.s_suppkey,
           round(100.0 * (1.0 - CAST(levenshtein(lower(c.c_name), lower(s.s_name)) AS DOUBLE)
                 / greatest(length(c.c_name), length(s.s_name))), 4) AS ratio
    FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    WHERE 100.0 * (1.0 - CAST(levenshtein(lower(c.c_name), lower(s.s_name)) AS DOUBLE)
          / greatest(length(c.c_name), length(s.s_name))) >= 55.0
    ORDER BY c_custkey, s_suppkey
    """,
)
def q_fuzzy_match(spark, sf_dir):
    """§2.8 fuzzy family: levenshtein-ratio theta join within nation blocks
    (`conflator.py:745-756` threshold pattern, block-join shape)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    # range-partition the joined pair stream by the sort keys BEFORE the
    # levenshtein: the broadcast join otherwise inherits the single-file
    # customer scan partitioning (every pair scored in one task), and the
    # sort's boundary sampling re-ran the scoring.  The ratio is projected
    # once and the filter reads the column — the filter-then-project form
    # evaluated the levenshtein twice per pair (no CSE across operators).
    j = (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .select("c_custkey", "s_suppkey", "c_name", "s_name")
        .repartitionByRange(skew.shuffle_width(spark), "c_custkey", "s_suppkey")
    )
    ratio = TG.fuzzy_ratio(F.col("c_name"), F.col("s_name"))
    return (
        j.withColumn("__r", ratio)
        .filter(F.col("__r") >= 55.0)
        .select("c_custkey", "s_suppkey", F.round("__r", 4).alias("ratio"))
        .orderBy("c_custkey", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# Ref parsing / normalization
# ---------------------------------------------------------------------------


@register(
    "q_ref_parse",
    r"""
    WITH refs AS (
      SELECT p_partkey,
             CASE WHEN p_partkey % 3 = 0 THEN 'FS ' WHEN p_partkey % 3 = 1 THEN 'FR ' ELSE 'cr' END
             || CAST((p_partkey % 900) + 100 AS VARCHAR)
             || CASE WHEN p_partkey % 4 = 0 THEN '.1A' ELSE '' END AS ref
      FROM part
    )
    SELECT p_partkey, ref,
           upper(regexp_extract(ref, '^\s*([A-Za-z]+)?\s*([0-9][0-9.]*[A-Za-z]?)\s*$', 1)) AS prefix,
           upper(regexp_extract(ref, '^\s*([A-Za-z]+)?\s*([0-9][0-9.]*[A-Za-z]?)\s*$', 2)) AS refnum,
           'FR ' || upper(regexp_extract(ref, '^\s*([A-Za-z]+)?\s*([0-9][0-9.]*[A-Za-z]?)\s*$', 2)) AS ref_norm
    FROM refs ORDER BY p_partkey
    """,
)
def q_ref_parse(spark, sf_dir):
    """§2.8 ref parsing: FS/FR/CR prefix split + canonical form
    (`conflator.py:762-781`, `osmhighways.py:42-57`)."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ref = F.concat(
        F.when(F.pmod(k, F.lit(3)) == 0, F.lit("FS "))
        .when(F.pmod(k, F.lit(3)) == 1, F.lit("FR "))
        .otherwise(F.lit("cr")),
        (F.pmod(k, F.lit(900)) + 100).cast("string"),
        F.when(F.pmod(k, F.lit(4)) == 0, F.lit(".1A")).otherwise(F.lit("")),
    )
    return p.select(
        "p_partkey",
        ref.alias("ref"),
        TG.ref_prefix(ref).alias("prefix"),
        TG.ref_number(ref).alias("refnum"),
        TG.normalize_ref(ref).alias("ref_norm"),
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    """
    SELECT md5(substr(text, 1, 40)) AS content_hash,
           min(doc_id) AS keeper_id, count(*) AS dup_count
    FROM documents
    GROUP BY content_hash ORDER BY keeper_id
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy (the training-data first pass);
    40-char prefix keying forces real duplicate groups in the corpus."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    return D.exact_dedup(d).orderBy("keeper_id")


# ---------------------------------------------------------------------------
# Portable hash SQL fragments (exact twins of functions/text.py)
# ---------------------------------------------------------------------------

# polynomial string hash: fold(chars, acc*31 + ord) % (2^31-1)
_POLY_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ord(c) AS BIGINT))), "
    "(a, c) -> (a * 31 + c) % 2147483647)"
)
# whitespace tokens, empty-safe
_TOKS_SQL = (
    "CASE WHEN trim({t}) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE string_split_regex(trim({t}), '\\s+') END"
)


@register(
    "q_fingerprint",
    f"""
    SELECT doc_id, {_POLY_SQL.format(s="substr(text, 1, 40)")} AS fp
    FROM documents ORDER BY doc_id
    """,
)
def q_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (dedup pre-key) — identical
    polynomial fold JVM-side and in the oracle."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TX.doc_fingerprint(F.substring("text", 1, 40)).alias("fp")
    ).orderBy("doc_id")


_TOKHASH_SQL = (
    "list_transform(" + _TOKS_SQL.format(t="text") + ", s -> " + _POLY_SQL.format(s="s") + ")"
)


def _mh_sql(i: int) -> str:
    a, b = 2 * i + 1, 7 * i + 3
    return (
        f"coalesce(list_min(list_transform(hs, x -> ({a} * x + {b}) % 2147483647)), "
        f"2147483647) AS mh{i}"
    )


@register(
    "q_minhash_sig",
    f"""
    WITH h AS (SELECT doc_id, {_TOKHASH_SQL} AS hs FROM documents)
    SELECT doc_id, {", ".join(_mh_sql(i) for i in range(4))}
    FROM h ORDER BY doc_id
    """,
)
def q_minhash_sig(spark, sf_dir):
    """MinHash signatures (k=4) — the LSH banding input.  Token hashes are
    projected once (projection barrier) so the per-char fold runs 1× per row
    instead of once per signature slot × element_at reference (guide §2.3)."""
    d = _t(spark, sf_dir, "documents")
    hs = d.select("doc_id", TX.token_hashes(F.col("text")).alias("__hs"))

    def mh(i: int):
        a, b = 2 * i + 1, 7 * i + 3  # minhash_signature's coefficients
        return F.coalesce(
            F.array_min(F.transform(F.col("__hs"), lambda h: (a * h + b) % TX.HASH_MOD)),
            F.lit(TX.HASH_MOD).cast("bigint"),
        )

    return hs.select(
        "doc_id", *[mh(i).alias(f"mh{i}") for i in range(4)]
    ).orderBy("doc_id")


@register(
    "q_minhash_band_pairs",
    f"""
    WITH h AS (SELECT doc_id, {_TOKHASH_SQL} AS hs FROM documents),
    sig AS (SELECT doc_id, {", ".join(_mh_sql(i) for i in range(4))} FROM h),
    banded AS (
      SELECT doc_id, 0 AS band, CAST(mh0 AS BIGINT) * 2147483647 + mh1 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, CAST(mh2 AS BIGINT) * 2147483647 + mh3 AS bucket FROM sig
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
    FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
    GROUP BY id_a, id_b ORDER BY id_a, id_b
    """,
)
def q_minhash_band_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs via the engine's banding join (k=4,
    2 bands — shingle→minhash→band→bucket-join).  ``sort_ready`` range-
    partitions the pair stream so this orderBy is an in-partition sort (no
    second exchange, no aggregate re-execution for boundary sampling)."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, k=4, bands=2, sort_ready=True).orderBy("id_a", "id_b")


_SIMHASH_SQL_BITS = " + ".join(
    f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)


@register(
    "q_simhash",
    f"""
    WITH h AS (SELECT doc_id, {_TOKHASH_SQL} AS hs FROM documents),
    tok AS (SELECT doc_id, unnest(hs) AS h FROM h),
    agg AS (
      SELECT doc_id, CAST({_SIMHASH_SQL_BITS} AS BIGINT) AS simhash
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(agg.simhash, 0) AS simhash
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    ORDER BY d.doc_id
    """,
)
def q_simhash(spark, sf_dir):
    """16-bit SimHash fingerprints (near-dup hashing)."""
    d = _t(spark, sf_dir, "documents")
    # projection barrier: fold once per row, not once per bit aggregate
    return (
        d.select("doc_id", TX.token_hashes(F.col("text")).alias("__hs"))
        .select("doc_id", TX.simhash16_from_hashes(F.col("__hs")).alias("simhash"))
        .orderBy("doc_id")
    )


def _jaccard_half_pairs(pairs: DataFrame, grams_a: str, grams_b: str, n: Column) -> DataFrame:
    """(id_a, id_b, inter_size, union_size) of the pairs whose distinct-gram
    arrays have Jaccard >= 1/2; ``n`` = |A| + |B|, so |A∪B| = n − |A∩B|.
    The intersect is projected once per pair: a plain filter on it would be
    pushed into the pair join's condition with the intersect inlined, and
    the output would compute it again (plans/stage.py)."""
    sized = pairs.select(
        "id_a", "id_b", F.size(F.array_intersect(grams_a, grams_b)).alias("inter_size"), n.alias("n")
    )
    union = F.col("n") - F.col("inter_size")
    return stage.keep_where(sized, F.col("inter_size") * 2 >= union).select(
        "id_a", "id_b", "inter_size", union.alias("union_size")
    )


@register(
    "q_ngram_jaccard",
    """
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 2, 1)),
               i -> substr(text, CAST(i AS INT), 3))) AS grams,
             CAST(floor(length(text) / 256) AS BIGINT) AS lb
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.grams, b.grams)) AS inter_size,
           len(list_distinct(list_concat(a.grams, b.grams))) AS union_size
    FROM g a JOIN g b ON a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) * 2 >= len(list_distinct(list_concat(a.grams, b.grams)))
    ORDER BY id_a, id_b
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Char-3-gram Jaccard near-dups within length buckets; all-integer
    output (intersection/union sizes; threshold inter*2 >= union ⇔ J >= 0.5)
    so parity is exact.

    r6 (guide §2.5): a homogeneous corpus puts nearly every doc in one
    length bucket, so the plain lb self-join ran its whole quadratic
    intersect space — with both ~kB gram arrays attached — inside ONE task
    (AQE coalesces by input bytes and cannot see quadratic output).  Hot
    length buckets are triangle-decomposed into deterministic sub-blocks
    (``plans/skew.py:self_pairs_blocked``, eager: one pre-pass job at
    build time).  Output bit-identical; the operator-level production path
    for this family remains ngram_jaccard_pairs_gated."""
    d = _t(spark, sf_dir, "documents")
    # int64 gram codes (TX.gram_codes: exact bijection) — the pair exchanges
    # carry long arrays instead of string arrays, and |A∪B| = |A|+|B|−|A∩B|
    # replaces the second per-pair array op (arrays are distinct)
    g = d.select(
        "doc_id",
        TX.gram_codes(TX.char_ngrams(F.col("text"), 3)).alias("grams"),
        F.floor(F.length("text") / 256).cast("long").alias("lb"),
    ).persist()
    pairs = skew.self_pairs_blocked(g, ["lb"], "doc_id", 128, 64, payload=["grams"])
    out = _jaccard_half_pairs(pairs, "grams_a", "grams_b", F.size("grams_a") + F.size("grams_b"))
    # materialization barrier (slim int rows): the sort's range-exchange
    # boundary sampling would otherwise re-execute the whole quadratic
    # intersect pipeline a second time
    return out.localCheckpoint().orderBy("id_a", "id_b")


def _simhash64_sql() -> str:
    def poly(mult: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(string_split(tok, ''), c -> CAST(ord(c) AS BIGINT))), "
            f"(a, c) -> (a * {mult} + c) % 2147483647)"
        )

    def bits(h: str) -> str:
        return "CAST(" + " + ".join(
            f"(CASE WHEN sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(16)
        ) + " AS BIGINT)"

    hcols = ", ".join(f"{poly(m)} AS h{i}" for i, m in enumerate(TX.SIMHASH64_MULTS))
    aggs = ", ".join(bits(f"h{i}") + f" AS b{i}" for i in range(4))
    coal = ", ".join(f"coalesce(agg.b{i}, 0) AS b{i}" for i in range(4))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, b{i} AS bucket, b0, b1, b2, b3 FROM blk" for i in range(4)
    )
    ham = " + ".join(f"bit_count(xor(ab{i}, bb{i}))" for i in range(4))
    asel = ", ".join(f"a.b{i} AS ab{i}" for i in range(4))
    bsel = ", ".join(f"b.b{i} AS bb{i}" for i in range(4))
    return f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_SQL.format(t="text")}) AS tok FROM documents),
    h AS (SELECT doc_id, {hcols} FROM t),
    agg AS (SELECT doc_id, {aggs} FROM h GROUP BY doc_id),
    blk AS (SELECT d.doc_id, {coal} FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
    banded AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, {asel}, {bsel}
      FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
    FROM cand WHERE {ham} <= 12 ORDER BY id_a, id_b
    """


@register("q_simhash64_pairs", _simhash64_sql())
def q_simhash64_pairs(spark, sf_dir):
    """64-bit simhash near-dup pairs via 4×16-bit band buckets — the
    scale-safe variant (hamming ≤ 12 on this small corpus so real pairs
    exist; the band guarantee covers hamming ≤ 3)."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash64_pairs(d, max_hamming=12).orderBy("id_a", "id_b")


@register(
    "q_ngram_jaccard_gated",
    f"""
    WITH h AS (SELECT doc_id, {_TOKHASH_SQL} AS hs FROM documents),
    sig AS (SELECT doc_id, {", ".join(_mh_sql(i) for i in range(4))} FROM h),
    banded AS (
      SELECT doc_id, 0 AS band, CAST(mh0 AS BIGINT) * 2147483647 + mh1 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, CAST(mh2 AS BIGINT) * 2147483647 + mh3 AS bucket FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 2, 1)),
               i -> substr(text, CAST(i AS INT), 3))) AS grams
      FROM documents
    )
    SELECT id_a, id_b,
           len(list_intersect(ga.grams, gb.grams)) AS inter_size,
           len(list_distinct(list_concat(ga.grams, gb.grams))) AS union_size
    FROM cand JOIN g ga ON ga.doc_id = id_a JOIN g gb ON gb.doc_id = id_b
    WHERE len(list_intersect(ga.grams, gb.grams)) * 2
          >= len(list_distinct(list_concat(ga.grams, gb.grams)))
    ORDER BY id_a, id_b
    """,
)
def q_ngram_jaccard_gated(spark, sf_dir):
    """Exact char-3-gram Jaccard over MinHash-band-gated candidates — the
    scale-safe blocking (the length-bucket variant stays as the baseline);
    integer sizes so parity is exact."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(d, k=4, bands=2).select("id_a", "id_b")
    # int64 gram codes (TX.gram_codes): long arrays through the pair
    # exchanges instead of string arrays — same set sizes by bijection
    g = d.select(
        "doc_id", TX.gram_codes(TX.char_ngrams(F.col("text"), 3)).alias("grams")
    ).persist()
    # r6 (guide §3.2, size form): J >= 1/2 ⇔ 3·inter >= n_a+n_b and
    # inter <= min(n_a, n_b), so 2·min >= max is a NECESSARY condition —
    # attach the (int) gram counts first and drop definitely-failing pairs
    # BEFORE the ~kB gram arrays ride the pair exchanges.  With the arrays
    # distinct (char_ngrams applies array_distinct), |A∪B| = n_a + n_b −
    # |A∩B| exactly, so the array_union evaluation per pair is replaced by
    # arithmetic.  Output bit-identical to the unfiltered form.
    sizes = g.select("doc_id", F.size("grams").alias("n"))
    cand = (
        cand.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .filter(F.least("n_a", "n_b") * 2 >= F.greatest("n_a", "n_b"))
    )
    pairs = (
        cand.join(g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a")), "id_a")
        .join(g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b")), "id_b")
    )
    out = _jaccard_half_pairs(pairs, "g_a", "g_b", F.col("n_a") + F.col("n_b"))
    # materialization barrier (see q_ngram_jaccard): one execution of the
    # per-pair intersects; the sort samples the checkpointed slim rows
    return out.localCheckpoint().orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Language ID + quality scoring + token counts
# ---------------------------------------------------------------------------

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in TX.LANG_STOPWORDS.items()
}


@register(
    "q_text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL.format(t="text")} AS toks FROM documents
    ),
    v AS (
      SELECT doc_id, text, len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains({_STOP_SQL['de']}, lower(x)))) AS v_de,
             len(list_filter(toks, x -> list_contains({_STOP_SQL['en']}, lower(x)))) AS v_en,
             len(list_filter(toks, x -> list_contains({_STOP_SQL['es']}, lower(x)))) AS v_es,
             len(list_filter(toks, x -> list_contains({_STOP_SQL['fr']}, lower(x)))) AS v_fr
      FROM t
    )
    SELECT doc_id, n_tokens,
           CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
                WHEN v_de = greatest(v_de, v_en, v_es, v_fr) THEN 'de'
                WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
                WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
                ELSE 'fr' END AS lang_detected,
           round(
             0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                                ELSE CAST(v_en AS DOUBLE) / n_tokens END * 4.0, 1.0)
             + 0.2 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                                 ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                                      / length(text) END),
           6) AS quality
    FROM v ORDER BY doc_id
    """,
)
def q_text_stats(spark, sf_dir):
    """Language ID (stopword voting), quality score, token count — the
    text-analysis layer, all JVM-side Column math.

    Staged form (r6, guide §2.3): the single-expression helpers embed a fresh
    tokenization in every reference (Catalyst does not CSE lambda HOFs), so
    ``detect_lang`` alone re-tokenized ~20×.  Here tokens are projected once,
    the per-language votes once each, and the argmax/quality math runs over
    cheap scalar columns — the same expression composition order as
    TX.detect_lang / TX.quality_score, so every double is bit-identical."""
    # range-partition the raw scan by the final sort key BEFORE the heavy
    # token expressions: the exchange's boundary sampling then evaluates only
    # the parquet scan, the per-row tokenization runs at full shuffle width
    # (a single-file scan otherwise serializes it), and the final orderBy is
    # an in-partition sort with no second exchange
    d = _t(spark, sf_dir, "documents").repartitionByRange(skew.shuffle_width(spark), "doc_id")
    t1 = d.select("doc_id", "text", TX.tokens(F.col("text")).alias("__toks"))
    toks = F.col("__toks")

    def votes(lang: str):
        sw = TX.LANG_STOPWORDS[lang]
        return F.size(F.filter(toks, lambda x: F.lower(x).isin(*sw)))

    langs = sorted(TX.LANG_STOPWORDS)
    t2 = t1.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_tokens"),
        *[votes(lang).alias(f"__v_{lang}") for lang in langs],
    )
    vcols = {lang: F.col(f"__v_{lang}") for lang in langs}
    best = F.greatest(*vcols.values())
    lang_expr = F.lit("und")
    for lang in sorted(langs, reverse=True):
        lang_expr = F.when((best > 0) & (vcols[lang] == best), F.lit(lang)).otherwise(lang_expr)
    ntok = F.col("n_tokens").cast("double")
    stop_r = F.when(ntok == 0, F.lit(0.0)).otherwise(F.col("__v_en") / ntok)
    len_score = F.least(ntok / F.lit(100.0), F.lit(1.0))
    punct_pen = TX.punct_ratio(F.col("text"))
    score = 0.4 * len_score + 0.4 * F.least(stop_r * 4.0, F.lit(1.0)) + 0.2 * (1.0 - punct_pen)
    return t2.select(
        "doc_id",
        "n_tokens",
        lang_expr.alias("lang_detected"),
        F.round(score, 6).alias("quality"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ANN: exact cosine top-k with a sequential-fold SQL twin
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), "
    "(x, y) -> x + y)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))"
)


@register(
    "q_cosine_topk",
    f"""
    WITH p AS (SELECT vec_id AS probe_id, embedding AS p_vec FROM embeddings WHERE vec_id < 50),
    pairs AS (
      SELECT p.probe_id, t.vec_id,
             CASE WHEN {_NORM_SQL.format(a="p.p_vec")} * {_NORM_SQL.format(a="t.embedding")} = 0 THEN 0.0
                  ELSE {_DOT_SQL.format(a="p.p_vec", b="t.embedding")}
                       / ({_NORM_SQL.format(a="p.p_vec")} * {_NORM_SQL.format(a="t.embedding")})
             END AS cs
      FROM p CROSS JOIN embeddings t WHERE p.probe_id <> t.vec_id
    )
    SELECT probe_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
      SELECT probe_id, vec_id, cs,
             row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rank
      FROM pairs
    ) WHERE rank <= 3 ORDER BY probe_id, rank
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-3 (ANN baseline): JVM aggregate/zip_with
    dot product; SQL twin uses the same sequential left-fold so doubles are
    bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # k·|probes| rows is a bounded-tiny result: one-partition it so the final
    # sort needs no range exchange (whose boundary sampling re-executed the
    # whole crossJoin+window pipeline a second time)
    return (
        S.cosine_topk_bruteforce(probes, emb, k=3)
        .repartition(1)
        .orderBy("probe_id", "rank")
    )


# ---------------------------------------------------------------------------
# Set ops + semi join
# ---------------------------------------------------------------------------


@register(
    "q_union_semi",
    """
    WITH u AS (
      SELECT user_id, event_type FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, event_type FROM events WHERE event_type = 'purchase'
    )
    SELECT u.user_id, count(*) AS n_events
    FROM u WHERE u.user_id IN (SELECT c_custkey FROM customer)
    GROUP BY u.user_id ORDER BY u.user_id
    """,
)
def q_union_semi(spark, sf_dir):
    """§2.7 set ops: unionByName + left_semi + count agg."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    u = e.filter(F.col("event_type") == "click").select("user_id", "event_type").unionByName(
        e.filter(F.col("event_type") == "purchase").select("user_id", "event_type")
    )
    return (
        u.join(c.select(F.col("c_custkey").alias("user_id")), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# J4 — slope/angle predicate math
# ---------------------------------------------------------------------------


@register(
    "q_slope_angle",
    """
    WITH s AS (
      SELECT o_orderkey,
             ((o_orderkey % 17) - 8) / 4.0 AS s1,
             (((o_orderkey * 5) % 23) - 11) / 7.3 AS s2
      FROM orders
    )
    SELECT o_orderkey, round(abs(s2 - s1), 6) AS dslope,
           round(abs(degrees(atan((s2 - s1) / (1.0 + s1 * s2)))), 6) AS angle,
           CASE WHEN abs(degrees(atan((s2 - s1) / (1.0 + s1 * s2)))) <= 17.0
                 AND abs(s2 - s1) <= 4.0 THEN 1 ELSE 0 END AS passes
    FROM s ORDER BY o_orderkey
    """,
)
def q_slope_angle(spark, sf_dir):
    """J4: the reference's slope/angle predicate (`conflator.py:504-551`)
    as exact Column math with its acceptance thresholds."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s1 = (F.pmod(k, F.lit(17)) - 8) / 4.0
    s2 = (F.pmod(k * 5, F.lit(23)) - 11) / 7.3
    ang = F.abs(F.degrees(F.atan((s2 - s1) / (1.0 + s1 * s2))))
    return o.select(
        "o_orderkey",
        F.round(F.abs(s2 - s1), 6).alias("dslope"),
        F.round(ang, 6).alias("angle"),
        F.when((ang <= 17.0) & (F.abs(s2 - s1) <= 4.0), F.lit(1)).otherwise(F.lit(0)).alias("passes"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# A6/A7 — counts + area filter
# ---------------------------------------------------------------------------


@register(
    "q_count_validation",
    """
    SELECT 'customer' AS tbl, count(*) AS n FROM customer
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    ORDER BY tbl
    """,
)
def q_count_validation(spark, sf_dir):
    """A6: COUNT validation queries (`geosupport.py:394-395`)."""
    rows = []
    for t in ("customer", "orders", "lineitem"):
        rows.append(_t(spark, sf_dir, t).select(F.lit(t).alias("tbl"), F.count("*").alias("n")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("tbl")


@register(
    "q_area_filter",
    """
    SELECT o_orderkey,
           ((o_orderkey % 100) * 10 + 50) * (((o_orderkey * 3) % 80) * 10 + 40) AS area_m2
    FROM orders
    WHERE ((o_orderkey % 100) * 10 + 50) * (((o_orderkey * 3) % 80) * 10 + 40) >= 100000
    ORDER BY o_orderkey
    """,
)
def q_area_filter(spark, sf_dir):
    """A7: drop fragments with area < 100000 m² (`tm_splitter.py:170-177`) —
    integer box math, exact parity."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    area = (F.pmod(k, F.lit(100)) * 10 + 50) * (F.pmod(k * 3, F.lit(80)) * 10 + 40)
    return o.select("o_orderkey", area.alias("area_m2")).filter(area >= 100000).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Span codec: engine roundtrip vs direct SQL construction of the signature
# ---------------------------------------------------------------------------

_U_SQL = "(((k * (2654435761 + {s} * 40503) + {s} * 97) % 1000003) / 1000003.0)"
_PICK_SQL = "((k * 2654435761 + {s} * 97) % {n})"


def _list_case(idx_expr: str, options: list[str]) -> str:
    return (
        "CASE " + idx_expr + " "
        + " ".join(f"WHEN {i} THEN '{o}'" for i, o in enumerate(options))
        + " END"
    )


_SPAN_SIG_SQL = f"""
WITH k AS (SELECT o_orderkey AS k FROM orders),
geo AS (
  SELECT k,
    CASE WHEN k % 100 = 7 THEN -106.5 + {_U_SQL.format(s=11)} * 0.01
         ELSE -109.0 + {_U_SQL.format(s=1)} * 5.0 END AS x0,
    CASE WHEN k % 100 = 7 THEN 39.0 + {_U_SQL.format(s=12)} * 0.01
         ELSE 37.0 + {_U_SQL.format(s=2)} * 3.5 END + 0.0 AS y0,
    ({_U_SQL.format(s=3)} - 0.5) * 0.008 * (CASE WHEN k % 100 = 7 THEN 0.05 ELSE 1.0 END) AS s1x,
    ({_U_SQL.format(s=4)} - 0.5) * 0.006 * (CASE WHEN k % 100 = 7 THEN 0.05 ELSE 1.0 END) AS s1y,
    ({_U_SQL.format(s=5)} - 0.5) * 0.008 * (CASE WHEN k % 100 = 7 THEN 0.05 ELSE 1.0 END) AS s2x,
    ({_U_SQL.format(s=6)} - 0.5) * 0.006 * (CASE WHEN k % 100 = 7 THEN 0.05 ELSE 1.0 END) AS s2y
  FROM k
),
parts AS (
  SELECT k,
    {_list_case(_PICK_SQL.format(s=23, n=6), synth._HW)} AS hw,
    {_list_case(_PICK_SQL.format(s=21, n=16), synth._WORDS)} || ' ' ||
      {_list_case(_PICK_SQL.format(s=22, n=6), synth._SUFFIX)} AS name,
    'FR ' || CAST((k % 900) + 100 AS VARCHAR) ||
      CASE WHEN k % 3 = 0 THEN '.' || CAST((k % 9) + 1 AS VARCHAR) ELSE '' END AS ref,
    'LINESTRING(' || printf('%.7f', x0) || ' ' || printf('%.7f', y0) || ',' ||
      printf('%.7f', x0 + s1x) || ' ' || printf('%.7f', y0 + s1y) || ',' ||
      printf('%.7f', x0 + s1x + s2x) || ' ' || printf('%.7f', y0 + s1y + s2y) || ')' AS wkt,
    '18/' || CAST((k * 53) % 262144 AS VARCHAR) || '/' || CAST((k * 37) % 262144 AS VARCHAR) || '.jpg' AS media
  FROM geo
)
SELECT 'doc-' || CAST(k AS VARCHAR) AS doc_id,
       'tag' || chr(1) || 'highway=' || hw || chr(1) ||
       chr(2) || 'tag' || chr(1) || 'name=' || name || chr(1) ||
       chr(2) || 'tag' || chr(1) || 'ref:usfs=' || ref || chr(1) ||
       chr(2) || 'geom' || chr(1) || wkt || chr(1) ||
       chr(2) || 'media' || chr(1) || chr(1) || media AS sig
FROM parts ORDER BY doc_id
"""


@register("q_span_signature", _SPAN_SIG_SQL)
def q_span_signature(spark, sf_dir):
    """The per-row invariant, end-to-end: interleaved spans table →
    spans_to_features → features_to_spans → signature.  The oracle builds
    the expected (kind, text, media_ref, order) signature directly from the
    generator arithmetic — any reorder/corruption in the codec breaks it."""
    # range-partition the generated table by the sort key before the span
    # codec: the codec + signature concat run at full shuffle width instead
    # of the generator's partitioning, and the final orderBy is an
    # in-partition sort (no second exchange re-executing the codec for
    # boundary sampling)
    docs = synth.documents_spans(spark, sf_dir).repartitionByRange(
        skew.shuffle_width(spark), "doc_id"
    )
    out = SP.features_to_spans(SP.spans_to_features(docs))
    return out.select("doc_id", SP.span_signature("spans").alias("sig")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Flagship conflation — full-pipeline DuckDB twin (osm_merge_spark/conflate_sql)
# ---------------------------------------------------------------------------

from .conflate_sql import CONFLATE_FLAGSHIP_SQL, CONFLATE_NEW_SQL


def _tag_sig(tags) -> "F.Column":
    """map<string,string> → deterministic sorted 'k=v|k=v' signature string
    (the canonicalizable form the driver's hash gate needs)."""
    entries = F.array_sort(
        F.transform(F.map_entries(tags), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
    )
    return F.concat_ws("|", entries)


# ---------------------------------------------------------------------------
# S8 — basemap provider URL generation (`basemapper.py:167-204`): the tile
# work-list → per-mirror URL step as pure Column string math, hash-checked
# against a DuckDB twin that rebuilds every template (incl. the unrolled
# Bing quadkey digits) from the same tile arithmetic.
# ---------------------------------------------------------------------------


def _tile_urls_sql() -> str:
    z = 10
    n = 1 << z
    qk = " || ".join(
        f"CAST(((tx >> {i - 1}) & 1) + 2 * ((ty >> {i - 1}) & 1) AS VARCHAR)" for i in range(z, 0, -1)
    )
    path_zyx = "CAST(10 AS VARCHAR) || '/' || CAST(ty AS VARCHAR) || '/' || CAST(tx AS VARCHAR)"
    return f"""
    WITH pts AS ({CUST_PT_SQL.strip()}),
    tiles AS (
      SELECT c_custkey,
             CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT) AS tx,
             CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * {n}) AS BIGINT) AS ty
      FROM pts
    )
    SELECT c_custkey,
           'http://clarity.maptiles.arcgis.com/arcgis/rest/services/World_Imagery/MapServer/tile/'
             || {path_zyx} AS url_esri,
           'http://ecn.t0.tiles.virtualearth.net/tiles/h' || {qk} || '.jpg?g=129&mkt=en&stl=H' AS url_bing,
           'https://mt0.google.com/vt?lyrs=s&x=' || CAST(tx AS VARCHAR) || '&s=&y=' || CAST(ty AS VARCHAR)
             || '&z=10' AS url_google,
           'https://basemap.nationalmap.gov/ArcGIS/rest/services/USGSImageryOnly/MapServer/tile/'
             || {path_zyx} AS url_usgs
    FROM tiles ORDER BY c_custkey
    """


@register("q_tile_urls", _tile_urls_sql())
def q_tile_urls(spark, sf_dir):
    """S8 URL templates: customer points → z10 slippy tiles → per-provider
    download URLs via `basemap.tile_urls` (Column string math; Bing quadkey
    from `media.quadkey`)."""
    from .sources.basemap import PROVIDERS, tile_urls

    z = 10
    n = 1 << z
    pts = customer_points(spark, sf_dir)
    tiles = pts.select(
        "c_custkey",
        F.lit(z).alias("z"),
        F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("long").alias("x"),
        F.floor(
            (1.0 - F.log(F.tan(F.radians("lat")) + 1.0 / F.cos(F.radians("lat"))) / float(np.pi)) / 2.0 * n
        ).cast("long").alias("y"),
    )
    providers = [PROVIDERS[k] for k in ("esri", "bing", "google", "usgs")]
    return tile_urls(tiles, providers).select(
        "c_custkey", "url_esri", "url_bing", "url_google", "url_usgs"
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# J3 — length-mismatch sentinel, driven END-TO-END.  The flagship corpus is
# deliberately built so |len_a − len_b| ≤ 1000 m everywhere (its SQL twin
# omits J3); this query constructs long-way pairs that force the trigger and
# hash-checks the −1.0 / 0.0 sentinel against a DuckDB twin that recomputes
# the decision — haversine lengths for the trigger, mercator-frame hull
# containment / segment distance for the contact test
# (`conflator.py:608-630`).
# ---------------------------------------------------------------------------


def _hav_leg_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """DuckDB haversine leg — same formula/constants as geometry.haversine_m."""
    return (
        f"2.0 * 6371008.8 * asin(sqrt(least(1.0, greatest(0.0, "
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))))"
    )


def _merc_y_sql(lat: str) -> str:
    """DuckDB twin of geometry.mercator_xy's y (degree units)."""
    return f"(ln(tan(pi() / 4.0 + radians({lat}) / 2.0)) * 180.0 / pi())"


def _cross_sql(ax, ay, bx, by, px, py) -> str:
    """2-D cross product (B−A)×(P−A) — the hull edge-side test."""
    return f"((({bx}) - ({ax})) * (({py}) - ({ay})) - (({by}) - ({ay})) * (({px}) - ({ax})))"


def _length_sentinel_sql() -> str:
    # corpus arithmetic reproduced verbatim from the Spark side
    my = _merc_y_sql
    len_new = _hav_leg_sql("lon", "lat", "lon + 0.001", "lat")
    len_tri = (
        _hav_leg_sql("lon - 0.02", "lat - 0.01", "lon + 0.02", "lat - 0.01")
        + " + "
        + _hav_leg_sql("lon + 0.02", "lat - 0.01", "lon", "lat + 0.02")
    )
    len_far = _hav_leg_sql("lon + 0.05", "lat + 0.05", "lon + 0.09", "lat + 0.05")
    len_near = _hav_leg_sql("lon", "lat + 0.0005", "lon + 0.001", "lat + 0.0005")
    # case 0 contact: any new vertex inside the CCW triangle hull (merc frame)
    tri_pts = [("lon - 0.02", my("lat - 0.01")), ("lon + 0.02", my("lat - 0.01")), ("lon", my("lat + 0.02"))]
    new_pts = [("lon", my("lat")), ("lon + 0.001", my("lat"))]
    inside = " OR ".join(
        "("
        + " AND ".join(
            _cross_sql(*tri_pts[i], *tri_pts[(i + 1) % 3], px, py) + " >= -1e-18" for i in range(3)
        )
        + ")"
        for px, py in new_pts
    )
    # case 1 contact: clamped point→segment distance (merc frame) for each
    # new vertex vs the far old segment; contact iff any d² <= 1e-24
    sax, say = "lon + 0.05", my("lat + 0.05")
    sbx, sby = "lon + 0.09", my("lat + 0.05")
    d2s = []
    for px, py in new_pts:
        t = (
            f"least(1.0, greatest(0.0, "
            f"((({px}) - ({sax})) * (({sbx}) - ({sax})) + (({py}) - ({say})) * (({sby}) - ({say}))) / "
            f"(pow(({sbx}) - ({sax}), 2) + pow(({sby}) - ({say}), 2))))"
        )
        d2s.append(
            f"(pow(({px}) - (({sax}) + {t} * (({sbx}) - ({sax}))), 2) + "
            f"pow(({py}) - (({say}) + {t} * (({sby}) - ({say}))), 2))"
        )
    far_contact = f"least({d2s[0]}, {d2s[1]}) <= 1e-24"
    # case 2 exact distance: pure-latitude offset → perpendicular foot, so
    # the equirect kernel distance reduces to |Δ(lat·M_PER_DEG_LAT)|
    near_dist = "abs((lat + 0.0005) * 110540.0 - lat * 110540.0)"
    return f"""
    WITH pts AS ({CUST_PT_SQL.strip()}),
    geo AS (
      SELECT c_custkey, c_custkey % 3 AS case_id, lon, lat,
             {len_new} AS len_new,
             CASE c_custkey % 3 WHEN 0 THEN {len_tri} WHEN 1 THEN {len_far} ELSE {len_near} END AS len_old
      FROM pts
    )
    SELECT c_custkey, case_id,
           CASE WHEN abs(len_new - len_old) > 1000.0
                THEN CASE WHEN (CASE case_id WHEN 0 THEN ({inside}) ELSE ({far_contact}) END)
                          THEN 0.0 ELSE -1.0 END
                ELSE round({near_dist}, 4) END AS dist_m
    FROM geo ORDER BY c_custkey
    """


@register("q_length_sentinel", _length_sentinel_sql())
def q_length_sentinel(spark, sf_dir):
    """J3 end-to-end (`conflator.py:608-630`): three constructed pair shapes
    per customer anchor — (0) a >1 km triangle way whose hull CONTAINS the
    short external way → sentinel 0.0; (1) a >1 km way far from it →
    sentinel −1.0; (2) a matched-length parallel way → no trigger, real
    kernel distance.  Runs the production fused scoring kernel
    (`conflate.with_geom_scores`), so the mismatch gate, `hull_contact`, and
    the distance kernel are all on the scored path."""
    pts = customer_points(spark, sf_dir)
    lon, lat = F.col("lon"), F.col("lat")
    r = F.pmod(F.col("c_custkey"), F.lit(3))
    new_geom = F.array(lon, lat, lon + 0.001, lat)
    tri = F.array(lon - 0.02, lat - 0.01, lon + 0.02, lat - 0.01, lon, lat + 0.02)
    far = F.array(lon + 0.05, lat + 0.05, lon + 0.09, lat + 0.05)
    near = F.array(lon, lat + 0.0005, lon + 0.001, lat + 0.0005)
    pairs = pts.select(
        "c_custkey",
        r.alias("case_id"),
        new_geom.alias("geom_p"),
        F.when(r == 0, tri).when(r == 1, far).otherwise(near).alias("geom_s"),
    )
    return C.with_geom_scores(pairs).select(
        "c_custkey", "case_id", F.round("dist", 4).alias("dist_m")
    ).orderBy("c_custkey")


@register("q_conflate_flagship", CONFLATE_FLAGSHIP_SQL)
def q_conflate_flagship(spark, sf_dir):
    """§3.1 flagship: full conflation over the synthetic corpus, hash-checked
    against a brute-force ANSI-SQL twin of the whole pipeline (corpus
    arithmetic + geometry kernel + scoring + best-match + tag merge)."""
    conflated, _ = C.conflate(synth.external_ways(spark, sf_dir), synth.osm_ways(spark, sf_dir))
    return conflated.select(
        "ext_id", "way_id", "hits", "dist", "name_ratio", "ref_ratio",
        "dslope", "angle", "version", _tag_sig(F.col("tags")).alias("tag_sig"),
    ).orderBy("ext_id")


@register("q_conflate_new", CONFLATE_NEW_SQL)
def q_conflate_new(spark, sf_dir):
    """§3.1 anti-join output: external features with no OSM counterpart."""
    _, new = C.conflate(synth.external_ways(spark, sf_dir), synth.osm_ways(spark, sf_dir))
    return new.select(
        "ext_id", "version", _tag_sig(F.col("tags")).alias("tag_sig")
    ).orderBy("ext_id")


from .conflate_sql import line_tiles_sql as _line_tiles_sql

_LT_PARAMS = TL.grid_params(
    synth.LON0, synth.LAT0, synth.LON0 + synth.LON_SPAN, synth.LAT0 + synth.LAT_SPAN, tile_m=20_000.0
)


@register(
    "q_line_tiles",
    _line_tiles_sql(synth.LON0, synth.LAT0, *_LT_PARAMS),
)
def q_line_tiles(spark, sf_dir):
    """J9 polyline multi-tile routing — hash-checked against a grid-math SQL
    twin (the quarter-tile sampling is deterministic)."""
    ways = synth.osm_ways(spark, sf_dir)
    return (
        TL.assign_lines_to_tiles(ways, synth.LON0, synth.LAT0, synth.LON0 + synth.LON_SPAN,
                                 synth.LAT0 + synth.LAT_SPAN, tile_m=20_000.0)
        .select("way_id", "tile_id")
        .orderBy("way_id", "tile_id")
    )


def _lsh_proj_sql(vec: str, h: int, t: int) -> str:
    """SQL for one hyperplane projection — coefficients are the same modular
    arithmetic as ``similarity._hyperplane``, fold order matches Spark's
    ``aggregate`` for bit-identical doubles."""
    s = h + t * 97
    coef = f"CAST((({s} * 31 + (i - 1) * 17 + {t} * 7) % 13) - 6 AS DOUBLE)"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({vec}, (x, i) -> CAST(x AS DOUBLE) * {coef})), (a, b) -> a + b)"
    )


def _lsh_bucket_sql(vec: str, t: int, n_planes: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_lsh_proj_sql(vec, h, t)} > 0 THEN {1 << (n_planes - 1 - h)} ELSE 0 END)"
        for h in range(n_planes)
    )
    return f"({bits})"


def _lsh_bucket_cols_sql(vec: str, n_planes: int, n_tables: int) -> str:
    return ", ".join(f"{_lsh_bucket_sql(vec, t, n_planes)} AS b{t}" for t in range(n_tables))


def _lsh_topk_sql(n_planes: int = 8, n_tables: int = 4, k: int = 3) -> str:
    """DuckDB twin of multi-table hyperplane LSH: the hyperplane coefficients
    are pure modular arithmetic of (plane, table, index) — see
    ``similarity._hyperplane`` — so every bucket id is reproducible in SQL
    (same left-fold order as Spark's ``aggregate`` for bit-identical
    projections)."""
    b_cols = lambda vec: _lsh_bucket_cols_sql(vec, n_planes, n_tables)  # noqa: E731
    same_bucket = " OR ".join(f"p.b{t} = t.b{t}" for t in range(n_tables))
    return f"""
    WITH p AS (
      SELECT vec_id AS probe_id, embedding AS p_vec, {b_cols("embedding")}
      FROM embeddings WHERE vec_id < 50
    ), t AS (
      SELECT vec_id, embedding AS t_vec, {b_cols("embedding")}
      FROM embeddings
    ), pairs AS (
      SELECT DISTINCT p.probe_id, t.vec_id, p.p_vec, t.t_vec
      FROM p JOIN t ON ({same_bucket}) AND p.probe_id <> t.vec_id
    ), scored AS (
      SELECT probe_id, vec_id,
             round(CASE WHEN {_NORM_SQL.format(a="p_vec")} * {_NORM_SQL.format(a="t_vec")} = 0 THEN 0.0
                        ELSE {_DOT_SQL.format(a="p_vec", b="t_vec")}
                             / ({_NORM_SQL.format(a="p_vec")} * {_NORM_SQL.format(a="t_vec")})
                   END, 6) AS cos_sim
      FROM pairs
    )
    SELECT probe_id, vec_id, cos_sim, rank FROM (
      SELECT probe_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY probe_id, rank
    """


@register("q_lsh_topk", _lsh_topk_sql())
def q_lsh_topk(spark, sf_dir):
    """Approximate ANN (multi-table hyperplane LSH): bucket equi-join, exact
    cosine within bucket — hash-checked against a DuckDB twin that recomputes
    the deterministic hyperplanes (recall floor additionally in pytest)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(F.col("vec_id").alias("probe_id"), "embedding")
    return S.lsh_topk(probes, emb, dim=64, k=3).orderBy("probe_id", "rank")


_HEXB = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"


def _png_dims_sql() -> str:
    """Shared CTE tail: media refs → the synth-PNG construction arithmetic
    (md5-seeded dims + base shade, mirroring `media.synth_png_batch`)."""
    b = [f"({_HEXB.format(p=2 * i + 1)} * 16 + {_HEXB.format(p=2 * i + 2)}) AS b{i}" for i in range(3)]
    return f"""
    WITH o AS (SELECT o_orderkey AS k FROM orders),
    m AS (
      SELECT 'doc-' || CAST(k AS VARCHAR) AS doc_id,
             '18/' || CAST((k * 53) % 262144 AS VARCHAR) || '/'
                   || CAST((k * 37) % 262144 AS VARCHAR) || '.jpg' AS media_ref
      FROM o
    ),
    hx AS (SELECT doc_id, media_ref, md5(media_ref) AS h FROM m),
    bb AS (SELECT doc_id, media_ref, {", ".join(b)} FROM hx),
    dims AS (SELECT doc_id, media_ref, 1 + b0 % 13 AS w, 1 + b1 % 11 AS h2, b2 AS base FROM bb)
    """


def _media_sql() -> str:
    """DuckDB twin of the REAL PNG decode path: the engine decodes actual
    pixels; the twin predicts them analytically from the deterministic tile
    construction — px[r][c] = (base + 7r + 3c) % 256, feature = first 8
    luminance pixels (wrapped)."""
    feat = " || ',' || ".join(
        f"CAST((base + 7 * (({i} % (w * h2)) // w) + 3 * (({i} % (w * h2)) % w)) % 256 AS VARCHAR)"
        for i in range(8)
    )
    return (
        _png_dims_sql()
        + f"""
    SELECT doc_id, media_ref,
           CAST(w AS INT) AS width,
           CAST(h2 AS INT) AS height,
           {feat} AS feat_sig
    FROM dims ORDER BY doc_id
    """
    )


@register("q_media_features", _media_sql())
def q_media_features(spark, sf_dir):
    """Multimodal decode: media spans → synthesized VALID PNG tiles
    (`media.synth_png_batch`, per-row filter types cycling 0-4) →
    mapInPandas feature extraction running the real pure-python PNG decoder
    (`functions/png.py`).  width/height come from decoded pixels; the
    float32 feature is the first 8 luminance pixels, emitted as its exact
    byte signature (round(v*255)) so the oracle is hash-exact."""
    docs = synth.documents_spans(spark, sf_dir)
    feats = SP.spans_to_features(docs)
    media = feats.select("doc_id", F.explode("media_refs").alias("media_ref")).withColumn(
        "payload", M.synth_png_payload("media_ref")
    )
    out = M.extract_media_features(media)
    feat_sig = F.concat_ws(
        ",", F.transform("feature", lambda v: F.round(v * 255.0).cast("int").cast("string"))
    )
    return out.select("doc_id", "media_ref", "width", "height", feat_sig.alias("feat_sig")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Converter family (P8 full spec) + raster↔vector overlay
# ---------------------------------------------------------------------------


@register(
    "q_converter_mvum",
    r"""
    WITH src AS (
      SELECT p_partkey AS gid,
             p_name AS name,
             CAST((p_partkey % 900) + 100 AS VARCHAR) AS id,
             CAST((p_partkey % 5) + 1 AS VARCHAR) AS sur_code,
             CAST((p_partkey % 5) + 1 AS VARCHAR) AS smo_code,
             CASE WHEN p_partkey % 3 = 0 THEN 'RD' WHEN p_partkey % 3 = 1 THEN 'TR' ELSE 'HWY' END AS hw_code,
             CASE WHEN p_partkey % 2 = 0 THEN 'Y' ELSE 'N' END AS atv
      FROM part
    )
    SELECT gid,
      array_to_string(list_transform(string_split(regexp_replace(trim(name), '\s+', ' ', 'g'), ' '),
        w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS name_norm,
      'FR ' || id AS ref_norm,
      CASE sur_code WHEN '1' THEN 'dirt' WHEN '2' THEN 'gravel' WHEN '3' THEN 'paved'
                    WHEN '4' THEN 'compacted' WHEN '5' THEN 'ground' END AS surface,
      CASE smo_code WHEN '1' THEN 'very_horrible' WHEN '2' THEN 'horrible' WHEN '3' THEN 'very_bad'
                    WHEN '4' THEN 'bad' WHEN '5' THEN 'intermediate' END AS smoothness,
      CASE hw_code WHEN 'RD' THEN 'track' WHEN 'TR' THEN 'path' WHEN 'HWY' THEN 'unclassified' END AS highway,
      CASE WHEN atv = 'Y' THEN 'designated' END AS atv_access,
      'US Forest Service' AS operator
    FROM src ORDER BY gid
    """,
)
def q_converter_mvum(spark, sf_dir):
    """P8 full converter: MVUM-shaped spec through the declarative converter
    engine (`mvum.py:111-245` semantics: code tables, normalization,
    vehicle→designated, constants)."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    src = p.select(
        k.alias("gid"),
        F.col("p_name").alias("name"),
        ((F.pmod(k, F.lit(900)) + 100).cast("string")).alias("id"),
        (F.pmod(k, F.lit(5)) + 1).cast("string").alias("sur_code"),
        (F.pmod(k, F.lit(5)) + 1).cast("string").alias("smo_code"),
        F.when(F.pmod(k, F.lit(3)) == 0, "RD").when(F.pmod(k, F.lit(3)) == 1, "TR").otherwise("HWY").alias("hw_code"),
        F.when(F.pmod(k, F.lit(2)) == 0, "Y").otherwise("N").alias("atv"),
    )
    out = CV.convert(src, CV.MVUM_SPEC, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("name")).alias("name_norm"),
        F.element_at(t, F.lit("ref:usfs")).alias("ref_norm"),
        F.element_at(t, F.lit("surface")).alias("surface"),
        F.element_at(t, F.lit("smoothness")).alias("smoothness"),
        F.element_at(t, F.lit("highway")).alias("highway"),
        F.element_at(t, F.lit("atv")).alias("atv_access"),
        F.element_at(t, F.lit("operator")).alias("operator"),
    ).orderBy("gid")



# --- S5: ODK field-data ingest → POI kNN conflation (the conflatePOI flow)

_ODK_SQL = f"""
WITH c AS (
  SELECT c_custkey AS poi_key,
         -109.0 + (c_custkey % 500) * 0.01 AS lon,
         37.0 + ((c_custkey * 7) % 350) * 0.01 AS lat,
         'Cafe ' || CAST(c_custkey % 97 AS VARCHAR) AS name,
         CASE c_custkey % 3 WHEN 0 THEN 'coffee_shop' WHEN 1 THEN 'regional' ELSE 'ice_cream' END AS cuisine
  FROM customer
),
s AS ({SUPP_PT_SQL.strip()}),
pairs AS (
  SELECT c.poi_key, c.name, c.cuisine, s.s_suppkey,
         {HAVERSINE_SQL.format(lon1='c.lon', lat1='c.lat', lon2='s.lon', lat2='s.lat')} AS dist
  FROM c CROSS JOIN s
),
ranked AS (
  SELECT poi_key, name, cuisine, s_suppkey, dist,
         row_number() OVER (PARTITION BY poi_key ORDER BY dist, s_suppkey) AS rn
  FROM pairs WHERE dist <= 5000.0
)
SELECT poi_key, s_suppkey, round(dist, 2) AS dist_m, name, cuisine, 'cafe' AS amenity
FROM ranked WHERE rn = 1 ORDER BY poi_key
"""


_ODK_XML_SQL = f"""
WITH pts AS ({CUST_PT_SQL.strip()})
SELECT CAST(c_custkey AS VARCHAR) AS ref,
       round(lon, 4) AS lon_r,
       round(lat, 4) AS lat_r,
       'cuisine=style_' || CAST(c_custkey % 7 AS VARCHAR)
         || '|name=POI ' || CAST(c_custkey AS VARCHAR)
         || '|ref=' || CAST(c_custkey AS VARCHAR) AS tag_sig
FROM pts ORDER BY c_custkey
"""


@register("q_odk_xml", _ODK_XML_SQL)
def q_odk_xml(spark, sf_dir):
    """S5 XML variant end-to-end: per-customer ODK XML Instance documents
    (geopoint value lat-first, nested groups, metadata noise) through the
    Arrow-batched ElementTree kernel (`odk.odk_xml_to_features`).  The xid
    field surfaces as the ``ref`` tag (convertEntry rename) and carries the
    row key through the parse."""
    from .sources import odk as ODK

    pts = customer_points(spark, sf_dir)
    xml = F.format_string(
        "<data><meta><instanceID>uuid:%d</instanceID></meta>"
        "<all><location><geopoint>%.4f %.4f 2500.0 4.0</geopoint></location>"
        "<poi><name>POI %d</name><cafe_type>style_%d</cafe_type><xid>%d</xid></poi></all>"
        "<deviceid>d</deviceid></data>",
        F.col("c_custkey"),
        F.col("lat"),
        F.col("lon"),
        F.col("c_custkey"),
        F.pmod(F.col("c_custkey"), F.lit(7)),
        F.col("c_custkey"),
    )
    feats = ODK.odk_xml_to_features(pts.select(xml.alias("value")))
    return feats.select(
        F.element_at("tags", "ref").alias("ref"),
        F.round("lon", 4).alias("lon_r"),
        F.round("lat", 4).alias("lat_r"),
        _tag_sig(F.col("tags")).alias("tag_sig"),
    ).orderBy(F.col("ref").cast("long"))


@register("q_odk_poi_conflate", _ODK_SQL)
def q_odk_poi_conflate(spark, sf_dir):
    """S5 → J5: ODK-shaped field submissions (hierarchical column names,
    warmup-location fallback, metadata ignore) through the ODK parser, then
    POI kNN conflation against node points (`fieldwork/parsers.py:88-214` →
    `conflatePOI.py:86-153`)."""
    from .sources import odk as ODK

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lat = F.lit(37.0) + F.pmod(k * 7, F.lit(350)) * 0.01
    lon = F.lit(-109.0) + F.pmod(k, F.lit(500)) * 0.01
    # primary location missing for 10% of rows — the warmup value (same
    # coordinates here) must carry them through the coalesce path
    raw = c.select(
        k.alias("poi_key"),
        F.lit("2024-05-01T10:00:00Z").alias("all-meta-submissiondate"),  # ignored
        F.when(F.pmod(k, F.lit(10)) == 0, F.lit(None).cast("string"))
        .otherwise(lat.cast("string")).alias("all-location-latitude"),
        F.when(F.pmod(k, F.lit(10)) == 0, F.lit(None).cast("string"))
        .otherwise(lon.cast("string")).alias("all-location-longitude"),
        lat.cast("string").alias("all-warmup-latitude"),
        lon.cast("string").alias("all-warmup-longitude"),
        F.concat(F.lit("Cafe "), F.pmod(k, F.lit(97)).cast("string")).alias("all-poi-name"),
        F.when(F.pmod(k, F.lit(3)) == 0, "coffee_shop").when(F.pmod(k, F.lit(3)) == 1, "regional")
        .otherwise("ice_cream").alias("all-poi-cafe_type"),  # → cuisine rename
        F.lit("cafe").alias("all-poi-amenity"),
    )
    pois = ODK.odk_to_features(raw, id_col="poi_key")
    matched = P.knn_join(
        pois, supplier_points(spark, sf_dir), tolerance_m=5000.0, k=1,
        probe_id="poi_key", target_id="s_suppkey",
    )
    t = F.col("tags")
    return (
        matched.join(pois.select("poi_key", "tags"), "poi_key")
        .select(
            "poi_key", "s_suppkey", F.round("dist", 2).alias("dist_m"),
            F.element_at(t, F.lit("name")).alias("name"),
            F.element_at(t, F.lit("cuisine")).alias("cuisine"),
            F.element_at(t, F.lit("amenity")).alias("amenity"),
        )
        .orderBy("poi_key")
    )


# --- the remaining converter family (trails/usgs/blm/nps/local/osmhighways)

from .conflate_sql import _norm_name as _NN_SQL

_IC = _NN_SQL  # full normalize chain (initcap + abbreviation expansion)


@register(
    "q_converter_trails",
    f"""
    WITH src AS (
      SELECT p_partkey AS gid,
             p_name || (CASE WHEN p_partkey % 5 = 0 THEN ' trail' ELSE '' END) AS name,
             CAST((p_partkey % 900) + 100 AS VARCHAR) AS trail_no,
             lpad(CAST((p_partkey % 12) + 1 AS VARCHAR), 2, '0') || '/01-' ||
             lpad(CAST(((p_partkey * 7) % 12) + 1 AS VARCHAR), 2, '0') || '/28' AS season_dates,
             CASE WHEN p_partkey % 2 = 0 THEN 'Y' ELSE 'N' END AS atv,
             CASE WHEN p_partkey % 3 = 0 THEN 'Y' ELSE 'N' END AS horse
      FROM part
    ),
    n AS (SELECT *, {_IC('name')} AS nn FROM src)
    SELECT gid,
      CASE WHEN strpos(nn, ' Trail') >= 2 THEN nn ELSE nn || ' Trail' END AS name_norm,
      'FR ' || trail_no AS ref_norm,
      {_MONTH_SQL.format(m="CAST(substr(season_dates,1,2) AS INT)")} || '-' ||
        {_MONTH_SQL.format(m="CAST(substr(season_dates,7,2) AS INT)")} AS opening_hours,
      CASE WHEN {_MONTH_SQL.format(m="CAST(substr(season_dates,1,2) AS INT)")} = 'Jan'
            AND {_MONTH_SQL.format(m="CAST(substr(season_dates,7,2) AS INT)")} = 'Dec'
           THEN 'no' ELSE 'yes' END AS seasonal,
      CASE WHEN atv = 'Y' THEN 'designated' END AS atv_access,
      CASE WHEN horse = 'Y' THEN 'designated' END AS horse_access,
      'US Forest Service' AS operator, 'path' AS highway
    FROM n ORDER BY gid
    """,
)
def q_converter_trails(spark, sf_dir):
    """P8 trails converter (`trails.py:64-179`): ' Trail' name-suffix rule,
    FR trail number, seasonal opening hours, vehicle→designated."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    src = p.select(
        k.alias("gid"),
        F.concat(F.col("p_name"), F.when(F.pmod(k, F.lit(5)) == 0, " trail").otherwise("")).alias("name"),
        (F.pmod(k, F.lit(900)) + 100).cast("string").alias("trail_no"),
        F.concat(
            F.lpad((F.pmod(k, F.lit(12)) + 1).cast("string"), 2, "0"), F.lit("/01-"),
            F.lpad((F.pmod(k * 7, F.lit(12)) + 1).cast("string"), 2, "0"), F.lit("/28"),
        ).alias("season_dates"),
        F.when(F.pmod(k, F.lit(2)) == 0, "Y").otherwise("N").alias("atv"),
        F.when(F.pmod(k, F.lit(3)) == 0, "Y").otherwise("N").alias("horse"),
    )
    out = CV.convert(src, CV.TRAILS_SPEC, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("name")).alias("name_norm"),
        F.element_at(t, F.lit("ref:usfs")).alias("ref_norm"),
        F.element_at(t, F.lit("opening_hours")).alias("opening_hours"),
        F.element_at(t, F.lit("seasonal")).alias("seasonal"),
        F.element_at(t, F.lit("atv")).alias("atv_access"),
        F.element_at(t, F.lit("horse")).alias("horse_access"),
        F.element_at(t, F.lit("operator")).alias("operator"),
        F.element_at(t, F.lit("highway")).alias("highway"),
    ).orderBy("gid")


@register(
    "q_converter_usgs",
    rf"""
    WITH src AS (
      SELECT p_partkey AS gid,
             CASE p_partkey % 6
               WHEN 0 THEN 'County Road ' || CAST(p_partkey % 500 AS VARCHAR)
               WHEN 1 THEN 'Old Co Rd ' || CAST(p_partkey % 500 AS VARCHAR)
               WHEN 2 THEN 'Rd ' || CAST(p_partkey % 500 AS VARCHAR)
               WHEN 3 THEN 'USFS Road ' || CAST(p_partkey % 500 AS VARCHAR)
               WHEN 4 THEN p_name
               ELSE 'County Road' END AS name
      FROM part
    )
    SELECT gid,
      CASE WHEN name = 'County Road' THEN NULL
           WHEN regexp_matches(name, '^County Road .*')
             THEN 'CR' || regexp_extract(name, '^County Road (\S+)', 1)
           WHEN regexp_matches(name, '.*Co Rd.*')
             THEN 'CR ' || regexp_extract(name, '(\S+)\s*$', 1)
           WHEN regexp_matches(name, '^Rd .*')
             THEN 'CR ' || regexp_extract(name, '(\S+)\s*$', 1)
           WHEN regexp_matches(name, '(?i)^usfs .*')
             THEN 'FR ' || regexp_extract(name, '(\S+)\s*$', 1)
           END AS ref,
      CASE WHEN name <> 'County Road'
            AND NOT regexp_matches(name, '^County Road .*')
            AND NOT regexp_matches(name, '.*Co Rd.*')
            AND NOT regexp_matches(name, '^Rd .*')
            AND NOT regexp_matches(name, '(?i)^usfs .*')
            AND regexp_matches(name, '.* .*')
           THEN {_IC('name')} END AS name_out,
      'unclassified' AS highway
    FROM src ORDER BY gid
    """,
)
def q_converter_usgs(spark, sf_dir):
    """P8 USGS converter (`usgs.py:72-258`): the name-field ref-mining ladder
    (County Road → CR<N> with no space `:147`, Co Rd/Rd → CR, usfs → FR) with
    real names falling through to normalization."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    n = F.pmod(k, F.lit(500)).cast("string")
    src = p.select(
        k.alias("gid"),
        F.when(F.pmod(k, F.lit(6)) == 0, F.concat(F.lit("County Road "), n))
        .when(F.pmod(k, F.lit(6)) == 1, F.concat(F.lit("Old Co Rd "), n))
        .when(F.pmod(k, F.lit(6)) == 2, F.concat(F.lit("Rd "), n))
        .when(F.pmod(k, F.lit(6)) == 3, F.concat(F.lit("USFS Road "), n))
        .when(F.pmod(k, F.lit(6)) == 4, F.col("p_name"))
        .otherwise(F.lit("County Road"))
        .alias("name"),
    )
    out = CV.convert(src, CV.USGS_SPEC, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("ref")).alias("ref"),
        F.element_at(t, F.lit("name")).alias("name_out"),
        F.element_at(t, F.lit("highway")).alias("highway"),
    ).orderBy("gid")


@register(
    "q_converter_blm",
    f"""
    WITH src AS (
      SELECT p_partkey AS gid,
             CASE WHEN p_partkey % 2 = 0 THEN 'Motorized' ELSE 'Non-Mechanized' END AS plan_mode,
             CASE WHEN p_partkey % 4 = 0 THEN NULL
                  WHEN p_partkey % 4 = 1 THEN 'BLM ' || CAST(p_partkey % 500 AS VARCHAR)
                  ELSE CAST(p_partkey % 500 AS VARCHAR) END AS rd_id,
             CASE WHEN p_partkey % 4 = 0 THEN CAST(p_partkey % 500 AS VARCHAR)
                  ELSE p_name END AS name
      FROM part
    )
    SELECT gid,
      CASE WHEN rd_id IS NOT NULL AND regexp_matches(rd_id, '^BLM') THEN rd_id
           WHEN rd_id IS NOT NULL THEN 'BLM ' || rd_id
           WHEN regexp_matches(name, '^[0-9]+$') THEN 'BLM ' || name
           END AS ref,
      CASE WHEN NOT regexp_matches(name, '^[0-9]+$') AND regexp_matches(name, '.* .*')
           THEN {_IC('name')} END AS name_out,
      CASE plan_mode WHEN 'Non-Mechanized' THEN 'path' WHEN 'Motorized' THEN 'track' END AS highway,
      'BLM' AS operator
    FROM src ORDER BY gid
    """,
)
def q_converter_blm(spark, sf_dir):
    """P8 BLM converter (`blm.py:104-243`): highway from the transport plan
    mode, BLM-prefixed refs (idempotent), numeric names are refs."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    n = F.pmod(k, F.lit(500)).cast("string")
    src = p.select(
        k.alias("gid"),
        F.when(F.pmod(k, F.lit(2)) == 0, "Motorized").otherwise("Non-Mechanized").alias("plan_mode"),
        F.when(F.pmod(k, F.lit(4)) == 0, F.lit(None).cast("string"))
        .when(F.pmod(k, F.lit(4)) == 1, F.concat(F.lit("BLM "), n))
        .otherwise(n)
        .alias("rd_id"),
        F.when(F.pmod(k, F.lit(4)) == 0, n).otherwise(F.col("p_name")).alias("name"),
    )
    out = CV.convert(src, CV.BLM_SPEC, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("ref")).alias("ref"),
        F.element_at(t, F.lit("name")).alias("name_out"),
        F.element_at(t, F.lit("highway")).alias("highway"),
        F.element_at(t, F.lit("operator")).alias("operator"),
    ).orderBy("gid")


@register(
    "q_converter_nps",
    """
    WITH src AS (
      SELECT p_partkey AS gid,
             'nps_' || CAST(p_partkey % 3 AS VARCHAR) AS MAPSOURCE,
             p_name AS TRLNAME,
             CASE p_partkey % 3 WHEN 0 THEN 'Gravel' WHEN 1 THEN 'DIRT' ELSE 'Paved' END AS TRLSURFACE,
             CASE WHEN p_partkey % 2 = 0 THEN 'Yes' ELSE 'No' END AS SEASONAL
      FROM part
    )
    SELECT gid,
      MAPSOURCE AS source,
      array_to_string(list_transform(string_split(TRLNAME, ' '),
        w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS name,
      lower(TRLSURFACE) AS surface,
      lower(SEASONAL) AS seasonal
    FROM src ORDER BY gid
    """,
)
def q_converter_nps(spark, sf_dir):
    """P8 NPS converter (`nps.py:65-106`): four field maps with title/lower
    casing — the simplest of the family."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    src = p.select(
        k.alias("gid"),
        F.concat(F.lit("nps_"), F.pmod(k, F.lit(3)).cast("string")).alias("MAPSOURCE"),
        F.col("p_name").alias("TRLNAME"),
        F.when(F.pmod(k, F.lit(3)) == 0, "Gravel").when(F.pmod(k, F.lit(3)) == 1, "DIRT").otherwise("Paved").alias("TRLSURFACE"),
        F.when(F.pmod(k, F.lit(2)) == 0, "Yes").otherwise("No").alias("SEASONAL"),
    )
    out = CV.convert(src, CV.NPS_SPEC, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("source")).alias("source"),
        F.element_at(t, F.lit("name")).alias("name"),
        F.element_at(t, F.lit("surface")).alias("surface"),
        F.element_at(t, F.lit("seasonal")).alias("seasonal"),
    ).orderBy("gid")


@register(
    "q_converter_local",
    rf"""
    WITH src AS (
      SELECT p_partkey AS gid,
             CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_partkey % 500 END AS rd_num,
             CASE p_partkey % 5
               WHEN 0 THEN CAST(p_partkey % 500 AS VARCHAR)
               WHEN 1 THEN 'Fs ' || CAST(p_partkey % 500 AS VARCHAR) || '-' || p_name
               WHEN 2 THEN 'County Road ' || CAST(p_partkey % 500 AS VARCHAR)
               WHEN 3 THEN 'Forest Road ' || CAST(p_partkey % 500 AS VARCHAR)
               ELSE p_name END AS road_name
      FROM part
    ),
    n AS (SELECT *, {_IC('road_name')} AS nn FROM src),
    r AS (
      SELECT *,
        CASE WHEN regexp_matches(nn, '^[0-9]+$') THEN 'CR ' || nn
             WHEN regexp_matches(nn, '^Fs ') THEN 'FR ' || regexp_extract(nn, '^Fs (\S+?)(?:-| |$)', 1)
             WHEN regexp_matches(nn, '^County Road .+') THEN regexp_replace(nn, '^County Road', 'CR')
             WHEN regexp_matches(nn, '^Forest Road .+') THEN regexp_replace(nn, '^Forest Road', 'FR')
             END AS name_ref,
        CASE WHEN regexp_matches(nn, '^Fs ')
             THEN regexp_extract(nn, '^Fs [^-]*-(.*)$', 1) END AS fs_rest
      FROM n
    )
    SELECT gid,
      CASE WHEN rd_num IS NOT NULL AND name_ref IS NOT NULL
             THEN 'CR ' || CAST(rd_num AS VARCHAR) || ';' || name_ref
           WHEN rd_num IS NOT NULL THEN 'CR ' || CAST(rd_num AS VARCHAR)
           ELSE name_ref END AS ref,
      CASE WHEN regexp_matches(nn, '^[0-9]+$') THEN NULL
           WHEN regexp_matches(nn, '^Fs ') AND fs_rest IS NOT NULL AND fs_rest <> ''
             THEN array_to_string(list_transform(string_split(fs_rest, ' '),
                    w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ')
           ELSE nn END AS name_out
    FROM r
    WHERE rd_num IS NOT NULL OR name_ref IS NOT NULL
    ORDER BY gid
    """,
)
def q_converter_local(spark, sf_dir):
    """P8 county-roads converter (`local_roads.py:89-182`): integer road
    numbers → CR refs, Fs N-Name split + ;-joined multi-ref consolidation,
    County/Forest Road names → refs, rows without any ref dropped."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    n = F.pmod(k, F.lit(500)).cast("string")
    src = p.select(
        k.alias("gid"),
        F.when(F.pmod(k, F.lit(7)) == 0, F.lit(None).cast("int")).otherwise(F.pmod(k, F.lit(500)).cast("int")).alias("rd_num"),
        F.when(F.pmod(k, F.lit(5)) == 0, n)
        .when(F.pmod(k, F.lit(5)) == 1, F.concat(F.lit("Fs "), n, F.lit("-"), F.col("p_name")))
        .when(F.pmod(k, F.lit(5)) == 2, F.concat(F.lit("County Road "), n))
        .when(F.pmod(k, F.lit(5)) == 3, F.concat(F.lit("Forest Road "), n))
        .otherwise(F.col("p_name"))
        .alias("road_name"),
    )
    out = CV.local_roads_convert(src, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("ref")).alias("ref"),
        F.element_at(t, F.lit("name")).alias("name_out"),
    ).orderBy("gid")


@register(
    "q_converter_osmhw",
    r"""
    WITH src AS (
      SELECT p_partkey AS gid,
             CASE WHEN p_partkey % 4 = 0
                  THEN 'County Road ' || CAST(p_partkey % 500 AS VARCHAR)
                  ELSE p_name END AS name,
             CASE p_partkey % 3
               WHEN 0 THEN 'FSR ' || CAST(p_partkey % 900 AS VARCHAR)
               WHEN 1 THEN 'FR ' || CAST(p_partkey % 900 AS VARCHAR)
               ELSE 'Forest Service Road ' || CAST(p_partkey % 900 AS VARCHAR) END AS usfs
      FROM part
    ),
    r AS (
      SELECT *,
        regexp_matches(lower(name), 'county road') AS county,
        CASE WHEN usfs LIKE 'FS %' OR usfs LIKE 'FR %' THEN usfs
             WHEN usfs LIKE 'FSR %' THEN 'FR ' || regexp_extract(usfs, '(\S+)\s*$', 1)
             ELSE 'FR ' || regexp_extract(name, '(\S+)\s*$', 1) END AS ur
      FROM src
    )
    SELECT gid,
      CASE WHEN county
           THEN 'CR ' || (upper(substr(regexp_extract(name, '(\S+)\s*$', 1), 1, 1))
                          || lower(substr(regexp_extract(name, '(\S+)\s*$', 1), 2))) || ';' || ur
           ELSE ur END AS ref,
      CASE WHEN county THEN NULL ELSE name END AS name_out,
      'track' AS highway,
      CAST(2 + (CASE WHEN county THEN 0 ELSE 1 END) AS INT) AS n_tags
    FROM r ORDER BY gid
    """,
)
def q_converter_osmhw(spark, sf_dir):
    """P8 OSM-highways tag scrub (`osmhighways.py:80-224`): junk-tag drop,
    FSR→FR renormalization, County-Road name → CR ref consumption, and the
    ref/ref:usfs ;-consolidation (`:215-221`)."""
    from .sources import converters as CV

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    n500 = F.pmod(k, F.lit(500)).cast("string")
    n900 = F.pmod(k, F.lit(900)).cast("string")
    name = F.when(F.pmod(k, F.lit(4)) == 0, F.concat(F.lit("County Road "), n500)).otherwise(F.col("p_name"))
    usfs = (
        F.when(F.pmod(k, F.lit(3)) == 0, F.concat(F.lit("FSR "), n900))
        .when(F.pmod(k, F.lit(3)) == 1, F.concat(F.lit("FR "), n900))
        .otherwise(F.concat(F.lit("Forest Service Road "), n900))
    )
    junk = F.when(
        F.pmod(k, F.lit(5)) == 0,
        F.create_map(F.lit("tiger:cfcc"), F.lit("A41"), F.lit("_FID"), F.lit("x")),
    ).otherwise(F.create_map().cast("map<string,string>"))
    src = p.select(
        k.alias("gid"),
        F.map_concat(
            F.create_map(
                F.lit("highway"), F.lit("track"),
                F.lit("name"), name,
                F.lit("ref:usfs"), usfs,
            ),
            junk,
        ).alias("tags"),
    )
    out = CV.osmhighways_filter(src, keep_cols=["gid"])
    t = F.col("tags")
    return out.select(
        "gid",
        F.element_at(t, F.lit("ref")).alias("ref"),
        F.element_at(t, F.lit("name")).alias("name_out"),
        F.element_at(t, F.lit("highway")).alias("highway"),
        F.size(t).alias("n_tags"),
    ).orderBy("gid")


@register(
    "q_raster_vector_join",
    f"""
    WITH pts AS ({CUST_PT_SQL.strip()}),
    sup AS ({SUPP_PT_SQL.strip()}),
    media AS (
      SELECT s_suppkey,
             CAST(floor((lon + 180.0) / 360.0 * 16384) AS BIGINT) AS tx,
             CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * 16384) AS BIGINT) AS ty
      FROM sup
    ),
    tiles AS (
      SELECT s_suppkey,
             tx / 16384.0 * 360.0 - 180.0 AS nw_lon,
             degrees(atan((exp(pi() * (1.0 - 2.0 * ty / 16384.0)) - exp(-pi() * (1.0 - 2.0 * ty / 16384.0))) / 2.0)) AS nw_lat
      FROM media
    ),
    cells AS (
      SELECT s_suppkey,
             CAST(floor((nw_lon + 180.0) / 360.0 * 4096) AS BIGINT) AS cx,
             CAST(floor((1.0 - ln(tan(radians(nw_lat)) + 1.0/cos(radians(nw_lat))) / pi()) / 2.0 * 4096) AS BIGINT) AS cy
      FROM tiles
    ),
    vec AS (
      SELECT c_custkey,
             CAST(floor((lon + 180.0) / 360.0 * 4096) AS BIGINT) AS cx,
             CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * 4096) AS BIGINT) AS cy
      FROM pts
    )
    SELECT v.c_custkey, c.s_suppkey
    FROM vec v JOIN cells c ON v.cx = c.cx AND v.cy = c.cy
    ORDER BY c_custkey, s_suppkey
    """,
)
def q_raster_vector_join(spark, sf_dir):
    """Raster↔vector overlay: each supplier's z14 imagery tile (the media_ref
    z/y/x key space, `basemapper.py:186-199`) → NW corner via
    `media.tile_lonlat` → z12 cell, equi-joined against vector point cells —
    imagery-derived candidates land on the same manufactured key as vector
    features."""
    z_tile, z_cell = 14, 12
    n_t, n_c = 1 << z_tile, 1 << z_cell

    def to_cell(lon_col, lat_col):
        return (
            F.floor((lon_col + 180.0) / 360.0 * n_c).cast("long").alias("cx"),
            F.floor(
                (1.0 - F.log(F.tan(F.radians(lat_col)) + 1.0 / F.cos(F.radians(lat_col))) / float(np.pi)) / 2.0 * n_c
            ).cast("long").alias("cy"),
        )

    sup = supplier_points(spark, sf_dir)
    media = sup.select(
        "s_suppkey",
        F.floor((F.col("lon") + 180.0) / 360.0 * n_t).cast("long").alias("tx"),
        F.floor(
            (1.0 - F.log(F.tan(F.radians("lat")) + 1.0 / F.cos(F.radians("lat"))) / float(np.pi)) / 2.0 * n_t
        ).cast("long").alias("ty"),
    )
    nw_lon, nw_lat = M.tile_lonlat(F.lit(z_tile), F.col("tx"), F.col("ty"))
    tiles = media.select("s_suppkey", nw_lon.alias("nw_lon"), nw_lat.alias("nw_lat"))
    cells = tiles.select("s_suppkey", *to_cell(F.col("nw_lon"), F.col("nw_lat")))
    vec = customer_points(spark, sf_dir).select("c_custkey", *to_cell(F.col("lon"), F.col("lat")))
    return vec.join(cells, ["cx", "cy"]).select("c_custkey", "s_suppkey").orderBy("c_custkey", "s_suppkey")


# ---------------------------------------------------------------------------
# P5/P6 — boundary (point-in-polygon) clip + P10 simplification
# ---------------------------------------------------------------------------

# convex AOI pentagon (lon lat), closed ring
_AOI_RING = [
    (-108.5, 37.5), (-105.0, 37.2), (-104.3, 39.0), (-106.0, 40.4), (-108.8, 39.5),
    (-108.5, 37.5),
]
_PIP_SQL_TERMS = " + ".join(
    (
        f"(CASE WHEN (({y1} > lat) <> ({y2} > lat)) AND "
        f"(lon < ({x2} - {x1}) * (lat - {y1}) / ({y2} - {y1}) + {x1}) THEN 1 ELSE 0 END)"
    )
    for (x1, y1), (x2, y2) in zip(_AOI_RING[:-1], _AOI_RING[1:])
)


@register(
    "q_boundary_clip",
    f"""
    WITH pts AS ({CUST_PT_SQL.strip()})
    SELECT c_custkey, lon, lat
    FROM pts
    WHERE ({_PIP_SQL_TERMS}) % 2 = 1
    ORDER BY c_custkey
    """,
)
def q_boundary_clip(spark, sf_dir):
    """P5/P6: AOI clip — keep points inside the boundary polygon, through
    the engine's ray-cast PIP kernel (`geosupport.py:139-173` /
    `conflatePOI.py:405-407` semantics) in one Arrow batch pass."""
    from . import geometry as G

    ring = np.array(_AOI_RING, dtype=np.float64)

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        n = len(lon)
        poly = np.broadcast_to(ring, (n, *ring.shape))
        return pd.Series(G.point_in_polygon(lon.to_numpy(), lat.to_numpy(), poly))

    pts = customer_points(spark, sf_dir)
    return pts.filter(pip("lon", "lat")).select("c_custkey", "lon", "lat").orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Grid AOI-polygon clip + area filter (tm_splitter.py:144-177)
# ---------------------------------------------------------------------------

_AOI_BBOX = (
    min(x for x, _ in _AOI_RING), min(y for _, y in _AOI_RING),
    max(x for x, _ in _AOI_RING), max(y for _, y in _AOI_RING),
)


def _dbl(v: float) -> str:
    """DOUBLE-typed literal: DuckDB parses bare decimal literals as DECIMAL,
    so constant-only subexpressions would get exact decimal arithmetic and
    diverge from the engine's IEEE-double kernel by an ulp."""
    return f"CAST({v!r} AS DOUBLE)"


def _grid_clip_sql(tile_m: float, min_area: float) -> str:
    """DuckDB twin of make_grid → clip_grid_to_aoi: the Sutherland–Hodgman
    clip unrolled one CTE stage per AOI edge (list lambdas carry the
    polygon), then the same local-meters shoelace fold."""
    min_lon, min_lat, max_lon, max_lat = _AOI_BBOX
    dlon, dlat, nx, ny = TL.grid_params(min_lon, min_lat, max_lon, max_lat, tile_m)
    stages, prev = [], "s0"
    for k, ((e1x, e1y), (e2x, e2y)) in enumerate(zip(_AOI_RING[:-1], _AOI_RING[1:]), start=1):
        nxt = "poly[CASE WHEN i = len(poly) THEN 1 ELSE i + 1 END]"
        cur = "poly[i]"

        def d(p):
            return (
                f"(({_dbl(e2x)} - {_dbl(e1x)}) * ({p}.y - {_dbl(e1y)})"
                f" - ({_dbl(e2y)} - {_dbl(e1y)}) * ({p}.x - {_dbl(e1x)}))"
            )

        dc, dn = d(cur), d(nxt)
        inter = (
            f"struct_pack(x := {cur}.x + ({dc} / ({dc} - {dn})) * ({nxt}.x - {cur}.x), "
            f"y := {cur}.y + ({dc} / ({dc} - {dn})) * ({nxt}.y - {cur}.y))"
        )
        # MATERIALIZED: each stage references poly ~20×; inlined CTEs would
        # nest the previous stage's expression into every reference (20^k
        # planner blowup)
        stages.append(
            f"""s{k} AS MATERIALIZED (
  SELECT * EXCLUDE (poly),
    flatten(list_transform(generate_series(1, len(poly)), i ->
      CASE WHEN {dn} >= 0 AND {dc} >= 0 THEN [{nxt}]
           WHEN {dn} >= 0 THEN [{inter}, {nxt}]
           WHEN {dc} >= 0 THEN [{inter}]
           ELSE CAST([] AS STRUCT(x DOUBLE, y DOUBLE)[]) END)) AS poly
  FROM {prev})"""
        )
        prev = f"s{k}"
    wrap = "CASE WHEN i = len(poly) THEN 1 ELSE i + 1 END"
    term = (
        f"(poly[i].x * sx) * (poly[{wrap}].y * 110540.0) - (poly[{wrap}].x * sx) * (poly[i].y * 110540.0)"
    )
    return f"""
WITH g AS (
  SELECT tx, ty FROM generate_series(0, {nx - 1}) t1(tx), generate_series(0, {ny - 1}) t2(ty)
),
s0 AS (
  SELECT 'Task_' || CAST(tx * {ny} + ty AS VARCHAR) AS tile_id,
         [struct_pack(x := {_dbl(min_lon)} + tx * {_dbl(dlon)}, y := {_dbl(min_lat)} + ty * {_dbl(dlat)}),
          struct_pack(x := {_dbl(min_lon)} + (tx + 1) * {_dbl(dlon)}, y := {_dbl(min_lat)} + ty * {_dbl(dlat)}),
          struct_pack(x := {_dbl(min_lon)} + (tx + 1) * {_dbl(dlon)}, y := {_dbl(min_lat)} + (ty + 1) * {_dbl(dlat)}),
          struct_pack(x := {_dbl(min_lon)} + tx * {_dbl(dlon)}, y := {_dbl(min_lat)} + (ty + 1) * {_dbl(dlat)})] AS poly
  FROM g
),
{', '.join(stages)},
fin AS MATERIALIZED (SELECT tile_id, poly FROM {prev} WHERE len(poly) >= 3),
m1 AS MATERIALIZED (
  SELECT tile_id, poly,
         (list_min(list_transform(poly, p -> p.y)) + list_max(list_transform(poly, p -> p.y))) / 2.0 AS ref
  FROM fin
),
m2 AS MATERIALIZED (SELECT *, 111320.0 * cos(radians(ref)) AS sx FROM m1),
ar AS (
  SELECT tile_id,
         abs(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, len(poly)), i -> {term})), (a, b) -> a + b)) / 2.0 AS area
  FROM m2
)
SELECT tile_id, round(area, 2) AS area_m2 FROM ar WHERE area >= {min_area!r} ORDER BY tile_id
"""


@register("q_grid_clip", _grid_clip_sql(20_000.0, 1e5))
def q_grid_clip(spark, sf_dir):
    """Task-grid AOI-polygon clip + area filter (`tm_splitter.py:144-177`):
    grid tiles intersected with the AOI pentagon, fragments < 1e5 m²
    dropped — clipped areas hash-checked against the unrolled SQL clip."""
    min_lon, min_lat, max_lon, max_lat = _AOI_BBOX
    grid = TL.make_grid(spark, min_lon, min_lat, max_lon, max_lat, tile_m=20_000.0)
    out = TL.clip_grid_to_aoi(grid, _AOI_RING, min_area_m2=1e5)
    return out.select("tile_id", F.round("area_m2", 2).alias("area_m2")).orderBy("tile_id")


from .conflate_sql import simplify_sql as _simplify_sql


@register("q_simplify_lines", _simplify_sql(n_pts=8, tol=1e-3))
def q_simplify_lines(spark, sf_dir):
    """P10: radial geometry simplification (`mvum.py:236-242` stand-in for
    shapely.simplify) over dense synthetic polylines, hash-checked against
    the sequential keep-scan unrolled in ANSI SQL."""
    from . import geometry as G

    ways = synth.osm_ways(spark, sf_dir, n_pts=8)

    @F.arrow_udf(T.ArrayType(T.DoubleType()))
    def simplify(geoms: pa.Array) -> pa.Array:
        flat, off = G.ragged_from_arrow(geoms)
        no, nf = G.simplify_radial(off, flat, tol_deg=1e-3)
        return G.arrow_from_ragged(no, nf)

    out = ways.select("way_id", simplify("geom").alias("geom_simplified"), F.size("geom").alias("n_before"))
    return out.select("way_id", (F.size("geom_simplified") / 2).alias("n_after"), (F.col("n_before") / 2).alias("n_pts"))


# ---------------------------------------------------------------------------
# P11 — CRS reprojection (EPSG:4326 ↔ EPSG:3857), pure Column math
# ---------------------------------------------------------------------------

from .functions import geo as GEO  # noqa: E402


@register(
    "q_reproject_3857",
    """
    WITH p AS (
      SELECT o_orderkey,
             -109.0 + (o_orderkey % 500) * 0.01 AS lon,
             37.0 + ((o_orderkey * 7) % 350) * 0.01 AS lat
      FROM orders
    ), m AS (
      SELECT o_orderkey, lon, lat,
             radians(lon) * 6378137.0 AS x,
             ln(tan(pi() / 4 + radians(
               least(greatest(lat, -85.0511287798066), 85.0511287798066)) / 2))
               * 6378137.0 AS y
      FROM p
    )
    SELECT o_orderkey,
           round(x, 4) AS x_3857,
           round(y, 4) AS y_3857,
           round(degrees(x / 6378137.0), 6) AS lon_rt,
           round(degrees(2 * atan(exp(y / 6378137.0)) - pi() / 2), 6) AS lat_rt
    FROM m ORDER BY o_orderkey
    """,
)
def q_reproject_3857(spark, sf_dir):
    """P11: exact spherical web-mercator reprojection + inverse roundtrip
    (`conflator.py:482-487,586-591`, `tm_splitter.py:120-124`) as
    whole-stage-codegen Column math over the flat array geometry — the
    array path (``transform``) is exercised, then elements extracted."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    lon = F.lit(-109.0) + F.pmod(k, F.lit(500)) * 0.01
    lat = F.lit(37.0) + F.pmod(k * 7, F.lit(350)) * 0.01
    pts = o.select("o_orderkey", F.array(lon, lat).cast("array<double>").alias("geom"))
    proj = pts.select("o_orderkey", GEO.reproject_3857("geom").alias("g3857"))
    back = proj.withColumn("g4326", GEO.reproject_4326("g3857"))
    return back.select(
        "o_orderkey",
        F.round(F.element_at("g3857", 1), 4).alias("x_3857"),
        F.round(F.element_at("g3857", 2), 4).alias("y_3857"),
        F.round(F.element_at("g4326", 1), 6).alias("lon_rt"),
        F.round(F.element_at("g4326", 2), 6).alias("lat_rt"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# P4 — null/degenerate-geometry filter (explicit operator)
# ---------------------------------------------------------------------------


@register(
    "q_degenerate_filter",
    """
    WITH p AS (
      SELECT o_orderkey, o_orderkey % 5 AS m,
             -109.0 + (o_orderkey % 500) * 0.01 AS lon,
             37.0 + ((o_orderkey * 7) % 350) * 0.01 AS lat
      FROM orders
    ), g AS (
      SELECT o_orderkey,
             CASE WHEN m = 0 THEN NULL
                  WHEN m = 1 THEN CAST([] AS DOUBLE[])
                  WHEN m = 2 THEN [ (o_orderkey % 100) * 0.01 ]
                  WHEN m = 3 THEN [lon, lat]
                  ELSE [lon, lat, lon + 0.001, lat + 0.001] END AS geom
      FROM p
    )
    SELECT o_orderkey, CAST(len(geom) / 2 AS INT) AS n_pts
    FROM g
    WHERE geom IS NOT NULL AND len(geom) % 2 = 0 AND len(geom) >= 4
    ORDER BY o_orderkey
    """,
)
def q_degenerate_filter(spark, sf_dir):
    """P4: explicit degenerate-geometry filter (`conflator.py:149-151,
    185-195`; `trails.py:86-89`): nulls, empty/odd coordinate arrays and
    single-point "lines" are dropped before line conflation."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = F.pmod(k, F.lit(5))
    lon = F.lit(-109.0) + F.pmod(k, F.lit(500)) * 0.01
    lat = F.lit(37.0) + F.pmod(k * 7, F.lit(350)) * 0.01
    geom = (
        F.when(m == 0, F.lit(None).cast("array<double>"))
        .when(m == 1, F.array().cast("array<double>"))
        .when(m == 2, F.array(F.pmod(k, F.lit(100)) * 0.01))
        .when(m == 3, F.array(lon, lat))
        .otherwise(F.array(lon, lat, lon + 0.001, lat + 0.001))
    )
    df = o.select("o_orderkey", geom.cast("array<double>").alias("geom"))
    kept = GEO.drop_degenerate(df, "geom")
    return kept.select(
        "o_orderkey", (F.size("geom") / 2).cast("int").alias("n_pts")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (LSH-blocked) — the dedup modality over
# the embeddings table; twins are synthesized deterministically so both
# engines see identical near-duplicates
# ---------------------------------------------------------------------------


def _embed_neardup_sql(n_planes: int = 8, n_tables: int = 4, threshold: float = 0.99) -> str:
    same_bucket = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
    ), twin AS (
      SELECT vec_id + 100000 AS vec_id,
             list_transform(embedding, (x, i) ->
               CAST(x AS DOUBLE) + (((vec_id * 31 + (i - 1) * 17) % 7) - 3) * 0.001) AS embedding
      FROM base
    ), corpus AS (
      SELECT * FROM base UNION ALL SELECT * FROM twin
    ), sides AS (
      SELECT vec_id, embedding,
             {_NORM_SQL.format(a="embedding")} AS nrm,
             {{b_cols}}
      FROM corpus
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS vec_a, b.embedding AS vec_b, a.nrm AS nrm_a, b.nrm AS nrm_b
      FROM sides a JOIN sides b ON ({same_bucket}) AND a.vec_id < b.vec_id
    ), scored AS (
      SELECT id_a, id_b,
             round(CASE WHEN nrm_a * nrm_b = 0 THEN 0.0
                        ELSE {_DOT_SQL.format(a="vec_a", b="vec_b")} / (nrm_a * nrm_b)
                   END, 6) AS cos_sim
      FROM pairs
    )
    SELECT id_a, id_b, cos_sim FROM scored
    WHERE cos_sim >= {threshold}
    ORDER BY id_a, id_b
    """.replace("{b_cols}", _lsh_bucket_cols_sql("embedding", n_planes, n_tables))


@register("q_embed_neardup", _embed_neardup_sql())
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate detection, LSH-blocked (never an
    all-pairs cross join).  Near-dup twins are synthesized by deterministic
    per-element jitter (±0.003) of the driver's embeddings table; the
    operator must recover them through the bucket join at cos >= 0.99."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    # jitter keys off the SOURCE id: rename before aliasing vec_id+100000,
    # or Spark's lateral-column-alias resolution binds the lambda's vec_id
    # to the shifted output column instead of the input
    twin = base.withColumnRenamed("vec_id", "src_id").select(
        (F.col("src_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + (F.pmod(F.col("src_id") * 31 + i * 17, F.lit(7)) - 3) * 0.001,
        ).alias("embedding"),
    )
    corpus = base.unionByName(twin)
    return D.embedding_neardup_pairs(corpus, dim=64, threshold=0.99).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Multimodal resize + frame sampling (stub kernels, deterministic math —
# both fully SQL-checkable) and BPE-ish token counting
# ---------------------------------------------------------------------------


def _media_base_sql() -> str:
    """Shared CTE: media refs + the md5-payload byte sum hs (same math the
    stub decoder uses — proven hash-exact by q_media_features)."""
    hv = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
    bytes_sql = ", ".join(
        f"({hv.format(p=2 * i + 1)} * 16 + {hv.format(p=2 * i + 2)}) AS b{i}" for i in range(16)
    )
    hsum = " + ".join(f"b{i}" for i in range(16))
    return f"""
    WITH o AS (SELECT o_orderkey AS k FROM orders),
    m AS (
      SELECT 'doc-' || CAST(k AS VARCHAR) AS doc_id,
             '18/' || CAST((k * 53) % 262144 AS VARCHAR) || '/'
                   || CAST((k * 37) % 262144 AS VARCHAR) || '.jpg' AS media_ref
      FROM o
    ),
    hx AS (SELECT doc_id, media_ref, md5(media_ref) AS h FROM m),
    bb AS (SELECT doc_id, media_ref, {bytes_sql} FROM hx),
    ss AS (SELECT doc_id, media_ref, {hsum} AS hs FROM bb)
    """


def _media_df(spark, sf_dir):
    docs = synth.documents_spans(spark, sf_dir)
    feats = SP.spans_to_features(docs)
    return feats.select("doc_id", F.explode("media_refs").alias("media_ref")).withColumn(
        "payload", M.synth_payload("media_ref")
    )


def _media_png_df(spark, sf_dir):
    docs = synth.documents_spans(spark, sf_dir)
    feats = SP.spans_to_features(docs)
    return feats.select("doc_id", F.explode("media_refs").alias("media_ref")).withColumn(
        "payload", M.synth_png_payload("media_ref")
    )


@register(
    "q_media_resize",
    _png_dims_sql()
    + """
    , rd AS (
      SELECT doc_id, media_ref, w, h2, base,
             least(w, 8) AS out_w,
             greatest((h2 * least(w, 8)) // w, 1) AS out_h
      FROM dims
    ),
    px AS (
      SELECT doc_id, media_ref, out_w, out_h,
             ((base + 7 * ((r.i * h2) // out_h) + 3 * ((c.i * w) // out_w)) % 256)
               * (r.i * out_w + c.i + 1) AS term
      FROM rd
      JOIN (SELECT unnest(range(0, 11)) AS i) r ON r.i < out_h
      JOIN (SELECT unnest(range(0, 13)) AS i) c ON c.i < out_w
    )
    SELECT doc_id, media_ref,
           CAST(out_w AS INT) AS out_w,
           CAST(out_h AS INT) AS out_h,
           CAST(SUM(term) % 1000000007 AS VARCHAR) AS thumb_sig
    FROM px GROUP BY doc_id, media_ref, out_w, out_h ORDER BY doc_id
    """,
)
def q_media_resize(spark, sf_dir):
    """Multimodal resize over real pixels: synth PNG tiles → decode →
    aspect-preserving integer dims → nearest-neighbor downsample; thumb_sig
    is the position-weighted polynomial hash of the RESIZED pixel values,
    so the oracle checks the actual resample output, not just dims."""
    return M.resize_media(_media_png_df(spark, sf_dir), max_dim=8).orderBy("doc_id")


@register(
    "q_media_frames",
    _media_base_sql()
    + """
    , nf AS (SELECT doc_id, media_ref, 1 + hs % 16 AS n_frames FROM ss)
    SELECT doc_id, media_ref,
           CAST(unnest(range(0, n_frames, 4)) AS INT) AS frame_idx,
           round(CAST(unnest(range(0, n_frames, 4)) AS DOUBLE) / 30.0, 4) AS t_offset,
           md5(media_ref || '#frame' || CAST(unnest(range(0, n_frames, 4)) AS VARCHAR)) AS frame_sig
    FROM nf ORDER BY doc_id, frame_idx
    """,
)
def q_media_frames(spark, sf_dir):
    """Video frame sampling (row-generating mapInPandas — the UDTF flavor):
    every 4th frame of a deterministic per-doc frame count, with time
    offsets; frame_sig stands in for the frame blob."""
    return M.sample_frames(_media_df(spark, sf_dir), every_n=4).orderBy("doc_id", "frame_idx")


@register(
    "q_bpe_tokens",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]', 0)) AS n_bpe,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws
    FROM documents ORDER BY doc_id
    """,
)
def q_bpe_tokens(spark, sf_dir):
    """Token counting two ways (whitespace + BPE-ish greedy regex tiling) —
    the pretraining-pipeline accounting pass, all JVM-side regexp_count."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.bpe_token_estimate("text").alias("n_bpe"),
        TX.token_count("text").alias("n_ws"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# IVF ANN — coarse-quantizer variant (deterministic centroids → SQL twin)
# ---------------------------------------------------------------------------


def _ivf_sql(dim: int = 64, n_cells: int = 8, k: int = 3) -> str:
    """DuckDB twin of the IVF path: centroid dots with Spark's fold order,
    pinned lowest-id tie-breaks, nprobe=2 via unnest of [cell1, cell2]."""
    NEG = "CAST('-infinity' AS DOUBLE)"

    def d_expr(t: int) -> str:
        coef = f"CAST((((({t} * 53 + (i - 1) * 29) % 17) - 8) / 8.0) AS DOUBLE)"
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * {coef})), (a, b) -> a + b) AS d{t}"
        )

    d_cols = ", ".join(d_expr(t) for t in range(n_cells))
    all_d = ", ".join(f"d{t}" for t in range(n_cells))
    cell1 = "CASE " + " ".join(f"WHEN d{t} = m1 THEN {t}" for t in range(n_cells)) + " END"
    masked = lambda t: f"(CASE WHEN {t} = cell1 THEN {NEG} ELSE d{t} END)"  # noqa: E731
    m2 = "greatest(" + ", ".join(masked(t) for t in range(n_cells)) + ")"
    cell2 = "CASE " + " ".join(f"WHEN {masked(t)} = m2 THEN {t}" for t in range(n_cells)) + " END"
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {_NORM_SQL.format(a="embedding")} AS nrm, {d_cols}
      FROM embeddings
    ), c1 AS (
      SELECT *, greatest({all_d}) AS m1 FROM base
    ), cc AS (
      SELECT *, {cell1} AS cell1 FROM c1
    ), tgt AS (
      SELECT vec_id, embedding AS t_vec, nrm AS t_nrm, cell1 AS cell FROM cc
    ), prb0 AS (
      SELECT vec_id AS probe_id, embedding AS p_vec, nrm AS p_nrm, cell1, {m2} AS m2, {all_d}
      FROM cc WHERE vec_id < 50
    ), prb AS (
      SELECT probe_id, p_vec, p_nrm,
             unnest([cell1, {cell2}]) AS cell
      FROM prb0
    ), pairs AS (
      SELECT DISTINCT probe_id, t.vec_id, p_vec, t_vec, p_nrm, t_nrm
      FROM prb JOIN tgt t USING (cell)
      WHERE probe_id <> t.vec_id
    ), scored AS (
      SELECT probe_id, vec_id,
             round(CASE WHEN p_nrm * t_nrm = 0 THEN 0.0
                        ELSE {_DOT_SQL.format(a="p_vec", b="t_vec")} / (p_nrm * t_nrm)
                   END, 6) AS cos_sim
      FROM pairs
    )
    SELECT probe_id, vec_id, cos_sim, rank FROM (
      SELECT probe_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY probe_id, rank
    """


@register("q_ivf_topk", _ivf_sql())
def q_ivf_topk(spark, sf_dir):
    """IVF ANN: targets indexed to their nearest deterministic coarse
    centroid, probes scan nprobe=2 cells, exact cosine within cells —
    hash-checked against the DuckDB twin."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(F.col("vec_id").alias("probe_id"), "embedding")
    return S.ivf_topk(probes, emb, dim=64, k=3, n_cells=8, nprobe=2).orderBy("probe_id", "rank")


# ---------------------------------------------------------------------------
# K4 — PMTiles tile addressing: Hilbert-curve tile ids (the archive's sort /
# directory key).  The sink itself is pytest round-tripped
# (tests/test_tilesinks.py); this pins the distributed id math hash-exact.
# ---------------------------------------------------------------------------


def _pmtiles_ids_sql() -> str:
    from .sources.tilesinks import hilbert_tile_id_sql

    z = 8
    n = 1 << z
    txy = f"""
    SELECT c_custkey,
           CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT) AS tx,
           CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * {n}) AS BIGINT) AS ty
    FROM ({CUST_PT_SQL.strip()})
    """
    hil = hilbert_tile_id_sql("tx", "ty", z, f"({txy})", "c_custkey")
    return f"""
    SELECT hd AS tile_id, count(*) AS cnt, min(c_custkey) AS first_key
    FROM ({hil}) GROUP BY hd ORDER BY tile_id
    """


@register("q_pmtiles_ids", _pmtiles_ids_sql())
def q_pmtiles_ids(spark, sf_dir):
    """PMTiles v3 addressing (K4): customers → z8 mercator tile → Hilbert
    tile id via the linear per-step projection path
    (`tilesinks.with_hilbert_tile_id` — z8's single-Column unroll no longer
    compiles under Janino), aggregated per tile.  The DuckDB twin is
    *generated from the same unrolled steps* so the engines cannot drift."""
    from .sources.tilesinks import with_hilbert_tile_id

    z = 8
    n = 1 << z
    pts = customer_points(spark, sf_dir)
    tx = F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(F.radians("lat")) + 1.0 / F.cos(F.radians("lat"))) / float(np.pi)) / 2.0 * n
    ).cast("long")
    return (
        with_hilbert_tile_id(pts.select("c_custkey", tx.alias("tx"), ty.alias("ty")), "tx", "ty", z)
        .groupBy("tile_id")
        .agg(F.count("*").alias("cnt"), F.min("c_custkey").alias("first_key"))
        .orderBy("tile_id")
    )


# ---------------------------------------------------------------------------
# §2.9 — Structured Streaming: the real readStream → watermark → windowed-agg
# pipeline drained with availableNow (batch-equivalent in complete mode), so
# the streaming surface itself is driver-oracle-checked, not just pytest'd.
# ---------------------------------------------------------------------------

_STREAM_SQL = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
       event_type,
       count(*) AS n_events,
       round(round(sum(value), 6), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY ws, event_type
"""


@register("q_stream_windows", _STREAM_SQL)
def q_stream_windows(spark, sf_dir):
    """Streaming ingest (§2.9) through the actual engine path: parquet
    ``readStream`` → 2h watermark → 1h windowed counts/sums
    (`streaming/events.py`), drained via ``availableNow`` with a complete-
    mode ``foreachBatch`` sink, then the materialized result is returned for
    the oracle compare.  DuckDB twin: the equivalent hour-truncated batch
    aggregation (complete-mode drain of a static directory IS the batch
    result)."""
    import os
    import tempfile

    from .streaming import events as SE

    base = tempfile.mkdtemp(prefix="oms_stream_oracle_")
    # the file source wants a directory; stage the single testdata file as a
    # symlink (zero-copy ingest boundary)
    os.makedirs(f"{base}/in")
    os.symlink(f"{sf_dir}/events.parquet", f"{base}/in/events.parquet")
    agg = SE.windowed_counts(SE.read_events_stream(spark, f"{base}/in"))
    q = (
        agg.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(lambda df, _id: df.write.mode("overwrite").parquet(f"{base}/out"))
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(f"{base}/out")
    return res.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    ).orderBy("ws", "event_type")


# ---------------------------------------------------------------------------
# Composed training-data prep: exact dedup → quality gate → per-language
# token accounting — the end-to-end corpus-preparation pass, every stage the
# real engine operator, one SQL twin for the whole chain.
# ---------------------------------------------------------------------------

_CORPUS_PREP_SQL = f"""
WITH keep AS (
  SELECT md5(text) AS h, min(doc_id) AS keeper FROM documents GROUP BY 1
),
d AS (
  SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT keeper FROM keep)
),
t AS (
  SELECT doc_id, text, {_TOKS_SQL.format(t="text")} AS toks FROM d
),
v AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\\s]', 0)) AS n_bpe,
         len(list_filter(toks, x -> list_contains({_STOP_SQL['de']}, lower(x)))) AS v_de,
         len(list_filter(toks, x -> list_contains({_STOP_SQL['en']}, lower(x)))) AS v_en,
         len(list_filter(toks, x -> list_contains({_STOP_SQL['es']}, lower(x)))) AS v_es,
         len(list_filter(toks, x -> list_contains({_STOP_SQL['fr']}, lower(x)))) AS v_fr
  FROM t
),
s AS (
  SELECT doc_id, n_tokens, n_bpe,
         CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
              WHEN v_de = greatest(v_de, v_en, v_es, v_fr) THEN 'de'
              WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
              WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
              ELSE 'fr' END AS lang,
         round(
           0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                              ELSE CAST(v_en AS DOUBLE) / n_tokens END * 4.0, 1.0)
           + 0.2 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                               ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                                    / length(text) END),
         6) AS quality
  FROM v
)
SELECT lang, CAST(floor(n_tokens / 50.0) AS BIGINT) AS len_bucket, count(*) AS n_docs,
       -- DuckDB types integer SUM as DECIMAL(38,0)/HUGEINT (pandas float64);
       -- Spark returns BIGINT — cast so the driver's type-sensitive hash
       -- sees identical values (r4 hash_match:false root cause, VERDICT r4 §2)
       CAST(sum(n_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       -- integer-exact: quality is round(.,6), so summing micros as BIGINT
       -- and dividing last removes float-sum order sensitivity entirely
       round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS quality_sum
FROM s WHERE quality >= 0.4
GROUP BY lang, len_bucket ORDER BY lang, len_bucket
"""


@register("q_corpus_prep", _CORPUS_PREP_SQL)
def q_corpus_prep(spark, sf_dir):
    """End-to-end corpus prep over the documents table: exact dedup keepers
    (semi-join against the md5 groupBy), quality gate ≥ 0.4, then
    per-language doc/token accounting — the composed pretraining-filter
    pipeline with every stage running the engine's own operators."""
    d = _t(spark, sf_dir, "documents")
    keepers = D.exact_dedup(d).select(F.col("keeper_id").alias("doc_id"))
    kept = d.join(keepers, "doc_id", "left_semi")
    stats = kept.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.bpe_token_estimate("text").alias("n_bpe"),
        TX.detect_lang("text").alias("lang"),
        TX.quality_score("text").alias("quality"),
    ).filter(F.col("quality") >= 0.4)
    return (
        stats.withColumn("len_bucket", F.floor(F.col("n_tokens") / 50.0).cast("long"))
        .groupBy("lang", "len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_ws_tokens"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
            # integer-exact twin of the SQL: sum micros as BIGINT, divide last
            F.round(
                F.sum(F.round(F.col("quality") * 1000000).cast("long")).cast("double")
                / 1000000.0,
                4,
            ).alias("quality_sum"),
        )
        .orderBy("lang", "len_bucket")
    )


# ---------------------------------------------------------------------------
# K8 — OsmAnd favorites GPX waypoint mapping (osm2favorities.py)
# ---------------------------------------------------------------------------

_GPX_SQL = f"""
WITH pts AS ({CUST_PT_SQL.strip()}),
feats AS (
  SELECT p.c_custkey, c.c_name, p.lon, p.lat,
         p.c_custkey % 4 AS m
  FROM pts p JOIN customer c ON p.c_custkey = c.c_custkey
)
SELECT c_custkey,
  round(lon, 6) AS lon_w,
  round(lat, 6) AS lat_w,
  c_name AS name,
  CASE m WHEN 0 THEN '<p>tourism = camp site<br></p>'
         WHEN 1 THEN '<p>tourism = picnic site<br></p>'
         WHEN 2 THEN '<p>highway = trailhead<br></p>'
         ELSE '<p>amenity = parking<br></p>' END AS description,
  CASE WHEN m = 0 THEN 'tourism_camp_site'
       WHEN m = 2 THEN 'special_trekking'
       WHEN m = 3 THEN 'amenity_parking' END AS icon,
  CASE WHEN m = 0 THEN '#ff5020'
       WHEN m = 2 THEN '#a71de1' END AS color
FROM feats ORDER BY c_custkey
"""


@register("q_gpx_waypoints", _GPX_SQL)
def q_gpx_waypoints(spark, sf_dir):
    """K8: the OsmAnd-favorites waypoint mapping
    (`fieldwork/osm2favorities.py:87-134`): POIs derived from the customer
    table (¼ camp sites, ¼ picnic sites, ¼ trailheads, ¼ parking; every
    5th feature a square POLYGON that must collapse to its shoelace
    centroid, the rest POINTs), run through
    :func:`osm_merge_spark.sources.gpx.favorite_waypoints`.  Exercises the
    unreachable-picnic icon quirk (picnic sites get NO icon), the
    color-table lookup, and the polygon→centroid branch; the oracle emits
    the raw lon/lat because the centroid of the symmetric square IS the
    point (to 6 dp)."""
    pts = customer_points(spark, sf_dir)
    names = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    m = F.pmod(F.col("c_custkey"), F.lit(4))
    tag_val = (
        F.when(m == 0, F.array(F.lit("tourism"), F.lit("camp site")))
        .when(m == 1, F.array(F.lit("tourism"), F.lit("picnic site")))
        .when(m == 2, F.array(F.lit("highway"), F.lit("trailhead")))
        .otherwise(F.array(F.lit("amenity"), F.lit("parking")))
    )
    lon_s = F.col("lon").cast("string")
    lat_s = F.col("lat").cast("string")
    d = 0.001
    point_wkt = F.concat(F.lit("POINT("), lon_s, F.lit(" "), lat_s, F.lit(")"))
    x0 = (F.col("lon") - d).cast("string")
    x1 = (F.col("lon") + d).cast("string")
    y0 = (F.col("lat") - d).cast("string")
    y1 = (F.col("lat") + d).cast("string")
    sp = F.lit(" ")
    cm = F.lit(",")
    poly_wkt = F.concat(
        F.lit("POLYGON(("),
        x0, sp, y0, cm, x1, sp, y0, cm, x1, sp, y1, cm, x0, sp, y1, cm, x0, sp, y0,
        F.lit("))"),
    )
    feats = (
        pts.join(names, "c_custkey")
        .withColumn(
            "tags",
            F.map_from_arrays(
                F.concat(F.array(F.lit("name")), F.array(tag_val.getItem(0))),
                F.concat(F.array(F.col("c_name")), F.array(tag_val.getItem(1))),
            ),
        )
        .withColumn("geom", F.when(F.pmod(F.col("c_custkey"), F.lit(5)) == 0, poly_wkt).otherwise(point_wkt))
        .select("c_custkey", "geom", "tags")
    )
    from .sources import gpx as GX

    out = GX.favorite_waypoints(feats)
    return out.select(
        "c_custkey",
        F.round("lon", 6).alias("lon_w"),
        F.round("lat", 6).alias("lat_w"),
        "name",
        "description",
        "icon",
        "color",
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# S5/P8 — full ODK→OSM conversion engine (fieldwork/convert.py:47-339):
# select-multiple value conversion, value tables, rename+truncate quirks,
# private-data split (round-4 addition)
# ---------------------------------------------------------------------------

_ODK_MULT_SQL = """
WITH src AS (
  SELECT c_custkey AS k, c_custkey % 4 AS k4, c_custkey % 3 AS k3 FROM customer
)
SELECT k,
  -- emergency value table wins over the select-multiple amenity (map
  -- update order: services first, then emergency — last wins)
  CASE WHEN k3 = 0 THEN 'police' WHEN k3 = 1 THEN 'clinic'
       WHEN k4 = 1 THEN 'drinking_water;drinking_water' END AS amenity,
  CASE WHEN k4 IN (0, 2) THEN 'yes' END AS valve,
  CASE WHEN k4 = 0 THEN 'yes' END AS well,
  CASE WHEN k4 = 2 THEN 'yes' END AS wheelchair,
  CASE WHEN k4 = 3 THEN 'yes' END AS handrail,
  CASE WHEN k3 = 2 THEN 'lifeguard' END AS emergency,
  '2500.12' AS ele,
  'field note' AS note,
  1 AS n_priv
FROM src ORDER BY k
"""


@register("q_odk_multiple", _ODK_MULT_SQL)
def q_odk_multiple(spark, sf_dir):
    """The full ODK→OSM conversion engine end-to-end
    (`fieldwork/convert.py:112-339` semantics, compiled to one Column
    expression — `sources/odk_convert.py`): a select-multiple field whose
    choices hit the k=v table (``faucet``→``valve=yes``), the
    semicolon-join path (two choices both mapping to
    ``amenity=drinking_water``), the no-``=`` drop quirk (``xid``) and the
    unknown-choice→``yes`` fallback; an ``emergency`` value-table field
    including a table miss; the ``altitude``→``ele`` rename with 7-char
    truncation; the ``comment``→``note`` rename; an ignored metadata field
    and a ``private`` field stripped into the non-OSM side output."""
    from .sources import odk_convert as OC

    cfg = OC.XFormsConfig.default()
    cfg.multiple = cfg.multiple + ["waterpoint_services"]
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    k4, k3 = F.pmod(k, F.lit(4)), F.pmod(k, F.lit(3))
    services = (
        F.when(k4 == 0, "faucet well")
        .when(k4 == 1, "drinkable_water drinking_water")
        .when(k4 == 2, "faucet wheelchair")
        .otherwise("xid handrail")
    )
    emergency = F.when(k3 == 0, "police").when(k3 == 1, "clinic").otherwise("lifeguard")
    raw = c.select(
        k.alias("k"),
        F.create_map(
            F.lit("waterpoint_services"), services,
            F.lit("emergency"), emergency,
            F.lit("altitude"), F.lit("2500.123456"),
            F.lit("comment"), F.lit("field note"),
            F.lit("deviceid"), F.lit("d-77"),
            F.lit("age"), F.pmod(k, F.lit(90)).cast("string"),
        ).alias("tags"),
    )
    out = raw.select(
        "k",
        OC.convert_tags("tags", cfg, drop_private=True).alias("osm"),
        OC.private_tags("tags", cfg).alias("priv"),
    )
    t = F.col("osm")
    return out.select(
        "k",
        F.element_at(t, "amenity").alias("amenity"),
        F.element_at(t, "valve").alias("valve"),
        F.element_at(t, "well").alias("well"),
        F.element_at(t, "wheelchair").alias("wheelchair"),
        F.element_at(t, "handrail").alias("handrail"),
        F.element_at(t, "emergency").alias("emergency"),
        F.element_at(t, "ele").alias("ele"),
        F.element_at(t, "note").alias("note"),
        F.size("priv").alias("n_priv"),
    ).orderBy("k")


# ---------------------------------------------------------------------------
# Real animated-PNG frame sampling (round-4: the APNG demuxer de-stubs the
# frame-sample operator for one genuine animation container)
# ---------------------------------------------------------------------------


def _apng_frames_sql() -> str:
    return (
        _media_base_sql()
        + """
    , af AS (
      SELECT doc_id, media_ref, 1 + b0 % 13 AS w, 1 + b1 % 11 AS h2,
             b2 AS base, 2 + b3 % 5 AS nf
      FROM bb
    ),
    fr AS (
      SELECT doc_id, media_ref, w, h2, base,
             CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx
      FROM af
    ),
    px AS (
      SELECT doc_id, media_ref, frame_idx,
             ((base + 11 * frame_idx + 7 * r.i + 3 * c.i) % 256)
               * (r.i * w + c.i + 1) AS term
      FROM fr
      JOIN (SELECT unnest(range(0, 11)) AS i) r ON r.i < h2
      JOIN (SELECT unnest(range(0, 13)) AS i) c ON c.i < w
    )
    SELECT doc_id, media_ref, frame_idx,
           round((frame_idx + 3 * (frame_idx // 3)
                  + CASE WHEN frame_idx % 3 = 2 THEN 1 ELSE 0 END) / 10.0, 4) AS t_offset,
           CAST(SUM(term) % 1000000007 AS VARCHAR) AS frame_sig
    FROM px
    GROUP BY doc_id, media_ref, frame_idx
    ORDER BY doc_id, media_ref, frame_idx
    """
    )


@register("q_apng_frames", _apng_frames_sql())
def q_apng_frames(spark, sf_dir):
    """REAL frame sampling: synthesized valid APNGs (acTL/fcTL/fdAT, the
    full scanline-filter cycle) through the pure-python demuxer+decoder
    (`functions/png.py`), every 2nd frame.  ``t_offset`` comes from the
    container's actual fcTL delays (cumulative (1+k%3)/10 s), and
    ``frame_sig`` is the position-weighted polynomial hash of the DECODED
    canvas pixels — the DuckDB twin recomputes both from the md5
    arithmetic, so the oracle checks real decoded values, not plumbing."""
    docs = synth.documents_spans(spark, sf_dir)
    feats = SP.spans_to_features(docs)
    media = feats.select("doc_id", F.explode("media_refs").alias("media_ref")).withColumn(
        "payload", M.synth_apng_payload("media_ref")
    )
    return M.sample_frames(media, every_n=2).orderBy("doc_id", "media_ref", "frame_idx")


# ---------------------------------------------------------------------------
# Data-model category filter (fieldwork/filter_data.py) — the last reference
# utility: keep a tag only when its value is in the model's choice list,
# keep-columns always survive, title/label from the first name* tag.
# ---------------------------------------------------------------------------

_FILTER_MODEL_SQL = """
SELECT doc_id,
       concat_ws('|',
         CASE WHEN doc_id % 5 = 0 THEN 'highway=path'
              WHEN doc_id % 5 = 1 THEN 'highway=footway'
              WHEN doc_id % 5 = 2 THEN 'highway=track' END,
         CASE WHEN doc_id % 3 = 0 THEN 'surface=dirt'
              WHEN doc_id % 3 = 1 THEN 'surface=gravel' END,
         'version=1') AS tag_sig,
       CASE WHEN doc_id % 2 = 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
            ELSE CAST(doc_id AS VARCHAR) END AS title
FROM documents ORDER BY doc_id
"""


@register("q_filter_model", _FILTER_MODEL_SQL)
def q_filter_model(spark, sf_dir):
    """fieldwork/filter_data.py semantics end-to-end: build a tags map with
    in-model values (highway/surface), out-of-model values ('junkval', the
    silently-dropped 'yes'), a name* tag, an always-keep 'version' and the
    ignore-set 'timestamp' — filter by the compiled data model and emit the
    sorted surviving-tag signature plus the title choice."""
    from .sources import filter_data as FD

    model = {"highway": ["path", "footway", "track"], "surface": ["dirt", "gravel"]}
    d = _t(spark, sf_dir, "documents")
    tags = F.map_concat(
        F.create_map(
            F.lit("highway"),
            F.element_at(
                F.array(F.lit("path"), F.lit("footway"), F.lit("track"),
                        F.lit("junkval"), F.lit("yes")),
                (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
            ),
            F.lit("surface"),
            F.element_at(
                F.array(F.lit("dirt"), F.lit("gravel"), F.lit("paved")),
                (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
            ),
            F.lit("version"), F.lit("1"),
            F.lit("timestamp"), F.lit("2024-01-01"),
            F.lit("foo"), F.lit("bar"),
        ),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0,
            F.create_map(F.lit("name"), F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    filtered = FD.filter_tags_by_model(tags, model)
    sig = F.concat_ws(
        "|",
        F.array_sort(
            F.transform(F.map_entries(filtered), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
    )
    return d.select(
        "doc_id",
        sig.alias("tag_sig"),
        FD.title_from_tags(tags, F.col("doc_id")).alias("title"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# MJPEG/AVI frame sampling — real RIFF demux + baseline-JPEG decode
# ---------------------------------------------------------------------------


def _mjpeg_frames_sql() -> str:
    # closed-form position-weight of an 8×8 block at block coords (i, j) in
    # a w-wide frame: Σ_{pixels} (r·w + c + 1) = 64·(8i·w + 8j + 1) + 224·(w+1)
    return (
        _media_base_sql()
        + """
    , av AS (
      SELECT doc_id, media_ref, 1 + b0 % 3 AS wb, 1 + b1 % 2 AS hb,
             b2 AS base, 2 + b3 % 4 AS nf, 5 + b4 % 10 AS fps
      FROM bb
    ),
    fr AS (
      SELECT doc_id, media_ref, wb, hb, base, fps,
             CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx
      FROM av
    ),
    blk AS (
      SELECT doc_id, media_ref, frame_idx, fps,
             ((base + 17 * frame_idx + 5 * i.i + 3 * j.i) % 256)
               * (64 * (8 * i.i * (8 * wb) + 8 * j.i + 1) + 224 * (8 * wb + 1)) AS term
      FROM fr
      JOIN (SELECT unnest(range(0, 2)) AS i) i ON i.i < hb
      JOIN (SELECT unnest(range(0, 3)) AS i) j ON j.i < wb
    )
    SELECT doc_id, media_ref, frame_idx,
           round(CAST(frame_idx AS DOUBLE) / fps, 4) AS t_offset,
           CAST(SUM(term) % 1000000007 AS VARCHAR) AS frame_sig
    FROM blk
    GROUP BY doc_id, media_ref, frame_idx, fps
    ORDER BY doc_id, media_ref, frame_idx
    """
    )


@register("q_mjpeg_frames", _mjpeg_frames_sql())
def q_mjpeg_frames(spark, sf_dir):
    """REAL video frame sampling (round 5, de-stubbing VERDICT r4 item 7):
    synthesized valid MJPEG AVIs (RIFF hdrl/movi/idx1 around baseline
    greyscale JPEGs, `functions/mjpeg.py`) through the pure-python demuxer
    + Huffman/DCT decoder, every 2nd frame.  ``t_offset`` comes from the
    container's actual strh rate/scale timing and ``frame_sig`` is the
    position-weighted polynomial hash of the DECODED pixels — the flat-8
    quant table makes block-constant frames round-trip bit-exactly, so the
    DuckDB twin recomputes the hash from the synthesis arithmetic in closed
    form and the oracle value-checks the whole Huffman/DCT/container path."""
    docs = synth.documents_spans(spark, sf_dir)
    feats = SP.spans_to_features(docs)
    media = feats.select("doc_id", F.explode("media_refs").alias("media_ref")).withColumn(
        "payload", M.synth_mjpeg_payload("media_ref")
    )
    return M.sample_frames(media, every_n=2).orderBy("doc_id", "media_ref", "frame_idx")


# ---------------------------------------------------------------------------
# Gopher-style repetition quality signals (training-data pipeline layer)
# ---------------------------------------------------------------------------

@register(
    "q_repetition_signals",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL.format(t="text")} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t
    ),
    c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram),
    a AS (
      SELECT doc_id, n, max(cnt) AS max_cnt, sum(cnt) AS total,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_mass
      FROM c GROUP BY doc_id, n
    ),
    w AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN CAST(max_cnt AS DOUBLE) / total END) AS top2,
             max(CASE WHEN n = 3 THEN CAST(dup_mass AS DOUBLE) / total END) AS dup3
      FROM a GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 END, 6) AS dup_word_frac,
           round(coalesce(top2, 0.0), 6) AS top_bigram_frac,
           round(coalesce(dup3, 0.0), 6) AS dup_trigram_frac
    FROM t LEFT JOIN w USING (doc_id) ORDER BY t.doc_id
    """,
)
def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters (dup-word fraction, top-bigram mass,
    duplicated-trigram mass) via the explode→groupBy n-gram pipeline — the
    scale-correct form (never per-doc quadratic array scans)."""
    d = _t(spark, sf_dir, "documents")
    return D.repetition_signals(d).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over MinHash-LSH candidate pairs
# ---------------------------------------------------------------------------

_BAND_PAIRS_CORE = f"""
    h AS (SELECT doc_id, {_TOKHASH_SQL} AS hs FROM documents),
    sig AS (SELECT doc_id, {", ".join(_mh_sql(i) for i in range(4))} FROM h),
    banded AS (
      SELECT doc_id, 0 AS band, CAST(mh0 AS BIGINT) * 2147483647 + mh1 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, CAST(mh2 AS BIGINT) * 2147483647 + mh3 AS bucket FROM sig
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )"""


@register(
    "q_dedup_clusters",
    f"""
    WITH RECURSIVE
    {_BAND_PAIRS_CORE},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach(v, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.v, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT v AS doc_id, least(v, min(r)) AS cluster_id
    FROM reach GROUP BY v ORDER BY doc_id
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate groups: MinHash-LSH candidate pairs (the
    q_minhash_band_pairs join) closed into connected components by
    alternating min-label propagation (operators/dedup.py:dedup_clusters);
    cluster_id = smallest member = the keeper.  The oracle computes the
    same components with a recursive-CTE transitive closure."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, k=4, bands=2).select("id_a", "id_b")
    return D.dedup_clusters(pairs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus curation: stratified sampling, sequence packing, DSIR importance
# weights, boilerplate-chunk removal (operators/curation.py)
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_SAMPLE_DEFAULT = 0.05

_SAMPLE_RATES_SQL = ", ".join(f"('{k}', {v})" for k, v in sorted(_SAMPLE_RATES.items()))


@register(
    "q_stratified_sample",
    f"""
    WITH r(source, rate) AS (VALUES {_SAMPLE_RATES_SQL}),
    d AS (
      SELECT doc_id, documents.source, coalesce(r.rate, {_SAMPLE_DEFAULT}) AS rate,
             round(CAST({_POLY_SQL.format(s="documents.source || ':' || CAST(doc_id AS VARCHAR)")}
                        * 48271 % 2147483647 * 48271 % 2147483647
                        % 1000000 AS DOUBLE) / 1000000, 6) AS u
      FROM documents LEFT JOIN r ON documents.source = r.source
    )
    SELECT doc_id, source, rate, u FROM d WHERE u < rate ORDER BY doc_id
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-stratified Bernoulli sampling (domain mixing):
    per-source keep rates compiled into a broadcast dim; the coin is the
    portable poly-hash of source:doc_id, never rand()."""
    d = _t(spark, sf_dir, "documents")
    return (
        CU.stratified_sample(d, _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT)
        .select("doc_id", "source", "rate", "u")
        .orderBy("doc_id")
    )


@register(
    "q_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOKS_SQL.format(t="text")}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor(cb / 256) AS BIGINT) AS pack_id,
           CAST(cb % 256 AS BIGINT) AS pack_offset
    FROM c ORDER BY doc_id
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (seq_len=256) via the distributed
    exclusive prefix sum (range partitions + P-row driver offsets + per-
    partition windows) — the oracle is the equivalent global window."""
    d = _t(spark, sf_dir, "documents")
    return CU.pack_sequences(d, seq_len=256).orderBy("doc_id")


@register(
    "q_dsir_weights",
    f"""
    WITH tk AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest({_TOKS_SQL.format(t="text")}) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, is_t, {_POLY_SQL.format(s="tok")} % 64 AS bucket FROM tk
    ),
    h AS (
      SELECT bucket, count(*) AS raw_cnt,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tgt_cnt
      FROM b GROUP BY bucket
    ),
    tt AS (SELECT sum(raw_cnt) AS raw_tot, sum(tgt_cnt) AS tgt_tot FROM h),
    p AS (
      SELECT bucket,
             ln(((tgt_cnt + 0.5) / (tgt_tot + 0.5 * 64))
                / ((raw_cnt + 0.5) / (raw_tot + 0.5 * 64))) AS log_ratio
      FROM h, tt
    ),
    a AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             round(avg(p.log_ratio), 6) AS dsir_weight
      FROM b JOIN p USING (bucket) GROUP BY b.doc_id
    )
    SELECT d.doc_id, coalesce(a.n_toks, 0) AS n_toks,
           coalesce(a.dsir_weight, 0.0) AS dsir_weight
    FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id
    """,
)
def q_dsir_weights(spark, sf_dir):
    """DSIR-style hashed-unigram importance weights against the lang='en'
    target slice: 64-bucket histograms broadcast back onto the exploded
    token stream; per-doc mean log-ratio."""
    d = _t(spark, sf_dir, "documents")
    return (
        CU.dsir_weights(d, F.col("lang") == "en", buckets=64)
        .orderBy("doc_id")
    )


@register(
    "q_boilerplate_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL.format(t="text")} AS toks FROM documents),
    pieces AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' ') AS piece
      FROM t, unnest(range(0, CAST(ceil(len(toks) / 3.0) AS BIGINT))) AS u(i)
      WHERE array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' ') <> ''
    ),
    keyed AS (
      SELECT doc_id, pos, piece, {_POLY_SQL.format(s="piece")} AS pkey FROM pieces
    ),
    bo AS (
      SELECT pkey FROM (SELECT DISTINCT pkey, doc_id FROM keyed)
      GROUP BY pkey HAVING count(*) >= 5
    ),
    fl AS (
      SELECT k.doc_id, k.pos, k.piece, (bo.pkey IS NOT NULL) AS is_b
      FROM keyed k LEFT JOIN bo USING (pkey)
    ),
    pd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
             coalesce(string_agg(CASE WHEN NOT is_b THEN piece END, ' ' ORDER BY pos), '')
               AS text_clean
      FROM fl GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(pd.n_chunks, CAST(0 AS BIGINT)) AS n_chunks,
           coalesce(pd.n_boiler, CAST(0 AS BIGINT)) AS n_boiler,
           coalesce(pd.text_clean, '') AS text_clean
    FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id
    """,
)
def q_boilerplate_chunks(spark, sf_dir):
    """Cross-document boilerplate removal: 3-token pieces hashed and
    counted by distinct-doc occurrence; pieces in >= 5 docs are dropped and
    the survivors reassembled in order (the CCNet/RefinedWeb line-dedup
    stage, over hash keys only — never text-to-text joins)."""
    d = _t(spark, sf_dir, "documents")
    return CU.drop_boilerplate_chunks(d, chunk=3, min_docs=5).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Streaming dedup: dropDuplicatesWithinWatermark through the real
# readStream → availableNow path (streaming/events.py:dedup_stream)
# ---------------------------------------------------------------------------

@register(
    "q_stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming first-seen dedup per (user_id, event_type) with watermark-
    bounded state (dropDuplicatesWithinWatermark — the continuous-cluster
    form whose state does not grow forever).  Drained via availableNow; the
    output is projected to the key columns because which representative ROW
    survives is arrival-order-dependent, while the distinct key SET equals
    the batch DISTINCT — which is exactly what the oracle checks."""
    import os
    import tempfile

    from .streaming import events as SE

    base = tempfile.mkdtemp(prefix="oms_stream_dedup_")
    os.makedirs(f"{base}/in")
    os.symlink(f"{sf_dir}/events.parquet", f"{base}/in/events.parquet")
    dd = SE.dedup_stream(
        SE.read_events_stream(spark, f"{base}/in"), ["user_id", "event_type"]
    )
    q = (
        dd.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(f"{base}/out"))
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{base}/out")
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# PII scrub + benchmark decontamination (functions/pii.py, curation.py) —
# the two scrub stages every public pretraining pipeline documents (C4,
# RefinedWeb, Dolma; PaLM/GPT-3/Llama eval-overlap filters).
# ---------------------------------------------------------------------------

# the synthetic documents carry no PII, so the query plants deterministic
# PII derived from doc_id (one email, one IPv4, one phone per doc) and the
# oracle plants the identical strings — the regex engines, pattern order,
# and global-replace semantics are what's under test
_PII_SEED_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
    " || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _pii_sql() -> str:
    from .functions import pii as PII

    counts = PII.pii_sql_counts("t")
    cols = ",\n           ".join(f"{expr} AS n_{k}" for k, expr in counts.items())
    return f"""
    WITH s AS (SELECT doc_id, {_PII_SEED_SQL} AS t FROM documents)
    SELECT doc_id,
           {cols},
           {PII.pii_sql_redact("t")} AS redacted
    FROM s ORDER BY doc_id
    """


@register("q_pii_scrub", _pii_sql())
def q_pii_scrub(spark, sf_dir):
    """PII detect + redact over deterministically seeded text: per-kind
    regexp_count columns and the fixed-order global regexp_replace scrub —
    all JVM-side Column expressions (functions/pii.py), byte-compared
    against DuckDB's RE2 on the same patterns."""
    from .functions import pii as PII

    d = _t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 call 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    counts = PII.pii_counts(seeded)
    return d.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        PII.pii_redact(seeded).alias("redacted"),
    ).orderBy("doc_id")


_DECON_SHINGLE_SQL = _POLY_SQL.format(
    s="array_to_string(list_slice(toks, i, i + 3), ' ')"
)

_DECON_SQL = f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL.format(t="text")} AS toks FROM documents),
    sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(1, CAST(greatest(len(toks) - 3, 0) AS BIGINT) + 1),
               i -> {_DECON_SHINGLE_SQL})) AS shs
      FROM t
    ),
    bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_shingles, shs
               FROM sh WHERE source <> 'src0'),
    hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      FROM (SELECT doc_id, unnest(shs) AS h FROM corpus) c
      WHERE h IN (SELECT h FROM bench)
      GROUP BY doc_id
    )
    SELECT c.doc_id, c.n_shingles,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           coalesce(h.n_contaminated, 0) > 0 AS contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id) ORDER BY c.doc_id
"""


@register("q_decontaminate", _DECON_SQL)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs (source <> 'src0') flagged by
    4-token-shingle-hash overlap with the benchmark slice (source = 'src0')
    — a broadcast semi-join on manufactured hash keys (curation.py:
    decontaminate), text never joined."""
    # range-partition the scan by the sort key: the shingle fold runs at
    # shuffle width (single-file scan otherwise), the rollup's groupBy and
    # the final orderBy both reuse the range partitioning (no exchanges)
    d = _t(spark, sf_dir, "documents").repartitionByRange(skew.shuffle_width(spark), "doc_id")
    return CU.decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=4,
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Paragraph-level global dedup (curation.dedup_paragraphs) + SemDeDup
# (dedup.semdedup) — the remaining two published corpus-dedup stages
# (Dolma's paragraph dedup; Abbas et al. 2023 semantic dedup).
# ---------------------------------------------------------------------------

_PARA_CHUNK = 10  # pseudo-paragraph size: the synthetic text has no newlines

_PARA_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL.format(t="text")} AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 greatest(CAST(ceil(len(toks) / {_PARA_CHUNK}.0) AS BIGINT), 1) AS nch
          FROM t),
    idx AS (SELECT doc_id, toks, unnest(range(0, nch)) AS i FROM n),
    paras AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(list_slice(toks, i * {_PARA_CHUNK} + 1,
                                        i * {_PARA_CHUNK} + {_PARA_CHUNK}), ' ') AS para
      FROM idx
    ),
    keyed AS (
      SELECT doc_id, pos, para, {_POLY_SQL.format(s="para")} AS pkey
      FROM paras WHERE para <> ''
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY pkey ORDER BY doc_id, pos) AS rn
      FROM keyed
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(para, chr(10) ORDER BY pos) AS text_kept
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM keyed GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(t.n_paras, 0) AS n_paras,
           coalesce(p.n_kept, 0) AS n_kept,
           coalesce(p.text_kept, '') AS text_kept
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
"""


@register("q_dedup_paragraphs", _PARA_SQL)
def q_dedup_paragraphs(spark, sf_dir):
    """Dolma-style paragraph dedup: docs re-chunked into 10-token
    pseudo-paragraphs, first corpus-wide occurrence of each distinct
    paragraph kept (vote = min(struct(doc_id, pos)) partial agg on the
    paragraph hash), documents reassembled in order
    (curation.dedup_paragraphs)."""
    d = _t(spark, sf_dir, "documents")
    t = TX.tokens(F.col("text"))
    nch = F.ceil(F.size(t) / _PARA_CHUNK).cast("int")
    chunked = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(0), F.greatest(nch - 1, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(t, i * _PARA_CHUNK + 1, _PARA_CHUNK)),
            ),
        ).alias("text"),
    )
    return CU.dedup_paragraphs(chunked, delim="\n").orderBy("doc_id")


def _semdedup_sql(dim: int = 64, n_cells: int = 8, threshold: float = 0.9) -> str:
    """DuckDB twin of dedup.semdedup: the IVF cell1 assignment (same fold
    order + lowest-id tie-break as _ivf_sql), intra-cell prior-id pairs,
    keep-lowest-id drop policy."""

    def d_expr(t: int) -> str:
        coef = f"CAST((((({t} * 53 + (i - 1) * 29) % 17) - 8) / 8.0) AS DOUBLE)"
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * {coef})), (a, b) -> a + b) AS d{t}"
        )

    d_cols = ", ".join(d_expr(t) for t in range(n_cells))
    all_d = ", ".join(f"d{t}" for t in range(n_cells))
    cell1 = "CASE " + " ".join(f"WHEN d{t} = m1 THEN {t}" for t in range(n_cells)) + " END"
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {_NORM_SQL.format(a="embedding")} AS nrm, {d_cols}
      FROM embeddings
    ), cc AS (
      SELECT vec_id, embedding, nrm, {cell1} AS cell
      FROM (SELECT *, greatest({all_d}) AS m1 FROM base)
    ), hits AS (
      SELECT a.vec_id,
             min(b.vec_id) AS near_id,
             max(round(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                            ELSE {_DOT_SQL.format(a="a.embedding", b="b.embedding")} / (a.nrm * b.nrm)
                       END, 6)) AS max_sim
      FROM cc a JOIN cc b ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE round(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
                       ELSE {_DOT_SQL.format(a="a.embedding", b="b.embedding")} / (a.nrm * b.nrm)
                  END, 6) >= {threshold}
      GROUP BY a.vec_id
    )
    SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
           h.near_id IS NOT NULL AS dropped,
           h.near_id, h.max_sim
    FROM cc c LEFT JOIN hits h USING (vec_id)
    ORDER BY c.vec_id
    """


@register("q_semdedup", _semdedup_sql(threshold=0.35))
def q_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table: deterministic coarse-quantizer
    clusters, intra-cluster cosine against lower-id mates, dropped rows
    flagged with their keeper (dedup.semdedup) — the quadratic term bounded
    to cluster size by the cell equi-join.  Threshold 0.35 here (not the
    paper's ~0.95): the synthetic embeddings are near-orthogonal random
    vectors (max pairwise cosine ~0.51), so the demo threshold sits where
    the operator actually splits the table (62/500 dropped at sf0.01)."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.semdedup(emb, dim=64, threshold=0.35, n_cells=8).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Model-based quality filter (fastText-style hashed linear scorer) + per-source
# TF-IDF top terms — the quality-classifier and vocabulary-analytics stages.
# ---------------------------------------------------------------------------

_QMODEL_W_SQL = "(({h} % 256) * 9871 + 7919) % 401 - 200"

_QMODEL_SQL = f"""
    WITH t AS (
      SELECT doc_id,
             list_transform({_TOKS_SQL.format(t="text")},
                            tok -> {_POLY_SQL.format(s="tok")}) AS hs
      FROM documents
    ), scored AS (
      SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(hs, h -> CAST({_QMODEL_W_SQL.format(h="h")} AS BIGINT))),
               (a, b) -> a + b) AS BIGINT) AS w_sum
      FROM t
    )
    SELECT doc_id, n_tokens, w_sum,
           CASE WHEN n_tokens > 0
                THEN CAST(w_sum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 200.0)
                ELSE 0.0 END AS quality_logit,
           w_sum >= 0 AS keep
    FROM scored ORDER BY doc_id
"""


@register("q_quality_model", _QMODEL_SQL)
def q_quality_model(spark, sf_dir):
    """Model-based quality filter: fastText-style hashed-bucket linear
    scorer (functions/text.py: hashed_linear_wsum/logit) — one Column fold
    per doc, no shuffle.  The logit is kept integer-exact (bigint weight sum,
    one IEEE division) so the cross-engine hash is bitwise stable; keep is
    p >= 0.5, i.e. w_sum >= 0 (empty docs score 0 -> keep)."""
    d = _t(spark, sf_dir, "documents")
    wsum = TX.hashed_linear_wsum("text")
    return d.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        wsum.alias("w_sum"),
        TX.hashed_linear_logit("text").alias("quality_logit"),
        (wsum >= 0).alias("keep"),
    ).orderBy("doc_id")


_TFIDF_SQL = f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS_SQL.format(t="text")}) AS term
      FROM documents
    ), tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY source, term
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
    ), ndoc AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
    ), scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df,
             round(tf.tf * ln((SELECT n FROM ndoc) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term)
    )
    SELECT source, term, tf, df, tfidf, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 5 ORDER BY source, rnk
"""


@register("q_tfidf_terms", _TFIDF_SQL)
def q_tfidf_terms(spark, sf_dir):
    """Per-source TF-IDF top terms (vocabulary analytics over the corpus):
    tf is one map-side-partial aggregate per (source, term); df is a
    (term, doc) dedup + count whose vocabulary-sized result broadcasts back;
    the doc total is scalar driver metadata.  Top-5 window per source —
    no text ever joins on itself."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("source", "term").agg(F.count("*").cast("long").alias("tf"))
    df = (
        tok.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    n_doc = d.count()
    scored = tf.join(F.broadcast(df), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_doc)) / F.col("df")), 6)
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "term", "tf", "df", "tfidf", "rnk")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# Snapshot diff (operators/diff.py) — the osmium derive-changes pattern:
# classify feature ids across two extract snapshots by content signature.
# Snapshots are deterministic perturbations of orders: %7==0 deleted,
# %5==0 modified (priority prefixed), %9==4 duplicated as created (-id).
# ---------------------------------------------------------------------------

_DIFF_SIG = "md5(concat_ws(chr(31), CAST(o_orderstatus AS VARCHAR), CAST({prio} AS VARCHAR)))"

_DIFF_SQL = f"""
    WITH old AS (
      SELECT o_orderkey AS way_id,
             {_DIFF_SIG.format(prio="o_orderpriority")} AS old_sig
      FROM orders
    ),
    new_base AS (
      SELECT o_orderkey AS way_id,
             {_DIFF_SIG.format(prio="CASE WHEN o_orderkey % 5 = 0 THEN 'X' || o_orderpriority ELSE o_orderpriority END")} AS new_sig
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    created AS (
      SELECT -o_orderkey AS way_id,
             {_DIFF_SIG.format(prio="o_orderpriority")} AS new_sig
      FROM orders WHERE o_orderkey % 9 = 4
    ),
    new_snap AS (SELECT * FROM new_base UNION ALL SELECT * FROM created)
    SELECT coalesce(o.way_id, n.way_id) AS way_id,
           CASE WHEN o.old_sig IS NULL THEN 'created'
                WHEN n.new_sig IS NULL THEN 'deleted'
                WHEN o.old_sig <> n.new_sig THEN 'modified'
                ELSE 'unchanged' END AS change,
           o.old_sig, n.new_sig
    FROM old o FULL OUTER JOIN new_snap n ON o.way_id = n.way_id
    ORDER BY way_id
"""


@register("q_snapshot_diff", _DIFF_SQL)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff between two deterministic extract versions: map-side
    content signatures, one full-outer equi-join on the feature id, rows
    classified created/deleted/modified/unchanged (operators/diff.py)."""
    from .operators import diff as DF

    o = _t(spark, sf_dir, "orders")
    old = o.select(
        F.col("o_orderkey").alias("way_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    new_base = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("way_id"),
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 5 == 0, F.concat(F.lit("X"), F.col("o_orderpriority")))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    created = o.filter(F.col("o_orderkey") % 9 == 4).select(
        (-F.col("o_orderkey")).alias("way_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    return DF.snapshot_diff(
        old, new_base.unionAll(created), id_col="way_id", sig_cols=("status", "prio")
    ).orderBy("way_id")


# ---------------------------------------------------------------------------
# int8 scalar-quantized cosine top-k (operators/similarity.sq8_topk) — the
# 4×-bandwidth ANN kernel; scales cancel so the pair math is exact bigint.
# ---------------------------------------------------------------------------

_AMAX_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({v}, x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b))"
)
_IDOT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip({a}, {b}), s -> s[1] * s[2])), (x, y) -> x + y)"
)
_SQ8_Q_SQL = f"""
      SELECT vec_id,
             CASE WHEN amax = 0
                  THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT))
             END AS q
      FROM (SELECT vec_id, embedding, {_AMAX_SQL.format(v="embedding")} AS amax
            FROM embeddings)
"""

_SQ8_SQL = f"""
    WITH codes AS ({_SQ8_Q_SQL}),
    coded AS (
      SELECT vec_id, q, {_IDOT_SQL.format(a="q", b="q")} AS n2 FROM codes
    ),
    p AS (SELECT vec_id AS probe_id, q AS p_q, n2 AS p_n2 FROM coded WHERE vec_id < 50),
    pairs AS (
      SELECT p.probe_id, t.vec_id,
             CASE WHEN sqrt(CAST(p.p_n2 AS DOUBLE) * CAST(t.n2 AS DOUBLE)) = 0 THEN 0.0
                  ELSE CAST({_IDOT_SQL.format(a="p.p_q", b="t.q")} AS DOUBLE)
                       / sqrt(CAST(p.p_n2 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
             END AS cs
      FROM p CROSS JOIN coded t WHERE p.probe_id <> t.vec_id
    )
    SELECT probe_id, vec_id, cs AS cos_sq8, rank FROM (
      SELECT probe_id, vec_id, cs,
             row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rank
      FROM pairs
    ) WHERE rank <= 3 ORDER BY probe_id, rank
"""


@register("q_sq8_topk", _SQ8_SQL)
def q_sq8_topk(spark, sf_dir):
    """int8 scalar-quantized cosine top-3: codes = floor(v*127/max|v|+0.5)
    (explicit-floor rounding so engines agree bitwise), pair math = exact
    bigint dot + one IEEE sqrt/divide — the per-vector scales cancel out of
    cosine, so no float payload rides the join at all."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return S.sq8_topk(probes, emb, k=3).orderBy("probe_id", "rank")


# ---------------------------------------------------------------------------
# CDC changeset apply (operators/diff.apply_changes) — the MERGE INTO shape:
# base rows minus touched ids (one left-anti equi-join) union the upserts.
# Changeset derived with q_snapshot_diff's deterministic perturbation.
# ---------------------------------------------------------------------------

_APPLY_SQL = """
    WITH base AS (
      SELECT o_orderkey AS way_id, o_orderstatus AS status, o_orderpriority AS prio
      FROM orders
    ),
    changes AS (
      SELECT o_orderkey AS way_id, 'deleted' AS change,
             o_orderstatus AS status, o_orderpriority AS prio
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 'modified', o_orderstatus, 'X' || o_orderpriority
      FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
      UNION ALL
      SELECT -o_orderkey, 'created', o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 9 = 4
    )
    SELECT way_id, status, prio FROM (
      SELECT b.* FROM base b
      WHERE b.way_id NOT IN (SELECT way_id FROM changes)
      UNION ALL
      SELECT way_id, status, prio FROM changes
      WHERE change IN ('created', 'modified')
    ) ORDER BY way_id
"""


@register("q_apply_changes", _APPLY_SQL)
def q_apply_changes(spark, sf_dir):
    """Apply an OsmChange-style changeset to a base snapshot: left-anti
    equi-join on the feature id + unionByName of the upserts
    (operators/diff.apply_changes — Iceberg MERGE INTO's copy-on-write
    plan)."""
    from .operators import diff as DF

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("way_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    changes = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("way_id"),
            F.lit("deleted").alias("change"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        )
        .unionByName(
            o.filter((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 == 0)).select(
                F.col("o_orderkey").alias("way_id"),
                F.lit("modified").alias("change"),
                F.col("o_orderstatus").alias("status"),
                F.concat(F.lit("X"), F.col("o_orderpriority")).alias("prio"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 9 == 4).select(
                (-F.col("o_orderkey")).alias("way_id"),
                F.lit("created").alias("change"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("prio"),
            )
        )
    )
    return DF.apply_changes(base, changes, id_col="way_id").orderBy("way_id")


# ---------------------------------------------------------------------------
# As-of join (operators/asof.py) — each purchase joined to the user's latest
# click at-or-before it.  DuckDB's native ASOF JOIN is the oracle.  The
# right side is pre-aggregated to one row per (user, ts) so the latest-match
# is unique and both engines are deterministic.
# ---------------------------------------------------------------------------

_ASOF_SQL = """
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts, max(value) AS value FROM events
      WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS asof_ts, c.value AS asof_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
"""


@register("q_asof_join", _ASOF_SQL)
def q_asof_join(spark, sf_dir):
    """Backward-inclusive as-of join via one union + running
    last(ignoreNulls) window per key — a single shuffle, no range
    self-join, no Python (operators/asof.py)."""
    from .operators import asof as AS

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return AS.asof_join(
        purchases, clicks, key="user_id", right_payload=("value",)
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Lloyd k-means (operators/similarity.kmeans_fit) — iterative algorithm,
# but with a FIXED iteration count (5) and deterministic init (k lowest
# vec_ids), so the twin unrolls the loop as chained CTEs: assign_i =
# argmin-sq-dist window over centroids_{i-1} (tie → lowest cluster, the
# array_position-of-min rule), centroids_i = per-cluster per-dim mean
# (empty cluster keeps its previous centroid via LEFT JOIN + COALESCE).
# The sq-dist fold is list_reduce over the zipped pair list in index
# order — bitwise the same left fold as Spark's F.aggregate from 0.0
# (squares are never -0.0, so the first-element init is identical).  The
# per-cluster mean sums accumulate in engine order on both sides; the
# assignment margins tolerate that low-bit noise (pinned empirically by
# scripts/determinism_check.py: byte-stable output across local[4]/7 vs
# local[16]/64 partitionings, which perturb Spark's own sum order more
# than the DuckDB-vs-Spark difference does).  tests/test_operators.py
# additionally verifies against an identical numpy Lloyd reference.
# ---------------------------------------------------------------------------


def _kmeans_sql(k: int = 8, dim: int = 64, iters: int = 5) -> str:
    def assign(name: str, cprev: str) -> str:
        return f""", {name} AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_reduce(
               list_transform(list_zip(e.embedding, c.cent),
                 p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])),
               (acc, v) -> acc + v) ASC,
             c.cluster ASC) AS rn
    FROM embeddings e CROSS JOIN {cprev} c
  ) WHERE rn = 1
)"""

    parts = [
        f"""WITH c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", f"c{i - 1}"))
        parts.append(f""", c{i} AS (
  SELECT p.cluster, COALESCE(m.cent, p.cent) AS cent
  FROM c{i - 1} p LEFT JOIN (
    SELECT cluster, list(s / n ORDER BY d) AS cent FROM (
      SELECT a.cluster, dd.d, sum(CAST(e.embedding[dd.d] AS DOUBLE)) AS s, count(*) AS n
      FROM a{i} a JOIN embeddings e USING (vec_id)
      CROSS JOIN (SELECT CAST(unnest(range(1, {dim + 1})) AS INTEGER) AS d) dd
      GROUP BY a.cluster, dd.d
    ) GROUP BY cluster
  ) m USING (cluster)
)""")
    parts.append(assign("afin", f"c{iters}"))
    parts.append("""
SELECT CAST(cluster AS INTEGER) AS cluster, CAST(count(*) AS BIGINT) AS n,
       min(vec_id) AS min_vec_id
FROM afin GROUP BY cluster ORDER BY cluster""")
    return "".join(parts)


@register("q_kmeans_clusters", _kmeans_sql())
def q_kmeans_clusters(spark, sf_dir):
    """Deterministic-init Lloyd k-means over the embeddings (k=8, 5
    rounds: broadcast-literal assign + one partial-agg mean update per
    round), reported as cluster sizes + the data-adaptive coarse-quantizer
    assignment the IVF index would use."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = S.kmeans_fit(emb, k=8, iters=5)
    return (
        S.assign_to_centroids(emb, "embedding", cents)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Hypertable rollup (operators/rollup.py): coarse grains re-aggregate the
# materialized fine grain, never the raw table; DECIMAL accumulation makes
# the sums order-independent, so the oracle compare is bitwise.
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
    WITH fine AS (
      SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             sum(CAST(value AS DECIMAL(28,6))) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT ws - ws % 3600 AS ws, event_type,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(CAST(sum(total_value) AS DECIMAL(28,6)) AS DOUBLE) AS total_value
    FROM fine GROUP BY 1, 2 ORDER BY ws, event_type
"""


@register("q_hypertable_rollup", _ROLLUP_SQL)
def q_hypertable_rollup(spark, sf_dir):
    """Two-level continuous aggregate: minute rollup materialized once,
    hour level re-aggregated from it (rollup.rollup_time + reaggregate) —
    the re-aggregation property count/sum monoids guarantee, pinned
    bitwise by DECIMAL accumulation."""
    from .operators import rollup as R

    ev = _t(spark, sf_dir, "events")
    hour = R.reaggregate(R.rollup_time(ev, "minute"), grain_s=3600)
    return hour.select(
        "ws", "event_type", "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("ws", "event_type")


# ---------------------------------------------------------------------------
# Temporal range join (operators/rollup.range_join_temporal): epoch-bucket
# manufactured equi-key + exact refine — the time analog of the conflation
# grid.  Intervals are deterministic: 50 strides of 14 h from 2024-01-01,
# lengths (iid % 7 + 1) h, so they never overlap and DuckDB can build the
# identical table.
# ---------------------------------------------------------------------------

_RANGE_JOIN_SQL = """
    WITH iv AS (
      SELECT range AS interval_id,
             1704067200 + range * 50400 AS start_epoch,
             1704067200 + range * 50400 + ((range % 7) + 1) * 3600 AS end_epoch
      FROM range(50)
    )
    SELECT e.event_id, e.user_id, iv.interval_id, iv.start_epoch, iv.end_epoch
    FROM events e JOIN iv
      ON CAST(floor(epoch(e.ts)) AS BIGINT) >= iv.start_epoch
     AND CAST(floor(epoch(e.ts)) AS BIGINT) < iv.end_epoch
    ORDER BY e.event_id
"""


@register("q_range_join", _RANGE_JOIN_SQL)
def q_range_join(spark, sf_dir):
    """Events joined to the deterministic interval table containing them:
    intervals explode to hour-wide epoch buckets, events carry one bucket,
    bucket equi-join + exact refine — never an unbounded theta join."""
    from .operators import rollup as R

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    iv = spark.range(50).select(
        F.col("id").alias("interval_id"),
        (F.lit(1704067200) + F.col("id") * 50400).alias("start_epoch"),
        (F.lit(1704067200) + F.col("id") * 50400 + (F.pmod(F.col("id"), F.lit(7)) + 1) * 3600).alias(
            "end_epoch"
        ),
    )
    return (
        R.range_join_temporal(ev, iv, bucket_s=3600)
        .select("event_id", "user_id", "interval_id", "start_epoch", "end_epoch")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (operators/sketch.py): k smallest distinct
# hashes per group; estimate (k-1)·M/h_k — deterministic and mergeable,
# unlike HLL++ whose internal state no oracle can re-derive.
# ---------------------------------------------------------------------------

_KMV_SQL = """
    WITH h AS (
      SELECT DISTINCT event_type, (user_id * 2654435761) % 2147483647 AS h FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
      FROM h
    ),
    a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k
      FROM r WHERE r <= 64 GROUP BY event_type
    )
    SELECT event_type, n_kept,
           CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                ELSE 63.0 * 2147483647.0 / CAST(h_k AS DOUBLE) END AS kmv_estimate
    FROM a ORDER BY event_type
"""


@register("q_kmv_distinct", _KMV_SQL)
def q_kmv_distinct(spark, sf_dir):
    """Per-event-type KMV distinct-user estimate (k=64): one (group, hash)
    dedup shuffle + a per-group rank window — constant per-group state,
    mergeable map-side, where exact distinct ships the whole key set."""
    from .operators import sketch as SK

    ev = _t(spark, sf_dir, "events")
    return SK.kmv_distinct(ev, "event_type", "user_id", k=64).orderBy("event_type")


# ---------------------------------------------------------------------------
# Stream-stream interval join (§2.9, streaming/events.interval_join_streams):
# purchases × same-user clicks within the preceding hour, both streams
# watermarked so the join state is bounded.  availableNow drain == the batch
# interval join, which is the DuckDB twin.
# ---------------------------------------------------------------------------

_SS_JOIN_SQL = """
    SELECT p.event_id AS p_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS p_ts,
           c.event_id AS click_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS c_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ORDER BY p_id, click_id
"""


@register("q_stream_stream_join", _SS_JOIN_SQL)
def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join drained with availableNow:
    two parquet readStreams (purchases, clicks), 2 h watermarks, join state
    bounded by the [ts-1h, ts] condition in both directions."""
    import os
    import tempfile

    from .streaming import events as SE

    base = tempfile.mkdtemp(prefix="oms_ssjoin_")
    os.makedirs(f"{base}/in")
    os.symlink(f"{sf_dir}/events.parquet", f"{base}/in/events.parquet")
    purchases = SE.read_events_stream(spark, f"{base}/in").filter(
        F.col("event_type") == "purchase"
    )
    clicks = SE.read_events_stream(spark, f"{base}/in").filter(
        F.col("event_type") == "click"
    )
    joined = SE.interval_join_streams(purchases, clicks)
    q = (
        joined.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/ckpt")
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(f"{base}/out"))
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{base}/out")
        .select(
            "p_id",
            "user_id",
            F.unix_timestamp("p_ts").alias("p_ts"),
            "click_id",
            F.unix_timestamp("c_ts").alias("c_ts"),
        )
        .orderBy("p_id", "click_id")
    )


# ---------------------------------------------------------------------------
# Z-order spatial layout (operators/layout.py): Morton-key clustering audit.
# The SQL twin's interleave expression is GENERATED from the same bit math
# (layout.zorder_key_sql) so the key is checked bit-for-bit.
# ---------------------------------------------------------------------------


def _zorder_buckets_sql() -> str:
    from .operators.layout import zorder_key_sql

    zk = zorder_key_sql("lon", "lat", bits=16)
    return f"""
    WITH pts AS ({CUST_PT_SQL}),
    keyed AS (SELECT lon, lat, ({zk}) AS zkey FROM pts),
    stats AS (SELECT min(zkey) AS z_lo, max(zkey) + 1 AS z_hi FROM keyed)
    SELECT least(CAST(floor((zkey - z_lo) * 16.0 / (z_hi - z_lo)) AS BIGINT), 15) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(lon) AS min_lon, max(lon) AS max_lon,
           min(lat) AS min_lat, max(lat) AS max_lat
    FROM keyed CROSS JOIN stats GROUP BY 1 ORDER BY bucket
    """


@register("q_zorder_buckets", _zorder_buckets_sql())
def q_zorder_buckets(spark, sf_dir):
    """Morton-layout locality audit over the customer points: fixed-width
    zkey buckets with row counts and geographic extent (pure Column bit
    math + one groupBy — the write path is layout.zorder_layout's
    repartitionByRange on the same key)."""
    from .operators import layout as L

    pts = customer_points(spark, sf_dir)
    return L.zorder_buckets(pts, "lon", "lat", n_buckets=16, bits=16).withColumn(
        "n_rows", F.col("n_rows").cast("bigint")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi-join (operators/bloomjoin.py): result is exact —
# the bitmap only prunes the big side before the shuffle — so the twin is
# the plain IN-subquery semi-join.
# ---------------------------------------------------------------------------

_BLOOM_SEMI_SQL = """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 3)
    ORDER BY o_orderkey
"""


@register("q_bloom_semijoin", _BLOOM_SEMI_SQL)
def q_bloom_semijoin(spark, sf_dir):
    """Orders placed by nation-3 customers via the Bloom-pruned semi-join:
    a 4096-bit literal bitmap filters orders JVM-side before any exchange;
    the broadcast left_semi confirm strikes false positives, so the output
    equals the plain semi-join bit-for-bit."""
    from .operators import bloomjoin as B

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 3)
    return (
        B.bloom_semi_join(orders, cust, "o_custkey", "c_custkey")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Exact per-group quantiles (operators/sketch.exact_quantiles):
# percentile_disc semantics re-derived by rank join on both sides.
# ---------------------------------------------------------------------------

_EXACT_QUANTILES_SQL = """
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority, p, o_totalprice AS q
    FROM r CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.9)) AS ps(p)
    WHERE rn = CAST(ceil(p * n) AS BIGINT)
    ORDER BY o_orderpriority, p
"""


@register("q_exact_quantiles", _EXACT_QUANTILES_SQL)
def q_exact_quantiles(spark, sf_dir):
    """Exact o_totalprice quantiles per order priority (p = .25/.5/.75/.9):
    one group-key window shuffle + a broadcast join against the 4-row
    p-list.  The single-giant-group scale path is percentile_approx; this
    is the oracle-exact twin."""
    from .operators import sketch as SK

    orders = _t(spark, sf_dir, "orders")
    return SK.exact_quantiles(orders, "o_orderpriority", "o_totalprice",
                              [0.25, 0.5, 0.75, 0.9]).orderBy("o_orderpriority", "p")


# ---------------------------------------------------------------------------
# Audio (WAV) decode — the third multimodal leg (images: q_media_features,
# video: q_mjpeg_frames/q_apng_frames, audio: here).  The engine decodes
# REAL RIFF/PCM16 bytes (functions/wav.py); the twin predicts every sample
# analytically from the deterministic synth construction
# (media.synth_wav_batch: n = 64 + (b0·256+b1) % 449, s[i] =
# (b2·257 + i·73) % 65536 − 32768 at 8 kHz).
# ---------------------------------------------------------------------------


def _audio_dims_sql() -> str:
    b = [
        f"({_HEXB.format(p=2 * i + 1)} * 16 + {_HEXB.format(p=2 * i + 2)}) AS b{i}"
        for i in range(3)
    ]
    return f"""
    WITH o AS (SELECT o_orderkey AS k FROM orders),
    m AS (
      SELECT 'doc-' || CAST(k AS VARCHAR) AS doc_id,
             'audio/' || CAST(k AS VARCHAR) || '.wav' AS media_ref
      FROM o
    ),
    hx AS (SELECT doc_id, media_ref, md5(media_ref) AS h FROM m),
    bb AS (SELECT doc_id, media_ref, {", ".join(b)} FROM hx),
    d AS (SELECT doc_id, media_ref, 64 + (b0 * 256 + b1) % 449 AS n, b2 FROM bb)
    """


def _audio_features_sql() -> str:
    sig = " || ',' || ".join(
        f"CAST((b2 * 257 + {i} * 73) % 65536 - 32768 AS VARCHAR)" for i in range(8)
    )
    return (
        _audio_dims_sql()
        + f"""
    SELECT doc_id, media_ref,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
           {sig} AS head_sig
    FROM d ORDER BY doc_id
    """
    )


def _audio_media(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return o.select(
        F.concat(F.lit("doc-"), F.col("k").cast("string")).alias("doc_id"),
        F.concat(F.lit("audio/"), F.col("k").cast("string"), F.lit(".wav")).alias(
            "media_ref"
        ),
    ).withColumn("payload", M.synth_wav_payload("media_ref"))


@register("q_audio_features", _audio_features_sql())
def q_audio_features(spark, sf_dir):
    """Multimodal audio decode: synthesized VALID WAV per doc →
    mapInPandas feature extraction running the real pure-python RIFF/PCM16
    decoder.  sample_rate/n_samples/duration come from parsed bytes;
    head_sig is the first 8 decoded samples (hash-exact oracle surface;
    rms is pinned against numpy in pytest)."""
    out = M.extract_audio_features(_audio_media(spark, sf_dir))
    return out.select(
        "doc_id", "media_ref", "sample_rate", "n_samples", "duration_ms", "head_sig"
    ).orderBy("doc_id")


_AUDIO_WINDOWS_SQL = (
    _audio_dims_sql()
    + """
    , w AS (
      SELECT doc_id, media_ref, n, b2, t.i AS i
      FROM d CROSS JOIN range(512) AS t(i)
      WHERE t.i < n
    ),
    s AS (
      SELECT doc_id, media_ref, CAST(i // 32 AS INTEGER) AS win_idx,
             abs((b2 * 257 + i * 73) % 65536 - 32768) AS av
      FROM w
    )
    SELECT doc_id, media_ref, win_idx,
           CAST((win_idx * 32 * 1000) // 8000 AS BIGINT) AS t_offset_ms,
           CAST(count(*) AS INTEGER) AS n,
           CAST(sum(av) AS BIGINT) AS sum_abs
    FROM s GROUP BY doc_id, media_ref, win_idx
    ORDER BY doc_id, win_idx
    """
)


@register("q_audio_windows", _AUDIO_WINDOWS_SQL)
def q_audio_windows(spark, sf_dir):
    """Windowed audio energy (the audio analog of video frame sampling):
    real WAV decode → 32-sample windows → per-window t_offset + exact
    integer |x| energy.  Fan-out happens inside the Arrow batch — bounded
    per-row work, no shuffle; the oracle re-derives every window sum from
    the synth arithmetic."""
    return M.audio_windows(_audio_media(spark, sf_dir), win=32).orderBy(
        "doc_id", "win_idx"
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
# operators/curation.weighted_sample_topk): per-priority top-5 orders by
# totalprice-weighted coin — the corpus-mixing "sample 5 per domain
# proportional to quality" primitive.  Log-domain ES key; the oracle flips
# the identical portable-hash coins.
# ---------------------------------------------------------------------------

_WEIGHTED_SAMPLE_SQL = f"""
    WITH c AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS w,
             round(CAST({_POLY_SQL.format(s="CAST(o_orderkey AS VARCHAR)")}
                        * 48271 % 2147483647 * 48271 % 2147483647
                        % 1000000 + 1 AS DOUBLE) / 1000000, 6) AS u
      FROM orders WHERE o_totalprice > 0
    ),
    k AS (
      SELECT o_orderpriority, o_orderkey, u,
             round(ln(u) / w, 12) AS es_key
      FROM c
    )
    SELECT o_orderpriority, o_orderkey, u, es_key, CAST(rn AS INTEGER) AS es_rank
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY o_orderpriority ORDER BY es_key DESC, o_orderkey) AS rn
      FROM k
    ) WHERE rn <= 5 ORDER BY o_orderpriority, es_rank
"""


@register("q_weighted_sample", _WEIGHTED_SAMPLE_SQL)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement: 5 orders per
    priority class, inclusion probability ∝ o_totalprice, coins from the
    portable poly-hash of the order key (never rand()).  One window
    shuffle on the group key."""
    o = _t(spark, sf_dir, "orders")
    return (
        CU.weighted_sample_topk(
            o, "o_totalprice", k=5, key_col="o_orderkey", group_col="o_orderpriority"
        )
        .select(
            "o_orderpriority",
            "o_orderkey",
            "u",
            "es_key",
            F.col("es_rank").cast("int").alias("es_rank"),
        )
        .orderBy("o_orderpriority", "es_rank")
    )


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank (operators/graph.py) over the customer↔supplier
# trade graph (lineitem⋈orders edges, symmetrized).  Ranks are EXACT bigint
# fixed-point — integer transfer arithmetic makes the shuffle-summed result
# order-independent, so the oracle (unrolled CTE iterations) matches
# bit-for-bit where a float PageRank could not.
# ---------------------------------------------------------------------------


def _pagerank_sql(iters: int = 3) -> str:
    scale = 10**12
    ctes = [
        """e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )""",
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS rank_fp FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""i{i} AS (
      SELECT e.dst AS node, sum(r{i - 1}.rank_fp // od.outdeg) AS inflow
      FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node JOIN od ON e.src = od.src
      GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""r{i} AS (
      SELECT nodes.node,
             CAST((15 * {scale}) // (100 * n) + (85 * coalesce(inflow, 0)) // 100 AS BIGINT) AS rank_fp
      FROM nodes CROSS JOIN nn LEFT JOIN i{i} ON nodes.node = i{i}.node
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT node, rank_fp,
           round(CAST(rank_fp AS DOUBLE) / {scale}, 12) AS rank
    FROM r{iters} ORDER BY node
    """
    )


@register("q_pagerank", _pagerank_sql())
def q_pagerank(spark, sf_dir):
    """3-iteration PageRank (damping 85/100) over the symmetrized
    customer↔supplier trade graph: each round is one join + one
    map-side-combined groupBy sum on the node key; rank mass moves in
    exact 1e-12 fixed-point units so the result is bitwise stable under
    any shuffle schedule."""
    from .operators import graph as GR

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    return GR.pagerank(edges, iters=3).orderBy("node")


# ---------------------------------------------------------------------------
# IVF-PQ ANN (operators/similarity.pq_topk): product-quantized codes +
# asymmetric-distance (ADC) scoring inside IVF cells — the billion-vector
# compressed index (Jégou et al. 2011 / FAISS IVFPQ).  The twin re-derives
# the codebook, the encode argmin, and the left-assoc ADC fold.
# ---------------------------------------------------------------------------


def _pq_sql(dim: int = 64, m: int = 8, ksub: int = 8, n_cells: int = 8, k: int = 3) -> str:
    dsub = dim // m
    NEG = "CAST('-infinity' AS DOUBLE)"

    def coarse_d(t: int) -> str:
        coef = f"CAST((((({t} * 53 + (i - 1) * 29) % 17) - 8) / 8.0) AS DOUBLE)"
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * {coef})), (a, b) -> a + b) AS d{t}"
        )

    def sub_dot(s: int, c: int) -> str:
        coef = f"CAST(((({s} * 53 + {c} * 31 + (i - 1) * 29) % 17) - 8) / 8.0 AS DOUBLE)"
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(embedding[{s * dsub + 1}:{(s + 1) * dsub}], "
            f"(x, i) -> CAST(x AS DOUBLE) * {coef})), (a, b) -> a + b)"
        )

    from .operators.similarity import _pq_centroid

    d_cols = ", ".join(coarse_d(t) for t in range(n_cells))
    all_d = ", ".join(f"d{t}" for t in range(n_cells))
    cell1 = "CASE " + " ".join(f"WHEN d{t} = m1 THEN {t}" for t in range(n_cells)) + " END"
    masked = lambda t: f"(CASE WHEN {t} = cell1 THEN {NEG} ELSE d{t} END)"  # noqa: E731
    m2 = "greatest(" + ", ".join(masked(t) for t in range(n_cells)) + ")"
    cell2 = "CASE " + " ".join(f"WHEN {masked(t)} = m2 THEN {t}" for t in range(n_cells)) + " END"

    enc_scores = ", ".join(
        f"{repr(sum(v * v for v in _pq_centroid(s, c, dsub)))} - 2.0 * ({sub_dot(s, c)}) AS ps_{s}_{c}"
        for s in range(m)
        for c in range(ksub)
    )
    enc_mins = ", ".join(
        "least(" + ", ".join(f"ps_{s}_{c}" for c in range(ksub)) + f") AS pm_{s}"
        for s in range(m)
    )
    enc_codes = ", ".join(
        "CASE "
        + " ".join(f"WHEN ps_{s}_{c} = pm_{s} THEN {c}" for c in range(ksub - 1))
        + f" ELSE {ksub - 1} END AS code{s}"
        for s in range(m)
    )
    lut_cols = ", ".join(
        f"{sub_dot(s, c)} AS lp_{s}_{c}" for s in range(m) for c in range(ksub)
    )
    adc = " + ".join(
        "(CASE "
        + " ".join(f"WHEN code{s} = {c} THEN lp_{s}_{c}" for c in range(ksub))
        + " END)"
        for s in range(m)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {d_cols} FROM embeddings
    ), c1 AS (
      SELECT *, greatest({all_d}) AS m1 FROM base
    ), cc AS (
      SELECT *, {cell1} AS cell1 FROM c1
    ), tenc0 AS (
      SELECT vec_id, cell1 AS cell, {enc_scores} FROM cc
    ), tenc1 AS (
      SELECT *, {enc_mins} FROM tenc0
    ), tgt AS (
      SELECT vec_id, cell, {enc_codes} FROM tenc1
    ), prb0 AS (
      SELECT vec_id AS probe_id, cell1, {m2} AS m2, {all_d}, {lut_cols}
      FROM cc WHERE vec_id < 50
    ), prb AS (
      SELECT * EXCLUDE (cell1, m2, {all_d}),
             unnest([cell1, {cell2}]) AS cell
      FROM prb0
    ), pairs AS (
      SELECT DISTINCT prb.* EXCLUDE (cell), t.vec_id, t.* EXCLUDE (vec_id, cell)
      FROM prb JOIN tgt t USING (cell)
      WHERE probe_id <> t.vec_id
    ), scored AS (
      SELECT probe_id, vec_id, round({adc}, 6) AS adc_dot FROM pairs
    )
    SELECT probe_id, vec_id, adc_dot, rank FROM (
      SELECT probe_id, vec_id, adc_dot,
             row_number() OVER (PARTITION BY probe_id ORDER BY adc_dot DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY probe_id, rank
    """


@register("q_pq_topk", _pq_sql())
def q_pq_topk(spark, sf_dir):
    """IVF-PQ top-k: targets carry 8 one-byte PQ codes + a coarse cell;
    probes carry a 64-entry ADC lookup table; candidates are the nprobe=2
    cell equi-join; the score is the left-assoc sum of 8 LUT lookups —
    the compressed-domain architecture of billion-vector indexes, every
    float mirrored in the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return S.pq_topk(probes, emb, dim=64, m=8, ksub=8, k=3, n_cells=8, nprobe=2).orderBy(
        "probe_id", "rank"
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (operators/sketch.py): d×w integer
# counters, deterministic affine row hashes — estimate >= truth always,
# and the oracle rebuilds every counter.
# ---------------------------------------------------------------------------

_CMS_W, _CMS_D = 256, 3


def _cms_sql(w: int = _CMS_W, d: int = _CMS_D) -> str:
    kh = "((l_partkey * 2654435761) % 2147483647)"
    probe_rows = " UNION ALL ".join(
        f"SELECT l_partkey, {r} AS cms_row, (({kh} * {2 * r + 31} + {r * 97 + 7}) % 2147483647) % {w} AS cms_bucket FROM li"
        for r in range(d)
    )
    return f"""
    WITH li AS (SELECT l_partkey FROM lineitem),
    ins AS ({probe_rows}),
    sk AS (SELECT cms_row, cms_bucket, count(*) AS cnt
           FROM (SELECT * FROM ins) GROUP BY cms_row, cms_bucket),
    truth AS (SELECT l_partkey, count(*) AS true_cnt FROM li GROUP BY l_partkey),
    items AS (SELECT DISTINCT l_partkey, cms_row, cms_bucket FROM ins),
    est AS (
      SELECT items.l_partkey, min(coalesce(sk.cnt, 0)) AS cms_est
      FROM items LEFT JOIN sk USING (cms_row, cms_bucket)
      GROUP BY items.l_partkey
    )
    SELECT t.l_partkey, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est
    FROM truth t JOIN est e USING (l_partkey)
    WHERE t.true_cnt >= 40
    ORDER BY t.l_partkey
    """


@register("q_cms_heavy", _cms_sql())
def q_cms_heavy(spark, sf_dir):
    """Count-min heavy hitters over l_partkey: build the 3×256 sketch
    (map-side-combined counters), point-query every inserted key, report
    keys whose TRUE count >= 40 with their CMS estimate alongside —
    est >= truth by construction, both bigint-exact."""
    from .operators import sketch as SK

    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    hashed = li.withColumn("kh", SK.kmv_hash(F.col("l_partkey")))
    sk = SK.count_min_build(hashed, "kh", w=_CMS_W, d=_CMS_D)
    items = hashed.select("l_partkey", "kh").distinct()
    est = SK.count_min_estimate(sk, items, "kh", w=_CMS_W, d=_CMS_D).drop("kh")
    truth = li.groupBy("l_partkey").agg(F.count("*").alias("true_cnt"))
    return (
        truth.filter(F.col("true_cnt") >= 40)
        .join(est, "l_partkey")
        .select(
            "l_partkey",
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# Ordered funnel (operators/funnel.py): view → click → purchase over the
# events table, strict timestamp progression, first-touch per step.
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    s1 AS (SELECT user_id, min(ts_s) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT ev.user_id, min(ts_s) AS t2
      FROM ev JOIN s1 ON ev.user_id = s1.user_id
      WHERE event_type = 'click' AND ts_s > t1 GROUP BY ev.user_id
    ),
    s3 AS (
      SELECT ev.user_id, min(ts_s) AS t3
      FROM ev JOIN s2 ON ev.user_id = s2.user_id
      WHERE event_type = 'purchase' AND ts_s > t2 GROUP BY ev.user_id
    )
    SELECT s1.user_id, t1, t2, t3,
           CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT AS INTEGER) AS steps_completed
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    ORDER BY s1.user_id
"""


@register("q_funnel", _FUNNEL_SQL)
def q_funnel(spark, sf_dir):
    """view→click→purchase funnel per user: each step one map-side
    min-aggregate keyed on user_id (state = one timestamp per step, never
    a full-history window)."""
    from .operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return (
        FU.funnel(ev, ["view", "click", "purchase"])
        .select("user_id", "t1", "t2", "t3", "steps_completed")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Triangle counting (operators/graph.triangles): degree-ordered wedge
# closure over a deterministic chord graph on the order keys.
# ---------------------------------------------------------------------------

_TRI_EDGE_SQL = """
      SELECT DISTINCT least(o_orderkey % 97, (o_orderkey * 31 + o_custkey) % 97) AS a,
                      greatest(o_orderkey % 97, (o_orderkey * 31 + o_custkey) % 97) AS b
      FROM orders
      WHERE o_orderkey % 97 <> (o_orderkey * 31 + o_custkey) % 97
"""

_TRIANGLES_SQL = f"""
    WITH e AS ({_TRI_EDGE_SQL}),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
             CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS v
      FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
    ),
    tri AS (
      SELECT o1.u AS x, o1.v AS y, o2.v AS z
      FROM o o1 JOIN o o2 ON o1.v = o2.u
      JOIN o oc ON oc.u = o1.u AND oc.v = o2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
    ) GROUP BY node ORDER BY node
"""


@register("q_triangles", _TRIANGLES_SQL)
def q_triangles(spark, sf_dir):
    """Per-node triangle counts on the deterministic 97-node chord graph
    derived from order keys: degree-ordered orientation (the
    curse-of-the-last-reducer fix) then wedge join + closure join."""
    from .operators import graph as GR

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_orderkey") % 97).alias("p"),
        ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % 97).alias("q"),
    ).filter(F.col("p") != F.col("q")).select(
        F.col("p").alias("src"), F.col("q").alias("dst")
    )
    return GR.triangles(edges).withColumn(
        "n_tri", F.col("n_tri").cast("bigint")
    ).orderBy("node")


# ---------------------------------------------------------------------------
# Star-schema rollup with broadcast dims — the canonical OLAP shape
# (TPC-H Q5 family): fact lineitem → orders → customer, customer's nation
# and region as BROADCAST dims (pinned elsewhere by test_plan_quality-style
# checks; dims are thousands of rows — never shuffle the fact side for
# them).  Revenue is summed in EXACT bigint hundredths-of-cents so the
# shuffle-order float nondeterminism can never touch the artifact.
# ---------------------------------------------------------------------------

_STAR_REVENUE_SQL = """
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT)
             AS revenue_c4
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
"""


@register("q_star_revenue", _STAR_REVENUE_SQL)
def q_star_revenue(spark, sf_dir):
    """Revenue by region/nation over the star schema: the fact table
    shuffles once on the join keys, nation+region ride as broadcast
    literals, and the measure is per-row rounded into bigint 1e-4 units
    before the (order-independent) integer sum."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(cents).cast("bigint").alias("revenue_c4"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Inverted index + BPE merge-pair counting (operators/index.py)
# ---------------------------------------------------------------------------

_INVERTED_INDEX_SQL = f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, unnest({_TOKS_SQL.format(t="text")}) AS token
      FROM documents
    ),
    counted AS (
      SELECT token, count(*) AS df FROM pairs GROUP BY token
    )
    SELECT token, CAST(df AS BIGINT) AS df,
           array_to_string(postings, ',') AS postings
    FROM (
      SELECT p.token, c.df, list_sort(list(p.doc_id)) AS postings
      FROM pairs p JOIN counted c USING (token)
      WHERE c.df BETWEEN 3 AND 400
      GROUP BY p.token, c.df
    ) ORDER BY token
"""


@register("q_inverted_index", _INVERTED_INDEX_SQL)
def q_inverted_index(spark, sf_dir):
    """Posting-list build over the documents table (tokens with document
    frequency in [3, 400] — the stopword/hapax band-pass that keeps any
    single list bounded): sorted postings + df, deterministic list order
    via sort_array."""
    from .operators import index as IX

    d = _t(spark, sf_dir, "documents")
    return (
        IX.inverted_index(d, min_df=3, max_df=400)
        .withColumn("postings", F.array_join("postings", ","))
        .orderBy("token")
    )


_MERGE_PAIRS_SQL = f"""
    WITH t AS (
      SELECT {_TOKS_SQL.format(t="text")} AS toks FROM documents
    ),
    p AS (
      SELECT unnest(
               CASE WHEN len(toks) >= 2
                    THEN list_transform(
                           list_zip(toks[1:len(toks) - 1], toks[2:len(toks)]),
                           s -> s[1] || ' ' || s[2])
                    ELSE CAST([] AS VARCHAR[]) END) AS pair
      FROM t
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
"""


@register("q_bpe_merge_pairs", _MERGE_PAIRS_SQL)
def q_bpe_merge_pairs(spark, sf_dir):
    """One BPE merge round's counting pass: top-20 adjacent token pairs
    corpus-wide — zip-shifted arrays explode map-side, one combined count,
    TakeOrderedAndProject top-k (no global sort)."""
    from .operators import index as IX

    d = _t(spark, sf_dir, "documents")
    return IX.merge_pair_counts(d, top_n=20)


# ---------------------------------------------------------------------------
# Exact per-label centroids in the quantized domain: int8 codes sum as
# bigints (order-independent — a float centroid build would be shuffle-
# nondeterministic), count alongside; the float centroid is recovered
# downstream as csum/n at display precision.
# ---------------------------------------------------------------------------

_SQ8_CENTROID_SQL = f"""
    WITH codes AS ({_SQ8_Q_SQL.replace("embeddings", "embeddings")}),
    lab AS (
      SELECT e.label, c.q FROM embeddings e JOIN codes c USING (vec_id)
    ),
    x AS (
      SELECT label, generate_subscripts(q, 1) AS pos, unnest(q) AS qv
      FROM lab
    ),
    s AS (
      SELECT label, pos, sum(qv) AS s FROM x GROUP BY label, pos
    )
    SELECT label, CAST(n AS BIGINT) AS n,
           array_to_string(csum, ',') AS csum
    FROM (
      SELECT s.label, list(s.s ORDER BY s.pos) AS csum, max(cnt.n) AS n
      FROM s JOIN (SELECT label, count(*) AS n FROM lab GROUP BY label) cnt
        USING (label)
      GROUP BY s.label
    ) ORDER BY label
"""


@register("q_sq8_centroids", _SQ8_CENTROID_SQL)
def q_sq8_centroids(spark, sf_dir):
    """Per-label centroid accumulators over int8-quantized embeddings:
    posexplode → (label, pos) bigint sums → re-assembled ordered array.
    Everything integer, so the grouped sums are bitwise stable under any
    partitioning."""
    emb = _t(spark, sf_dir, "embeddings")
    coded = emb.select("vec_id", "label", S.sq8_codes(F.col("embedding")).alias("q"))
    x = coded.select("label", F.posexplode("q").alias("pos", "qv"))
    s = x.groupBy("label", "pos").agg(F.sum("qv").alias("s"))
    n = coded.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    asm = (
        s.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))), lambda t: t["s"]
            ).alias("csum")
        )
    )
    return (
        n.join(asm, "label")
        .select("label", "n", F.array_join("csum", ",").alias("csum"))
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Bitmap-index audience intersection (operators/bitmap.py): per-(event_type,
# 32-user block) words built with bit_or partial agg; pair cardinalities =
# block AND + popcount.  The oracle computes the same answer by the NAIVE
# algorithm (distinct member intersection) — a cross-ALGORITHM check, not
# just cross-engine.
# ---------------------------------------------------------------------------

_BITMAP_SQL = """
    WITH m AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS key_a, b.event_type AS key_b,
           CAST(count(*) AS BIGINT) AS n_both
    FROM m a JOIN m b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q_bitmap_intersect", _BITMAP_SQL)
def q_bitmap_intersect(spark, sf_dir):
    """Audience overlap between every event-type pair via the segment
    bitmap index: |keys|·|blocks| words cross the wire, never member
    rows."""
    from .operators import bitmap as BM

    ev = _t(spark, sf_dir, "events")
    idx = BM.bitmap_build(ev, "event_type", "user_id")
    return BM.bitmap_pair_counts(idx).orderBy("key_a", "key_b")


# ---------------------------------------------------------------------------
# Trailing moving aggregate in exact integer units (operators/rollup.
# moving_agg): 7-event trailing spend per user.
# ---------------------------------------------------------------------------

_MOVING_AVG_SQL = """
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(round(value * 100) AS BIGINT) AS value_c
      FROM events
    )
    SELECT user_id, event_id, ts_s,
           CAST(sum(value_c) OVER w AS BIGINT) AS mov_sum_c,
           CAST(count(*) OVER w AS BIGINT) AS mov_n,
           round(CAST(sum(value_c) OVER w AS DOUBLE)
                 / (100.0 * count(*) OVER w), 6) AS mov_avg
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_s, event_id
"""


@register("q_moving_avg", _MOVING_AVG_SQL)
def q_moving_avg(spark, sf_dir):
    """7-event trailing average spend per user: the measure is bigint
    cents inside the window (order-independent exact sum), ONE double
    division at the end."""
    from .operators import rollup as RU

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("ts_s"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    out = RU.moving_agg(ev, "user_id", ["ts_s", "event_id"], "value_c", n=7)
    return out.select(
        "user_id",
        "event_id",
        "ts_s",
        "mov_sum_c",
        "mov_n",
        F.round(F.col("mov_sum_c").cast("double") / (F.lit(100.0) * F.col("mov_n")), 6).alias(
            "mov_avg"
        ),
    ).orderBy("user_id", "ts_s", "event_id")


# ---------------------------------------------------------------------------
# Batch sessionization (operators/funnel.sessionize_batch): 6-hour gap rule,
# the batch twin of the streaming stateful sessionizer.
# ---------------------------------------------------------------------------

_SESSIONS_BATCH_SQL = """
    WITH ev AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_s,
             CASE WHEN lag(ts_s) OVER w IS NULL
                       OR ts_s - lag(ts_s) OVER w > 21600 THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    sess AS (
      -- cumsum MUST share the lag window's full (ts_s, event_id) order:
      -- a ts_s-only order would let same-second ties land in different
      -- sessions than the engine's deterministic tie-break
      SELECT user_id, ts_s,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           min(ts_s) AS start_s, max(ts_s) AS end_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
"""


@register("q_sessions_batch", _SESSIONS_BATCH_SQL)
def q_sessions_batch(spark, sf_dir):
    """Gap-based sessions (gap > 6 h starts a new one): lag-flag-cumsum
    sharing one user_id window shuffle, rolled up to per-session spans."""
    from .operators import funnel as FU

    ev = _t(spark, sf_dir, "events")
    return (
        FU.sessionize_batch(ev, gap_s=21600)
        .withColumn("session_idx", F.col("session_idx").cast("bigint"))
        .orderBy("user_id", "session_idx")
    )


# ---------------------------------------------------------------------------
# Anti-entropy table checksum (operators/diff.table_checksum): replica
# comparison at the cost of |groups| rows.
# ---------------------------------------------------------------------------

_CHECKSUM_SQL = f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_POLY_SQL.format(
               s="CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus || chr(31) || CAST(o_custkey AS VARCHAR)")})
                AS BIGINT) AS checksum
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("q_table_checksum", _CHECKSUM_SQL)
def q_table_checksum(spark, sf_dir):
    """Replica-comparison checksums per priority group: bigint sum of
    portable row hashes — order-independent, re-derivable by any ANSI
    engine holding the other replica."""
    from .operators import diff as DF

    o = _t(spark, sf_dir, "orders")
    return DF.table_checksum(
        o, ["o_orderkey", "o_orderstatus", "o_custkey"], "o_orderpriority"
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# SCD-2 dimension build (operators/diff.scd2_intervals) over a deterministic
# 3-version synthetic history.  The oracle detects changes by DIRECT value
# comparison where the engine compares md5 signatures — cross-algorithm.
# ---------------------------------------------------------------------------

_SCD2_SQL = """
    WITH hist AS (
      SELECT o_orderkey, v.v AS version,
             CASE WHEN v.v = 1 THEN o_orderstatus
                  WHEN v.v = 2 AND o_orderkey % 3 = 0 THEN 'X'
                  WHEN v.v = 3 AND o_orderkey % 4 = 0 THEN 'Y'
                  WHEN v.v = 3 AND o_orderkey % 3 = 0 THEN 'X'
                  ELSE o_orderstatus END AS status
      FROM orders CROSS JOIN (VALUES (1), (2), (3)) v(v)
    ),
    changed AS (
      SELECT * FROM (
        SELECT o_orderkey, version, status,
               lag(status) OVER (PARTITION BY o_orderkey ORDER BY version) AS prev
        FROM hist
      ) WHERE prev IS NULL OR status <> prev
    )
    SELECT o_orderkey, status,
           version AS valid_from,
           lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to
    FROM changed ORDER BY o_orderkey, valid_from
"""


@register("q_scd2", _SCD2_SQL)
def q_scd2(spark, sf_dir):
    """SCD-type-2 intervals from a versioned history: change rows only
    (lag signature comparison), closed by lead() — one key-window shuffle
    shared by both."""
    from .operators import diff as DF

    o = _t(spark, sf_dir, "orders")
    hist = o.select(
        "o_orderkey",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("version"),
        "o_orderstatus",
    ).select(
        "o_orderkey",
        "version",
        F.when(F.col("version") == 1, F.col("o_orderstatus"))
        .when((F.col("version") == 2) & (F.col("o_orderkey") % 3 == 0), F.lit("X"))
        .when((F.col("version") == 3) & (F.col("o_orderkey") % 4 == 0), F.lit("Y"))
        .when((F.col("version") == 3) & (F.col("o_orderkey") % 3 == 0), F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    return DF.scd2_intervals(hist, "o_orderkey", "version", ["status"]).orderBy(
        "o_orderkey", "valid_from"
    )


# ---------------------------------------------------------------------------
# Retention cohorts — the product-analytics matrix: users grouped by first-
# seen week, distinct-active counts per week offset.
# ---------------------------------------------------------------------------

_RETENTION_SQL = """
    WITH wk AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
      FROM events
    ),
    uw AS (SELECT DISTINCT user_id, week FROM wk),
    cohort AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
    SELECT c.cohort_week,
           CAST(u.week - c.cohort_week AS BIGINT) AS week_offset,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users
    FROM uw u JOIN cohort c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q_retention_cohorts", _RETENTION_SQL)
def q_retention_cohorts(spark, sf_dir):
    """Weekly retention matrix: cohort = each user's first active week;
    cells = distinct users active at each week offset.  Two
    map-side-combined aggregates + one broadcast-sized cohort join."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) div 604800").alias("week"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs — near-dup / related-document retrieval over
# the inverted index, sharing only RARE tokens (df band-pass bounds the
# join).  Weights are INTEGER (tf · round(ln(N/df)·1000)) so every grouped
# sum is order-independent bigint math; the one float op is the final
# cos = dot / sqrt(na·nb).
# ---------------------------------------------------------------------------

_SPARSE_COS_SQL = f"""
    WITH tk AS (
      SELECT doc_id, unnest({_TOKS_SQL.format(t="text")}) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY doc_id, token),
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    w AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000) AS BIGINT) AS w
      FROM tf JOIN dfreq USING (token) CROSS JOIN n_docs
      WHERE df BETWEEN 2 AND 50
    ),
    nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos_sparse
    FROM dots JOIN nrm na ON dots.id_a = na.doc_id
              JOIN nrm nb ON dots.id_b = nb.doc_id
    WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.1
    ORDER BY id_a, id_b
"""


@register("q_sparse_cosine", _SPARSE_COS_SQL)
def q_sparse_cosine(spark, sf_dir):
    """Sparse cosine similarity through the rare-token join (df in
    [2, 50] — stopwords never enter the pair space, the same band-pass
    doctrine as the inverted index): integer tf·idf weights, bigint dots
    and norms, one final double divide."""
    d = _t(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    w = (
        tf.join(dfreq, "token")
        .filter((F.col("df") >= 2) & (F.col("df") <= 50))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.round(F.log(F.col("n").cast("double") / F.col("df")) * 1000).cast(
                    "bigint"
                )
            ).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("doc_id").alias("id_a"), "token", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "token", F.col("w").alias("wb"))
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("na2").cast("double") * F.col("nb2").cast("double")
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cos >= 0.1)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sparse"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# ROLLUP grouping sets — the OLAP subtotal lattice (priority × status with
# per-priority and grand totals), grouping_id disambiguating the levels.
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
    SELECT coalesce(o_orderpriority, '(all)') AS prio,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY gid, prio, status
"""


@register("q_rollup_sets", _ROLLUP_SQL)
def q_rollup_sets(spark, sf_dir):
    """Subtotal lattice via ROLLUP(priority, status): detail rows,
    per-priority subtotals, and the grand total in one pass — Spark
    expands the grouping sets map-side, so it is still one shuffle.
    Measures in exact bigint cents."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("total_c"),
            (F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus"))
            .cast("bigint")
            .alias("gid"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("prio"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "gid",
            "n",
            "total_c",
        )
        .orderBy("gid", "prio", "status")
    )


# ---------------------------------------------------------------------------
# Pivot — status classes widened into columns (explicit value list so the
# plan needs no discovery pass).
# ---------------------------------------------------------------------------

_PIVOT_SQL = """
    SELECT o_orderpriority AS prio,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority ORDER BY prio
"""


@register("q_pivot_status", _PIVOT_SQL)
def q_pivot_status(spark, sf_dir):
    """Order counts per priority pivoted by status: the explicit value
    list keeps pivot a single-pass conditional aggregation (no extra
    distinct-discovery job)."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.col("o_orderpriority").alias("prio"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "prio",
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"),
    ).orderBy("prio")


# ---------------------------------------------------------------------------
# Latest-row-per-key by struct-max aggregation — dedup-to-current-version
# as ONE map-side-combinable agg (no window sort).  The oracle derives the
# same row by window rank — cross-algorithm equivalence on the unique
# (o_orderdate, o_orderkey) order.
# ---------------------------------------------------------------------------

_LATEST_SQL = """
    SELECT o_custkey, o_orderkey AS latest_key,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS latest_date_s,
           o_orderstatus AS latest_status
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1 ORDER BY o_custkey
"""


@register("q_latest_by", _LATEST_SQL)
def q_latest_by(spark, sf_dir):
    """Each customer's most recent order via max(struct(date, key,
    status)) — partial-aggregates combine map-side, so the dedup costs
    one narrow shuffle instead of a per-key window sort; ties are
    impossible because the struct embeds the unique key."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max(
            F.struct(
                F.unix_timestamp("o_orderdate").cast("bigint").alias("d"),
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("s"),
            )
        ).alias("m")
    )
    return m.select(
        "o_custkey",
        F.col("m.k").alias("latest_key"),
        F.col("m.d").alias("latest_date_s"),
        F.col("m.s").alias("latest_status"),
    ).orderBy("o_custkey")
