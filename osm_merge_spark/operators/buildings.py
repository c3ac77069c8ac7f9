"""Building-footprint overlap join + duplicate removal.

Reference: `osm_merge/conflateBuildings.py:73-143` — cross join on
``ST_INTERSECTS`` with ``ST_Area(ST_Intersection(...))``, duplicates deleted
via a semi-join (`:121`), "new" buildings via anti-join (`:114-143`).

Engine shape: footprints carried as bbox columns (axis-aligned boxes — the
synthetic corpus uses rectangles, and the overlap math is then exact Column
arithmetic; full-polygon intersection area runs through the numpy shoelace
kernel when polygons are supplied).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans import skew

M_PER_DEG_LAT = 110_540.0
M_PER_DEG_LON_EQ = 111_320.0
BOX = ("min_lon", "min_lat", "max_lon", "max_lat")


def overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_id: str = "bld_id",
    b_id: str = "osm_bld_id",
    bucket_deg: float = 0.01,
    min_overlap_m2: float = 0.0,
) -> DataFrame:
    """Pairs of overlapping boxes with intersection area (m², equirect at the
    pair's latitude).  Equi-join on a coarse lon/lat bucket (each box lands in
    every bucket its bbox touches), exact overlap refine, report-once dedupe.

    a/b: (<id>, min_lon, min_lat, max_lon, max_lat, ...).

    Each side crosses its exchange as (<id>, its four bbox doubles, bx),
    hash-partitioned on ``bx`` alone: the bucket's x and y indices (floor of
    lon and lat over ``bucket_deg``) packed into one long, x·2³² + y.  The
    packing is one-to-one while |y| < 2³¹, far beyond any latitude.

    Dedupe (r6, guide §2.4 "remove shuffles outright"): a pair sharing
    several buckets is emitted only in its *canonical* bucket — the one
    containing the intersection's lower-left corner (max of the two min
    corners).  For an overlapping pair that corner lies inside both boxes, so
    both covers contain its bucket and the pair is emitted there exactly
    once; non-overlapping pairs are dropped by the w>0 ∧ h>0 refine
    regardless.  This replaces the previous dropDuplicates, which shuffled
    every (pair × shared-bucket) row with all eight bbox columns through an
    exchange."""

    def index(c: Column) -> Column:
        return F.floor(c / bucket_deg).cast("long")

    def key(x: Column, y: Column) -> Column:
        return x * (1 << 32) + y

    def bucketed(df: DataFrame, pfx: str):
        def span(lo: str, hi: str) -> Column:
            return F.explode(F.sequence(index(F.col(lo)), index(F.col(hi))))

        out = df.select("*", span("min_lon", "max_lon").alias("__x"))
        out = out.select("*", span("min_lat", "max_lat").alias("__y"))
        # the key goes last: LZ4 compresses the shuffled rows better so (on
        # perfbench poi-tasking, seed 1: 7.98 MB against 8.30 MB key first)
        return out.select(
            *[F.col(c).alias(pfx + c) if c in BOX else c for c in df.columns],
            key(F.col("__x"), F.col("__y")).alias("bx"),
        )

    aa = bucketed(a.select(a_id, *BOX), "a_")
    bb = bucketed(b.select(b_id, *BOX), "b_")
    # r6 (guide §2.5/§3.1): the bucketed sides are small in BYTES (id + 4
    # doubles + bucket key) while the join output is the quadratic pair
    # space, so the planner broadcast one side and streamed the other through
    # its scan partitioning — the whole pair refine ran as one task on a
    # single-file input.  An explicit repartition on the bucket key (exempt
    # from AQE byte-based coalescing) + shuffled-hash join spreads the pair
    # work over the session's shuffle width; neither side broadcasts at
    # 100 TB anyway.  One packed key column (named ``bx``, which is also how
    # perfbench's trace finds this join) instead of the (bx, by) pair: one
    # long less on every bucketed row, and one hash input.
    n_parts = skew.shuffle_width(a.sparkSession)
    aa = aa.repartition(n_parts, "bx").hint("shuffle_hash")
    bb = bb.repartition(n_parts, "bx").hint("shuffle_hash")
    canonical = key(index(F.greatest("a_min_lon", "b_min_lon")), index(F.greatest("a_min_lat", "b_min_lat")))
    j = aa.join(bb, "bx").filter(F.col("bx") == canonical).drop("bx")

    w = F.greatest(
        F.least(F.col("a_max_lon"), F.col("b_max_lon")) - F.greatest(F.col("a_min_lon"), F.col("b_min_lon")),
        F.lit(0.0),
    )
    h = F.greatest(
        F.least(F.col("a_max_lat"), F.col("b_max_lat")) - F.greatest(F.col("a_min_lat"), F.col("b_min_lat")),
        F.lit(0.0),
    )
    mid_lat = (F.col("a_min_lat") + F.col("a_max_lat")) / 2.0
    area_m2 = w * M_PER_DEG_LON_EQ * F.cos(F.radians(mid_lat)) * h * M_PER_DEG_LAT
    return (
        j.withColumn("overlap_m2", F.round(area_m2, 6))
        .filter((w > 0) & (h > 0) & (F.col("overlap_m2") > min_overlap_m2))
    )


def remove_duplicates(candidates: DataFrame, dups: DataFrame, id_col: str, dup_id_col: str) -> DataFrame:
    """`DELETE FROM ways_view WHERE osm_id IN (SELECT id1 FROM dups_view)`
    (`conflateBuildings.py:121`) → left_anti."""
    return candidates.join(
        dups.select(F.col(dup_id_col).alias(id_col)).distinct(), id_col, "left_anti"
    )


def new_buildings(external: DataFrame, overlaps: DataFrame, ext_id: str = "bld_id") -> DataFrame:
    """External footprints with no OSM overlap → 'new' output (`:114-143`)."""
    return external.join(overlaps.select(ext_id).distinct(), ext_id, "left_anti")
