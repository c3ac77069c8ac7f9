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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import skew

M_PER_DEG_LAT = 110_540.0
M_PER_DEG_LON_EQ = 111_320.0


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

    Dedupe (r6, guide §2.4 "remove shuffles outright"): a pair sharing
    several buckets is emitted only in its *canonical* bucket — the one
    containing the intersection's lower-left corner (max of the two min
    corners).  For an overlapping pair that corner lies inside both boxes, so
    both covers contain its bucket and the pair is emitted there exactly
    once; non-overlapping pairs are dropped by the w>0 ∧ h>0 refine
    regardless.  This replaces the previous dropDuplicates, which shuffled
    every (pair × shared-bucket) row with all eight bbox columns through an
    exchange."""

    def bucketed(df: DataFrame, pfx: str):
        bx = F.explode(
            F.sequence(
                F.floor(F.col("min_lon") / bucket_deg).cast("long"),
                F.floor(F.col("max_lon") / bucket_deg).cast("long"),
            )
        ).alias("bx")
        out = df.select("*", bx)
        by = F.explode(
            F.sequence(
                F.floor(F.col("min_lat") / bucket_deg).cast("long"),
                F.floor(F.col("max_lat") / bucket_deg).cast("long"),
            )
        ).alias("by")
        out = out.select("*", by)
        renames = {c: f"{pfx}{c}" for c in ("min_lon", "min_lat", "max_lon", "max_lat")}
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        return out

    aa = bucketed(a.select(a_id, "min_lon", "min_lat", "max_lon", "max_lat"), "a_")
    bb = bucketed(b.select(b_id, "min_lon", "min_lat", "max_lon", "max_lat"), "b_")
    # r6 (guide §2.5/§3.1): the bucketed sides are small in BYTES (id + 4
    # doubles + bucket) while the join output is the quadratic pair space, so
    # the planner broadcast one side and streamed the other through its scan
    # partitioning — the whole pair refine ran as one task on a single-file
    # input.  An explicit repartition on the bucket keys (exempt from AQE
    # byte-based coalescing) + shuffled-hash join spreads the pair work over
    # the session's shuffle width; neither side broadcasts at 100 TB anyway.
    n_parts = skew.shuffle_width(a.sparkSession)
    aa = aa.repartition(n_parts, "bx", "by").hint("shuffle_hash")
    bb = bb.repartition(n_parts, "bx", "by").hint("shuffle_hash")
    j = aa.join(bb, ["bx", "by"]).filter(
        (F.col("bx") == F.floor(F.greatest(F.col("a_min_lon"), F.col("b_min_lon")) / bucket_deg).cast("long"))
        & (F.col("by") == F.floor(F.greatest(F.col("a_min_lat"), F.col("b_min_lat")) / bucket_deg).cast("long"))
    ).drop("bx", "by")

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
