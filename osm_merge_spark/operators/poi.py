"""Point-distance kNN join (POI conflation / dedup).

Reference: `osm_merge/conflatePOI.py:86-153` (haversine candidates within
tolerance, consumer takes nearest — the PostGIS variant is
``ST_Distance ... ORDER BY ST_Distance`` `:316-318`), and the brute-force
dup finder `osm_merge/poidup.py:19-28`.

Spark design: manufacture the cell equi-key at a zoom derived from the
tolerance, expand the target side to every cell its tolerance box touches,
hash-join, then haversine + nearest pick — all JVM-side Column math (no
Python at all for point joins).  The expansion sits on the targets, the
streamed side: the probes are the broadcast build side, whose stage runs in
a few tasks and whose size estimate must stay under the broadcast
threshold (see knn_join).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import grid


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle meters as a Column expression (whole-stage codegen)."""
    rlon1, rlat1, rlon2, rlat2 = (F.radians(c) for c in (lon1, lat1, lon2, lat2))
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return 2 * 6_371_008.8 * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def zoom_for_tolerance(tolerance_m: float, max_abs_lat: float = 60.0) -> int:
    """Pick the deepest zoom whose cell edge at ``max_abs_lat`` still
    exceeds the tolerance, so a target's tolerance box (×1.25 margin)
    touches at most 3×3 cells below that latitude — derived, not
    hard-coded.  (Above it the box spans more cells; results do not depend
    on the zoom.)"""
    for z in range(24, 4, -1):
        if grid.cell_size_m(z, max_abs_lat) >= tolerance_m:
            return z
    return 4


def _cell_col(lon: Column, lat: Column, z: int) -> Column:
    """Pure-Column mercator cell id — identical math to grid.cell_id but in
    whole-stage codegen (x/y packed side-by-side; hierarchy not needed here)."""
    n = F.lit(float(1 << z))
    lat_c = F.least(F.greatest(lat, F.lit(-85.05112878)), F.lit(85.05112878))
    x = F.floor((lon + 180.0) / 360.0 * n).cast("long")
    y = F.floor((1.0 - F.asinh(F.tan(F.radians(lat_c))) / float(np.pi)) / 2.0 * n).cast("long")
    x = F.least(F.greatest(x, F.lit(0)), F.lit((1 << z) - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit((1 << z) - 1))
    return (x * F.lit(1 << z) + y).cast("long")


def knn_join(
    probes: DataFrame,
    targets: DataFrame,
    tolerance_m: float = 7.0,
    k: int = 1,
    probe_id: str = "poi_id",
    target_id: str = "osm_id",
) -> DataFrame:
    """For each probe point, the k nearest target points within tolerance.

    probes:  (probe_id, lon, lat, ...); targets: (target_id, lon, lat, ...).
    Returns (probe_id, target_id, p_lon, p_lat, dist, rank).  At k = 1 the
    nearest pick is ``min(struct(dist, target_id, p_lon, p_lat))`` per
    probe, partially aggregated before its exchange: the shuffled row is the
    probe id and that one struct.
    Entirely JVM-side: cell equi-join + haversine + nearest pick.  Exact
    for points within the mercator latitude range (|lat| ≤ 85.05112878).

    Each probe keys on its own cell; each target is expanded to every cell
    its tolerance box touches (tolerance ×1.25 for the local-scale
    approximation) — the border-epsilon pattern of the conflation cover
    (grid.cover_polyline pad_m): 1 cell for an interior target, 2-4 near a
    border, unique by construction, so no dedupe exchange.  Candidate
    discovery is a superset: a probe within tolerance of a target lies in
    a cell the target's box touches.

    The expansion is on the targets because they are the streamed side;
    the probes are the broadcast build side, whose stage runs in few tasks.
    The mercator math (``ASINH``/``TAN``) runs once per target in a
    projection of three helper columns (tile x, tile y, tolerance in
    tiles), and the expansion reads only those columns through two
    ``explode(sequence(...))``: no lambda, which Spark would evaluate
    without generated code or shared subexpressions.  The probes get no
    helper columns: three more would lift their size estimate past the
    broadcast threshold and turn the join into a sort-merge join shuffling
    both sides.  No broadcast hint: the probe side has no size bound at
    scale.
    """
    z = zoom_for_tolerance(tolerance_m)
    n = 1 << z
    p = probes.select(
        F.col(probe_id), F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat")
    ).withColumn("cell", _cell_col(F.col("p_lon"), F.col("p_lat"), z))

    lat_c = F.least(F.greatest(F.col("t_lat"), F.lit(-85.05112878)), F.lit(85.05112878))
    t = targets.select(
        F.col(target_id), F.col("lon").alias("t_lon"), F.col("lat").alias("t_lat")
    ).select(
        "*",
        ((F.col("t_lon") + 180.0) / 360.0 * n).alias("__xf"),
        ((1.0 - F.asinh(F.tan(F.radians(lat_c))) / float(np.pi)) / 2.0 * n).alias("__yf"),
        # tolerance (×1.25 for the local-scale approximation) as a fraction
        # of a tile edge: mercator is locally conformal, so a zoom-z tile
        # spans the same ground meters in x and y at the target's latitude
        (
            F.lit(tolerance_m * 1.25)
            / (F.lit(grid.EARTH_CIRCUMFERENCE_M) * F.cos(F.radians(lat_c)) / n)
        ).alias("__pad"),
    )
    xf, yf, pad = F.col("__xf"), F.col("__yf"), F.col("__pad")
    # every tile the target's tolerance box touches: x wraps at the
    # antimeridian (at most n columns, so no duplicates), y clamps at the
    # mercator edge; 1 cell for an interior target, 2-4 near a border
    x0 = F.floor(xf - pad)
    x1 = F.least(F.floor(xf + pad), x0 + (n - 1))
    y0 = F.greatest(F.floor(yf - pad), F.lit(0))
    y1 = F.least(F.floor(yf + pad), F.lit(n - 1))
    point = [target_id, "t_lon", "t_lat"]
    t = (
        t.select(*point, F.explode(F.sequence(x0, x1)).alias("__x"), y0.alias("__y0"), y1.alias("__y1"))
        .select(*point, "__x", F.explode(F.sequence("__y0", "__y1")).alias("__y"))
        .select(*point, (F.pmod("__x", F.lit(n)) * n + F.col("__y")).cast("long").alias("cell"))
    )

    joined = p.join(t, "cell").withColumn(
        "dist", haversine_col(F.col("p_lon"), F.col("p_lat"), F.col("t_lon"), F.col("t_lat"))
    )
    joined = joined.filter(F.col("dist") <= tolerance_m)
    if k == 1:
        # nearest-only (the reference's case): one min(struct) aggregation
        # replaces the pair-dedupe shuffle AND the rank window — map-side
        # partial agg collapses to one row per probe before the exchange
        # (SortAggregate due to the struct buffer; the shuffle reduction is
        # the win).  The struct leads with the ordering (dist, target id),
        # so each value crosses the exchange once.  Ring-duplicate rows of
        # the same pair are identical rows, so the pick stays deterministic
        # without deduping first.
        best = F.min(F.struct("dist", target_id, "p_lon", "p_lat")).alias("__b")
        return (
            joined.groupBy(probe_id)
            .agg(best)
            .select(probe_id, *[F.col("__b")[c].alias(c) for c in (target_id, "p_lon", "p_lat", "dist")])
            .withColumn("rank", F.lit(1))
        )
    # a target can reach a probe through several ring cells → dedupe pair
    joined = joined.groupBy(probe_id, target_id).agg(
        F.first("p_lon").alias("p_lon"),
        F.first("p_lat").alias("p_lat"),
        F.min("dist").alias("dist"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.asc("dist"), F.asc(target_id))
    return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
