"""Tiling engine: AOI task-grid generation + feature→tile assignment +
per-tile fan-out writes.

Reference: `osm_merge/utilities/tm_splitter.py:103-184` (square grid over the
AOI, area filter `:170-177`) and `:322-500` (feature routed to every task
polygon it is within/intersects; one output file per task → here
``partitionBy(tile_id)``).

The grid is a square lon/lat grid (the reference's grid is square in EPSG:3857
meters; ours is square in degrees with the meter size converted at the AOI's
center latitude — same task-sizing semantics, simpler math that an ANSI-SQL
oracle can replicate exactly).  Assignment uses exact segment/box tests after
a coarse cell pre-join, so a feature can land in multiple tiles (the checked
"tile assignments" invariant).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as G
from ..plans import stage

M_PER_DEG_LAT = 110_540.0


def make_grid(
    spark: SparkSession,
    min_lon: float,
    min_lat: float,
    max_lon: float,
    max_lat: float,
    tile_m: float = 10_000.0,
) -> DataFrame:
    """Task grid over the AOI bbox: tile_id, tile_x, tile_y, bounds columns.
    Driver-side arithmetic only for the (tiny) grid definition; the grid
    itself materializes distributed via sequence+explode."""
    dlon, dlat, nx, ny = grid_params(min_lon, min_lat, max_lon, max_lat, tile_m)
    return (
        spark.range(1)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(nx - 1))).alias("tile_x"),
        )
        .select("tile_x", F.explode(F.sequence(F.lit(0), F.lit(ny - 1))).alias("tile_y"))
        .select(
            F.concat(F.lit("Task_"), (F.col("tile_x") * ny + F.col("tile_y")).cast("string")).alias("tile_id"),
            "tile_x",
            "tile_y",
            (F.lit(min_lon) + F.col("tile_x") * dlon).alias("min_lon"),
            (F.lit(min_lat) + F.col("tile_y") * dlat).alias("min_lat"),
            (F.lit(min_lon) + (F.col("tile_x") + 1) * dlon).alias("max_lon"),
            (F.lit(min_lat) + (F.col("tile_y") + 1) * dlat).alias("max_lat"),
        )
    )


def grid_params(min_lon, min_lat, max_lon, max_lat, tile_m=10_000.0):
    mid_lat = (min_lat + max_lat) / 2.0
    dlat = tile_m / M_PER_DEG_LAT
    dlon = tile_m / (111_320.0 * float(np.cos(np.radians(mid_lat))))
    nx = int(np.ceil((max_lon - min_lon) / dlon))
    ny = int(np.ceil((max_lat - min_lat) / dlat))
    return dlon, dlat, nx, ny


def assign_points_to_tiles(
    points: DataFrame, min_lon: float, min_lat: float, max_lon: float, max_lat: float, tile_m: float = 10_000.0
) -> DataFrame:
    """Point → tile routing as pure Column math (floor division — exactly the
    semantics an ANSI oracle reproduces). Points outside the AOI are dropped
    (the reference clips to the AOI first, `tm_splitter.py:144-145`)."""
    dlon, dlat, _nx, ny = grid_params(min_lon, min_lat, max_lon, max_lat, tile_m)
    inside = (
        (F.col("lon") >= min_lon) & (F.col("lon") < max_lon) & (F.col("lat") >= min_lat) & (F.col("lat") < max_lat)
    )
    tx = F.floor((F.col("lon") - min_lon) / dlon).cast("long")
    ty = F.floor((F.col("lat") - min_lat) / dlat).cast("long")
    return points.filter(inside).withColumn(
        "tile_id", F.concat(F.lit("Task_"), (tx * ny + ty).cast("string"))
    )


def line_tiles_kernel(
    flat: np.ndarray,
    offsets: np.ndarray,
    min_lon: float,
    min_lat: float,
    dlon: float,
    dlat: float,
    nx: int,
    ny: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Ragged polylines → unique (row, tile_index) pairs.

    Every segment is sampled at quarter-tile spacing (conservative supercover)
    with NO per-row Python: one densification pass over all segments of the
    batch at once (the `grid.cover_polyline` layout).  Samples falling outside
    the [0,nx)×[0,ny) grid are dropped — the reference clips features to the
    AOI before routing (`tm_splitter.py:144-145`); without the upper bound a
    tile index would alias into a different valid task id.
    """
    n_rows = len(offsets) - 1
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    if flat.shape[0] == 0:
        return empty
    seg_a, seg_b = flat[:-1], flat[1:]
    seg_row = np.repeat(np.arange(n_rows, dtype=np.int64), np.diff(offsets))
    last_vertex = offsets[1:] - 1
    keep = np.ones(flat.shape[0] - 1, dtype=bool)
    keep[last_vertex[last_vertex < flat.shape[0] - 1]] = False
    seg_a, seg_b = seg_a[keep], seg_b[keep]
    seg_rows = seg_row[:-1][keep]
    if seg_a.shape[0] == 0:  # degenerate single-vertex rows route nowhere (P4)
        return empty
    steps = np.maximum(
        np.ceil(
            np.maximum(
                np.abs(seg_b[:, 0] - seg_a[:, 0]) / (dlon / 4.0),
                np.abs(seg_b[:, 1] - seg_a[:, 1]) / (dlat / 4.0),
            )
        ).astype(np.int64),
        1,
    )
    n_samp = steps + 1
    total = int(n_samp.sum())
    seg_idx = np.repeat(np.arange(len(n_samp)), n_samp)
    starts = np.concatenate(([0], np.cumsum(n_samp)[:-1]))
    local = np.arange(total) - starts[seg_idx]
    frac = local / steps[seg_idx]
    px = seg_a[seg_idx, 0] + (seg_b[seg_idx, 0] - seg_a[seg_idx, 0]) * frac
    py = seg_a[seg_idx, 1] + (seg_b[seg_idx, 1] - seg_a[seg_idx, 1]) * frac
    rows = seg_rows[seg_idx]
    tx = np.floor((px - min_lon) / dlon).astype(np.int64)
    ty = np.floor((py - min_lat) / dlat).astype(np.int64)
    ok = (tx >= 0) & (ty >= 0) & (tx < nx) & (ty < ny)
    tid = tx[ok] * ny + ty[ok]
    rows = rows[ok]
    order = np.lexsort((tid, rows))
    rows, tid = rows[order], tid[order]
    if len(rows):
        first = np.ones(len(rows), dtype=bool)
        first[1:] = (rows[1:] != rows[:-1]) | (tid[1:] != tid[:-1])
        rows, tid = rows[first], tid[first]
    return rows, tid


def assign_lines_to_tiles(
    lines: DataFrame, min_lon: float, min_lat: float, max_lon: float, max_lat: float, tile_m: float = 10_000.0
) -> DataFrame:
    """Polyline → (possibly many) tiles: one row per (line, ``tile_id``), the
    reference's multi-tile routing (`tm_splitter.py:377-395`), emitted by one
    ``mapInArrow`` batch pass."""
    dlon, dlat, nx, ny = grid_params(min_lon, min_lat, max_lon, max_lat, tile_m)

    def tiles(batch: pa.RecordBatch):
        flat, offsets = G.ragged_from_arrow(batch.column("geom"))
        rows, tid = line_tiles_kernel(flat, offsets, min_lon, min_lat, dlon, dlat, nx, ny)
        return rows, [pc.binary_join_element_wise("Task_", pa.array(tid).cast(pa.string()), "")]

    return stage.with_batch_columns(lines, [T.StructField("tile_id", T.StringType())], tiles)


def clip_rects_convex(
    min_lon: np.ndarray,
    min_lat: np.ndarray,
    max_lon: np.ndarray,
    max_lat: np.ndarray,
    ring: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman clip of axis-aligned rects by one convex CCW ring,
    vectorized over all rects at once.  Returns (poly (n, V, 2) NaN-padded,
    counts (n,)).  The emit order and the t = dc/(dc-dn) intersection formula
    are pinned so an ANSI-SQL twin reproduces the vertices bit-for-bit.

    Reference semantics: `tm_splitter.py:144-145` (`box.intersection(aoi)`).
    """
    n = len(min_lon)
    n_edges = len(ring) - 1
    cap = 4 + n_edges + 2
    P = np.full((n, cap, 2), np.nan)
    P[:, 0, 0], P[:, 0, 1] = min_lon, min_lat
    P[:, 1, 0], P[:, 1, 1] = max_lon, min_lat
    P[:, 2, 0], P[:, 2, 1] = max_lon, max_lat
    P[:, 3, 0], P[:, 3, 1] = min_lon, max_lat
    cnt = np.full(n, 4, dtype=np.int64)
    rows = np.arange(n)
    for (e1x, e1y), (e2x, e2y) in zip(ring[:-1], ring[1:]):
        maxc = int(cnt.max()) if n else 0
        if maxc == 0:
            break
        # candidates: each subject edge (cur→nxt) emits [inter?, nxt?]
        cand = np.full((n, maxc, 2, 2), np.nan)
        mask = np.zeros((n, maxc, 2), dtype=bool)
        for i in range(maxc):
            valid = i < cnt
            nxt_i = np.where(i + 1 < cnt, i + 1, 0)
            cur = P[rows, i]
            nxt = P[rows, nxt_i]
            dc = (e2x - e1x) * (cur[:, 1] - e1y) - (e2y - e1y) * (cur[:, 0] - e1x)
            dn = (e2x - e1x) * (nxt[:, 1] - e1y) - (e2y - e1y) * (nxt[:, 0] - e1x)
            in_c, in_n = dc >= 0, dn >= 0
            with np.errstate(invalid="ignore", divide="ignore"):
                t = dc / (dc - dn)
                inter = cur + t[:, None] * (nxt - cur)
            emit_inter = valid & (in_c ^ in_n)
            emit_nxt = valid & in_n
            cand[:, i, 0] = np.where(emit_inter[:, None], inter, np.nan)
            cand[:, i, 1] = np.where(emit_nxt[:, None], nxt, np.nan)
            mask[:, i, 0] = emit_inter
            mask[:, i, 1] = emit_nxt
        flat_mask = mask.reshape(n, -1)
        flat_cand = cand.reshape(n, -1, 2)
        pos = np.cumsum(flat_mask, axis=1) - 1
        P = np.full((n, cap, 2), np.nan)
        r, c = np.nonzero(flat_mask)
        P[r, pos[r, c]] = flat_cand[r, c]
        cnt = flat_mask.sum(axis=1)
    return P, cnt


def polygon_area_m2_padded(P: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Shoelace area in m² over NaN-padded polygons: local meters at the
    polygon's bbox-mean latitude, sequential slot-order summation (the SQL
    twin folds the same term order)."""
    n = P.shape[0]
    # nanmin/nanmax WARN on all-NaN rows (fully-clipped polygons) even under
    # errstate — restrict them to rows that have at least one vertex
    has = np.isfinite(P[:, :, 1]).any(axis=1)
    ref_lat = np.zeros(n)
    if has.any():
        ref_lat[has] = (np.nanmin(P[has, :, 1], axis=1) + np.nanmax(P[has, :, 1], axis=1)) / 2.0
    sx = 111_320.0 * np.cos(np.radians(ref_lat))
    acc = np.zeros(n)
    rows = np.arange(n)
    maxc = int(cnt.max()) if n else 0
    for i in range(maxc):
        valid = (i < cnt) & (cnt >= 3)
        j = np.where(i + 1 < cnt, i + 1, 0)
        xi = P[rows, i, 0] * sx
        yi = P[rows, i, 1] * M_PER_DEG_LAT
        xj = P[rows, j, 0] * sx
        yj = P[rows, j, 1] * M_PER_DEG_LAT
        term = xi * yj - xj * yi
        acc = acc + np.where(valid, term, 0.0)
    return np.abs(acc) / 2.0


def clip_grid_to_aoi(grid: DataFrame, aoi_ring: list[tuple[float, float]], min_area_m2: float = 1e5) -> DataFrame:
    """Task-grid AOI clip (`tm_splitter.py:144-177`): intersect every grid
    tile with the AOI *polygon* (not just its bbox) and drop fragments whose
    clipped area is below ``min_area_m2`` (the reference's 1e5 m² filter at
    `:170-177`).  One ``mapInArrow`` batch pass; adds ``clip_geom`` (the
    fragment ring, flat [x0,y0,...]) and ``area_m2``."""
    ring = np.asarray(aoi_ring, dtype=np.float64)

    def clip(batch: pa.RecordBatch):
        P, cnt = clip_rects_convex(
            *[batch.column(c).to_numpy() for c in ("min_lon", "min_lat", "max_lon", "max_lat")], ring
        )
        offsets = np.zeros(len(cnt) + 1, dtype=np.int64)
        np.cumsum(cnt, out=offsets[1:])
        flat = P[np.arange(P.shape[1]) < cnt[:, None]]
        return None, [G.arrow_from_ragged(offsets, flat), polygon_area_m2_padded(P, cnt)]

    fields = [
        T.StructField("clip_geom", T.ArrayType(T.DoubleType())),
        T.StructField("area_m2", T.DoubleType()),
    ]
    out = stage.with_batch_columns(grid, fields, clip)
    return out.filter(F.col("area_m2") >= min_area_m2)


def write_by_tile(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Per-tile fan-out sink — the Spark twin of one-file-per-task
    (`tm_splitter.py:370-395`): hive-partitioned parquet by tile_id."""
    df.write.partitionBy("tile_id").mode(mode).parquet(path)
