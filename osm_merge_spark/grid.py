"""Hierarchical spatial cell index: web-mercator tiles on a Z-order curve.

This is the engine's H3/S2 analog (no geo libs ship in this environment, so the
index is pure numpy over public slippy-map tile math — the same z/x/y scheme the
reference uses for raster tiles, `osm_merge/fieldwork/basemapper.py:186-199`,
generalized into a vector join key).

A cell id is an int64:

    cell = (z << 58) | morton(x, y)

where ``x, y`` are the web-mercator tile indices at zoom ``z`` (x interleaved in
even bits, y in odd bits).  Properties the engine relies on:

- **equi-join key manufacture**: two geometries within ``d`` meters share a cell
  at any zoom once one side's cover is padded by ``d`` at cell borders
  (:func:`cover_polyline`'s border-epsilon ``pad_m``) — this turns the
  reference's brute-force distance theta-join
  (`osm_merge/conflator.py:140-224`) into a Spark hash join;
- **hierarchy**: ``parent(cell, dz)`` is a shift — coarse parents are partition
  columns, enabling partition pruning for AOI clipping
  (`osm_merge/geosupport.py:139-173` semantics, Catalyst mechanics);
- **Z-order locality**: numerically-close cell ids are spatially close, so
  ``repartitionByRange(cell)`` produces spatially-coherent partitions (good
  scan locality + bounded shuffle skew at 100 TB).

Default zoom 18 ≈ 153 m ground size at the equator — comparable to H3 res 9
(~174 m edge) named by BASELINE.json.  All functions are numpy-vectorized and
reach Spark through Arrow batch functions in ``operators``.
"""

from __future__ import annotations

import numpy as np

EARTH_CIRCUMFERENCE_M = 40_075_016.686
DEFAULT_ZOOM = 18
_Z_SHIFT = 58
_MORTON_MASK = (np.int64(1) << _Z_SHIFT) - 1

# ---------------------------------------------------------------------------
# Morton (Z-order) encoding: 29-bit x/y interleave, branch-free numpy.
# ---------------------------------------------------------------------------

# (shift, mask) steps of the log-step bit spread, widest first
_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of v so there is a zero bit between each."""
    v = v.astype(np.uint64) & np.uint64(0x1FFFFFFF)
    for shift, mask in _SPREAD_STEPS:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_encode(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (_part1by1(np.asarray(x)) | (_part1by1(np.asarray(y)) << np.uint64(1))).astype(np.int64)


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m).astype(np.uint64)
    return (
        _compact1by1(m).astype(np.int64),
        _compact1by1(m >> np.uint64(1)).astype(np.int64),
    )


# ---------------------------------------------------------------------------
# Web-mercator tile math (EPSG:3857 slippy tiles).
# ---------------------------------------------------------------------------


def lonlat_to_tile(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    n = np.float64(1 << z)
    x = np.floor((lon + 180.0) / 360.0 * n)
    lat_r = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def cell_id(lon: np.ndarray, lat: np.ndarray, z: int = DEFAULT_ZOOM) -> np.ndarray:
    """Vectorized lon/lat → int64 cell id at zoom z."""
    x, y = lonlat_to_tile(lon, lat, z)
    return (np.int64(z) << _Z_SHIFT) | morton_encode(x, y)


def cell_zxy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    z = (cell >> _Z_SHIFT).astype(np.int64)
    x, y = morton_decode(cell & _MORTON_MASK)
    return z, x, y


def cell_from_zxy(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (np.asarray(z, dtype=np.int64) << _Z_SHIFT) | morton_encode(x, y)


def cell_id_col(lon, lat, z: int):
    """Pure-Column twin of :func:`cell_id` for a constant zoom — the
    PARTITION-COLUMN path: computing the coarse cell JVM-side at write
    time lets ``partitionBy(cell)`` corpora prune files under an AOI cell
    predicate.  The morton interleave is :func:`_part1by1`'s log-step
    magic-mask spread, starting at the widest shift narrower than ``z``
    (the wider steps are identities on a z-bit index), so building the
    Column costs a few dozen JVM calls at any zoom."""
    from pyspark.sql import functions as F

    n = 1 << z
    lat_c = F.greatest(F.least(lat, F.lit(85.05112878)), F.lit(-85.05112878))
    x = F.floor((lon + 180.0) / 360.0 * n)
    y = F.floor((1.0 - F.asinh(F.tan(F.radians(lat_c))) / float(np.pi)) / 2.0 * n)
    x = F.greatest(F.least(x, F.lit(n - 1)), F.lit(0)).cast("long")
    y = F.greatest(F.least(y, F.lit(n - 1)), F.lit(0)).cast("long")

    def spread(v):
        for shift, mask in _SPREAD_STEPS:
            if shift < z:
                v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
        return v

    return F.lit(z << _Z_SHIFT).bitwiseOR(spread(x)).bitwiseOR(F.shiftleft(spread(y), 1))


def parent_cell(cell: np.ndarray, parent_z: int) -> np.ndarray:
    """Coarsen a cell to ``parent_z`` (a pure bit shift on the morton code)."""
    cell = np.asarray(cell, dtype=np.int64)
    z = (cell >> _Z_SHIFT).astype(np.int64)
    dz = z - parent_z
    if np.any(dz < 0):
        raise ValueError("parent_z must be <= cell zoom")
    m = (cell & _MORTON_MASK) >> (2 * dz)
    return (np.int64(parent_z) << _Z_SHIFT) | m


def cell_size_m(z: int, lat: float = 0.0) -> float:
    """Ground size of a zoom-z tile edge at latitude ``lat`` (meters)."""
    return EARTH_CIRCUMFERENCE_M * float(np.cos(np.radians(lat))) / (1 << z)


def cover_polyline(
    flat_xy: np.ndarray,
    offsets: np.ndarray,
    z: int = DEFAULT_ZOOM,
    pad_m: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Cells touched by each polyline (sampled at half-cell spacing).

    ``flat_xy``: (N, 2) float64 of all vertices of all lines, concatenated;
    ``offsets``: (n+1,) int64 row boundaries into flat_xy.

    ``pad_m`` > 0 additionally covers neighbor cells where the geometry runs
    within ``pad_m`` meters of a cell border — the *border-epsilon* expansion
    for distance-threshold joins.  With a 7 m threshold on ~150 m cells this
    adds ~10-20% extra cells, versus 9x for a blanket k-ring explode.

    Returns (cells, row_index) — the exploded cover, ready to build an
    equi-join key column.  Fully vectorized: one densification pass over all
    segments of all rows at once.
    """
    flat_xy = np.asarray(flat_xy, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    n_rows = len(offsets) - 1
    if flat_xy.shape[0] == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)

    # segment list across all rows, dropping the "bridge" between rows
    seg_a = flat_xy[:-1]
    seg_b = flat_xy[1:]
    seg_row = np.repeat(np.arange(n_rows, dtype=np.int64), np.diff(offsets))
    # vertex i belongs to segment i unless it's a row's last vertex
    last_vertex = offsets[1:] - 1
    keep = np.ones(flat_xy.shape[0] - 1, dtype=bool)
    keep[last_vertex[last_vertex < flat_xy.shape[0] - 1]] = False
    seg_a, seg_b = seg_a[keep], seg_b[keep]
    seg_rows = seg_row[:-1][keep]

    # samples per segment: ceil(len / (cell/2)) with a cap
    mean_lat = np.abs(seg_a[:, 1] + seg_b[:, 1]) / 2.0
    mx = 111_320.0 * np.cos(np.radians(mean_lat))
    my = 110_540.0
    seg_len = np.hypot((seg_b[:, 0] - seg_a[:, 0]) * mx, (seg_b[:, 1] - seg_a[:, 1]) * my)
    # per-segment step (batch-max would make the cover depend on how rows
    # are batched — cover must be a pure function of the geometry)
    step = EARTH_CIRCUMFERENCE_M * np.cos(np.radians(mean_lat)) / (1 << z) / 2.0
    n_samp = np.clip(np.ceil(seg_len / step).astype(np.int64) + 1, 2, 512)

    total = int(n_samp.sum())
    seg_idx = np.repeat(np.arange(len(n_samp)), n_samp)
    # fraction along each segment: local index / (n_samp-1)
    starts = np.concatenate(([0], np.cumsum(n_samp)[:-1]))
    local = np.arange(total) - starts[seg_idx]
    frac = local / np.maximum(n_samp[seg_idx] - 1, 1)
    px = seg_a[seg_idx, 0] + (seg_b[seg_idx, 0] - seg_a[seg_idx, 0]) * frac
    py = seg_a[seg_idx, 1] + (seg_b[seg_idx, 1] - seg_a[seg_idx, 1]) * frac
    rows = seg_rows[seg_idx]

    # include single-vertex rows (points) in the sample set
    row_lens = np.diff(offsets)
    pt_rows = np.nonzero(row_lens == 1)[0]
    if len(pt_rows):
        pts = flat_xy[offsets[pt_rows]]
        px = np.concatenate([px, pts[:, 0]])
        py = np.concatenate([py, pts[:, 1]])
        rows = np.concatenate([rows, pt_rows.astype(np.int64)])
        seg_idx = np.concatenate([seg_idx, -1 - np.arange(len(pt_rows))])  # unique pseudo-seg per point

    n_tiles = np.float64(1 << z)
    lat_c = np.clip(py, -85.05112878, 85.05112878)
    xf = (px + 180.0) / 360.0 * n_tiles
    yf = (1.0 - np.arcsinh(np.tan(np.radians(lat_c))) / np.pi) / 2.0 * n_tiles
    cx = np.clip(np.floor(xf), 0, n_tiles - 1).astype(np.int64)
    cy = np.clip(np.floor(yf), 0, n_tiles - 1).astype(np.int64)
    zz = np.full(len(px), z, dtype=np.int64)
    cells = cell_from_zxy(zz, cx, cy)

    # supercover fix-up: with step ≤ cell/2, consecutive samples move by ≤1
    # tile per axis; a diagonal move can corner-clip a cell — add both corner
    # cells so the cover is a conservative superset (exact predicates refine
    # downstream, mirroring the cell-join → exact-refine design).
    same_seg = seg_idx[1:] == seg_idx[:-1]
    diag = same_seg & (cx[1:] != cx[:-1]) & (cy[1:] != cy[:-1])
    if diag.any():
        i = np.nonzero(diag)[0]
        extra_x = np.concatenate([cx[i], cx[i + 1]])
        extra_y = np.concatenate([cy[i + 1], cy[i]])
        extra_rows = np.concatenate([rows[i], rows[i]])
        extra = cell_from_zxy(np.full(len(extra_x), z, dtype=np.int64), extra_x, extra_y)
        cells = np.concatenate([cells, extra])
        rows = np.concatenate([rows, extra_rows])

    # border-epsilon expansion: neighbor cells only where a sample runs
    # within pad_m of a tile border (replaces blanket k-ring explode)
    if pad_m > 0:
        tile_m = EARTH_CIRCUMFERENCE_M * np.cos(np.radians(lat_c)) / n_tiles
        pad_frac = pad_m / tile_m  # fraction of a tile edge
        fx = xf - np.floor(xf)
        fy = yf - np.floor(yf)
        n_int = np.int64(1 << z)
        ex, ey, er = [], [], []
        for cond, dx, dy in (
            (fx < pad_frac, -1, 0),
            (fx > 1 - pad_frac, 1, 0),
            (fy < pad_frac, 0, -1),
            (fy > 1 - pad_frac, 0, 1),
            ((fx < pad_frac) & (fy < pad_frac), -1, -1),
            ((fx < pad_frac) & (fy > 1 - pad_frac), -1, 1),
            ((fx > 1 - pad_frac) & (fy < pad_frac), 1, -1),
            ((fx > 1 - pad_frac) & (fy > 1 - pad_frac), 1, 1),
        ):
            i = np.nonzero(cond)[0]
            if len(i):
                ex.append((cx[i] + dx) % n_int)
                ey.append(np.clip(cy[i] + dy, 0, n_int - 1))
                er.append(rows[i])
        if ex:
            ex_all = np.concatenate(ex)
            ey_all = np.concatenate(ey)
            extra = cell_from_zxy(np.full(len(ex_all), z, dtype=np.int64), ex_all, ey_all)
            cells = np.concatenate([cells, extra])
            rows = np.concatenate([rows, np.concatenate(er)])

    # dedupe (row, cell) pairs via lexsort
    order = np.lexsort((cells, rows))
    rows_s, cells_s = rows[order], cells[order]
    first = np.ones(len(rows_s), dtype=bool)
    first[1:] = (rows_s[1:] != rows_s[:-1]) | (cells_s[1:] != cells_s[:-1])
    return cells_s[first], rows_s[first]
