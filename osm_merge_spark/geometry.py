"""Vectorized numpy geometry kernels and their Arrow codec.

No geometry library ships in this environment, so every kernel the reference
gets from shapely/pyproj is re-derived here as batch numpy over Arrow data:

- distance kernels replace `osm_merge/conflator.py:565-668` (pairwise min
  distance, type dispatch) and `osm_merge/conflatePOI.py:120-125` (haversine);
- slope/angle replaces `osm_merge/conflator.py:471-563`;
- point-in-polygon replaces the shapely `contains` gates
  (`osm_merge/conflatePOI.py:405-407`, `geosupport.py:201-224`);
- simplification replaces `shapely.simplify` use (`utilities/mvum.py:236-242`).

Geometry text (the span table's WKT, GeoJSON coordinates) is not decoded
here: :func:`osm_merge_spark.functions.geo.geom_from_wkt` turns it into the
flat ``array<double>`` in the JVM, and the kernels read that array.

Batch layout: ragged geometry batches travel as ``(flat_xy, offsets)`` —
``flat_xy`` is an (N, 2) float64 array of every vertex of every row
concatenated, ``offsets`` an (n+1,) int64 of row boundaries.  This maps 1:1 to
Arrow ``list<double>`` buffers: :func:`ragged_from_arrow` and
:func:`arrow_from_ragged` are the one codec every Spark-facing kernel uses,
zero-copy on the way in and never looping per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

M_PER_DEG_LAT = 110_540.0
M_PER_DEG_LON_EQ = 111_320.0
EARTH_R = 6_371_008.8


def ragged_from_arrow(geoms: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Arrow ``list<double>`` rows [x0,y0,x1,y1,...] → (flat_xy, offsets).

    Zero-copy over the list's value buffer.  Null rows come out zero-length;
    a sliced array is read from its own window (``flatten`` honours the slice
    offset and skips the values behind null rows)."""
    lens = pc.list_value_length(geoms).fill_null(0).to_numpy() // 2
    offsets = np.zeros(len(geoms) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = geoms.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(-1, 2), offsets


def arrow_from_ragged(offsets: np.ndarray, flat_xy: np.ndarray) -> pa.ListArray:
    """Inverse of :func:`ragged_from_arrow`: one ``list<double>`` row per
    geometry, empty (not null) for zero-length rows."""
    return pa.ListArray.from_arrays(
        pa.array(2 * np.asarray(offsets), type=pa.int32()),
        pa.array(np.ascontiguousarray(flat_xy, dtype=np.float64).reshape(-1)),
    )


# ---------------------------------------------------------------------------
# Metric helpers
# ---------------------------------------------------------------------------


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle meters (replaces `conflatePOI.py:120-125`)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon, dlat = lon2 - lon1, lat2 - lat1
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


def local_meters(flat_xy: np.ndarray, ref_lat: float | np.ndarray) -> np.ndarray:
    """Equirectangular lon/lat → meters around ref_lat (error ≪1% at ≤2 km)."""
    scale_x = M_PER_DEG_LON_EQ * np.cos(np.radians(ref_lat))
    out = np.empty_like(flat_xy)
    out[..., 0] = flat_xy[..., 0] * scale_x
    out[..., 1] = flat_xy[..., 1] * M_PER_DEG_LAT
    return out


def polyline_length_m(offsets: np.ndarray, flat_xy: np.ndarray) -> np.ndarray:
    """Per-row polyline length in meters (vectorized across all rows)."""
    n = len(offsets) - 1
    if flat_xy.shape[0] < 2:
        return np.zeros(n)
    d = haversine_m(flat_xy[:-1, 0], flat_xy[:-1, 1], flat_xy[1:, 0], flat_xy[1:, 1])
    row = np.repeat(np.arange(n), np.diff(offsets))
    valid = row[:-1] == row[1:]
    out = np.zeros(n)
    np.add.at(out, row[:-1][valid], d[valid])
    return out


def mercator_xy(flat_xy: np.ndarray) -> np.ndarray:
    """lon/lat degrees → the (spherical) web-mercator frame in degree units:
    x = lon, y = degrees(ln(tan(pi/4 + lat/2))).  Topology (hulls,
    intersections) in this frame is identical to EPSG:3857 — the two differ
    only by the uniform scale R·pi/180."""
    out = np.empty_like(flat_xy)
    out[..., 0] = flat_xy[..., 0]
    lat = np.clip(flat_xy[..., 1], -85.06, 85.06)
    out[..., 1] = np.degrees(np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)))
    return out


def polyline_length_merc_m(offsets: np.ndarray, flat_xy: np.ndarray) -> np.ndarray:
    """Per-row polyline length in EPSG:3857 meters (latitude-inflated by
    1/cos(lat)) — the frame the reference measures lengths in
    (`osm_merge/conflator.py:586-591,609`)."""
    n = len(offsets) - 1
    if flat_xy.shape[0] < 2:
        return np.zeros(n)
    m = mercator_xy(flat_xy) * (np.pi / 180.0 * EARTH_R)
    d = np.hypot(m[1:, 0] - m[:-1, 0], m[1:, 1] - m[:-1, 1])
    row = np.repeat(np.arange(n), np.diff(offsets))
    valid = row[:-1] == row[1:]
    out = np.zeros(n)
    np.add.at(out, row[:-1][valid], d[valid])
    return out


def convex_hull_2d(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain over (m, 2) points → CCW hull vertices,
    first point not repeated.  Collinear inputs return the 2 extreme points;
    a single point returns itself."""
    pts = np.unique(pts[~np.isnan(pts).any(axis=1)], axis=0)
    if len(pts) <= 2:
        return pts

    def _half(p):
        out: list[np.ndarray] = []
        for q in p:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (q[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (q[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(q)
        return out

    lower = _half(pts)
    upper = _half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return hull if len(hull) >= 2 else pts[:1]


def polyline_intersects_hull(new_pts: np.ndarray, old_pts: np.ndarray) -> bool:
    """Does the polyline ``new_pts`` intersect (touch counts) the convex hull
    of ``old_pts``?  Both in a common planar frame.  Exactly shapely's
    ``old.convex_hull.dwithin(new, 0)`` — the J3 containment primitive
    (`osm_merge/conflator.py:617-624`)."""
    new_pts = new_pts[~np.isnan(new_pts).any(axis=1)]
    if len(new_pts) == 0 or len(old_pts) == 0:
        return False
    hull = convex_hull_2d(old_pts)
    h = len(hull)
    if h >= 3:
        # inside-or-on for any new vertex: CCW hull → all edge crosses >= 0
        a = hull
        b = np.roll(hull, -1, axis=0)
        cross = (b[None, :, 0] - a[None, :, 0]) * (new_pts[:, None, 1] - a[None, :, 1]) - (
            b[None, :, 1] - a[None, :, 1]
        ) * (new_pts[:, None, 0] - a[None, :, 0])
        if bool((cross >= -1e-18).all(axis=1).any()):
            return True
        ring = np.vstack([hull, hull[:1]])
    else:
        ring = hull  # degenerate hull: a point or a segment
    # segment-level contact: proper crossings + touch (distance == 0)
    eps2 = 1e-24
    if len(new_pts) >= 2 and len(ring) >= 2:
        na, nb = new_pts[:-1], new_pts[1:]
        ha, hb = ring[:-1], ring[1:]
        hit = _seg_intersect(
            na[:, None, 0], na[:, None, 1], nb[:, None, 0], nb[:, None, 1],
            ha[None, :, 0], ha[None, :, 1], hb[None, :, 0], hb[None, :, 1],
        )
        if bool(hit.any()):
            return True
        d2 = _point_seg_dist2(
            new_pts[:, None, 0], new_pts[:, None, 1],
            ha[None, :, 0], ha[None, :, 1], hb[None, :, 0], hb[None, :, 1],
        )
        if bool((d2 <= eps2).any()):
            return True
        d2 = _point_seg_dist2(
            ring[:, None, 0], ring[:, None, 1],
            na[None, :, 0], na[None, :, 1], nb[None, :, 0], nb[None, :, 1],
        )
        return bool((d2 <= eps2).any())
    if len(new_pts) >= 2:  # hull collapsed to a single point
        d2 = _point_seg_dist2(
            ring[:, None, 0], ring[:, None, 1],
            new_pts[None, :-1, 0], new_pts[None, :-1, 1],
            new_pts[None, 1:, 0], new_pts[None, 1:, 1],
        )
        return bool((d2 <= eps2).any())
    if len(ring) >= 2:  # new collapsed to a single point
        d2 = _point_seg_dist2(
            new_pts[:, None, 0], new_pts[:, None, 1],
            ring[None, :-1, 0], ring[None, :-1, 1],
            ring[None, 1:, 0], ring[None, 1:, 1],
        )
        return bool((d2 <= eps2).any())
    d2 = np.min(
        (new_pts[:, None, 0] - ring[None, :, 0]) ** 2 + (new_pts[:, None, 1] - ring[None, :, 1]) ** 2
    )
    return bool(d2 <= eps2)


def hull_contact(
    off_new: np.ndarray,
    flat_new: np.ndarray,
    off_old: np.ndarray,
    flat_old: np.ndarray,
    idx: np.ndarray,
) -> np.ndarray:
    """J3 containment test for the pair subset ``idx``: does the new (primary)
    polyline intersect the convex hull of the old (OSM) polyline, in the
    mercator frame (the reference reprojects to 3857 first,
    `conflator.py:586-591`).

    Faithful to the reference INCLUDING its quirk: `conflator.py:617-621`
    computes BOTH hulls from ``oldobj`` (``newpoly = oldobj.convex_hull``),
    so ``innew`` is trivially true and the test reduces to
    ``intersects(hull(old), new)`` at size_threshold=0.

    Per-row Python over the masked subset only — length-mismatch pairs are
    rare by construction (candidates already sit within the distance
    threshold), so this never runs on the bulk path."""
    out = np.zeros(len(idx), dtype=bool)
    for k, i in enumerate(idx):
        new = mercator_xy(flat_new[off_new[i]: off_new[i + 1]])
        old = mercator_xy(flat_old[off_old[i]: off_old[i + 1]])
        old = old[~np.isnan(old).any(axis=1)]
        out[k] = polyline_intersects_hull(new, old)
    return out


# ---------------------------------------------------------------------------
# Padded batch layout: pairwise kernels operate on (n, P, 2) NaN-padded arrays
# ---------------------------------------------------------------------------


def pad_ragged(offsets: np.ndarray, flat_xy: np.ndarray, max_pts: int | None = None) -> np.ndarray:
    """(flat, offsets) → (n, P, 2) float64, NaN padded."""
    n = len(offsets) - 1
    lens = np.diff(offsets)
    P = int(lens.max()) if max_pts is None and n and lens.size else (max_pts or 1)
    P = max(P, 1)
    out = np.full((n, P, 2), np.nan)
    if flat_xy.shape[0]:
        row = np.repeat(np.arange(n), lens)
        col = np.arange(len(row)) - np.repeat(offsets[:-1], lens)
        keep = col < P
        out[row[keep], col[keep]] = flat_xy[keep]
    return out


def _point_seg_dist2(px, py, ax, ay, bx, by):
    """Squared distance point→segment, broadcasting; NaN-safe (NaN → inf)."""
    abx, aby = bx - ax, by - ay
    apx, apy = px - ax, py - ay
    denom = abx * abx + aby * aby
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.where(denom > 0, (apx * abx + apy * aby) / denom, 0.0)
    t = np.clip(t, 0.0, 1.0)
    dx = apx - t * abx
    dy = apy - t * aby
    d2 = dx * dx + dy * dy
    return np.where(np.isnan(d2), np.inf, d2)


def _seg_intersect(ax, ay, bx, by, cx, cy, dx_, dy_):
    """Proper-intersection test for segment batches (NaN-safe → False)."""

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = orient(ax, ay, bx, by, cx, cy)
    d2 = orient(ax, ay, bx, by, dx_, dy_)
    d3 = orient(cx, cy, dx_, dy_, ax, ay)
    d4 = orient(cx, cy, dx_, dy_, bx, by)
    with np.errstate(invalid="ignore"):
        res = (d1 * d2 < 0) & (d3 * d4 < 0)
    return np.where(np.isnan(d1 + d2 + d3 + d4), False, res)


def min_dist_pair_m(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Min distance in meters between paired geometries.

    A: (n, Pa, 2), B: (n, Pb, 2) lon/lat, NaN padded.  Points are 1-vertex
    rows.  Fully vectorized over (pairs × segA × segB); replaces the nested
    segment loop of `osm_merge/conflator.py:565-668`.
    """
    ref_lat = np.nanmean(np.concatenate([A[:, :, 1], B[:, :, 1]], axis=1), axis=1)
    Am = local_meters(A, ref_lat[:, None])
    Bm = local_meters(B, ref_lat[:, None])

    def seg(M):
        if M.shape[1] < 2:
            return M[:, :1], M[:, :1]  # degenerate zero-length segment
        return M[:, :-1], M[:, 1:]

    A1, A2 = seg(Am)
    B1, B2 = seg(Bm)
    # point(A vertices) → B segments: (n, Pa, Sb)
    d2_ab = _point_seg_dist2(
        Am[:, :, None, 0], Am[:, :, None, 1],
        B1[:, None, :, 0], B1[:, None, :, 1],
        B2[:, None, :, 0], B2[:, None, :, 1],
    )
    d2_ba = _point_seg_dist2(
        Bm[:, :, None, 0], Bm[:, :, None, 1],
        A1[:, None, :, 0], A1[:, None, :, 1],
        A2[:, None, :, 0], A2[:, None, :, 1],
    )
    d2 = np.minimum(d2_ab.min(axis=(1, 2)), d2_ba.min(axis=(1, 2)))
    # crossing segments → 0
    inter = _seg_intersect(
        A1[:, :, None, 0], A1[:, :, None, 1],
        A2[:, :, None, 0], A2[:, :, None, 1],
        B1[:, None, :, 0], B1[:, None, :, 1],
        B2[:, None, :, 0], B2[:, None, :, 1],
    ).any(axis=(1, 2))
    d2 = np.where(inter, 0.0, d2)
    return np.sqrt(d2)


def _cumsum0(x: np.ndarray) -> np.ndarray:
    out = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(x, out=out[1:])
    return out


def _cross_index(cnt_p: np.ndarray, cnt_s: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-pair (point-count × segment-count) cross product → flat index
    arrays (pair_idx, local_point, local_segment, cross_sizes)."""
    cross = cnt_p * cnt_s
    total = int(cross.sum())
    pair_idx = np.repeat(np.arange(len(cross)), cross)
    starts = _cumsum0(cross)[:-1]
    local = np.arange(total) - starts[pair_idx]
    lp = local // cnt_s[pair_idx]
    ls = local - lp * cnt_s[pair_idx]
    return pair_idx, lp, ls, cross


def _reduceat_min(values: np.ndarray, cross: np.ndarray, n: int, fill: float = np.inf) -> np.ndarray:
    """Per-pair min over a pair-ordered flat array (zero-size pairs → fill)."""
    out = np.full(n, fill)
    nz = cross > 0
    if values.size and nz.any():
        starts = _cumsum0(cross)[:-1]
        out[nz] = np.minimum.reduceat(values, starts[nz])
    return out


def _min_d2_points_vs_segs(
    off_p: np.ndarray, m_p: np.ndarray, off_s: np.ndarray, m_s: np.ndarray
) -> np.ndarray:
    """Min squared distance, per pair, of P's vertices to S's segments —
    exact ragged cross product (no padding)."""
    n = len(off_p) - 1
    npts = np.diff(off_p)
    nv_s = np.diff(off_s)
    cnt_p = np.where(nv_s > 0, npts, 0)
    cnt_s = np.where((npts > 0) & (nv_s > 0), np.maximum(nv_s - 1, 1), 0)
    pair_idx, lp, ls, cross = _cross_index(cnt_p, cnt_s)
    if pair_idx.size == 0:
        return np.full(n, np.inf)
    p_i = off_p[:-1][pair_idx] + lp
    s0 = off_s[:-1][pair_idx] + ls
    has2 = (nv_s > 1).astype(np.int64)[pair_idx]
    d2 = _point_seg_dist2(
        m_p[p_i, 0], m_p[p_i, 1],
        m_s[s0, 0], m_s[s0, 1],
        m_s[s0 + has2, 0], m_s[s0 + has2, 1],
    )
    return _reduceat_min(d2, cross, n)


def _intersect_any(off_a: np.ndarray, m_a: np.ndarray, off_b: np.ndarray, m_b: np.ndarray) -> np.ndarray:
    """Per pair: does any A segment properly intersect any B segment."""
    n = len(off_a) - 1
    sa = np.maximum(np.diff(off_a) - 1, 0)
    sb = np.maximum(np.diff(off_b) - 1, 0)
    pair_idx, la, lb, cross = _cross_index(sa, sb)
    if pair_idx.size == 0:
        return np.zeros(n, dtype=bool)
    a0 = off_a[:-1][pair_idx] + la
    b0 = off_b[:-1][pair_idx] + lb
    hit = _seg_intersect(
        m_a[a0, 0], m_a[a0, 1], m_a[a0 + 1, 0], m_a[a0 + 1, 1],
        m_b[b0, 0], m_b[b0, 1], m_b[b0 + 1, 0], m_b[b0 + 1, 1],
    )
    out = np.zeros(n, dtype=bool)
    nz = cross > 0
    if hit.size and nz.any():
        starts = _cumsum0(cross)[:-1]
        out[nz] = np.logical_or.reduceat(hit, starts[nz])
    return out


def min_dist_pair_m_ragged(
    off_a: np.ndarray,
    flat_a: np.ndarray,
    off_b: np.ndarray,
    flat_b: np.ndarray,
    chunk_elems: int = 4_000_000,
) -> np.ndarray:
    """Exact paired min distance on the RAGGED layout.

    Same math as :func:`min_dist_pair_m` but O(Σ nᵢ·mᵢ) work and memory
    bounded by ``chunk_elems`` — the padded kernel is O(n·P²max) where Pmax
    is the longest geometry in the batch, which detonates on real OSM ways
    (a single 680-vertex way pads every pair in the batch to 680², ~1.5 GB
    per temporary).  Long-geometry batches route here from the scoring UDF.
    """
    n = len(off_a) - 1
    if n == 0:
        return np.empty(0)
    na, nb = np.diff(off_a), np.diff(off_b)
    # ref latitude per pair = mean of both geometries' vertex latitudes
    def _row_sums(off: np.ndarray, flat: np.ndarray) -> np.ndarray:
        cnt = np.diff(off)
        out = np.zeros(len(cnt))
        nz = cnt > 0
        if flat.shape[0] and nz.any():
            out[nz] = np.add.reduceat(flat[:, 1], off[:-1][nz])
        return out

    ref_lat = (_row_sums(off_a, flat_a) + _row_sums(off_b, flat_b)) / np.maximum(na + nb, 1)
    scale_x = M_PER_DEG_LON_EQ * np.cos(np.radians(ref_lat))
    row_a = np.repeat(np.arange(n), na)
    row_b = np.repeat(np.arange(n), nb)
    m_a = np.empty_like(flat_a)
    m_a[:, 0] = flat_a[:, 0] * scale_x[row_a]
    m_a[:, 1] = flat_a[:, 1] * M_PER_DEG_LAT
    m_b = np.empty_like(flat_b)
    m_b[:, 0] = flat_b[:, 0] * scale_x[row_b]
    m_b[:, 1] = flat_b[:, 1] * M_PER_DEG_LAT

    # chunk pair ranges so each cross product stays under chunk_elems
    est = na * np.maximum(nb - 1, 1) + nb * np.maximum(na - 1, 1)
    cum = np.cumsum(est)
    out = np.empty(n)
    i0 = 0
    base = 0
    while i0 < n:
        i1 = int(np.searchsorted(cum, base + chunk_elems, side="right")) + 1
        i1 = max(i1, i0 + 1)
        i1 = min(i1, n)
        oa, ob = off_a[i0 : i1 + 1], off_b[i0 : i1 + 1]
        d2 = np.minimum(
            _min_d2_points_vs_segs(oa, m_a, ob, m_b),
            _min_d2_points_vs_segs(ob, m_b, oa, m_a),
        )
        d2[_intersect_any(oa, m_a, ob, m_b)] = 0.0
        out[i0:i1] = np.sqrt(d2)
        base = cum[i1 - 1]
        i0 = i1
    return out


def endpoint_slope_angle(A: np.ndarray, B: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reference slope/angle predicate (`conflator.py:504-551`), batched.

    slope_i = dy/dx of the line's overall end-to-end direction (NaN→0);
    angle   = degrees(atan((s2-s1)/(1+s2*s1))) between the two headings.
    """

    def headslope(M):
        lens = (~np.isnan(M[:, :, 0])).sum(axis=1)
        last = np.maximum(lens - 1, 0)
        idx = np.arange(M.shape[0])
        x0, y0 = M[idx, 0, 0], M[idx, 0, 1]
        x1, y1 = M[idx, last, 0], M[idx, last, 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            s = (y1 - y0) / (x1 - x0)
        return np.where(np.isfinite(s), s, 0.0)

    s1, s2 = headslope(A), headslope(B)
    with np.errstate(divide="ignore", invalid="ignore"):
        ang = np.degrees(np.arctan((s2 - s1) / (1.0 + s2 * s1)))
    ang = np.where(np.isfinite(ang), ang, 0.0)
    return np.abs(s2 - s1), np.abs(ang)


def endpoint_slope_angle_ragged(
    off_a: np.ndarray, flat_a: np.ndarray, off_b: np.ndarray, flat_b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Ragged twin of :func:`endpoint_slope_angle` (first/last vertex only —
    no padding needed)."""

    def headslope(off: np.ndarray, flat: np.ndarray) -> np.ndarray:
        n = len(off) - 1
        lens = np.diff(off)
        s = np.zeros(n)
        nz = lens > 0
        if flat.shape[0] and nz.any():
            i0 = off[:-1][nz]
            il = off[1:][nz] - 1
            with np.errstate(divide="ignore", invalid="ignore"):
                sv = (flat[il, 1] - flat[i0, 1]) / (flat[il, 0] - flat[i0, 0])
            s[nz] = np.where(np.isfinite(sv), sv, 0.0)
        return s

    s1 = headslope(off_a, flat_a)
    s2 = headslope(off_b, flat_b)
    with np.errstate(divide="ignore", invalid="ignore"):
        ang = np.degrees(np.arctan((s2 - s1) / (1.0 + s2 * s1)))
    ang = np.where(np.isfinite(ang), ang, 0.0)
    return np.abs(s2 - s1), np.abs(ang)


def point_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Ray-cast PIP: points (n,) vs paired NaN-padded polygons (n, P, 2)."""
    x1, y1 = poly[:, :-1, 0], poly[:, :-1, 1]
    x2, y2 = poly[:, 1:, 0], poly[:, 1:, 1]
    # close the ring: append last→first edge handled by caller passing closed rings
    with np.errstate(invalid="ignore", divide="ignore"):
        cond = ((y1 > py[:, None]) != (y2 > py[:, None])) & (
            px[:, None] < (x2 - x1) * (py[:, None] - y1) / (y2 - y1) + x1
        )
    cond = np.where(np.isnan(x1 + x2 + y1 + y2), False, cond)
    return (cond.sum(axis=1) % 2).astype(bool)


def simplify_radial(offsets: np.ndarray, flat_xy: np.ndarray, tol_deg: float = 1e-4) -> tuple[np.ndarray, np.ndarray]:
    """Radial-distance simplification (stand-in for `shapely.simplify`,
    `mvum.py:236-242`): drop vertices closer than tol to the last kept vertex;
    endpoints always kept; rows collapsing to <2 points keep originals
    (the reference's fallback `mvum.py:239-241`).

    Vectorized per *iteration* over all rows at once (max-vertex-count loop).
    """
    n = len(offsets) - 1
    lens = np.diff(offsets)
    keep = np.zeros(flat_xy.shape[0], dtype=bool)
    if flat_xy.shape[0] == 0:
        return offsets.copy(), flat_xy.copy()
    row = np.repeat(np.arange(n), lens)
    keep[offsets[:-1][lens > 0]] = True  # first vertex of each row
    # iterate positions; P is small (way vertices), loop count = max len
    P = int(lens.max()) if n else 0
    last_xy = np.full((n, 2), np.nan)
    starts = offsets[:-1]
    for p in range(P):
        idx = starts + p
        valid = p < lens
        vi = idx[valid]
        r = np.nonzero(valid)[0]
        cur = flat_xy[vi]
        if p == 0:
            last_xy[r] = cur
            continue
        # sqrt-of-squares (not np.hypot): ANSI-SQL-reproducible rounding
        ddx = cur[:, 0] - last_xy[r, 0]
        ddy = cur[:, 1] - last_xy[r, 1]
        d = np.sqrt(ddx * ddx + ddy * ddy)
        is_last = (p == lens[r] - 1)
        k = (d >= tol_deg) | is_last
        keep[vi[k]] = True
        last_xy[r[k]] = cur[k]
    # fallback: rows with <2 kept points revert to original
    kept_per_row = np.zeros(n, dtype=np.int64)
    np.add.at(kept_per_row, row[keep], 1)
    revert = (kept_per_row < 2) & (lens >= 2)
    if revert.any():
        for i in np.nonzero(revert)[0]:
            keep[offsets[i] : offsets[i + 1]] = True
    new_lens = np.zeros(n, dtype=np.int64)
    np.add.at(new_lens, row[keep], 1)
    new_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(new_lens, out=new_offsets[1:])
    return new_offsets, flat_xy[keep]


def bbox_per_row(offsets: np.ndarray, flat_xy: np.ndarray) -> np.ndarray:
    """(n, 4) [min_lon, min_lat, max_lon, max_lat]; empty rows → NaN."""
    n = len(offsets) - 1
    out = np.full((n, 4), np.nan)
    if flat_xy.shape[0] == 0:
        return out
    row = np.repeat(np.arange(n), np.diff(offsets))
    out[:, 0] = np.inf
    out[:, 1] = np.inf
    out[:, 2] = -np.inf
    out[:, 3] = -np.inf
    np.minimum.at(out[:, 0], row, flat_xy[:, 0])
    np.minimum.at(out[:, 1], row, flat_xy[:, 1])
    np.maximum.at(out[:, 2], row, flat_xy[:, 0])
    np.maximum.at(out[:, 3], row, flat_xy[:, 1])
    out[~np.isfinite(out)] = np.nan
    return out


def polygon_area_m2(offsets: np.ndarray, flat_xy: np.ndarray) -> np.ndarray:
    """Shoelace area in m² per row (rings assumed closed or near-closed)."""
    n = len(offsets) - 1
    out = np.zeros(n)
    if flat_xy.shape[0] == 0:
        return out
    ref_lat = bbox_per_row(offsets, flat_xy)[:, [1, 3]].mean(axis=1)
    row = np.repeat(np.arange(n), np.diff(offsets))
    m = local_meters(flat_xy, ref_lat[row])
    x1, y1 = m[:-1, 0], m[:-1, 1]
    x2, y2 = m[1:, 0], m[1:, 1]
    valid = row[:-1] == row[1:]
    cross = x1 * y2 - x2 * y1
    np.add.at(out, row[:-1][valid], cross[valid])
    # close ring: last→first per row
    firsts, lasts = offsets[:-1], offsets[1:] - 1
    ok = np.diff(offsets) >= 3
    fx, fy = m[firsts[ok], 0], m[firsts[ok], 1]
    lx, ly = m[lasts[ok], 0], m[lasts[ok], 1]
    out[ok] += lx * fy - fx * ly
    return np.abs(out) / 2.0


def polygon_centroid(offsets: np.ndarray, flat_xy: np.ndarray) -> np.ndarray:
    """(n, 2) planar (degree-space) shoelace centroid per ring — shapely's
    ``centroid`` operates in coordinate space, so this matches the
    reference's polygon→waypoint collapse (`fieldwork/osm2favorities.py:89-92`).

    Rings may be open or explicitly closed (the closing segment's cross
    product is 0, so double-closing is harmless).  Rows with <3 points or
    ~zero area fall back to the vertex mean (a POINT centroids to itself);
    empty rows → NaN.
    """
    n = len(offsets) - 1
    out = np.full((n, 2), np.nan)
    cnt = np.diff(offsets)
    if flat_xy.shape[0] == 0:
        return out
    row = np.repeat(np.arange(n), cnt)
    # vertex-mean fallback (points, segments, degenerate rings)
    sx = np.zeros(n)
    sy = np.zeros(n)
    np.add.at(sx, row, flat_xy[:, 0])
    np.add.at(sy, row, flat_xy[:, 1])
    nz = cnt > 0
    out[nz, 0] = sx[nz] / cnt[nz]
    out[nz, 1] = sy[nz] / cnt[nz]
    # area-weighted centroid over consecutive-vertex cross products.
    # Coordinates are translated to each ring's FIRST VERTEX first: for a
    # small ring at large coordinates (a ~0.002° square near lon −109) the
    # untranslated cross terms are ~4000 canceling to ~1e-5, and the lost
    # precision lands in the centroid at ~1e-6 deg — visible at 6 dp.
    firsts0 = offsets[:-1]
    origin = flat_xy[np.minimum(firsts0[row], len(flat_xy) - 1)] if len(flat_xy) else flat_xy
    loc = flat_xy - origin
    x1, y1 = loc[:-1, 0], loc[:-1, 1]
    x2, y2 = loc[1:, 0], loc[1:, 1]
    valid = row[:-1] == row[1:]
    cross = x1 * y2 - x2 * y1
    area2 = np.zeros(n)
    cx = np.zeros(n)
    cy = np.zeros(n)
    np.add.at(area2, row[:-1][valid], cross[valid])
    np.add.at(cx, row[:-1][valid], ((x1 + x2) * cross)[valid])
    np.add.at(cy, row[:-1][valid], ((y1 + y2) * cross)[valid])
    # close ring: last→first per row (first vertex is the local origin, so
    # fx = fy = 0 and the closing cross term simplifies — kept explicit)
    firsts, lasts = offsets[:-1], offsets[1:] - 1
    ok = cnt >= 3
    fx, fy = loc[firsts[ok], 0], loc[firsts[ok], 1]
    lx, ly = loc[lasts[ok], 0], loc[lasts[ok], 1]
    c2 = lx * fy - fx * ly
    area2[ok] += c2
    cx[ok] += (lx + fx) * c2
    cy[ok] += (ly + fy) * c2
    good = ok & (np.abs(area2) > 1e-30)
    ox = flat_xy[firsts0[good], 0]
    oy = flat_xy[firsts0[good], 1]
    out[good, 0] = ox + cx[good] / (3 * area2[good])
    out[good, 1] = oy + cy[good] / (3 * area2[good])
    return out


def rect_overlap_area(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Axis-aligned bbox intersection area (deg²) for paired (n,4) boxes."""
    w = np.minimum(a[:, 2], b[:, 2]) - np.maximum(a[:, 0], b[:, 0])
    h = np.minimum(a[:, 3], b[:, 3]) - np.maximum(a[:, 1], b[:, 1])
    return np.clip(w, 0, None) * np.clip(h, 0, None)
