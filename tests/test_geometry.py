import numpy as np
import pyarrow as pa
import pytest

from osm_merge_spark import geometry as G


def test_arrow_codec_nulls_slices_roundtrip():
    geoms = pa.array(
        [[1.0, 2.0, 3.0, 4.0], None, [], [5.0, 6.0]], type=pa.list_(pa.float64())
    )
    flat, off = G.ragged_from_arrow(geoms)
    assert off.tolist() == [0, 2, 2, 2, 3]
    assert flat.tolist() == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    # a batch window starts at its own first row
    flat, off = G.ragged_from_arrow(geoms.slice(1))
    assert off.tolist() == [0, 0, 0, 1] and flat.tolist() == [[5.0, 6.0]]
    # a null row backed by a non-empty sub-list contributes no vertices
    masked = pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 6], type=pa.int32()),
        pa.array([1.0, 2.0, 9.0, 9.0, 3.0, 4.0]),
        mask=pa.array([False, True, False]),
    )
    flat, off = G.ragged_from_arrow(masked)
    assert off.tolist() == [0, 1, 1, 2] and flat.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    back = G.arrow_from_ragged(off, flat)
    assert back.to_pylist() == [[1.0, 2.0], [], [3.0, 4.0]]


def test_haversine_known():
    # ~1 deg lat = ~111.19 km
    d = G.haversine_m(0.0, 0.0, 0.0, 1.0)
    assert d == pytest.approx(111_195, rel=1e-3)


def test_min_dist_pair_points():
    A = G.pad_ragged(np.array([0, 1]), np.array([[-105.0, 40.0]]))
    B = G.pad_ragged(np.array([0, 1]), np.array([[-105.0, 40.001]]))
    d = G.min_dist_pair_m(A, B)
    assert d[0] == pytest.approx(110.54, rel=1e-2)


def test_min_dist_parallel_lines():
    # two parallel E-W lines 0.0001 deg apart in lat (~11m)
    a = np.array([[-105.0, 40.0], [-104.99, 40.0]])
    b = np.array([[-105.0, 40.0001], [-104.99, 40.0001]])
    A = G.pad_ragged(np.array([0, 2]), a)
    B = G.pad_ragged(np.array([0, 2]), b)
    d = G.min_dist_pair_m(A, B)
    assert d[0] == pytest.approx(11.05, rel=1e-2)


def test_min_dist_crossing_lines_zero():
    a = np.array([[-105.0, 40.0], [-104.99, 40.01]])
    b = np.array([[-105.0, 40.01], [-104.99, 40.0]])
    A = G.pad_ragged(np.array([0, 2]), a)
    B = G.pad_ragged(np.array([0, 2]), b)
    assert G.min_dist_pair_m(A, B)[0] == 0.0


def test_min_dist_mixed_batch_padding():
    # batch of 2 pairs with different vertex counts
    flat_a = np.array([[-105.0, 40.0], [-104.99, 40.0], [-104.98, 40.0], [0.0, 0.0]])
    off_a = np.array([0, 3, 4])
    flat_b = np.array([[-104.995, 40.0005], [0.001, 0.0]])
    off_b = np.array([0, 1, 2])
    A = G.pad_ragged(off_a, flat_a)
    B = G.pad_ragged(off_b, flat_b)
    d = G.min_dist_pair_m(A, B)
    assert d[0] == pytest.approx(55.3, rel=2e-2)  # 0.0005 deg lat ~= 55m
    assert d[1] == pytest.approx(111.3, rel=2e-2)  # 0.001 deg lon at equator


def test_endpoint_slope_angle():
    # identical direction → angle 0
    a = np.array([[-105.0, 40.0], [-104.9, 40.1]])
    b = np.array([[-105.0, 40.001], [-104.9, 40.101]])
    A = G.pad_ragged(np.array([0, 2]), a)
    B = G.pad_ragged(np.array([0, 2]), b)
    dslope, ang = G.endpoint_slope_angle(A, B)
    assert ang[0] == pytest.approx(0.0, abs=1e-6)
    # perpendicular-ish → large angle
    c = np.array([[-105.0, 40.0], [-105.0 + 0.1, 40.0 - 0.1]])
    C = G.pad_ragged(np.array([0, 2]), c)
    _, ang2 = G.endpoint_slope_angle(A, C)
    assert abs(ang2[0]) > 17.0


def test_point_in_polygon():
    ring = np.array([[-105, 40], [-104, 40], [-104, 41], [-105, 41], [-105, 40]], dtype=float)
    poly = G.pad_ragged(np.array([0, 5, 10]), np.vstack([ring, ring]))
    px = np.array([-104.5, -103.0])
    py = np.array([40.5, 40.5])
    inside = G.point_in_polygon(px, py, poly)
    assert inside.tolist() == [True, False]


def test_simplify_radial():
    # dense nearly-colinear line: interior near-duplicate points dropped
    t = np.linspace(0, 0.01, 50)
    flat = np.stack([-105 + t, 40 + t], axis=1)
    off = np.array([0, 50])
    no, nf = G.simplify_radial(off, flat, tol_deg=1e-3)
    assert 2 <= no[1] < 50
    assert np.allclose(nf[0], flat[0])
    assert np.allclose(nf[no[1] - 1], flat[-1])
    # 2-point line survives untouched
    off2, f2 = G.simplify_radial(np.array([0, 2]), flat[[0, -1]], tol_deg=1.0)
    assert off2[1] == 2


def test_polygon_area():
    # 0.1 x 0.1 deg box at equator ~ 11132m x 11054m
    ring = np.array([[0, 0], [0.1, 0], [0.1, 0.1], [0, 0.1], [0, 0]], dtype=float)
    area = G.polygon_area_m2(np.array([0, 5]), ring)
    assert area[0] == pytest.approx(11132 * 11054, rel=2e-2)


def test_bbox_and_rect_overlap():
    flat = np.array([[0, 0], [2, 1], [1, 3]], dtype=float)
    bb = G.bbox_per_row(np.array([0, 3]), flat)
    assert bb[0].tolist() == [0, 0, 2, 3]
    a = np.array([[0, 0, 2, 2]], dtype=float)
    b = np.array([[1, 1, 3, 3]], dtype=float)
    assert G.rect_overlap_area(a, b)[0] == 1.0
    b2 = np.array([[5, 5, 6, 6]], dtype=float)
    assert G.rect_overlap_area(a, b2)[0] == 0.0


def test_polyline_length():
    flat = np.array([[0, 0], [0, 1], [5, 5]], dtype=float)
    L = G.polyline_length_m(np.array([0, 2, 3]), flat)
    assert L[0] == pytest.approx(111_195, rel=1e-3)
    assert L[1] == 0.0


def test_ragged_kernel_matches_padded():
    """min_dist_pair_m_ragged must agree with the padded kernel (same math,
    different layout) on mixed-length random batches."""
    import numpy as np
    from osm_merge_spark import geometry as G

    rng = np.random.default_rng(42)
    n = 60
    lens_a = rng.integers(1, 12, n)
    lens_b = rng.integers(1, 12, n)
    off_a = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_a, out=off_a[1:])
    off_b = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_b, out=off_b[1:])
    flat_a = np.column_stack([
        -106.0 + rng.random(off_a[-1]) * 0.01, 39.0 + rng.random(off_a[-1]) * 0.01
    ])
    flat_b = np.column_stack([
        -106.0 + rng.random(off_b[-1]) * 0.01, 39.0 + rng.random(off_b[-1]) * 0.01
    ])
    padded = G.min_dist_pair_m(G.pad_ragged(off_a, flat_a), G.pad_ragged(off_b, flat_b))
    ragged = G.min_dist_pair_m_ragged(off_a, flat_a, off_b, flat_b, chunk_elems=64)
    assert np.allclose(padded, ragged, rtol=1e-9, atol=1e-9)
    ds_p, an_p = G.endpoint_slope_angle(G.pad_ragged(off_a, flat_a), G.pad_ragged(off_b, flat_b))
    ds_r, an_r = G.endpoint_slope_angle_ragged(off_a, flat_a, off_b, flat_b)
    assert np.allclose(ds_p, ds_r) and np.allclose(an_p, an_r)


def test_convex_hull_2d():
    import numpy as np
    from osm_merge_spark import geometry as G

    # square + interior/duplicate points → the 4 corners, CCW
    pts = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [5, 5], [2, 3], [0, 0]], dtype=float)
    hull = G.convex_hull_2d(pts)
    assert sorted(map(tuple, hull)) == [(0, 0), (0, 10), (10, 0), (10, 10)]
    # CCW orientation: positive shoelace area
    x, y = hull[:, 0], hull[:, 1]
    area2 = np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    assert area2 > 0
    # collinear → the two extremes
    col = G.convex_hull_2d(np.array([[0, 0], [1, 1], [2, 2], [3, 3]], dtype=float))
    assert len(col) == 2
    # single point
    assert len(G.convex_hull_2d(np.array([[4.0, 5.0]]))) == 1


def test_polyline_intersects_hull_exact_vs_bbox_proxy():
    """The J3 containment test is intersects(hull(old), new) — an L-shaped
    old way's hull is a triangle; its bbox is the full square.  Segments in
    the concave quadrant (inside bbox, outside hull) must NOT contact."""
    import numpy as np
    from osm_merge_spark import geometry as G

    old = np.array([[0, 0], [10, 0], [10, 10]], dtype=float)  # hull = triangle x>=y
    inside = np.array([[8, 2], [9, 3]], dtype=float)
    concave = np.array([[1, 8], [3, 8]], dtype=float)  # inside bbox, outside hull
    crossing = np.array([[-1, 5], [11, 5]], dtype=float)  # crosses the hull
    outside = np.array([[20, 20], [21, 21]], dtype=float)
    assert G.polyline_intersects_hull(inside, old)
    assert not G.polyline_intersects_hull(concave, old)
    assert G.polyline_intersects_hull(crossing, old)
    assert not G.polyline_intersects_hull(outside, old)
    # touching the hull boundary counts (dwithin(..., 0) semantics)
    touch = np.array([[10, -5], [10, 5]], dtype=float)
    assert G.polyline_intersects_hull(touch, old)
    # degenerate hulls: collinear old way, point old way
    seg_old = np.array([[0, 0], [10, 10]], dtype=float)
    assert G.polyline_intersects_hull(np.array([[0, 10], [10, 0]], dtype=float), seg_old)
    assert not G.polyline_intersects_hull(np.array([[0, 10], [4, 7]], dtype=float), seg_old)
    pt_old = np.array([[5.0, 5.0]])
    assert G.polyline_intersects_hull(np.array([[0, 0], [10, 10]], dtype=float), pt_old)
    assert not G.polyline_intersects_hull(np.array([[0, 1], [10, 11]], dtype=float), pt_old)


def test_hull_contact_mercator_frame():
    """hull_contact evaluates in the mercator frame (reference reprojects to
    3857 before the hull test, conflator.py:586-591) over the masked subset."""
    import numpy as np
    from osm_merge_spark import geometry as G

    # two pairs: (0) new inside old's hull, (1) new in the concave quadrant
    old = np.array([[-106.0, 39.0], [-105.9, 39.0], [-105.9, 39.1]])
    new0 = np.array([[-105.92, 39.01], [-105.91, 39.02]])
    new1 = np.array([[-105.99, 39.08], [-105.97, 39.08]])
    flat_old = np.vstack([old, old])
    off_old = np.array([0, 3, 6])
    flat_new = np.vstack([new0, new1])
    off_new = np.array([0, 2, 4])
    got = G.hull_contact(off_new, flat_new, off_old, flat_old, np.array([0, 1]))
    assert got.tolist() == [True, False]


def test_polyline_length_merc_m():
    """3857 lengths are inflated by ~1/cos(lat) vs true meters."""
    import numpy as np
    from osm_merge_spark import geometry as G

    # 0.01 deg of latitude at 60N: true ~1112 m, 3857 ~ x2 at lat 60
    flat = np.array([[10.0, 60.0], [10.0, 60.01]])
    off = np.array([0, 2])
    true_m = G.polyline_length_m(off, flat)[0]
    merc_m = G.polyline_length_merc_m(off, flat)[0]
    assert merc_m / true_m == pytest.approx(1.0 / np.cos(np.radians(60.005)), rel=1e-3)
