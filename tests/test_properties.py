"""Property-based tests (hypothesis) for the kernels whose correctness
every distributed operator inherits.  The NumPy kernels run directly on
adversarial inputs; the JVM geometry-text decoder runs one Spark job per
property over every drawn row."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_merge_spark import geometry as G
from osm_merge_spark import grid as GR
from osm_merge_spark.functions.geo import geom_from_wkt
from osm_merge_spark.sources import synth
from osm_merge_spark.sources import tilesinks as TS

coord = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False, width=64)
lat = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False, width=64)
line = st.lists(st.tuples(coord, lat), min_size=2, max_size=12)


def _drawn(strategy, n: int) -> list:
    """Up to ``n`` examples of ``strategy``, drawn up front so that one
    Spark job checks them all."""
    out = []

    @settings(max_examples=n, deadline=None, database=None)
    @given(strategy)
    def draw(x):
        out.append(x)

    draw()
    return out


def _decoded(spark, texts: list[str]) -> list[list[float]]:
    df = spark.createDataFrame(list(enumerate(texts)), "i int, wkt string")
    return [r.g for r in df.select("i", geom_from_wkt(F.col("wkt")).alias("g")).orderBy("i").collect()]


def test_wkt_round_trip(spark):
    """Lines written as WKT, by Python and by the engine's own JVM encoder
    (the span table's geom spans), decode to exactly their coordinates."""
    lines = [[(round(x, 7), round(y, 7)) for x, y in pts] for pts in _drawn(line, 200)]
    flat = [[c for pt in pts for c in pt] for pts in lines]
    texts = ["LINESTRING(" + ",".join(f"{x} {y}" for x, y in pts) + ")" for pts in lines]
    assert _decoded(spark, texts) == flat
    geoms = spark.createDataFrame(list(enumerate(flat)), "i int, geom array<double>")
    encoded = geoms.select("i", geom_from_wkt(synth._wkt_linestring(F.col("geom"))).alias("g"))
    assert [r.g for r in encoded.orderBy("i").collect()] == flat


@st.composite
def _malformed_row(draw):
    """(WKT line, its true flat coordinates): some rows carry a dangling
    number at a drawn vertex position, some a Z ordinate on every vertex."""
    pts = draw(st.lists(st.tuples(coord, lat), min_size=1, max_size=30))
    pts = [(round(x, 6), round(y, 6)) for x, y in pts]
    vertices = [f"{x} {y}" for x, y in pts]
    shape = draw(st.sampled_from(["clean", "dangling", "z"]))
    if shape == "dangling":
        vertices.insert(draw(st.integers(0, len(vertices))), "5.0")
    elif shape == "z":
        vertices = [f"{v} {draw(coord)}" for v in vertices]
    return "LINESTRING(" + ",".join(vertices) + ")", [c for pt in pts for c in pt]


def test_wkt_decode_survives_malformed_rows(spark):
    """A malformed row (a dangling number that completes no vertex) loses
    only that number, and every other row keeps its exact coordinates."""
    rows = _drawn(_malformed_row(), 300)
    assert _decoded(spark, [text for text, _ in rows]) == [truth for _, truth in rows]


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=16),
    st.data(),
)
def test_hilbert_bijection_and_locality(z, data):
    n = 1 << z
    xs = np.array([data.draw(st.integers(0, n - 1)) for _ in range(10)], dtype=np.int64)
    ys = np.array([data.draw(st.integers(0, n - 1)) for _ in range(10)], dtype=np.int64)
    tid = TS.pmtiles_tile_id(np.full(10, z), xs, ys)
    base = TS.zoom_base(z)
    assert ((tid >= base) & (tid < base + n * n)).all()
    for i in range(10):
        zz, xx, yy = TS.tile_id_from_pmtiles(int(tid[i]))
        assert (zz, xx, yy) == (z, xs[i], ys[i])


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 26) - 1), st.integers(min_value=0, max_value=(1 << 26) - 1))
def test_morton_round_trip(x, y):
    m = GR.morton_encode(np.array([x], dtype=np.int64), np.array([y], dtype=np.int64))
    xb, yb = GR.morton_decode(m)
    assert (xb[0], yb[0]) == (x, y)


@settings(max_examples=200, deadline=None)
@given(coord, lat, coord, lat)
def test_haversine_metric_properties(lon1, la1, lon2, la2):
    d = float(G.haversine_m(lon1, la1, lon2, la2))
    assert d >= 0
    assert abs(d - float(G.haversine_m(lon2, la2, lon1, la1))) < 1e-6  # symmetry
    if (lon1, la1) == (lon2, la2):
        assert d < 1e-6


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, lat), min_size=3, max_size=20))
def test_convex_hull_contains_all_points(pts):
    P = np.array(pts)
    hull = G.convex_hull_2d(P)
    # every input point is inside or on the hull: cross products vs each edge
    h = np.vstack([hull, hull[:1]])
    for px, py in pts:
        inside = True
        for i in range(len(h) - 1):
            ax, ay = h[i]
            bx, by = h[i + 1]
            if (bx - ax) * (py - ay) - (by - ay) * (px - ax) < -1e-9 * max(1.0, abs(px) + abs(py)):
                inside = False
        assert inside


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, lat), min_size=2, max_size=15), st.floats(0.0, 0.01))
def test_simplify_keeps_endpoints_and_shrinks(pts, tol):
    P = np.array(pts)
    offsets = np.array([0, len(P)], dtype=np.int64)
    o2, f2 = G.simplify_radial(offsets, P, tol_deg=tol)
    kept = f2[o2[0] : o2[1]]
    assert len(kept) <= len(P)
    assert np.allclose(kept[0], P[0]) and np.allclose(kept[-1], P[-1])


@settings(max_examples=100, deadline=None)
@given(st.integers(2, 14), st.data())
def test_cell_zxy_round_trip(z, data):
    n = 1 << z
    x = data.draw(st.integers(0, n - 1))
    y = data.draw(st.integers(0, n - 1))
    cell = GR.cell_from_zxy(np.array([z]), np.array([x]), np.array([y]))
    zz, xx, yy = GR.cell_zxy(cell)
    assert (zz[0], xx[0], yy[0]) == (z, x, y)
