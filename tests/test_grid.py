import numpy as np
import pytest

from osm_merge_spark import grid


def test_morton_roundtrip():
    rng = np.random.RandomState(42)
    x = rng.randint(0, 1 << 29, size=1000).astype(np.int64)
    y = rng.randint(0, 1 << 29, size=1000).astype(np.int64)
    m = grid.morton_encode(x, y)
    xd, yd = grid.morton_decode(m)
    assert np.array_equal(x, xd)
    assert np.array_equal(y, yd)


def test_cell_id_roundtrip_and_locality():
    rng = np.random.RandomState(42)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-80, 80, 500)
    c = grid.cell_id(lon, lat, 18)
    z, x, y = grid.cell_zxy(c)
    assert np.all(z == 18)
    x2, y2 = grid.lonlat_to_tile(lon, lat, 18)
    assert np.array_equal(x, x2)
    assert np.array_equal(y, y2)
    # nearby points (<10m) share cell or are adjacent
    c2 = grid.cell_id(lon + 1e-5, lat + 1e-5, 18)
    _, xa, ya = grid.cell_zxy(c2)
    assert np.all(np.abs(xa - x) <= 1)
    assert np.all(np.abs(ya - y) <= 1)


def test_parent_cell_consistency():
    lon = np.array([-105.5, 10.25, 170.0])
    lat = np.array([40.0, -33.0, 65.0])
    c18 = grid.cell_id(lon, lat, 18)
    c10_direct = grid.cell_id(lon, lat, 10)
    c10_parent = grid.parent_cell(c18, 10)
    assert np.array_equal(c10_direct, c10_parent)


def test_cover_polyline_matches_pointwise():
    # a diagonal line across several cells
    xy = np.array([[-105.0, 40.0], [-104.99, 40.006]])
    offsets = np.array([0, 2])
    cells, rows = grid.cover_polyline(xy, offsets, 18)
    assert np.all(rows == 0)
    # endpoints' cells must be covered
    end_cells = grid.cell_id(xy[:, 0], xy[:, 1], 18)
    for ec in end_cells:
        assert ec in cells
    # dense sampling along the line should not find uncovered cells
    t = np.linspace(0, 1, 200)
    px = xy[0, 0] + (xy[1, 0] - xy[0, 0]) * t
    py = xy[0, 1] + (xy[1, 1] - xy[0, 1]) * t
    dense = np.unique(grid.cell_id(px, py, 18))
    assert set(dense).issubset(set(cells.tolist()))


def test_cover_polyline_multirow_and_points():
    xy = np.array([[-105.0, 40.0], [-104.999, 40.0], [10.0, 10.0], [20.0, 20.0], [20.001, 20.001]])
    offsets = np.array([0, 2, 3, 5])  # line, point, line
    cells, rows = grid.cover_polyline(xy, offsets, 18)
    assert set(rows.tolist()) == {0, 1, 2}
    pt_cell = grid.cell_id(np.array([10.0]), np.array([10.0]), 18)[0]
    assert pt_cell in cells[rows == 1]


def test_cover_pads_points_in_any_batch():
    """A point within pad_m of a tile border gets the neighbor cell whether
    or not a line shares its batch: the cover is a pure function of the
    geometry."""
    z, lat = 16, 40.0
    border = 13654 / (1 << z) * 360.0 - 180.0  # west edge of tile x=13654
    pt = np.array([[border - 1.0 / (111_320.0 * np.cos(np.radians(lat))), lat]])
    alone, _ = grid.cover_polyline(pt, np.array([0, 1]), z, pad_m=7.0)
    line = np.array([[-104.9, 40.1], [-104.89, 40.1]])
    cells, rows = grid.cover_polyline(np.vstack([pt, line]), np.array([0, 1, 3]), z, pad_m=7.0)
    _, x, _ = grid.cell_zxy(alone)
    assert sorted(x.tolist()) == [13653, 13654]
    assert sorted(alone.tolist()) == sorted(cells[rows == 0].tolist())


def test_cell_size_m():
    assert grid.cell_size_m(18, 0.0) == pytest.approx(152.87, rel=1e-3)
    assert grid.cell_size_m(18, 60.0) == pytest.approx(152.87 / 2, rel=1e-2)


def test_clip_rects_convex_against_known_areas():
    """SH clip kernel: interior rect keeps its full area; a rect sticking
    out of the AOI loses exactly the outside part (checked on a square AOI
    where the truth is hand-computable)."""
    import numpy as np
    from osm_merge_spark.operators import tiling as TL

    ring = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)])
    P, cnt = TL.clip_rects_convex(
        np.array([0.2, 0.5, 2.0, -0.5]),   # interior, straddles, outside, half-in
        np.array([0.2, 0.5, 2.0, 0.25]),
        np.array([0.4, 1.5, 3.0, 0.25]),
        np.array([0.4, 1.5, 3.0, 0.75]),
        ring,
    )
    assert cnt[0] == 4 and cnt[2] == 0
    def areas(i):
        p = P[i, : cnt[i]]
        x, y = p[:, 0], p[:, 1]
        return abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)) / 2.0
    assert abs(areas(0) - 0.04) < 1e-12          # fully inside: 0.2 x 0.2
    assert abs(areas(1) - 0.25) < 1e-12          # clipped to [0.5,1]^2
    assert abs(areas(3) - 0.125) < 1e-12         # clipped to x in [0, .25]


def test_cell_id_col_matches_numpy_kernel(spark):
    """The Column cell id (partition columns, the salt pre-pass proxy) is
    bit-identical to the numpy kernel, edges included."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    lon = np.concatenate([rng.uniform(-180, 180, 400), [-180.0, 180.0, 0.0, 179.9999999, -179.9999999]])
    lat = np.concatenate([rng.uniform(-85.2, 85.2, 400), [85.05112878, -85.05112878, 0.0, 89.9, -89.9]])
    pdf = pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat})
    df = spark.createDataFrame(pdf)
    for z in (1, 4, 8, 9, 16, 17, 18, 24):
        got = (
            df.select("i", grid.cell_id_col(F.col("lon"), F.col("lat"), z).alias("c"))
            .toPandas().sort_values("i")["c"].to_numpy()
        )
        assert np.array_equal(got, grid.cell_id(lon, lat, z)), z
