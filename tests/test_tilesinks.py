"""Basemap sinks (K3 MBTiles / K4 PMTiles / K5 .poly): round-trips and the
reference's format quirks (TMS flip `fieldwork/sqlite.py:242-246`, OsmAnd
z=17-z `:232-238`, .poly layout `geojson2poly.py:75-117`)."""

import gzip
import sqlite3
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_merge_spark.operators.media import synth_payload
from osm_merge_spark.sources import tilesinks as TS

TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def tiles(spark):
    rows = [(z, x, y) for z in (3, 4, 5) for x in range(1 << z) for y in range(1 << z) if (x * 31 + y * 7 + z) % 5 != 0]
    df = spark.createDataFrame(rows, TILE_SCHEMA)
    return df.withColumn("data", synth_payload(F.format_string("tile/%d/%d/%d", "z", "x", "y"))).cache()


def test_hilbert_column_matches_numpy(spark):
    z = 6
    n = 1 << z
    df = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    got = df.select("x", "y", TS.hilbert_tile_id_col(F.col("x"), F.col("y"), z).alias("tid")).toPandas()
    want = TS.pmtiles_tile_id(np.full(len(got), z), got["x"].to_numpy(), got["y"].to_numpy())
    assert (got["tid"].to_numpy() == want).all()
    # full cover: every id in [base, base+n*n) exactly once
    base = TS.zoom_base(z)
    assert sorted(got["tid"]) == list(range(base, base + n * n))


def test_hilbert_column_guard_z8(spark):
    with pytest.raises(ValueError):
        TS.hilbert_tile_id_col(F.lit(0), F.lit(0), 8)


def test_with_hilbert_tile_id_deep_zoom(spark):
    # z=9 is past the single-Column unroll's compile ceiling; the per-step
    # projection path must still match the numpy kernel.
    z, n = 9, 1 << 9
    df = spark.range(4096).select(
        ((F.col("id") * 2654435761) % n).alias("x"),
        ((F.col("id") * 40503 + 7) % n).alias("y"),
    )
    got = TS.with_hilbert_tile_id(df, "x", "y", z).toPandas()
    want = TS.pmtiles_tile_id(np.full(len(got), z), got["x"].to_numpy(), got["y"].to_numpy())
    assert (got["tile_id"].to_numpy() == want).all()


def test_pmtiles_round_trip(spark, tiles, tmp_path):
    path = str(tmp_path / "out.pmtiles")
    stats = TS.write_pmtiles(tiles, path, tile_type="jpg", metadata={"name": "t"})
    want = {(r.z, r.x, r.y): bytes(r.data) for r in tiles.collect()}
    assert stats["tiles"] == len(want)
    got = {(z, x, y): blob for z, x, y, blob in TS.read_pmtiles(path)}
    assert got == want
    # header sanity: magic/version/zooms
    with open(path, "rb") as fd:
        vals = struct.unpack(TS._HEADER_FMT, fd.read(127))
    assert vals[0] == b"PMTiles" and vals[1] == 3
    assert (vals[17], vals[18]) == (3, 5)
    # NumTileEntries reflects the run-length-coalesced directory entries,
    # which can only be <= the addressed-tile count
    assert vals[11] == stats["entries"] <= vals[10] == stats["tiles"]


def test_pmtiles_dedup_and_run_length(spark, tmp_path):
    # constant payload over a full grid exercises the content-dedup +
    # run-length path: one content record, ONE serialized directory entry
    z = 7
    df = (
        spark.range((1 << z) * (1 << z))
        .select(
            F.lit(z).cast("int").alias("z"),
            (F.col("id") % (1 << z)).alias("x"),
            (F.col("id") / (1 << z)).cast("long").alias("y"),
        )
        .withColumn("data", F.lit(b"\x01\x02"))
    )
    path = str(tmp_path / "big.pmtiles")
    stats = TS.write_pmtiles(df, path)
    # the header's NumTileEntries reports serialized entries, not tiles
    assert stats == {"tiles": 16384, "entries": 1, "contents": 1}
    got = TS.read_pmtiles(path)
    assert len(got) == 16384 and all(b == b"\x01\x02" for _, _, _, b in got)
    zs = {(x, y) for z_, x, y, _ in got}
    assert len(zs) == 16384


def test_pmtiles_leaf_spill(spark, tmp_path):
    # distinct payloads defeat both dedup and run-length coalescing, so
    # >4096 packed entries force the root→leaf directory spill
    z = 7
    df = spark.range((1 << z) * (1 << z)).select(
        F.lit(z).cast("int").alias("z"),
        (F.col("id") % (1 << z)).alias("x"),
        (F.col("id") / (1 << z)).cast("long").alias("y"),
        F.encode(F.format_string("payload-%d", "id"), "utf-8").alias("data"),
    )
    path = str(tmp_path / "leafy.pmtiles")
    stats = TS.write_pmtiles(df, path)
    assert stats == {"tiles": 16384, "entries": 16384, "contents": 16384}
    with open(path, "rb") as fd:
        vals = struct.unpack(TS._HEADER_FMT, fd.read(127))
    assert vals[7] > 0  # non-empty leaf directory section
    got = {(x, y): blob for _, x, y, blob in TS.read_pmtiles(path)}
    assert len(got) == 16384
    assert got[(5, 3)] == b"payload-%d" % (3 * (1 << z) + 5)


def test_mbtiles_round_trip_and_flip(spark, tiles, tmp_path):
    path = str(tmp_path / "out.mbtiles")
    n = TS.write_mbtiles(tiles, path, name="fixture", image_format="jpg")
    assert n == tiles.count()
    db = sqlite3.connect(path)
    meta = dict(db.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["minzoom"] == "3" and meta["maxzoom"] == "5" and meta["format"] == "jpg"
    # TMS flip recorded raw in the file (`sqlite.py:243`)
    raw = db.execute(
        "SELECT count(*) FROM tiles t WHERE NOT EXISTS (SELECT 1 FROM tiles u WHERE u.zoom_level=t.zoom_level)"
    ).fetchone()
    db.close()
    back = TS.read_mbtiles(spark, path)
    a = {(r.z, r.x, r.y): bytes(r.data) for r in back.collect()}
    b = {(r.z, r.x, r.y): bytes(r.data) for r in tiles.collect()}
    assert a == b


def test_osmand_inverse_zoom(spark, tiles, tmp_path):
    path = str(tmp_path / "out.sqlitedb")
    n = TS.write_osmand_sqlitedb(tiles, path)
    assert n == tiles.count()
    db = sqlite3.connect(path)
    zs = [r[0] for r in db.execute("SELECT DISTINCT z FROM tiles ORDER BY z").fetchall()]
    info = db.execute("SELECT maxzoom, minzoom FROM info").fetchone()
    db.close()
    assert zs == [12, 13, 14]  # 17 - {5,4,3}
    assert info == (14, 12)


def test_poly_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "POLYGON((0.0 0.0,1.0 0.0,1.0 1.0,0.0 0.0))"),
            (2, "LINESTRING(5.0 5.0,6.0 6.5)"),
        ],
        "id int, geom string",
    )
    path = str(tmp_path / "aoi.poly")
    n = TS.write_poly(df, path, header="aoi.geojson", order_col="id")
    assert n == 2
    text = open(path).read()
    lines = text.splitlines()
    assert lines[0] == "aoi.geojson"
    assert lines[1] == "1"
    assert lines[2] == "    0.0   0.0"
    # each ring closes with END; file closes with END (`geojson2poly.py:98,115`)
    assert text.count("END") == 3 and lines[-1] == "END"
    assert "    5.0   5.0" in text


def test_poly_sink_writes_outer_ring_only(spark, tmp_path):
    # `geojson2poly.py:92-104` writes a polygon's outer ring; the hole's
    # vertices must not be appended to it
    df = spark.createDataFrame(
        [(1, "POLYGON((0 0,10 0,10 10,0 0),(2 2,3 2,3 3,2 2))")], "id int, geom string"
    )
    path = str(tmp_path / "holed.poly")
    assert TS.write_poly(df, path, header="holed") == 1
    lines = open(path).read().splitlines()
    assert lines == ["holed", "1", "    0.0   0.0", "    10.0   0.0", "    10.0   10.0", "    0.0   0.0", "END", "END"]


def test_directory_serde_gzip_deterministic():
    entries = [(i * 3, i * 10, 10, 1) for i in range(100)]
    b1 = TS.serialize_directory(entries)
    b2 = TS.serialize_directory(entries)
    assert b1 == b2  # mtime pinned → byte-stable artifact
    assert TS.deserialize_directory(b1) == entries
    assert gzip.decompress(b1)  # valid gzip stream
