"""Basemap tile-pyramid sinks: MBTiles (K3), PMTiles (K4), .poly (K5).

Reference parity:

- MBTiles / OsmAnd sqlitedb writer: `osm_merge/fieldwork/sqlite.py:102-249`
  — ``tiles(zoom_level, tile_column, tile_row, tile_data)`` + ``metadata``
  schema (`:178-190`), TMS row flip ``y = (1<<z)-y-1`` (`:242-246`), OsmAnd
  inverse-zoom quirk ``z = 17 - z`` (`:232-238`).
- PMTiles sink: `osm_merge/fieldwork/basemapper.py:575-576` hands a tile
  directory to the pmtiles library; here the v3 container (public spec,
  github.com/protomaps/PMTiles) is written directly: Hilbert-ordered tile
  ids, varint-delta directories, 127-byte header.
- .poly sink: `osm_merge/utilities/geojson2poly.py:75-117` — the osmosis
  polygon-filter text format (header line, per-ring index, ``lon   lat``
  rows, ``END`` per ring, trailing ``END``).

Scale posture: a basemap container is a single-file, single-writer artifact
whose size is bounded by the AOI (thousands to low-millions of tiles), while
the expensive part — producing the blobs — is fully distributed.  The sinks
therefore compute tile ids / sections / metadata as DataFrame stages and
assemble the file driver-side through ``toLocalIterator`` over a
``tile_id``-sorted frame: one partition streams at a time, no full
``collect``, constant driver memory beyond the sqlite page cache / entry
list.  Fan-out across many AOIs = one sink call per AOI, trivially parallel
at the orchestration layer.
"""

from __future__ import annotations

import gzip
import json
import os
import sqlite3
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as G
from ..functions.geo import geom_from_wkt

# ---------------------------------------------------------------------------
# Hilbert curve (public-domain algorithm, e.g. Wikipedia "Hilbert curve");
# PMTiles v3 addresses tiles by on-curve position within each zoom level.
# ---------------------------------------------------------------------------


def hilbert_xy2d(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized (z, x, y) → Hilbert distance d on the 2^z × 2^z grid."""
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    n = np.int64(1) << z
    d = np.zeros_like(x)
    max_z = int(z.max()) if z.size else 0
    for i in range(max_z - 1, -1, -1):
        s = np.int64(1) << i
        live = z > i  # this step participates only for tiles deep enough
        rx = ((x >> i) & 1) & live
        ry = ((y >> i) & 1) & live
        d += s * s * ((3 * rx) ^ ry) * live
        # rotate quadrant: flip by n-1 when rx==1, then swap (only ry==0)
        flip = live & (ry == 0) & (rx == 1)
        swap = live & (ry == 0)
        x2 = np.where(flip, n - 1 - x, x)
        y2 = np.where(flip, n - 1 - y, y)
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
    return d


def hilbert_d2xy(z: int, d: int) -> tuple[int, int]:
    """Scalar inverse of :func:`hilbert_xy2d` (reader/verification side)."""
    x = y = 0
    t = int(d)
    s = 1
    n = 1 << z
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


def zoom_base(z: int) -> int:
    """First tile id of zoom z: sum of 4^k for k < z = (4^z - 1) / 3."""
    return ((1 << (2 * z)) - 1) // 3


def pmtiles_tile_id(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """PMTiles v3 tile id: zoom-level base + Hilbert position."""
    z = np.asarray(z, dtype=np.int64)
    return ((np.int64(1) << (2 * z)) - 1) // 3 + hilbert_xy2d(z, x, y)


def tile_id_from_pmtiles(tile_id: int) -> tuple[int, int, int]:
    """Inverse of :func:`pmtiles_tile_id` (scalar; reader side)."""
    z = 0
    while zoom_base(z + 1) <= tile_id:
        z += 1
    x, y = hilbert_d2xy(z, tile_id - zoom_base(z))
    return z, x, y


def hilbert_tile_id_col(x: Column, y: Column, z: int) -> Column:
    """Pure-Column (JVM, codegen-able) PMTiles tile id for a constant zoom.
    Unrolled ``z`` steps of the same Hilbert recurrence as
    :func:`hilbert_xy2d`.

    Each step references the running x/y in several branches, and Catalyst's
    projection collapse inlines them, so the expression tree grows ~3^z.
    Empirically z=7 is the last zoom whose generated Java still passes Janino
    (z=8 falls back to interpreted projection after ~minutes of codegen) —
    hence the hard z<=7 guard.  Deeper pyramids use
    :func:`with_hilbert_tile_id` (per-step projections, linear in z, any
    zoom) or :func:`with_tile_id` (Arrow kernel, mixed zooms)."""
    if z > 7:
        raise ValueError(
            "hilbert_tile_id_col unrolls ~3^z expression nodes and stops compiling at z=8; "
            "use with_hilbert_tile_id (linear projections) or with_tile_id (Arrow) for z > 7"
        )
    n = 1 << z
    d = F.lit(zoom_base(z)).cast("long")
    x = x.cast("long")
    y = y.cast("long")
    for i in range(z - 1, -1, -1):
        s = 1 << i
        rx = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, i).bitwiseAND(F.lit(1))
        d = d + F.lit(s * s).cast("long") * (rx * 3).bitwiseXOR(ry)
        nx = F.when(ry == 1, x).when(rx == 1, F.lit(n - 1) - y).otherwise(y)
        ny = F.when(ry == 1, y).when(rx == 1, F.lit(n - 1) - x).otherwise(x)
        x, y = nx, ny
    return d


def with_hilbert_tile_id(df: DataFrame, x: str, y: str, z: int, out_col: str = "tile_id") -> DataFrame:
    """PMTiles tile id at constant zoom for any z — the deep-pyramid JVM path.

    One ``withColumns`` projection per Hilbert step: Catalyst's
    CollapseProject only inlines aliases that are cheap or referenced once,
    and each step's CASE chains reference the running hx/hy several times, so
    the per-step projections survive as separate (small, codegen-able)
    Project nodes — total expression size LINEAR in z instead of the ~3^z
    blowup of :func:`hilbert_tile_id_col`'s single-Column unroll."""
    n = 1 << z
    hx, hy, hd = f"__hil_x_{out_col}", f"__hil_y_{out_col}", f"__hil_d_{out_col}"
    df = df.withColumns(
        {
            hx: F.col(x).cast("long"),
            hy: F.col(y).cast("long"),
            hd: F.lit(zoom_base(z)).cast("long"),
        }
    )
    for i in range(z - 1, -1, -1):
        s = 1 << i
        rx = F.shiftright(F.col(hx), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col(hy), i).bitwiseAND(F.lit(1))
        nx = F.when(ry == 1, F.col(hx)).when(rx == 1, F.lit(n - 1) - F.col(hy)).otherwise(F.col(hy))
        ny = F.when(ry == 1, F.col(hy)).when(rx == 1, F.lit(n - 1) - F.col(hx)).otherwise(F.col(hx))
        df = df.withColumns(
            {
                hd: F.col(hd) + F.lit(s * s).cast("long") * (rx * 3).bitwiseXOR(ry),
                hx: nx,
                hy: ny,
            }
        )
    return df.withColumn(out_col, F.col(hd)).drop(hx, hy, hd)


def hilbert_tile_id_sql(x: str, y: str, z: int, source: str, keep: str) -> str:
    """DuckDB twin of :func:`hilbert_tile_id_col`: the identical unrolled
    recurrence, one nested SELECT per step (generated, so the two engines
    cannot drift)."""
    n = 1 << z
    inner = f"SELECT {keep}, CAST({x} AS BIGINT) AS hx, CAST({y} AS BIGINT) AS hy, CAST({zoom_base(z)} AS BIGINT) AS hd FROM {source}"
    for i in range(z - 1, -1, -1):
        s = 1 << i
        inner = (
            f"SELECT {keep}, "
            f"CASE WHEN ((hy >> {i}) & 1) = 1 THEN hx WHEN ((hx >> {i}) & 1) = 1 THEN {n - 1} - hy ELSE hy END AS hx, "
            f"CASE WHEN ((hy >> {i}) & 1) = 1 THEN hy WHEN ((hx >> {i}) & 1) = 1 THEN {n - 1} - hx ELSE hx END AS hy, "
            f"hd + {s * s} * xor(((hx >> {i}) & 1) * 3, (hy >> {i}) & 1) AS hd "
            f"FROM ({inner})"
        )
    return inner


# ---------------------------------------------------------------------------
# PMTiles v3 container (write + read).  Layout: 127-byte header, gzip'd root
# directory, gzip'd JSON metadata, gzip'd leaf directories, tile data.
# ---------------------------------------------------------------------------

_HEADER_FMT = "<7sBQQQQQQQQQQQBBBBBBiiiiBii"
_MAGIC = b"PMTiles"
_MAX_ROOT_ENTRIES = 4096  # spill to leaf directories beyond this

TILE_TYPES = {"mvt": 1, "png": 2, "jpg": 3, "webp": 4, "avif": 5}


def _varint(value: int) -> bytes:
    out = bytearray()
    v = int(value)
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7


def serialize_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """Entries (tile_id, offset, length, run_length) → v3 directory bytes:
    count, then tile-id deltas, run lengths, lengths, offset codes (0 =
    "contiguous with previous", else offset+1)."""
    out = bytearray(_varint(len(entries)))
    last_id = 0
    for tid, _off, _ln, _rl in entries:
        out += _varint(tid - last_id)
        last_id = tid
    for _tid, _off, _ln, rl in entries:
        out += _varint(rl)
    for _tid, _off, ln, _rl in entries:
        out += _varint(ln)
    for i, (_tid, off, ln, _rl) in enumerate(entries):
        prev = entries[i - 1]
        if i > 0 and off == prev[1] + prev[2]:
            out += _varint(0)
        else:
            out += _varint(off + 1)
    return gzip.compress(bytes(out), mtime=0)


def deserialize_directory(blob: bytes) -> list[tuple[int, int, int, int]]:
    buf = gzip.decompress(blob)
    pos = 0
    count, pos = _read_varint(buf, pos)
    ids, rls, lns, offs = [], [], [], []
    last = 0
    for _ in range(count):
        delta, pos = _read_varint(buf, pos)
        last += delta
        ids.append(last)
    for _ in range(count):
        v, pos = _read_varint(buf, pos)
        rls.append(v)
    for _ in range(count):
        v, pos = _read_varint(buf, pos)
        lns.append(v)
    for i in range(count):
        v, pos = _read_varint(buf, pos)
        offs.append(offs[i - 1] + lns[i - 1] if v == 0 else v - 1)
    return list(zip(ids, offs, lns, rls))


_TID_UDF_SCHEMA = T.LongType()


@F.pandas_udf(_TID_UDF_SCHEMA)
def _tile_id_udf(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(pmtiles_tile_id(z.to_numpy(), x.to_numpy(), y.to_numpy()))


def with_tile_id(tiles: DataFrame, z: str = "z", x: str = "x", y: str = "y") -> DataFrame:
    """Attach the PMTiles Hilbert tile id (mixed zooms; Arrow kernel)."""
    return tiles.withColumn("tile_id", _tile_id_udf(F.col(z), F.col(x), F.col(y)))


def write_pmtiles(
    tiles: DataFrame,
    path: str,
    tile_type: str = "jpg",
    metadata: dict | None = None,
) -> dict:
    """Write (z, x, y, data binary) as a PMTiles v3 archive.

    Distributed: tile-id assignment, bounds/zoom aggregation, content-hash
    for blob dedup, and the tile-id sort.  Driver: streaming assembly via
    ``toLocalIterator`` (clustered layout — offsets increase with tile id;
    identical blobs share one content record, as the spec encourages).
    Returns the stats dict that lands in the header.
    """
    ordered = (
        with_tile_id(tiles)
        .select("tile_id", "z", "x", "y", "data", F.md5("data").alias("sig"))
        .orderBy("tile_id")
    )
    stats = tiles.agg(
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
        F.count("*").alias("n"),
    ).first()

    entries: list[tuple[int, int, int, int]] = []
    data = bytearray()
    seen: dict[str, tuple[int, int]] = {}
    for row in ordered.toLocalIterator():
        hit = seen.get(row.sig)
        if hit is None:
            blob = bytes(row.data)
            hit = (len(data), len(blob))
            data += blob
            seen[row.sig] = hit
        entries.append((int(row.tile_id), hit[0], hit[1], 1))

    # run-length coalesce: consecutive ids sharing one content record
    packed: list[tuple[int, int, int, int]] = []
    for e in entries:
        if packed and packed[-1][1] == e[1] and packed[-1][0] + packed[-1][3] == e[0]:
            p = packed[-1]
            packed[-1] = (p[0], p[1], p[2], p[3] + 1)
        else:
            packed.append(e)

    if len(packed) <= _MAX_ROOT_ENTRIES:
        root = serialize_directory(packed)
        leaves = b""
    else:
        chunks = [packed[i : i + _MAX_ROOT_ENTRIES] for i in range(0, len(packed), _MAX_ROOT_ENTRIES)]
        leaf_blobs = [serialize_directory(c) for c in chunks]
        root_entries = []
        off = 0
        for c, lb in zip(chunks, leaf_blobs):
            root_entries.append((c[0][0], off, len(lb), 0))  # run_length 0 = leaf
            off += len(lb)
        root = serialize_directory(root_entries)
        leaves = b"".join(leaf_blobs)

    meta = gzip.compress(json.dumps(metadata or {}, sort_keys=True).encode(), mtime=0)
    header_len = 127
    root_off = header_len
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta)
    data_off = leaf_off + len(leaves)
    header = struct.pack(
        _HEADER_FMT,
        _MAGIC,
        3,
        root_off,
        len(root),
        meta_off,
        len(meta),
        leaf_off,
        len(leaves),
        data_off,
        len(data),
        int(stats.n),  # addressed tiles
        len(packed),  # tile entries actually serialized (post run-length coalesce)
        len(seen),  # distinct tile contents
        1,  # clustered
        2,  # internal compression: gzip
        1,  # tile compression: none
        TILE_TYPES.get(tile_type, 0),
        int(stats.min_z or 0),
        int(stats.max_z or 0),
        -1800000000,
        -850000000,
        1800000000,
        850000000,
        int(stats.min_z or 0),
        0,
        0,
    )
    assert len(header) == header_len, len(header)
    with open(path, "wb") as fd:
        fd.write(header)
        fd.write(root)
        fd.write(meta)
        fd.write(leaves)
        fd.write(data)
    return {"tiles": int(stats.n), "entries": len(packed), "contents": len(seen)}


def read_pmtiles(path: str) -> list[tuple[int, int, int, bytes]]:
    """Decode a PMTiles archive back to (z, x, y, blob) rows (driver-side;
    verification / round-trip surface)."""
    with open(path, "rb") as fd:
        raw = fd.read()
    vals = struct.unpack(_HEADER_FMT, raw[:127])
    assert vals[0] == _MAGIC and vals[1] == 3, "not a PMTiles v3 file"
    root_off, root_len, _m_off, _m_len, leaf_off, _leaf_len, data_off = vals[2:9]
    out = []

    def emit(entries):
        for tid, off, ln, rl in entries:
            if rl == 0:  # leaf pointer
                emit(deserialize_directory(raw[leaf_off + off : leaf_off + off + ln]))
                continue
            blob = raw[data_off + off : data_off + off + ln]
            for k in range(rl):
                z, x, y = tile_id_from_pmtiles(tid + k)
                out.append((z, x, y, blob))

    emit(deserialize_directory(raw[root_off : root_off + root_len]))
    return out


# ---------------------------------------------------------------------------
# MBTiles / OsmAnd sqlitedb (stdlib sqlite3)
# ---------------------------------------------------------------------------


def write_mbtiles(
    tiles: DataFrame,
    path: str,
    name: str = "basemap",
    description: str = "",
    image_format: str = "jpg",
    batch_rows: int = 4096,
) -> int:
    """Write (z, x, y, data binary) to an MBTiles sqlite file.

    Schema and metadata rows follow `fieldwork/sqlite.py:178-190`; rows are
    stored TMS-flipped (`:242-246`).  Bounds/zoom metadata come from one
    distributed agg over the tile corners; rows stream driver-side in tile
    order (single-writer file by construction).  Returns rows written.
    """
    from ..operators.media import tile_lonlat

    west, north = tile_lonlat(F.col("z"), F.col("x"), F.col("y"))
    east, south = tile_lonlat(F.col("z"), F.col("x") + 1, F.col("y") + 1)
    m = tiles.agg(
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
        F.min(west).alias("w"),
        F.min(south).alias("s"),
        F.max(east).alias("e"),
        F.max(north).alias("n"),
    ).first()

    if os.path.exists(path):
        os.remove(path)
    db = sqlite3.connect(path)
    cur = db.cursor()
    cur.execute(
        "CREATE TABLE tiles (zoom_level integer, tile_column integer, tile_row integer, tile_data blob)"
    )
    cur.execute("CREATE UNIQUE INDEX tile_index ON tiles (zoom_level, tile_column, tile_row)")
    cur.execute("CREATE TABLE metadata (name text, value text)")
    rows = [
        ("version", "1.1"),
        ("type", "baselayer"),
        ("name", name),
        ("description", description),
        ("format", image_format),
        ("bounds", f"{m.w},{m.s},{m.e},{m.n}"),
        ("minzoom", str(int(m.min_z))),
        ("maxzoom", str(int(m.max_z))),
    ]
    cur.executemany("INSERT INTO metadata (name, value) VALUES (?, ?)", rows)

    n_tiles = F.pow(F.lit(2.0), F.col("z").cast("double")).cast("long")
    flipped = tiles.select(
        F.col("z").alias("zoom_level"),
        F.col("x").alias("tile_column"),
        (n_tiles - 1 - F.col("y")).alias("tile_row"),
        F.col("data").alias("tile_data"),
    ).orderBy("zoom_level", "tile_column", "tile_row")
    n = 0
    batch = []
    for row in flipped.toLocalIterator():
        batch.append((int(row.zoom_level), int(row.tile_column), int(row.tile_row), bytes(row.tile_data)))
        if len(batch) >= batch_rows:
            cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)", batch)
            n += len(batch)
            batch = []
    if batch:
        cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)", batch)
        n += len(batch)
    db.commit()
    db.close()
    return n


def write_osmand_sqlitedb(tiles: DataFrame, path: str, batch_rows: int = 4096) -> int:
    """OsmAnd sqlitedb variant (`fieldwork/sqlite.py:193-199,232-238`):
    ``tiles(x, y, z, s, image)`` with the inverse zoom ``z = 17 - z``."""
    if os.path.exists(path):
        os.remove(path)
    db = sqlite3.connect(path)
    cur = db.cursor()
    cur.execute("CREATE TABLE tiles (x int, y int, z int, s int, image blob, PRIMARY KEY (x,y,z,s))")
    cur.execute("CREATE TABLE info (maxzoom Int, minzoom Int)")
    m = tiles.agg(F.min("z").alias("min_z"), F.max("z").alias("max_z")).first()
    cur.execute("INSERT INTO info VALUES (?, ?)", (17 - int(m.min_z), 17 - int(m.max_z)))
    src = tiles.select("x", "y", (F.lit(17) - F.col("z")).alias("z"), F.col("data")).orderBy("z", "x", "y")
    n = 0
    batch = []
    for row in src.toLocalIterator():
        batch.append((int(row.x), int(row.y), int(row.z), 0, bytes(row.data)))
        if len(batch) >= batch_rows:
            cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?, ?)", batch)
            n += len(batch)
            batch = []
    if batch:
        cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?, ?)", batch)
        n += len(batch)
    db.commit()
    db.close()
    return n


def read_mbtiles(spark: SparkSession, path: str) -> DataFrame:
    """MBTiles → DataFrame (z, x, y, data) with the TMS flip undone.  A
    basemap file is driver-local by nature; the frame is immediately
    distributed for downstream joins (raster↔vector leg)."""
    db = sqlite3.connect(path)
    rows = db.execute("SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles").fetchall()
    db.close()
    pdf = pd.DataFrame(rows, columns=["z", "x", "tms_y", "data"])
    schema = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    if len(pdf):
        pdf["y"] = np.left_shift(np.int64(1), pdf["z"].to_numpy(np.int64)) - 1 - pdf["tms_y"].to_numpy(np.int64)
        pdf["data"] = pdf["data"].map(bytes)
    else:
        pdf["y"] = pd.Series(dtype=np.int64)
    return spark.createDataFrame(pdf[["z", "x", "y", "data"]], schema)


# ---------------------------------------------------------------------------
# .poly sink (osmosis polygon-filter format)
# ---------------------------------------------------------------------------


@F.arrow_udf(T.StringType())
def _poly_section_udf(geom: pa.Array) -> pa.Array:
    """One .poly ring body per feature: indented ``lon   lat`` rows +
    ``END`` (the ring decoded from a POLYGON is its outer one —
    `geojson2poly.py:92-104` drops inners)."""
    flat, offsets = G.ragged_from_arrow(geom)
    rings = (flat[a:b].tolist() for a, b in zip(offsets[:-1], offsets[1:]))
    return pa.array(["".join(f"    {x}   {y}\n" for x, y in ring) + "END\n" for ring in rings])


def write_poly(df: DataFrame, path: str, header: str, geom_col: str = "geom", order_col: str | None = None) -> int:
    """Write features as an osmosis .poly file (`geojson2poly.py:75-117`):
    header line, then per-feature 1-based index + ring body + END, trailing
    END.  Section text is formatted distributed; the (small) file is
    assembled in feature order via ``toLocalIterator``."""
    section = _poly_section_udf(geom_from_wkt(F.col(geom_col))).alias("section")
    sections = df.select(section)
    if order_col:
        sections = df.select(F.col(order_col).alias("__o"), section).orderBy("__o").select("section")
    n = 0
    with open(path, "w") as fd:
        fd.write(f"{header}\n")
        for row in sections.toLocalIterator():
            n += 1
            fd.write(f"{n}\n")
            fd.write(row.section)
        fd.write("END\n")
    return n
