"""Seeded benchmark inputs.

Every table the workloads read is generated here from ``--seed`` and written
as parquet under the run's work directory, projected to a fixed column list,
so the timed operations always start from the same materialised bytes and no
change to the engine can move work out of the timed region into generation.

Road and document corpora come from ``sources/synth``, driven by the
benchmark's own ``orders`` key table instead of the shipped testdata: key
``k*100 + r`` with ``r == 7`` marking the hot box (synth's ``key % 100 == 7``
rule), so the hot share is a parameter here.  Keys stay below 1e9, the offset
synth gives novel external ids, and far below the ~3.4e9 where synth's ``_u``
hash would overflow int64.  Points and footprint boxes are generated with
NumPy directly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_merge_spark import grid
from osm_merge_spark.operators import spans
from osm_merge_spark.sources import synth

DEFAULT_SEED = 0
HOT_R = 7
SALT_PROXY_ZOOM = 16  # conflate.DEFAULT_CONFLATE_ZOOM: the zoom the salt pre-pass counts at

# Synth's AOI, shared by the point/box generators and the tiling grid.
AOI = (synth.LON0, synth.LAT0, synth.LON0 + synth.LON_SPAN, synth.LAT0 + synth.LAT_SPAN)

# Fixed column lists: the materialised corpora hold exactly these.
COLUMNS = {
    "osm_ways": ["way_id", "geom", "tags", "version"],
    "docs": ["doc_id", "spans"],
    "county_roads": ["ext_id", "rd_num", "road_name", "geom"],
    "probes": ["poi_id", "lon", "lat"],
    "targets": ["osm_id", "lon", "lat"],
    "boxes_a": ["bld_id", "min_lon", "min_lat", "max_lon", "max_lat"],
    "boxes_b": ["osm_bld_id", "min_lon", "min_lat", "max_lon", "max_lat"],
}


def write_orders(path: str, seed: int, n: int, hot_share: float) -> None:
    """The ``orders`` key table synth derives ways from: n distinct keys
    ``k*100 + r``; a ``hot_share`` fraction get ``r = 7`` (the hot box)."""
    rng = np.random.default_rng(seed)
    base = int(rng.integers(0, 5_000_000))
    k = base + rng.permutation(n).astype(np.int64) + 1
    r = rng.integers(0, 99, n)
    r = np.where(r >= HOT_R, r + 1, r)  # 0..99 without the hot residue
    r = np.where(rng.random(n) < hot_share, HOT_R, r)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"o_orderkey": k * 100 + r}), f"{path}/orders.parquet")


def _write(df: DataFrame, path: str, name: str) -> None:
    df.select(*COLUMNS[name]).write.mode("overwrite").parquet(f"{path}/{name}")


def write_osm_ways(spark: SparkSession, path: str, seed: int, n: int, hot_share: float) -> None:
    """The OSM ways the span-document table is made of, as plain features."""
    write_orders(path, seed, n, hot_share)
    _write(synth.osm_ways(spark, path), path, "osm_ways")


def write_docs(spark: SparkSession, path: str, seed: int, n: int, hot_share: float) -> None:
    """The interleaved span-document table plus a raw county-roads inventory
    (``rd_num``, ``road_name``, geom) that ``local_roads_convert`` turns into
    the external side: CR numbers, ``Fs <n>-<name>`` and ``County Road <n>``
    names, and a few rows with no ref at all (dropped by the converter)."""
    write_orders(path, seed, n, hot_share)
    _write(synth.documents_spans(spark, path), path, "docs")
    ext = synth.external_ways(spark, path)
    k = F.abs(F.col("ext_id"))
    num = (F.pmod(k, F.lit(900)) + 100).cast("int")
    kind = F.pmod(k, F.lit(10))
    county = ext.select(
        "ext_id",
        F.when((kind < 7) & (F.pmod(k, F.lit(50)) != 0), num).alias("rd_num"),
        F.when(kind == 7, F.concat(F.lit("County Road "), num.cast("string")))
        .when(kind == 8, F.concat(F.lit("Fs "), num.cast("string"), F.lit("-"), F.col("name")))
        .when(kind == 9, num.cast("string"))
        .otherwise(F.col("name"))
        .alias("road_name"),
        "geom",
    )
    _write(county, path, "county_roads")


class Points:
    """Clustered POI probes and OSM-node targets (60% of probes have a twin
    0-9 m away, so some fall past the 7 m tolerance) plus two footprint box
    sets, 60% of the external boxes having a shifted, resized OSM twin."""

    def __init__(self, seed: int, n_points: int, n_boxes: int):
        rng = np.random.default_rng(seed + 1_000_003)
        lon0, lat0, lon1, lat1 = AOI
        centers = np.column_stack(
            [rng.uniform(lon0 + 0.1, lon1 - 0.1, 400), rng.uniform(lat0 + 0.1, lat1 - 0.1, 400)]
        )

        def clustered(n):
            c = centers[rng.integers(0, len(centers), n)]
            xy = c + rng.normal(0.0, 0.02, (n, 2))
            return np.clip(xy[:, 0], lon0, lon1 - 1e-9), np.clip(xy[:, 1], lat0, lat1 - 1e-9)

        self.p_lon, self.p_lat = clustered(n_points)
        self.poi_id = np.arange(1, n_points + 1, dtype=np.int64)
        twin = rng.random(n_points) < 0.6
        d_m = rng.uniform(0.0, 9.0, twin.sum())
        ang = rng.uniform(0.0, 2 * np.pi, twin.sum())
        t_lat = self.p_lat[twin] + d_m * np.sin(ang) / 110_540.0
        t_lon = self.p_lon[twin] + d_m * np.cos(ang) / (111_320.0 * np.cos(np.radians(self.p_lat[twin])))
        b_lon, b_lat = clustered(n_points // 2)
        self.t_lon = np.concatenate([t_lon, b_lon])
        self.t_lat = np.concatenate([t_lat, b_lat])
        self.osm_id = rng.permutation(len(self.t_lon)).astype(np.int64) + 1

        a_lon, a_lat = clustered(n_boxes)
        a_w = rng.uniform(8.0, 25.0, n_boxes) / (111_320.0 * np.cos(np.radians(a_lat)))
        a_h = rng.uniform(8.0, 25.0, n_boxes) / 110_540.0
        self.a = np.column_stack([a_lon, a_lat, a_lon + a_w, a_lat + a_h])
        self.bld_id = np.arange(1, n_boxes + 1, dtype=np.int64)
        twin = rng.random(n_boxes) < 0.6
        m = int(twin.sum())
        shift = rng.uniform(-0.7, 0.7, (m, 2)) * np.column_stack([a_w[twin], a_h[twin]])
        scale = rng.uniform(0.7, 1.3, (m, 2)) * np.column_stack([a_w[twin], a_h[twin]])
        tw = np.column_stack([a_lon[twin] + shift[:, 0], a_lat[twin] + shift[:, 1]])
        x_lon, x_lat = clustered(n_boxes // 5)
        x_w = rng.uniform(8.0, 25.0, len(x_lon)) / (111_320.0 * np.cos(np.radians(x_lat)))
        x_h = rng.uniform(8.0, 25.0, len(x_lon)) / 110_540.0
        self.b = np.concatenate(
            [
                np.column_stack([tw, tw + scale]),
                np.column_stack([x_lon, x_lat, x_lon + x_w, x_lat + x_h]),
            ]
        )
        self.osm_bld_id = rng.permutation(len(self.b)).astype(np.int64) + 1

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        tables = {
            "probes": {"poi_id": self.poi_id, "lon": self.p_lon, "lat": self.p_lat},
            "targets": {"osm_id": self.osm_id, "lon": self.t_lon, "lat": self.t_lat},
            "boxes_a": {"bld_id": self.bld_id, **_box_cols(self.a)},
            "boxes_b": {"osm_bld_id": self.osm_bld_id, **_box_cols(self.b)},
        }
        for name, cols in tables.items():
            # several row groups so Spark splits the scan across cores
            pq.write_table(pa.table(cols), f"{path}/{name}.parquet", row_group_size=1 << 17)


def _box_cols(b: np.ndarray) -> dict:
    return {"min_lon": b[:, 0], "min_lat": b[:, 1], "max_lon": b[:, 2], "max_lat": b[:, 3]}


def read(spark: SparkSession, path: str, name: str) -> DataFrame:
    p = f"{path}/{name}"
    return spark.read.parquet(p if os.path.isdir(p) else p + ".parquet")


def fingerprint(spark: SparkSession, path: str, names: list[str]) -> dict:
    """Row count and an order-independent checksum per table.  Map columns
    are hashed as their sorted entries, so map insertion order cannot move
    the checksum."""
    out = {}
    for name in names:
        df = read(spark, path, name)
        cols = [
            F.array_sort(F.map_entries(F.col(c))) if t.startswith("map<") else F.col(c)
            for c, t in df.dtypes
        ]
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31))).alias("h"),
        ).first()
        out[name] = [int(row["n"]), int(row["h"] or 0)]
    return out


def hot_cells_over_threshold(spark: SparkSession, path: str, name: str, threshold: int) -> int:
    """Cells holding more than ``threshold`` ways by the salt pre-pass's own
    first-vertex proxy (``conflate.candidate_pairs``)."""
    ways = read(spark, path, name)
    if name == "docs":
        ways = spans.spans_to_features(ways)
    cell = grid.cell_id_col(F.element_at("geom", 1), F.element_at("geom", 2), SALT_PROXY_ZOOM)
    return (
        ways.groupBy(cell.alias("cell"))
        .count()
        .filter(F.col("count") > threshold)
        .count()
    )
