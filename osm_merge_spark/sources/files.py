"""File-format sources and sinks: GeoJSON and OSM XML.

- GeoJSON scan (S1/S2): `osm_merge/conflator.py:894-929` whole-file load and
  the chunked reader `osm_merge/readjson.py:52-167`.  Spark-native: the
  FeatureCollection is read with ``spark.read.json(multiLine=True)`` +
  ``explode(features)``; newline-delimited GeoJSON features stream through
  the default splittable JSON reader.
- GeoJSON sink (K1): `osm_merge/conflator.py:1002-1015` — features written
  as JSON lines (composable back into a collection).
- OSM XML scan (S3): `osm_merge/osmfile.py:110-209` — one-time ingest;
  distributed over files via binaryFile + a stdlib-ElementTree batch parser
  (ingest boundary only, never in the hot path).
- OSM XML sink (K2): `osm_merge/osmfile.py:211-463` — attribute/tag split,
  ``action='modify'``, version bump, nodes-before-ways ordering — as a pure
  Column formatting stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geo import geom_from_geojson

# ---------------------------------------------------------------------------
# GeoJSON
# ---------------------------------------------------------------------------


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """FeatureCollection file(s) → (feature_id, geom array<double>, kind,
    tags map).  Geometry kinds: Point/LineString (the shapes the reference
    conflates) and Polygon (its outer ring); any other kind decodes to an
    empty geometry.  Tags are the properties object's string values."""
    raw = spark.read.option("multiLine", "true").json(path)
    feats = raw.select(F.explode("features").alias("f"))
    props = F.col("f.properties")
    geom_type = F.col("f.geometry.type")
    # coordinates arrive as string-ified nested arrays under schema merge;
    # normalize via to_json, decoded in the JVM
    coords_json = F.to_json(F.col("f.geometry.coordinates"))

    return feats.select(
        F.monotonically_increasing_id().alias("feature_id"),
        geom_type.alias("kind"),
        geom_from_geojson(geom_type, coords_json).alias("geom"),
        F.from_json(F.to_json(props), "map<string,string>").alias("tags"),
    )


def read_geojson_lines(spark: SparkSession, path: str, n_chunks: int | None = None) -> DataFrame:
    """S2 chunked GeoJSON scan (`osm_merge/readjson.py:52-167`): one Feature
    per line (ndjson).  The reference streams the file in RAM-bounded chunks
    because it parses on one machine; Spark's text source is natively
    splittable, so bounded memory is free — what survives of the chunk API
    is (a) a deterministic ``feature_id`` (hash of the raw line — stable
    across reruns and cluster sizes, unlike monotonically_increasing_id) and
    (b) an optional ``chunk`` column for resumable processing
    (:func:`process_geojson_chunked`)."""
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    f = F.from_json(
        "value",
        "struct<type string, geometry struct<type string, coordinates string>, properties map<string,string>>",
        {"mode": "PERMISSIVE"},
    )
    out = lines.select(
        F.xxhash64("value").alias("feature_id"),
        f["geometry"]["type"].alias("kind"),
        geom_from_geojson(f["geometry"]["type"], f["geometry"]["coordinates"]).alias("geom"),
        f["properties"].alias("tags"),
    )
    if n_chunks:
        out = out.withColumn("chunk", F.pmod(F.abs(F.col("feature_id")), F.lit(n_chunks)))
    return out


def process_geojson_chunked(
    spark: SparkSession,
    path: str,
    job,
    out_path: str,
    run_id: str,
    n_chunks: int = 16,
) -> dict:
    """The full S2 semantics — RAM-bounded, *resumable* incremental
    processing of a huge GeoJSON (`readjson.py:196-241` chunk loop + tmp
    files): each chunk is checkpointed to parquet with lineage rows, and a
    re-run with the same ``run_id`` skips completed chunks (K7)."""
    from ..plans import lineage

    feats = read_geojson_lines(spark, path)
    return lineage.run_bucketed(
        spark, feats, job, out_path, run_id, id_col="feature_id", n_buckets=n_chunks
    )


def write_geojson_lines(df: DataFrame, path: str, geom_col: str = "geom", tags_col: str = "tags") -> None:
    """One GeoJSON Feature per output line (ndjson — splittable on re-read)."""
    pair_idx = F.sequence(F.lit(0), (F.size(geom_col) / 2 - 1).cast("int"))
    coords = F.transform(
        pair_idx,
        lambda i: F.array(
            F.element_at(geom_col, (i * 2 + 1).cast("int")),
            F.element_at(geom_col, (i * 2 + 2).cast("int")),
        ),
    )
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.when(F.size(geom_col) == 2, F.lit("Point")).otherwise(F.lit("LineString")).alias("type"),
                coords.alias("coordinates"),
            ).alias("geometry"),
            F.col(tags_col).alias("properties"),
        )
    )
    df.select(feature.alias("value")).write.mode("overwrite").text(path)


# ---------------------------------------------------------------------------
# OSM XML
# ---------------------------------------------------------------------------

_OSM_ROW_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("version", T.IntegerType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("refs", T.ArrayType(T.LongType())),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


def read_osm_xml(spark: SparkSession, path: str) -> DataFrame:
    """OSM XML ingest: distributed over files (binaryFile source), stdlib
    ElementTree per file inside mapInPandas — the Spark twin of
    `osmfile.loadFile` incl. the tiger:* drop (`osmfile.py:152-156`)."""
    files = spark.read.format("binaryFile").load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import xml.etree.ElementTree as ET

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                root = ET.fromstring(blob.decode("utf-8"))
                for el in root:
                    if el.tag not in ("node", "way"):
                        continue
                    tags = {
                        t.get("k"): t.get("v")
                        for t in el.findall("tag")
                        if not t.get("k", "").startswith("tiger:")
                    }
                    refs = [int(n.get("ref")) for n in el.findall("nd")]
                    rows.append(
                        (
                            int(el.get("id")),
                            el.tag,
                            int(el.get("version", "1")),
                            float(el.get("lon")) if el.get("lon") else None,
                            float(el.get("lat")) if el.get("lat") else None,
                            refs,
                            tags,
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in _OSM_ROW_SCHEMA.fields])

    return files.select("content").mapInPandas(parse, _OSM_ROW_SCHEMA)


def build_way_geometries(osm: DataFrame) -> DataFrame:
    """J10 node-deref join: way refs → node coords → ordered flat geometry
    (`osmfile.py:198-203` as explode ⋈ nodes + ordered re-assembly)."""
    nodes = osm.filter(F.col("kind") == "node").select(
        F.col("osm_id").alias("ref"), "lon", "lat"
    )
    ways = osm.filter(F.col("kind") == "way").select("osm_id", "version", "tags", "refs")
    exploded = ways.select(
        "osm_id", F.posexplode("refs").alias("pos", "ref")
    )
    joined = exploded.join(nodes, "ref", "left")
    geom = (
        joined.groupBy("osm_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts"),
        )
        .select(
            "osm_id",
            F.flatten(F.transform("pts", lambda p: F.array(p["lon"], p["lat"]))).alias("geom"),
        )
    )
    return ways.join(geom, "osm_id").select("osm_id", "version", "tags", "geom")


def _xml_escape(col):
    """``html.escape`` parity (the reference escapes both keys and values —
    `osmfile.py:395-397,456-458`): ``&`` must be replaced first, then
    ``< > " '`` (html.escape's quote=True set).  The previous version escaped
    only ``"`` in values, so any tag containing ``&``/``<``/``>`` emitted
    invalid XML."""
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    out = F.regexp_replace(out, '"', "&quot;")
    return F.regexp_replace(out, "'", "&#x27;")


def to_osm_xml(df: DataFrame, id_col: str = "osm_id", kind: str = "way", modify: bool = True) -> DataFrame:
    """K2 formatting stage: one OSM XML element string per row, with the
    reference's attribute/tag split, ``action='modify'`` and version+1
    (`osmfile.py:306-403`).  Pure Column string assembly."""
    tags_xml = F.array_join(
        F.transform(
            F.map_entries(F.col("tags")),
            lambda e: F.concat(
                F.lit('  <tag k="'),
                _xml_escape(e["key"]),
                F.lit('" v="'),
                _xml_escape(e["value"]),
                F.lit('"/>'),
            ),
        ),
        "\n",
    )
    action = ' action="modify"' if modify else ""
    version = (F.col("version") + 1) if modify else F.col("version")
    if kind == "node":
        head = F.concat(
            F.lit(f"<node{action} id=\""), F.col(id_col).cast("string"),
            F.lit('" version="'), version.cast("string"),
            F.lit('" lon="'), F.col("lon").cast("string"),
            F.lit('" lat="'), F.col("lat").cast("string"), F.lit('">'),
        )
        tail = F.lit("</node>")
    else:
        refs_xml = F.array_join(
            F.transform(F.col("refs"), lambda r: F.concat(F.lit('  <nd ref="'), r.cast("string"), F.lit('"/>'))),
            "\n",
        )
        head = F.concat(
            F.lit(f"<way{action} id=\""), F.col(id_col).cast("string"),
            F.lit('" version="'), version.cast("string"), F.lit('">'),
            F.lit("\n"), refs_xml,
        )
        tail = F.lit("</way>")
    return df.select(
        F.col(id_col),
        F.lit(0 if kind == "node" else 1).alias("__order"),  # nodes before ways
        F.concat_ws("\n", head, tags_xml, tail).alias("xml"),
    )
