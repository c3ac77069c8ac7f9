"""OsmAnd favorites GPX sink — the engine's re-expression of the
reference's GeoJSON→GPX favorites converter
(`osm_merge/fieldwork/osm2favorities.py:38-140`).

The reference walks a GeoJSON feature list with gpxpy, one waypoint per
feature: a Polygon collapses to its shapely centroid, anything else takes
its raw coordinates (`osm2favorities.py:87-95`); the waypoint gets the
feature's ``name``, a ``<p>key = value<br></p>`` description, and an
OsmAnd styling extension block (icon / background / color,
`osm2favorities.py:37-56`, `:123-134`).

Spark-first split: the per-feature column mapping (centroid, name, icon
rules, description) is a distributed transform (:func:`favorite_waypoints`
— Arrow-batched centroid kernel + pure Column logic), and only the final
small-XML assembly streams through the driver via ``toLocalIterator``
(:func:`write_gpx_favorites`), like the other field-device sinks
(``tilesinks.write_poly``).

Documented deviations from the reference (both are reference bugs):

- description: the reference's property loop REASSIGNS ``description`` per
  key (`osm2favorities.py:108-113`), so only the dict's last property
  survives — dict order isn't a stable contract, so we emit every
  non-``name`` property, sorted by key, each in the reference's
  ``<p>key = value<br></p>`` shape.
- carryover: ``tourism``/``highway``/``amenity`` are only refreshed when a
  feature HAS a ``name`` (`osm2favorities.py:96-107`), so an unnamed
  feature inherits the previous feature's icon — stateful across rows; we
  evaluate every feature independently.

Mirrored quirks: the second tourism branch tests the same
``tourism != "picnic site"`` condition as the first
(`osm2favorities.py:123-126`), so ``tourism_picnic_site`` is unreachable —
any non-picnic tourism value maps to ``tourism_camp_site`` and picnic
sites get NO icon; ``amenity`` is only consulted when ``highway`` is
absent (`osm2favorities.py:105-107`).
"""

from __future__ import annotations

from xml.sax.saxutils import escape

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as G
from ..functions.geo import geom_from_wkt

_CENTROID_SCHEMA = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)

# `osm2favorities.py:44` — only these icons carry a color element
ICON_COLORS = {
    "tourism_camp_site": "#ff5020",
    "tourism_picnic_site": "#ff5020",
    "special_trekking": "#a71de1",
}


@F.arrow_udf(_CENTROID_SCHEMA)
def _centroid_udf(geom: pa.Array) -> pa.Array:
    """Waypoint anchor per feature: polygon → planar shoelace centroid
    (shapely-centroid parity), point/line → vertex mean (a POINT is its
    own mean; `osm2favorities.py:87-95` only special-cases Polygon).  An
    empty geometry anchors at null."""
    flat, offsets = G.ragged_from_arrow(geom)
    c = G.polygon_centroid(offsets, flat)
    return pa.StructArray.from_arrays(
        [pa.array(c[:, 0], from_pandas=True), pa.array(c[:, 1], from_pandas=True)], names=["lon", "lat"]
    )


def _icon_col(tags: Column) -> Column:
    """The reference's if/elif icon ladder (`osm2favorities.py:123-131`),
    including the unreachable-picnic quirk (module docstring).  The
    reference gates on Python truthiness (``if tourism and ...``), so an
    empty-string tag value counts as absent — mirrored here with explicit
    empty-string guards."""
    tourism = tags["tourism"]
    highway = tags["highway"]
    # `osm2favorities.py:105-107`: amenity only consulted when no highway
    # (null OR empty — `if not highway` is true for "")
    amenity = F.when(highway.isNull() | (highway == ""), tags["amenity"])
    return (
        F.when(
            tourism.isNotNull() & (tourism != "") & (tourism != "picnic site"),
            F.lit("tourism_camp_site"),
        )
        .when(highway == "trailhead", F.lit("special_trekking"))
        .when(amenity == "parking", F.lit("amenity_parking"))
    )


def _description_col(tags: Column) -> Column:
    """``<p>key = value<br></p>`` per non-name property, key-sorted and
    concatenated (deviation from the last-key-wins reference bug — module
    docstring; shape per `osm2favorities.py:108-113`)."""
    entries = F.array_sort(
        F.filter(F.map_entries(tags), lambda e: e.getField("key") != "name")
    )
    return F.concat_ws(
        "",
        F.transform(
            entries,
            lambda e: F.concat(
                F.lit("<p>"), e.getField("key"), F.lit(" = "), e.getField("value"), F.lit("<br></p>")
            ),
        ),
    )


def favorite_waypoints(df: DataFrame, geom_col: str = "geom", tags_col: str = "tags") -> DataFrame:
    """Distributed feature→waypoint mapping: appends ``lon``/``lat``
    (polygon centroid or point), ``name``, ``description``, ``icon``,
    ``background`` and ``color`` columns (`osm2favorities.py:87-134`
    semantics, quirks and deviations per module docstring)."""
    tags = F.col(tags_col)
    icon = _icon_col(tags)
    color_pairs: list[Column] = []
    for k, v in ICON_COLORS.items():
        color_pairs += [F.lit(k), F.lit(v)]
    colors = F.create_map(*color_pairs)
    c = _centroid_udf(geom_from_wkt(F.col(geom_col)))
    return (
        df.withColumn("__c", c)
        .withColumn("lon", F.col("__c.lon"))
        .withColumn("lat", F.col("__c.lat"))
        .drop("__c")
        .withColumn("name", F.coalesce(tags["name"], F.lit("")))
        .withColumn("description", _description_col(tags))
        .withColumn("icon", icon)
        # `osm2favorities.py:48-50`: every extension block gets a circle
        # background; color only for icons in the color table
        .withColumn("background", F.when(icon.isNotNull(), F.lit("circle")))
        .withColumn("color", colors[icon])
    )


def write_gpx_favorites(
    df: DataFrame,
    path: str,
    creator: str = "osm2favorites 0.1",
    order_col: str | None = None,
) -> int:
    """Assemble the (small, field-device-bound) favorites GPX on the driver
    from a :func:`favorite_waypoints` result, returning the waypoint count.

    GPX 1.1 with the ``osmand`` namespace (`osm2favorities.py:83-85`);
    waypoint = ``<wpt lat lon><name/><desc/><extensions>…</extensions>``
    with ``osmand:icon`` / ``osmand:background`` / ``osmand:color``
    children (`osm2favorities.py:114-134`).

    Rows whose geometry produced a non-finite anchor (empty/unparseable
    WKT → NaN centroid) are dropped before writing — ``lat="nan"`` is
    invalid GPX and bricks the import on the target device."""
    cols = ["lat", "lon", "name", "description", "icon", "background", "color"]
    finite = (
        F.col("lat").isNotNull() & ~F.isnan("lat")
        & F.col("lon").isNotNull() & ~F.isnan("lon")
    )
    if order_col:
        rows = (
            df.filter(finite)
            .select(*cols, F.col(order_col).alias("__o"))
            .orderBy("__o")
            .drop("__o")
        )
    else:
        rows = df.filter(finite).select(*cols)
    n = 0
    with open(path, "w") as fd:
        fd.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fd.write(
            f'<gpx xmlns="http://www.topografix.com/GPX/1/1" '
            f'xmlns:osmand="https://osmand.net" version="1.1" creator="{escape(creator, {chr(34): "&quot;"})}">\n'
        )
        for row in rows.toLocalIterator():
            n += 1
            fd.write(f'  <wpt lat="{row.lat!r}" lon="{row.lon!r}">\n')
            fd.write(f"    <name>{escape(row.name or '')}</name>\n")
            fd.write(f"    <desc>{escape(row.description or '')}</desc>\n")
            if row.icon is not None:
                fd.write("    <extensions>\n")
                fd.write(f"      <osmand:icon>{escape(row.icon)}</osmand:icon>\n")
                fd.write(f"      <osmand:background>{escape(row.background)}</osmand:background>\n")
                if row.color is not None:
                    fd.write(f"      <osmand:color>{escape(row.color)}</osmand:color>\n")
                fd.write("    </extensions>\n")
            fd.write("  </wpt>\n")
        fd.write("</gpx>\n")
    return n


def read_gpx_favorites(path: str) -> list[dict]:
    """Driver-side GPX parse for round-trip tests (stdlib ElementTree)."""
    import xml.etree.ElementTree as ET

    ns = {"g": "http://www.topografix.com/GPX/1/1", "osmand": "https://osmand.net"}
    out = []
    for wpt in ET.parse(path).getroot().findall("g:wpt", ns):
        rec = {
            "lat": float(wpt.get("lat")),
            "lon": float(wpt.get("lon")),
            "name": (wpt.findtext("g:name", default="", namespaces=ns)),
            "description": (wpt.findtext("g:desc", default="", namespaces=ns)),
            "icon": wpt.findtext("g:extensions/osmand:icon", default=None, namespaces=ns),
            "background": wpt.findtext("g:extensions/osmand:background", default=None, namespaces=ns),
            "color": wpt.findtext("g:extensions/osmand:color", default=None, namespaces=ns),
        }
        out.append(rec)
    return out
