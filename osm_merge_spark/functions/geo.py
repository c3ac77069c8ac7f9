"""Column-expression geometry text decode, CRS reprojection (P11) and
degenerate-geometry filtering (P4) — all JVM-side, no Python in the path.

Reference semantics:

- Geometry text → the engine's flat ``array<double>`` ``[x0,y0,x1,y1,...]``:
  WKT in the span table's ``geom`` spans (FIXTURES.md §1) and GeoJSON
  coordinates (`osm_merge/conflator.py:894-929`) share one vertex grammar,
  written as regex and cast expressions (no lambda, no UDF).
- P11 4326↔3857 transform: `osm_merge/conflator.py:482-487,586-591`,
  `tm_splitter.py:120-124,161-164` (pyproj per feature).  Here it is exact
  spherical web-mercator math as Catalyst expressions over the flat
  ``array<double>`` geometry — whole-stage codegen, zero UDFs, so it
  survives a 100 TB scan without a Python worker in sight.
- P4 null/degenerate filter: `osm_merge/conflator.py:149-151,185-195`
  (skip null geometry, skip Points in highway conflation, skip LineStrings
  with <= 1 coordinate); `trails.py:86-89`, `usgs.py:108-112`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: EPSG:3857 sphere radius (WGS84 semi-major axis)
R_3857 = 6378137.0
#: web-mercator latitude clamp (tan singularity at the poles)
MAX_LAT_3857 = 85.0511287798066

#: one ordinate: a decimal with an optional exponent
_NUM = r"[-+]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][-+]?\d+)?"
#: the kind, then the first innermost parenthesised list: a POINT's vertex,
#: a LINESTRING's vertices, a POLYGON's outer ring
_FIRST_RING = r"^\s*(?:POINT|LINESTRING|POLYGON)(?![A-Z])[^(]*\(+([^()]*)"
#: one comma-separated vertex, reduced to its first two ordinates (Z and M
#: dropped); a vertex with fewer than two matches without the groups, so
#: the replacement drops it
_VERTEX_XY = rf"\s*(?:({_NUM})\s+({_NUM}))?[^,]*,?"


def geom_from_wkt(text: Column) -> Column:
    """WKT ``POINT`` / ``LINESTRING`` / ``POLYGON`` text → flat
    ``array<double>`` of each vertex's (x, y).

    A POLYGON keeps its outer ring (the reference conflates building outer
    rings, `conflateBuildings.py:106-112`, and `.poly` drops inner rings,
    `geojson2poly.py:92-104`).  Null, empty, ``EMPTY`` and other kinds decode
    to an empty array, never null; a dangling number that completes no
    vertex is dropped, which touches no other row."""
    ring = F.regexp_extract(F.coalesce(text, F.lit("")), _FIRST_RING, 1)
    xy = F.regexp_replace(ring, _VERTEX_XY, "$1 $2 ")
    return F.regexp_extract_all(xy, F.lit(_NUM), 0).cast("array<double>")


def geom_from_geojson(kind: Column, coordinates: Column) -> Column:
    """GeoJSON geometry (``type``, ``coordinates`` as JSON text) → the flat
    array of :func:`geom_from_wkt`, by rewriting the coordinates into its
    vertex syntax: ordinate commas become spaces, each vertex's brackets go,
    the remaining brackets become parentheses.  Quotes are stripped first:
    a schema merge can leave nested coordinates as JSON strings."""
    xy = F.regexp_replace(F.translate(coordinates, '"', ""), r",\s*(?=[-+.\d])", " ")
    xy = F.regexp_replace(xy, r"\[([^\[\]]*)\]", "$1")
    return geom_from_wkt(F.concat(F.upper(kind), F.lit("("), F.translate(xy, "[]", "()"), F.lit(")")))


def merc_x(lon: Column) -> Column:
    """EPSG:4326 lon degrees → EPSG:3857 x meters."""
    return F.radians(lon) * F.lit(R_3857)


def merc_y(lat: Column) -> Column:
    """EPSG:4326 lat degrees → EPSG:3857 y meters (clamped at ±85.05°)."""
    lat_c = F.greatest(F.lit(-MAX_LAT_3857), F.least(F.lit(MAX_LAT_3857), lat))
    return F.log(F.tan(F.lit(math.pi / 4) + F.radians(lat_c) / 2)) * F.lit(R_3857)


def inv_merc_x(x: Column) -> Column:
    """EPSG:3857 x meters → lon degrees."""
    return F.degrees(x / F.lit(R_3857))


def inv_merc_y(y: Column) -> Column:
    """EPSG:3857 y meters → lat degrees."""
    return F.degrees(F.atan(F.exp(y / F.lit(R_3857))) * 2 - F.lit(math.pi / 2))


def reproject_3857(geom: Column) -> Column:
    """Flat ``[x0,y0,x1,y1,...]`` 4326 geometry → 3857 meters, elementwise
    via ``transform`` (even index = lon → x, odd = lat → y)."""
    return F.transform(
        geom,
        lambda v, i: F.when(i % 2 == 0, merc_x(v)).otherwise(merc_y(v)),
    )


def reproject_4326(geom: Column) -> Column:
    """Inverse of :func:`reproject_3857`."""
    return F.transform(
        geom,
        lambda v, i: F.when(i % 2 == 0, inv_merc_x(v)).otherwise(inv_merc_y(v)),
    )


def drop_degenerate(
    df: DataFrame, geom_col: str = "geom", keep_points: bool = False
) -> DataFrame:
    """P4: drop null geometries, empty coordinate lists, and (for line
    conflation) single-point "lines"; odd-length coordinate arrays are
    malformed and dropped too.  ``keep_points=True`` retains 1-vertex
    geometries (the POI path, `conflatePOI.py` accepts Points)."""
    g = F.col(geom_col)
    min_pts = 1 if keep_points else 2
    return df.filter(
        g.isNotNull()
        & (F.size(g) % 2 == 0)
        & (F.size(g) >= 2 * min_pts)
        & ~F.exists(g, lambda v: v.isNull() | F.isnan(v))
    )
