"""osm_merge_spark — a PySpark-native geospatial conflation engine.

A from-scratch re-expression of the query/data-processing capabilities of the
osm-merge reference toolkit (see SURVEY.md) on Spark DataFrames:

- ``grid``       — hierarchical web-mercator Z-order cell index (H3/S2 analog)
- ``geometry``   — vectorized numpy geometry kernels + their Arrow codec
- ``operators``  — conflation, POI kNN, building overlap, tiling, dedup, ANN
- ``functions``  — tag/string/text/geometry-text column function library
- ``sources``    — deterministic synthetic corpora + schema-map converters
- ``plans``      — lineage, per-partition checkpoint/resume
- ``streaming``  — structured-streaming ingest of the events feed

All hot-path math runs either JVM-side (pyspark.sql.functions) or in
Arrow-batched NumPy kernels (``mapInArrow`` batch functions and
``arrow_udf`` column kernels) — never per-row Python.  Geometry text decodes
in the JVM; Python is entered only where NumPy does the work.
"""

__version__ = "0.1.0"
