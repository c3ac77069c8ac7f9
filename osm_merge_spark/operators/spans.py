"""Span codec for the interleaved text+media document table.

BASELINE.json input_hint mandates the engine input be
``doc_id:string, spans:array<struct<kind,text,media_ref,offset>>`` with a
per-row invariant: span-sequence equality (kind, text, media_ref, order)
must survive the engine end-to-end.

``spans_to_features`` decodes a spans table into the feature shape the
conflation core consumes (tags map + geom array + media refs), carrying the
original spans column as provenance; ``features_to_spans`` re-emits the spans
**verbatim from provenance** — re-encoding never reconstructs spans from the
decoded columns, so the invariant holds by construction and is re-checked by
``span_signature`` equality in tests.

All decoding is JVM-side (filter/transform over the spans array, and the
WKT text decoded by ``functions.geo.geom_from_wkt``); media decode itself is
stubbed (see operators.media).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import geom_from_wkt


def _spans_sorted(spans: Column) -> Column:
    """Spans ordered by offset (the canonical in-row order)."""
    return F.array_sort(
        spans, lambda a, b: F.when(a["offset"] < b["offset"], -1).when(a["offset"] > b["offset"], 1).otherwise(0)
    )


def span_signature(spans: Column | str) -> Column:
    """Deterministic string signature of (kind, text, media_ref, order) —
    the per-row invariant checksum. Offsets are ordering, not content
    (FIXTURES.md: 'offsets strictly increasing, not necessarily contiguous'),
    so they participate via the sort only."""
    s = F.col(spans) if isinstance(spans, str) else spans
    parts = F.transform(
        _spans_sorted(s),
        lambda sp: F.concat_ws("\x01", sp["kind"], sp["text"], sp["media_ref"]),
    )
    return F.concat_ws("\x02", parts)


def spans_to_features(docs: DataFrame) -> DataFrame:
    """Decode: doc_id, spans → doc_id, tags map, geom array<double>,
    media_refs array<string>, spans (provenance, untouched).

    tag spans hold ``key=value`` text; the first geom span's WKT becomes the
    feature geometry; media spans contribute their refs in span order.
    """
    sorted_spans = _spans_sorted(F.col("spans"))
    tag_spans = F.filter(sorted_spans, lambda sp: sp["kind"] == "tag")
    kv = F.map_from_entries(
        F.transform(
            tag_spans,
            lambda sp: F.struct(
                F.substring_index(sp["text"], "=", 1).alias("key"),
                F.substring_index(sp["text"], "=", -1).alias("value"),
            ),
        )
    )
    geom_spans = F.filter(sorted_spans, lambda sp: sp["kind"] == "geom")
    first_wkt = F.element_at(F.transform(geom_spans, lambda sp: sp["text"]), 1)
    media_refs = F.transform(
        F.filter(sorted_spans, lambda sp: sp["kind"] == "media"), lambda sp: sp["media_ref"]
    )
    return docs.select(
        "doc_id",
        kv.alias("tags"),
        geom_from_wkt(first_wkt).alias("geom"),
        media_refs.alias("media_refs"),
        F.col("spans"),
    )


def features_to_spans(features: DataFrame, extra_tag_cols: list[str] | None = None) -> DataFrame:
    """Re-encode: provenance spans pass through verbatim; any ``extra_tag_cols``
    (e.g. conflation debug columns) are *appended* as new tag spans AFTER the
    original sequence (offsets continue past the original max), so the
    original (kind, text, media_ref, order) prefix is bit-identical."""
    out = features
    spans = _spans_sorted(F.col("spans"))
    if extra_tag_cols:
        max_off = F.coalesce(
            F.array_max(F.transform(F.col("spans"), lambda sp: sp["offset"])), F.lit(0)
        )
        extras = F.array(
            *[
                F.struct(
                    F.lit("tag").alias("kind"),
                    F.concat(F.lit(c + "="), F.col(c).cast("string")).alias("text"),
                    F.lit("").alias("media_ref"),
                    (max_off + i + 1).cast("int").alias("offset"),
                )
                for i, c in enumerate(extra_tag_cols)
            ]
        )
        spans = F.concat(spans, extras)
    return out.withColumn("spans", spans).select("doc_id", "spans")
