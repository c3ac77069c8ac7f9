"""Span-codec per-row invariant: (kind, text, media_ref, order) must survive
the engine end-to-end (BASELINE.json input_hint)."""

import numpy as np
from pyspark.sql import functions as F

from osm_merge_spark.operators import conflate as C
from osm_merge_spark.operators import spans as SP
from osm_merge_spark.sources import synth

SF = "/root/testdata/sf0.001"


def test_spans_decode(spark):
    docs = synth.documents_spans(spark, SF)
    feats = SP.spans_to_features(docs)
    row = feats.first()
    assert row["tags"]["highway"] in ("track", "unclassified", "residential", "tertiary", "path", "footway")
    assert "name" in row["tags"] and "ref:usfs" in row["tags"]
    assert len(row["geom"]) == 6  # 3-vertex line
    assert len(row["media_refs"]) == 1 and row["media_refs"][0].endswith(".jpg")


def test_span_roundtrip_signature_equality(spark):
    docs = synth.documents_spans(spark, SF)
    feats = SP.spans_to_features(docs)
    out = SP.features_to_spans(feats)
    a = docs.select("doc_id", SP.span_signature("spans").alias("sig"))
    b = out.select("doc_id", F.col("spans"), SP.span_signature("spans").alias("sig"))
    joined = a.join(b.select("doc_id", F.col("sig").alias("sig2")), "doc_id")
    bad = joined.filter(F.col("sig") != F.col("sig2")).count()
    assert bad == 0
    assert a.count() == b.count()


def test_span_roundtrip_with_appended_debug_tags(spark):
    """Appending conflation debug tags must keep the original prefix intact."""
    docs = synth.documents_spans(spark, SF)
    feats = SP.spans_to_features(docs).withColumn("hits", F.lit(2))
    out = SP.features_to_spans(feats, extra_tag_cols=["hits"])
    # original signature must be a prefix of the new one
    a = docs.select("doc_id", SP.span_signature("spans").alias("orig"))
    b = out.select("doc_id", SP.span_signature("spans").alias("with_extra"))
    j = a.join(b, "doc_id")
    bad = j.filter(~F.col("with_extra").startswith(F.col("orig"))).count()
    assert bad == 0
    row = out.first()
    offsets = [sp["offset"] for sp in row["spans"]]
    assert offsets == sorted(offsets)
    assert row["spans"][-1]["text"] == "hits=2"


def test_spans_geometry_matches_source(spark):
    """WKT in the geom span decodes back to the source way geometry."""
    ways = synth.osm_ways(spark, SF).select("way_id", "geom")
    feats = SP.spans_to_features(synth.documents_spans(spark, SF)).select(
        F.regexp_replace("doc_id", "doc-", "").cast("bigint").alias("way_id"),
        F.col("geom").alias("geom_decoded"),
    )
    j = ways.join(feats, "way_id").limit(200).collect()
    assert len(j) == 200
    for r in j:
        assert np.allclose(r["geom"], r["geom_decoded"], atol=1e-6)


def _decode_geom_span(spark, wkt: str) -> list[float]:
    span = "struct<kind:string,text:string,media_ref:string,offset:int>"
    docs = spark.createDataFrame(
        [("doc-1", [("tag", "highway=track", "", 0), ("geom", wkt, "", 1)])],
        f"doc_id string, spans array<{span}>",
    )
    return SP.spans_to_features(docs).first()["geom"]


def test_spans_polygon_decodes_outer_ring_only(spark):
    """An inner ring (a hole) is not appended to the outer one."""
    geom = _decode_geom_span(spark, "POLYGON((0 0,10 0,10 10,0 0),(2 2,3 2,3 3,2 2))")
    assert geom == [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 0.0]


def test_spans_wkt_drops_z_and_m(spark):
    """Each vertex keeps its first two ordinates: the Z of one vertex is not
    read as the X of the next."""
    assert _decode_geom_span(spark, "LINESTRING Z (1 2 3, 4 5 6)") == [1.0, 2.0, 4.0, 5.0]
    assert _decode_geom_span(spark, "LINESTRING ZM (1 2 3 4, 5 6 7 8)") == [1.0, 2.0, 5.0, 6.0]


def test_conflation_over_spans_table(spark):
    """The flagship lifecycle: spans docs as the *secondary* input feed the
    conflation core after decode; debug tags appended; invariant holds."""
    docs = synth.documents_spans(spark, SF)
    feats = SP.spans_to_features(docs)
    secondary = feats.select(
        F.regexp_replace("doc_id", "doc-", "").cast("bigint").alias("way_id"),
        "geom",
        "tags",
        F.lit(1).alias("version"),
        "doc_id",
        "spans",
    )
    ext = synth.external_ways(spark, SF)
    conflated, _ = C.conflate(ext, secondary)
    assert conflated.count() > 0
