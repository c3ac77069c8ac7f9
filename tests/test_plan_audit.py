"""Registry plan audit, high-risk subset (full sweep: scripts/plan_audit.py).

Pins the anti-pattern contract — no CartesianProduct, no BatchEvalPython,
BroadcastNestedLoopJoin only on the documented tiny-broadcast allowlist,
and a formatted-plan size cap — on the queries whose shapes have historically
produced tree bombs or quadratic plans: the ANN family (ivf/pq/kmeans were
the 1.7 MB / 650 kB explosions fixed 2026-08-19), the join-heavy conflation
and dedup paths, and the graph operators."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.plan_audit import (  # noqa: E402
    BAD,
    BNLJ_ALLOWED,
    PLAN_CHAR_CAP,
    plan_of,
)

SF = "/root/testdata/sf0.001"

HIGH_RISK = [
    "q_pq_topk",
    "q_ivf_topk",
    "q_kmeans_clusters",
    "q_semdedup",
    "q_embed_neardup",
    "q_lsh_topk",
    "q_conflate_flagship",
    "q_conflate_new",
    "q_minhash_band_pairs",
    "q_simhash64_pairs",
    "q_triangles",
    "q_pagerank",
    "q_knn_join",
    "q_sq8_topk",
    "q_zorder_buckets",
]


@pytest.fixture(scope="module")
def plans(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    return {name: plan_of(qs[name](spark, SF)) for name in HIGH_RISK}


def test_no_cartesian_or_rowwise_python(plans):
    bad = [(n, b) for n, p in plans.items() for b in BAD if b in p]
    assert bad == []


def test_bnlj_only_on_documented_allowlist(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert offenders == []


def test_plan_size_capped(plans):
    oversize = {n: len(p) for n, p in plans.items() if len(p) > PLAN_CHAR_CAP}
    assert oversize == {}, (
        f"{oversize} — expression-tree bomb (the with_ivf_cells masked-CASE "
        "shape compounded to 1.7 MB under projection collapse and OOMed a "
        "default-heap driver; keep argmin/top-n selections in single array "
        "expressions)"
    )


def test_heavy_calls_counts_optimized_plan(spark):
    from pyspark.sql import functions as F

    from scripts.plan_audit import heavy_calls

    df = spark.range(3).select(F.col("id").cast("string").alias("s"))
    twice = df.select(F.regexp_replace("s", "1", "x").alias("r")).filter(F.col("r") != "x")
    # the filter is pushed below the projection with the call inlined
    assert heavy_calls(twice)["regexp_replace("] == 2
    lam = df.select(F.filter(F.array("s"), lambda c: c.isNotNull()).alias("a"))
    assert heavy_calls(lam) == {"lambdafunction(": 1}
    # ATAN is not TAN
    assert heavy_calls(spark.range(1).select(F.atan("id"))) == {}


def test_exchange_columns_lists_shuffled_rows(spark):
    from pyspark.sql import functions as F

    from scripts.plan_audit import exchange_columns, widest_exchange

    df = spark.range(10).select("id", (F.col("id") * 0.5).alias("x"), F.lit("a").alias("s"))
    shuffled = df.repartition(4, "id").persist()  # a persisted plan is read too
    try:
        out = exchange_columns(shuffled.groupBy("s").agg(F.max("x").alias("m")))
    finally:
        shuffled.unpersist()
    assert len(out) == 2
    by_key = {x["partitioning"].split("#")[0]: x["columns"] for x in out}
    assert by_key["hashpartitioning(id"] == [("id", "bigint"), ("x", "double"), ("s", "string")]
    assert by_key["hashpartitioning(s"] == [("s", "string"), ("max", "double")]
    assert widest_exchange(df.repartition(2, "id")) == "widest exchange 3 cols (bigintx1 doublex1 stringx1)"
    assert exchange_columns(df) == [] and widest_exchange(df) == ""


def test_knn_tile_math_once_and_no_lambda(spark):
    from pyspark.sql import functions as F

    from osm_merge_spark.operators import poi as P
    from scripts.plan_audit import heavy_calls

    pts = spark.range(10).select(F.col("id").alias("poi_id"), F.lit(-105.0).alias("lon"), F.lit(39.0).alias("lat"))
    tgt = pts.withColumnRenamed("poi_id", "osm_id")
    heavy = heavy_calls(P.knn_join(pts, tgt, tolerance_m=7.0, k=1))
    # one mercator y per side; the ring reads projected helper columns
    assert heavy["ASINH("] <= 2 and heavy["TAN("] <= 2
    assert heavy["lambdafunction("] == 0


def test_local_roads_normalizes_each_name_once(spark):
    from osm_merge_spark.functions import tags as TG
    from osm_merge_spark.sources import converters as CV
    from scripts.plan_audit import heavy_calls

    src = spark.createDataFrame([(1, 15, "Fs 428-cedar ridge")], "gid int, rd_num int, road_name string")
    name_only = heavy_calls(src.select(TG.normalize_name("road_name").alias("nn")))["regexp_replace("]
    heavy = heavy_calls(CV.local_roads_convert(src, keep_cols=["gid"]))
    assert name_only == 15
    # one normalization plus the two County/Forest Road ref rewrites
    assert heavy["regexp_replace("] <= name_only + 2
    assert heavy["lambdafunction("] == 0


def test_ngram_jaccard_intersects_once_per_pair(spark, monkeypatch):
    """The per-pair intersect is projected once, not re-inlined into the
    join condition and the output (the plan is read before the query's
    materialization barrier)."""
    import __spark_entry__ as entry
    from scripts.plan_audit import heavy_calls

    frames = []

    def capture(df, *args, **kwargs):
        frames.append(df)
        return df

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", capture)
    qs = entry.queries()
    for name in ("q_ngram_jaccard", "q_ngram_jaccard_gated"):
        frames.clear()
        qs[name](spark, SF)
        assert heavy_calls(frames[-1])["array_intersect("] == 1, name


def test_candidate_pairs_normalizes_each_side_once(spark, tmp_path):
    """One 15-call name normalization per side, on single-branch inputs.
    (The synthetic primary is a 2-branch union, and the payload projection
    is pushed into each branch, so the flagship plan shows 3 x 15 calls —
    still once per row.)"""
    from osm_merge_spark.operators import conflate as C
    from osm_merge_spark.sources import synth
    from scripts.plan_audit import heavy_calls

    synth.external_ways(spark, SF).write.parquet(str(tmp_path / "ext"))
    synth.osm_ways(spark, SF).write.parquet(str(tmp_path / "osm"))
    ext = spark.read.parquet(str(tmp_path / "ext"))
    osm = spark.read.parquet(str(tmp_path / "osm"))
    assert heavy_calls(C.candidate_pairs(ext, osm))["regexp_replace("] == 30


def test_opening_hours_parses_each_month_once(spark):
    """opening_hours parses each of the two months once (one array lookup
    per name, not a 12-way CASE over the parse); is_seasonal parses each
    twice more, for its validity and its full-year test.  The trails
    converter adds its two other regexp_extract calls."""
    import __spark_entry__ as entry
    from scripts.plan_audit import heavy_calls

    qs = entry.queries()
    assert heavy_calls(qs["q_opening_hours"](spark, SF))["regexp_extract("] == 6
    assert heavy_calls(qs["q_converter_trails"](spark, SF))["regexp_extract("] == 8
