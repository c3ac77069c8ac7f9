"""Physical-plan regression tests: the 100 TB posture, pinned structurally.

Wall-clock on this box drifts up to 2×, so scale regressions are asserted on
the *plan*, which does not drift: no cartesian products, bounded Python
boundaries, filter/column pushdown reaching the parquet scans, partial
aggregation before exchanges where the operator contract promises it."""

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from osm_merge_spark.operators import conflate as C
from osm_merge_spark.operators import poi as P
from osm_merge_spark.sources import synth

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    # a previously persisted+executed frame (other tests run conflate with
    # persist_best=True) makes CacheManager substitute an InMemoryRelation
    # whose AQE child prints Final+Initial plan sections — every node would
    # count twice; clear the cache so the plan under test is pristine
    df.sparkSession.catalog.clearCache()
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def flagship_plan(spark):
    conflated, _ = C.conflate(synth.external_ways(spark, SF), synth.osm_ways(spark, SF))
    return plan_of(conflated)


def test_flagship_no_cartesian_or_nested_loop(flagship_plan):
    assert "CartesianProduct" not in flagship_plan
    assert "BroadcastNestedLoopJoin" not in flagship_plan


def test_flagship_python_boundary_bounded(flagship_plan):
    # exactly 3 Python boundaries, all batch functions: the cover per side
    # and the pair-scoring kernel.  A scalar UDF (ArrowEvalPython) here
    # could be evaluated twice once a filter is pushed past it.  Formatted
    # plans print each node in the tree and in the details — count unique
    # "(n) Node" entries.
    assert len(re.findall(r"\(\d+\) MapInArrow", flagship_plan)) == 3
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", flagship_plan)) == 0
    assert "BatchEvalPython" not in flagship_plan  # no row-at-a-time Python


def test_flagship_python_outputs_drop_consumed_geometry(flagship_plan):
    # the cover and score batch functions consume the geometries: none comes
    # back from Python to be projected away in the JVM
    outputs = re.findall(
        r"\(\d+\) MapInArrow\nInput \[\d+\]: \[[^\]]*\]\nArguments: [^\n]*, \[([^\]]*)\]", flagship_plan
    )
    assert len(outputs) == 3
    names = {c.split("#")[0] for out in outputs for c in out.split(", ")}
    assert {"cell", "bb_lo", "dist"} <= names
    assert not names & {"geom", "geom_p", "geom_s"}


def test_flagship_cell_join_rows_carry_no_doubles(spark):
    # the bbox crosses the cell join packed into two longs per row
    from scripts.plan_audit import exchange_columns

    conflated, _ = C.conflate(synth.external_ways(spark, SF), synth.osm_ways(spark, SF), persist_best=False)
    cell_join = [x for x in exchange_columns(conflated) if x["partitioning"].startswith("hashpartitioning(cell#")]
    assert len(cell_join) == 2
    for x in cell_join:
        assert [t for _, t in x["columns"]] == ["bigint"] * 4, x


def test_overlap_join_exchanges_on_one_key(spark):
    from osm_merge_spark.operators import buildings as B
    from scripts.plan_audit import exchange_columns

    boxes = spark.range(10).select(
        F.col("id").alias("bld_id"),
        (F.col("id") * 0.001).alias("min_lon"), F.lit(0.0).alias("min_lat"),
        (F.col("id") * 0.001 + 0.002).alias("max_lon"), F.lit(0.001).alias("max_lat"),
    )
    exchanges = exchange_columns(B.overlap_join(boxes, boxes.withColumnRenamed("bld_id", "osm_bld_id")))
    assert len(exchanges) == 2
    for x in exchanges:
        assert re.fullmatch(r"hashpartitioning\(bx#\d+L, \d+\)", x["partitioning"]), x
        assert "bx" in dict(x["columns"]) and "by" not in dict(x["columns"])


def test_range_slice_evaluates_extents_once(spark):
    # the slice filter sits on the extent columns; a scalar UDF under it was
    # pushed into each union branch and evaluated twice per branch
    from osm_merge_spark.plans import distribute as DST

    ext = DST.with_tile_columns(synth.external_ways(spark, SF))
    plan = plan_of(DST.primary_slice(ext, [-105.0], 0))
    branches = len(re.findall(r"\(\d+\) Union", plan)) + 1
    python_nodes = len(re.findall(r"\(\d+\) (?:MapInArrow|ArrowEvalPython)", plan))
    assert 1 <= python_nodes <= branches
    assert "ArrowEvalPython" not in plan


def test_spans_decode_stays_jvm_side(spark):
    # the WKT geometry span decodes in Catalyst: no Python stage of any kind
    from osm_merge_spark.operators import spans as SP

    plan = plan_of(SP.spans_to_features(synth.documents_spans(spark, SF)))
    assert not re.search(r"ArrowEvalPython|MapInArrow|BatchEvalPython", plan)


def test_line_tiles_one_batch_function(spark):
    # the tile rows come out of one batch function: no scalar UDF, no explode
    from osm_merge_spark.operators import tiling as TL

    aoi = (synth.LON0, synth.LAT0, synth.LON0 + synth.LON_SPAN, synth.LAT0 + synth.LAT_SPAN)
    plan = plan_of(TL.assign_lines_to_tiles(synth.osm_ways(spark, SF), *aoi, tile_m=20_000.0))
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1
    assert "ArrowEvalPython" not in plan
    assert "Generate" not in plan


def test_no_nondeterministic_guards():
    """Python kernels cross the boundary as batch functions or arrow_udfs,
    each evaluated once by construction; none needs the guard."""
    pkg = Path(C.__file__).resolve().parents[1]
    assert [str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if "asNondeterministic" in p.read_text()] == []


def test_flagship_best_match_partial_agg(flagship_plan):
    # the best-match pick must partial-aggregate before its exchange —
    # a Window here would shuffle every scored pair
    assert re.search(r"SortAggregate|HashAggregate|ObjectHashAggregate", flagship_plan)
    assert "Window" not in flagship_plan
    # min(struct(ordering..., rest...)): min_by would carry the ordering twice
    assert "min_by" not in flagship_plan


def test_filter_and_column_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .select("event_id", "event_type", "user_id")
    )
    plan = plan_of(df)
    assert re.search(r"PushedFilters: \[.*[Ii]n\(event_type", plan)
    # column pruning: props (the fat column) must not reach the scan schema
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "props" not in m.group(1)


def test_knn_k1_single_agg_no_window(spark):
    probes = spark.range(100).select(
        F.col("id").alias("poi_id"),
        (F.col("id") * 0.001 - 105.0).alias("lon"),
        (F.col("id") * 0.0007 + 39.0).alias("lat"),
    )
    targets = spark.range(200).select(
        F.col("id").alias("osm_id"),
        (F.col("id") * 0.0005 - 105.0).alias("lon"),
        (F.col("id") * 0.00035 + 39.0).alias("lat"),
    )
    out = P.knn_join(probes, targets, tolerance_m=50.0, k=1)
    plan = plan_of(out)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # point joins are all-JVM
    assert "min_by" not in plan  # the pick is min(struct(dist, id, ...))


def test_salt_map_inlined_not_joined(spark):
    # r6: the salt factors are a tiny top-K aggregate collected to the
    # driver and inlined as a literal map lookup — the salted plan must
    # join on (cell, salt) without any join (broadcast or shuffle) against
    # a salt-factor table, and the big side must never be re-shuffled by a
    # salt-table join key
    ext = synth.external_ways(spark, SF)
    osm = synth.osm_ways(spark, SF)
    pairs = C.candidate_pairs(ext, osm, salt_hot_threshold=1)  # force hot path
    plan = plan_of(pairs)
    # the factor is looked up in an inlined literal map on the join key
    assert re.search(r"element_at\(map\(keys: \[[0-9,]+\], values: \[[0-9,]+\]\), cell#", plan)
    # exactly one join family remains: the (cell, salt) candidate join plus
    # the two id-keyed payload attaches — no extra join for salt factors
    assert plan.count("BroadcastHashJoin") == 0
    assert "CartesianProduct" not in plan
    # the salted candidate join really keys on (cell, salt)
    assert "cell" in plan and "salt" in plan


def test_partition_pruning_on_cell_bucketed_corpus(spark, tmp_path):
    """distribute.py's claim made concrete: a corpus written partitionBy a
    coarse parent-cell column is PRUNED at the file level by an AOI cell
    predicate — the scan must read only the matching partition directories."""
    import numpy as np

    from osm_merge_spark import grid

    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey",
        (F.lit(-109.0) + F.pmod(F.col("c_custkey"), F.lit(500)) * 0.01).alias("lon"),
        (F.lit(37.0) + F.pmod(F.col("c_custkey") * 7, F.lit(350)) * 0.01).alias("lat"),
    )
    z = 8
    corpus = cust.withColumn("p_cell", grid.cell_id_col(F.col("lon"), F.col("lat"), z))
    # the Column cell id must agree with the numpy kernel (same hierarchy)
    sample = corpus.limit(64).toPandas()
    want = grid.cell_id(sample["lon"].to_numpy(), sample["lat"].to_numpy(), z)
    assert (sample["p_cell"].to_numpy() == want).all()

    path = str(tmp_path / "corpus")
    corpus.write.partitionBy("p_cell").parquet(path)

    back = spark.read.parquet(path)
    n_cells = back.select("p_cell").distinct().count()
    assert n_cells > 1
    target = back.select("p_cell").first()[0]
    clipped = back.filter(F.col("p_cell") == target)

    plan = plan_of(clipped)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "p_cell" in m.group(1), plan
    # the physical proof: only the matching partition's files are touched
    all_files = back.select(F.input_file_name()).distinct().count()
    read_files = clipped.select(F.input_file_name()).distinct().count()
    assert read_files < all_files
    assert all(f"p_cell={target}" in r[0] for r in clipped.select(F.input_file_name()).distinct().collect())


def test_odk_convert_engine_stays_jvm_side(spark):
    """The full ODK->OSM conversion engine (sources/odk_convert.py)
    compiles to pure Catalyst expressions: zero Python eval boundaries of
    either kind in the executed plan."""
    from osm_merge_spark.queries import REGISTRY

    df = REGISTRY["q_odk_multiple"][0](spark, SF)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_stratified_sample_broadcasts_rates(spark):
    from osm_merge_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(CU.stratified_sample(docs, {"src0": 0.5, "src1": 0.1}))
    # the rates dim must ride a broadcast join — a shuffled join here would
    # re-shuffle the full fact table for a handful of config rows
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_no_global_single_partition_window(spark):
    from osm_merge_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(CU.pack_sequences(docs, seq_len=256, num_partitions=8))
    # the prefix sum must NOT be a global Window over SinglePartition —
    # that collapses the corpus into one task; the _pid-keyed window keeps
    # parallelism P
    assert not re.search(r"Exchange SinglePartition.*\n.*Window", plan)
    window_parts = re.findall(r"\(\d+\) Window", plan)
    assert len(window_parts) == 1  # exactly the per-partition running sum
    # offsets ride a broadcast, not a literal map expression
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_weights_histograms_broadcast(spark):
    from osm_merge_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(CU.dsir_weights(docs, F.col("lang") == "en", buckets=64))
    # both the totals crossJoin (1 row) and the probs join (64 rows) must
    # broadcast; the exploded token stream must never sort-merge against
    # a 64-row dim
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_boilerplate_chunks_hash_keyed_join(spark):
    from osm_merge_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(CU.drop_boilerplate_chunks(docs, chunk=3, min_docs=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_bucketed_layout_join_is_exchange_free(spark, tmp_path):
    """The write-once-shuffle-never lever: both conflation sides written
    bucketed+sorted by the cell key (Iceberg bucket(N, cell) / Spark
    bucketBy) must join with ZERO Exchange — the per-run shuffle is paid
    once at layout time (plans/bucketed.py)."""
    from osm_merge_spark import grid
    from osm_merge_spark.plans import bucketed as B

    ext = C.with_cells(
        synth.external_ways(spark, SF).select("ext_id", "geom"),
        "geom", grid.DEFAULT_ZOOM, pad_m=7.0,
    ).select("ext_id", "cell")
    osm = C.with_cells(
        synth.osm_ways(spark, SF).select("way_id", "geom"),
        "geom", grid.DEFAULT_ZOOM, pad_m=0.0,
    ).select("way_id", "cell")
    for name, df in (("t_bkt_ext", ext), ("t_bkt_osm", osm)):
        B.write_bucketed(df, name, "cell", n_buckets=8, path=str(tmp_path / name))

    # disable broadcast for the pin: at test SF both sides fit a broadcast,
    # which would sidestep bucketing entirely; at 100 TB neither side does
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = B.colocated_join(spark, "t_bkt_ext", "t_bkt_osm", on="cell")
        assert not B.plan_has_shuffle(joined)
        assert joined.count() > 0

        # control: the same join over plain (unbucketed) parquet DOES
        # shuffle — the shuffle-free plan above is the bucketing, not luck
        ext.write.mode("overwrite").parquet(str(tmp_path / "plain_ext"))
        osm.write.mode("overwrite").parquet(str(tmp_path / "plain_osm"))
        plain = spark.read.parquet(str(tmp_path / "plain_ext")).join(
            spark.read.parquet(str(tmp_path / "plain_osm")), "cell"
        )
        assert B.plan_has_shuffle(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("t_bkt_ext", "t_bkt_osm"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
