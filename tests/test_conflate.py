"""End-to-end conflation vs an independent brute-force oracle.

The oracle recomputes candidate generation (bbox prefilter, no cells), exact
distances, scoring, and best-match selection in plain numpy/pandas — so the
cell-join machinery (cover, border pad, dedup, best-match) is validated
against a derivation that shares only the low-level kernels.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from osm_merge_spark import geometry as G
from osm_merge_spark.operators import conflate as C
from osm_merge_spark.sources import synth

SF = "/root/testdata/sf0.001"


def _levenshtein(a: str, b: str) -> int:
    # standard DP, mirrors Spark's built-in
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _fuzzy(a, b):
    if a is None or b is None:
        return 0.0
    a, b = a.lower(), b.lower()
    mx = max(len(a), len(b))
    return 100.0 if mx == 0 else round(100.0 * (1 - _levenshtein(a, b) / mx), 4)


def _norm_name(n):
    # python twin of tags.normalize_name for the fixture's abbreviation set
    import re

    if n is None:
        return None
    n = re.sub(r"\s+", " ", n.strip()).title()
    for abbr, full in [("Rd", "Road"), ("Cr", "Creek"), ("Mtn", "Mountain"), ("Lk", "Lake")]:
        n = re.sub(rf"\b{abbr}\b", full, n)
    return n


def _ref_num(r):
    import re

    if r is None:
        return None
    m = re.match(r"^\s*([A-Za-z]+)?\s*([0-9][0-9.]*[A-Za-z]?)\s*$", r)
    return m.group(2).upper() if m else None


@pytest.fixture(scope="module")
def corpus(spark):
    osm = synth.osm_ways(spark, SF).toPandas()
    ext = synth.external_ways(spark, SF).toPandas()
    return osm, ext


def brute_force_matches(osm: pd.DataFrame, ext: pd.DataFrame, threshold=7.0):
    """Oracle: bbox prefilter → exact kernels → scoring → pinned-order top-1."""
    o_flat, o_off = G.ragged_from_arrow(pa.array(list(osm["geom"]), type=pa.list_(pa.float64())))
    e_flat, e_off = G.ragged_from_arrow(pa.array(list(ext["geom"]), type=pa.list_(pa.float64())))
    o_bb = G.bbox_per_row(o_off, o_flat)
    e_bb = G.bbox_per_row(e_off, e_flat)
    pad = threshold / 100_000.0 * 1.6  # generous degree pad
    inter = (
        (e_bb[:, None, 0] <= o_bb[None, :, 2] + pad)
        & (e_bb[:, None, 2] >= o_bb[None, :, 0] - pad)
        & (e_bb[:, None, 1] <= o_bb[None, :, 3] + pad)
        & (e_bb[:, None, 3] >= o_bb[None, :, 1] - pad)
    )
    ei, oi = np.nonzero(inter)
    A = G.pad_ragged(e_off, e_flat)[ei]
    B = G.pad_ragged(o_off, o_flat)[oi]
    dist = G.min_dist_pair_m(A, B)
    dslope, angle = G.endpoint_slope_angle(A, B)
    ok = (dist >= 0) & (dist <= threshold) & (angle <= C.ANGLE_THRESHOLD_DEG) & (dslope <= C.SLOPE_THRESHOLD)
    ei, oi, dist = ei[ok], oi[ok], dist[ok]

    rows = []
    for k in range(len(ei)):
        e_row, o_row = ext.iloc[ei[k]], osm.iloc[oi[k]]
        nr = _fuzzy(_norm_name(e_row["tags"].get("name")), _norm_name(o_row["tags"].get("name")))
        rr = 100.0 if (_ref_num(e_row["tags"].get("ref:usfs")) or "x") == (_ref_num(o_row["tags"].get("ref:usfs")) or "y") else 0.0
        hits = 1 + int(nr >= 80.0) + int(rr >= 80.0)
        rows.append((e_row["ext_id"], o_row["way_id"], hits, dist[k]))
    cand = pd.DataFrame(rows, columns=["ext_id", "way_id", "hits", "dist"])
    if cand.empty:
        return cand, set(ext["ext_id"])
    cand = cand.sort_values(["ext_id", "hits", "dist", "way_id"], ascending=[True, False, True, True])
    best = cand.groupby("ext_id", as_index=False).first()
    new_ids = set(ext["ext_id"]) - set(best["ext_id"])
    return best, new_ids


def test_conflate_matches_brute_force(spark, corpus):
    osm_pd, ext_pd = corpus
    osm = synth.osm_ways(spark, SF)
    ext = synth.external_ways(spark, SF)
    conflated, new = C.conflate(ext, osm)
    got = conflated.select("ext_id", "way_id", "hits", "dist").toPandas()
    exp, exp_new = brute_force_matches(osm_pd, ext_pd)

    got_pairs = dict(zip(got["ext_id"], got["way_id"]))
    exp_pairs = dict(zip(exp["ext_id"], exp["way_id"]))
    # every oracle match must be found with the same best way
    missing = {k: v for k, v in exp_pairs.items() if got_pairs.get(k) != v}
    extra = {k: v for k, v in got_pairs.items() if k not in exp_pairs}
    assert not missing, f"{len(missing)} mismatched/missing matches, e.g. {list(missing.items())[:5]}"
    assert not extra, f"{len(extra)} unexpected matches"

    got_hits = dict(zip(got["ext_id"], got["hits"]))
    exp_hits = dict(zip(exp["ext_id"], exp["hits"]))
    diff = {k for k in exp_hits if got_hits[k] != exp_hits[k]}
    assert not diff, f"hits mismatch for {len(diff)} pairs"

    got_new = {r["ext_id"] for r in new.select("ext_id").collect()}
    assert got_new == exp_new


def test_conflate_distances_match_oracle(spark, corpus):
    osm_pd, ext_pd = corpus
    conflated, _ = C.conflate(synth.external_ways(spark, SF), synth.osm_ways(spark, SF))
    got = conflated.select("ext_id", "dist").toPandas()
    exp, _ = brute_force_matches(osm_pd, ext_pd)
    merged = got.merge(exp, on="ext_id", suffixes=("_got", "_exp"))
    assert np.allclose(merged["dist_got"], merged["dist_exp"].round(2), atol=0.02)


def test_merged_tags_and_debug_columns(spark):
    conflated, new = C.conflate(synth.external_ways(spark, SF), synth.osm_ways(spark, SF))
    row = conflated.filter(F.col("hits") >= 2).first()
    assert row is not None
    assert "highway" in row["tags"]
    assert not any(k.startswith("tiger:") for k in row["tags"])  # junk dropped
    for col in ("dist", "hits", "name_ratio", "ref_ratio", "dslope", "angle"):
        assert col in conflated.columns
    nrow = new.first()
    assert nrow["tags"]["informal"] == "yes"
    assert nrow["version"] == 1


def test_salted_path_identical_results(spark):
    """Explicit hot-cell salting must not change the result set."""
    ext, osm = synth.external_ways(spark, SF), synth.osm_ways(spark, SF)
    plain, _ = C.conflate(ext, osm)
    salted, _ = C.conflate(ext, osm, salt_hot_threshold=5)
    a = {(r["ext_id"], r["way_id"]) for r in plain.select("ext_id", "way_id").collect()}
    b = {(r["ext_id"], r["way_id"]) for r in salted.select("ext_id", "way_id").collect()}
    assert a == b


def test_partition_count_invariance(spark):
    """Same result at different parallelism (north-rule invariance check)."""
    ext, osm = synth.external_ways(spark, SF), synth.osm_ways(spark, SF)
    out1, _ = C.conflate(ext.repartition(2), osm.repartition(2))
    out2, _ = C.conflate(ext.repartition(13), osm.repartition(7))
    a = sorted((r["ext_id"], r["way_id"]) for r in out1.select("ext_id", "way_id").collect())
    b = sorted((r["ext_id"], r["way_id"]) for r in out2.select("ext_id", "way_id").collect())
    assert a == b


def test_length_sentinel_branches_fire(spark):
    """q_length_sentinel drives all three J3 outcomes through the production
    scoring kernel: hull contact (0.0), no contact (-1.0), and the untriggered
    real distance."""
    from osm_merge_spark.queries import q_length_sentinel

    out = q_length_sentinel(spark, SF).toPandas()
    by_case = out.groupby("case_id")["dist_m"].agg(["min", "max"])
    assert (by_case.loc[0] == 0.0).all()      # long triangle hull contains new way
    assert (by_case.loc[1] == -1.0).all()     # long far way: sentinel
    assert by_case.loc[2]["min"] > 0.0        # matched lengths: trigger never fires
