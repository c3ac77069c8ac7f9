"""The conflation core: a distance theta-join re-expressed as a Spark hash
join on manufactured cell keys, plus scoring, best-match selection, tag merge
and the anti-join "new features" output.

Reference semantics being reproduced (SURVEY.md §2.3/§2.4):

- J1 brute-force distance join      `osm_merge/conflator.py:140-224`
- J2 pairwise min distance          `osm_merge/conflator.py:565-668`
- J3 length-mismatch sentinel       `osm_merge/conflator.py:608-630`
- J4 slope/angle predicate          `osm_merge/conflator.py:471-563`
- A2-A4 hits scoring + best match   `osm_merge/conflator.py:670-792,373-419`
  (the A3 candidate cap 7, `conflator.py:349-354`, cannot change the pick —
  see :func:`best_matches`)
- J7 anti-join (new features)       `osm_merge/conflator.py:425-434`

Scale design (the part the reference lacks):

- cell cover is computed in one ``mapInArrow`` batch pass per side that
  emits one row per (feature, cell) — the manufactured equi-join key, so
  Catalyst plans a shuffled hash join instead of the reference's O(N·M) loop;
- cross-cell near matches come from the border-epsilon cover on ONE side
  only (the primary): a neighbor cell is added only where the geometry runs
  within the threshold of a cell border (``grid.cover_polyline(pad_m=…)``);
- hot cells are handled twice over: AQE skew-join splitting is enabled in the
  session, and an optional explicit salt (frequency pre-pass → per-cell salt
  factor inlined as a literal map lookup, ``plans/skew.py:hot_factor``)
  splits pathological cells before the shuffle;
- candidate pairs are deduped with a groupBy on (ext_id, way_id) *before* the
  expensive exact kernels run, so each pair is scored once;
- everything after the join is whole-stage-codegen Column math except the
  geometry kernel itself (one ``mapInArrow`` pass over the pair batches).

The Python boundary is ``plans.stage.with_batch_columns`` over the
``geometry.ragged_from_arrow`` codec: each kernel reads the Arrow buffers of a
record batch zero-copy and is evaluated once per row by construction: no
filter pushed past it can make Catalyst run it twice.

The candidate order the reference leaves implementation-defined (SURVEY.md
§7.3 risk 1) is pinned here: (hits DESC, dist ASC, way_id ASC).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as G
from .. import grid
from ..functions import tags as TG
from ..plans import skew, stage

# reference defaults (`conflator.py:94,201-203,1081`; `conflatePOI.py:73`)
DEFAULT_THRESHOLD_M = 7.0
ANGLE_THRESHOLD_DEG = 17.0
SLOPE_THRESHOLD = 4.0
MATCH_RATIO = 80.0
LENGTH_MISMATCH_M = 1000.0

# Candidate-join zoom (r6, guide §2.3 "shuffle fewer bytes"/§1.2 "the
# distributed algorithm").  The cover/join cost is driven by cells-per-way ×
# ways-per-cell: at z18 (~150 m cells) a typical multi-hundred-meter way
# covers ~10-14 cells, so every true pair was rediscovered in ~10 shared
# cells — the cell join emitted 27M rows for 2.7M distinct pairs on the
# replicas=4 bench corpus.  z16 (~600 m cells) puts way length ≈ cell edge
# (O(1) cells per way): 8.5M join rows for the same 2.7M pairs, measured
# 2.4× faster end-to-end at both bench corpus sizes (OPTIMIZATION_r06.md).
# Correctness is zoom-independent by construction: the pad_m=threshold cover
# guarantees any pair within the distance threshold shares a cell at ANY
# zoom (the min distance from a polyline to a straight cell border is
# attained at a vertex, and vertices are always cover samples), and every
# candidate beyond the threshold is dropped by the exact kernel refine.
DEFAULT_CONFLATE_ZOOM = 16

# Every join of the pipeline is hinted shuffled-hash (guide §3.1): the
# banded cover table could never be broadcast at scale, and SHJ skips the two
# full sorts a sort-merge join pays on the fattest exchange of the pipeline
# (AQE skew splitting applies to SHJ as well).  For the payload/attach joins
# (narrow id-keyed dims, too big to broadcast at scale) interleaved A/B
# rounds at both bench corpus sizes showed all-SHJ fastest
# (OPTIMIZATION_r06.md) — SMJ's sorts buy nothing the downstream
# aggregations need.


# ---------------------------------------------------------------------------
# Cell cover and pair scoring: the only Python in the pipeline
# ---------------------------------------------------------------------------

BBOX_COLS = ("min_lon", "min_lat", "max_lon", "max_lat")


def with_cells(
    df: DataFrame, geom_col: str = "geom", zoom: int = grid.DEFAULT_ZOOM, pad_m: float = 0.0
) -> DataFrame:
    """Explode df to one row per covering cell (the join-key manufacture):
    df's columns + ``cell`` + the feature's bbox (``BBOX_COLS``), which
    powers the JVM-side pair prefilter.  ``pad_m`` applies the border-epsilon
    expansion (neighbor cells only where the geometry runs within pad_m of a
    tile border) — ~1.1-1.3x cells versus 9x for a blanket k-ring.  Rows with
    an empty or null geometry cover no cell and drop out."""

    def cover(batch: pa.RecordBatch):
        flat, offsets = G.ragged_from_arrow(batch.column(geom_col))
        # sorted, unique (row, cell) pairs: the exploded rows in input order
        cells, rows = grid.cover_polyline(flat, offsets, zoom, pad_m=pad_m)
        bb = G.bbox_per_row(offsets, flat)[rows]
        return rows, [cells, *bb.T]

    fields = [T.StructField("cell", T.LongType())] + [T.StructField(c, T.DoubleType()) for c in BBOX_COLS]
    return stage.with_batch_columns(df, fields, cover)


# padded-kernel budget: Pa·Pb per pair beyond this routes to the ragged
# kernel (padding to the batch max detonates on real long ways — a single
# 680-vertex way inflates every pair to 680² slots)
_PADDED_WORK_CAP = 4096


def geom_scores(geom_a: pa.Array, geom_b: pa.Array) -> list[np.ndarray]:
    """Fused J2+J3+J4 over one batch of pairs: [dist, dslope, angle] — min
    distance (with the length-mismatch −1.0 sentinel) + endpoint
    slope/angle.

    Short-geometry batches (the common case after P10 simplification) use
    the padded all-pairs kernel; batches containing long polylines use the
    exact ragged cross-product kernel with bounded memory."""
    flat_a, off_a = G.ragged_from_arrow(geom_a)
    flat_b, off_b = G.ragged_from_arrow(geom_b)
    wa, wb = int(np.diff(off_a).max()), int(np.diff(off_b).max())
    if wa * wb <= _PADDED_WORK_CAP:
        A = G.pad_ragged(off_a, flat_a)
        B = G.pad_ragged(off_b, flat_b)
        dist = G.min_dist_pair_m(A, B)
        dslope, angle = G.endpoint_slope_angle(A, B)
    else:
        dist = G.min_dist_pair_m_ragged(off_a, flat_a, off_b, flat_b)
        dslope, angle = G.endpoint_slope_angle_ragged(off_a, flat_a, off_b, flat_b)
    # J3: severe length mismatch → hull-containment test, else sentinel -1
    # (`conflator.py:608-630`).  The test is the reference's EXACT one —
    # intersects(convex_hull(old), new) in the mercator frame, including the
    # reference's own quirk that both hulls come from ``oldobj``
    # (`conflator.py:617-621`: ``newpoly = oldobj.convex_hull``), which makes
    # ``innew`` trivially true; at size_threshold=0, dwithin == intersects.
    # Deliberate deviation, documented: the TRIGGER compares true (haversine)
    # meters, not the reference's latitude-inflated EPSG:3857 lengths — the
    # 3857 frame makes the 1000 m cut fire at different physical lengths per
    # latitude (1.3x at 40°N).  ``G.polyline_length_merc_m`` exists for
    # callers that want bug-level parity.
    len_a = G.polyline_length_m(off_a, flat_a)
    len_b = G.polyline_length_m(off_b, flat_b)
    mismatch = np.abs(len_a - len_b) > LENGTH_MISMATCH_M
    if mismatch.any():
        idx = np.nonzero(mismatch)[0]
        # a = primary/new (external), b = secondary/old (OSM): hull from OLD
        contact = G.hull_contact(off_a, flat_a, off_b, flat_b, idx)
        dist[idx] = np.where(contact, 0.0, -1.0)
    return [dist, dslope, angle]


def with_geom_scores(pairs: DataFrame) -> DataFrame:
    """pairs + (dist, dslope, angle) from :func:`geom_scores` over the
    ``geom_p`` (new) and ``geom_s`` (old) columns, one ``mapInArrow`` pass."""
    fields = [T.StructField(c, T.DoubleType()) for c in ("dist", "dslope", "angle")]
    return stage.with_batch_columns(
        pairs, fields, lambda batch: (None, geom_scores(batch.column("geom_p"), batch.column("geom_s")))
    )


# ---------------------------------------------------------------------------
# The conflation pipeline
# ---------------------------------------------------------------------------


def candidate_pairs(
    primary: DataFrame,
    secondary: DataFrame,
    threshold_m: float = DEFAULT_THRESHOLD_M,
    zoom: int = DEFAULT_CONFLATE_ZOOM,
    salt_hot_threshold: int | None = None,
) -> DataFrame:
    """Cell-join candidate generation.

    primary:  (ext_id, geom, ...)   — border-epsilon padded side
    secondary:(way_id, geom, ...)   — covered side
    Returns distinct (ext_id, way_id) candidate pairs with the columns the
    exact refine needs: both geoms plus the pre-normalized name/ref columns.
    (r6: tags/version no longer ride the per-pair path — ``conflate``
    re-attaches them to the ~|primaries| winners after best-match selection,
    per guide §8 "decide with small rows, move big rows once".)
    """
    # Late materialization: the cell join runs over NARROW (id, cell, bbox)
    # rows only — a skewed hot cell then costs slim pairs, not wide payload
    # rows, and the shuffle moves a fraction of the bytes.  Payloads
    # re-attach after pair dedupe via two evenly-hashed id joins.
    # Normalization runs HERE, once per feature — not per candidate pair.
    # (name normalization is a 14-regex chain; evaluating it per pair
    # multiplied JVM cost ~10x on dense corpora.)
    p_payload = primary.select(
        "ext_id",
        F.col("geom").alias("geom_p"),
        TG.normalize_name(F.element_at("tags", F.lit("name"))).alias("name_norm_p"),
        TG.ref_number(F.element_at("tags", F.lit("ref:usfs"))).alias("ref_num_p"),
    )
    s_payload = secondary.select(
        "way_id",
        F.col("geom").alias("geom_s"),
        TG.normalize_name(F.element_at("tags", F.lit("name"))).alias("name_norm_s"),
        TG.ref_number(F.element_at("tags", F.lit("ref:usfs"))).alias("ref_num_s"),
    )
    # border-epsilon pad on the primary side replaces the 9x k-ring explode
    p = with_cells(primary.select("ext_id", "geom"), "geom", zoom, pad_m=threshold_m).select(
        "ext_id", "cell", *[F.col(c).alias(c + "_p") for c in BBOX_COLS]
    )
    s = with_cells(secondary.select("way_id", "geom"), "geom", zoom, pad_m=0.0).select(
        "way_id", "cell", *[F.col(c).alias(c + "_s") for c in BBOX_COLS]
    )

    # Replicate-small salt (r6): cells of the secondary side above
    # ``salt_hot_threshold`` split into n = salt factor sub-cells by way id,
    # and the primary side's rows in such a cell replicate to all n.  The
    # density pre-pass counts a cheap first-vertex proxy in pure Column math
    # rather than a second full cover pass (UDF + explode) over the
    # secondary side: salting is pure partitioning — any density estimate
    # yields identical results, and the residual skew a proxy misses is AQE
    # skew-join's job.
    n_salt = None
    if salt_hot_threshold:
        proxy = secondary.select(
            grid.cell_id_col(
                F.element_at("geom", 1), F.element_at("geom", 2), zoom
            ).alias("cell")
        )
        n_salt = skew.hot_factor(proxy, ["cell"], salt_hot_threshold, cap=16)
    if n_salt is None:
        joined = p.join(s.hint("shuffle_hash"), "cell")
    else:
        # coalesce: a non-nullable join key adds no inferred isnotnull filter
        s = s.withColumn("salt", F.coalesce(F.pmod(F.hash(F.col("way_id")), n_salt), F.lit(0)))
        p = p.withColumn("salt", F.explode(F.sequence(F.lit(0), n_salt - 1)))
        joined = p.join(s.hint("shuffle_hash"), ["cell", "salt"])

    # JVM-side bbox-gap prefilter: equirectangular bbox distance lower-bounds
    # the true distance, so pairs whose boxes sit further apart than the
    # threshold can never match — they are dropped before the expensive
    # kernel (and before the dedupe shuffle).
    lon_gap = F.greatest(
        F.greatest("min_lon_p", "min_lon_s") - F.least("max_lon_p", "max_lon_s"), F.lit(0.0)
    )
    lat_gap = F.greatest(
        F.greatest("min_lat_p", "min_lat_s") - F.least("max_lat_p", "max_lat_s"), F.lit(0.0)
    )
    max_abs = F.greatest(*[F.abs(c) for c in ("min_lat_p", "max_lat_p", "min_lat_s", "max_lat_s")])
    # cos at the pair's max |lat| under-estimates lon meters → conservative
    gap_m = F.sqrt(
        F.pow(lon_gap * 111_320.0 * F.cos(F.radians(max_abs)), 2) + F.pow(lat_gap * 110_540.0, 2)
    )
    joined = joined.filter(gap_m <= threshold_m)

    # One exchange serves both the pair dedupe and the first payload attach
    # (guide §2.4 "two operations keyed the same way can share one
    # exchange"): partitioning by ext_id alone satisfies the dedupe's
    # (ext_id, way_id) clustering — a subset key colocates every duplicate —
    # and is exactly the distribution the p_payload join needs, so the
    # previous plan's second full pair exchange disappears.  Map-side
    # partial dedupe bought nothing here anyway: a pair's duplicate cells
    # hash to different cell-join tasks, so almost no duplicates met inside
    # one task.  Explicit width: the pair stream is narrow in bytes but
    # quadratic-ish in rows, the case AQE's byte-based coalescing missizes.
    pairs = (
        joined.select("ext_id", "way_id")
        .repartition(skew.shuffle_width(primary.sparkSession), "ext_id")
        .dropDuplicates(["ext_id", "way_id"])
    )
    return pairs.join(p_payload.hint("shuffle_hash"), "ext_id").join(
        s_payload.hint("shuffle_hash"), "way_id"
    )


def score_pairs(pairs: DataFrame, threshold_m: float = DEFAULT_THRESHOLD_M) -> DataFrame:
    """Exact refine: geometry kernel + tag similarity + the reference's hits
    scoring (`checkTags`, `conflator.py:670-792`):

    hits = (dist <= threshold) + (name fuzzy ≥ 80) + (ref numbers equal)
    with slope/angle rejection for non-matching directions.
    """
    scored = with_geom_scores(pairs)

    # pre-normalized on the feature tables (see candidate_pairs) — per-pair
    # work is just the levenshtein ratio + equality
    name_p, name_s = F.col("name_norm_p"), F.col("name_norm_s")
    ref_p, ref_s = F.col("ref_num_p"), F.col("ref_num_s")

    scored = (
        scored.withColumn(
            "name_ratio",
            F.when(name_p.isNotNull() & name_s.isNotNull(), F.round(TG.fuzzy_ratio(name_p, name_s), 4)).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "ref_ratio",
            F.when(ref_p.isNotNull() & ref_s.isNotNull() & (ref_p == ref_s) & (ref_p != ""), F.lit(100.0)).otherwise(F.lit(0.0)),
        )
    )
    geom_ok = (
        (F.col("dist") >= 0)
        & (F.col("dist") <= threshold_m)
        & (F.col("angle") <= ANGLE_THRESHOLD_DEG)
        & (F.col("dslope") <= SLOPE_THRESHOLD)
    )
    return scored.withColumn(
        "hits",
        geom_ok.cast("int")
        + (F.col("name_ratio") >= MATCH_RATIO).cast("int")
        + (F.col("ref_ratio") >= MATCH_RATIO).cast("int"),
    ).filter(geom_ok)


def best_matches(scored: DataFrame) -> DataFrame:
    """Deterministic best-match pick over the pinned candidate order
    (hits DESC, dist ASC, way_id ASC) — A2/A3.

    Implemented as a ``min_by`` aggregation rather than a row_number
    window: partial (map-side) aggregation collapses every partition to at
    most one candidate per ext_id *before* the exchange, so the shuffle
    moves ~|primaries| rows instead of all |pairs| rows.  (The struct
    buffer makes Spark pick SortAggregate — a sort on the grouping key
    only; the win is the partial-agg shuffle reduction, which a window
    cannot do.)  The reference's candidate cap (A3, cap 7,
    `conflator.py:349-354`) cannot change the result: rank 1 lies within any
    cap ≥ 1, so the capped pick equals the global best.  Ties are impossible —
    way_id is unique within an ext_id's candidate set — so the pick is
    deterministic."""
    order = F.struct(
        (-F.col("hits")).alias("h"), F.col("dist").alias("d"), F.col("way_id").alias("w")
    )
    payload = F.struct(*[c for c in scored.columns if c != "ext_id"])
    return (
        scored.groupBy("ext_id")
        .agg(F.min_by(payload, order).alias("__best"))
        .select("ext_id", "__best.*")
    )


def conflate(
    primary: DataFrame,
    secondary: DataFrame,
    threshold_m: float = DEFAULT_THRESHOLD_M,
    zoom: int = DEFAULT_CONFLATE_ZOOM,
    salt_hot_threshold: int | None = None,
    persist_best: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full conflation: returns (conflated, new).

    conflated: ext_id, way_id, merged tags, version+1, debug columns
               (hits, dist, dslope, angle, name_ratio, ref_ratio) — the
               reference embeds the same debug tags (`conflator.py:247,407`).
    new:       primary features with no candidate (anti-join), tagged
               informal=yes / fixme (`conflator.py:425-434`).

    r6 shape (guide §8): the per-pair path decides with small rows — ids,
    geoms and pre-normalized names only.  The heavy columns (tag maps,
    version, output geometry) attach to the ~|primaries| winners AFTER
    best-match selection via two id equi-joins, so the pair joins, the
    Arrow kernel batches, the min_by exchange and the persisted best-match
    table all carry narrow rows.
    """
    pairs = candidate_pairs(primary, secondary, threshold_m, zoom, salt_hot_threshold=salt_hot_threshold)
    scored = score_pairs(pairs, threshold_m)
    # decision columns only: geoms served the kernel and are re-attachable
    # by id — dropping them before the aggregation shrinks the min_by
    # shuffle and the persisted cache by ~an order of magnitude
    slim = scored.select(
        "ext_id", "way_id", "hits", "dist", "dslope", "angle", "name_ratio", "ref_ratio"
    )
    best = best_matches(slim)
    if persist_best:
        # both outputs (conflated + anti-join "new") consume `best`; persist
        # so the join/score stages run once, not once per output action
        best = best.persist()

    p_att = primary.select(
        "ext_id", F.col("tags").alias("tags_p"), F.col("geom").alias("geom_p")
    )
    s_att = secondary.select("way_id", F.col("tags").alias("tags_s"), "version")
    conflated = (
        best.join(p_att.hint("shuffle_hash"), "ext_id")
        .join(s_att.hint("shuffle_hash"), "way_id")
        .select(
            "ext_id",
            "way_id",
            TG.merge_tags(TG.drop_junk_tags("tags_p"), TG.drop_junk_tags("tags_s")).alias("tags"),
            (F.col("version") + 1).alias("version"),
            F.round("dist", 2).alias("dist"),
            F.col("hits"),
            F.round("name_ratio", 1).alias("name_ratio"),
            F.col("ref_ratio"),
            F.round("dslope", 4).alias("dslope"),
            F.round("angle", 4).alias("angle"),
            F.col("geom_p").alias("geom"),
        )
    )

    # overlay (not map_concat): a primary feature already carrying informal/
    # fixme would make map_concat throw under mapKeyDedupPolicy=EXCEPTION;
    # the reference's dict assignment overwrites (`conflator.py:428-430`)
    marker = F.create_map(
        F.lit("informal"), F.lit("yes"),
        F.lit("fixme"), F.lit("New features merged from an external dataset"),
    )
    new = (
        primary.join(best.select("ext_id"), "ext_id", "left_anti")
        .withColumn(
            "tags",
            F.map_zip_with(TG.drop_junk_tags("tags"), marker, lambda k, vp, vm: F.coalesce(vm, vp)),
        )
        .withColumn("version", F.lit(1))
    )
    return conflated, new
