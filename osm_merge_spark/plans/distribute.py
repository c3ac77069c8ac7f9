"""Spatial work distribution: executor-local conflation via range ownership.

On a real cluster, Spark's shuffle co-partitions both join sides by the cell
key.  For *executor-count scaling* (the north rule's N→4N criterion) the
equivalent explicit construction is range decomposition:

1. the primary is **owned** by the longitude of its anchor vertex; ownership
   ranges are the primary's K-quantiles (`repartitionByRange` semantics);
2. the secondary is **needed by** every range its padded x-extent overlaps,
   where the pad = max feature extent + distance threshold — so any
   secondary within the threshold of an owned primary is guaranteed present;
3. executor r conflates `primary[anchor_x ∈ range_r]` against
   `secondary[padded x-extent ∩ range_r ≠ ∅]` fully independently.

1-D strips minimize border perimeter for moderate K (replication fraction
≈ K · 2·pad / extent — ~8% at K=4 on the bench AOI).  Z-order (morton)
ranges — the engine's cell hierarchy supports them directly via
``grid.parent_cell`` — become preferable at K ≫ 100 where strips get too
thin; measured here, morton ranges' fractal borders replicated 1.5-2.5× at
K=4, strips ~1.1×.

The same columns power partition pruning for AOI-clipped queries: write the
corpus partitioned by a strip/tile bucket and `WHERE` clauses skip files.

The extent columns come from one ``mapInArrow`` batch pass
(``stage.with_batch_columns``), so the slice filters above it cannot make
Catalyst evaluate the kernel a second time.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as G
from . import stage

# pad: max synthetic way extent (~4 segments × 0.004°) + threshold slack
DEFAULT_PAD_DEG = 0.05

_EXTENT_FIELDS = [T.StructField(c, T.DoubleType()) for c in ("anchor_x", "anchor_y", "min_x", "max_x")]


def with_tile_columns(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Attach (anchor_x, anchor_y, min_x, max_x): the first vertex and the
    x-extent of each geometry, null for an empty one — one Arrow pass."""

    def extents(batch: pa.RecordBatch):
        flat, offsets = G.ragged_from_arrow(batch.column(geom_col))
        anchor = np.full((len(offsets) - 1, 2), np.nan)
        has = np.diff(offsets) > 0
        anchor[has] = flat[offsets[:-1][has]]
        bb = G.bbox_per_row(offsets, flat)
        return None, [anchor[:, 0], anchor[:, 1], bb[:, 0], bb[:, 2]]

    return stage.with_batch_columns(df, _EXTENT_FIELDS, extents)


def range_boundaries(primary_with_tiles: DataFrame, k: int) -> list[float]:
    """K-quantile anchor-longitude boundaries (the range-partitioner's
    split points), weighted by row count only."""
    if k <= 1:
        return []
    qs = [i / k for i in range(1, k)]
    return [float(b) for b in primary_with_tiles.approxQuantile("anchor_x", qs, 0.001)]


def owned_range(boundaries: list[float], rank: int) -> tuple[float, float]:
    lo = boundaries[rank - 1] if rank > 0 else -1e9
    hi = boundaries[rank] if rank < len(boundaries) else 1e9
    return lo, hi


def primary_slice(primary_with_tiles: DataFrame, boundaries: list[float], rank: int) -> DataFrame:
    lo, hi = owned_range(boundaries, rank)
    return primary_with_tiles.filter((F.col("anchor_x") >= lo) & (F.col("anchor_x") < hi))


def secondary_slice(
    secondary_with_tiles: DataFrame,
    boundaries: list[float],
    rank: int,
    pad_deg: float = DEFAULT_PAD_DEG,
) -> DataFrame:
    lo, hi = owned_range(boundaries, rank)
    return secondary_with_tiles.filter(
        (F.col("max_x") + pad_deg >= lo) & (F.col("min_x") - pad_deg < hi)
    )


# max lon-degrees per threshold meter over the AOI's latitude band (≤41°N):
# 7 m / (111320 · cos 41°) ≈ 8.4e-5 — rounded up with slack
THRESHOLD_X_DEG = 1e-4


def primary_extents(
    primary_with_tiles: DataFrame, boundaries: list[float]
) -> list[tuple[float, float]]:
    """Per-rank [min(min_x), max(max_x)] of the OWNED primaries — the exact
    x-window a rank's conflation can ever look at.  Feeding this to
    :func:`secondary_slice_exact` replaces the blanket DEFAULT_PAD_DEG
    (sized to the worst-case feature extent) with the measured one, cutting
    border replication ~3× at K=4."""
    rank = sum((F.col("anchor_x") >= F.lit(b)).cast("int") for b in boundaries) if boundaries else F.lit(0)
    rows = (
        primary_with_tiles.withColumn("__r", rank)
        .groupBy("__r")
        .agg(F.min("min_x").alias("lo"), F.max("max_x").alias("hi"))
        .collect()
    )
    by_rank = {r["__r"]: (float(r["lo"]), float(r["hi"])) for r in rows}
    return [by_rank.get(r, (0.0, 0.0)) for r in range(len(boundaries) + 1)]


def secondary_slice_exact(
    secondary_with_tiles: DataFrame,
    extent: tuple[float, float],
    thr_deg: float = THRESHOLD_X_DEG,
) -> DataFrame:
    """Secondaries a rank actually needs: x-extent within the threshold of
    the rank's primary extent (x-gap lower-bounds true distance, so this is
    lossless for the ≤7 m join)."""
    lo, hi = extent
    return secondary_with_tiles.filter(
        (F.col("max_x") >= lo - thr_deg) & (F.col("min_x") <= hi + thr_deg)
    )
