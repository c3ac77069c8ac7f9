"""Skew handling for the engine's manufactured-key joins, in one place.

The conflation cell join and the LSH / n-gram pair self-joins are equi-joins
on keys the engine manufactures (cells, band buckets, length buckets).  Real
corpora put a large share of rows on a few of those keys, and the join's
cost there is the product of the two sides, not their bytes — AQE, which
sizes and splits partitions by input bytes, cannot see it.  Three pieces
handle it:

- ``shuffle_width`` — the explicit partition count for repartitions that
  must not be coalesced by AQE;
- ``hot_factor`` — a measured key distribution (top-K count pre-pass)
  turned into a per-key split factor, inlined as a literal map lookup;
- ``self_pairs_blocked`` — the unordered-pair self-join of a keyed table
  with hot keys split into an i ≤ j triangle of sub-block tasks.

Irregular partitions chosen from the measured key distribution follow
Jigsaw (SIGMOD 2021); the i ≤ j block decomposition of a pair space is the
one used by the EMD similarity join on MapReduce (ICDE 2016).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width — used for explicit repartitions that must
    not be AQE-coalesced by input BYTES when the per-row compute is heavy
    (guide §2.5: AQE sizes partitions by bytes; expression-generated corpora
    are narrow on disk but expensive per row, so byte-based coalescing
    serializes the compute).  Scale-adaptive: follows the deployment's
    configured shuffle parallelism, never a local constant.  (Spark rejects
    a non-integer value for this setting at ``conf.set`` time, so the read
    needs no fallback.)"""
    return int(spark.conf.get(SHUFFLE_PARTITIONS))


def hot_factor(df: DataFrame, keys: Sequence[str], threshold: int, cap: int) -> Column | None:
    """Per-key split factor for the keys of ``df`` with more than
    ``threshold`` rows: ``min(ceil(cnt / threshold), cap)``, 1 elsewhere.

    Eager: runs ONE Spark job (count per key, top-K by count, ``collect``)
    when called, i.e. at plan-build time, over ``df`` as it is then.
    Returns ``None`` when no key is hot; otherwise a Column over the
    columns named ``keys`` — usable on any frame carrying them — that looks
    the factor up in an inlined literal map: ``coalesce(element_at(map,
    key), 1)``, with a struct map key for multi-column keys.  The literal
    keeps the consuming plan a straight line: a broadcast-join formulation
    costs extra serially-materialized AQE stages (count exchange, broadcast
    build, left join) on every call."""
    keys = list(keys)
    top = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__cnt"))
        .filter(F.col("__cnt") > threshold)
        .orderBy(F.desc("__cnt"), *keys)
        # bounds driver memory at any corpus size: keys beyond the top-K
        # stay unsplit (less parallelism, identical output)
        .limit(4096)
    )
    hot = top.collect()
    if not hot:
        return None
    # typed literals: a Python int becomes an int literal, and a struct map
    # key must match the key columns' types exactly
    types = {k: top.schema[k].dataType for k in keys}

    def key_of(vals) -> Column:
        if len(keys) == 1:
            return vals[0]
        return F.struct(*[v.alias(k) for k, v in zip(keys, vals)])

    entries: list = []
    for r in hot:
        entries.append(key_of([F.lit(r[k]).cast(types[k]) for k in keys]))
        entries.append(F.lit(int(min(-(-r["__cnt"] // threshold), cap))))
    lookup = F.element_at(F.create_map(*entries), key_of([F.col(k) for k in keys]))
    return F.coalesce(lookup, F.lit(1))


def self_pairs_blocked(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    threshold: int,
    max_blocks: int,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Every unordered pair of distinct-id rows sharing ``keys``, once per
    shared key: ``(id_a, id_b, <p>_a, <p>_b for p in payload)`` with
    ``id_a < id_b`` and each payload column beside its own id.  Rows with
    a NULL id are dropped (they pair with nothing).  Eager: runs the
    ``hot_factor`` pre-pass over ``df`` (one Spark job) when called.

    A key with B rows emits B² join rows from ONE task, and AQE cannot help
    because the input partition is tiny in bytes while the output is
    quadratic.  Rows of a key above ``threshold`` get a deterministic
    sub-block ``blk = pmod(xxhash64(id), nb)`` (``nb`` from ``hot_factor``,
    at most ``max_blocks``) and the self-join becomes a join on
    (keys, i, j) over the upper triangle of block pairs: the left side
    owns blocks i = blk..nb-1 as the row side, the right side blocks
    j = 0..blk as the column side, so every unordered pair lands in exactly
    one (i ≤ j) task and the quadratic work spreads over nb·(nb+1)/2 tasks.
    Diagonal blocks see both orderings (keep a < b); off-diagonal blocks
    see each pair once in arbitrary order (swap ids and payloads
    together).  Cold keys keep nb = 1, the plain ``a < b`` self-join — the
    decomposition is pure partitioning.

    Both sides are explicitly repartitioned on (keys, i, j) to
    ``shuffle_width``: an explicit repartition is exempt from AQE's
    byte-based coalescing (which would collapse the quadratic join into one
    task) and already satisfies the shuffled-hash join's distribution."""
    keys, payload = list(keys), list(payload)
    df = df.filter(F.col(id_col).isNotNull())
    nb = hot_factor(df, keys, threshold, max_blocks)
    blocked = df.withColumn("__nb", F.lit(1) if nb is None else nb).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nb")).cast("int")
    )

    def side(suffix: str, i: Column, j: Column) -> DataFrame:
        return blocked.select(
            F.col(id_col).alias(f"id_{suffix}"),
            *[F.col(p).alias(f"{p}_{suffix}") for p in payload],
            *keys,
            i.alias("__i"),
            j.alias("__j"),
        )

    blk, last = F.col("__blk"), F.col("__nb") - 1
    left = side("a", blk, F.explode(F.sequence(blk, last)))
    right = side("b", F.explode(F.sequence(F.lit(0), blk)), blk)
    n = shuffle_width(df.sparkSession)
    on = [*keys, "__i", "__j"]
    swap = F.col("id_a") > F.col("id_b")
    return (
        left.repartition(n, *on)
        .hint("shuffle_hash")
        .join(right.repartition(n, *on).hint("shuffle_hash"), on)
        .filter((F.col("__i") != F.col("__j")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            *[
                F.when(swap, F.col(f"{p}_{x}")).otherwise(F.col(f"{p}_{y}")).alias(f"{p}_{y}")
                for p in payload
                for x, y in (("b", "a"), ("a", "b"))
            ],
        )
    )
