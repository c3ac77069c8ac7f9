"""Similarity search over embedding columns (array<float>).

Two paths, per the scale doctrine:

- ``cosine_topk_bruteforce`` — exact baseline: probe×target join with a
  JVM-side dot product (``aggregate(zip_with(...))`` — whole-stage codegen,
  no Python), window top-k.  Right answer, O(P·T) — use when one side is
  small/broadcastable.
- ``lsh_topk`` — the scale path: random-hyperplane LSH buckets (deterministic
  coefficients) as the manufactured equi-join key; probes only score
  targets sharing a bucket.  Recall < 1 by construction; bucket count and
  hyperplane count trade recall vs cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans import skew


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<float|double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def cosine_topk_bruteforce(
    probes: DataFrame,
    targets: DataFrame,
    k: int = 5,
    probe_id: str = "probe_id",
    target_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors (excluding self-pairs when ids collide).

    Norms are computed once per ROW before the join (a pair-side norm would
    redo the O(dim) fold per pair — P·T times instead of P+T)."""
    p = probes.select(F.col(probe_id), F.col(vec_col).alias("p_vec")).withColumn("p_norm", norm(F.col("p_vec")))
    t = targets.select(F.col(target_id), F.col(vec_col).alias("t_vec")).withColumn("t_norm", norm(F.col("t_vec")))
    # r6 (guide §2.5): the broadcast-nested-loop join streams the target side
    # through its scan partitioning — a single-file target table made the
    # whole P·T kernel run in one task.  A keyless round-robin repartition of
    # the (tiny-in-bytes) target side spreads the quadratic work; the probe
    # side stays the broadcast side.
    n_parts = skew.shuffle_width(targets.sparkSession)
    t = t.repartition(n_parts)
    j = p.crossJoin(t).filter(F.col(probe_id) != F.col(target_id))
    denom = F.col("p_norm") * F.col("t_norm")
    cs = F.when(denom == 0, F.lit(0.0)).otherwise(dot(F.col("p_vec"), F.col("t_vec")) / denom)
    # decision columns only past this point (guide §2.3): the row_number
    # window shuffles P·T rows — carrying the vectors through that exchange
    # multiplied its bytes by ~the vector width for columns the ranking
    # never reads
    j = j.select(probe_id, target_id, F.round(cs, 6).alias("cos_sim"))
    w = Window.partitionBy(probe_id).orderBy(F.desc("cos_sim"), F.asc(target_id))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, target_id, "cos_sim", "rank")
    )


def _hyperplane(dim: int, h: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane coefficients — reproducible in
    ANSI SQL: c_j = (((h + table*97)*31 + j*17 + table*7) % 13) - 6."""
    s = h + table * 97
    return [float(((s * 31 + j * 17 + table * 7) % 13) - 6) for j in range(dim)]


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8, table: int = 0) -> Column:
    """Sign-concatenation bucket id from n random hyperplanes (bigint)."""
    out = F.lit(0).cast("bigint")
    for h in range(n_planes):
        coefs = _hyperplane(dim, h, table)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in coefs]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out * 2 + F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))
    return out


def lsh_buckets(vec: Column, dim: int, n_planes: int, n_tables: int) -> Column:
    """array of (table<<60 | bucket) ids — one per hash table.  Multiple
    independent tables are the standard recall lever for hyperplane LSH."""
    return F.array(
        *[
            (F.lit(t * (1 << 60)).cast("bigint") + lsh_bucket(vec, dim, n_planes, t))
            for t in range(n_tables)
        ]
    )


def lsh_topk(
    probes: DataFrame,
    targets: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    probe_id: str = "probe_id",
    target_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket equi-join (n_tables independent LSH tables)
    then exact cosine within bucket; pair deduped across tables.  Norms are
    precomputed per row (before the bucket explode) — never per pair."""
    p = (
        probes.select(F.col(probe_id), F.col(vec_col).alias("p_vec"))
        .withColumn("p_norm", norm(F.col("p_vec")))
        .withColumn("bucket", F.explode(lsh_buckets(F.col("p_vec"), dim, n_planes, n_tables)))
    )
    t = (
        targets.select(F.col(target_id), F.col(vec_col).alias("t_vec"))
        .withColumn("t_norm", norm(F.col("t_vec")))
        .withColumn("bucket", F.explode(lsh_buckets(F.col("t_vec"), dim, n_planes, n_tables)))
    )
    j = (
        p.join(t, "bucket")
        .filter(F.col(probe_id) != F.col(target_id))
        .dropDuplicates([probe_id, target_id])
    )
    denom = F.col("p_norm") * F.col("t_norm")
    cs = F.when(denom == 0, F.lit(0.0)).otherwise(dot(F.col("p_vec"), F.col("t_vec")) / denom)
    j = j.withColumn("cos_sim", F.round(cs, 6))
    w = Window.partitionBy(probe_id).orderBy(F.desc("cos_sim"), F.asc(target_id))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, target_id, "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer alternative to LSH
# ---------------------------------------------------------------------------


def _centroid(dim: int, t: int) -> list[float]:
    """Deterministic coarse-quantizer centroid t — reproducible in ANSI SQL:
    c_j = (((t*53 + j*29) % 17) - 8) / 8.0  (values in [-1, 1])."""
    return [(((t * 53 + j * 29) % 17) - 8) / 8.0 for j in range(dim)]


def centroid_dots(vec: Column, dim: int, n_cells: int) -> list[Column]:
    """Dot product of ``vec`` against every centroid (JVM fold, same
    evaluation order as the SQL twin)."""
    return [
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in _centroid(dim, t)]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for t in range(n_cells)
    ]


def with_ivf_cells(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_cells: int = 8,
    nprobe: int = 1,
    out_col: str = "cells",
) -> DataFrame:
    """Add an array<int> column of the top-``nprobe`` IVF cell ids.
    Tie-breaking is pinned (lowest cell id wins at equal dot) by an explicit
    array_sort comparator — bit-reproducible in SQL, no sort-order
    ambiguity, no shuffle.

    The (dot, cell) pairs live in ONE array expression sorted by a
    comparator lambda, so each of the ``n_cells`` dot folds appears exactly
    once in the tree no matter what later projections collapse into it.
    The previous per-probe-level masked greatest/CASE formulation was
    linear as written, but cell_p's exclusion mask referenced cell_{p-1}
    n_cells× — when a downstream explode("cells") made Catalyst collapse
    the projection chain, the folds compounded ~140× into a 1.7 MB plan
    whose optimization OOMs a default-1g driver JVM (q_pq_topk, audit
    2026-08-19); this shape stays ~12 kB through the same explode.

    Null vectors (the engine's document/embedding tables require non-null
    vectors, so none occur in practice): every dot is NULL, the comparator
    falls through to the cell tiebreak, and such rows get cells
    [0..nprobe) — where the old CASE fallthrough parked them in the
    arbitrary last bucket.  Neither shape scores them meaningfully; the
    non-null precondition is the contract."""
    dots = centroid_dots(F.col(vec_col), dim, n_cells)
    pairs = F.array(
        *[F.struct(d.alias("dot"), F.lit(t).alias("cell")) for t, d in enumerate(dots)]
    )
    nm = f"__ivf_{out_col}_pairs"
    ranked = F.array_sort(
        F.col(nm),
        lambda l, r: F.when(l["dot"] > r["dot"], F.lit(-1))
        .when(l["dot"] < r["dot"], F.lit(1))
        .otherwise(l["cell"] - r["cell"]),
    )
    return (
        df.withColumn(nm, pairs)
        .withColumn(out_col, F.transform(F.slice(ranked, 1, nprobe), lambda x: x["cell"]))
        .drop(nm)
    )


def ivf_topk(
    probes: DataFrame,
    targets: DataFrame,
    dim: int,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    probe_id: str = "probe_id",
    target_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: targets are indexed into their single nearest
    coarse cell; probes scan their ``nprobe`` nearest cells.  Candidates are
    a cell equi-join (shuffle on a small int key — never all-pairs); exact
    cosine refines within cells.  Norms precomputed per row."""
    t = with_ivf_cells(
        targets.select(F.col(target_id), F.col(vec_col).alias("t_vec"))
        .withColumn("t_norm", norm(F.col("t_vec"))),
        "t_vec", dim, n_cells, nprobe=1,
    ).withColumn("cell", F.element_at("cells", 1)).drop("cells")
    p = with_ivf_cells(
        probes.select(F.col(probe_id), F.col(vec_col).alias("p_vec"))
        .withColumn("p_norm", norm(F.col("p_vec"))),
        "p_vec", dim, n_cells, nprobe=nprobe,
    ).withColumn("cell", F.explode("cells")).drop("cells")
    j = p.join(t, "cell").filter(F.col(probe_id) != F.col(target_id)).dropDuplicates([probe_id, target_id])
    denom = F.col("p_norm") * F.col("t_norm")
    cs = F.when(denom == 0, F.lit(0.0)).otherwise(dot(F.col("p_vec"), F.col("t_vec")) / denom)
    j = j.withColumn("cos_sim", F.round(cs, 6))
    w = Window.partitionBy(probe_id).orderBy(F.desc("cos_sim"), F.asc(target_id))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, target_id, "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) cosine — the memory-bandwidth lever for 10^12-vector
# corpora: codes are 4× smaller than float32, the per-vector scale cancels
# out of cosine entirely, and the pair arithmetic is exact bigint — so the
# quantized similarity is bitwise reproducible across engines.
# ---------------------------------------------------------------------------


def sq8_codes(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization codes.

    ``q_j = floor(v_j * 127 / max|v| + 0.5)`` — round-half-up via an
    explicit floor so Spark and any ANSI engine agree bitwise (library
    round() ties diverge across engines).  The range is [-127, 127] by
    construction (|v_j| ≤ max|v|), no clamp needed; an all-zero vector
    quantizes to all zeros.  Stored as bigint here (Spark arrays carry no
    int8 element type); an Iceberg table would persist the codes as a
    4×-smaller binary column plus one float scale — and for cosine the
    scale column can be dropped entirely (it cancels)."""
    amax = F.aggregate(
        vec, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v.cast("double")))
    )
    return F.when(
        amax == 0, F.transform(vec, lambda v: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform(
            vec,
            lambda v: F.floor(v.cast("double") * F.lit(127.0) / amax + F.lit(0.5)).cast(
                "bigint"
            ),
        )
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sq8_topk(
    probes: DataFrame,
    targets: DataFrame,
    k: int = 3,
    probe_id: str = "probe_id",
    target_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by int8-quantized cosine: ``Σ q_a·q_b / sqrt(Σq_a² · Σq_b²)``
    (the per-vector scales cancel, so the whole pair computation is one
    exact bigint dot + one IEEE sqrt/divide).  Codes and code-norms are
    computed once per ROW before the join, exactly like the float baseline.
    The crossJoin parameterization is the small-probe-set demo shape; at
    corpus scale the same scoring drops into the IVF/LSH bucketed joins
    above as the cheaper pair kernel (4× less scan bandwidth, integer
    SIMD)."""
    p = probes.select(
        F.col(probe_id), sq8_codes(F.col(vec_col)).alias("p_q")
    ).withColumn("p_n2", _int_dot(F.col("p_q"), F.col("p_q")))
    t = targets.select(
        F.col(target_id), sq8_codes(F.col(vec_col)).alias("t_q")
    ).withColumn("t_n2", _int_dot(F.col("t_q"), F.col("t_q")))
    j = p.crossJoin(t).filter(F.col(probe_id) != F.col(target_id))
    den = F.sqrt(F.col("p_n2").cast("double") * F.col("t_n2").cast("double"))
    cs = F.when(den == 0, F.lit(0.0)).otherwise(
        _int_dot(F.col("p_q"), F.col("t_q")).cast("double") / den
    )
    j = j.withColumn("cos_sq8", cs)
    w = Window.partitionBy(probe_id).orderBy(F.desc("cos_sq8"), F.asc(target_id))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, target_id, "cos_sq8", "rank")
    )


# ---------------------------------------------------------------------------
# Lloyd k-means — the iterative-algorithm pattern on Spark: per-iteration
# assign (broadcast centroids, argmin inside codegen) + update (one partial
# aggregate), driver holds only k×dim floats.  Feeds the IVF index with a
# data-adaptive coarse quantizer (the hyperplane quantizer above is
# data-independent).
# ---------------------------------------------------------------------------


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_to_centroids(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Attach ``cluster`` = argmin squared distance over the broadcast
    centroid list (ties → lowest cluster id: array_position returns the
    FIRST index of the min, matching the previous strict-< running fold).
    Pure Column expression — the k×dim literals ride the plan, nothing
    shuffles.  The distances live in ONE array expression (the running
    when-chain duplicated each distance subtree into every later step —
    ~650 kB of plan at k=8/dim=64; this shape is ~10× smaller).  Null
    vectors (excluded by the embedding-table contract) yield cluster NULL
    here where the old fold defaulted them to cluster 0 — both arbitrary;
    the non-null precondition is the contract."""
    dists = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    nm = "__km_dists"
    return (
        df.withColumn(nm, dists)
        .withColumn(
            "cluster",
            (F.array_position(F.col(nm), F.array_min(F.col(nm))) - 1).cast("int"),
        )
        .drop(nm)
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
) -> list[list[float]]:
    """Deterministic Lloyd iterations: init = the k lowest-id vectors,
    then ``iters`` rounds of assign (broadcast literals) + mean-update
    (ONE map-side-partial aggregate per round; the k×dim result collects
    to the driver).  An empty cluster keeps its previous centroid.  At
    10^12 rows each round is one scan + one tiny shuffle — the canonical
    Spark iterative shape (MLlib's KMeans runs the same loop)."""
    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]
    if not centroids:
        raise ValueError("kmeans_fit: input DataFrame has no rows")
    # fewer rows than k: fit with what exists (every row its own centroid)
    # rather than raising IndexError from the update loop below
    k = min(k, len(centroids))
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = assign_to_centroids(df, vec_col, centroids)
        sums = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.sum(F.element_at(F.col(vec_col), j + 1).cast("double")).alias(f"s{j}")
                    for j in range(dim)
                ],
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = {r["cluster"]: [r[f"s{j}"] / r["n"] for j in range(dim)] for r in sums}
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ) — the compressed-domain ANN used by
# billion-vector indexes (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011; the FAISS IVFPQ architecture).  Targets are
# encoded once into m sub-codes (here m=8 over a 64-dim vector, ksub codes
# per subspace); probes score candidates through an asymmetric-distance
# (ADC) lookup table — the probe stays exact, only the target is quantized.
# Candidates come from the SAME coarse IVF cells as ivf_topk, so the join
# is a small-int equi-join, never all-pairs.  Every arithmetic step (the
# codebook, the encode argmin, the LUT fold order) is deterministic and
# mirrored in the DuckDB twin.
# ---------------------------------------------------------------------------


def _pq_centroid(sub: int, code: int, dsub: int) -> list[float]:
    """Deterministic PQ codebook entry (subspace ``sub``, code ``code``):
    c_j = (((sub*53 + code*31 + j*29) % 17) - 8) / 8.0 — dyadic rationals,
    exactly representable, reproducible in ANSI SQL."""
    return [(((sub * 53 + code * 31 + j * 29) % 17) - 8) / 8.0 for j in range(dsub)]


def _pq_sub_dot(vec: Column, sub: int, code: int, dsub: int) -> Column:
    """dot(vec[sub-slice], codebook[sub][code]) — JVM fold, left-assoc,
    same evaluation order as the SQL twin's list_reduce."""
    cent = _pq_centroid(sub, code, dsub)
    return F.aggregate(
        F.zip_with(
            F.slice(vec, sub * dsub + 1, dsub),
            F.array(*[F.lit(c) for c in cent]),
            lambda x, c: x.cast("double") * c,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(df: DataFrame, vec_col: str, dim: int = 64, m: int = 8, ksub: int = 8) -> DataFrame:
    """Attach ``code0..code{m-1}``: per subspace, the argmin-||x_s - c||²
    codebook entry (ties → lowest code: array_position returns the FIRST
    index of the min).  ||x_s||² is constant across codes so the argmin
    objective is c2 - 2·dot (c2 = ||c||², a Python-computed exact dyadic
    literal).

    The scores live in ONE array expression per subspace and the argmin is
    array_position(scores, array_min(scores)): projection collapse inlines
    the score array twice.  The previous least()+CASE-chain formulation
    inlined each of the ksub fold expressions ~(ksub+1)× — at m=8/ksub=8
    that was a ~1.8 MB formatted plan whose optimization could OOM a
    default-1g driver JVM; this shape is ~9× smaller with bit-identical
    arithmetic (same folds, same tie rule) for the non-null vectors the
    embedding-table contract guarantees (a null vector now codes NULL
    instead of the old fold's arbitrary ksub-1)."""
    dsub = dim // m
    for s in range(m):
        scores = F.array(
            *[
                F.lit(float(sum(v * v for v in _pq_centroid(s, c, dsub))))
                - F.lit(2.0) * _pq_sub_dot(F.col(vec_col), s, c, dsub)
                for c in range(ksub)
            ]
        )
        nm = f"__pq_scores{s}"
        df = (
            df.withColumn(nm, scores)
            .withColumn(
                f"code{s}",
                (F.array_position(F.col(nm), F.array_min(F.col(nm))) - 1).cast("int"),
            )
            .drop(nm)
        )
    return df


def pq_topk(
    probes: DataFrame,
    targets: DataFrame,
    dim: int = 64,
    m: int = 8,
    ksub: int = 8,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    probe_id: str = "probe_id",
    target_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k by asymmetric-distance (ADC) dot product.

    Targets: coarse IVF cell (nearest of ``n_cells`` centroids) + ``m``
    PQ codes — the 100 TB posture is that this m-byte code IS the stored
    index (8 bytes vs 256 for float32×64).  Probes: ``nprobe`` coarse
    cells + a 64-entry LUT array lut[s*ksub+c] = dot(p_s, codebook[s][c])
    computed ONCE per probe.  The cell equi-join yields candidates; the
    ADC score folds m element_at lookups left-associatively (the SQL twin
    mirrors the same chain).  Rank by round(adc, 6) desc, id asc."""
    dsub = dim // m
    t = with_ivf_cells(
        targets.select(F.col(target_id), F.col(vec_col).alias("t_vec")),
        "t_vec", dim, n_cells, nprobe=1,
    ).withColumn("cell", F.element_at("cells", 1)).drop("cells")
    t = pq_encode(t, "t_vec", dim, m, ksub).drop("t_vec")

    p = with_ivf_cells(
        probes.select(F.col(probe_id), F.col(vec_col).alias("p_vec")),
        "p_vec", dim, n_cells, nprobe=nprobe,
    )
    lut_names = []
    for s in range(m):
        for c in range(ksub):
            nm = f"__lut_{s}_{c}"
            p = p.withColumn(nm, _pq_sub_dot(F.col("p_vec"), s, c, dsub))
            lut_names.append(nm)
    p = (
        p.withColumn("lut", F.array(*[F.col(n) for n in lut_names]))
        .drop(*lut_names, "p_vec")
        .withColumn("cell", F.explode("cells"))
        .drop("cells")
    )

    j = p.join(t, "cell").filter(F.col(probe_id) != F.col(target_id)).dropDuplicates(
        [probe_id, target_id]
    )
    adc = None
    for s in range(m):
        term = F.element_at("lut", F.lit(s * ksub + 1) + F.col(f"code{s}"))
        adc = term if adc is None else adc + term
    j = j.withColumn("adc_dot", F.round(adc, 6))
    w = Window.partitionBy(probe_id).orderBy(F.desc("adc_dot"), F.asc(target_id))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, target_id, "adc_dot", "rank")
    )
