"""Deduplication suite for the training-data pipeline layer.

The reference's dedup is geometric (`poidup.py`, `conflateBuildings.py`);
a 100 TB document engine additionally needs textual near-dup removal. All
variants below are built from the portable hash/text functions
(functions/text.py) so each has an exact ANSI-SQL oracle:

- exact dedup           — md5 content hash groupBy;
- minhash LSH           — shingle→minhash→band→bucket join;
- simhash               — 16-bit fingerprint, hamming-bucket candidates;
- n-gram jaccard        — char-3-gram set overlap within a length bucket;
- embedding near-dup    — cosine ≥ threshold via operators/similarity.py.

Scale notes: every variant is (narrow map) → (equi-join or groupBy on a
manufactured key); no cross joins. Band/bucket keys are the salt against
skew; the length-bucket guard keeps the jaccard candidate set linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..plans import skew


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeper = min
    id, dup_count alongside (map-side partial agg → one shuffle)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("dup_count"))
    )


def exact_dup_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(dup_id, keeper_id) pairs for rows that lost exact dedup."""
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    keep = exact_dedup(docs, text_col, id_col)
    return (
        hashed.join(keep, "content_hash")
        .filter(F.col(id_col) != F.col("keeper_id"))
        .select(F.col(id_col).alias("dup_id"), "keeper_id")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    hot_bucket_rows: int = 256,
    max_blocks: int = 64,
    sort_ready: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding: signature of k hashes
    split into ``bands`` bands; docs sharing any band bucket pair up.
    Returns (id_a, id_b, n_bands) with id_a < id_b.

    The band bucket is the manufactured equi-join key — the LSH analog of the
    spatial cell join.

    Perf (optimization guide §2.3/§2.5, r6):

    - the token-hash fold is projected ONCE into ``__hs`` (Catalyst does not
      CSE lambda higher-order functions, so the single-expression signature
      form re-ran the per-character fold k times per row);
    - **hot-bucket triangle decomposition** (``plans/skew.py:
      self_pairs_blocked``): a bucket with B members emits B² join rows
      from ONE task (a boilerplate-heavy corpus routinely has a
      mega-bucket — the bench corpus puts 77% of docs in one bucket), so
      buckets above ``hot_bucket_rows`` split into at most ``max_blocks``
      sub-blocks whose i ≤ j block pairs run as separate tasks; the output
      is bit-identical.  Eager: the hot-bucket pre-pass runs one Spark job
      when this function is called;
    - the banded table is persisted: it feeds the count pre-pass and both
      join sides, and recomputing the signature subtree three times was the
      next-largest cost after the join itself;
    - ``sort_ready=True`` range-partitions the pair stream by (id_a, id_b)
      *before* the final aggregation: the aggregate preserves the range
      partitioning, so a caller's ``orderBy(id_a, id_b)`` plans as an
      in-partition sort with NO extra exchange — without it the sort's range
      exchange re-executed the whole aggregate a second time for boundary
      sampling.
    """
    rows_per_band = k // bands
    sig = docs.select(
        F.col(id_col), TX.token_hashes(F.col(text_col)).alias("__hs")
    ).select(
        F.col(id_col), TX.minhash_signature_from_hashes(F.col("__hs"), k).alias("sig")
    )

    def bucket_key(b: int):
        vals = [F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
        if rows_per_band <= 2:
            # exact bigint packing (each minhash < 2^31 → product < 2^62):
            # narrow fixed-width shuffle key, zero collision risk, and
            # reproducible in ANSI SQL for the oracle
            key = vals[0].cast("bigint")
            for v in vals[1:]:
                key = key * F.lit(2147483647).cast("bigint") + v
            return key
        return F.xxhash64(*vals)  # wide bands: 64-bit hash, same key width

    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_key(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # three consumers below (count pre-pass + both join sides) — persist so
    # the signature fold runs once per doc, not three times
    banded = banded.persist()
    pairs = skew.self_pairs_blocked(banded, ["band", "bucket"], id_col, hot_bucket_rows, max_blocks)
    if sort_ready:
        pairs = pairs.repartitionByRange("id_a", "id_b")
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands"))


def simhash_buckets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """doc → 16-bit simhash + its two 8-bit half-buckets (any pair within
    hamming distance ≤ ~1 per half shares at least one half exactly —
    the classic simhash block strategy)."""
    # projection barrier: the per-char token-hash fold runs once per row, not
    # once per bit aggregate (guide §2.3; Catalyst does not CSE lambda HOFs)
    s = docs.select(
        F.col(id_col), TX.token_hashes(F.col(text_col)).alias("__hs")
    ).select(F.col(id_col), TX.simhash16_from_hashes(F.col("__hs")).alias("simhash"))
    return s.select(
        id_col,
        "simhash",
        F.pmod(F.col("simhash"), F.lit(256)).alias("lo_bucket"),
        F.floor(F.col("simhash") / 256).cast("bigint").alias("hi_bucket"),
    )


def simhash_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs whose simhash halves collide and full hamming distance
    ≤ max_hamming (bit_count is JVM-side)."""
    s = simhash_buckets(docs, text_col, id_col)
    a = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "lo_bucket", "hi_bucket")
    b = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "lo_bucket", "hi_bucket")
    lo = a.join(b, "lo_bucket").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "sh_a", "sh_b")
    hi = a.join(b, "hi_bucket").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "sh_a", "sh_b")
    cand = lo.unionByName(hi).dropDuplicates(["id_a", "id_b"])
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).drop("sh_a", "sh_b")


def simhash64_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs via 64-bit simhash with 4×16-bit band buckets: any pair
    within hamming ≤ 3 over 64 bits shares at least one band exactly (the
    classic block strategy), so candidates come from four narrow equi-joins
    on 16-bit keys — never an all-pairs scan.  This is the scale path; the
    16-bit `simhash_pairs` stays as the readable-oracle variant."""
    # two projection barriers (guide §2.3): tokens once per row, then the four
    # per-block hash families once each — the single-expression form re-ran
    # the per-char fold inside every one of the 64 bit aggregates
    toks = docs.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    hashed = toks.select(
        F.col(id_col),
        *[
            F.transform(
                F.col("__toks"), (lambda m: lambda tok: TX.string_poly_hash(tok, m))(mult)
            ).alias(f"__hs{bi}")
            for bi, mult in enumerate(TX.SIMHASH64_MULTS)
        ],
    )
    s = hashed.select(
        F.col(id_col),
        F.array(
            *[
                TX.simhash16_from_hashes(F.col(f"__hs{bi}"))
                for bi in range(len(TX.SIMHASH64_MULTS))
            ]
        ).alias("blk"),
    )
    banded = s.select(
        id_col,
        "blk",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), F.element_at("blk", i + 1).alias("bucket")) for i in range(4)])
        ).alias("bb"),
    ).select(id_col, "blk", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # hot-bucket triangle decomposition (the minhash_lsh_pairs pattern):
    # near-identical corpora put most docs in one band bucket, and the plain
    # self-join then emits the whole quadratic pair space from one task
    # (AQE sizes partitions by input bytes and cannot see quadratic output).
    # Eager: the hot-bucket pre-pass runs one Spark job when called.
    banded = banded.persist()
    cand = skew.self_pairs_blocked(
        banded, ["band", "bucket"], id_col, 256, 64, payload=["blk"]
    ).dropDuplicates(["id_a", "id_b"])
    hamming = sum(
        F.bit_count(F.element_at("blk_a", i + 1).bitwiseXOR(F.element_at("blk_b", i + 1)))
        for i in range(4)
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs_gated(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over MinHash-LSH-gated candidates.

    The plain `ngram_jaccard_pairs` blocks only on a length bucket — a
    popular length is a quadratic self-join at corpus scale.  Here the
    candidate set comes from the MinHash band join (sub-linear, key-uniform)
    and the expensive exact set intersection runs per candidate only."""
    cand = minhash_lsh_pairs(docs, text_col, id_col, k=k, bands=bands).select("id_a", "id_b")
    g = docs.select(F.col(id_col), TX.char_ngrams(F.col(text_col), n).alias("grams"))
    pairs = (
        cand.join(g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a")), "id_a")
        .join(g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b")), "id_b")
    )
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.8,
    length_bucket: int = 64,
) -> DataFrame:
    """Char n-gram Jaccard near-dups within a length bucket (docs whose
    lengths differ by more than the bucket can't reach high jaccard anyway —
    the bucket both prunes and bounds the join).

    DEMO-SCALE variant, kept as the readable oracle: a popular length bucket
    still goes quadratic at corpus scale.  The production path is
    :func:`ngram_jaccard_pairs_gated`, which gates candidate pairs through
    MinHash-LSH bands so the exact jaccard only runs on a sub-linear
    candidate set."""
    g = docs.select(
        F.col(id_col),
        TX.char_ngrams(F.col(text_col), n).alias("grams"),
        F.floor(F.length(F.col(text_col)) / length_bucket).cast("long").alias("lb"),
    )
    a = g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"), "lb")
    b = g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"), "lb")
    pairs = a.join(b, "lb").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def fingerprint_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash fingerprint dedup (cheap first-pass before LSH)."""
    return (
        docs.select(F.col(id_col), TX.doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("dup_count"))
    )


def embedding_neardup_pairs(
    docs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    Scale path: candidate pairs come from the multi-table hyperplane LSH
    bucket equi-join (never an all-pairs cross join); the exact cosine then
    gates at ``threshold``.  Near-identical embeddings agree on every
    hyperplane sign, so recall at thresholds >= ~0.9 is effectively 1 while
    candidate volume stays linear in corpus size.  Output pairs are
    canonicalized ``id_a < id_b`` and deduped across tables."""
    from . import similarity as S

    side = (
        docs.select(F.col(id_col), F.col(vec_col).alias("vec"))
        .withColumn("nrm", S.norm(F.col("vec")))
        .withColumn("bucket", F.explode(S.lsh_buckets(F.col("vec"), dim, n_planes, n_tables)))
    )
    a = side.select(
        F.col(id_col).alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a"), "bucket"
    )
    b = side.select(
        F.col(id_col).alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b"), "bucket"
    )
    j = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")).dropDuplicates(["id_a", "id_b"])
    denom = F.col("nrm_a") * F.col("nrm_b")
    cs = F.when(denom == 0, F.lit(0.0)).otherwise(S.dot(F.col("vec_a"), F.col("vec_b")) / denom)
    return (
        j.withColumn("cos_sim", F.round(cs, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def repetition_signals(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", §A1.1 repetition filters):

    - ``dup_word_frac``     — fraction of word occurrences that are repeats
      (1 - distinct/total), pure Column math;
    - ``top_bigram_frac``   — occurrence mass of the single most frequent
      word 2-gram;
    - ``dup_trigram_frac``  — occurrence mass of word 3-grams appearing
      more than once.

    Scale path: n-gram frequencies go through explode → groupBy
    (doc_id, n, gram) — NOT the per-doc quadratic
    ``transform(grams, g -> size(filter(grams, = g)))`` form, which is
    O(len²) per document and melts on 100k-token docs.  The grouping key
    (doc_id, n, gram) is near-unique so the shuffle is skew-free, and both
    aggregations are map-side partial.  Bigrams and trigrams ride ONE
    explode/shuffle via an ``n`` tag column.  Docs with < n words simply
    contribute no rows and coalesce to 0.0.
    """
    toks = TX.tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        F.when(
            F.size(toks) == 0, F.lit(0.0)
        ).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("dup_word_frac"),
        toks.alias("toks"),
    )

    def grams(n: int):
        # zip_with over shifted slices: slice lengths clamp at 0 so short
        # docs yield empty arrays instead of erroring
        t = F.col("toks")
        ln = F.greatest(F.size(t) - (n - 1), F.lit(0))
        g = F.slice(t, 1, ln)
        for off in range(1, n):
            g = F.zip_with(g, F.slice(t, 1 + off, ln), lambda a, b: F.concat(a, F.lit(" "), b))
        return g

    exploded = base.select(
        F.col(id_col),
        F.explode(
            F.flatten(
                F.array(
                    F.transform(grams(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
                    F.transform(grams(3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))),
                )
            )
        ).alias("ng"),
    ).select(id_col, F.col("ng.n").alias("n"), F.col("ng.gram").alias("gram"))

    per_gram = exploded.groupBy(id_col, "n", "gram").agg(F.count("*").alias("cnt"))
    per_doc = per_gram.groupBy(id_col, "n").agg(
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("total"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).alias("dup_mass"),
    )
    wide = per_doc.groupBy(id_col).agg(
        F.max(F.when(F.col("n") == 2, F.col("max_cnt") / F.col("total"))).alias("_top2"),
        F.max(F.when(F.col("n") == 3, F.col("dup_mass") / F.col("total"))).alias("_dup3"),
    )
    return base.drop("toks").join(wide, id_col, "left").select(
        id_col,
        "n_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round(F.coalesce(F.col("_top2"), F.lit(0.0)), 6).alias("top_bigram_frac"),
        F.round(F.coalesce(F.col("_dup3"), F.lit(0.0)), 6).alias("dup_trigram_frac"),
    )


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iters: int = 25) -> DataFrame:
    """Connected components over candidate duplicate pairs → (doc_id,
    cluster_id) with ``cluster_id`` = the smallest member, the keeper.

    This closes the dedup pipeline: LSH emits *pairs*, but keeping one doc
    per transitive group needs components (A~B, B~C must retire two docs,
    not one per pair).  Algorithm: alternating min-label propagation — each
    round every vertex takes the min label among itself and its neighbors —
    the simple member of the MapReduce-CC family (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14).  Rounds =
    component diameter; near-dup clusters are near-cliques (diameter ~2),
    so 2-3 rounds in practice.  Each round is one shuffle join on the
    vertex id plus a min-agg, both map-side-partial; ``localCheckpoint``
    cuts the iterative lineage so plans stay O(1) per round (on a real
    cluster: ``checkpoint`` to the reliable store, same call shape).
    Convergence is checked with a driver-side scalar (any label changed?),
    not a collect of data."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("v")).distinct()
        .select("v", F.col("v").alias("label"))
    )
    for _ in range(max_iters):
        msgs = edges.join(
            labels.withColumnRenamed("v", "src"), "src"
        ).select(F.col("dst").alias("v"), "label")
        new_labels = (
            labels.unionByName(msgs).groupBy("v").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=False)
        n_changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old"), "v"
            ).filter(F.col("label") != F.col("old")).limit(1).count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


def semdedup(
    docs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings and dropping, WITHIN each cluster only, every
    item whose cosine similarity to a lower-id cluster-mate exceeds
    ``threshold`` (keep-lowest-id policy — the paper keeps one exemplar
    per semantic duplicate group; lowest id is the deterministic choice).

    Clustering here is the engine's deterministic coarse quantizer
    (similarity.with_ivf_cells, the same k-means-style cell assignment the
    IVF index uses), which keeps the whole operator hash-exact against an
    ANSI-SQL twin.  Returns (id, cell, dropped, near_id, max_sim):
    ``near_id`` is the lowest-id cluster-mate above threshold for dropped
    rows (null otherwise), ``max_sim`` its similarity.

    Scale path: the quadratic term is bounded to cluster size by the cell
    equi-join — at corpus scale ``n_cells`` grows so clusters stay ~1e4
    rows (the paper uses k=50k clusters for LAION); the join key is a small
    int, hot cells salt through the same machinery as the conflation join.
    """
    from . import similarity as S

    base = (
        S.with_ivf_cells(
            docs.select(F.col(id_col), F.col(vec_col).alias("vec")),
            "vec", dim, n_cells, nprobe=1,
        )
        .withColumn("cell", F.element_at("cells", 1))
        .drop("cells")
        .withColumn("nrm", S.norm(F.col("vec")))
    )
    a = base.select(
        F.col(id_col), F.col("vec"), F.col("nrm"), "cell"
    )
    b = base.select(
        F.col(id_col).alias("prior_id"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
        "cell",
    )
    j = a.join(b, "cell").filter(F.col("prior_id") < F.col(id_col))
    denom = F.col("nrm") * F.col("nrm_b")
    cs = F.when(denom == 0, F.lit(0.0)).otherwise(S.dot(F.col("vec"), F.col("vec_b")) / denom)
    hits = (
        j.withColumn("cos_sim", F.round(cs, 6))
        .filter(F.col("cos_sim") >= threshold)
        .groupBy(id_col)
        .agg(
            F.min("prior_id").alias("near_id"),
            F.max("cos_sim").alias("max_sim"),
        )
    )
    return (
        base.select(id_col, "cell")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "cell",
            F.col("near_id").isNotNull().alias("dropped"),
            "near_id",
            "max_sim",
        )
    )
