"""Text-analysis column functions for the training-data pipeline layer.

Everything here is a JVM-side Column expression (split/filter/aggregate
higher-order functions) — deliberately **no Python UDFs**, so the same logic
runs in whole-stage codegen at 100 TB and has an exact ANSI-SQL twin for the
DuckDB oracle:

- tokenization + token counting (whitespace model);
- document quality scoring (length / punctuation / stopword ratios);
- n-gram-free language ID via per-language stopword voting;
- polynomial rolling-hash document fingerprinting;
- per-token polynomial hashes feeding MinHash/SimHash in ``operators.dedup``.

The polynomial hash is engine-portable: ``h(s) = fold(chars, acc*31 + ord(c))
mod (2^31-1)`` — identical results from Spark ``aggregate`` and DuckDB
``list_reduce``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 2_147_483_647  # 2^31 - 1

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": STOPWORDS_EN,
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr": ("le", "la", "et", "les", "des", "une", "est", "pas", "pour", "que"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un", "por", "con"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empty-string-safe (empty text → empty array)."""
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(t)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens(text)
    return F.size(F.filter(toks, lambda x: F.lower(x).isin(*stopwords)))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ]."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    clean = F.length(F.regexp_replace(t, r"[a-zA-Z0-9 ]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(clean.cast("double") / n.cast("double"))


def quality_score(text: Column | str) -> Column:
    """Composite quality in [0,1]: rewards mid-length docs with prose-like
    stopword density and low punctuation noise (the usual pretraining-filter
    shape; cf. Gopher/C4 heuristic rules — public literature)."""
    t = F.col(text) if isinstance(text, str) else text
    ntok = token_count(t).cast("double")
    stop_r = F.when(ntok == 0, F.lit(0.0)).otherwise(stopword_count(t) / ntok)
    len_score = F.least(ntok / F.lit(100.0), F.lit(1.0))
    punct_pen = punct_ratio(t)
    score = 0.4 * len_score + 0.4 * F.least(stop_r * 4.0, F.lit(1.0)) + 0.2 * (1.0 - punct_pen)
    return F.round(score, 6)


def lang_votes(text: Column | str, lang: str) -> Column:
    return stopword_count(text, LANG_STOPWORDS[lang])


def detect_lang(text: Column | str) -> Column:
    """argmax of per-language stopword votes; ties broken by language code
    order (deterministic); zero votes → 'und'."""
    t = F.col(text) if isinstance(text, str) else text
    votes = {lang: lang_votes(t, lang) for lang in sorted(LANG_STOPWORDS)}
    best = F.greatest(*votes.values())
    expr = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        expr = F.when((best > 0) & (votes[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Portable polynomial hashes
# ---------------------------------------------------------------------------


def string_poly_hash(s: Column, mult: int = 31) -> Column:
    """fold(chars, acc*mult + ascii(c)) mod (2^31-1), engine-portable.

    DuckDB twin: ``list_reduce(list_prepend(0, list_transform(split(s,''),
    c -> ord(c))), (a, c) -> (a * mult + c) % 2147483647)``.
    """
    chars = F.split(s, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * mult + F.ascii(c)) % HASH_MOD,
    )


def doc_fingerprint(text: Column | str) -> Column:
    """Rolling-hash fingerprint of the whole document (dedup pre-key)."""
    t = F.col(text) if isinstance(text, str) else text
    return string_poly_hash(t)


def token_hashes(text: Column | str) -> Column:
    """array<bigint> of per-token polynomial hashes (MinHash/SimHash input)."""
    return F.transform(tokens(text), lambda tok: string_poly_hash(tok))


def minhash_signature(text: Column | str, k: int = 8) -> Column:
    """k-permutation MinHash over token hashes: min((a_i*h + b_i) mod p).

    Coefficients are small deterministic literals so the DuckDB oracle can
    reproduce them exactly. Empty docs → array of p (the hash modulus).

    Perf note (optimization guide §2.3 "don't compute things twice"): this
    single-expression form embeds a fresh copy of the per-character token-hash
    fold in EVERY one of the k signature slots — Catalyst does not
    common-subexpression-eliminate lambda-bearing higher-order functions, so
    the fold runs k times per row.  Hot paths should project
    :func:`token_hashes` into its own column first (a projection barrier that
    CollapseProject will not inline, because the column is non-cheap and
    multiply referenced) and build the signature from it with
    :func:`minhash_signature_from_hashes` — identical values, 1 fold instead
    of k.
    """
    return minhash_signature_from_hashes(token_hashes(text), k)


def minhash_signature_from_hashes(hs: Column, k: int = 8) -> Column:
    """:func:`minhash_signature` over a precomputed token-hash array column
    (same coefficients, bit-identical output)."""

    def perm(a: int, b: int):
        return lambda h: (a * h + b) % HASH_MOD

    sigs = []
    for i in range(k):
        a, b = 2 * i + 1, 7 * i + 3  # odd multipliers, deterministic
        sigs.append(
            F.coalesce(
                F.array_min(F.transform(hs, perm(a, b))),
                F.lit(HASH_MOD).cast("bigint"),
            )
        )
    return F.array(*sigs)


def simhash16(text: Column | str) -> Column:
    """16-bit SimHash from token hashes: bit b set iff sum over tokens of
    (((h>>b)&1)*2-1) > 0.  Kept to 16 bits so the oracle SQL stays readable.

    NOTE (r6, guide §2.3): this single-expression form inlines the per-char
    token-hash fold into all 16 bit aggregates (Catalyst does not CSE lambda
    HOFs) — 16× the fold per row.  Hot paths should project
    :func:`token_hashes` once and use :func:`simhash16_from_hashes`."""
    return simhash16_from_hashes(token_hashes(text))


def simhash16_from_hashes(hs: Column) -> Column:
    """:func:`simhash16` over a precomputed token-hash array column
    (bit-identical output, fold evaluated once by the caller's projection)."""

    def voter(b: int):
        return lambda acc, h: acc + (F.shiftright(h, b) % 2) * 2 - 1

    bits = []
    for b in range(16):
        vote = F.aggregate(hs, F.lit(0).cast("bigint"), voter(b))
        bits.append(F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = F.lit(0)
    for bcol in bits:
        out = out + bcol
    return out.cast("bigint")


# independent per-block hash multipliers for the 64-bit simhash
SIMHASH64_MULTS = (31, 37, 41, 43)


def gram_codes(grams: Column) -> Column:
    """Exact int64 encoding of ≤3-char grams: code = ((c1+1)·2^21 + (c2+1))
    ·2^21 + (c3+1), missing chars → 0.  Codepoints are < 0x110000 < 2^21−1,
    so the value is < 2^63 (fits signed int64) and the map is a bijection —
    distinct grams ↔ distinct codes for ANY unicode input, so set
    intersection/union SIZES over the codes equal those over the strings.

    Purpose (r6, guide §2.3): jaccard pair pipelines carry both gram arrays
    through the pair exchanges; 8-byte longs cut those bytes ~4× vs ~20-byte
    string elements and make per-pair intersects long-equality instead of
    string hashing."""

    def enc(g: Column, i: int) -> Column:
        return (
            F.when(F.length(g) >= i, F.ascii(F.substring(g, i, 1)) + 1)
            .otherwise(F.lit(0))
            .cast("bigint")
        )

    two21 = F.lit(2_097_152).cast("bigint")
    return F.transform(
        grams, lambda g: (enc(g, 1) * two21 + enc(g, 2)) * two21 + enc(g, 3)
    )


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct character n-gram array (shingles) — JVM-side via sequence+substr."""
    t = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(n))))


def token_shingle_hashes(text: Column | str, n: int = 4) -> Column:
    """Distinct polynomial hashes of the n-token shingles (array<bigint>);
    docs shorter than ``n`` tokens yield an empty array.  The manufactured
    equi-key for decontamination / overlap joins — shingle TEXT never
    travels through a join.

    DuckDB twin: hash ``array_to_string(list_slice(toks, i, i+n-1), ' ')``
    over ``i in range(1, len-n+1)`` and ``list_distinct`` the result.
    """
    toks = tokens(text)
    cnt = F.size(toks) - (n - 1)
    return F.when(cnt < 1, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: string_poly_hash(F.concat_ws(" ", F.slice(toks, i, n))),
            )
        )
    )


def bpe_token_estimate(text: Column | str) -> Column:
    """BPE-ish token count: greedy regex tiling — letter runs count in
    <=4-char pieces (a run of length L yields ceil(L/4) matches), each digit
    and each non-space symbol is its own piece.  Approximates subword-BPE
    token counts without a vocabulary, entirely JVM-side (regexp_count)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"))


def hashed_linear_logit(text: Column | str, buckets: int = 256, seed: int = 1) -> Column:
    """fastText-style linear quality-classifier INFERENCE (the model-based
    quality filter of CCNet / GPT-3 / LLaMA data pipelines): mean over token
    occurrences of a hashed-bucket weight, w[h(tok) % buckets].

    The engine ships the scoring path — training happens offline; a real
    weight vector drops in as literals.  The weight table here is a
    deterministic pseudo-random fill reproducible in ANSI SQL:
    ``w_b = (((b * 9871 + seed * 7919) % 401) - 200) / 200`` in [-1, 1].
    Empty docs score 0 (probability 0.5).  Pure Column fold — whole-stage
    codegen, no shuffle, no Python.
    """
    s = hashed_linear_wsum(text, buckets, seed)
    # size(token_hashes(t)) == size(tokens(t)) — transform preserves length;
    # counting tokens directly skips a full per-char hash fold (guide §2.3)
    n = F.size(tokens(text))
    return F.when(
        n > 0, s.cast("double") / (n.cast("double") * F.lit(200.0))
    ).otherwise(F.lit(0.0))


def hashed_linear_wsum(text: Column | str, buckets: int = 256, seed: int = 1) -> Column:
    """Integer weight-sum backing :func:`hashed_linear_logit`: sum over token
    occurrences of ``((h % buckets) * 9871 + seed*7919) % 401 - 200``.  Kept
    in bigint so the logit is one exactly-rounded IEEE division of integers —
    bitwise reproducible across engines (no float fold, no rounding ties)."""
    hs = token_hashes(text)
    return F.aggregate(
        hs,
        F.lit(0).cast("bigint"),
        lambda acc, h: acc + ((((h % buckets) * 9871 + seed * 7919) % 401) - 200),
    )


def hashed_linear_prob(text: Column | str, buckets: int = 256, seed: int = 1) -> Column:
    """Logistic squash of :func:`hashed_linear_logit` — the keep-probability
    the pipeline thresholds on."""
    z = hashed_linear_logit(text, buckets, seed)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
