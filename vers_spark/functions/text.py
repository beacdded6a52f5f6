"""Text-analysis kernel: tokenization, shingling, deterministic hashing,
quality features — the LLM-training-data-pipeline surface (SURVEY.md §2.E
"text analysis" north star; no counterpart in the reference, which is
vectors-only).

All pure column expressions (JVM codegen); the dedup hashing (shingles,
MinHash, SimHash) runs as their bit-equal Arrow kernel in
:mod:`vers_spark.functions.text_np`. Hashing discipline: the cross-
engine deterministic base hash is the first 15 hex chars of md5 folded to a
60-bit integer — Spark ``conv(substr(md5(x),1,15),16,10)`` and DuckDB
``list_reduce`` over hex digits produce identical values, so every
MinHash/SimHash derived quantity is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_PRIME = 2_147_483_647  # 2^31 − 1, Mersenne; all minhash arithmetic mod this
POLY_MOD = 1_000_000_007
POLY_BASE = 31

# Deterministic per-hash-function affine constants (a_i, b_i). Fixed literals
# so both engines share them; a_i < 2^16 keeps a*(h mod P) < 2^47 — no overflow.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (2971, 12721), (4801, 38873), (6397, 52609), (9241, 71993),
    (12289, 94651), (15661, 3079), (19391, 27644), (23743, 50321),
    (28591, 64901), (31397, 77689), (35617, 90847), (40093, 11779),
    (44771, 24391), (49603, 36997), (54521, 49529), (59359, 62131),
]

STOPWORDS_EN = (
    "the a an and or of to in on for is are was as by with at from it this that".split()
)

# Marker-word tables for the language-ID heuristic (argmax of marker hits;
# deterministic tie-break by language code).
LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and is of to in that it for on".split(),
    "de": "der die das und ist von zu mit den im".split(),
    "es": "el la los de que y en un por con".split(),
    "fr": "le la les de et un une dans est pour".split(),
    "zh": "的 是 在 了 我 有 和 就 不 人".split(),
}


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (lower-cased)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def bpe_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: alnum runs + single punctuation marks."""
    return F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)


def word_shingles(tokens: Column, n: int) -> Column:
    """n-token shingles; a doc shorter than n yields its whole token string."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.when(F.size(tokens) >= n, joined).otherwise(F.array(F.array_join(tokens, " ")))


def char_shingles(text: Column, n: int) -> Column:
    """Character n-grams over the lower-cased text."""
    t = F.lower(text)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1))),
        lambda i: t.substr(i, F.lit(n)),
    )


def stable_hash60(col: Column) -> Column:
    """60-bit deterministic hash: first 15 hex chars of md5, base-16 → int.
    Cross-engine identical (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def base_hash(col: Column, backend: str = "md5") -> Column:
    """Deployment-switchable deterministic base hash for the sketch/dedup
    family (HLL, MinHash, SimHash, window fingerprints).

    - ``"md5"`` (default): the cross-engine 60-bit md5 fold — every derived
      quantity stays DuckDB-oracle-checkable. This is the CERTIFICATION path.
    - ``"xxhash64"``: Spark's native 64-bit hash (one JVM intrinsic per row,
      no hex round-trip; measured ~5× faster than the md5 fold on pure
      hashing, 1.8× end-to-end on the rag embed) — the 100 TB DEPLOYMENT
      path. No DuckDB twin exists, so xxhash64 results are shape/property-
      gated against the md5 path rather than hash-gated.

    Both produce a non-negative long, so all downstream arithmetic (mod-P
    affine minhash, bucket = h mod m, rho = trailing zeros, per-bit votes)
    is backend-agnostic.
    """
    if backend == "md5":
        return stable_hash60(col)
    if backend == "xxhash64":
        # abs() folds the sign bit; the Long.MIN_VALUE edge (p = 2^-64) would
        # yield one negative hash, harmless to every downstream consumer.
        return F.abs(F.xxhash64(col))
    raise ValueError(f"unknown hash backend: {backend!r} (want 'md5' or 'xxhash64')")


def shingle_hashes(tokens: Column, n: int, backend: str = "md5") -> Column:
    """Array of per-shingle COMBINED hashes computed from PER-TOKEN base
    hashes — no shingle string is ever materialized. The r6 profile of the
    x10 HLL probe showed the real constant was building shingle STRINGS
    (slice + array_join per position: 9.8 s of an 11.6 s pass) and hashing
    them, not the md5-vs-xxhash64 choice (243 s vs 223 s end-to-end); one
    base hash per TOKEN plus integer window sums does the same distinct-
    shingle counting at ~5× less CPU (2.0 s in the same profile).

    combined[i] = Σ_j th[i+j] · 31^(n−1−j), th = base_hash(token) % 2^31−1:
    injective-up-to-collisions over token windows (space ≈ 2^41 for n=3),
    deterministic, and pure BIGINT arithmetic — so DuckDB states the exact
    same values and hash oracles survive. Docs shorter than n yield ONE
    hash: the same polynomial fold over all their tokens (consistent with
    the n-token window formula when len == n)."""
    th_expr = F.transform(tokens, lambda t: base_hash(t, backend) % F.lit(HASH_PRIME))
    weights = [POLY_BASE ** (n - 1 - j) for j in range(n)]

    # LET-BINDING via a 1-element transform: the lambda variable `th` is
    # evaluated ONCE per row. Referencing th_expr directly in every
    # element_at would re-embed (and re-execute — Catalyst does not CSE
    # lambda subtrees) the whole per-token hash pass per window term:
    # O(len²) hashes per doc, measured 364 s at the x10 probe vs ~11 s bound.
    def combine(th):
        def window_sum(i):  # i: 1-based window start (element_at is 1-based)
            total = F.element_at(th, i) * F.lit(weights[0])
            for j in range(1, n):
                total = total + F.element_at(th, i + F.lit(j)) * F.lit(weights[j])
            return total

        windows = F.transform(F.sequence(F.lit(1), F.size(th) - F.lit(n - 1)), window_sum)
        short = F.array(
            F.aggregate(th, F.lit(0).cast("long"), lambda a, x: a * F.lit(POLY_BASE) + x)
        )
        return F.when(F.size(th) >= n, windows).otherwise(short)

    return F.element_at(F.transform(F.array(th_expr), combine), 1)


def minhash_value(base_hash: Column, a: int, b: int) -> Column:
    """Affine universal hash (a·h + b) mod P over the 60-bit base hash."""
    return (F.lit(a) * (base_hash % F.lit(HASH_PRIME)) + F.lit(b)) % F.lit(HASH_PRIME)


def poly_fingerprint(text: Column) -> Column:
    """Rolling polynomial hash over the document's characters
    (acc·31 + codepoint) mod 1e9+7 — the document-fingerprint operator."""
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(POLY_BASE) + F.ascii(c)) % F.lit(POLY_MOD),
    )


def stopword_ratio(tokens: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    n_stop = F.size(F.array_intersect(tokens, sw))  # distinct-based; see note
    return n_stop.cast("double") / F.greatest(F.size(tokens), F.lit(1)).cast("double")


def count_in_set(tokens: Column, words: list[str]) -> Column:
    """Occurrences (with multiplicity) of any of ``words`` in tokens."""
    wset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wset, t)))
