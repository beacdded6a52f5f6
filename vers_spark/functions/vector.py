"""Vector kernel as JVM-side column expressions (SURVEY.md §2.A).

Re-expresses the reference's scalar vector ops (`vers/src/indexes/base.rs:62-293`
— add/subtract/scale/average, dot, magnitude, normalize, squared Euclidean,
cosine) as Catalyst higher-order functions over ``array<float>`` columns, so
they run inside whole-stage codegen with no Python boundary.

Numeric contract: all reductions fold LEFT-TO-RIGHT in float64 with a 0.0
initial accumulator. That makes every result bit-deterministic and lets the
DuckDB oracle (`list_reduce`/`list_transform`, same fold order) match exactly.
The reference computes in f32 (`base.rs:15`); we deliberately upgrade to f64 —
documented divergence, better accuracy, same ordering semantics.

The SIMD variants (`base.rs:158-293`) need no counterpart: vectorization comes
from codegen here and from numpy/BLAS in :mod:`vers_spark.functions.vector_np`
on the throughput paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Guard threshold below which normalize() is the identity (base.rs:99-105).
NORMALIZE_EPSILON = 1e-6


def _f64(x: Column) -> Column:
    return x.cast("double")


def vec_add(a: Column, b: Column) -> Column:
    """Element-wise a + b (base.rs:62-72)."""
    return F.zip_with(a, b, lambda x, y: _f64(x) + _f64(y))


def vec_sub(a: Column, b: Column) -> Column:
    """Element-wise a - b. (The reference's ``subtract_from`` computes b - a
    with reversed naming, base.rs:85-89 — a trap we don't reproduce.)"""
    return F.zip_with(a, b, lambda x, y: _f64(x) - _f64(y))


def vec_scale(a: Column, s: Column | float) -> Column:
    """Element-wise a * s; ``divide_by_scalar`` (base.rs:74-83) is scale(1/s)."""
    s = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(a, lambda x: _f64(x) * _f64(s))


def vec_avg(a: Column, b: Column) -> Column:
    """Element-wise midpoint (a+b)/2 (base.rs:107-111)."""
    return F.zip_with(a, b, lambda x, y: (_f64(x) + _f64(y)) / F.lit(2.0))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ, left-fold in f64 (base.rs:91-93)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _f64(x) * _f64(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def magnitude(a: Column) -> Column:
    """‖a‖₂ (base.rs:95-97)."""
    return F.sqrt(dot(a, a))


def normalize(a: Column) -> Column:
    """a/‖a‖, identity when ‖a‖ < 1e-6 (degenerate guard, base.rs:99-105).

    Emits array<double>. ‖a‖ is computed once per row and paired with
    every element through ``array_repeat``: a lambda body that named
    ``mag`` would re-fold the whole vector for each element, O(d²) per
    vector.
    """
    mag = magnitude(a)
    return F.when(mag < F.lit(NORMALIZE_EPSILON), F.transform(a, _f64)).otherwise(
        F.zip_with(a, F.array_repeat(mag, F.size(a)), lambda x, m: _f64(x) / m)
    )


def sq_euclidean(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)², left-fold in f64 (base.rs:119-126)."""
    d = F.zip_with(a, b, lambda x, y: (_f64(x) - _f64(y)) * (_f64(x) - _f64(y)))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def cosine_similarity(a: Column, b: Column, assume_normalized: bool = False) -> Column:
    """cos(a,b). The reference's un-normalized branch (base.rs:128-156) mixes
    similarity/distance semantics; we expose similarity and distance cleanly."""
    if assume_normalized:
        return dot(a, b)
    return dot(a, b) / (magnitude(a) * magnitude(b))


def cosine_distance(a: Column, b: Column, assume_normalized: bool = False) -> Column:
    """1 − cos(a,b) ∈ [0,2], smaller = closer — the form every reference call
    site actually uses (hnsw.rs:146,258,273)."""
    return F.lit(1.0) - cosine_similarity(a, b, assume_normalized)


# The reference's HashKey (bit-exact identity via f32::to_bits, base.rs:113-117)
# has no Spark SQL builtin (no float->raw-bits expression). Vector dedup keys
# therefore use the array VALUE itself (Spark arrays are groupable; 0.0 == -0.0,
# NaN normalized — divergence documented in SURVEY §1.2). When true
# bit-exactness matters, vector_np.bitexact_key_udf hashes the packed bytes.
def value_key(a: Column) -> Column:
    """Grouping key for dedup by vector value (array semantics: 0.0 == -0.0)."""
    return a


# ---- int8 scalar quantization (compression path for 100 TB ANN) ------------
# Symmetric per-vector quantization: scale = max|x|/127, q = round(x/scale).
# 4x memory/IO reduction for the corpus side of KNN; search dequantizes on the
# fly (asymmetric distance: full-precision query vs int8 corpus). Rounding is
# HALF-AWAY-FROM-ZERO in both Spark (HALF_UP on magnitude) and DuckDB, so the
# quantized vectors are engine-identical and SQL-oracle-checkable.

QUANT_EPSILON = 1e-30  # all-zero vector guard: scale 1.0, quantizes to zeros


def quantize_scale(a: Column) -> Column:
    """Per-vector symmetric int8 scale: max(|x|)/127 (1.0 for ~zero vectors)."""
    m = F.aggregate(a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(_f64(x))))
    return F.when(m < F.lit(QUANT_EPSILON), F.lit(1.0)).otherwise(m / F.lit(127.0))


def quantize_int8(a: Column, scale: Column) -> Column:
    """q = round(x / scale) ∈ [-127, 127] (scale from :func:`quantize_scale`)."""
    return F.transform(a, lambda x: F.round(_f64(x) / scale).cast("int"))


def dequantize(q: Column, scale: Column) -> Column:
    """Reconstruction q * scale (lossy inverse of :func:`quantize_int8`)."""
    return F.transform(q, lambda x: _f64(x) * scale)


# ---- 1-bit (sign) binary quantization (coarse filter for 100 TB ANN) -------
# Each element contributes one bit (x > 0); bits pack MSB-first into 32-bit
# words via the fixed left-fold acc*2 + bit, so a dim-D vector becomes
# ceil(D/32) BIGINT words — 32x less data movement than f32 on the scan side.
# Hamming distance over the words (bit_count of XOR) is a monotone proxy for
# angular distance; exact re-rank of a small shortlist restores precision.
# Pure integer arithmetic end-to-end → engine-identical, SQL-oracle-checkable.

BINARY_WORD_BITS = 32


def binary_sign_words(a: Column) -> Column:
    """Pack sign bits of ``a`` into ``array<long>`` 32-bit words (MSB-first).

    Word ``w`` covers elements ``[w*32, w*32+31]``; a short tail folds into the
    low bits of the last word (equivalent to zero-padding the vector).
    """
    last_word = F.floor((_f64(F.size(a)) - 1) / F.lit(float(BINARY_WORD_BITS))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), last_word),
        lambda w: F.aggregate(
            F.slice(a, w * BINARY_WORD_BITS + 1, BINARY_WORD_BITS),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(_f64(x) > 0.0, F.lit(1)).otherwise(F.lit(0)),
        ),
    )


def hamming_words(wa: Column, wb: Column) -> Column:
    """Σ popcount(waᵢ XOR wbᵢ) over packed sign words — the binary distance."""
    return F.aggregate(
        F.zip_with(wa, wb, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _hamming_words_fixed_unchecked(wa: Column, wb: Column, n_words: int) -> Column:
    """The raw statically-unrolled bit_count(xor) sum — NO width guard.
    Callers must validate array widths themselves, ONCE per input row
    (see pipeline_queries.assert_band_width), never per candidate pair:
    an unguarded unroll silently under-counts longer arrays and NULLs
    shorter ones."""
    out: Column = F.lit(0).cast("long")
    for i in range(n_words):
        out = out + F.bit_count(wa[i].bitwiseXOR(wb[i])).cast("long")
    return out


def hamming_words_fixed(wa: Column, wb: Column, n_words: int) -> Column:
    """hamming_words for a STATICALLY KNOWN word count: the flat
    bit_count(xor) sum stays inside whole-stage codegen where the
    higher-order fold is interpreted per row — measured ~5× faster on a
    60M-pair scan, bit-equal by integer associativity (property-tested in
    tests/test_vector.py).

    Width-guarded (ADVICE r10): a row whose array length differs from
    ``n_words`` raises instead of silently miscounting — an unguarded
    unroll under-counts LONGER arrays (extra words never XOR'd), which
    would ADMIT pairs above max_hamming, and NULLs shorter ones (pair
    silently dropped by any ``<=`` filter). Verify-heavy joins that
    evaluate the kernel on ~n²/2^bits CANDIDATE pairs should validate
    widths once per fingerprint row instead and use the unchecked sum
    (phash_neardup_pairs does — the guard there would run two size probes
    and a branch 124M times at the 1M corpus)."""
    return F.when(
        (F.size(wa) == n_words) & (F.size(wb) == n_words),
        _hamming_words_fixed_unchecked(wa, wb, n_words),
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"hamming_words_fixed: expected {n_words}-word arrays, got %s/%s",
                F.size(wa).cast("string"),
                F.size(wb).cast("string"),
            )
        ).cast("long")
    )


DISTANCE_FNS = {
    "sq_euclidean": sq_euclidean,
    "cosine": cosine_distance,
    "dot": lambda a, b: -dot(a, b),  # max inner product as a "distance"
}
