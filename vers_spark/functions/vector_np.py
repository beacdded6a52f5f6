"""Arrow-batched numpy twins of the vector kernel (the throughput path).

Same math as :mod:`vers_spark.functions.vector` but computed with numpy/BLAS
inside Pandas UDFs — the Spark analogue of the reference's hand-written SIMD
kernels (`base.rs:158-293`): vectorization via Arrow batches + BLAS instead of
f32x64 lanes. The BLAS kernels (``pairwise_distances``, the UDFs) can differ
from the expression kernels in the last ulp (BLAS uses pairwise/blocked
summation, the expressions fold left) — tests compare them with tolerance.
``fold_distances`` is the exception: it folds left like the expressions and is
bit-equal to them, so oracle-checked paths may compute inside Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stack(s: pd.Series) -> np.ndarray:
    """Series of float lists → (n, d) float64 matrix."""
    return np.array(s.tolist(), dtype=np.float64)


@F.pandas_udf(T.DoubleType())
def dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    va, vb = _stack(a), _stack(b)
    return pd.Series(np.einsum("ij,ij->i", va, vb))


@F.pandas_udf(T.DoubleType())
def sq_euclidean_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    d = _stack(a) - _stack(b)
    return pd.Series(np.einsum("ij,ij->i", d, d))


@F.pandas_udf(T.DoubleType())
def magnitude_udf(a: pd.Series) -> pd.Series:
    va = _stack(a)
    return pd.Series(np.sqrt(np.einsum("ij,ij->i", va, va)))


@F.pandas_udf(T.DoubleType())
def cosine_distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    va, vb = _stack(a), _stack(b)
    num = np.einsum("ij,ij->i", va, vb)
    den = np.sqrt(np.einsum("ij,ij->i", va, va)) * np.sqrt(np.einsum("ij,ij->i", vb, vb))
    return pd.Series(1.0 - num / den)


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def normalize_udf(a: pd.Series) -> pd.Series:
    va = _stack(a)
    mag = np.sqrt(np.einsum("ij,ij->i", va, va))
    # degenerate guard mirrors base.rs:99-105
    safe = np.where(mag < 1e-6, 1.0, mag)
    out = va / safe[:, None]
    out[mag < 1e-6] = va[mag < 1e-6]
    return pd.Series(list(out))


@F.pandas_udf(T.StringType())
def bitexact_key_udf(a: pd.Series) -> pd.Series:
    """True bit-exact identity (HashKey analogue, base.rs:113-117): hex of the
    packed little-endian f32 bytes — distinguishes -0.0 / 0.0 and NaN payloads."""
    import hashlib

    return pd.Series(
        [hashlib.sha1(np.asarray(v, dtype=np.float32).tobytes()).hexdigest() for v in a]
    )


def _fold(products: np.ndarray) -> np.ndarray:
    """Row-wise left fold ``((0.0 + p₀) + p₁) + …`` in f64 — the
    ``F.aggregate(…, 0.0, acc + x)`` of :mod:`vector`. ``np.cumsum`` adds in
    index order (no pairwise summation), so its last prefix IS the fold; the
    explicit ``0.0 +`` on the first column reproduces the initial accumulator,
    which turns a leading ``-0.0`` into ``0.0`` exactly as the fold does. It
    is applied in place: callers pass freshly computed product arrays."""
    if products.shape[-1] == 0:
        return np.zeros(products.shape[:-1], dtype=np.float64)
    products[..., 0] += 0.0
    return np.cumsum(products, axis=-1)[..., -1]


def fold_distances(q: np.ndarray, C: np.ndarray, metric: str) -> np.ndarray:
    """Distances from ``q`` to every row of ``C``, BIT-equal to
    ``vector.DISTANCE_FNS[metric](q, c)`` — the numpy twin of the
    declarative left-fold kernels, for use inside Arrow batches.

    ``q`` is one vector ``(d,)`` (broadcast over the rows) or ``(n, d)``
    aligned with ``C`` ``(n, d)``; returns ``(n,)`` float64. Inputs are
    widened to f64 first, as the expressions cast each element. Every step is
    the same IEEE operation in the same order as the JVM's: per-element
    products, the left fold, ``sqrt``, one division. A cosine with a zero
    norm raises ``ZeroDivisionError``, as the expression raises
    ``DIVIDE_BY_ZERO`` under the session's ANSI mode."""
    q = np.asarray(q, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    if metric == "sq_euclidean":
        diff = q - C
        return _fold(diff * diff)
    if metric == "dot":
        return -_fold(q * C)
    if metric == "cosine":
        qq = np.broadcast_to(q, C.shape)
        den = np.sqrt(_fold(qq * qq)) * np.sqrt(_fold(C * C))
        if np.any(den == 0.0):
            raise ZeroDivisionError("cosine distance of a zero-norm vector")
        return 1.0 - _fold(qq * C) / den
    raise ValueError(f"unknown metric {metric!r}")


def pairwise_distances(queries: np.ndarray, corpus: np.ndarray, metric: str) -> np.ndarray:
    """(Q, d) × (N, d) → (Q, N) float64 distance matrix via BLAS matmul."""
    if metric == "sq_euclidean":
        qq = np.einsum("ij,ij->i", queries, queries)[:, None]
        cc = np.einsum("ij,ij->i", corpus, corpus)[None, :]
        d = qq + cc - 2.0 * (queries @ corpus.T)
        return np.maximum(d, 0.0)
    if metric == "cosine":
        qn = queries / np.linalg.norm(queries, axis=1, keepdims=True).clip(min=1e-12)
        cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True).clip(min=1e-12)
        return 1.0 - qn @ cn.T
    if metric == "dot":
        return -(queries @ corpus.T)
    raise ValueError(f"unknown metric {metric!r}")
