"""Arrow-batched Python/numpy twin of the dedup hashing in
:mod:`vers_spark.functions.text` (the text counterpart of ``vector_np``).

MinHash and SimHash signatures depend on one document only, so they are
computed row-locally inside one ``mapInPandas`` pass: tokenize, shingle,
base-hash, then the affine minima (``np.minimum.reduceat``) or the 32 ±1 bit
votes (``np.add.reduceat``) per document. No per-shingle rows are exploded and
no ``groupBy(doc_id)`` exchange runs.

Every value is BIT-equal to the Spark expression chain it replaces
(``ws_tokens`` → ``word_shingles`` → ``array_distinct`` → ``base_hash`` →
``minhash_value`` min-aggregates, and the SimHash vote aggregate), so the
oracle-checked dedup queries may compute here:

- tokens: Spark's ``split(trim(lower(t)), '\\s+')``. ``trim`` strips only
  U+0020 and Java's ``\\s`` is the ASCII class ``[ \\t\\n\\x0B\\f\\r]``, so
  NBSP and U+2028 stay inside tokens; Python's ``str.lower`` applies the same
  Unicode full case mapping (final sigma included) as Spark's ``lower``;
- shingles: distinct n-token windows joined by one space, first-seen order;
  a document shorter than n gives the one shingle of all its tokens;
- ``md5``: the first 15 hex digits of md5 over the UTF-8 bytes (the top 60
  bits of the digest); ``xxhash64``: XXH64 with Spark's seed 42, then Java's
  ``Math.abs``;
- remainders truncate toward zero (``np.fmod``), as the JVM's ``%`` does.
"""

from __future__ import annotations

import hashlib
import re
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vers_spark.functions.text import HASH_PRIME, MINHASH_COEFFS

SIMHASH_BITS = 32

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s


def tokens(text: str) -> list[str]:
    """``ws_tokens``: lower-case, strip spaces only, split on ASCII
    whitespace runs (a leading tab gives a leading empty token, as in
    Spark)."""
    return _WS.split(text.lower().strip(" "))


def shingles(toks: list[str], n: int) -> list[str]:
    """``array_distinct(word_shingles(toks, n))``."""
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
XXHASH_SEED = 42  # Spark's xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = XXHASH_SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer — Spark's ``xxhash64``
    of a string is this over its UTF-8 bytes with seed 42."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(acc, lane) for acc, lane in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for acc in v:
            h = ((h ^ _round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def base_hashes(strings: list[str], backend: str = "md5") -> np.ndarray:
    """int64 ``base_hash`` of every string (see :func:`text.base_hash`)."""
    if backend == "md5":
        digests = b"".join(hashlib.md5(s.encode()).digest()[:8] for s in strings)
        return (np.frombuffer(digests, dtype=">u8") >> 4).astype(np.int64)
    if backend == "xxhash64":
        h = np.fromiter((xxhash64(s.encode()) for s in strings), np.int64, len(strings))
        return np.abs(h)  # Math.abs: Long.MIN_VALUE stays negative
    raise ValueError(f"unknown hash backend: {backend!r} (want 'md5' or 'xxhash64')")


_BACKENDS = ("md5", "xxhash64")


def _starts(counts: list[int]) -> np.ndarray:
    """Segment starts for ``reduceat`` (every segment is non-empty)."""
    starts = np.zeros(len(counts), dtype=np.intp)
    np.cumsum(counts[:-1], out=starts[1:])
    return starts


def _minhash_batches(
    batches: Iterator[pd.DataFrame], n_shingle: int, num_hashes: int, backend: str, keep: bool
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        sets = [shingles(tokens(t), n_shingle) for t in pdf["text"]]
        out = {"doc_id": pdf["doc_id"]}
        if keep:
            out["shingles"] = sets
        if num_hashes:
            hm = np.fmod(base_hashes([s for sh in sets for s in sh], backend), HASH_PRIME)
            starts = _starts([len(sh) for sh in sets])
            for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes]):
                out[f"h{i}"] = np.minimum.reduceat(np.fmod(a * hm + b, HASH_PRIME), starts)
        yield pd.DataFrame(out)


def _simhash_batches(batches: Iterator[pd.DataFrame], backend: str) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        toks = [tokens(t) for t in pdf["text"]]
        counts = np.array([len(ts) for ts in toks], dtype=np.int64)
        h = base_hashes([t for ts in toks for t in ts], backend)
        starts = _starts(counts.tolist())
        sim = np.zeros(len(toks), dtype=np.int64)
        for b in range(SIMHASH_BITS):
            # the ±1 votes of bit b sum to 2·ones − count
            ones = np.add.reduceat((h >> b) & 1, starts)
            sim |= (2 * ones > counts).astype(np.int64) << b
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sim})


def _docs(
    docs: DataFrame, id_col: str, text_col: str, backend: str
) -> tuple[DataFrame, T.StructField]:
    """(doc_id, text) rows with non-NULL text — a NULL document has no
    tokens, so it yields no row, as the explode in the expression chain did.
    The backend is checked here, on the driver, not first in a task."""
    if backend not in _BACKENDS:
        raise ValueError(f"unknown hash backend: {backend!r} (want 'md5' or 'xxhash64')")
    rows = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return rows, T.StructField("doc_id", docs.schema[id_col].dataType)


def minhash_rows(
    docs: DataFrame,
    n_shingle: int = 3,
    num_hashes: int = 16,
    hash_backend: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_shingles: bool = True,
) -> DataFrame:
    """One row per non-NULL document: ``(doc_id, [shingles], h0..h{k-1})``
    — the distinct shingle array (when ``keep_shingles``) and the
    ``num_hashes`` MinHash minima over it. ``num_hashes=0`` is the plain
    shingler."""
    rows, id_field = _docs(docs, id_col, text_col, hash_backend)
    fields = [id_field]
    if keep_shingles:
        fields.append(T.StructField("shingles", T.ArrayType(T.StringType())))
    fields += [T.StructField(f"h{i}", T.LongType()) for i in range(num_hashes)]
    return rows.mapInPandas(
        lambda it: _minhash_batches(it, n_shingle, num_hashes, hash_backend, keep_shingles),
        T.StructType(fields),
    )


def simhash_rows(
    docs: DataFrame, hash_backend: str = "md5", id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, simhash)`` per non-NULL document: bit b is set iff the
    term-frequency-weighted ±1 votes of bit b of the token hashes sum to a
    positive number."""
    rows, id_field = _docs(docs, id_col, text_col, hash_backend)
    return rows.mapInPandas(
        lambda it: _simhash_batches(it, hash_backend),
        T.StructType([id_field, T.StructField("simhash", T.LongType())]),
    )
