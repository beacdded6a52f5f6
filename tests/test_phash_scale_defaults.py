"""Pins the r10 scale defaults of the fingerprint near-dup family
(VERDICT r9 #1): distinct-first banded join, max_bucket / max_group caps ON
by default, auto band-width selection, and the probe-mode orientation fix
(ADVICE r9). Referenced by the phash_neardup_pairs docstring.

Reference anchor: vers lsh.rs:132-161 (dedup-before-build) — the same lesson
applied to the fingerprint modality: exact-duplicate mega-clusters must
collapse BEFORE any self-join or the join is quadratic in the cluster size.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from vers_spark.operators.media_codecs import (
    WIDE_FP_MIN_COUNT,
    auto_audio_windows,
    auto_dhash_grid,
)
from vers_spark.operators.pipeline_queries import (
    PHASH_MAX_BUCKET,
    PHASH_MAX_GROUP,
    phash_neardup_pairs,
)


def _fp_df(spark, rows):
    """rows: list of (media_id, bands)."""
    return spark.createDataFrame(rows, "media_id long, bands array<int>")


def _brute_pairs(rows, max_hamming):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ida, ba), (idb, bb) = rows[i], rows[j]
            ham = sum(bin(x ^ y).count("1") for x, y in zip(ba, bb))
            if ham <= max_hamming:
                a, b = min(ida, idb), max(ida, idb)
                out.add((a, b, ham))
    return out


def test_degenerate_mega_cluster_is_star_not_clique(spark):
    """10^4+ IDENTICAL fingerprints (the 100 TB blank-frame/logo case) at
    the DEFAULT caps: completes promptly and emits the k-1 star to the
    representative, never the k^2/2 clique (~72M pairs here)."""
    k = 12_000
    assert k > PHASH_MAX_GROUP
    fps = spark.range(k).select(
        (F.col("id") + 5).alias("media_id"),
        F.array(*[F.lit(7 * b + 1) for b in range(8)]).cast("array<int>").alias(
            "bands"
        ),
    )
    t0 = time.perf_counter()
    got = phash_neardup_pairs(fps).collect()
    wall = time.perf_counter() - t0
    assert len(got) == k - 1  # star: every non-rep member -> rep
    rep = 5  # min media_id
    assert all(r.media_a == rep and r.hamming == 0 for r in got)
    assert {r.media_b for r in got} == set(range(6, k + 5))
    assert wall < 120  # the clique would be ~7e7 rows; the star is instant


def test_below_caps_output_is_exact_all_pairs(spark):
    """With every group and bucket below the default caps, the distinct-first
    restructure is invisible: output == brute-force all-pairs (id-canonical,
    exact Hamming), including intra-duplicate-group pairs at hamming 0 and
    cross pairs expanded to ALL member combinations."""
    rows = [
        # duplicate group of 3 (reps collapse; clique expected below caps)
        (10, [1, 2, 3, 4, 5, 6, 7, 8]),
        (11, [1, 2, 3, 4, 5, 6, 7, 8]),
        (12, [1, 2, 3, 4, 5, 6, 7, 8]),
        # near-dup of the group (1 band differs by one bit -> hamming 1)
        (20, [1, 2, 3, 4, 5, 6, 7, 9]),
        # duplicate group of 2, far from everything
        (30, [100, 200, 300, 400, 500, 600, 700, 800]),
        (31, [100, 200, 300, 400, 500, 600, 700, 800]),
        # singleton sharing no band with anyone
        (40, [11, 12, 13, 14, 15, 16, 17, 18]),
    ]
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup_pairs(_fp_df(spark, rows), max_hamming=7).collect()
    }
    assert got == _brute_pairs(rows, 7)
    # sanity: the near-dup crosses into EVERY member of the duplicate group
    assert {(10, 20, 1), (11, 20, 1), (12, 20, 1)} <= got


def test_max_bucket_caps_distinct_fingerprints_not_members(spark):
    """The skew guard counts DISTINCT fingerprints per band bucket: a
    low-signal band value shared by > max_bucket distinct fingerprints is
    dropped, but an exact-duplicate mega-share of one band survives because
    duplicates collapsed before the count (the r9 verdict's exact gap)."""
    zero = [0, 0, 0, 0, 0, 0, 0, 0]
    rows = []
    # 6 DISTINCT fingerprints all sharing band 0 == 0 (degenerate band) but
    # differing everywhere else (no pair within hamming 7)
    for i in range(6):
        rows.append((100 + i, [0] + [50 * (i + 1) + b for b in range(7)]))
    # 5 exact COPIES of the zero fingerprint: 1 distinct entry per bucket
    for i in range(5):
        rows.append((200 + i, list(zero)))
    df = _fp_df(spark, rows)

    # cap 3 < 6 distinct sharers of (band0, key 0) -> that bucket is dropped
    # entirely; the zero-group pairs survive via distinct-first collapse
    got = {
        (r.media_a, r.media_b)
        for r in phash_neardup_pairs(df, max_hamming=7, max_bucket=3).collect()
    }
    zero_clique = {
        (200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)
    }
    assert zero_clique <= got
    # the 6 distinct 100-series rows only met in the dropped bucket
    assert not any(a < 200 and b < 200 for a, b in got)


def test_max_group_star_is_component_equivalent(spark):
    """A capped duplicate group keeps its members connected (star to rep)
    and keeps its cross-group near-dup edges at representative level."""
    big = [(i, [1, 2, 3, 4, 5, 6, 7, 8]) for i in range(50, 60)]
    near = [(90, [1, 2, 3, 4, 5, 6, 7, 9])]  # hamming 1 from the group
    df = _fp_df(spark, big + near)
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup_pairs(df, max_hamming=7, max_group=4).collect()
    }
    star = {(50, m, 0) for m in range(51, 60)}
    assert star <= got
    # cross edge collapses to the representative only
    assert (50, 90, 1) in got
    assert not any(b == 90 and a != 50 for a, b, _ in got)
    # no intra-group clique edges beyond the star
    intra = {(a, b) for a, b, _ in got if a >= 50 and b < 90}
    assert intra == {(50, m) for m in range(51, 60)}


def test_probe_mode_finds_pairs_regardless_of_id_order(spark):
    """ADVICE r9: a probe (new-arrival) row whose media_id is SMALLER than
    its store match must still pair — both orientations are joined before
    least/greatest canonicalization."""
    store = _fp_df(
        spark,
        [
            (1000, [1, 2, 3, 4, 5, 6, 7, 8]),
            (5, [9, 9, 9, 9, 9, 9, 9, 9]),
        ],
    )
    # probe id 7 < store id 1000 (out-of-order ingest) and probe id 2000 >
    # store id 5 (the ordinary direction)
    probe = _fp_df(
        spark,
        [
            (7, [1, 2, 3, 4, 5, 6, 7, 8]),
            (2000, [9, 9, 9, 9, 9, 9, 9, 9]),
        ],
    )
    allfp = store.unionByName(probe)
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup_pairs(allfp, max_hamming=7, probe=probe).collect()
    }
    assert (7, 1000, 0) in got  # probe-id-smaller orientation (the fix)
    assert (5, 2000, 0) in got  # ordinary orientation
    # store-store pairs are never re-verified in probe mode
    assert all(a in (7, 5) or b in (7, 2000) for a, b, _ in got)


def test_n_hint_bypass_equals_staged_path(spark):
    """r11 small-corpus bypass: with n_hint ≤ min(caps) the direct banded
    join must produce EXACTLY the staged (collapse + expand) output —
    including intra-duplicate-group hamming-0 pairs — and its plan must
    carry no Window (the collapse stage is gone)."""
    rows = [
        (10, [1, 2, 3, 4, 5, 6, 7, 8]),
        (11, [1, 2, 3, 4, 5, 6, 7, 8]),
        (12, [1, 2, 3, 4, 5, 6, 7, 8]),
        (20, [1, 2, 3, 4, 5, 6, 7, 9]),
        (30, [100, 200, 300, 400, 500, 600, 700, 800]),
        (31, [100, 200, 300, 400, 500, 600, 700, 800]),
        (40, [11, 12, 13, 14, 15, 16, 17, 18]),
    ]
    df = _fp_df(spark, rows)
    fast = phash_neardup_pairs(df, max_hamming=7, n_hint=len(rows))
    slow = phash_neardup_pairs(df, max_hamming=7)
    key = lambda r: (r.media_a, r.media_b, r.hamming)  # noqa: E731
    assert {key(r) for r in fast.collect()} == {key(r) for r in slow.collect()}
    assert {key(r) for r in fast.collect()} == _brute_pairs(rows, 7)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # collapse stage bypassed
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "Window" in slow_plan  # staged path still collapses


def test_n_hint_above_caps_engages_staged_guarantee(spark):
    """n_hint ABOVE a cap must NOT bypass: the mega-cluster star guarantee
    engages exactly as if no hint were given."""
    big = [(i, [1, 2, 3, 4, 5, 6, 7, 8]) for i in range(50, 60)]
    df = _fp_df(spark, big)
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in phash_neardup_pairs(
            df, max_hamming=7, max_group=4, n_hint=len(big)
        ).collect()
    }
    assert got == {(50, m, 0) for m in range(51, 60)}  # star, not clique


def test_auto_width_selection_thresholds():
    """Band width auto-selects from the corpus count (the lsh.py
    _auto_pp_len discipline): 64-bit narrow below WIDE_FP_MIN_COUNT,
    256-bit wide at/above — buckets stay ~n/2^16 at 1M."""
    assert auto_dhash_grid(0) == (8, 9)
    assert auto_dhash_grid(WIDE_FP_MIN_COUNT - 1) == (8, 9)
    assert auto_dhash_grid(WIDE_FP_MIN_COUNT) == (16, 17)
    assert auto_dhash_grid(1_000_000) == (16, 17)
    assert auto_audio_windows(WIDE_FP_MIN_COUNT - 1) == (65, 8)
    assert auto_audio_windows(WIDE_FP_MIN_COUNT) == (257, 16)


def test_defaults_are_on_and_oracle_safe():
    """The shipped defaults are non-None (caps ON at every call site that
    doesn't override) and strictly larger than any oracle corpus (~600
    fingerprints at sf0.01), so SQL twins stay exact by construction."""
    import inspect

    sig = inspect.signature(phash_neardup_pairs)
    assert sig.parameters["max_bucket"].default == PHASH_MAX_BUCKET
    assert sig.parameters["max_group"].default == PHASH_MAX_GROUP
    assert PHASH_MAX_BUCKET is not None and PHASH_MAX_BUCKET >= 1024
    assert PHASH_MAX_GROUP is not None and PHASH_MAX_GROUP >= 1024
