"""Vector kernels vs numpy, exact KNN (both strategies agree), dedup, and
DuckDB oracle matches for the SQL-expressible vector queries."""

from __future__ import annotations

import math

import numpy as np
import pytest

from tests.oracle import assert_oracle_match
from vers_spark.functions import vector as V
from vers_spark.operators import knn as K
from vers_spark.operators.vector_queries import ORACLE_SQL, QUERIES


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_match(spark, sf_dir, name):
    assert_oracle_match(spark, sf_dir, name, QUERIES[name], ORACLE_SQL[name])


def test_kernels_vs_numpy(spark):
    rng = np.random.default_rng(42)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)], [float(x) for x in rng.normal(size=16)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    got = df.select(
        "id",
        V.dot("a", "b").alias("dot"),
        V.sq_euclidean("a", "b").alias("sqe"),
        V.magnitude("a").alias("mag"),
        V.cosine_distance("a", "b").alias("cosd"),
    ).collect()
    for r in got:
        i = r["id"]
        a = np.array(rows[i][1], dtype=np.float32).astype(np.float64)
        b = np.array(rows[i][2], dtype=np.float32).astype(np.float64)
        assert math.isclose(r["dot"], float(a @ b), rel_tol=1e-12)
        assert math.isclose(r["sqe"], float(((a - b) ** 2).sum()), rel_tol=1e-12)
        assert math.isclose(r["mag"], float(np.linalg.norm(a)), rel_tol=1e-12)
        assert math.isclose(
            r["cosd"], 1.0 - float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), rel_tol=1e-9
        )


def test_binary_sign_words_pack_and_hamming(spark):
    """Sign-bit packing: MSB-first within each 32-bit word; short tail folds
    into low bits; hamming_words == popcount of XOR (numpy twin)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 2.0, 0.5]), (2, [0.0, -3.0, -0.5, -1e-9])],
        "id long, a array<float>",
    )
    rows = {r["id"]: r for r in df.select("id", V.binary_sign_words("a").alias("w")).collect()}
    assert rows[1]["w"] == [0b1011]
    assert rows[2]["w"] == [0]  # x > 0 strictly: zeros and negatives are 0-bits

    wide = [(1, [1.0] * 40), (2, [-1.0] * 32 + [1.0] * 8)]
    dfw = spark.createDataFrame(wide, "id long, a array<float>")
    got = {
        r["id"]: r
        for r in dfw.select(
            "id",
            V.binary_sign_words("a").alias("w"),
        ).collect()
    }
    assert got[1]["w"] == [(1 << 32) - 1, (1 << 8) - 1]
    assert got[2]["w"] == [0, (1 << 8) - 1]

    pairs = dfw.alias("x").crossJoin(dfw.alias("y")).select(
        F.col("x.id").alias("xi"),
        F.col("y.id").alias("yi"),
        V.hamming_words(
            V.binary_sign_words("x.a"), V.binary_sign_words("y.a")
        ).alias("h"),
    )
    h = {(r["xi"], r["yi"]): r["h"] for r in pairs.collect()}
    assert h[(1, 1)] == 0 and h[(2, 2)] == 0
    assert h[(1, 2)] == 32 and h[(2, 1)] == 32


def test_hamming_words_fixed_equals_fold(spark):
    """The statically unrolled hamming (hamming_words_fixed, the banded
    join's codegen fast path) is bit-equal to the higher-order fold on
    random word arrays of every width it's shipped with (8/16)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    for n_words in (8, 16):
        rows = [
            (
                i,
                [rng.randrange(1 << 16) for _ in range(n_words)],
                [rng.randrange(1 << 16) for _ in range(n_words)],
            )
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "id long, a array<int>, b array<int>")
        got = df.select(
            V.hamming_words(F.col("a"), F.col("b")).alias("fold"),
            V.hamming_words_fixed(F.col("a"), F.col("b"), n_words).alias("flat"),
        ).collect()
        assert all(r["fold"] == r["flat"] for r in got)


def test_hamming_words_fixed_raises_on_width_mismatch(spark):
    """ADVICE r10: an unguarded unroll would silently UNDER-count arrays
    longer than n_words (admitting pairs above max_hamming) and NULL-drop
    shorter ones. The guard fails loudly on either mismatch and stays
    bit-equal on matching widths."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4], [5, 6, 7, 8])], "id long, a array<int>, b array<int>"
    )
    ok = df.select(V.hamming_words_fixed(F.col("a"), F.col("b"), 4).alias("h"))
    expect = sum(bin(x ^ y).count("1") for x, y in zip([1, 2, 3, 4], [5, 6, 7, 8]))
    assert ok.collect()[0]["h"] == expect
    for bad_n in (3, 5):
        with pytest.raises(Exception, match="hamming_words_fixed"):
            df.select(
                V.hamming_words_fixed(F.col("a"), F.col("b"), bad_n).alias("h")
            ).collect()


def test_normalize_degenerate_guard(spark):
    """normalize() is the identity below the 1e-6 magnitude guard (base.rs:99-105)."""
    df = spark.createDataFrame(
        [(1, [1e-9, -1e-9, 0.0]), (2, [3.0, 4.0, 0.0])], "id long, a array<float>"
    )
    rows = {r["id"]: r for r in df.select("id", V.normalize("a").alias("n")).collect()}
    assert rows[1]["n"][0] == pytest.approx(1e-9)
    assert rows[2]["n"][:2] == pytest.approx([0.6, 0.8])


def _normalize_per_element_norm(a):
    """The previous ``V.normalize``: ‖a‖ named inside the ``transform``
    lambda, so the norm is folded again for every element (O(d²))."""
    from pyspark.sql import functions as F

    mag = V.magnitude(a)
    return F.when(mag < F.lit(V.NORMALIZE_EPSILON), F.transform(a, V._f64)).otherwise(
        F.transform(a, lambda x: V._f64(x) / mag)
    )


@pytest.mark.parametrize("elem", ["float", "double"])
def test_normalize_bit_equal_to_per_element_norm(spark, sf_dir, elem):
    """The O(d) normalize returns the old expression's values bit for bit,
    on the corpus and on zero, sub-ε, NaN, -0.0 and near-float-max
    vectors, NULL arrays and NULL elements."""
    import struct

    from pyspark.sql import functions as F

    from vers_spark.sources.tables import load_table

    edge = spark.createDataFrame(
        [
            (-1, [0.0, 0.0, 0.0]),
            (-2, [1e-9, -1e-9, 0.0]),
            (-3, [float("nan"), 1.0, 2.0]),
            (-4, [-0.0, 3.0, -4.0]),
            (-5, [3.4e38, -3.4e38, 1.0]),
            (-6, [5e-7, 0.0, 5e-7]),
            (-7, None),
            (-8, [1.0, None, 2.0]),
            (-9, []),
        ],
        f"vec_id long, embedding array<{elem}>",
    )
    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast(f"array<{elem}>").alias("embedding")
    )
    df = corpus.unionByName(edge)
    got = df.select("vec_id", V.normalize(F.col("embedding")).alias("n"))
    want = df.select("vec_id", _normalize_per_element_norm(F.col("embedding")).alias("n"))

    def bits(rows):
        return {
            r[0]: None
            if r[1] is None
            else [None if x is None else struct.pack("<d", x) for x in r[1]]
            for r in rows
        }

    g, w = bits(got.collect()), bits(want.collect())
    assert len(g) == len(w) == df.count()
    assert g == w


def test_normalize_lambda_holds_no_aggregate(spark):
    """Structural: no lambda inside ``V.normalize`` folds the vector, so
    the norm is evaluated once per row, not once per element."""
    from pyspark.sql import functions as F

    def lambdas_with_fold(expr, inside=False):
        name = expr.getClass().getSimpleName()
        if inside and name == "ArrayAggregate":
            return 1
        inside = inside or name == "LambdaFunction"
        ch = expr.children()
        return sum(lambdas_with_fold(ch.apply(i), inside) for i in range(ch.size()))

    def count(col):
        df = spark.createDataFrame([([1.0, 2.0],)], "a array<double>").select(col.alias("n"))
        plan = df._jdf.queryExecution().analyzed()
        exprs = plan.expressions()
        return sum(lambdas_with_fold(exprs.apply(i)) for i in range(exprs.size()))

    assert count(_normalize_per_element_norm(F.col("a"))) > 0  # the check sees it
    assert count(V.normalize(F.col("a"))) == 0


def test_blocked_knn_matches_expr_knn(spark, sf_dir):
    from vers_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    c = emb.filter(F.col("vec_id") >= 8)
    for metric in ("sq_euclidean", "cosine"):
        a = K.exact_knn(q, c, k=10, metric=metric).collect()
        b = K.exact_knn_blocked(q, c, k=10, metric=metric).collect()
        ka = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in a}
        kb = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in b}
        assert ka.keys() == kb.keys()
        for key in ka:
            assert ka[key][0] == kb[key][0], (metric, key)
            assert ka[key][1] == pytest.approx(kb[key][1], rel=1e-9)


def test_knn_distances_monotone_and_recomputable(spark, sf_dir):
    from vers_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    res = K.exact_knn(emb.filter(F.col("vec_id") < 3), emb, k=5, metric="sq_euclidean").collect()
    by_q: dict[int, list] = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["distance"])
    for dists in by_q.values():
        assert dists == sorted(dists)
        assert dists[0] == 0.0  # query is in the corpus → self-match at rank 1


def test_int8_quantization_roundtrip_bound(spark, sf_dir):
    """Symmetric int8 quantization error is bounded by scale/2 per element
    (round-to-nearest), and recall@10 of asymmetric quantized KNN vs the
    exact oracle stays ≥ 0.95 on the test corpus."""
    from pyspark.sql import functions as F

    from vers_spark.functions import vector as V
    from vers_spark.operators.vector_queries import (
        knn_exact_euclidean,
        knn_int8_euclidean,
    )
    from vers_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    scale = V.quantize_scale(F.col("embedding"))
    q = emb.select("embedding", scale.alias("scale")).select(
        "embedding",
        "scale",
        V.quantize_int8(F.col("embedding"), F.col("scale")).alias("q"),
    )
    viol = q.select(
        F.zip_with(
            "embedding",
            V.dequantize(F.col("q"), F.col("scale")),
            lambda x, y: F.abs(x.cast("double") - y),
        ).alias("err"),
        "scale",
    ).filter(
        F.exists("err", lambda e: e > F.col("scale") / 2 + 1e-12)
    )
    assert viol.count() == 0

    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in knn_exact_euclidean(spark, sf_dir).collect()
    }
    got = {
        (r["query_id"], r["neighbour_id"])
        for r in knn_int8_euclidean(spark, sf_dir).collect()
    }
    assert len(exact & got) / len(exact) >= 0.95


def test_pq_recall_and_compression(spark, sf_dir):
    """PQ codes are m small ints per vector (the 16-bytes-per-vector
    contract); ADC-only recall beats chance and the rerank path recovers
    recall@10 ≥ 0.9 (1.0 measured) vs the exact oracle."""
    from pyspark.sql import functions as F

    from vers_spark.indexes.pq import PQCodec
    from vers_spark.operators.knn import exact_knn
    from vers_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    codec = PQCodec.train(corpus, m=16, k_codebook=64, max_iter=15)
    codes = codec.encode(corpus).cache()
    row = codes.first()
    assert len(row["codes"]) == 16
    assert all(0 <= c < 64 for c in row["codes"])
    assert codes.count() == corpus.count()

    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in exact_knn(queries, corpus, k=10).collect()
    }
    adc = {
        (r["query_id"], r["neighbour_id"])
        for r in codec.search(queries, codes, k=10).collect()
    }
    rerank = {
        (r["query_id"], r["neighbour_id"])
        for r in codec.search(queries, codes, corpus=corpus, k=10, oversample=5).collect()
    }
    assert len(exact & adc) / len(exact) >= 0.3  # ADC alone: coarse but sane
    assert len(exact & rerank) / len(exact) >= 0.9
    codes.unpersist()


def test_dedup_vectors_bitexact_distinguishes_signed_zero(spark):
    """HashKey semantics (base.rs:113-117) are selectable: the default mode
    merges -0.0/0.0 twins (Spark array equality), bitexact mode keeps both."""
    from vers_spark.operators.dedup import dedup_vectors

    rows = [
        (1, [0.0, 1.0]),
        (2, [-0.0, 1.0]),   # array-equal to id 1, bit-distinct
        (3, [0.5, 2.0]),
        (4, [0.5, 2.0]),    # exact duplicate of id 3 in BOTH modes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    loose = sorted(r["vec_id"] for r in dedup_vectors(df, "embedding", "vec_id").collect())
    strict = sorted(
        r["vec_id"] for r in dedup_vectors(df, "embedding", "vec_id", bitexact=True).collect()
    )
    assert loose == [1, 3]
    assert strict == [1, 2, 3]


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_fold_distances_bit_equal_to_expression_kernels(spark, dtype):
    """vector_np.fold_distances is the declarative fold computed in numpy:
    equal with ``==`` (and in the sign of zero), never approximately, for
    every metric — aligned rows and one query broadcast over the rows. The
    last row's products are all -0.0, where a fold that skipped the 0.0
    initial accumulator would return the wrong signed zero for ``dot``."""
    from pyspark.sql import functions as F

    from vers_spark.functions import vector_np as VN

    rng = np.random.default_rng(7)
    d = 24
    A = (rng.standard_normal((40, d)) * rng.choice([1e-3, 1.0, 1e3], (40, 1))).astype(dtype)
    B = rng.standard_normal((40, d)).astype(dtype)
    A[-1], B[-1] = -0.0, 1.0
    elem = "float" if dtype == np.float32 else "double"
    df = spark.createDataFrame(
        [(i, A[i].tolist(), B[i].tolist()) for i in range(len(A))],
        f"id int, a array<{elem}>, b array<{elem}>",
    )
    for metric, fn in V.DISTANCE_FNS.items():
        # the last row's a is the zero vector, which has no cosine
        n = len(A) - 1 if metric == "cosine" else len(A)
        a, b = A[:n], B[:n]
        rows = (
            df.filter(F.col("id") < n)
            .select("id", fn(F.col("a"), F.col("b")).alias("d"))
            .orderBy("id")
            .collect()
        )
        want = np.array([r["d"] for r in rows])
        got = VN.fold_distances(a, b, metric)
        assert got.tolist() == want.tolist(), metric
        assert np.signbit(got).tolist() == np.signbit(want).tolist(), metric
        one = VN.fold_distances(a[0], b, metric)  # one query against every row
        want_one = (
            spark.createDataFrame([(r.tolist(),) for r in b], f"b array<{elem}>")
            .select(fn(F.lit(a[0].tolist()).cast(f"array<{elem}>"), F.col("b")).alias("d"))
            .collect()
        )
        assert one.tolist() == [r["d"] for r in want_one], metric


def test_fold_distances_cosine_zero_vector_raises_like_the_expression(spark):
    """A zero vector has no cosine: the expression raises DIVIDE_BY_ZERO
    under the session's ANSI mode, and the numpy twin raises too instead of
    inventing a distance."""
    from pyspark.sql import functions as F

    from vers_spark.functions import vector_np as VN

    zero, other = [0.0, 0.0, 0.0], [1.0, -2.0, 0.5]
    df = spark.createDataFrame([(zero, other)], "a array<double>, b array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(V.cosine_distance(F.col("a"), F.col("b"))).collect()
    with pytest.raises(ZeroDivisionError):
        VN.fold_distances(np.array(zero), np.array([other]), "cosine")
    with pytest.raises(ZeroDivisionError):
        VN.fold_distances(np.array(other), np.array([zero]), "cosine")


def test_keep_topk_prefilter_equals_full_lexsort():
    """keep_topk's running top-cap, prefiltered by topk_candidates, keeps
    exactly the rows (and order) of one plain (distance, id) lexsort over
    every row it was fed: ties at the cap boundary, NaN, -0.0 against 0.0,
    fewer rows than the cap, an all-NaN batch, and ids repeated within and
    across batches. Distances compare bit for bit."""
    from vers_spark.functions import vector_np as VN

    nan = float("nan")
    rng = np.random.default_rng(7)
    values = np.array([0.0, -0.0, 0.5, 1.0, nan, np.inf])
    cases = [
        # a tie group straddling the cap, ids out of order
        (2, [(np.array([5, 3, 9, 1]), np.array([1.0, 1.0, 1.0, 1.0]))]),
        # NaN rows are ranked by id after every number
        (3, [(np.array([4, 2, 7, 1]), np.array([nan, 0.5, nan, nan]))]),
        # an all-NaN batch after a full one, fewer rows than the cap
        (4, [(np.array([8, 6]), np.array([0.0, -0.0])), (np.array([3, 1, 2]), np.full(3, nan))]),
        # the same id in two batches with -0.0 and 0.0
        (1, [(np.array([5, 5]), np.array([-0.0, 0.0])), (np.array([5]), np.array([0.0]))]),
    ]
    for _ in range(300):
        cap = int(rng.integers(1, 12))
        batches = []
        for _ in range(int(rng.integers(1, 5))):
            n = int(rng.integers(0, 3 * cap + 2))
            batches.append((rng.integers(0, 15, n), rng.choice(values, n)))
        cases.append((cap, batches))
    for cap, batches in cases:
        best: dict = {}
        for ids, dist in batches:
            VN.keep_topk(best, "q", ids.astype(np.int64), dist.astype(np.float64), cap)
        all_ids = np.concatenate([b[0] for b in batches]).astype(np.int64)
        all_d = np.concatenate([b[1] for b in batches]).astype(np.float64)
        sel = np.lexsort((all_ids, all_d))[:cap]
        got_ids, got_d = best["q"]
        assert got_ids.tolist() == all_ids[sel].tolist(), (cap, batches)
        assert got_d.view(np.int64).tolist() == all_d[sel].view(np.int64).tolist(), (cap, batches)
