"""IVFFlat: recall vs exact oracle, degenerate ≡ exact, fill rule, Lloyd
properties, persistence round-trip (SURVEY §5 strategy)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.indexes.ivfflat import IVFFlatIndex
from vers_spark.operators.knn import _ranked, exact_knn
from vers_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def index(spark, emb):
    return IVFFlatIndex.build(emb, num_clusters=16, max_iterations=10, seed=42)


def _recall(approx_rows, exact_rows):
    approx = {}
    for r in approx_rows:
        approx.setdefault(r["query_id"], set()).add(r["neighbour_id"])
    hits = total = 0
    for r in exact_rows:
        total += 1
        hits += r["neighbour_id"] in approx.get(r["query_id"], set())
    return hits / total


def test_search_probe_all_equals_exact(spark, emb, index):
    """n_probes = num_clusters ≡ brute force (degenerate check, SURVEY §5)."""
    q = emb.filter(F.col("vec_id") < 5)
    got = index.search(q, k=10, n_probes=16).collect()
    want = exact_knn(q, emb, k=10, metric="sq_euclidean").collect()
    gk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in got}
    wk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in want}
    assert gk == wk


def _declarative_search(index, queries, k, n_probes):
    """The IVF probe plan written declaratively — window-ranked centroids by
    the fold distance, the fill rule as a cumulative size sum, candidates
    scored by the fold expression, ranked by (distance, id) — the spec the
    one-pass search must reproduce bit for bit."""
    sizes = index.assignments.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("c_size"))
    cents = index.centroids.join(sizes, "cluster_id", "left").fillna(0)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    c_rank = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.asc(V.sq_euclidean(F.col("q_vec"), F.col("centroid"))), F.asc("cluster_id")
        )
    )
    wcum = W.partitionBy("query_id").orderBy("c_rank").rowsBetween(W.unboundedPreceding, -1)
    probes = (
        q.crossJoin(cents)
        .withColumn("c_rank", c_rank)
        .withColumn("cum_before", F.coalesce(F.sum("c_size").over(wcum), F.lit(0)))
        .filter((F.col("c_rank") <= n_probes) | (F.col("cum_before") < k))
    )
    cands = (
        probes.select("query_id", "q_vec", "cluster_id")
        .join(index.assignments, "cluster_id")
        .withColumn("_dist", V.sq_euclidean(F.col("q_vec"), F.col("embedding")))
        .withColumnRenamed("id", "neighbour_id")
    )
    return _ranked(cands, "_dist", k)


def test_search_matches_declarative(spark, emb, index):
    """The one-pass search (driver-side probe rule, fold scored inside the
    Arrow kernel) must reproduce the declarative plan exactly: same probe
    set, same ids, ranks, and bit-identical distances."""
    q = emb.filter(F.col("vec_id") < 12)
    for n_probes in (1, 3, 16):
        got = index.search(q, k=10, n_probes=n_probes).collect()
        want = _declarative_search(index, q, k=10, n_probes=n_probes).collect()
        gk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in got}
        wk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in want}
        assert gk == wk, f"n_probes={n_probes}"


def test_search_fill_rule_when_k_exceeds_probes(spark, emb, index):
    """k larger than any single posting list forces the driver-side fill
    rule to expand the probe set exactly like the declarative cumsum (and
    with k > corpus/2 it must expand well past n_probes=1)."""
    q = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    k = n // 2
    got = index.search(q, k=k, n_probes=1).collect()
    want = _declarative_search(index, q, k=k, n_probes=1).collect()
    gk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in got}
    wk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in want}
    assert gk == wk
    per_q = {}
    for r in got:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert set(per_q.values()) == {k}


def test_search_tie_break_at_boundary(spark):
    """Duplicate vectors: every corpus row ties at distance 0, so the
    per-batch truncation boundary falls INSIDE the tied group. The composite
    (distance, id) key must decide who survives — a truncation on distance
    alone could keep whichever tying rows the batch happened to order first
    (corpus built descending-id to expose exactly that). Bit-exact parity
    with the declarative plan is the contract."""
    n = 300
    vec = [1.0] * 8
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(n - 1, -1, -1)], "vec_id long, embedding array<float>"
    ).coalesce(1)
    idx = IVFFlatIndex.build(corpus, num_clusters=2, max_iterations=2, seed=3)
    q = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<float>")
    got = idx.search(q, k=10, n_probes=1).collect()
    want = _declarative_search(idx, q, k=10, n_probes=1).collect()
    gk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in got}
    wk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in want}
    assert gk == wk
    # ties resolve to the SMALLEST ids, ascending
    assert [gk[(0, r)][0] for r in range(1, 11)] == list(range(10))


def test_recall_monotone_in_probes(spark, emb, index):
    q = emb.filter(F.col("vec_id") < 20)
    want = exact_knn(q, emb, k=10, metric="sq_euclidean").collect()
    r4 = _recall(index.search(q, k=10, n_probes=4).collect(), want)
    r8 = _recall(index.search(q, k=10, n_probes=8).collect(), want)
    assert r4 >= 0.5
    assert r8 >= r4


def test_fill_rule_returns_k(spark, emb, index):
    """Even with n_probes=1 and a tiny nearest cluster, every query gets k
    results (underflow expansion, ivfflat.rs:166-195)."""
    q = emb.filter(F.col("vec_id") < 10)
    got = index.search(q, k=50, n_probes=1).collect()
    per_q = {}
    for r in got:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert set(per_q.values()) == {50}


def test_range_search_exact_and_pruning_engages(spark):
    """Radius search on a strongly clustered corpus: (a) the IVF-pruned
    result set equals brute force exactly (ids AND distances); (b) the
    triangle-inequality bound actually prunes — the probe count computed
    from the index's own centroids/radii is well below queries × clusters
    (on clustered data the bound must exclude far clusters)."""
    import numpy as np

    from vers_spark.functions import vector as V

    # 8 well-separated centers, small within-cluster jitter (hash-derived,
    # deterministic) — the regime where cluster pruning pays
    dims, n = 16, 2000
    d = F.sequence(F.lit(0), F.lit(dims - 1))

    def elem(dim):
        center = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("c"), F.col("id") % 8, dim)), F.lit(100))
            / 5.0
        )
        jitter = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("j"), F.col("id"), dim)), F.lit(100))
            / 500.0
        )
        return (center + jitter).cast("float")

    full = spark.range(0, n, 1, 8).select(
        F.col("id").alias("vec_id"), F.transform(d, elem).alias("embedding")
    )
    corpus = full.filter(F.col("vec_id") % 101 != 0)
    queries = full.filter(F.col("vec_id") % 101 == 0)
    idx = IVFFlatIndex.build(corpus, num_clusters=8, max_iterations=10, seed=5)
    r2 = 2.0
    got = {
        (r["query_id"], r["neighbour_id"], r["distance"])
        for r in idx.range_search(queries, r2).collect()
    }
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    brute = {
        (r["query_id"], r["neighbour_id"], r["distance"])
        for r in q.crossJoin(corpus)
        .withColumn("distance", V.sq_euclidean(F.col("qv"), F.col("embedding")))
        .filter(F.col("distance") <= r2)
        .select("query_id", F.col("vec_id").alias("neighbour_id"), "distance")
        .collect()
    }
    assert got == brute and got  # exact, and non-trivial
    # pruning engaged: recompute the probe predicate driver-side
    cents = {r["cluster_id"]: np.array(r["centroid"]) for r in idx.centroids.collect()}
    radii = {r["cluster_id"]: r["r2_max"] for r in idx.params["_range_radii"].collect()}
    qv = {r["query_id"]: np.array(r["qv"]) for r in q.collect()}
    probes = sum(
        float(np.sqrt(((v - cents[c]) ** 2).sum()))
        <= float(np.sqrt(r2) + np.sqrt(radii[c]))
        for v in qv.values()
        for c in cents
    )
    assert probes < 0.5 * len(qv) * len(cents), (probes, len(qv), len(cents))


def test_multirestart_keeps_lowest_cost(spark, emb):
    i1 = IVFFlatIndex.build(emb, num_clusters=8, max_iterations=5, seed=1)
    i3 = IVFFlatIndex.build(emb, num_clusters=8, max_iterations=5, seed=1, num_attempts=3)
    assert i3.params["cost"] <= i1.params["cost"]  # argmin over restarts incl. seed=1
    assert i1.cluster_stats().count() <= 8
    total = i1.cluster_stats().agg(F.sum("n_vectors")).collect()[0][0]
    assert total == emb.count()


def test_unknown_backend_raises(spark, emb):
    with pytest.raises(ValueError, match="unknown backend"):
        IVFFlatIndex.build(emb, num_clusters=8, backend="lloyd")


def test_save_load_roundtrip(spark, emb, index, tmp_path):
    """save → load → identical search results (utils.rs:140-148 property)."""
    q = emb.filter(F.col("vec_id") < 3)
    before = index.search(q, k=5, n_probes=2).collect()
    path = str(tmp_path / "ivf")
    index.save(path)
    loaded = IVFFlatIndex.load(spark, path)
    # _-prefixed keys (derived caches, _source provenance tag) are
    # instance-local and intentionally not part of the persisted contract
    def public(p):
        return {k: v for k, v in p.items() if not k.startswith("_")}

    assert public(loaded.params) == public(index.params)
    after = loaded.search(q, k=5, n_probes=2).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_add_honors_ids(spark, emb, index):
    new = spark.createDataFrame(
        [(999999, [0.1] * index.params["dim"])], "vec_id long, embedding array<float>"
    )
    idx2 = index.add(new)
    assert idx2.assignments.filter(F.col("id") == 999999).count() == 1
    got = idx2.search(new, k=1, n_probes=16).collect()
    assert got[0]["neighbour_id"] == 999999 and got[0]["distance"] == 0.0


def test_ivfpq_recall_monotone_in_probes(spark, sf_dir):
    """IVF x PQ composition: recall vs the exact oracle grows with n_probes
    and the all-probes + rerank configuration recovers >= 0.8 (quantization
    shortlist is the only loss source left)."""
    from pyspark.sql import functions as F

    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.indexes.pq import PQCodec, ivfpq_search
    from vers_spark.operators.knn import exact_knn
    from vers_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    ivf = IVFFlatIndex.build(corpus, num_clusters=8, seed=1)
    codec = PQCodec.train(corpus, m=16, k_codebook=64, max_iter=15)
    codes = codec.encode(corpus).cache()
    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in exact_knn(queries, corpus, k=10).collect()
    }
    recalls = []
    for n_probes in (2, 4, 8):
        got = {
            (r["query_id"], r["neighbour_id"])
            for r in ivfpq_search(
                ivf, codec, codes, queries, k=10, n_probes=n_probes, oversample=5,
                corpus=corpus,
            ).collect()
        }
        recalls.append(len(exact & got) / len(exact))
    assert recalls == sorted(recalls), recalls  # more probes never hurts
    assert recalls[-1] >= 0.8, recalls
    assert recalls[1] >= 0.5, recalls
    codes.unpersist()


def test_ivfpq_residual_beats_plain_adc(spark, tmp_path):
    """Residual codes (PQ of x − coarse centroid, the FAISS by_residual
    layout) must rank candidates better than whole-vector codes at
    IDENTICAL code size when the coarse quantizer explains real structure.
    The repo's synthetic embeddings have near-zero coarse structure
    (residual variance ≈ raw variance → both codings tie within noise), so
    this builds a strongly-clustered corpus: 8 well-separated hash-derived
    centers, small within-cluster noise. Pure-ADC recall (no rerank — the
    rerank would mask coding quality) must beat plain by a clear margin,
    and the reranked configuration must reach ≥ 0.9."""
    from pyspark.sql import functions as F

    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.indexes.pq import (
        PQCodec,
        ivfpq_search,
        ivfpq_search_residual,
        persist_codes_partitioned,
        residuals,
    )
    from vers_spark.operators.knn import exact_knn

    # three-level synthetic: 8 well-separated coarse clusters ≫ 400 family
    # offsets within them ≫ per-point jitter. A query's true neighbours are
    # its ~9 family siblings (jitter apart); ranking them needs resolution
    # at the FAMILY scale — exactly what residual codes buy: plain PQ cells
    # must span the global range (coarse + family), residual cells only the
    # within-cluster range, so the same m × k_codebook budget resolves
    # families residually but not globally.
    dims, n = 32, 4000
    d = F.sequence(F.lit(0), F.lit(dims - 1))

    def elem(dim):
        coarse = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("c"), F.col("label") % 8, dim)), F.lit(400))
            / 50.0
        )
        family = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("f"), F.col("label"), dim)), F.lit(100))
            / 125.0
        )
        jitter = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("n"), F.col("id"), dim)), F.lit(100))
            / 5000.0
        )
        return (coarse + family + jitter).cast("float")

    full = (
        spark.range(0, n, 1, 8)
        .select(F.col("id"), (F.col("id") % 400).cast("int").alias("label"))
        .select(F.col("id").alias("vec_id"), F.transform(d, elem).alias("embedding"))
    )
    corpus = full.filter(F.col("vec_id") % 97 != 0).cache()
    queries = full.filter(F.col("vec_id") % 97 == 0)
    ivf = IVFFlatIndex.build(corpus, num_clusters=8, seed=1)
    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in exact_knn(queries, corpus, k=10).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbour_id"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    m, kc = 4, 16  # coarse codes → coding quality differences show
    plain = PQCodec.train(corpus, m=m, k_codebook=kc, max_iter=15)
    plain_codes = persist_codes_partitioned(
        plain.encode(corpus), ivf._serving_assignments(), str(tmp_path / "plain")
    )
    res_df = residuals(ivf)
    res = PQCodec.train(res_df, m=m, k_codebook=kc, max_iter=15)
    res_codes = persist_codes_partitioned(
        res.encode(res_df), ivf._serving_assignments(), str(tmp_path / "res")
    )
    r_plain = recall(ivfpq_search(ivf, plain, plain_codes, queries, k=10, n_probes=8))
    r_res = recall(
        ivfpq_search_residual(ivf, res, res_codes, queries, k=10, n_probes=8)
    )
    assert r_res > r_plain, (r_res, r_plain)
    r_rerank = recall(
        ivfpq_search_residual(
            ivf, res, res_codes, queries, k=10, n_probes=8, oversample=10, corpus=corpus
        )
    )
    assert r_rerank >= 0.9, r_rerank
    corpus.unpersist()


def test_ann_recall_report_floors(spark, sf_dir):
    """The consolidated recall report covers every approximate family and
    each clears its quality floor (floors are family-appropriate: graph/
    rerank families near-exact, coarse 1-bit / 4-of-16-probe families
    lower)."""
    from vers_spark.operators.index_queries import ann_recall_report

    rows = {r["family"]: r for r in ann_recall_report(spark, sf_dir).collect()}
    floors = {
        "ivfflat_p4": 0.5,
        "lsh_forest8": 0.7,
        "hnsw_shard8": 0.95,
        "pq_adc_rerank": 0.9,
        "ivfpq_p4": 0.6,
        "int8_asym": 0.95,
        "binary_rerank": 0.5,
        # synthetic dims are not MRL-information-ordered: prefix-16 shortlist
        # recall sits near the prefix fraction; the oracle match is the
        # correctness gate for this family, recall is diagnostic
        "matryoshka_rerank": 0.2,
    }
    assert set(rows) == set(floors)
    for fam, floor in floors.items():
        r = rows[fam]
        assert r["recall_at_10"] >= floor, (fam, r["recall_at_10"])
        assert r["n_hits"] <= r["n_queries"] * 10


def test_fixed_lloyd_oracles(spark, sf_dir):
    """The fixed-point Lloyd build + probing search hash-match their
    unrolled DuckDB twins (the HARD gate on the iterative §B build)."""
    from tests.oracle import assert_oracle_match
    from vers_spark.operators import index_queries as IQ

    for name in (
        "ivf_build_fixed",
        "ivf_search_fixed_p4",
        "emb_similarity_join_fixed",
        "knn_pq_fixed",
        "knn_pq_residual_fixed",
        "ivf_cluster_stats",
    ):
        assert_oracle_match(spark, sf_dir, name, IQ.QUERIES[name], IQ.ORACLE_SQL[name])


def test_fixed_lloyd_partitioning_invariance(spark, sf_dir):
    """Fixed-point sums make the build independent of data partitioning —
    the property plain float means lack."""
    from vers_spark.indexes.ivfflat import lloyd_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    c1, _ = lloyd_fixed(emb.repartition(1), k=4, iters=2)
    c32, _ = lloyd_fixed(emb.repartition(32), k=4, iters=2)
    r1 = {r["cluster_id"]: (r["centroid"], r["n_assigned"], r["cost_fp"]) for r in c1.collect()}
    r32 = {r["cluster_id"]: (r["centroid"], r["n_assigned"], r["cost_fp"]) for r in c32.collect()}
    assert r1 == r32


def test_fixed_lloyd_materialize_parity(spark, sf_dir):
    """All three materialize modes (lazy / per-iteration freeze / final
    freeze) return bit-identical centroids, counts, and costs — the freeze
    is a plan-shape change only (f64 round-trips through Python floats
    exactly). "last" is what _lloyd_fixed ships with."""
    from vers_spark.indexes.ivfflat import lloyd_fixed

    emb = load_table(spark, sf_dir, "embeddings")

    def snap(mat):
        cents, _ = lloyd_fixed(emb, k=4, iters=2, materialize=mat)
        return {
            r["cluster_id"]: (r["centroid"], r["n_assigned"], r["cost_fp"])
            for r in cents.collect()
        }

    lazy = snap(False)
    assert snap("last") == lazy
    assert snap(True) == lazy


def test_triplet_mining_oracle(spark, sf_dir):
    from tests.oracle import assert_oracle_match
    from vers_spark.operators import index_queries as IQ

    assert_oracle_match(
        spark, sf_dir, "emb_triplet_mining",
        IQ.QUERIES["emb_triplet_mining"], IQ.ORACLE_SQL["emb_triplet_mining"],
    )


def test_lloyd_fixed_multi_parity(spark, sf_dir):
    """The fused multi-slice trainer reproduces each independent
    lloyd_fixed run bit-for-bit (init ranking, argmin, fixed-point means) —
    what lets knn_pq_fixed train all four codebooks in one chain while its
    oracle unrolls four independent k-means."""
    from pyspark.sql import functions as F

    from vers_spark.indexes.ivfflat import lloyd_fixed, lloyd_fixed_multi

    emb = load_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    dsub = dims // 4
    got = {
        (r["j"], r["cluster_id"]): r["centroid"]
        for r in lloyd_fixed_multi(
            emb, k=8, iters=2, seed_base=1000, slices=[(j * dsub, dsub) for j in range(4)]
        ).collect()
    }
    for j in range(4):
        sub = emb.select("vec_id", F.slice("embedding", j * dsub + 1, dsub).alias("embedding"))
        cents, _ = lloyd_fixed(sub, k=8, iters=2, seed=1000 + j)
        want = {r["cluster_id"]: r["centroid"] for r in cents.collect()}
        for cid, c in want.items():
            assert got[(j, cid)] == c, (j, cid)


def test_cluster_outliers_contract(spark, sf_dir):
    """Per-cluster p95 outliers: every flagged row's distance recomputes
    above its cluster threshold, flag counts respect the ~5% definition
    per cluster (<= ceil(0.05 n) + interpolation slack), and no cluster
    flags its own centroid-nearest member."""
    from vers_spark.operators.index_queries import QUERIES as IQ
    from vers_spark.operators.index_queries import _lloyd_fixed

    rows = IQ["emb_cluster_outliers"](spark, sf_dir).collect()
    assert rows
    _, assigned = _lloyd_fixed(spark, sf_dir)
    per = {}
    for r in assigned.select("cluster_id", "dist").collect():
        per.setdefault(r["cluster_id"], []).append(r["dist"])
    from collections import Counter

    flags = Counter(r["cluster_id"] for r in rows)
    for r in rows:
        assert r["dist"] > r["p95"]
        assert r["n_members"] == len(per[r["cluster_id"]])
    for cid, n_flags in flags.items():
        n = len(per[cid])
        assert n_flags <= max(1, -(-n * 5 // 100) + 1), (cid, n_flags, n)
        assert min(per[cid]) <= sorted(per[cid])[0]  # nearest member unflagged


def test_range_join_blocked_bit_equals_range_search(spark, sf_dir):
    """The corpus-scale GEMM radius join (range_join_blocked) must be
    BIT-EQUAL to range_search — same pairs, same fold-exact distances —
    for a self-join over the whole table (the DBSCAN shape) and for a
    small query batch. Pruning is lossless at any cluster count, and the
    rescore re-derives every admitted distance with the declarative fold."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    idx = IVFFlatIndex.build(emb, num_clusters=8, seed=11)
    for queries in (emb, emb.filter(F.col("vec_id") < 40)):
        a = sorted(map(tuple, idx.range_search(queries, 1.42).collect()))
        b = sorted(map(tuple, idx.range_join_blocked(queries, 1.42).collect()))
        assert a == b
