"""The driver merge that finishes IVF, LSH and HNSW serving returns the rows
the window tail it replaced returned.

Each serving path fetches its kernel's partial top-k with ``toArrow()`` and
merges it in numpy. The reference tails below are the Spark plans those
paths ran before (ranking window; LSH's per-leaf cap window, (query, id)
dedup and ranking window; HNSW's cosine halving, replica dedup and ranking
window). The end-to-end tests capture the table a search fetched and run
the reference tail over it, so both merges see the same candidates.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from vers_spark.functions.frames import local_frame
from vers_spark.operators.knn import RESULT_SCHEMA, _topk_frame
from vers_spark.sources.tables import load_table

K = 10


# ------------------------------------------------------- reference tails


def _ref_ranked(cands, k):
    """(query_id, neighbour_id, _dist) → top-k per query by a window."""
    w = W.partitionBy("query_id").orderBy(F.asc("_dist"), F.asc("neighbour_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbour_id",
            F.col("_dist").alias("distance"),
            F.col("rn").alias("rank"),
        )
    )


def _ref_lsh_tail(cands, k):
    """(query_id, _leaf, neighbour_id, _dist, _cap) → per-leaf cap window,
    (query, id) dedup, ranking window."""
    wleaf = W.partitionBy("query_id", "_leaf").orderBy(F.asc("_dist"), F.asc("neighbour_id"))
    capped = (
        cands.repartition("query_id")
        .withColumn("_lr", F.row_number().over(wleaf))
        .filter(F.col("_lr") <= F.col("_cap"))
        .select("query_id", "neighbour_id", "_dist")
        .dropDuplicates(["query_id", "neighbour_id"])
    )
    return _ref_ranked(capped, k)


def _ref_hnsw_tail(cands, k, cosine, replicas):
    """(query_id, neighbour_id, distance) per shard → halved cosine
    distances, replica dedup, ranking window."""
    if cosine:
        cands = cands.withColumn("distance", F.col("distance") / 2)
    if replicas:
        cands = cands.dropDuplicates(["query_id", "neighbour_id"])
    return _ref_ranked(cands.withColumnRenamed("distance", "_dist"), k)


# ---------------------------------------------------------------- helpers


def _rows(df):
    """Result rows with distances compared bit for bit (NaN and -0.0)."""
    return sorted(
        (r["query_id"], r["rank"], r["neighbour_id"], struct.pack("<d", r["distance"]))
        for r in df.collect()
    )


@pytest.fixture
def fetched(spark, monkeypatch):
    """Every Arrow table fetched with ``DataFrame.toArrow`` while the test
    runs, in order; the last one a search fetches is its candidates."""
    cls = type(spark.range(1))
    real = cls.toArrow
    tables = []

    def spy(self):
        table = real(self)
        tables.append(table)
        return table

    monkeypatch.setattr(cls, "toArrow", spy)
    return tables


def _jobs_to_collect(spark, df, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def tied(spark, emb):
    """The first 120 corpus vectors, each stored under three ids: every
    distance ties in threes, so rank k falls inside tie groups."""
    base = emb.filter(F.col("vec_id") < 120).select("vec_id", "embedding")
    return base.unionByName(
        base.select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    ).unionByName(base.select((F.col("vec_id") + 200_000).alias("vec_id"), "embedding"))


# ------------------------------------------------------- the merge itself


def test_topk_merge_equals_window_on_adversarial_rows(spark):
    """Ties at the k boundary, NaN, -0.0 against 0.0, repeated query ids
    and repeated (query, id) rows: the numpy merge and the ranking window
    return the same rows, distances bit for bit."""
    rng = np.random.default_rng(5)
    n = 400
    qid = rng.integers(0, 6, n).astype(np.int64)
    nid = rng.integers(0, 60, n).astype(np.int64)
    dist = rng.choice(np.array([0.0, -0.0, 0.5, 1.0, 1.5, np.nan, np.inf]), n)
    for k in (1, 3, 10, 100):
        cands = local_frame(
            spark,
            "query_id long, neighbour_id long, _dist double",
            {"query_id": qid, "neighbour_id": nid, "_dist": dist},
        )
        got = _topk_frame(spark, qid, nid, dist, k)
        assert got.schema.simpleString() == spark.createDataFrame([], RESULT_SCHEMA).schema.simpleString()
        assert _rows(got) == _rows(_ref_ranked(cands, k)), k


def test_lsh_merge_equals_cap_window_dedup_and_rank(spark):
    """The LSH finish: per (query, leaf) the cap window, then one row per
    (query, id), then the top-k — with ids repeated across leaves (every
    tree holds every id) and caps that cut inside tie groups."""
    from vers_spark.indexes.lsh import _merge_leaf_candidates

    rng = np.random.default_rng(11)
    n = 600
    qid = rng.integers(0, 5, n).astype(np.int64)
    leaf = rng.integers(0, 7, n).astype(np.int32)
    nid = rng.integers(0, 40, n).astype(np.int64)
    # a duplicated id has one vector, hence one distance per query
    dist = ((nid * 7 + qid * 3) % 11).astype(np.float64) / 4
    cap = ((qid + leaf) % 4 + 1).astype(np.int32)
    cands = local_frame(
        spark,
        "query_id long, _leaf int, neighbour_id long, _dist double, _cap int",
        {"query_id": qid, "_leaf": leaf, "neighbour_id": nid, "_dist": dist, "_cap": cap},
    )
    for k in (1, 4, 50):
        got = _merge_leaf_candidates(spark, qid, leaf, nid, dist, cap, k)
        assert _rows(got) == _rows(_ref_lsh_tail(cands, k)), k


# ------------------------------------------------------------ end to end


def test_ivf_search_equals_window_tail(spark, emb, tied, fetched, tmp_path):
    """IVF in-session and file-loaded, with ties at k, with candidate_ids,
    and on an empty batch."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex

    idx = IVFFlatIndex.build(tied, num_clusters=6, seed=2)
    idx.save(str(tmp_path / "ivf"))
    loaded = IVFFlatIndex.load(spark, str(tmp_path / "ivf"))
    q = emb.filter(F.col("vec_id") < 9)
    allowed = tied.filter(F.col("vec_id") % 3 != 0).select(F.col("vec_id").alias("id"))
    for index in (idx, loaded):
        for kwargs in ({"n_probes": 1}, {"n_probes": 3}, {"n_probes": 2, "candidate_ids": allowed}):
            got = index.search(q, k=K, **kwargs)
            cands = spark.createDataFrame(fetched[-1])
            assert _rows(got) == _rows(_ref_ranked(cands, K)), kwargs
            assert got.count() == 9 * K
    empty = loaded.search(q.filter(F.lit(False)), k=K)
    assert _jobs_to_collect(spark, empty, "test_merge_ivf_empty") == 0
    assert empty.collect() == []


def test_lsh_search_equals_window_tail(spark, emb, fetched, tmp_path):
    """LSH search (forced backup fill), multiprobe and allowed_ids, in
    session and file-loaded: the same ids reach a query through several
    trees."""
    from vers_spark.indexes.lsh import LSHForestIndex

    idx = LSHForestIndex.build(emb, num_trees=4, max_node_size=6, seed=3)
    idx.save(str(tmp_path / "lsh"))
    loaded = LSHForestIndex.load(spark, str(tmp_path / "lsh"))
    q = emb.filter(F.col("vec_id") < 9)
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    calls = (
        lambda i: i.search(q, k=K),
        lambda i: i.search(q, k=K, probe_mode="margin"),
        lambda i: i.search(q, k=K, allowed_ids=allowed),
        lambda i: i.search_multiprobe(q, k=K, n_probes=3),
    )
    for index in (idx, loaded):
        assert index._planes_pack() is not None
        for n, call in enumerate(calls):
            got = call(index)
            cands = fetched[-1]
            # ids repeat across leaves, or the dedup leg would be untested
            pairs = cands.group_by(["query_id", "neighbour_id"]).aggregate([("_leaf", "count")])
            assert max(pairs["_leaf_count"].to_pylist()) > 1, n
            assert _rows(got) == _rows(_ref_lsh_tail(spark.createDataFrame(cands), K)), n
    empty = loaded.search(q.filter(F.lit(False)), k=K)
    assert _jobs_to_collect(spark, empty, "test_merge_lsh_empty") == 0
    assert empty.collect() == []


def test_lsh_leaf_spanning_tasks_is_recapped_on_the_driver(spark, emb, fetched):
    """A planned leaf whose rows sit in several kernel tasks: each task
    keeps its own top-cap, so the fetch holds more than the cap for that
    (query, leaf), and the driver's cap, dedup and ranking still return the
    window tail's rows and the rows of the unsplit store. Main leaves
    (≤ 16 rows) underfill k = 24, so the backup leaves are capped at the
    remaining budget, below k: there the driver's cut decides the rows."""
    import dataclasses

    from vers_spark.indexes.lsh import LSHForestIndex

    idx = LSHForestIndex.build(emb, num_trees=2, max_node_size=16, seed=3)
    # round-robin: every leaf's rows spread over the four scan tasks
    split = dataclasses.replace(idx, leaves=idx.leaves.repartition(4))
    q = emb.filter(F.col("vec_id") < 9)
    got = split.search(q, k=24)
    cands = fetched[-1]
    leaf_rows = cands.group_by(["query_id", "_leaf"]).aggregate([("_cap", "max"), ("_cap", "count")])
    over = [
        cap
        for n, cap in zip(leaf_rows["_cap_count"].to_pylist(), leaf_rows["_cap_max"].to_pylist())
        if n > cap
    ]
    assert over and min(over) < 24, over
    assert _rows(got) == _rows(_ref_lsh_tail(spark.createDataFrame(cands), 24))
    assert _rows(got) == _rows(idx.search(q, k=24))


@pytest.mark.parametrize("metric", ["sq_euclidean", "cosine"])
def test_hnsw_search_equals_window_tail(spark, emb, tied, fetched, tmp_path, metric):
    """HNSW with boundary replicas (the same id surfaces from two shards),
    halved cosine distances and ties at k, in session and file-loaded."""
    from vers_spark.indexes.hnsw import HNSWIndex

    idx = HNSWIndex.build(tied, num_shards=4, seed=9, metric=metric, boundary_eps=0.25)
    idx.save(str(tmp_path / "hnsw"))
    loaded = HNSWIndex.load(spark, str(tmp_path / "hnsw"))
    q = emb.filter(F.col("vec_id") < 9)
    replicas_seen = False
    for index in (idx, loaded):
        for probes in (2, 4):
            got = index.search(q, k=K, n_probe_shards=probes)
            cands = fetched[-1]
            pairs = cands.group_by(["query_id", "neighbour_id"]).aggregate([("distance", "count")])
            replicas_seen |= max(pairs["distance_count"].to_pylist()) > 1
            ref = _ref_hnsw_tail(spark.createDataFrame(cands), K, metric == "cosine", True)
            assert _rows(got) == _rows(ref), probes
    assert replicas_seen
    empty = loaded.search(q.filter(F.lit(False)), k=K)
    assert _jobs_to_collect(spark, empty, "test_merge_hnsw_empty") == 0


def test_exact_blocked_keeps_its_window(spark, emb, tied):
    """exact_knn_blocked keeps its exchange and ranking window; its empty
    batch is a local frame."""
    from vers_spark.operators.knn import exact_knn, exact_knn_blocked

    q = emb.filter(F.col("vec_id") < 9)
    assert _rows(exact_knn_blocked(q, tied, k=K)) == _rows(exact_knn(q, tied, k=K))
    empty = exact_knn_blocked(q.filter(F.lit(False)), tied, k=K)
    assert _jobs_to_collect(spark, empty, "test_merge_exact_empty") == 0
    assert empty.schema.simpleString() == spark.createDataFrame([], RESULT_SCHEMA).schema.simpleString()


def test_whole_corpus_kernels_rank_nan_last(spark):
    """A NaN distance ranks last, with distance NaN, on the window finish
    of exact_knn_blocked and PQCodec.search, as in exact_knn. The pandas →
    Arrow conversion of a kernel's output masks NaN as null, which a window
    ranks first. PQ runs with a codebook that holds the corpus vectors
    themselves, so its ADC distances are the exact ones."""
    from vers_spark.indexes.pq import PQCodec
    from vers_spark.operators.knn import exact_knn, exact_knn_blocked

    vecs = [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [2.0, 0.0], [0.0, 2.0], [float("nan"), 0.0]]
    ids = [1, 2, 3, 4, 5, 6, 9]
    corpus = local_frame(spark, "vec_id long, embedding array<double>", list(zip(ids, vecs)))
    q = local_frame(
        spark, "vec_id long, embedding array<double>", [(100, [0.1, 0.2]), (101, [1.5, 0.5])]
    )
    codes = local_frame(spark, "vec_id long, codes array<long>", [(i, [n]) for n, i in enumerate(ids)])
    codec = PQCodec(codebooks=np.array([vecs]))

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbour_id"], "nan" if d is not None and np.isnan(d) else d)
            for r in df.collect()
            for d in [r["distance"]]
        )

    want = rows(exact_knn(q, corpus, k=7))
    assert [r[1:] for r in want if r[0] == 100][-1] == (7, 9, "nan")
    assert rows(exact_knn_blocked(q, corpus, k=7)) == want
    assert rows(codec.search(q, codes, k=7)) == want
    assert rows(codec.search(q, codes, corpus=corpus, k=7, oversample=2)) == want


# ------------------------------------------------- driver-built frames


def test_local_frame_keeps_types_and_starts_no_job(spark):
    """Rows, columns, 2-D arrays and empty data all give a LocalRelation of
    exactly the schema's types; collecting it starts no job."""
    schema = "a long, b int, c array<double>, d array<float>, s string"
    frames = [
        local_frame(spark, schema, [(1, 2, [1.0, 2.0], [0.5], "x"), (3, 4, [], None, None)]),
        local_frame(
            spark,
            schema,
            {
                "a": np.array([1, 2]),
                "b": np.array([3, 4], dtype=np.int64),
                "c": np.array([[1.0, -0.0], [np.nan, 2.0]]),
                "d": [[1.5], [2.5]],
                "s": ["p", "q"],
            },
        ),
        local_frame(spark, schema, []),
    ]
    want = spark.createDataFrame([], schema).schema
    for n, df in enumerate(frames):
        assert df.schema == want
        assert _jobs_to_collect(spark, df, f"test_local_frame_{n}") == 0
    assert frames[0].collect()[1]["c"] == []
    assert struct.pack("<d", frames[1].collect()[0]["c"][1]) == struct.pack("<d", -0.0)
    with pytest.raises(Exception):
        local_frame(spark, "b int", {"b": np.array([2**40])})


def test_driver_built_frames_start_no_job(spark, emb):
    """The frames the driver builds — IVF centroids, LSH planes of a
    distributed build, connected components on the driver — collect with
    no Spark job (no PythonRDD, no second Python worker pool)."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.indexes.lsh import LSHForestIndex
    from vers_spark.operators.graph import connected_components, kcore

    small = emb.filter(F.col("vec_id") < 200)
    ivf = IVFFlatIndex.build(small, num_clusters=4, seed=1)
    lsh = LSHForestIndex.build(small, num_trees=2, max_node_size=40, backend="distributed")
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6), (1, 3)], "src long, dst long")
    frames = {
        "centroids": ivf.centroids,
        "planes": lsh.hyperplanes,
        "components": connected_components(edges),
        "kcore": kcore(edges, k=2, rounds=5),
    }
    for name, df in frames.items():
        assert _jobs_to_collect(spark, df, f"test_driver_frame_{name}") == 0, name
    assert ivf.centroids.schema.simpleString() == "struct<cluster_id:int,centroid:array<double>>"
    assert {r["node"]: r["component"] for r in frames["components"].collect()} == {
        1: 1, 2: 1, 3: 1, 5: 5, 6: 5
    }
