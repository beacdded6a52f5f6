"""HNSW: kernel recall, sharded Spark build/search, determinism, roundtrip.

Acceptance is recall-based, never graph-identical (SURVEY §7 phase 4): the
reference's graph is nondeterministic (unseeded RNG + HashMap-order
entrypoint, hnsw.rs:336,516), so property tests are the only sound contract.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vers_spark.indexes.hnsw import HNSWIndex, _LocalHNSW
from vers_spark.operators.knn import exact_knn
from vers_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def corpus_np(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


@pytest.fixture(scope="module")
def hnsw_idx(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return HNSWIndex.build(emb, num_shards=4, seed=42)


def _exact_np(ids, X, q, k):
    d = ((X - q) ** 2).sum(axis=1)
    return set(ids[np.argsort(d, kind="stable")[:k]])


def test_local_kernel_recall(corpus_np):
    ids, X = corpus_np
    g = _LocalHNSW(12, 100, 24, seed=42)
    for i, v in zip(ids, X):
        g.insert(int(i), v)
    rec = []
    rng = np.random.default_rng(0)
    for qi in range(40):
        q = X[qi] + rng.normal(0, 0.05, X.shape[1])
        got = {n for _, n in g.search(q, 10, 32)}
        rec.append(len(got & _exact_np(ids, X, q, 10)) / 10)
    assert np.mean(rec) >= 0.95


def test_entrypoint_cache_matches_full_scan(corpus_np):
    """r11: insert maintains the entrypoint/top-layer cache in O(1); it
    must agree with the pinned rule (max node_layer, then min id) at every
    prefix, and a graph reconstructed by DIRECT node_layer writes (the
    search path's rebuild, which bypasses insert) must fall back to the
    scan and reach the same answer."""
    ids, X = corpus_np
    g = _LocalHNSW(12, 100, 24, seed=42)
    for j, (i, v) in enumerate(zip(ids, X)):
        g.insert(int(i), v)
        if j % 50 == 0 or j == len(ids) - 1:
            want = min(g.node_layer, key=lambda n: (-g.node_layer[n], n))
            assert g._entrypoint() == want
            assert g._ep_layer == g.node_layer[want]
    # reconstruction path: direct writes, no insert — cache must be unset
    # and the first read must scan
    h = _LocalHNSW(12, 100, 24, seed=42)
    for i, v in zip(ids[:200], X[:200]):
        h.add_vec(int(i), v)
    for i in ids[:200]:
        h.node_layer[int(i)] = g.node_layer[int(i)]
    assert h._ep_node is None
    want = min(h.node_layer, key=lambda n: (-h.node_layer[n], n))
    assert h._entrypoint() == want


def test_local_kernel_fully_connected(corpus_np):
    """Every node reachable from the entrypoint on layer 0 — guards the
    insert-order/entrypoint regressions that silently cost recall."""
    from collections import deque

    ids, X = corpus_np
    g = _LocalHNSW(12, 100, 24, seed=7)
    for i, v in zip(ids, X):
        g.insert(int(i), v)
    seen = {g._entrypoint()}
    dq = deque(seen)
    while dq:
        c = dq.popleft()
        for nb in g.adj[0].get(c, ()):
            if nb not in seen:
                seen.add(nb)
                dq.append(nb)
    assert len(seen) == len(g.vecs)


def test_local_kernel_duplicate_heavy_recall_and_connectivity(corpus_np):
    """Near-duplicate worst case for the f32 build kernel (ADVICE r11):
    the ‖x‖²−2x·q+‖q‖² expansion loses ~1e-7·‖x‖² to cancellation, so
    neighbour ORDER among near-dups during insert is effectively
    arbitrary. The claim the code comments make — recall gates + exact
    f64 reported distances bound the impact — is pinned here on a corpus
    that is ~96% near-duplicates (25 copies of each of 40 bases,
    perturbed at 1e-7 relative scale, squarely inside the cancellation
    regime) plus one exact copy per base: layer-0 connectivity must stay
    total and recall@10 vs the f64 exact oracle must hold."""
    from collections import deque

    _, X = corpus_np
    base = X[:40]
    rng = np.random.default_rng(123)
    vecs = []
    for j in range(1000):
        b = base[j % 40]
        if j < 40:
            vecs.append(b.copy())  # exact duplicate of the base
        else:
            scale = 1e-7 * float(np.linalg.norm(b))
            vecs.append(b + rng.normal(0.0, scale, b.shape))
    D = np.array(vecs, dtype=np.float64)
    dids = np.arange(len(D))
    g = _LocalHNSW(12, 100, 24, seed=5)
    for i, v in zip(dids, D):
        g.insert(int(i), v)
    # total reachability on layer 0 despite arbitrary near-dup ordering
    seen = {g._entrypoint()}
    dq = deque(seen)
    while dq:
        c = dq.popleft()
        for nb in g.adj[0].get(c, ()):
            if nb not in seen:
                seen.add(nb)
                dq.append(nb)
    assert len(seen) == len(g.vecs)
    # recall vs the exact f64 oracle, querying into the duplicate clouds
    rec = []
    for qi in range(30):
        b = base[qi % 40]
        q = b + rng.normal(0.0, 1e-7 * float(np.linalg.norm(b)), b.shape)
        got = {n for _, n in g.search(q, 10, 64)}
        rec.append(len(got & _exact_np(dids, D, q, 10)) / 10)
    assert np.mean(rec) >= 0.9, np.mean(rec)


def test_sharded_recall_all_probes(spark, sf_dir, hnsw_idx):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    got = {
        (r["query_id"], r["neighbour_id"])
        for r in hnsw_idx.search(q, k=10, n_probe_shards=4).collect()
    }
    assert len(got & exact) / len(exact) >= 0.9


def test_balanced_kmeans_shards_cap_and_recall(spark, sf_dir):
    """max_shard_rows splits oversized k-means clusters into hash-salted
    sub-shards inheriting the parent centroid: shard count grows, observed
    shard sizes respect ~the cap (hash-uniform, 2x slack), membership is a
    partition of the corpus, and probed search still recalls ≥ 0.9 (probing
    a cluster ≡ probing its adjacent-ranked sub-shards)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cap = max(50, n // 20)
    idx = HNSWIndex.build(
        emb, num_layers=4, ef_construction=40, ef_search=24, m=8,
        num_shards=8, shard_by="kmeans", seed=7, max_shard_rows=cap,
    )
    assert idx.params["num_shards"] >= 8
    assert len(idx.centroids) == idx.params["num_shards"]
    sizes = {r["shard_id"]: r["n"] for r in
             idx.nodes.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(sizes.values()) == n
    assert max(sizes.values()) <= 2 * cap
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    # n_probe_shards counts PARENT clusters under balanced sharding: probing
    # 6 of the 8 clusters must pull in every sub-shard of each
    got = {
        (r["query_id"], r["neighbour_id"])
        for r in idx.search(q, k=10, n_probe_shards=6).collect()
    }
    assert len(got & exact) / len(exact) >= 0.9


def test_probe_pruning_monotone(spark, sf_dir, hnsw_idx):
    """More probed shards → recall can only improve (same per-shard graphs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    rec = []
    for probes in (1, 2, 4):
        got = {
            (r["query_id"], r["neighbour_id"])
            for r in hnsw_idx.search(q, k=10, n_probe_shards=probes).collect()
        }
        rec.append(len(got & exact) / len(exact))
    assert rec == sorted(rec)


def test_distances_verified_and_sorted(spark, sf_dir, hnsw_idx, corpus_np):
    ids, X = corpus_np
    emb = load_table(spark, sf_dir, "embeddings")
    res = hnsw_idx.search(emb.filter(F.col("vec_id") < 5), k=10).collect()
    by_vec = {int(i): X[j] for j, i in enumerate(ids)}
    per_q = {}
    for r in res:
        d = by_vec[r["query_id"]] - by_vec[r["neighbour_id"]]
        assert abs(float(d @ d) - r["distance"]) < 1e-9  # recompute every distance
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["distance"]))
    for pairs in per_q.values():
        ds = [d for _, d in sorted(pairs)]
        assert ds == sorted(ds)  # monotone nondecreasing by rank


def test_build_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = HNSWIndex.build(emb, num_shards=2, seed=11).search(q, k=5).collect()
    b = HNSWIndex.build(emb, num_shards=2, seed=11).search(q, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_save_load_roundtrip(spark, sf_dir, hnsw_idx, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    before = sorted(map(tuple, hnsw_idx.search(q, k=8, n_probe_shards=4).collect()))
    hnsw_idx.save(str(tmp_path / "idx"))
    loaded = HNSWIndex.load(spark, str(tmp_path / "idx"))
    after = sorted(map(tuple, loaded.search(q, k=8, n_probe_shards=4).collect()))
    assert before == after


def test_layer_stats_monotone(hnsw_idx):
    stats = hnsw_idx.layer_stats().collect()
    counts = [r["n_nodes"] for r in sorted(stats, key=lambda r: r["layer"])]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] == 500  # every vector on layer 0


def test_shard_build_telemetry(hnsw_idx):
    """build() harvests one (rows, wall-seconds) entry per shard into the
    manifest (the 1M straggler-vs-host-steal diagnostic, VERDICT r11 #5)
    and strips the kind=2 marker rows from the graph table — every graph
    reader reconstructs edges from `kind != 0`, so a leaked marker would
    be misread as an edge."""
    tele = hnsw_idx.params["shard_build_seconds"]
    assert len(tele) == int(hnsw_idx.params["num_shards"])
    assert sum(n for n, _ in tele.values()) == 500  # rows partition the corpus
    assert all(sec > 0 for _, sec in tele.values())
    assert hnsw_idx.graph.filter(F.col("kind") > 1).count() == 0


def _window_manifest(graph):
    """The manifest entries as build() and add() used to compute them from
    the graph table: per shard the entrypoint (max layer, then min id) by a
    window and a groupBy, and the max edge layer by an aggregate (None when
    there is no edge)."""
    from pyspark.sql import Window as W

    ep_rows = (
        graph.filter(F.col("kind") == 0)
        .select("shard_id", "layer", F.col("src").alias("node_id"))
        .withColumn("_top", F.max("layer").over(W.partitionBy("shard_id")))
        .filter(F.col("layer") == F.col("_top"))
        .groupBy("shard_id", "_top")
        .agg(F.min("node_id").alias("node_id"))
        .collect()
    )
    eps = {str(int(r["shard_id"])): [int(r["node_id"]), int(r["_top"])] for r in ep_rows}
    top = graph.filter(F.col("kind") == 1).agg(F.max("layer")).collect()[0][0]
    return eps, top


def test_shard_summaries_equal_the_graph_windows(spark, sf_dir, hnsw_idx):
    """build() and add() read the entrypoints, the top edge layer and the
    telemetry from the per-shard summary rows in one collect; they equal
    the window computation over the graph table — also for shards of one
    node, which hold no edge."""
    emb = load_table(spark, sf_dir, "embeddings")
    tiny = HNSWIndex.build(
        emb.filter(F.col("vec_id") < 5), num_shards=4, shard_by="random", seed=42
    )
    for idx in (hnsw_idx, tiny):
        eps, top = _window_manifest(idx.graph)
        assert idx.params["entrypoints"] == eps
        assert idx.params["top_edge_layer"] == (top if top is not None else 0)
        per_shard = {
            str(r["shard_id"]): r["count"] for r in idx.nodes.groupBy("shard_id").count().collect()
        }
        assert {s: n for s, (n, _) in idx.params["shard_build_seconds"].items()} == per_shard
    assert 1 in per_shard.values()  # the tiny index has a one-node shard
    extra = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding").limit(20)
    idx2 = hnsw_idx.add(extra)
    eps, top = _window_manifest(idx2.graph)
    assert idx2.params["entrypoints"] == eps
    assert idx2.params["top_edge_layer"] == max(hnsw_idx.params["top_edge_layer"], top)
    assert sum(n for n, _ in idx2.params["shard_build_seconds"].values()) == 520


def test_frontier_search_recall_and_order(spark, sf_dir, hnsw_idx):
    """Distributed frontier-expansion search (the graph-stays-on-executors
    formulation): recall@10 ≥ 0.9 vs exact, distances verified + monotone,
    and rows-per-query exactly k."""
    from vers_spark.operators.knn import exact_knn

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    res = hnsw_idx.search_frontier(q, k=10).collect()
    assert len(res) == 100
    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in exact_knn(q, emb, k=10).collect()
    }
    got = {(r["query_id"], r["neighbour_id"]) for r in res}
    assert len(exact & got) / len(exact) >= 0.9
    by_q: dict = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["distance"])
    for dists in by_q.values():
        assert dists == sorted(dists)


def test_filtered_search_recall_and_membership(spark, sf_dir, hnsw_idx):
    """Post-filter search returns ONLY allowed ids, and recalls ≥ 0.8 of the
    exact filtered KNN (4x overfetch over a ~1/3-selective predicate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    keep = emb.filter(F.col("label") % 3 == 0)
    keep_ids = {r["vec_id"] for r in keep.select("vec_id").collect()}
    q = emb.filter(F.col("vec_id") < 20)
    got_rows = hnsw_idx.search_filtered(
        q, k=10, allowed_ids=keep.select("vec_id"), n_probe_shards=8
    ).collect()
    assert {r["neighbour_id"] for r in got_rows} <= keep_ids
    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in exact_knn(q, keep.select("vec_id", "embedding"), k=10).collect()
    }
    got = {(r["query_id"], r["neighbour_id"]) for r in got_rows}
    assert len(got & exact) / len(exact) >= 0.8


def test_frontier_parent_probe_covers_subshards(spark, sf_dir):
    """Balanced-kmeans sharding (duplicated parent centroids): frontier
    routing must count PARENT clusters like search() does. Probing all 8
    parents of a >8-sub-shard index must therefore be the recall-exact mode
    (identical to the unrouted frontier), and probing 6 of 8 parents must
    pull in EVERY sub-shard of each probed parent (recall floor mirrors the
    batch-path test)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cap = max(50, n // 20)
    idx = HNSWIndex.build(
        emb, num_layers=4, ef_construction=40, ef_search=24, m=8,
        num_shards=8, shard_by="kmeans", seed=7, max_shard_rows=cap,
    )
    assert idx.params["num_shards"] > 8  # the cap actually split clusters
    q = emb.filter(F.col("vec_id") < 10)
    full = sorted(map(tuple, idx.search_frontier(q, k=10).collect()))
    routed_all = sorted(
        map(tuple, idx.search_frontier(q, k=10, n_probe_shards=8).collect())
    )
    assert routed_all == full  # 8 parents ≡ all shards, NOT 8 of 12 sub-shards
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    pruned = {
        (r["query_id"], r["neighbour_id"])
        for r in idx.search_frontier(q, k=10, n_probe_shards=6).collect()
    }
    assert len(pruned & exact) / len(exact) >= 0.8


def test_frontier_probe_pruning_recall(spark, sf_dir, hnsw_idx):
    """Centroid-routed frontier search (4 of 8 shards) keeps recall ≥ 0.8
    vs exact, and all-shards frontier recall is at least as good."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    pruned = {
        (r["query_id"], r["neighbour_id"])
        for r in hnsw_idx.search_frontier(q, k=10, n_probe_shards=4).collect()
    }
    full = {
        (r["query_id"], r["neighbour_id"])
        for r in hnsw_idx.search_frontier(q, k=10).collect()
    }
    r_pruned = len(pruned & exact) / len(exact)
    r_full = len(full & exact) / len(exact)
    assert r_pruned >= 0.8
    assert r_full >= r_pruned


def test_boundary_replication_recall_and_dedup(spark, sf_dir):
    """boundary_eps multi-assigns near-boundary points into their runner-up
    cluster's shard graph (SURVEY §7 phase-4 boundary stitch, shipped r6).
    Gates: (a) replicas exist (node rows > corpus rows) but bounded by the
    2-assignment ceiling; (b) membership still covers the corpus; (c) at
    LOW probe counts recall is ≥ the single-assignment index's on the same
    shard layout (the whole point of the feature); (d) results carry no
    duplicate neighbour and remain distance-sorted."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    kw = dict(
        num_layers=4, ef_construction=40, ef_search=32, m=8,
        num_shards=8, shard_by="kmeans", seed=7,
    )
    base = HNSWIndex.build(emb, **kw)
    rep = HNSWIndex.build(emb, boundary_eps=0.25, **kw)
    n_rows = rep.nodes.count()
    assert n < n_rows <= 2 * n
    assert rep.nodes.select("id").distinct().count() == n
    q = emb.filter(F.col("vec_id") < 30)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}

    def recall(idx, probes):
        got = idx.search(q, k=10, n_probe_shards=probes).collect()
        pairs = [(r["query_id"], r["neighbour_id"]) for r in got]
        assert len(pairs) == len(set(pairs))  # no duplicate neighbours
        return len(set(pairs) & exact) / len(exact)

    for probes in (1, 2):
        rb, rr = recall(base, probes), recall(rep, probes)
        assert rr >= rb, (probes, rb, rr)


def test_boundary_replication_composes_with_balanced_shards(spark, sf_dir):
    """boundary_eps + max_shard_rows: replicas flow through the hash-salted
    sub-shard split (sizes computed on the replicated assignment), search
    dedups, and low-probe recall still ≥ the unreplicated balanced index."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cap = max(50, n // 20)
    kw = dict(
        num_layers=4, ef_construction=40, ef_search=32, m=8,
        num_shards=8, shard_by="kmeans", seed=7, max_shard_rows=cap,
    )
    base = HNSWIndex.build(emb, **kw)
    rep = HNSWIndex.build(emb, boundary_eps=0.25, **kw)
    assert rep.nodes.select("id").distinct().count() == n
    sizes = [r["n"] for r in rep.nodes.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert max(sizes) <= 2 * cap + cap  # cap slack + replica overflow bound
    q = emb.filter(F.col("vec_id") < 30)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    for probes in (2,):
        gb = {(r["query_id"], r["neighbour_id"]) for r in base.search(q, k=10, n_probe_shards=probes).collect()}
        gr = {(r["query_id"], r["neighbour_id"]) for r in rep.search(q, k=10, n_probe_shards=probes).collect()}
        assert len(gr & exact) >= len(gb & exact), (len(gb & exact), len(gr & exact))


def test_auto_ef_rule_and_search(spark, sf_dir, hnsw_idx):
    """ef_search="auto" (the probe-aware rule promoted from BASELINE prose
    to code in r6): ef = clamp(4k·route/probes, 4k, 128) — full-probe
    searches keep the 4k floor, sparse probes deepen the per-shard pool up
    to the measured 128 knee. The auto search must be at least as good as
    the index-default ef at the same probe count."""
    from vers_spark.operators.knn import exact_knn

    assert hnsw_idx._auto_ef(k=10, probes=hnsw_idx._route_units()) == 40
    assert hnsw_idx._auto_ef(k=10, probes=max(hnsw_idx._route_units() // 8, 1)) in range(40, 129)
    assert hnsw_idx._auto_ef(k=10, probes=1) == 128  # clamped at the knee

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 15)
    exact = {(r["query_id"], r["neighbour_id"]) for r in exact_knn(q, emb, k=10).collect()}
    base = {
        (r["query_id"], r["neighbour_id"])
        for r in hnsw_idx.search(q, k=10, n_probe_shards=2).collect()
    }
    auto = {
        (r["query_id"], r["neighbour_id"])
        for r in hnsw_idx.search(q, k=10, n_probe_shards=2, ef_search="auto").collect()
    }
    assert len(auto & exact) >= len(base & exact)


def test_add_refreshes_manifest_telemetry_and_entrypoints(spark, sf_dir, hnsw_idx):
    """add() must keep the manifest truthful for rebuilt shards (ADVICE
    r12): shard_build_seconds re-harvested so rows still partition the
    corpus, and entrypoints recomputed — the id-deterministic layer draw
    lets an added node raise a shard's top layer or take over min-id at
    the old top, and a stale entrypoint would start searches below the
    true top layer."""
    emb = load_table(spark, sf_dir, "embeddings")
    extra = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    ).limit(20)
    idx2 = hnsw_idx.add(extra)
    # the pre-add index's manifest is untouched (params copied, not aliased)
    assert sum(n for n, _ in hnsw_idx.params["shard_build_seconds"].values()) == 500
    tele = idx2.params["shard_build_seconds"]
    assert len(tele) == int(idx2.params["num_shards"])
    assert sum(n for n, _ in tele.values()) == 520
    assert all(sec > 0 for _, sec in tele.values())
    # manifest entrypoints must equal a fresh (max-layer, min-id) scan of
    # the post-add graph
    rows = idx2.graph.filter(F.col("kind") == 0).select(
        "shard_id", "layer", "src"
    ).collect()
    want: dict = {}
    for r in rows:
        s = str(int(r["shard_id"]))
        lay, nid = int(r["layer"]), int(r["src"])
        cur = want.get(s)
        if cur is None or lay > cur[1] or (lay == cur[1] and nid < cur[0]):
            want[s] = [nid, lay]
    assert idx2.params["entrypoints"] == want
    # top_edge_layer still bounds the real max edge layer
    top = idx2.graph.filter(F.col("kind") == 1).agg(F.max("layer")).collect()[0][0]
    assert int(idx2.params["top_edge_layer"]) >= int(top)
