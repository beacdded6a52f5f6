"""LSH forest: degenerate ≡ exact, recall, leaf-size invariant, roundtrip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vers_spark.indexes.lsh import LSHForestIndex
from vers_spark.operators.knn import exact_knn
from vers_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def forest(emb):
    return LSHForestIndex.build(emb, num_trees=8, max_node_size=50, seed=7)


def test_degenerate_single_leaf_equals_exact(spark, emb):
    """1 tree + unbounded leaf ≡ brute force (SURVEY §5 degenerate check)."""
    idx = LSHForestIndex.build(emb, num_trees=1, max_node_size=10**9)
    assert idx.params["depth"] == 0
    q = emb.filter(F.col("vec_id") < 5)
    got = idx.search(q, k=10).collect()
    want = exact_knn(q, emb, k=10, metric="sq_euclidean").collect()
    gk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in got}
    wk = {(r["query_id"], r["rank"]): (r["neighbour_id"], r["distance"]) for r in want}
    assert gk == wk


def test_assign_paths_pandas_equals_join_descent(forest, emb):
    """r11: the single-pass broadcast-trie descent must be BIT-EXACT with
    the per-level join descent it replaced — every (query, tree) lands on
    the identical path, including corpus vectors (whose build-time routing
    used the Spark fold; a near-boundary disagreement here would route a
    query away from its own duplicate's leaf)."""
    q = emb.limit(200)
    fast = {
        (r["query_id"], r["tree_id"]): r["path"]
        for r in forest.assign_paths(q).collect()
    }
    slow = {
        (r["query_id"], r["tree_id"]): r["path"]
        for r in forest._assign_paths_joins(q).collect()
    }
    assert fast == slow
    assert len(fast) == 200 * forest.params["num_trees"]
    # the trie pack is cached on the instance (one collect per index)
    assert forest._planes_pack() is forest._planes_pack()


def test_assign_paths_fallback_above_dense_cap(forest, emb):
    """Above the dense-lookup cap assign_paths must fall back to the join
    descent (any-depth safety) and produce the same paths."""
    import vers_spark.indexes.lsh as L

    q = emb.limit(50)
    want = {
        (r["query_id"], r["tree_id"]): r["path"]
        for r in forest.assign_paths(q).collect()
    }
    idx = LSHForestIndex(forest.spark, forest.leaves, forest.hyperplanes, forest.params)
    old = L.LSHForestIndex._PACK_MAX_BYTES
    L.LSHForestIndex._PACK_MAX_BYTES = 0
    try:
        assert idx._planes_pack() is None
        got = {
            (r["query_id"], r["tree_id"]): r["path"]
            for r in idx.assign_paths(q).collect()
        }
    finally:
        L.LSHForestIndex._PACK_MAX_BYTES = old
    assert got == want


def test_leaf_order_pack_matches_full(forest, emb):
    """r11: the packed best-first leaf enumeration must reproduce the
    exhaustive `_leaf_order` ranking EXACTLY — same top-P leaves, same
    dev strings, bit-identical costs — in both probe modes. (The pack
    walk settles in global (cost, dev) order because both keys are
    monotone along descent; costs match because both engines fold the
    margin in ascending level order in f64.)"""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    q = emb.limit(30)
    qp = forest.assign_paths(q)
    pairs = qp.select("query_id", "tree_id", "q_vec")
    P = 3
    for mode in ("margin", "dfs"):
        got = {}
        for r in forest._leaf_order_pack(pairs, mode, P, keep_keys=True).collect():
            got.setdefault((r["query_id"], r["tree_id"]), []).append(
                (r["path"], r["dev"], r["cost"])
            )
        key = [F.asc("dev")] if mode == "dfs" else [F.asc("cost"), F.asc("dev")]
        wv = W.partitionBy("query_id", "tree_id").orderBy(*key)
        want = {}
        full = (
            forest._leaf_order(pairs, forest.leaves, mode)
            .withColumn("_r", F.row_number().over(wv))
            .filter(F.col("_r") <= P)
            .orderBy("query_id", "tree_id", "_r")
        )
        for r in full.collect():
            want.setdefault((r["query_id"], r["tree_id"]), []).append(
                (r["path"], r["dev"], r["cost"])
            )
        assert got == want, f"mode={mode}"


def test_multiprobe_pack_equals_full_end_to_end(forest, emb):
    """search_multiprobe via the packed engine must return the identical
    result rows as the exhaustive leaf_descent='full' engine."""
    q = emb.filter(F.col("vec_id") < 8)
    a = forest.search_multiprobe(q, k=10, n_probes=3, leaf_descent="pack").collect()
    b = forest.search_multiprobe(q, k=10, n_probes=3, leaf_descent="full").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_leaf_size_invariant(forest):
    sizes = (
        forest.leaves.groupBy("tree_id", "path")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert sizes <= 50
    assert forest.params["depth"] >= 1


def test_all_ids_in_every_tree(forest, emb):
    n = emb.count()
    per_tree = forest.leaves.groupBy("tree_id").agg(F.countDistinct("id").alias("n")).collect()
    assert len(per_tree) == 8
    assert all(r["n"] == n for r in per_tree)


def test_recall(spark, emb, forest):
    q = emb.filter(F.col("vec_id") < 20)
    got = forest.search(q, k=10).collect()
    want = exact_knn(q, emb, k=10, metric="sq_euclidean").collect()
    approx = {}
    for r in got:
        approx.setdefault(r["query_id"], set()).add(r["neighbour_id"])
    hits = sum(r["neighbour_id"] in approx.get(r["query_id"], set()) for r in want)
    assert hits / len(want) >= 0.6


def test_distances_recomputable_and_sorted(forest, emb):
    q = emb.filter(F.col("vec_id") == 0)
    rows = sorted(forest.search(q, k=5).collect(), key=lambda r: r["rank"])
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)
    assert rows[0]["neighbour_id"] == 0 and rows[0]["distance"] == 0.0


def test_save_load_roundtrip(spark, forest, emb, tmp_path):
    q = emb.filter(F.col("vec_id") < 3)
    before = forest.search(q, k=5).collect()
    path = str(tmp_path / "lsh")
    forest.save(path)
    loaded = LSHForestIndex.load(spark, path)
    after = loaded.search(q, k=5).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_load_accepts_unstamped_current_layout(spark, forest, emb, tmp_path):
    """A store with the current tree-fused _pp layout but no manifest
    stamp must be accepted via the layout-grammar probe, not refused as
    an older version."""
    import json

    q = emb.filter(F.col("vec_id") < 3)
    before = forest.search(q, k=5).collect()
    path = str(tmp_path / "lsh_unstamped")
    forest.save(path)
    with open(f"{path}/manifest.json") as f:
        params = json.load(f)
    params.pop("format_version")
    with open(f"{path}/manifest.json", "w") as f:
        json.dump(params, f)
    loaded = LSHForestIndex.load(spark, path)
    after = loaded.search(q, k=5).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_load_refuses_v1_stamp(spark, forest, tmp_path):
    import json

    path = str(tmp_path / "lsh_v1")
    forest.save(path)
    with open(f"{path}/manifest.json") as f:
        params = json.load(f)
    params["format_version"] = 1
    with open(f"{path}/manifest.json", "w") as f:
        json.dump(params, f)
    with pytest.raises(ValueError, match="format_version 1"):
        LSHForestIndex.load(spark, path)


def test_add_splits_overflowed_leaves(spark, emb):
    """lsh.rs:218-251 parity: adding past max_node_size rebuilds the leaf
    into a subtree — leaf-size invariant holds after add, new planes extend
    the tree, and every added vector finds itself at distance 0."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("vec_id") < 200)
    extra = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 400))
    idx = LSHForestIndex.build(base, num_trees=2, max_node_size=16, seed=3)
    n_planes_before = idx.hyperplanes.count()
    grown = idx.add(extra)
    sizes = (
        grown.leaves.groupBy("tree_id", "path")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert sizes <= 16
    assert grown.hyperplanes.count() > n_planes_before
    # routing consistency: every row's stored path is the path the (possibly
    # deepened) tree assigns its vector
    q = grown.assign_paths(extra, "vec_id", "embedding").select(
        F.col("query_id").alias("id"), "tree_id", F.col("path").alias("q_path")
    )
    mismatch = (
        grown.leaves.join(q, ["tree_id", "id"])
        .filter(F.col("path") != F.col("q_path"))
        .count()
    )
    assert mismatch == 0
    hits = grown.search(extra.limit(5), k=1).collect()
    assert all(r["neighbour_id"] == r["query_id"] and r["distance"] == 0.0 for r in hits)


def test_add_defer_mode_keeps_old_behavior(spark, emb):
    base = emb.filter(F.col("vec_id") < 100)
    extra = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    idx = LSHForestIndex.build(base, num_trees=1, max_node_size=16, seed=3)
    grown = idx.add(extra, split_overflow=False)
    assert grown.hyperplanes.count() == idx.hyperplanes.count()


def test_add_retires_pack_and_source_still_serves(spark, emb):
    """add() unpersists the SOURCE instance's plane-pack broadcast (looping
    add() cycles must not stack one executor-resident pack per generation,
    ADVICE r11) — non-blocking unpersist keeps the driver value, so plans
    already built stay valid, and the next _planes_pack() on the source
    re-packs on demand with identical results."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("vec_id") < 150)
    extra = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 180))
    idx = LSHForestIndex.build(base, num_trees=2, max_node_size=16, seed=3)
    assert idx._planes_pack() is not None
    before = sorted(map(tuple, idx.search_multiprobe(base.limit(5), k=3, n_probes=2).collect()))
    grown = idx.add(extra)
    assert not hasattr(idx, "_planes_pack_cache")  # cache retired by add()
    # the source instance re-packs on demand and serves identically
    assert idx._planes_pack() is not None
    after = sorted(map(tuple, idx.search_multiprobe(base.limit(5), k=3, n_probes=2).collect()))
    assert before == after
    # the grown instance packs its own (split-extended) trie independently
    assert grown._planes_pack() is not None
    hits = grown.search(extra.limit(3), k=1).collect()
    assert all(r["neighbour_id"] == r["query_id"] for r in hits)


def test_distributed_build_invariants_and_search(spark, sf_dir):
    """The level-synchronous distributed build (the 100 TB path, normally
    auto-selected only above the local-build row cap): every leaf respects
    max_node_size, each tree's leaves exactly partition the deduped corpus,
    every member agrees with ALL its ancestor plane sides (the descent
    invariant), and search over the distributed-built forest returns k
    ranked results."""
    from vers_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = LSHForestIndex.build(
        emb, num_trees=2, max_node_size=64, seed=13, backend="distributed"
    )
    leaves = idx.leaves.collect()
    n_corpus = emb.dropDuplicates(["embedding"]).count()
    per_tree = {}
    sizes = {}
    for r in leaves:
        per_tree.setdefault(r["tree_id"], set()).add(r["id"])
        sizes[(r["tree_id"], r["path"])] = sizes.get((r["tree_id"], r["path"]), 0) + 1
    for t, ids in per_tree.items():
        assert len(ids) == n_corpus  # partition: every (deduped) row in a leaf
    assert max(sizes.values()) <= 64
    planes = {
        (r["tree_id"], r["path"]): (r["coeffs"], r["constant"])
        for r in idx.hyperplanes.collect()
    }
    import random

    rng = random.Random(0)
    for r in rng.sample(leaves, min(200, len(leaves))):
        v = r["embedding"]
        for lvl in range(len(r["path"])):
            coeffs, const = planes[(r["tree_id"], r["path"][:lvl])]
            side = "1" if sum(c * x for c, x in zip(coeffs, v)) + const >= 0 else "0"
            assert r["path"][lvl] == side
    q = emb.filter(F.col("vec_id") < 5)
    got = idx.search(q, k=10).groupBy("query_id").count().collect()
    assert len(got) == 5 and all(r["count"] == 10 for r in got)


def test_multiprobe_broadcast_gate_parity(forest, emb, monkeypatch):
    """Batches above _BROADCAST_QUERY_CAP queries drop the broadcast hints
    on the probe-set / query-vector joins (Spark's 8 GB / 512M-row
    broadcast hard limits would bite a corpus-sized batch; ADVICE r12) —
    the plain-shuffle fallback must return identical rows."""
    import vers_spark.indexes.lsh as L

    q = emb.filter(F.col("vec_id") < 20)
    want = sorted(map(tuple, forest.search_multiprobe(q, k=5, n_probes=2).collect()))
    monkeypatch.setattr(L, "_BROADCAST_QUERY_CAP", 0)
    got = sorted(map(tuple, forest.search_multiprobe(q, k=5, n_probes=2).collect()))
    assert got == want


def test_save_pp_len_width_dial(spark, emb, tmp_path):
    """save(pp_len=w) re-buckets the leaf store at width w (2^w prefixes
    per tree), records the width in the manifest, and the loaded index's
    serving joins derive the probe-side _pp at the SAME width — a
    mismatch would silently equi-join to zero candidates. Results must be
    identical across widths and to the in-session index."""
    import glob as _glob
    import json as _json

    idx = LSHForestIndex.build(emb, num_trees=2, max_node_size=64, seed=3)
    q = emb.filter(F.col("vec_id") < 5)
    want = sorted(map(tuple, idx.search_multiprobe(q, k=5, n_probes=2).collect()))
    for w in (2, 6):
        p = str(tmp_path / f"lsh_w{w}")
        idx.save(p, pp_len=w)
        with open(f"{p}/manifest.json") as f:
            assert _json.load(f)["pp_len"] == w
        import re as _re

        vals = {
            d.split("_pp=")[1]
            for d in _glob.glob(f"{p}/leaves/tree_id=*/_pp=*")
        }
        # tree-fused grammar at width w: p<tree>_<w chars>
        assert vals and all(_re.fullmatch(r"p\d+_.{%d}" % w, v) for v in vals)
        loaded = LSHForestIndex.load(spark, p)
        assert loaded._pp_len() == w
        got = sorted(
            map(tuple, loaded.search_multiprobe(q, k=5, n_probes=2).collect())
        )
        assert got == want
        # re-save with pp_len=None keeps the store's width
        p2 = str(tmp_path / f"lsh_w{w}_resave")
        loaded.save(p2)
        with open(f"{p2}/manifest.json") as f:
            assert _json.load(f)["pp_len"] == w


def test_auto_pp_len_rule():
    """The save() default width keeps per-bucket rows ≤ 1M: 4 up to 128M
    leaf rows at 8 trees, widening one bit per doubling beyond, clamped
    at 12 (BASELINE §r13 width study)."""
    from vers_spark.indexes.lsh import _auto_pp_len

    assert _auto_pp_len(8_000_000, 8) == 4  # the 1M×300 reference store
    assert _auto_pp_len(128_000_000, 8) == 4
    assert _auto_pp_len(129_000_000, 8) == 5
    assert _auto_pp_len(1_000_000_000, 8) == 7
    assert _auto_pp_len(10**13, 8) == 12  # clamp
    assert _auto_pp_len(0, 8) == 4


def test_saved_pack_loads_and_is_bit_equal_with_rebuilt(spark, forest, emb, tmp_path):
    """save() persists the hyperplane pack (pack.npz) and load() wires it;
    the file-loaded pack must be BIT-EQUAL with one rebuilt from the
    coeff table — same per-tree keys, same W/B/M rows under the key
    alignment, same leaf-key sets — and serving through it must match
    the in-session index (cold-start fix, VERDICT r13 #3)."""
    import os

    import numpy as np

    path = str(tmp_path / "lsh_pack")
    forest.save(path)
    assert os.path.exists(f"{path}/pack.npz")
    loaded = LSHForestIndex.load(spark, path)
    assert loaded._pack_path == f"{path}/pack.npz"
    lp = loaded._planes_pack()
    assert lp is not None
    # rebuilt twin: same leaves/planes, no pack file wired
    rebuilt = LSHForestIndex(
        spark, loaded.leaves, loaded.hyperplanes, dict(loaded.params)
    )
    rp = rebuilt._planes_pack()
    (ltk, ltr, lW, lB, lM, llk), ldepth, lT = lp[0].value, lp[1], lp[2]
    (rtk, rtr, rW, rB, rM, rlk), rdepth, rT = rp[0].value, rp[1], rp[2]
    assert (ldepth, lT) == (rdepth, rT)
    for t in range(lT):
        assert np.array_equal(ltk[t], rtk[t])  # sorted node keys per tree
        # row payloads aligned by key (collect order may differ)
        assert np.array_equal(lW[ltr[t]], rW[rtr[t]])
        assert np.array_equal(lB[ltr[t]], rB[rtr[t]])
        assert np.array_equal(lM[ltr[t]], rM[rtr[t]])
        assert np.array_equal(llk[t], rlk[t])
    q = emb.filter(F.col("vec_id") < 5)
    want = sorted(
        map(tuple, forest.search_multiprobe(q, k=5, n_probes=2).collect())
    )
    got = sorted(
        map(tuple, loaded.search_multiprobe(q, k=5, n_probes=2).collect())
    )
    assert got == want


def test_pack_without_leaf_sizes_is_recollected(spark, forest, emb, tmp_path, monkeypatch):
    """A pack.npz without ``lsizes`` (saved before leaf sizes rode the pack)
    is treated as absent: the loaded index re-collects its pack from the
    stores — leaf sizes equal to the leaf table's — and serves the same
    rows as the in-session index."""
    import numpy as np

    path = str(tmp_path / "lsh_old_pack")
    forest.save(path)
    with np.load(f"{path}/pack.npz") as z:
        assert "lsizes" in z.files
        old = {k: z[k] for k in z.files if k != "lsizes"}
    np.savez(f"{path}/pack.npz", **old)
    loaded = LSHForestIndex.load(spark, path)
    calls = []
    collect = LSHForestIndex._pack_arrays
    monkeypatch.setattr(
        LSHForestIndex, "_pack_arrays", lambda self: calls.append(1) or collect(self)
    )
    pack = loaded._planes_pack()
    assert pack is not None and calls == [1]
    want = {
        (r["tree_id"], r["path"]): r["count"]
        for r in forest.leaves.groupBy("tree_id", "path").count().collect()
    }
    got = {
        (t, format(int(key), "b")[1:]): int(n)
        for t in range(pack.trees)
        for key, n in zip(pack.trie[5][t], pack.leaf_sizes[t])
    }
    assert got == want
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, loaded.search(q, k=5).collect()))
    assert a == sorted(map(tuple, forest.search(q, k=5).collect())) and a


def test_migrate_rewrites_v2_store_in_place(spark, forest, emb, tmp_path):
    """A v2-grammar store (prefix-only _pp, round 7) is refused by load()
    but migrate() rewrites it to the tree-fused v3 layout WITHOUT the
    source corpus — the leaves table carries (tree_id, path) and _pp is
    derived — after which it loads and serves identically (ADVICE r13)."""
    import json
    import shutil

    q = emb.filter(F.col("vec_id") < 3)
    want = sorted(map(tuple, forest.search(q, k=5).collect()))
    v3 = str(tmp_path / "store_v3")
    v2 = str(tmp_path / "store_v2")
    forest.save(v3)
    # fabricate the round-7 layout: prefix-only 'pXXXX' partition values
    (
        spark.read.parquet(f"{v3}/leaves")
        .drop("_pp")
        .withColumn(
            "_pp",
            F.concat(
                F.lit("p"),
                F.substring(F.concat(F.col("path"), F.lit("zzzz")), 1, 4),
            ),
        )
        .write.partitionBy("tree_id", "_pp")
        .parquet(f"{v2}/leaves")
    )
    shutil.copytree(f"{v3}/hyperplanes", f"{v2}/hyperplanes")
    with open(f"{v3}/manifest.json") as f:
        params = json.load(f)
    params["format_version"] = 2
    with open(f"{v2}/manifest.json", "w") as f:
        json.dump(params, f)
    with pytest.raises(ValueError, match="format_version 2"):
        LSHForestIndex.load(spark, v2)
    migrated = LSHForestIndex.migrate(spark, v2)
    assert sorted(map(tuple, migrated.search(q, k=5).collect())) == want
    # the rewritten store now loads through the normal path, at v3
    reloaded = LSHForestIndex.load(spark, v2)
    assert sorted(map(tuple, reloaded.search(q, k=5).collect())) == want
    with open(f"{v2}/manifest.json") as f:
        assert json.load(f)["format_version"] == 3


def test_registered_saved_multiprobe_parity_with_in_session(spark, sf_dir):
    """The registered lsh_saved_multiprobe (save → load → multiprobe over
    the file-loaded, partition-pruned store with the persisted pack) must
    be BIT-identical to the in-session engine at the same config — the
    gate behind its rows-only driver row and its bench headline line."""
    from vers_spark.operators import index_queries as IQ

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IQ._lsh(spark, sf_dir, 8, 100)
    want = sorted(
        map(
            tuple,
            idx.search_multiprobe(
                emb.filter(F.col("vec_id") < 50), k=10, n_probes=2, probe_mode="margin"
            ).collect(),
        )
    )
    got = sorted(map(tuple, IQ.lsh_saved_multiprobe(spark, sf_dir).collect()))
    assert got == want and len(got) > 0
