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


@pytest.fixture(scope="module")
def dist_forest(emb):
    """A forest from the level-synchronous distributed build, which routes
    members with the Spark plane test (``_plane_side``)."""
    return LSHForestIndex.build(
        emb, num_trees=2, max_node_size=64, seed=13, backend="distributed"
    )


def test_assign_paths_routes_distributed_members_to_stored_paths(dist_forest):
    """The broadcast-pack descent (numpy ``_descend``) must be BIT-EXACT with
    the Spark plane fold: every member of a distributed-built forest, whose
    paths that fold chose, is routed to its stored path in every tree (a
    near-boundary disagreement would route a query away from its own
    duplicate's leaf)."""
    stored = {
        (r["id"], r["tree_id"]): r["path"]
        for r in dist_forest.leaves.select("id", "tree_id", "path").collect()
    }
    members = dist_forest.leaves.filter(F.col("tree_id") == 0).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    routed = {
        (r["query_id"], r["tree_id"]): r["path"]
        for r in dist_forest.assign_paths(members).collect()
    }
    assert routed == stored
    assert max(len(p) for p in stored.values()) >= 2
    # the trie pack is cached on the instance (one collect per index)
    assert dist_forest._planes_pack() is dist_forest._planes_pack()


def test_multiprobe_pack_equals_full_end_to_end(forest, emb):
    """search_multiprobe planned from the plane pack returns the rows of the
    full ranking — every leaf of every tree ordered by a local replay of the
    probe order, the n_probes first read whole."""
    from tests.test_lsh_backup import _assert_replay, _local_index, _multiprobe_tree_cands, _qrows

    q = emb.filter(F.col("vec_id") < 8)
    _assert_replay(
        forest.search_multiprobe(q, k=10, n_probes=3),
        _qrows(q),
        _local_index(forest),
        10,
        lambda planes, leaves, qv: _multiprobe_tree_cands(planes, leaves, qv, 3, "margin"),
    )


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


def test_pack_broadcast_only_for_assign_paths(spark, emb, tmp_path, monkeypatch):
    """Serving plans on the driver, so search and search_multiprobe on a
    loaded store ship no trie broadcast; add() routes through
    assign_paths, which broadcasts the trie on first use, and add()'s
    release_pack unpersists it."""
    base = emb.filter(F.col("vec_id") < 150)
    extra = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 180))
    path = str(tmp_path / "lazy_bc")
    LSHForestIndex.build(base, num_trees=2, max_node_size=16, seed=3).save(path)
    idx = LSHForestIndex.load(spark, path)
    sc = spark.sparkContext
    shipped, unpersisted = [], []
    broadcast = sc.broadcast

    def recording_broadcast(value):
        bc = broadcast(value)
        unpersist = bc.unpersist
        bc.unpersist = lambda blocking=False: unpersisted.append(bc) or unpersist(blocking)
        shipped.append((value, bc))
        return bc

    monkeypatch.setattr(sc, "broadcast", recording_broadcast)
    trie = idx._planes_pack().trie
    q = base.limit(5)
    assert idx.search(q, k=3).collect() and idx.search_multiprobe(q, k=3).collect()
    assert not any(v is trie for v, _ in shipped)
    assert "_pack_bc" not in idx.__dict__
    grown = idx.add(extra)
    assert grown.leaves.count() > 0
    (trie_bc,) = [bc for v, bc in shipped if v is trie]
    assert unpersisted == [trie_bc]
    assert "_pack_bc" not in idx.__dict__


def test_distributed_build_invariants_and_search(emb, dist_forest):
    """The level-synchronous distributed build (the 100 TB path, normally
    auto-selected only above the local-build row cap): every leaf respects
    max_node_size, each tree's leaves exactly partition the deduped corpus,
    every member agrees with ALL its ancestor plane sides (the descent
    invariant), and search over the distributed-built forest returns k
    ranked results."""
    idx = dist_forest
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


def _pack_equal(a, b):
    """Two packs hold the same trie: per tree the same sorted node keys, the
    same W/B/M rows under the key alignment (collect order may differ),
    the same leaf keys and sizes — bit for bit."""
    import numpy as np

    (atk, atr, aW, aB, aM, alk), (btk, btr, bW, bB, bM, blk) = a.trie, b.trie
    assert (a.depth, a.trees) == (b.depth, b.trees)
    for t in range(a.trees):
        assert np.array_equal(atk[t], btk[t])
        assert np.array_equal(aW[atr[t]], bW[btr[t]])
        assert np.array_equal(aB[atr[t]], bB[btr[t]])
        assert np.array_equal(aM[atr[t]], bM[btr[t]])
        assert np.array_equal(alk[t], blk[t])
        assert np.array_equal(a.leaf_sizes[t], b.leaf_sizes[t])


def test_saved_pack_loads_and_is_bit_equal_with_rebuilt(spark, forest, emb, tmp_path, monkeypatch):
    """save() writes the plane pack as one .npy per array in pack/ and load()
    maps it: the loaded W is a memory map. A pack written in several Arrow
    slices (the slice budget lowered below one tree's coeffs) is BIT-EQUAL
    with the one-slice pack, and serving through either matches the
    in-session index."""
    import os

    import numpy as np

    import vers_spark.indexes.lsh as L

    path = str(tmp_path / "lsh_pack")
    forest.save(path)
    assert sorted(os.listdir(f"{path}/pack")) == sorted(f"{n}.npy" for n in L._PACK_ARRAYS)
    loaded = LSHForestIndex.load(spark, path)
    lp = loaded._planes_pack()
    W = lp.trie[2]
    assert type(W) is np.ndarray and isinstance(W.base, np.memmap)
    # rebuilt twin: same leaves/planes, no pack files wired, the writer
    # forced to collect one tree per slice
    rebuilt = LSHForestIndex(spark, loaded.leaves, loaded.hyperplanes, dict(loaded.params))
    collects = []
    frame = type(loaded.hyperplanes)
    to_arrow = frame.toArrow
    monkeypatch.setattr(L, "_PACK_SLICE_BYTES", 1)
    monkeypatch.setattr(frame, "toArrow", lambda df: collects.append(1) or to_arrow(df))
    rp = rebuilt._planes_pack()
    assert len(collects) == forest.params["num_trees"]
    _pack_equal(lp, rp)
    q = emb.filter(F.col("vec_id") < 5)
    want = sorted(map(tuple, forest.search_multiprobe(q, k=5, n_probes=2).collect()))
    assert sorted(map(tuple, loaded.search_multiprobe(q, k=5, n_probes=2).collect())) == want
    assert sorted(map(tuple, rebuilt.search_multiprobe(q, k=5, n_probes=2).collect())) == want


def test_pack_without_leaf_sizes_is_recollected(spark, forest, emb, tmp_path, monkeypatch):
    """An older store whose pack is a pack.npz (here one saved before leaf
    sizes rode the pack) loads without it: the writer rebuilds the pack
    from the store's tables on first use — leaf sizes equal to the leaf
    table's — and the index serves the same rows as the in-session one."""
    import shutil

    import numpy as np

    import vers_spark.indexes.lsh as L

    path = str(tmp_path / "lsh_old_pack")
    forest.save(path)
    old = {n: np.load(f"{path}/pack/{n}.npy") for n in L._PACK_ARRAYS if n != "lsizes"}
    shutil.rmtree(f"{path}/pack")
    np.savez(f"{path}/pack.npz", **old)
    loaded = LSHForestIndex.load(spark, path)
    calls = []
    write = L._write_pack
    monkeypatch.setattr(L, "_write_pack", lambda *a: calls.append(1) or write(*a))
    pack = loaded._planes_pack()
    assert calls == [1]
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
    # a re-save writes the pack files and drops the old pack.npz
    loaded.save(str(tmp_path / "resaved"))
    assert L._has_pack(str(tmp_path / "resaved" / "pack"))


def test_save_over_own_store_keeps_mapped_pack(spark, forest, emb, tmp_path):
    """Pack files are published by os.replace, never rewritten in place: a
    loaded instance whose pack is mapped keeps serving identical rows after
    the store is saved over its own path (an in-place write would truncate
    the mapped file under it), and the rewritten store loads and serves
    the same rows."""
    path = str(tmp_path / "own")
    forest.save(path)
    idx = LSHForestIndex.load(spark, path)
    q = emb.filter(F.col("vec_id") < 5)
    before = sorted(map(tuple, idx.search(q, k=5).collect()))
    W = idx._planes_pack().trie[2]
    snapshot = W.copy()
    # the tables are read from the files the save replaces, so pin them
    # first (as an in-place migrate does); the pack stays the mapped one
    idx.leaves = idx.leaves.localCheckpoint(eager=True)
    idx.hyperplanes = idx.hyperplanes.localCheckpoint(eager=True)
    idx.save(path)
    assert (W == snapshot).all()
    assert sorted(map(tuple, idx.search(q, k=5).collect())) == before
    again = LSHForestIndex.load(spark, path)
    assert sorted(map(tuple, again.search(q, k=5).collect())) == before


def test_store_with_lvl_partitioned_planes_loads_and_serves(spark, forest, emb, tmp_path):
    """save() writes the hyperplanes as one unpartitioned table. A store
    saved the old way, hyperplanes partitioned by _lvl, still loads: its
    pack is rebuilt from those planes (the writer selects columns by name)
    and it serves the in-session rows; add() and a re-save drop the column."""
    import glob
    import shutil

    path = str(tmp_path / "lvl")
    forest.save(path)
    assert not glob.glob(f"{path}/hyperplanes/_lvl=*")
    old = str(tmp_path / "lvl_old")
    shutil.copytree(path, old)
    shutil.rmtree(f"{old}/hyperplanes")
    shutil.rmtree(f"{old}/pack")
    spark.read.parquet(f"{path}/hyperplanes").withColumn(
        "_lvl", F.length("path").cast("int")
    ).write.partitionBy("_lvl").parquet(f"{old}/hyperplanes")
    loaded = LSHForestIndex.load(spark, old)
    assert "_lvl" in loaded.hyperplanes.columns
    q = emb.filter(F.col("vec_id") < 5)
    want = sorted(map(tuple, forest.search(q, k=5).collect()))
    assert sorted(map(tuple, loaded.search(q, k=5).collect())) == want
    assert sorted(
        map(tuple, loaded.search_multiprobe(q, k=5, n_probes=2).collect())
    ) == sorted(map(tuple, forest.search_multiprobe(q, k=5, n_probes=2).collect()))
    assert "_lvl" not in loaded.add(emb.filter(F.col("vec_id") < 3)).hyperplanes.columns
    loaded.save(str(tmp_path / "lvl_resaved"))
    resaved = LSHForestIndex.load(spark, str(tmp_path / "lvl_resaved"))
    assert "_lvl" not in resaved.hyperplanes.columns
    assert sorted(map(tuple, resaved.search(q, k=5).collect())) == want


def test_build_and_load_bound_max_depth(spark, emb, forest, tmp_path):
    """max_depth is recorded in params and the manifest; a build outside
    [1, 62] (a node key is an int64) is refused, and so is loading a
    manifest deeper than 62 levels."""
    import json

    assert forest.params["max_depth"] == 24
    for bad in (0, 63):
        with pytest.raises(ValueError, match="max_depth"):
            LSHForestIndex.build(emb, num_trees=1, max_depth=bad)
    path = str(tmp_path / "deep")
    forest.save(path)
    with open(f"{path}/manifest.json") as f:
        m = json.load(f)
    assert m["max_depth"] == 24
    m["depth"] = 63
    with open(f"{path}/manifest.json", "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="depth 63"):
        LSHForestIndex.load(spark, path)


def test_add_keeps_build_max_depth(spark, emb):
    """add()'s overflow split honours the build's max_depth: with
    max_depth=2 no leaf or plane path grows past 2 bits, however far the
    inserts overflow max_node_size."""
    base = emb.filter(F.col("vec_id") < 200)
    extra = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 400))
    idx = LSHForestIndex.build(base, num_trees=2, max_node_size=16, seed=3, max_depth=2)
    assert idx.params["max_depth"] == 2
    grown = idx.add(extra)
    longest = max(
        grown.leaves.agg(F.max(F.length("path"))).collect()[0][0],
        grown.hyperplanes.agg(F.max(F.length("path"))).collect()[0][0],
    )
    assert longest <= 2
    assert grown.params["depth"] <= 2
    hits = grown.search(extra.limit(3), k=1).collect()
    assert all(r["neighbour_id"] == r["query_id"] for r in hits)


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
