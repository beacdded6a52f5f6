"""Backup-branch fill rule (lsh.rs:203-215) and multiprobe: bit-parity of
the planned search with a local Python replay of the reference's budgeted
recursion (and of the multiprobe visit) over the SAME planes/leaves — in
session and file-loaded, with ``allowed_ids``, without backup fill, on the
depth-0 forest, in margin order and on a many-leaf trie."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vers_spark.indexes.lsh import LSHForestIndex
from vers_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def small_forest(emb):
    # max_node_size=8 < k=10 in the tests below → every (query, tree) pair
    # underfills its main leaf and must take backup branches (often several,
    # exercising the recursive budget hand-down)
    return LSHForestIndex.build(emb, num_trees=2, max_node_size=8, seed=7)


def _nearest(members, q, n):
    """The ``n`` nearest of a leaf's (id, vector) members, ties by id."""
    members = sorted(
        members, key=lambda m: (sum((a - b) ** 2 for a, b in zip(m[1], q)), m[0])
    )
    return [m[0] for m in members[:n]]


def _reference_tree_result(planes, leaves, q, n, path="", backup_fill=True):
    """Replay of lsh.rs:163-215: budgeted DFS, main branch first; a leaf
    yields min(len, budget) nearest members (ties by id, matching the
    engine's deterministic tie-break). Without ``backup_fill`` only the
    main branch is visited. Returns list of candidate ids."""
    if path in leaves:
        return _nearest(leaves[path], q, n)
    coeffs, const = planes[path]
    side = "1" if sum(c * x for c, x in zip(coeffs, q)) + const >= 0 else "0"
    backup = "0" if side == "1" else "1"
    got = _reference_tree_result(planes, leaves, q, n, path + side, backup_fill)
    if backup_fill and len(got) < n:
        got += _reference_tree_result(planes, leaves, q, n - len(got), path + backup)
    return got


def _local_index(forest, allowed=None):
    """Collect the forest into per-tree (planes, leaves) dicts for the local
    replay. With ``allowed`` (a set of ids) each leaf keeps only its allowed
    members; a leaf left with none stays, empty."""
    trees = {}
    for r in forest.hyperplanes.collect():
        trees.setdefault(r["tree_id"], ({}, {}))[0][r["path"]] = (
            [float(c) for c in r["coeffs"]],
            float(r["constant"]),
        )
    for r in forest.leaves.collect():
        members = trees.setdefault(r["tree_id"], ({}, {}))[1].setdefault(r["path"], [])
        if allowed is None or int(r["id"]) in allowed:
            members.append((int(r["id"]), [float(x) for x in r["embedding"]]))
    return trees


def _qrows(queries):
    return [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in queries.select("vec_id", "embedding").collect()
    ]


def _assert_replay(got_df, qrows, trees, k, tree_cands, label=""):
    """Each query's ranked neighbour ids in ``got_df`` equal the k nearest
    of the union of ``tree_cands(planes, leaves, q)`` over the trees."""
    vecs = {i: v for _, leaves in trees.values() for ms in leaves.values() for i, v in ms}
    got = got_df.collect()
    for qid, qv in qrows:
        cand = set()
        for planes, leaves in trees.values():
            cand.update(tree_cands(planes, leaves, qv))
        want = sorted(
            cand, key=lambda i: (sum((a - b) ** 2 for a, b in zip(vecs[i], qv)), i)
        )[:k]
        mine = [r["neighbour_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"]
        )]
        assert mine == want, f"{label} query {qid}: {mine} != {want}"


def test_backup_fill_parity_with_reference_recursion(spark, emb, small_forest):
    k = 10
    queries = emb.filter(F.col("vec_id") < 15)
    _assert_replay(
        small_forest.search(queries, k=k),
        _qrows(queries),
        _local_index(small_forest),
        k,
        lambda planes, leaves, qv: _reference_tree_result(planes, leaves, qv, k),
    )


def test_underfilled_pairs_reach_k(spark, emb, small_forest):
    """With leaves of ≤8 and k=10, the no-backup variant CANNOT return 10
    candidates per query from one tree alone; the fill rule must."""
    q = emb.filter(F.col("vec_id") < 15)
    with_fill = small_forest.search(q, k=10).groupBy("query_id").count().collect()
    assert all(r["count"] == 10 for r in with_fill)
    # sanity: the old behavior (backup_fill=False) underfills for at least
    # one query — the rule is actually doing something on this data
    without = small_forest.search(q, k=10, backup_fill=False)
    n_without = without.groupBy("query_id").count().agg(F.min("count")).collect()[0][0]
    assert n_without < 10


def _leaf_visit_keys(planes, path, q, dots):
    """(margin cost, deviation string) of one leaf for a query — the two
    probe orders' sort keys, recomputed independently. ``dots`` caches each
    inner node's (plane value, plane norm) for ``q``."""
    cost, dev_bits = 0.0, []
    for lvl in range(len(path)):
        node = path[:lvl]
        if node not in dots:
            coeffs, const = planes[node]
            dots[node] = (
                sum(c * x for c, x in zip(coeffs, q)) + const,
                math.sqrt(sum(c * c for c in coeffs)),
            )
        d, norm = dots[node]
        side = "1" if d >= 0 else "0"
        if path[lvl] != side:
            cost += abs(d) / norm
            dev_bits.append("1")
        else:
            dev_bits.append("0")
    return cost, "".join(dev_bits)


def _leaf_order(planes, leaves, q, probe_mode):
    """Every leaf of one tree in probe order: by (margin cost, deviation
    string), or by deviation string alone in dfs mode."""
    dots: dict = {}
    keyed = sorted(
        ((*_leaf_visit_keys(planes, path, q, dots), path) for path in leaves),
        key=(lambda s: (s[0], s[1])) if probe_mode == "margin" else (lambda s: s[1]),
    )
    return [path for _, _, path in keyed]


def _multiprobe_tree_cands(planes, leaves, q, n_probes, probe_mode):
    """Local replay of search_multiprobe's per-tree visit: the n_probes
    best leaves in probe order, ALL their members."""
    paths = _leaf_order(planes, leaves, q, probe_mode)[:n_probes]
    return [m[0] for path in paths for m in leaves[path]]


def _ordered_fill_tree_result(planes, leaves, q, n, probe_mode):
    """The budgeted visit with the leaves taken in probe order: each leaf
    yields its min(len, remaining budget) nearest members until n are
    taken. In dfs order this is the recursion of _reference_tree_result;
    in margin order it is search's margin-ordered backup fill."""
    got: list = []
    for path in _leaf_order(planes, leaves, q, probe_mode):
        if len(got) >= n:
            break
        got += _nearest(leaves[path], q, n - len(got))
    return got


def test_multiprobe_margin_parity_with_local_replay(spark, emb, small_forest):
    """search_multiprobe bit-matches a local replay of the n_probes-leaf
    visit over the same planes/leaves — the multi-probe twin of the DFS
    parity test above, and the gate on the planner's probe order: both
    probe orders, 1, 2 and 4 probes."""
    k = 10
    queries = emb.filter(F.col("vec_id") < 15)
    trees = _local_index(small_forest)
    qrows = _qrows(queries)
    for mode in ("margin", "dfs"):
        for n_probes in (1, 2, 4):
            _assert_replay(
                small_forest.search_multiprobe(
                    queries, k=k, n_probes=n_probes, probe_mode=mode
                ),
                qrows,
                trees,
                k,
                lambda planes, leaves, qv: _multiprobe_tree_cands(
                    planes, leaves, qv, n_probes, mode
                ),
                f"{mode} P={n_probes}",
            )


def _replay_fills(k):
    """The per-tree candidate rules of the local replay: budgeted DFS fill,
    main leaf only, margin-order fill and a 2-probe margin visit."""

    def dfs(planes, leaves, qv):
        return _reference_tree_result(planes, leaves, qv, k)

    def main_only(planes, leaves, qv):
        return _reference_tree_result(planes, leaves, qv, k, backup_fill=False)

    def margin(planes, leaves, qv):
        return _ordered_fill_tree_result(planes, leaves, qv, k, "margin")

    def probes2(planes, leaves, qv):
        return _multiprobe_tree_cands(planes, leaves, qv, 2, "margin")

    return dfs, main_only, margin, probes2


def test_backup_fill_frontier_parity(spark, emb, small_forest):
    """The backup fill of the in-session forced-fill forest equals the
    local replay in both probe orders (the DFS recursion and the
    margin-order fill over the best-ordered leaves), with and without
    ``allowed_ids``: the replay runs over the filtered leaves, so an
    emptied leaf neither contributes nor ends the walk. Every query gets
    an answer."""
    k = 10
    queries = emb.filter(F.col("vec_id") < 15)
    qrows = _qrows(queries)
    keep = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    keep_ids = {int(r["vec_id"]) for r in keep.collect()}
    trees, filtered = _local_index(small_forest), _local_index(small_forest, keep_ids)
    dfs, _, margin, _ = _replay_fills(k)
    for allowed, tr in ((None, trees), (keep, filtered)):
        for mode, tree_cands in (("dfs", dfs), ("margin", margin)):
            got = small_forest.search(
                queries, k=k, backup_fill=True, probe_mode=mode, allowed_ids=allowed
            )
            label = f"{mode} allowed_ids={allowed is not None}"
            assert got.select("query_id").distinct().count() == 15, label
            _assert_replay(got, qrows, tr, k, tree_cands, label)


def test_planned_search_equals_declarative_plan(spark, emb, small_forest, tmp_path):
    """Beyond the in-session forest above, the planned search equals the
    local replay (the reference now that the declarative plan is gone) on
    the other inputs the planner treats apart: a FILE-LOADED store (literal
    _pp pruning plus the planned-pair filter, the mapped pack), with
    ``allowed_ids`` and margin order, ``backup_fill=False`` (main leaves
    only), file-loaded multiprobe, and depth-0 forests, which pack as an
    empty trie whose only leaf is the root — in session and file-loaded."""
    k = 10
    queries = emb.filter(F.col("vec_id") < 15)
    qrows = _qrows(queries)
    keep = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    keep_ids = {int(r["vec_id"]) for r in keep.collect()}
    small_forest.save(str(tmp_path / "small"))
    loaded = LSHForestIndex.load(spark, str(tmp_path / "small"))
    deg = LSHForestIndex.build(emb, num_trees=1, max_node_size=10**9)
    assert deg.params["depth"] == 0
    deg.save(str(tmp_path / "deg"))
    deg_loaded = LSHForestIndex.load(spark, str(tmp_path / "deg"))
    trees, filtered = _local_index(small_forest), _local_index(small_forest, keep_ids)
    deg_trees, deg_filtered = _local_index(deg), _local_index(deg, keep_ids)
    dfs, main_only, margin, probes2 = _replay_fills(k)

    cases = [
        ("file-loaded", lambda: loaded.search(queries, k=k), trees, dfs),
        (
            "file-loaded allowed_ids margin",
            lambda: loaded.search(queries, k=k, allowed_ids=keep, probe_mode="margin"),
            filtered,
            margin,
        ),
        ("no backup fill", lambda: loaded.search(queries, k=k, backup_fill=False), trees, main_only),
        (
            "no backup fill allowed_ids",
            lambda: small_forest.search(queries, k=k, backup_fill=False, allowed_ids=keep),
            filtered,
            main_only,
        ),
        ("file-loaded multiprobe", lambda: loaded.search_multiprobe(queries, k=k), trees, probes2),
        ("depth 0", lambda: deg.search(queries, k=k), deg_trees, dfs),
        (
            "depth 0 file-loaded allowed_ids",
            lambda: deg_loaded.search(queries, k=k, allowed_ids=keep),
            deg_filtered,
            dfs,
        ),
    ]
    for label, call, tr, tree_cands in cases:
        got = call()
        assert got.count() > 0, label
        _assert_replay(got, qrows, tr, k, tree_cands, label)


def test_multiprobe_recall_gains(spark, emb):
    """The two dials the multi-probe paper claims, on this fixed corpus:
    (a) 2 probes strictly beat 1 probe at the same tree count; (b) at equal
    probes, the margin order is at least as good as blind DFS order; (c)
    margin-ordered backup fill is >= DFS fill under forced underflow."""
    from vers_spark.operators.knn import exact_knn

    k = 10
    idx = LSHForestIndex.build(emb, num_trees=4, max_node_size=32, seed=7)
    # ~1/13 of the corpus: at 30 queries the margin-vs-DFS gap is inside
    # sampling noise (measured both ways); at ~400+ it is a stable ~5pp win
    q = emb.filter(F.col("vec_id") % 13 == 0)
    truth = {}
    for r in exact_knn(q, emb, k=k, metric="sq_euclidean").collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbour_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbour_id"])
        return sum(len(got[i] & truth[i]) for i in truth) / (k * len(truth))

    r1 = recall(idx.search_multiprobe(q, k=k, n_probes=1))
    r2m = recall(idx.search_multiprobe(q, k=k, n_probes=2, probe_mode="margin"))
    r2d = recall(idx.search_multiprobe(q, k=k, n_probes=2, probe_mode="dfs"))
    assert r2m > r1, (r2m, r1)
    assert r2m >= r2d, (r2m, r2d)
    # (c) underflow backup fill: margin order >= reference DFS order
    small = LSHForestIndex.build(emb, num_trees=2, max_node_size=8, seed=7)
    rm = recall(small.search(q, k=k, probe_mode="margin"))
    rd = recall(small.search(q, k=k, probe_mode="dfs"))
    assert rm >= rd, (rm, rd)


def test_degenerate_oracle_unchanged_by_fill(spark, emb):
    """1 tree + unbounded leaf: never underfilled, fill rule is a no-op —
    the degenerate exact-oracle contract survives backup_fill=True."""
    from vers_spark.operators.knn import exact_knn

    idx = LSHForestIndex.build(emb, num_trees=1, max_node_size=10**9)
    q = emb.filter(F.col("vec_id") < 5)
    got = idx.search(q, k=8).collect()
    want = exact_knn(q, emb, k=8, metric="sq_euclidean").collect()
    gk = {(r["query_id"], r["rank"]): r["neighbour_id"] for r in got}
    wk = {(r["query_id"], r["rank"]): r["neighbour_id"] for r in want}
    assert gk == wk


def test_multiprobe_parity_above_auto_threshold(spark, sf_oracle_dir):
    """Planned multiprobe and margin-ordered fill equal the local replay on
    a forest with many leaves (3 trees × max_node_size=1 over the sf0.01
    embeddings → ~1.5k single-member leaves, deep tries with many near-tie
    margins): the planner and the replay accumulate margin cost as the same
    ascending-level f64 left fold, so summation order cannot flip near-tie
    orderings between them."""
    k = 10
    emb10 = load_table(spark, sf_oracle_dir, "embeddings")
    idx = LSHForestIndex.build(emb10, num_trees=3, max_node_size=1, seed=11)
    assert idx.leaves.select("tree_id", "path").distinct().count() >= 1400
    queries = emb10.filter(F.col("vec_id") < 8)
    qrows = _qrows(queries)
    trees = _local_index(idx)
    for mode in ("margin", "dfs"):
        for n_probes in (2, 8):
            _assert_replay(
                idx.search_multiprobe(queries, k=k, n_probes=n_probes, probe_mode=mode),
                qrows,
                trees,
                k,
                lambda planes, leaves, qv: _multiprobe_tree_cands(
                    planes, leaves, qv, n_probes, mode
                ),
                f"{mode} P={n_probes}",
            )
    _assert_replay(
        idx.search(queries, k=k, probe_mode="margin"),
        qrows,
        trees,
        k,
        lambda planes, leaves, qv: _ordered_fill_tree_result(planes, leaves, qv, k, "margin"),
        "margin fill",
    )


def test_frontier_probe_mode_validated(spark, emb, small_forest):
    """A typo'd probe_mode must raise in search and in search_multiprobe
    (ADVICE r7: a walk silently fell into the margin branch)."""
    queries = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="probe_mode"):
        small_forest.search(queries, k=5, probe_mode="margins")
    with pytest.raises(ValueError, match="probe_mode"):
        small_forest.search_multiprobe(queries, k=5, probe_mode="margins")


def test_save_load_format_version(spark, emb, small_forest, tmp_path):
    """save() stamps format_version; load() refuses an OLDER layout loudly
    (ADVICE r7 medium: a pre-'p'-prefix store loads cleanly but every
    search silently returns zero candidates). A missing stamp alone is NOT
    refused: pre-stamp saves already use the current layout, so load probes
    one _pp partition value before deciding (ADVICE r8 low)."""
    import glob
    import json
    import os

    path = str(tmp_path / "lshidx")
    small_forest.save(path)
    with open(f"{path}/manifest.json") as f:
        m = json.load(f)
    assert m["format_version"] == 3
    back = LSHForestIndex.load(spark, path)
    assert back.params.get("format_version") is None  # stripped on load
    # unstamped store with the CURRENT tree-fused layout → accepted
    del m["format_version"]
    with open(f"{path}/manifest.json", "w") as f:
        json.dump(m, f)
    LSHForestIndex.load(spark, path)
    # unstamped store with the v2 prefix-only grammar ('pXXXX', no tree) →
    # refused: its values never match the probe side's 'p<tree>_<prefix>'
    for d in glob.glob(f"{path}/leaves/tree_id=*/_pp=p*"):
        parent, name = os.path.split(d)
        # 'p<tree>_<prefix>' → 'p<prefix>' (the round-7 grammar)
        os.rename(
            d, os.path.join(parent, "_pp=p" + name.split("_", 2)[2])
        )
    with pytest.raises(ValueError, match="format_version 2"):
        LSHForestIndex.load(spark, path)
    # unstamped store with the v1 raw-bit layout (no 'p' prefix) → refused
    for d in glob.glob(f"{path}/leaves/tree_id=*/_pp=p*"):
        parent, name = os.path.split(d)
        os.rename(d, os.path.join(parent, "_pp=" + name[len("_pp=p") :]))
    with pytest.raises(ValueError, match="format_version 1"):
        LSHForestIndex.load(spark, path)
