"""Backup-branch fill rule (lsh.rs:203-215): bit-parity between the
declarative deviation-order formulation and a local Python replay of the
reference's budgeted recursion over the SAME planes/leaves."""

from __future__ import annotations

from contextlib import contextmanager

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


def _reference_tree_result(planes, leaves, q, n, path=""):
    """Replay of lsh.rs:163-215: budgeted DFS, main branch first; a leaf
    yields min(len, budget) nearest members (ties by id, matching the
    engine's deterministic tie-break). Returns list of candidate ids."""
    if path in leaves:
        members = leaves[path]
        members = sorted(
            members, key=lambda m: (sum((a - b) ** 2 for a, b in zip(m[1], q)), m[0])
        )
        return [m[0] for m in members[:n]]
    coeffs, const = planes[path]
    side = "1" if sum(c * x for c, x in zip(coeffs, q)) + const >= 0 else "0"
    backup = "0" if side == "1" else "1"
    got = _reference_tree_result(planes, leaves, q, n, path + side)
    if len(got) < n:
        got += _reference_tree_result(planes, leaves, q, n - len(got), path + backup)
    return got


def _local_index(forest):
    """Collect the forest into per-tree dicts for the local replay."""
    trees = {}
    for r in forest.hyperplanes.collect():
        trees.setdefault(r["tree_id"], ({}, {}))[0][r["path"]] = (
            [float(c) for c in r["coeffs"]],
            float(r["constant"]),
        )
    for r in forest.leaves.collect():
        t = trees.setdefault(r["tree_id"], ({}, {}))
        t[1].setdefault(r["path"], []).append(
            (int(r["id"]), [float(x) for x in r["embedding"]])
        )
    return trees


def test_backup_fill_parity_with_reference_recursion(spark, emb, small_forest):
    k = 10
    queries = emb.filter(F.col("vec_id") < 15)
    got = small_forest.search(queries, k=k).collect()

    trees = _local_index(small_forest)
    all_vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in emb.collect()
    }
    for qrow in queries.select("vec_id", "embedding").collect():
        qid, qv = int(qrow["vec_id"]), [float(x) for x in qrow["embedding"]]
        cand = set()
        for planes, leaves in trees.values():
            cand.update(_reference_tree_result(planes, leaves, qv, k))
        ranked = sorted(
            cand, key=lambda i: (sum((a - b) ** 2 for a, b in zip(all_vecs[i], qv)), i)
        )[:k]
        mine = [r["neighbour_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"]
        )]
        assert mine == ranked, f"query {qid}: {mine} != {ranked}"


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


def _leaf_visit_keys(planes, path, q):
    """(margin cost, deviation string) of one leaf for a query — the two
    probe orders' sort keys, recomputed independently."""
    cost, dev_bits = 0.0, []
    for lvl in range(len(path)):
        coeffs, const = planes[path[:lvl]]
        d = sum(c * x for c, x in zip(coeffs, q)) + const
        side = "1" if d >= 0 else "0"
        if path[lvl] != side:
            cost += abs(d) / sum(c * c for c in coeffs) ** 0.5
            dev_bits.append("1")
        else:
            dev_bits.append("0")
    return cost, "".join(dev_bits)


def _multiprobe_tree_cands(planes, leaves, q, n_probes):
    """Local replay of search_multiprobe's per-tree visit: the n_probes
    best leaves by (margin cost, deviation string), ALL their members."""
    scored = sorted(
        ((*_leaf_visit_keys(planes, path, q), path) for path in leaves),
        key=lambda s: (s[0], s[1]),
    )
    out = []
    for _, _, path in scored[:n_probes]:
        out += [m[0] for m in leaves[path]]
    return out


def test_multiprobe_margin_parity_with_local_replay(spark, emb, small_forest):
    """search_multiprobe bit-matches a local replay of the margin-ordered
    n_probes-leaf visit over the same planes/leaves — the multi-probe twin
    of the DFS parity test above."""
    k, n_probes = 10, 2
    queries = emb.filter(F.col("vec_id") < 15)
    got = small_forest.search_multiprobe(queries, k=k, n_probes=n_probes).collect()

    trees = _local_index(small_forest)
    all_vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in emb.collect()
    }
    for qrow in queries.select("vec_id", "embedding").collect():
        qid, qv = int(qrow["vec_id"]), [float(x) for x in qrow["embedding"]]
        cand = set()
        for planes, leaves in trees.values():
            cand.update(_multiprobe_tree_cands(planes, leaves, qv, n_probes))
        ranked = sorted(
            cand, key=lambda i: (sum((a - b) ** 2 for a, b in zip(all_vecs[i], qv)), i)
        )[:k]
        mine = [r["neighbour_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"]
        )]
        assert mine == ranked, f"query {qid}: {mine} != {ranked}"


def test_multiprobe_blocked_compute_parity(spark, emb, small_forest):
    """The GEMM serving twin (compute="blocked", _sides_blocked) must
    reproduce the declarative fold's results EXACTLY on this corpus: same
    probed leaves (margins differ only in the last ulp; ties break on the
    deviation string) → same candidates → identical (neighbour, distance,
    rank) rows. Both probe orders gated."""
    k, n_probes = 10, 2
    queries = emb.filter(F.col("vec_id") < 15)
    for mode in ("margin", "dfs"):
        fold = sorted(
            map(tuple, small_forest.search_multiprobe(
                queries, k=k, n_probes=n_probes, probe_mode=mode,
                leaf_descent="full").collect())
        )
        blocked = sorted(
            map(tuple, small_forest.search_multiprobe(
                queries, k=k, n_probes=n_probes, probe_mode=mode,
                compute="blocked", leaf_descent="full"
            ).collect())
        )
        assert fold == blocked, mode


def test_multiprobe_rerank_blocked_bitexact(spark, emb, small_forest):
    """The vectorized candidate rerank (np.cumsum running sum) must be
    BIT-equal to the declarative left-fold — same distance DOUBLES, not
    just same ranking — across probe modes."""
    queries = emb.filter(F.col("vec_id") < 15)
    for mode in ("margin", "dfs"):
        fold = sorted(map(tuple, small_forest.search_multiprobe(
            queries, k=10, n_probes=2, probe_mode=mode, rerank="fold").collect()))
        blocked = sorted(map(tuple, small_forest.search_multiprobe(
            queries, k=10, n_probes=2, probe_mode=mode, rerank="blocked").collect()))
        assert fold == blocked, mode


def test_multiprobe_frontier_parity_with_full(spark, emb, small_forest):
    """The branch-and-bound frontier descent (the serving default) must
    probe the SAME leaves as the exhaustive every-leaf ranking — identical
    (neighbour, distance, rank) rows across probe modes and probe counts.
    The beam cap is sized so the bound, not the cap, does the pruning on
    any non-adversarial corpus; this pins it."""
    k = 10
    queries = emb.filter(F.col("vec_id") < 15)
    for mode in ("margin", "dfs"):
        for n_probes in (1, 2, 4):
            full = sorted(
                map(tuple, small_forest.search_multiprobe(
                    queries, k=k, n_probes=n_probes, probe_mode=mode,
                    leaf_descent="full").collect())
            )
            frontier = sorted(
                map(tuple, small_forest.search_multiprobe(
                    queries, k=k, n_probes=n_probes, probe_mode=mode,
                    leaf_descent="frontier").collect())
            )
            assert frontier == full, (mode, n_probes)


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


@contextmanager
def _declarative(idx):
    """Serve ``idx`` through the declarative plans: a cached None pack makes
    _planes_pack() return None on this instance, so search() takes
    _search_declarative (join descent, declarative fill)."""
    saved = idx.__dict__.pop("_planes_pack_cache", None)
    idx._planes_pack_cache = None
    try:
        yield idx
    finally:
        del idx._planes_pack_cache
        if saved is not None:
            idx._planes_pack_cache = saved


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_backup_fill_frontier_parity(spark, emb, small_forest):
    """The planned search (driver walk of the plane pack) must return the
    IDENTICAL rows as the declarative plan whose fill enumerates leaves
    exhaustively (_leaf_order) and as the one that uses the frontier
    descent with n_probes=k (exact for budgeted admission: every admitted
    leaf holds >= 1 member, so the admitted set lives within the k
    best-ordered leaves) — in both probe orders, and with ``allowed_ids``,
    where the planner's sizes come from the filtered leaves and an empty
    leaf neither contributes nor ends the walk. The declarative engine
    switch keys on the memoized leaf count; forcing it exercises both."""
    queries = emb.filter(F.col("vec_id") < 15)
    keep = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    for allowed in (None, keep):
        for mode in ("dfs", "margin"):
            kw = dict(k=10, backup_fill=True, probe_mode=mode, allowed_ids=allowed)
            planned = _rows(small_forest.search(queries, **kw))
            with _declarative(small_forest):
                small_forest._leaf_path_count = 1  # force exhaustive
                full = _rows(small_forest.search(queries, **kw))
                small_forest._leaf_path_count = 10**9  # force frontier
                frontier = _rows(small_forest.search(queries, **kw))
                small_forest._leaf_path_count = None
            assert full == planned, (mode, allowed is not None)
            assert frontier == planned, (mode, allowed is not None)
            assert len({r[0] for r in planned}) == 15


def test_planned_search_equals_declarative_plan(spark, emb, small_forest, tmp_path):
    """Beyond the in-session forced-fill forest above: the planned search
    equals the declarative plan (pack disabled on the same instance) —
    rows and distance bits — on a FILE-LOADED store (literal _pp pruning
    plus the planned-pair filter), without backup fill, and on depth-0
    forests, which pack as an empty trie whose only leaf is the root."""
    queries = emb.filter(F.col("vec_id") < 15)
    keep = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    small_forest.save(str(tmp_path / "small"))
    loaded = LSHForestIndex.load(spark, str(tmp_path / "small"))
    deg = LSHForestIndex.build(emb, num_trees=1, max_node_size=10**9)
    assert deg.params["depth"] == 0 and deg._planes_pack() is not None
    deg.save(str(tmp_path / "deg"))
    deg_loaded = LSHForestIndex.load(spark, str(tmp_path / "deg"))
    cases = [
        (loaded, dict(probe_mode="dfs")),
        (loaded, dict(probe_mode="margin", allowed_ids=keep)),
        (loaded, dict(backup_fill=False)),
        (small_forest, dict(backup_fill=False, allowed_ids=keep)),
        (deg, dict()),
        (deg_loaded, dict(allowed_ids=keep)),
    ]
    for idx, kw in cases:
        planned = _rows(idx.search(queries, k=10, **kw))
        with _declarative(idx):
            want = _rows(idx.search(queries, k=10, **kw))
        assert planned == want, kw
        assert planned, kw


def test_multiprobe_parity_above_auto_threshold(spark, sf_oracle_dir):
    """ADVICE r7: the auto engine switch flips at _FRONTIER_MIN_LEAVES, but
    full-vs-frontier parity had only been gated at small leaf counts. Build
    a forest whose leaf count genuinely crosses the threshold (9 trees ×
    max_node_size=1 over the sf0.01 embeddings → ~4.5k single-member leaves)
    and pin parity there, margin mode included: both engines now accumulate
    margin cost as the SAME ascending-level left fold (_leaf_order's
    aggregate() ≡ the frontier's per-round running sum), so f64 summation
    order cannot flip near-tie orderings across the switch."""
    from vers_spark.indexes.lsh import _FRONTIER_MIN_LEAVES

    emb10 = load_table(spark, sf_oracle_dir, "embeddings")
    idx = LSHForestIndex.build(emb10, num_trees=9, max_node_size=1, seed=11)
    assert idx._n_leaf_paths() >= _FRONTIER_MIN_LEAVES
    queries = emb10.filter(F.col("vec_id") < 8)
    for mode in ("margin", "dfs"):
        for n_probes in (2, 8):
            full = sorted(map(tuple, idx.search_multiprobe(
                queries, k=10, n_probes=n_probes, probe_mode=mode,
                leaf_descent="full").collect()))
            frontier = sorted(map(tuple, idx.search_multiprobe(
                queries, k=10, n_probes=n_probes, probe_mode=mode,
                leaf_descent="frontier").collect()))
            assert frontier == full, (mode, n_probes)
            assert len(full) > 0, (mode, n_probes)


def test_frontier_probe_mode_validated(spark, emb, small_forest):
    """A typo'd probe_mode must raise in BOTH engines (ADVICE r7: the
    frontier silently fell into the margin branch)."""
    queries = emb.filter(F.col("vec_id") < 3)
    pairs = small_forest.assign_paths(queries).select(
        "query_id", "tree_id", "q_vec"
    )
    with pytest.raises(ValueError, match="probe_mode"):
        small_forest._leaf_order_frontier(
            pairs, small_forest.leaves, "margins", n_probes=2
        )
    with pytest.raises(ValueError, match="probe_mode"):
        small_forest._leaf_order(pairs, small_forest.leaves, "margins")


def test_blocked_compute_with_frontier_warns(spark, emb, small_forest):
    """compute='blocked' composes only with the 'full' descent; requesting
    it with the frontier engine must warn, not silently ignore."""
    import warnings

    queries = emb.filter(F.col("vec_id") < 3)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        small_forest.search_multiprobe(
            queries, k=5, n_probes=2, compute="blocked", leaf_descent="frontier"
        ).collect()
    assert any("full" in str(x.message) for x in w)


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
