"""LSH random-projection forest, Spark-first (reference: `vers/src/indexes/lsh.rs`).

Annoy-style trees (`lsh.rs:31-55`): each inner node is a hyperplane built from
two sampled points — coefficients = b − a, constant = −coeff·midpoint
(`lsh.rs:58-94`) — and each leaf holds ≤ max_node_size ids.

Spark re-expression: a tree node is a PATH BIT-STRING. The index is two
DataFrames:

- ``leaves``      (tree_id INT, path STRING, id LONG, embedding ARRAY<FLOAT>)
- ``hyperplanes`` (tree_id INT, path STRING, coeffs ARRAY<DOUBLE>, constant DOUBLE)

Build is level-synchronous instead of recursive (`lsh.rs:96-111`): ALL trees ×
ALL oversized nodes split in ONE DataFrame pass per depth — sample 2 points
per node (deterministic xxhash64 order, not thread_rng like lsh.rs:63-65),
compute planes driver-side (2 rows per node is all that leaves the executors),
broadcast them back, append one bit to each row's path. Rows are deduplicated
by vector value first (`lsh.rs:113-130`).

Search (`lsh.rs:163-216`) is planned on the driver from the PLANE PACK — the
hyperplane trie and the leaf catalog (keys and sizes) as numpy arrays, one
memory-mapped ``.npy`` file each, written once per index (a saved store keeps
them in ``pack/``). ``search``
gives each query its main leaf per tree by a vectorized descent, and a
(query, tree) pair whose main leaf holds fewer than k members runs the
reference's backup-branch visit (`lsh.rs:203-215`) as a best-first walk of
the trie in deviation-string order — provably the reference recursion's
visit order — with each visited leaf capped at its remaining budget
(bit-parity with a local replay of the reference recursion is gated in
tests). ``search_multiprobe`` takes the first ``n_probes`` leaves of the
same walk per (query, tree), margin-ordered by default (Lv et al. 2007).
Either plan is then read ONCE: a literal partition filter on a saved store,
one Arrow pass folding each leaf against its queries (exact squared
Euclidean, `lsh.rs:271-281`) and keeping each planned (query, leaf)'s
top-cap rows, then the per-leaf caps, the cross-tree dedup and the top-k on
the driver, in numpy. The pack is the only serving engine: a build caps
``max_depth`` at 62 (a node key is an int64), and a pack larger than the
driver's memory is paged in from its files as the planner touches it.

Degenerate config (1 tree, max_node_size ≥ n) ≡ exact brute force — the
oracle check.

At scale: the corpus is replicated T× (same as the reference's per-tree id
lists); each level's shuffle keys on (tree_id, path) so splits are
embarrassingly parallel; plane count ≈ 2·T·n/max_node_size rows, joined per
level (only the current level's planes broadcast).
"""

from __future__ import annotations

import heapq
import json
import os
import shutil
from dataclasses import dataclass
from itertools import islice
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.functions.frames import local_frame
from vers_spark.operators.dedup import dedup_exact
from vers_spark.operators.knn import (
    _NO_ROWS,
    _query_block,
    _rank_within,
    _topk_frame,
)


_PLANE_SCHEMA = "tree_id int, path string, coeffs array<double>, constant double"


def _plane_side(vec_col, coeff_col, const_col):
    """point_is_above (lsh.rs:27-29): coeff·p + const >= 0 → bit '1'."""
    return F.when(V.dot(vec_col, coeff_col) + const_col >= 0, F.lit("1")).otherwise(F.lit("0"))


# Saved-leaf layout: leaves partition by (tree_id, _pp) where _pp FUSES
# the tree id with the path's first pp_len bits (default _PP_LEN),
# 'z'-padded so short/root paths get their own distinct value
# ('01' → '01zz' ≠ '0100'): _pp = 'p<tree>_<prefix>'. Bounded directory
# fan-out (≤ T × 2^pp_len + shorter-path buckets) and the serving plan
# filters on _pp too, so only the probed buckets are scanned (a literal
# _pp IN filter) — the LSH analogue of IVF's partitionBy(cluster_id) posting lists
# (ivfflat.py save). The width is a save() parameter recorded in the
# manifest; the probe side must derive _pp at the SAME width or it never
# matches, so every serving call reads it from params.
#
# WHY the tree id is fused into the value (v3, round 13): DPP prunes each
# partition column INDEPENDENTLY — with the old (tree_id, _pp-sans-tree)
# layout the runtime filter was tree_id IN (probed trees) × _pp IN (union
# of probed prefixes across ALL trees). Every multiprobe batch descends
# every tree, so the tree_id IN never pruned, and the prefix union
# saturated 2^pp_len within ~32 probes — MEASURED at the 1M reference
# store: a 100-query P=4 batch read 128/128 partitions (8M/8M rows)
# despite touching only 119/128 (tree, prefix) PAIRS, and even a 1-query
# batch pruned nothing once its 32 probes covered all 16 prefix values.
# Fusing tree into the value makes the single _pp column identify the
# pair, so DPP's one IN-filter prunes to exactly the probed pairs.
#
# The value is prefixed with a literal 'p': a digit-leading value would
# make spark.read's partition-type inference type the directory column
# as INT — the serving filter's string _pp literals would compare through
# implicit casts (silently defeating partition pruning) and a re-save
# would strip leading zeros. A non-numeric first
# character pins the inferred partition type to STRING on every load.
_PP_LEN = 4

# On-disk layout version, written to manifest.json by save() and REQUIRED
# by load(): version 3 = tree-fused 'p<tree>_<prefix>' _pp leaf partitions
# (round 13); version 2 = 'p'-prefixed prefix-only _pp (round 7); v1 =
# pre-versioning raw-bit _pp. Loading a store whose _pp grammar differs
# from the probe side's silently returns ZERO candidates from every
# search, so load() refuses older versions loudly instead (re-save from
# the source corpus to migrate).
LSH_FORMAT_VERSION = 3


def _auto_pp_len(n_leaf_rows: int, num_trees: int) -> int:
    """save()'s default bucket width: smallest w in [_PP_LEN, 12] keeping
    per-bucket rows ≤ 1M (≈ a few hundred MB of parquet), so leaf buckets
    stay HDFS-block-sized as corpora grow instead of degrading into the
    small-files regime (BASELINE.md §r13 width study)."""
    trees = max(int(num_trees), 1)
    w = _PP_LEN
    while w < 12 and n_leaf_rows / (trees * (1 << w)) > 1_000_000:
        w += 1
    return w


def _pp_of(tree_col, path_col, pp_len: int = _PP_LEN):
    return F.concat(
        F.lit("p"),
        tree_col.cast("string"),
        F.lit("_"),
        F.substring(F.concat(path_col, F.lit("z" * pp_len)), 1, pp_len),
    )


def _read_planes(spark: SparkSession, path: str) -> DataFrame:
    """Read a saved store's hyperplanes. A depth-0 forest (degenerate
    1-tree/unbounded-leaf config) has ZERO planes, and its hyperplane dir
    can hold no schema-bearing part file (stores saved before the planes
    were one unpartitioned table wrote an empty ``_lvl``-partitioned dir)
    — reading it throws UNABLE_TO_INFER_SCHEMA. Fall back to an empty
    frame with the canonical plane schema so the degenerate store
    roundtrips like any other. An older store's ``_lvl`` column rides
    along unread: the pack writer selects its columns by name."""
    try:
        return spark.read.parquet(f"{path}/hyperplanes")
    except Exception:
        return local_frame(spark, _PLANE_SCHEMA, [])


# Above this row count the per-task whole-tree build stops being reasonable —
# each task holds the FULL (deduped) corpus as a float64 matrix plus pandas
# row objects, ~2-4 KB/row at typical dims, and T tree tasks run concurrently
# — so the level-synchronous distributed build takes over.
_LOCAL_BUILD_MAX_ROWS = 500_000


# Bytes of plane coeffs the pack writer collects to the driver per Arrow
# slice. A slice holds whole trees, so a single tree above it is one slice.
_PACK_SLICE_BYTES = 512 * 1024 * 1024

# The pack's flat arrays, one uncompressed ``<name>.npy`` each (row order =
# collect order): the plane coeffs W (n_planes × dim), constants B and
# magnitudes M (f64), the planes' tree ids and node keys, and the leaf
# catalog's tree ids, node keys and member counts.
_PACK_ARRAYS = ("W", "B", "M", "tids", "keys", "ltids", "lkeys", "lsizes")


class _Pack(NamedTuple):
    """The plane pack of one index instance, mapped on the driver: the trie
    arrays ``(tree_keys, tree_rows, W, B, M, leaf_keys)`` plus per-tree
    leaf sizes aligned with ``leaf_keys`` (the serving planner reads
    them). ``W``, ``B`` and ``M`` are views of the memory-mapped pack
    files, so the planner pages in only the planes it visits. Only
    :meth:`LSHForestIndex.assign_paths` ships the trie to the executors,
    through a broadcast it creates on first use."""

    depth: int
    trees: int
    trie: tuple
    leaf_sizes: list


def _path_keys(paths) -> np.ndarray:
    """Node keys of path bit-strings: the path as a '1'-prefixed binary
    integer (root '' → 1, child key = key·2 + bit)."""
    return np.fromiter((int("1" + p, 2) for p in paths), dtype=np.int64, count=len(paths))


def _pack_file(d: str, name: str) -> str:
    return os.path.join(d, f"{name}.npy")


def _tmp_file(d: str, name: str) -> str:
    """Where a pack file is written before :func:`os.replace` publishes it:
    a mapped pack file is never truncated or rewritten in place (its
    readers keep the old inode), which an in-place write would do under a
    loaded instance's mapping."""
    return os.path.join(d, f".{name}.npy.{os.getpid()}.tmp")


def _write_pack(leaves: DataFrame, planes: DataFrame, dest: str) -> None:
    """Write a forest's plane pack into ``dest``, one ``.npy`` per array of
    ``_PACK_ARRAYS``, each published by :func:`os.replace`.

    One aggregate sizes it before any coeff leaves the executors: the leaf
    catalog (member count per leaf) and each tree's plane count and dim.
    The coeffs are then collected through Arrow in slices of whole trees,
    at most ``_PACK_SLICE_BYTES`` each, straight into a memory-mapped
    ``W``, so the driver holds one slice at a time; a forest under the
    budget is one slice, one collect. f64 ALWAYS: in-session forests carry
    array<double> coeffs and a float32 pack would quantize every dot and
    could flip near-tie probe orders; f32-at-rest coeffs widen exactly. A
    depth-0 forest packs as an empty trie whose only leaf is the root."""
    os.makedirs(dest, exist_ok=True)
    # one row per leaf (its member count) and per plane (its dim)
    cat = (
        leaves.select("tree_id", "path", F.lit(0).alias("dim"))
        .unionByName(planes.select("tree_id", "path", F.size("coeffs").alias("dim")))
        .groupBy("tree_id", "path", (F.col("dim") > 0).alias("plane"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("dim").alias("dim"))
        .toPandas()
    )
    lp = cat[~cat["plane"]]
    per_tree = cat[cat["plane"]].groupby("tree_id")["dim"].agg(["size", "max"])
    n = int(per_tree["size"].sum())
    dim = int(per_tree["max"].max()) if n else 0
    slices: list[list[int]] = []
    rows = 0
    for t, m in zip(per_tree.index.tolist(), per_tree["size"].tolist()):
        if not slices or (rows + m) * dim * 8 > _PACK_SLICE_BYTES:
            slices.append([])
            rows = 0
        slices[-1].append(int(t))
        rows += int(m)
    arrs = {
        "B": np.empty(n),
        "M": np.empty(n),
        "tids": np.empty(n, dtype=np.int32),
        "keys": np.empty(n, dtype=np.int64),
        "ltids": lp["tree_id"].to_numpy(dtype=np.int32),
        "lkeys": _path_keys(lp["path"].tolist()),
        "lsizes": lp["n"].to_numpy(dtype=np.int64),
    }
    w_tmp = _tmp_file(dest, "W")
    W = np.lib.format.open_memmap(w_tmp, mode="w+", dtype=np.float64, shape=(n, dim))
    cols = planes.select("tree_id", "path", "coeffs", "constant")
    off = 0
    for trees in slices:
        part = cols if len(slices) == 1 else cols.filter(F.col("tree_id").isin(trees))
        tbl = part.toArrow()
        m = tbl.num_rows
        rs = slice(off, off + m)
        coeffs = tbl.column("coeffs").combine_chunks().flatten()
        Ws = coeffs.to_numpy(zero_copy_only=False).astype(np.float64).reshape(m, dim)
        W[rs] = Ws
        arrs["B"][rs] = tbl.column("constant").to_numpy()
        # plane magnitudes for the multiprobe margin — the same f64
        # left-fold-then-sqrt as V.magnitude (cumsum = fold)
        arrs["M"][rs] = np.sqrt(np.cumsum(Ws * Ws, axis=1)[:, -1])
        arrs["tids"][rs] = tbl.column("tree_id").to_numpy()
        arrs["keys"][rs] = _path_keys(tbl.column("path").to_pylist())
        off += m
    if off != n:
        raise RuntimeError(f"hyperplanes changed while packing: sized {n} rows, read {off}")
    W.flush()
    del W
    os.replace(w_tmp, _pack_file(dest, "W"))
    for name, arr in arrs.items():
        tmp = _tmp_file(dest, name)
        with open(tmp, "wb") as f:
            np.save(f, arr)
        os.replace(tmp, _pack_file(dest, name))


def _copy_pack(src: str, dest: str) -> None:
    """Copy a pack's files into ``dest``, each published by os.replace —
    ``src`` may be ``dest`` itself (a store saved over its own path)."""
    os.makedirs(dest, exist_ok=True)
    for name in _PACK_ARRAYS:
        tmp = _tmp_file(dest, name)
        shutil.copyfile(_pack_file(src, name), tmp)
        os.replace(tmp, _pack_file(dest, name))


def _has_pack(d: str) -> bool:
    return all(os.path.exists(_pack_file(d, name)) for name in _PACK_ARRAYS)


def _read_pack(d: str) -> dict:
    """Map a pack's files. ``np.asarray`` views each memmap as a plain
    ndarray (no copy), so the planner's per-node indexing pays no
    memmap-subclass overhead."""
    return {
        name: np.asarray(np.load(_pack_file(d, name), mmap_mode="r"))
        for name in _PACK_ARRAYS
    }


def _descend(X, K, R, W, B, depth: int):
    """Main-leaf keys of one tree for every row of ``X`` (n × d, f64):
    each row folds the plane test at its current node until it reaches a
    node without a plane. ``K``/``R`` are the tree's sorted inner-node keys
    and their rows in ``W``/``B``; a key is the path as a '1'-prefixed
    binary integer (root '' → 1, child = key·2 + bit).

    BIT-EXACT with the Spark plane test (``_plane_side``, which routes the
    distributed build's members): Spark's V.dot is a left fold of f64
    products, and ``np.cumsum`` over the f64 product row is the same
    sequential accumulation (pinned in
    tests/test_lsh.py::test_assign_paths_routes_distributed_members_to_stored_paths),
    so build-time routing and query-time descent never disagree on a
    boundary."""
    key = np.ones(len(X), dtype=np.int64)
    alive = np.arange(len(X))
    for _ in range(depth):
        if not len(K) or not len(alive):
            break
        ka = key[alive]
        pos = np.searchsorted(K, ka)
        pos[pos == len(K)] = 0  # safe index; miss-checked next
        has = K[pos] == ka
        if not has.any():
            break
        alive = alive[has]
        pr = R[pos[has]]
        dots = np.cumsum(W[pr] * X[alive], axis=1)[:, -1]
        key[alive] = (key[alive] << 1) | ((dots + B[pr]) >= 0)
    return key


def _key_path(key) -> str:
    """A node key back to its path bit-string."""
    return format(int(key), "b")[1:]


def _best_first(q, K, R, W, B, M, LK, dfs: bool):
    """The leaves of one tree in probe order for query ``q``, as
    ``(index into LK, dev, cost)``: a heap-ordered best-first walk of the
    trie that pops the least (cost, dev) node (dfs: least dev), yields it if
    it is a leaf, else pushes both children with the margin accumulated as
    an ascending-level f64 left fold (margin =
    |dot+const| / ‖coeffs‖ with the cumsum kernel, bit-exact with
    V.dot/V.magnitude). Both keys are MONOTONE along descent — cost adds
    ≥ 0, dev only extends — so the pop order IS the global probe order
    over every leaf of the tree (gated against an independent replay in
    tests/test_lsh_backup.py::test_multiprobe_margin_parity_with_local_replay).
    In dfs order the main leaf (all-agree deviation string) comes first;
    in margin order it costs 0 and sorts first too."""
    heap = [("", 1, 0.0)] if dfs else [(0.0, "", 1)]
    while heap:
        if dfs:
            dev, key, cost = heapq.heappop(heap)
        else:
            cost, dev, key = heapq.heappop(heap)
        p = int(np.searchsorted(LK, key))
        if p < len(LK) and LK[p] == key:
            yield p, dev, cost
            continue
        p = int(np.searchsorted(K, key))
        if p >= len(K) or K[p] != key:
            continue  # empty child side: neither leaf nor inner
        pr = int(R[p])
        dot = float(np.cumsum(W[pr] * q)[-1]) + float(B[pr])
        qbit = dot >= 0.0
        margin = abs(dot) / float(M[pr])
        for cbit in (0, 1):
            agree = (cbit == 1) == qbit
            cdev = dev + ("0" if agree else "1")
            ccost = cost if agree else cost + margin
            ckey = (key << 1) | cbit
            heapq.heappush(heap, (cdev, ckey, ccost) if dfs else (ccost, cdev, ckey))


def _plan_leaves(
    q_mat,
    pack: _Pack,
    sizes: list,
    k: int,
    dfs: bool,
    backup_fill: bool = True,
    n_probes: int | None = None,
) -> dict:
    """The serving plan of one query batch, on the driver: ``{(tree_id,
    path): [(query row, cap), …]}`` — which leaves to read and how many of
    their nearest members each query keeps from each.

    With ``n_probes`` (multiprobe) every (query, tree) pair reads the first
    ``n_probes`` non-empty leaves of its probe-order walk
    (``_best_first``), each with cap k.

    Without it (search) a vectorized descent gives every query its main
    leaf per tree. A pair whose main leaf holds ≥ k members (``sizes``),
    or any pair without ``backup_fill``, reads the main leaf with cap k.
    An underfilled pair walks the leaves in probe order until the leaves
    taken hold ≥ k members; each takes ``cap = k − cum_before`` — the
    reference's budgeted backup recursion (lsh.rs:203-215): in
    deviation-string order a member is admitted iff its within-leaf rank
    ≤ k − Σ sizes of earlier leaves.

    Leaves of size 0 (no allowed member under ``allowed_ids``) are skipped
    and end neither walk. A cap of k drops nothing: a member beyond the k
    nearest of its own leaf cannot be among a query's k nearest."""
    tree_keys, tree_rows, W, B, M, leaf_keys = pack.trie
    plan: dict = {}
    for t in range(pack.trees):
        K, R, LK, LS = tree_keys[t], tree_rows[t], leaf_keys[t], sizes[t]
        if n_probes is None:
            main = _descend(q_mat, K, R, W, B, pack.depth)
            pos = np.minimum(np.searchsorted(LK, main), max(len(LK) - 1, 0))
        for qi in range(len(q_mat)):
            walk = (  # lazy: a filled main leaf never starts it
                p for p, _dev, _cost in _best_first(q_mat[qi], K, R, W, B, M, LK, dfs)
                if LS[p]
            )
            if n_probes is not None:
                for p in islice(walk, n_probes):
                    plan.setdefault((t, _key_path(LK[p])), []).append((qi, k))
                continue
            key = int(main[qi])
            n_main = int(LS[pos[qi]]) if len(LK) and LK[pos[qi]] == key else 0
            if n_main >= k or not backup_fill:
                if n_main:
                    plan.setdefault((t, _key_path(key)), []).append((qi, k))
                continue
            cum = 0
            for p in walk:
                plan.setdefault((t, _key_path(LK[p])), []).append((qi, k - cum))
                cum += int(LS[p])
                if cum >= k:
                    break
    return plan


def _leaf_sizes_of(leaves: DataFrame, pack: _Pack) -> list:
    """Per-tree member counts of ``leaves`` (a filtered leaf table) aligned
    with the pack's leaf keys, from one aggregate; a leaf with no row
    left counts 0."""
    leaf_keys = pack.trie[5]
    sizes = [np.zeros(len(lk), dtype=np.int64) for lk in leaf_keys]
    for t, path, n in leaves.groupBy("tree_id", "path").agg(F.count(F.lit(1))).collect():
        sizes[t][np.searchsorted(leaf_keys[t], int("1" + path, 2))] = n
    return sizes


def _merge_leaf_candidates(spark, qid, leaf, nid, dist, cap, k: int) -> DataFrame:
    """The driver's finish of a planned LSH batch: per (query, leaf) the
    ``cap`` nearest rows (ties by id), then one row per (query, id) — a
    duplicated id carries the same vector, hence the same distance, in
    every tree — then the top-k (:func:`~vers_spark.operators.knn._topk_frame`)."""
    order = np.lexsort((nid, dist, leaf, qid))
    kept = order[_rank_within(order, qid, leaf) <= cap[order]]
    by_id = kept[np.lexsort((dist[kept], nid[kept], qid[kept]))]
    first = by_id[_rank_within(by_id, qid, nid) == 1]
    return _topk_frame(spark, qid[first], nid[first], dist[first], k)


def _local_build_schema(emb_type: str) -> str:
    """Output schema preserves the INPUT embedding element type — forcing a
    float32 roundtrip on a float64 (e.g. normalized) corpus would silently
    change every downstream distance/equality."""
    return (
        "tree_id int, kind string, path string, id long, "
        f"embedding {emb_type}, coeffs array<double>, constant double"
    )


def _build_trees_in_pandas(num_trees: int, max_node_size: int, seed: int, max_depth: int):
    """Grouped-map kernel: build one whole random-projection tree per group.

    Splitting reproduces lsh.rs:58-94 in float64: coeff = b − a, constant =
    −coeff·midpoint, side = coeff·p + constant ≥ 0. Both sampled points land
    on opposite sides by construction (±‖b−a‖²/2), so no split is ever empty.
    Sampling is a seeded RandomState((seed, tree_id, depth, node)) draw —
    deterministic, unlike the reference's thread_rng (lsh.rs:63-65).
    """
    import numpy as np
    import pandas as pd

    def build_tree(pdf: "pd.DataFrame") -> "pd.DataFrame":
        tree_id = int(pdf["tree_id"].iloc[0])
        ids = pdf["id"].to_numpy()
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        embs = pdf["embedding"].tolist()
        leaves: list[tuple[str, int, object]] = []
        planes: list[tuple[str, list[float], float]] = []
        stack: list[tuple[str, np.ndarray]] = [("", np.arange(len(ids)))]
        while stack:
            path, idx = stack.pop()
            if len(idx) <= max_node_size or len(path) >= max_depth:
                for i in idx:
                    leaves.append((path, int(ids[i]), embs[i]))
                continue
            rng = np.random.RandomState(
                (seed * 1_000_003 + tree_id * 8191 + len(path) * 131 + int(idx[0])) % (2**31)
            )
            i1, i2 = rng.choice(len(idx), 2, replace=False)
            a, b = X[idx[i1]], X[idx[i2]]
            if np.array_equal(a, b):  # corpus was deduped; belt and braces
                for i in idx:
                    leaves.append((path, int(ids[i]), embs[i]))
                continue
            coeff = b - a
            const = float(-(coeff @ ((a + b) / 2.0)))
            planes.append((path, coeff.tolist(), const))
            side = X[idx] @ coeff + const >= 0
            stack.append((path + "1", idx[side]))
            stack.append((path + "0", idx[~side]))
        out = pd.DataFrame(
            {
                "tree_id": tree_id,
                "kind": ["leaf"] * len(leaves) + ["plane"] * len(planes),
                "path": [p for p, _, _ in leaves] + [p for p, _, _ in planes],
                "id": [i for _, i, _ in leaves] + [None] * len(planes),
                "embedding": [e for _, _, e in leaves] + [None] * len(planes),
                "coeffs": [None] * len(leaves) + [c for _, c, _ in planes],
                "constant": [None] * len(leaves) + [c for _, _, c in planes],
            }
        )
        return out

    return build_tree


def _split_leaf_in_pandas(max_node_size: int, seed: int, max_depth: int):
    """Grouped-map kernel for ``add``'s overflow rebuild (lsh.rs:218-251):
    one group = one oversized leaf's members (tree_id, path fixed); split it
    into a subtree rooted at that path with the same hyperplane rule as the
    build. Deterministic seeding keys on (seed, tree_id, node path) — the
    reference's insert uses thread_rng here, so any fixed scheme is a
    faithful strengthening."""
    import zlib

    import numpy as np
    import pandas as pd

    def split(pdf: "pd.DataFrame") -> "pd.DataFrame":
        tree_id = int(pdf["tree_id"].iloc[0])
        root = str(pdf["path"].iloc[0])
        ids = pdf["id"].to_numpy()
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        embs = pdf["embedding"].tolist()
        leaves: list[tuple[str, int, object]] = []
        planes: list[tuple[str, list[float], float]] = []
        stack: list[tuple[str, np.ndarray]] = [(root, np.arange(len(ids)))]
        while stack:
            path, idx = stack.pop()
            if len(idx) <= max_node_size or len(path) >= max_depth:
                for i in idx:
                    leaves.append((path, int(ids[i]), embs[i]))
                continue
            rng = np.random.RandomState(
                (seed * 1_000_003 + tree_id * 8191 + zlib.crc32(path.encode())) % (2**31)
            )
            i1, i2 = rng.choice(len(idx), 2, replace=False)
            a, b = X[idx[i1]], X[idx[i2]]
            if np.array_equal(a, b):  # duplicate-valued members: stay a leaf
                for i in idx:
                    leaves.append((path, int(ids[i]), embs[i]))
                continue
            coeff = b - a
            const = float(-(coeff @ ((a + b) / 2.0)))
            planes.append((path, coeff.tolist(), const))
            side = X[idx] @ coeff + const >= 0
            stack.append((path + "1", idx[side]))
            stack.append((path + "0", idx[~side]))
        return pd.DataFrame(
            {
                "tree_id": tree_id,
                "kind": ["leaf"] * len(leaves) + ["plane"] * len(planes),
                "path": [p for p, _, _ in leaves] + [p for p, _, _ in planes],
                "id": [i for _, i, _ in leaves] + [None] * len(planes),
                "embedding": [e for _, _, e in leaves] + [None] * len(planes),
                "coeffs": [None] * len(leaves) + [c for _, c, _ in planes],
                "constant": [None] * len(leaves) + [c for _, _, c in planes],
            }
        )

    return split


@dataclass
class LSHForestIndex:
    spark: SparkSession
    leaves: DataFrame
    hyperplanes: DataFrame
    params: dict

    @staticmethod
    def build(
        corpus: DataFrame,
        num_trees: int = 8,
        max_node_size: int = 100,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        max_depth: int = 24,
        backend: str = "auto",
    ) -> "LSHForestIndex":
        """Build the forest.

        backend:
        - ``"local"``  — one whole tree per task via applyInPandas, the direct
          analogue of the reference's rayon per-tree parallelism
          (lsh.rs:145-148): ONE shuffle + one numpy pass, no driver loop.
          Requires each tree's corpus slice to fit in a task (fine up to a few
          million rows × moderate dims).
        - ``"distributed"`` — level-synchronous splitting (one DataFrame pass
          per depth); the 100 TB path, no single task ever holds the corpus.
        - ``"auto"`` — local below ``_LOCAL_BUILD_MAX_ROWS`` rows, else
          distributed.

        ``max_depth`` (1 to 62: a node key is a '1'-prefixed int64) bounds
        every path, also those ``add`` grows; it is recorded in ``params``.
        """
        if not 1 <= int(max_depth) <= 62:
            raise ValueError(f"max_depth must be in [1, 62], got {max_depth}")
        spark = corpus.sparkSession
        data = corpus.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("embedding")
        )
        # cpu_spread (r15): a byte-tiny single-file corpus arrives as ONE
        # scan partition, so the dedup-window map side and the ×num_trees
        # replicate+shuffle map side each ran single-task (profiled
        # 0.82-0.94 s stages at sf0.1); the gate keeps real-scale scans
        # (≥ cores splits) untouched. Result-exact: dedup_exact's
        # first-id-wins window is partitioning-independent.
        from vers_spark.functions.spread import cpu_spread

        data = cpu_spread(data)
        # bit-exact-style dedup, first id wins (lsh.rs:113-130)
        data = dedup_exact(data, ["embedding"], ["id"])

        if backend == "auto":
            n_rows = data.count()
            backend = "local" if n_rows <= _LOCAL_BUILD_MAX_ROWS else "distributed"
        if backend == "local":
            return LSHForestIndex._build_local(
                spark, data, num_trees, max_node_size, seed, max_depth
            )

        trees = spark.range(num_trees).select(F.col("id").cast("int").alias("tree_id"))
        frontier = data.crossJoin(F.broadcast(trees)).select(
            "tree_id", F.lit("").alias("path"), "id", "embedding"
        )
        frontier = frontier.localCheckpoint(eager=False)

        # SETTLED rows (their node stopped splitting) leave the loop: the
        # per-level rewrite touches only the live frontier, so level cost
        # tracks the frontier's volume instead of the whole corpus — on the
        # deep unbalanced tail (annoy-style 2-point splits), most rows have
        # settled and the old whole-corpus rewrite spent ~constant full-IO
        # per level rewriting leaves that could no longer change (measured
        # ~5 min/level of spill IO at 1M×300 past depth ~14). Settled rows
        # append to a scratch Parquet log — a union-of-DataFrames would
        # grow the plan tree by one branch per level.
        from vers_spark.streaming.events import scratch_dir as _scratch

        settled_dir = _scratch("vs_lshbuild_settled_") + "/leaves"
        any_settled = False

        all_planes: list[tuple[int, str, list[float], float]] = []
        depth_reached = 0
        for depth in range(max_depth):
            # ONE job per level: node size (count window) + deterministic
            # 2-point sample (row_number window, replaces thread_rng sampling
            # lsh.rs:63-65) in the same shuffle; oversized-ness filters the
            # collected sample instead of a separate groupBy+isEmpty pass.
            node_w = W.partitionBy("tree_id", "path")
            pick = node_w.orderBy(
                F.xxhash64("id", F.lit(seed), F.lit(depth), "tree_id"), F.asc("id")
            )
            # the window runs over SLIM (tree, path, id) rows — carrying the
            # embedding through WindowExec buffers the whole node's vectors
            # in each window partition (~2.4 GB/node at 1M×300 depth 0, the
            # OOM observed on the 1M build); the ≤2 winners per node then
            # broadcast-join back to fetch just their embeddings
            picked = (
                frontier.select("tree_id", "path", "id")
                .withColumn("_n", F.count(F.lit(1)).over(node_w))
                .withColumn("_rn", F.row_number().over(pick))
                .filter((F.col("_rn") <= 2) & (F.col("_n") > max_node_size))
                .select("tree_id", "path", "_rn", "id")
            )
            sampled = (
                frontier.join(F.broadcast(picked), ["tree_id", "path", "id"])
                .select("tree_id", "path", "_rn", "embedding")
                .collect()
            )
            if not sampled:
                break
            depth_reached = depth + 1
            nodes: dict[tuple[int, str], dict[int, list[float]]] = {}
            for r in sampled:
                nodes.setdefault((r["tree_id"], r["path"]), {})[r["_rn"]] = r["embedding"]
            level_planes = []
            for (tid, path), pts in nodes.items():
                if len(pts) < 2:
                    continue
                a = np.asarray(pts[1], dtype=np.float64)
                b = np.asarray(pts[2], dtype=np.float64)
                coeff = b - a  # lsh.rs:74-77
                midpoint = (a + b) / 2.0
                const = float(-(coeff @ midpoint))  # lsh.rs:78-82
                level_planes.append((tid, path, coeff.tolist(), const))
            if not level_planes:
                break
            all_planes.extend(level_planes)
            planes_df = local_frame(spark, _PLANE_SCHEMA, level_planes)
            split = frontier.join(F.broadcast(planes_df), ["tree_id", "path"], "left")
            # nodes WITHOUT a plane this level (fit max_node_size, or <2
            # distinct points) are final leaves — settle them out
            split.filter(F.col("coeffs").isNull()).select(
                "tree_id", "path", "id", "embedding"
            ).write.mode("append").parquet(settled_dir)
            any_settled = True
            frontier = (
                split.filter(F.col("coeffs").isNotNull())
                .withColumn(
                    "path",
                    F.concat(
                        "path",
                        _plane_side(F.col("embedding"), F.col("coeffs"), F.col("constant")),
                    ),
                )
                .select("tree_id", "path", "id", "embedding")
                # truncate lineage each level; lazy so materialization rides
                # the NEXT level's sample-collect job
                .localCheckpoint(eager=False)
            )

        if any_settled:
            assign = spark.read.parquet(settled_dir).unionByName(frontier)
        else:
            assign = frontier

        hyperplanes = local_frame(spark, _PLANE_SCHEMA, all_planes)
        params = {
            "num_trees": int(num_trees),
            "max_node_size": int(max_node_size),
            "seed": seed,
            "depth": depth_reached,
            "max_depth": int(max_depth),
            "metric": "sq_euclidean",
        }
        return LSHForestIndex(spark, assign, hyperplanes, params)

    @staticmethod
    def _build_local(
        spark: SparkSession,
        data: DataFrame,
        num_trees: int,
        max_node_size: int,
        seed: int,
        max_depth: int,
    ) -> "LSHForestIndex":
        trees = spark.range(num_trees).select(F.col("id").cast("int").alias("tree_id"))
        replicated = data.crossJoin(F.broadcast(trees)).select("tree_id", "id", "embedding")
        emb_type = data.schema["embedding"].dataType.simpleString()
        built = (
            replicated.groupBy("tree_id")
            .applyInPandas(
                _build_trees_in_pandas(num_trees, max_node_size, seed, max_depth),
                schema=_local_build_schema(emb_type),
            )
            .localCheckpoint(eager=True)  # built once, read twice (leaves + planes)
        )
        leaves = built.filter(F.col("kind") == "leaf").select("tree_id", "path", "id", "embedding")
        hyperplanes = built.filter(F.col("kind") == "plane").select(
            "tree_id", "path", "coeffs", "constant"
        )
        depth = (
            hyperplanes.agg(F.max(F.length("path")).alias("d")).collect()[0]["d"]
        )
        params = {
            "num_trees": int(num_trees),
            "max_node_size": int(max_node_size),
            "seed": seed,
            "depth": int(depth) + 1 if depth is not None else 0,
            "max_depth": int(max_depth),
            "metric": "sq_euclidean",
        }
        return LSHForestIndex(spark, leaves, hyperplanes, params)

    # ---------------- search ----------------

    def _assemble_pack(self, arrs: dict) -> _Pack:
        """Per-tree sorted node-key structures over the flat pack arrays
        (:func:`_read_pack`). A node's key is its path as a '1'-prefixed
        binary integer (root '' → 1, child key = key·2 + bit) —
        depth-independent and SPARSE, so a 24-deep imbalanced forest (the
        1M reference config measured n_leaf_paths ≈ 126k, max depth 24)
        packs as ~16k keys/tree instead of the 134M dense heap slots a
        direct node-index table would need."""
        T = int(self.params["num_trees"])
        tids, keys = arrs["tids"], arrs["keys"]
        tree_keys, tree_rows = [], []
        for t in range(T):
            mask = tids == t
            order = np.argsort(keys[mask], kind="stable")
            tree_keys.append(keys[mask][order])
            tree_rows.append(np.nonzero(mask)[0][order].astype(np.int64))
        ltids, lkeys, lsizes = arrs["ltids"], arrs["lkeys"], arrs["lsizes"]
        leaf_keys, leaf_sizes = [], []
        for t in range(T):
            mask = ltids == t
            order = np.argsort(lkeys[mask], kind="stable")
            leaf_keys.append(lkeys[mask][order])
            leaf_sizes.append(lsizes[mask][order])
        trie = (tree_keys, tree_rows, arrs["W"], arrs["B"], arrs["M"], leaf_keys)
        return _Pack(int(self.params["depth"]), T, trie, leaf_sizes)

    def _planes_pack(self) -> _Pack:
        """The instance's plane pack, mapped once per instance from its pack
        files: a saved store's ``pack/`` (wired by :meth:`load`), else a
        pack :func:`_write_pack` writes into a local scratch dir (on disk,
        not tmpfs, whose pages are RAM) on first use. Amortizes the
        collect across every serving call on this instance."""
        if "_planes_pack_cache" not in self.__dict__:
            d = self.__dict__.get("_pack_dir")
            if d is None:
                from vers_spark.sources.staging import ephemeral_dir

                d = ephemeral_dir("vs_lsh_pack_", tmpfs=False)
                _write_pack(self.leaves, self.hyperplanes, d)
                self._pack_dir = d
            self._planes_pack_cache = self._assemble_pack(_read_pack(d))
        return self._planes_pack_cache

    def release_pack(self) -> None:
        """Clear the instance's mapped pack and drop its trie broadcast (if
        :meth:`assign_paths` created one) from executor memory
        (non-blocking unpersist).

        Safe at any point: unpersist leaves the driver-held value intact,
        so a not-yet-materialized plan that still references the broadcast
        re-ships it on demand, and the next _planes_pack() call on this
        instance maps its pack files again. ``add()`` calls this on the
        SOURCE instance — sessions that loop add() cycles (each returning a
        new instance with its own pack) would otherwise accumulate one
        executor-resident trie per retired instance (ADVICE r11)."""
        self.__dict__.pop("_planes_pack_cache", None)
        bc = self.__dict__.pop("_pack_bc", None)
        if bc is not None:
            bc.unpersist(blocking=False)

    def assign_paths(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Descend every tree for every row → (query_id, q_vec, tree_id,
        path). Identical vectors always get identical paths (deterministic
        dots).

        ONE mapInPandas pass against the broadcast plane trie (a per-level
        join descent scheduled ``depth`` sequential join stages, ~13 at the
        1M/T16 config). The numpy kernel (:func:`_descend`, shared with the
        serving planner) is BIT-EXACT with the Spark plane test the
        distributed build routes members with. The trie broadcast is
        created on the first call and reused; serving never ships it (the
        planner runs on the driver)."""
        pack = self._planes_pack()
        bc = self.__dict__.get("_pack_bc")
        if bc is None:
            bc = self._pack_bc = self.spark.sparkContext.broadcast(pack.trie)
        depth, T = pack.depth, pack.trees
        emb_t = df.schema[vec_col].dataType.simpleString()
        id_t = df.schema[id_col].dataType.simpleString()
        src = df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )

        def descend(batches):
            import numpy as np
            import pandas as pd

            tree_keys, tree_rows, W, B, _M, _leaf_keys = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.array(pdf["q_vec"].tolist(), dtype=np.float64)
                paths = [
                    _key_path(key)
                    for t in range(T)
                    for key in _descend(X, tree_keys[t], tree_rows[t], W, B, depth).tolist()
                ]
                yield pd.DataFrame(
                    {
                        "query_id": pd.concat([pdf["query_id"]] * T, ignore_index=True),
                        "q_vec": pd.concat([pdf["q_vec"]] * T, ignore_index=True),
                        "tree_id": np.repeat(np.arange(T, dtype=np.int32), len(pdf)),
                        "path": paths,
                    }
                )

        return src.mapInPandas(
            descend,
            f"query_id {id_t}, q_vec {emb_t}, tree_id int, path string",
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        allowed_ids: DataFrame | None = None,
        backup_fill: bool = True,
        probe_mode: str = "dfs",
    ) -> DataFrame:
        """ANN search: per query the k nearest members (squared Euclidean,
        ties by ascending id) of the leaves it reaches in every tree.
        Returns (query_id, neighbour_id, distance, rank).

        Bounded-batch contract: the query batch is collected to the driver
        (at most ``validate.MAX_QUERY_BATCH_ROWS`` rows,
        ``QueryBatchTooLarge`` above); query ids must be integral and come
        back as long. The driver plans from the plane pack
        (:func:`_plan_leaves`): a vectorized descent gives each (query,
        tree) its main leaf, and a pair whose main leaf holds fewer than k
        members walks the leaves in ``probe_mode`` order until the leaves
        taken hold ≥ k, each capped at its remaining budget. The planned
        leaves are read in one pass and the batch is finished on the driver
        (:meth:`_serve_plan`; the result is a local frame).

        ``backup_fill`` implements the reference's backup-branch rule
        (lsh.rs:203-215): per tree, the search is a BUDGETED depth-first
        visit — main branch first at every node, and whenever the visit has
        accumulated fewer than k candidates, the sibling (backup) subtree of
        the deepest unvisited divergence is taken next, recursively; each
        visited leaf contributes its ``remaining-budget`` nearest members
        (lsh.rs:170-200). ``backup_fill=False`` reads main leaves only.

        ``allowed_ids`` composes a metadata predicate INTO the candidate set
        (semi-join BEFORE sizing/fill, so underflow and budgets operate on
        the filtered corpus ≡ an index built on the subset; the filtered
        leaf sizes come from one aggregate) — with the degenerate
        1-tree/unbounded-leaf config this is provably the exact filtered
        KNN, the same pre-filter contract as IVF's candidate_ids.

        ``probe_mode`` orders the budgeted visit of non-main leaves:
        - ``"dfs"`` (default): deviation-string lexicographic order — the
          reference recursion's exact visit order (lsh.rs:203-215).
        - ``"margin"``: multi-probe order (Lv et al. 2007, "Multi-Probe
          LSH"): leaves sort by the TOTAL QUERY MARGIN of their disagreeing
          ancestor planes, Σ |coeffs·q + const| / ‖coeffs‖ over levels
          where the leaf took the opposite side. A small margin means the
          query sat near that hyperplane, so the sibling subtree is the
          likeliest to hold true neighbours. The main leaf costs 0 and
          still sorts first; the deviation string is the deterministic
          tie-break."""
        if probe_mode not in ("dfs", "margin"):
            raise ValueError(f"unknown probe_mode {probe_mode!r}")
        block = _query_block(queries, query_id, query_vec, "lsh_search")
        if block is None:
            return _topk_frame(self.spark, *_NO_ROWS, k)
        leaves = self.leaves
        if allowed_ids is not None:
            keep = allowed_ids.select(
                F.col(allowed_ids.columns[0]).cast("long").alias("id")
            )
            leaves = leaves.join(F.broadcast(keep), "id", "left_semi")
        pack = self._planes_pack()
        sizes = pack.leaf_sizes if allowed_ids is None else _leaf_sizes_of(leaves, pack)
        plan = _plan_leaves(block[1], pack, sizes, k, probe_mode == "dfs", backup_fill)
        return self._serve_plan(leaves, block, plan, k)

    def search_multiprobe(
        self,
        queries: DataFrame,
        k: int,
        n_probes: int = 2,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        probe_mode: str = "margin",
    ) -> DataFrame:
        """True multi-probe search (Lv et al. 2007): per (query, tree) visit
        the best ``n_probes`` leaves by the probe order — margin-ascending
        by default, deviation-string DFS with ``probe_mode="dfs"`` (both
        defined under :meth:`search`) — and exact-rerank the union. Unlike
        :meth:`search`'s backup fill (which probes extra leaves only on
        UNDERFLOW), this always pays n_probes·max_node_size candidates per
        tree for recall beyond the main leaf: the standard recall-vs-work
        dial when adding trees is too expensive (T trees × P probes ≈ the
        recall of T·P trees at the memory of T).

        Same engine and bounded-batch contract as :meth:`search`: the
        driver plans the probe set from the plane pack (the first
        ``n_probes`` leaves of each pair's best-first walk,
        :func:`_plan_leaves`) and :meth:`_serve_plan` reads it in one
        pass."""
        if probe_mode not in ("dfs", "margin"):
            raise ValueError(f"unknown probe_mode {probe_mode!r}")
        block = _query_block(queries, query_id, query_vec, "lsh_search_multiprobe")
        if block is None:
            return _topk_frame(self.spark, *_NO_ROWS, k)
        pack = self._planes_pack()
        plan = _plan_leaves(
            block[1], pack, pack.leaf_sizes, k, probe_mode == "dfs", n_probes=n_probes
        )
        return self._serve_plan(self.leaves, block, plan, k)

    def _serve_plan(self, leaves: DataFrame, block: tuple, plan: dict, k: int) -> DataFrame:
        """Read a driver-side plan (:func:`_plan_leaves`) in one pass and
        finish the batch on the driver — the serving tail of both search
        methods. ``block`` is the collected (ids, vectors) batch whose rows
        the plan indexes. Returns a local frame (``RESULT_SCHEMA``).

        - the leaves are read once, through a literal ``_pp IN (…)``
          filter (static partition pruning on a saved store) and a filter
          on the planned (tree_id, path) pairs;
        - one ``mapInPandas`` folds each planned leaf against its queries
          (``vector_np.fold_distances``, bit-equal to the Spark fold
          ``V.sq_euclidean``) and keeps, per planned (query, leaf), the task's
          top-``cap`` rows over all its Arrow batches, emitted once per
          task — so the rows fetched are bounded by the plan's caps times
          the task count;
        - one ``toArrow()`` fetches them, and numpy applies the per-leaf
          caps again (a leaf may span tasks), the (query, id) dedup across
          trees (the reference's DashSet union, lsh.rs:266-270) and the
          top-k ranking (:func:`~vers_spark.operators.knn._topk_frame`),
          the rows a per-leaf cap window, dedup and ranking window return
          for the same candidates."""
        from vers_spark.functions import vector_np as VN

        if not plan:
            return _topk_frame(self.spark, *_NO_ROWS, k)
        # the filters go in as SQL text — one parse instead of a py4j call
        # per literal; paths are bit strings and _pp values 'p<tree>_<bits
        # or z>', so quoting them is safe
        by_tree: dict[int, list[str]] = {}
        for t, path in sorted(plan):
            by_tree.setdefault(t, []).append(f"'{path}'")
        if "_pp" in leaves.columns:
            w = self._pp_len()
            pps = sorted({f"'p{t}_{(path + 'z' * w)[:w]}'" for t, path in plan})
            leaves = leaves.filter(F.expr(f"_pp IN ({', '.join(pps)})"))
        planned = F.expr(
            " OR ".join(
                f"(tree_id = {t} AND path IN ({', '.join(paths)}))"
                for t, paths in by_tree.items()
            )
        )
        # (tree_id, path) → (leaf number, [(query row, cap), …])
        numbered = {key: (li, plan[key]) for li, key in enumerate(sorted(plan))}
        bc = self.spark.sparkContext.broadcast((*block, numbered))

        def leaf_topk(batches):
            # per planned (query row, leaf), the task's running top-cap over
            # every Arrow batch; emitted once, when the task's input ends
            ids, mat, pl = bc.value
            best: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
            caps: dict[tuple[int, int], int] = {}
            for pdf in batches:
                for (t, path), grp in pdf.groupby(["tree_id", "path"]):
                    li, entries = pl.get((int(t), path), (-1, ()))
                    b_ids = grp["id"].to_numpy(dtype=np.int64)
                    b_mat = np.array(grp["embedding"].tolist(), dtype=np.float64)
                    for qi, cap in entries:
                        dist = VN.fold_distances(mat[qi], b_mat, "sq_euclidean")
                        VN.keep_topk(best, (qi, li), b_ids, dist, cap)
                        caps[qi, li] = cap
            if best:
                lens = [len(b[0]) for b in best.values()]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat([ids[qi] for qi, _ in best], lens),
                        "_leaf": np.repeat([li for _, li in best], lens).astype(np.int32),
                        "neighbour_id": np.concatenate([b[0] for b in best.values()]),
                        "_dist": np.concatenate([b[1] for b in best.values()]),
                        "_cap": np.repeat([caps[key] for key in best], lens).astype(np.int32),
                    }
                )

        cands = (
            leaves.filter(planned)
            .select("tree_id", "path", "id", "embedding")
            .mapInPandas(
                leaf_topk,
                "query_id long, _leaf int, neighbour_id long, _dist double, _cap int",
            )
            .toArrow()
        )
        return _merge_leaf_candidates(
            self.spark, *(cands.column(c).to_numpy() for c in cands.column_names), k
        )

    def _pp_len(self) -> int:
        """The saved store's leaf-bucket prefix width. The serving filter
        must derive _pp at this width (a mismatch makes it silently match
        nothing), so it rides the manifest — absent means the default,
        covering every pre-parameter store."""
        return int(self.params.get("pp_len", _PP_LEN))

    # ---------------- maintenance ----------------

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        split_overflow: bool = True,
    ) -> "LSHForestIndex":
        """Micro-append (lsh.rs:255-263): route new vectors through every
        tree's planes into their leaves, then — like the reference's insert
        (lsh.rs:218-251) — REBUILD any leaf that overflows max_node_size
        into a subtree. The rebuild is a grouped applyInPandas over only the
        affected (tree_id, path) groups (each holds one oversized leaf's
        members), reusing the build's split kernel rooted at the leaf's
        path — work is proportional to the overflowed leaves, never the
        corpus. ``split_overflow=False`` restores the defer-to-next-build
        behavior. Seeding differs from the full build's (it keys on the
        leaf path, not the build-time row order) — allowed, the reference
        uses thread_rng here (lsh.rs:63-65)."""
        routed = self.assign_paths(vectors, id_col, vec_col).select(
            "tree_id", "path", F.col("query_id").alias("id"), F.col("q_vec").alias("embedding")
        )
        # drop the saved-layout partition columns (if file-loaded): the
        # post-add index is in-session lineage; save() re-derives them
        leaves = self.leaves.drop("_pp").unionByName(routed)
        planes = self.hyperplanes.drop("_lvl")
        params = self.params
        if split_overflow:
            max_node = int(params["max_node_size"])
            max_depth = int(params.get("max_depth", 24))
            sizes = leaves.groupBy("tree_id", "path").agg(
                F.count(F.lit(1)).alias("_n")
            )
            over = sizes.filter(F.col("_n") > max_node).select("tree_id", "path")
            if not over.isEmpty():
                leaves = leaves.localCheckpoint(eager=False)
                affected = leaves.join(F.broadcast(over), ["tree_id", "path"], "left_semi")
                kept = leaves.join(F.broadcast(over), ["tree_id", "path"], "left_anti")
                emb_type = leaves.schema["embedding"].dataType.simpleString()
                rebuilt = affected.groupBy("tree_id", "path").applyInPandas(
                    _split_leaf_in_pandas(max_node, int(params["seed"]), max_depth),
                    schema=_local_build_schema(emb_type),
                )
                rebuilt = rebuilt.localCheckpoint(eager=True)  # read twice below
                new_leaves = rebuilt.filter(F.col("kind") == "leaf").select(
                    "tree_id", "path", "id", "embedding"
                )
                new_planes = rebuilt.filter(F.col("kind") == "plane").select(
                    "tree_id", "path", "coeffs", "constant"
                )
                leaves = kept.unionByName(new_leaves)
                planes = planes.unionByName(new_planes)
                new_depth = (
                    new_planes.agg(F.max(F.length("path"))).collect()[0][0]
                )
                if new_depth is not None:
                    params = dict(params)
                    params["depth"] = max(int(params["depth"]), int(new_depth) + 1)
        # retire the source instance's executor-resident pack: the returned
        # index re-packs against its own (possibly split-extended) trie, so
        # looping add() cycles must not stack one broadcast per generation
        self.release_pack()
        return LSHForestIndex(self.spark, leaves, planes, params)

    # ---------------- persistence ----------------

    def save(self, path: str, pp_len: int | None = None) -> None:
        """Persist the index: the leaves, the hyperplanes (one unpartitioned
        table, read back only to rebuild a pack), the plane pack in
        ``pack/`` and ``manifest.json``. Leaves are written partitioned by
        (tree_id, _pp) — the path's first ``pp_len`` bits — so a loaded
        index's serving scan prunes to the probed leaf buckets instead of
        scanning every tree's full leaf table (the IVF
        partitionBy(cluster_id) discipline, ivfflat.py:save).

        The pack is copied from the instance's own pack files when it has
        them (no collect), else written by :func:`_write_pack`; each file is
        published by ``os.replace``, so an instance that maps the store's
        old pack (this one, saving over its own store) keeps serving it.

        ``pp_len`` dials bucket granularity: 2^pp_len buckets per tree.
        Wider prefixes prune more partitions per probe batch (the 1M×300
        study, BASELINE.md §r13: width 8 serves 1-10-query batches 2-3×
        faster than width 4, reading 145k instead of 687k rows per query)
        but shrink each partition's files — the small-files failure mode
        at scale — and cost slightly more at batch ≥ 100, where every
        width's buckets saturate and task overhead dominates.

        ``pp_len=None`` keeps a loaded store's width; for a fresh
        in-session build it applies the auto rule: the smallest width in
        [_PP_LEN, 12] whose per-bucket row count stays under ~1M rows
        (≈ a few hundred MB of parquet), so buckets stay HDFS-block-sized
        as corpora grow — 4 at ≤128M leaf rows (8 trees), 7 at ~1B, 12
        clamped beyond. Small-batch online-serving deployments at modest
        scale should pass 6-8 explicitly; the rule optimizes for bounded
        file sizes, not minimum latency.

        The leaves are written through a ``rebalance`` hint on
        ``(tree_id, _pp)``: each bucket's rows meet in one writer task, so a
        small store holds one parquet file per bucket directory (a probed
        bucket is one file to open, not one per input split), while AQE's
        rebalance splits a bucket too large for one task."""
        if pp_len is None:
            stored = self.params.get("pp_len")
            if stored is not None:
                w = int(stored)
            else:
                w = _auto_pp_len(
                    self.leaves.count(), self.params.get("num_trees", 1)
                )
        else:
            w = int(pp_len)
        if not 1 <= w <= 16:
            raise ValueError(f"pp_len must be in [1, 16], got {w}")
        # The two writes and the pack are independent — overlap their jobs
        # from driver threads (guide §2.6, r15) so the small planes write
        # and the pack back-fill the leaves write's task tail instead of
        # running after it. Job descriptions are thread-local; all three
        # read checkpointed/derived frames, no shared lineage to race on.
        # (Leaves always re-derive _pp at the target width — a file-loaded
        # store's existing _pp column may carry a different width.)
        from concurrent.futures import ThreadPoolExecutor

        def _write_leaves() -> None:
            self.leaves.drop("_pp").withColumn(
                "_pp", _pp_of(F.col("tree_id"), F.col("path"), w)
            ).hint("rebalance", "tree_id", "_pp").write.mode("overwrite").partitionBy(
                "tree_id", "_pp"
            ).parquet(f"{path}/leaves")

        def _write_planes() -> None:
            # a store saved partitioned by _lvl loads with that column
            self.hyperplanes.drop("_lvl").hint("rebalance").write.mode(
                "overwrite"
            ).parquet(f"{path}/hyperplanes")

        def _write_pack_files() -> None:
            # the pack is derived data; persisting it spares cold
            # file-loaded serving the Arrow collect of the coeff table
            # (measured 19-87 s at the 1M forest, BASELINE §r12)
            src = self.__dict__.get("_pack_dir")
            if src is None:
                _write_pack(self.leaves, self.hyperplanes, f"{path}/pack")
            else:
                _copy_pack(src, f"{path}/pack")

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [pool.submit(f) for f in (_write_leaves, _write_planes, _write_pack_files)]
            for f in futs:
                f.result()
        if os.path.exists(f"{path}/pack.npz"):
            os.remove(f"{path}/pack.npz")  # an older store's pack
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(
                {**self.params, "pp_len": w, "format_version": LSH_FORMAT_VERSION},
                f,
                indent=2,
            )

    @staticmethod
    def _saved_format_version(path: str, stamped: int | None) -> int:
        """Resolve a saved store's on-disk layout version. Stamped manifests
        win; pre-stamp stores classify by the layout itself (the
        HNSW/IVFFlat absent-means-current policy, made safe here by
        checking the _pp value grammar). v3 values are tree-fused
        'p<tree>_<prefix>'; v2 are prefix-only 'pXXXX'; anything else is
        the raw-bit v1 layout."""
        if stamped is not None:
            return int(stamped)
        import glob as _glob
        import re as _re

        pps = _glob.glob(
            os.path.join(_glob.escape(os.path.join(path, "leaves")), "tree_id=*", "_pp=*")
        )
        names = [os.path.basename(p) for p in pps[:8]]
        if names and all(_re.match(r"_pp=p\d+_", n) for n in names):
            return 3
        if names and all(n.startswith("_pp=p") for n in names):
            return 2
        return 1

    @staticmethod
    def load(spark: SparkSession, path: str) -> "LSHForestIndex":
        with open(f"{path}/manifest.json") as f:
            params = json.load(f)
        version = LSHForestIndex._saved_format_version(
            path, params.pop("format_version", None)
        )
        if int(params["depth"]) > 62:
            raise ValueError(
                f"LSH index at {path!r} has depth {params['depth']}; node keys "
                "are int64, so this build serves tries of at most 62 levels — "
                "rebuild it with max_depth <= 62"
            )
        if version != LSH_FORMAT_VERSION:
            raise ValueError(
                f"LSH index at {path!r} has on-disk format_version {version}, "
                f"this build reads {LSH_FORMAT_VERSION}. An older store's "
                "_pp partition values never match the probe side's "
                "tree-fused 'p<tree>_<prefix>' keys (searches would "
                "silently return zero candidates) — run "
                "LSHForestIndex.migrate(spark, path) to rewrite it in "
                "place (no source corpus needed), or re-save from the "
                "source corpus."
            )
        idx = LSHForestIndex(
            spark,
            spark.read.parquet(f"{path}/leaves"),
            _read_planes(spark, path),
            params,
        )
        if _has_pack(f"{path}/pack"):
            # _planes_pack() maps the persisted pack instead of collecting
            # the coeff table; an older store (a pack.npz, or none) has its
            # pack rebuilt by the writer on first use
            idx._pack_dir = f"{path}/pack"
        return idx

    @staticmethod
    def migrate(
        spark: SparkSession,
        path: str,
        dest_path: str | None = None,
        pp_len: int | None = None,
    ) -> "LSHForestIndex":
        """Rewrite an older-layout saved store (v1/v2 ``_pp`` grammars) in
        the current tree-fused v3 layout WITHOUT the source corpus: the
        leaves table already carries (tree_id, path, id, …) — ``_pp`` is
        derived data — so migration is read → drop the stale ``_pp`` →
        :meth:`save`. ``dest_path=None`` migrates in place; the leaves and
        hyperplanes are eagerly materialized first so the overwrite never
        reads from files it is deleting. For very large stores prefer an
        explicit ``dest_path`` so the rewrite streams executor-to-disk
        instead of checkpointing the whole store. ``pp_len`` re-dials the
        bucket width during the rewrite (same rules as :meth:`save`).
        Returns the migrated index, loaded from its new layout. A store
        already at the current version is returned as-is unless a
        ``dest_path``/``pp_len`` asks for a rewrite anyway."""
        with open(f"{path}/manifest.json") as f:
            params = json.load(f)
        version = LSHForestIndex._saved_format_version(
            path, params.pop("format_version", None)
        )
        if version == LSH_FORMAT_VERSION and dest_path is None and pp_len is None:
            return LSHForestIndex.load(spark, path)
        leaves = spark.read.parquet(f"{path}/leaves")
        planes = _read_planes(spark, path)
        dest = dest_path or path
        if dest == path:
            leaves = leaves.localCheckpoint(eager=True)
            planes = planes.localCheckpoint(eager=True)
        if "_pp" in leaves.columns:
            leaves = leaves.drop("_pp")
        # older manifests may stamp a pp_len whose GRAMMAR no longer
        # matches; keep the width only when the caller didn't re-dial it
        if pp_len is None:
            pp_len = params.get("pp_len")
        params.pop("pp_len", None)
        idx = LSHForestIndex(spark, leaves, planes, params)
        idx.save(dest, pp_len=pp_len)
        return LSHForestIndex.load(spark, dest)
