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
hyperplane trie and the leaf catalog (keys and sizes) as numpy arrays,
collected once per index (or read from the saved ``pack.npz``). ``search``
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
the driver, in numpy. Tries the pack cannot hold keep the declarative plan
(per-level join descent, branch-and-bound frontier leaf walk), which
returns the same rows.

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
from dataclasses import dataclass
from itertools import islice
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from vers_spark.functions import vector as V
from vers_spark.functions.frames import local_frame
from vers_spark.operators.dedup import dedup_exact
from vers_spark.operators.knn import (
    _NO_ROWS,
    _query_block,
    _rank_within,
    _ranked,
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
# fan-out (≤ T × 2^pp_len + shorter-path buckets) and the serving plans
# filter or join on _pp too, so only the probed buckets are scanned (a
# literal _pp IN filter in the planned serving path, dynamic partition
# pruning in the declarative join plans) — the LSH analogue of IVF's partitionBy(cluster_id) posting lists
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
# as INT — the serving equi-join against the string-derived probe _pp
# would go through implicit casts (silently defeating dynamic partition
# pruning) and a re-save would strip leading zeros. A non-numeric first
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
    1-tree/unbounded-leaf config) has ZERO planes, and Spark writes an
    empty partitioned parquet dir with no schema-bearing part files —
    reading it throws UNABLE_TO_INFER_SCHEMA. Fall back to an empty
    frame with the canonical plane schema so the degenerate store
    roundtrips like any other."""
    try:
        return spark.read.parquet(f"{path}/hyperplanes")
    except Exception:
        return local_frame(spark, _PLANE_SCHEMA, [])


def _planes_at(planes: DataFrame, lvl: int) -> DataFrame:
    """Hyperplanes at one trie level. A file-loaded store carries the _lvl
    partition column (save() writes partitionBy level), so the filter is a
    partition prune — one directory read instead of scanning every level's
    coeffs-heavy rows; in-session lineage falls back to the path length."""
    if "_lvl" in planes.columns:
        return planes.filter(F.col("_lvl") == lvl).drop("_lvl")
    return planes.filter(F.length("path") == lvl)


def _join_leaves(
    probed: DataFrame, leaves: DataFrame, pp_len: int = _PP_LEN
) -> DataFrame:
    """Join a (…, tree_id, path) probe frame against the leaf table — the
    declarative plan's leaf read. When the leaves carry the _pp partition
    column (file-loaded bucketed store), derive _pp on the probe side and
    include it in the join key — the equi-join on the partition column is
    what lets dynamic partition pruning skip unprobed leaf buckets.

    The startswith('p') filter is an always-true invariant of _pp_of (the
    type-pinning prefix), kept here deliberately: Spark's PartitionPruning
    rule only plants the DPP subquery when the filtering side carries a
    *likely-selective* predicate (IsNotNull doesn't count, StartsWith
    does), and probe frames that come straight out of a stats-free
    mapInPandas pass otherwise carry none — the saved leaf store would
    silently fall back to a full every-bucket scan."""
    if "_pp" not in leaves.columns:
        return probed.join(leaves, ["tree_id", "path"])
    return (
        probed.withColumn("_pp", _pp_of(F.col("tree_id"), F.col("path"), pp_len))
        .filter(F.col("_pp").startswith("p"))
        .join(leaves, ["tree_id", "_pp", "path"])
        .drop("_pp")
    )


# Broadcast-hint cap for the declarative plan's probe-set / query-vector
# joins, in QUERIES per batch. Below it the hints hold (the probe set is
# queries×trees×probes narrow rows; qvec is one dim-wide f64 vector per
# query — ≤ ~0.5 GB at dim 1024), and the hint is what keeps dynamic
# partition pruning alive on a saved (tree_id, _pp)-partitioned leaf store.
# Above it the hints could hit Spark's 8 GB / 512M-row broadcast hard
# limits or driver OOM, so we fall back to plain shuffle joins; no DPP loss
# in practice, since a corpus-sized batch probes essentially every bucket.
_BROADCAST_QUERY_CAP = 65536

# Above this row count the per-task whole-tree build stops being reasonable —
# each task holds the FULL (deduped) corpus as a float64 matrix plus pandas
# row objects, ~2-4 KB/row at typical dims, and T tree tasks run concurrently
# — so the level-synchronous distributed build takes over.
_LOCAL_BUILD_MAX_ROWS = 500_000


class _Pack(NamedTuple):
    """The plane pack of one index instance, held on the driver: the trie
    arrays ``(tree_keys, tree_rows, W, B, M, leaf_keys)`` plus per-tree
    leaf sizes aligned with ``leaf_keys`` (the serving planner reads
    them). Only :meth:`LSHForestIndex.assign_paths` ships the trie to the
    executors, through a broadcast it creates on first use."""

    depth: int
    trees: int
    trie: tuple
    leaf_sizes: list


def _descend(X, K, R, W, B, depth: int):
    """Main-leaf keys of one tree for every row of ``X`` (n × d, f64):
    each row folds the plane test at its current node until it reaches a
    node without a plane. ``K``/``R`` are the tree's sorted inner-node keys
    and their rows in ``W``/``B``; a key is the path as a '1'-prefixed
    binary integer (root '' → 1, child = key·2 + bit).

    BIT-EXACT with the declarative descent: Spark's V.dot is a left fold of
    f64 products, and ``np.cumsum`` over the f64 product row is the same
    sequential accumulation (pinned in
    tests/test_lsh.py::test_assign_paths_pandas_equals_join_descent), so
    build-time routing and query-time descent never disagree on a
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
    the declarative engines do (ascending-level f64 left fold; margin =
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
        """
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
            "metric": "sq_euclidean",
        }
        return LSHForestIndex(spark, leaves, hyperplanes, params)

    # ---------------- search ----------------

    # size cap for the plane pack (bytes of coeffs) — it is held on the
    # driver and broadcast by assign_paths; above it the index serves
    # through the declarative plans, whose memory is bounded regardless of
    # forest size. Depth is capped by the int64 path encoding (≤ 62 bits) —
    # deeper trees also fall back.
    _PACK_MAX_BYTES = 512 * 1024 * 1024

    def _pack_arrays(self) -> dict | None:
        """Arrow-collect the hyperplane trie + leaf catalog as FLAT numpy
        arrays (row order = collect order): W (n_planes × dim float64 —
        exact for both float- and double-typed coeffs), B/M (f64), tids,
        '1'-prefixed binary path keys, and the leaf catalog's (ltids,
        lkeys, lsizes) — lsizes is each leaf's member count, which the
        serving planner's fill rule reads. This is the expensive leg of
        pack construction (the Arrow collect — 19-87 s cold at the 1M
        file-loaded store, BASELINE §r12) and the exact payload
        :meth:`save` persists as ``pack.npz`` so cold serving stops paying
        it per session. A depth-0 forest packs as an empty trie whose only
        leaf is the root. Returns None when the trie is too deep or
        exceeds ``_PACK_MAX_BYTES`` — callers fall back to the declarative
        plans.

        f64 ALWAYS: in-session forests carry array<double> coeffs (the
        b−a splits are computed in f64) and a float32 pack would silently
        quantize every dot and could flip near-tie probe orders;
        f32-at-rest coeffs widen exactly, so f64 is exact for both
        storage types."""
        if int(self.params["depth"]) > 62:
            return None
        # Arrow collect: 126k coeff rows arrive as numpy cells in ~2 s
        # where the py4j row path took ~20 s at the 1M forest
        pdf = self.hyperplanes.select(
            "tree_id", "path", "coeffs", "constant"
        ).toPandas()
        dim = len(pdf["coeffs"].iloc[0]) if len(pdf) else 0
        if len(pdf) * dim * 8 > self._PACK_MAX_BYTES:
            return None
        W = np.array(pdf["coeffs"].tolist(), dtype=np.float64).reshape(len(pdf), dim)
        B = pdf["constant"].to_numpy(dtype=np.float64)
        # plane magnitudes for the multiprobe margin — the same
        # f64 left-fold-then-sqrt as V.magnitude (cumsum = fold)
        M = np.sqrt(np.cumsum(W * W, axis=1)[:, -1]) if len(W) else np.zeros(0)
        tids = pdf["tree_id"].to_numpy(dtype=np.int32)
        keys = np.fromiter(
            (int("1" + p, 2) for p in pdf["path"]),
            dtype=np.int64,
            count=len(pdf),
        )
        # leaf-path keys and sizes per tree — one slim aggregate over the
        # leaf catalog
        lp = (
            self.leaves.groupBy("tree_id", "path")
            .agg(F.count(F.lit(1)).alias("n"))
            .toPandas()
        )
        lkeys = np.fromiter(
            (int("1" + p, 2) for p in lp["path"]),
            dtype=np.int64,
            count=len(lp),
        )
        ltids = lp["tree_id"].to_numpy(dtype=np.int32)
        lsizes = lp["n"].to_numpy(dtype=np.int64)
        return {
            "W": W, "B": B, "M": M, "tids": tids, "keys": keys,
            "ltids": ltids, "lkeys": lkeys, "lsizes": lsizes,
        }

    def _assemble_pack(self, arrs: dict) -> _Pack:
        """Per-tree sorted node-key structures, from the flat
        arrays (collected or ``pack.npz``-loaded — identical assembly, so
        a persisted pack is bit-equal with a rebuilt one; parity-gated in
        test_lsh.py). A node's key is its path as a '1'-prefixed binary
        integer (root '' → 1, child key = key·2 + bit) — depth-independent
        and SPARSE, so a 24-deep imbalanced forest (the 1M reference
        config measured n_leaf_paths ≈ 126k, max depth 24) packs as ~16k
        keys/tree instead of the 134M dense heap slots a direct
        node-index table would need."""
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

    def _planes_pack(self) -> _Pack | None:
        """Build the hyperplane trie pack ONCE per index instance. A
        file-loaded store with a persisted ``pack.npz`` (see :meth:`save`)
        skips the Arrow collect entirely — a local numpy read replaces the
        19-87 s cold rebuild; a ``pack.npz`` written
        without leaf sizes counts as absent and is re-collected. Returns
        None when the pack exceeds ``_PACK_MAX_BYTES`` or the trie is too
        deep — callers fall back to the declarative plans. Amortizes the
        driver collect across every serving call on this instance
        (VERDICT r10 #5)."""
        if hasattr(self, "_planes_pack_cache"):
            return self._planes_pack_cache
        arrs = None
        pack_path = getattr(self, "_pack_path", None)
        if pack_path is not None and os.path.exists(pack_path):
            with np.load(pack_path) as z:
                if "lsizes" in z.files:
                    arrs = {k: z[k] for k in z.files}
        if arrs is None:
            arrs = self._pack_arrays()
        pack = self._assemble_pack(arrs) if arrs is not None else None
        self._planes_pack_cache = pack
        return pack

    def release_pack(self) -> None:
        """Clear the instance's pack cache and drop its trie broadcast (if
        :meth:`assign_paths` created one) from executor memory
        (non-blocking unpersist).

        Safe at any point: unpersist leaves the driver-held value intact,
        so a not-yet-materialized plan that still references the broadcast
        re-ships it on demand, and the next _planes_pack() call on this
        instance re-collects. ``add()`` calls this on the SOURCE instance —
        sessions that loop add() cycles (each returning a new instance with
        its own pack) would otherwise accumulate one executor-resident
        trie per retired instance (ADVICE r11)."""
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

        Fast path (r11, VERDICT r10 #5): ONE mapInPandas pass against the
        broadcast plane trie — the per-level shape scheduled ``depth``
        sequential join stages (~13 at the 1M/T16 config), and for a
        100-query serving batch the stage latency dwarfed the ~6 M flops of
        actual plane math. The numpy kernel (:func:`_descend`, shared with
        the serving planner) is BIT-EXACT with the declarative fold it
        replaces. The trie broadcast is created on the first call and
        reused; serving never ships it (the planner runs on the driver).
        Falls back to the per-level join descent when the trie exceeds the
        pack's size cap or depth."""
        pack = self._planes_pack()
        if pack is None:
            return self._assign_paths_joins(df, id_col, vec_col)
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

    def _assign_paths_joins(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """The declarative per-level descent (one broadcast join per trie
        level) — the any-depth fallback and the semantic reference the
        pandas kernel is property-tested against."""
        trees = self.spark.range(self.params["num_trees"]).select(
            F.col("id").cast("int").alias("tree_id")
        )
        qp = df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ).crossJoin(F.broadcast(trees)).withColumn("path", F.lit(""))

        for depth in range(self.params["depth"]):
            level = _planes_at(self.hyperplanes, depth)
            qp = (
                qp.join(F.broadcast(level), ["tree_id", "path"], "left")
                .withColumn(
                    "path",
                    F.when(
                        F.col("coeffs").isNotNull(),
                        F.concat("path", _plane_side(F.col("q_vec"), F.col("coeffs"), F.col("constant"))),
                    ).otherwise(F.col("path")),
                )
                .select("query_id", "q_vec", "tree_id", "path")
            )
        return qp

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
        back as long. With the plane pack (every trie up to 62 levels whose
        coeffs fit ``_PACK_MAX_BYTES``) the driver plans from the pack
        (:func:`_plan_leaves`): a vectorized descent gives each (query,
        tree) its main leaf, and a pair whose main leaf holds fewer than k
        members walks the leaves in ``probe_mode`` order until the leaves
        taken hold ≥ k, each capped at its remaining budget. The planned
        leaves are read in one pass and the batch is finished on the driver
        (:meth:`_serve_plan`; the result is a local frame). Deeper or larger
        tries take :meth:`_search_declarative`, which returns the same rows.

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
        if pack is None:
            return self._search_declarative(
                self._block_frame(queries, block, query_id, query_vec),
                k, query_id, query_vec, leaves, probe_mode, backup_fill=backup_fill,
            )
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
        :func:`_plan_leaves`) and :meth:`_serve_plan` reads it in one pass;
        tries the pack cannot hold take the declarative frontier walk
        (:meth:`_search_declarative`), which returns the same rows."""
        if probe_mode not in ("dfs", "margin"):
            raise ValueError(f"unknown probe_mode {probe_mode!r}")
        block = _query_block(queries, query_id, query_vec, "lsh_search_multiprobe")
        if block is None:
            return _topk_frame(self.spark, *_NO_ROWS, k)
        pack = self._planes_pack()
        if pack is None:
            return self._search_declarative(
                self._block_frame(queries, block, query_id, query_vec),
                k, query_id, query_vec, self.leaves, probe_mode, n_probes=n_probes,
            )
        plan = _plan_leaves(
            block[1], pack, pack.leaf_sizes, k, probe_mode == "dfs", n_probes=n_probes
        )
        return self._serve_plan(self.leaves, block, plan, k)

    def _block_frame(
        self, queries: DataFrame, block: tuple, query_id: str, query_vec: str
    ) -> DataFrame:
        """The collected batch ``block`` as a local frame for
        :meth:`_search_declarative`, so the caller's ``queries`` is
        evaluated once per call. Ids are long (the bounded-batch
        contract); vectors keep the caller's element type, so the
        declarative descent and fold read the values they would have read
        from ``queries``."""
        ids, mat = block
        schema = StructType(
            [
                StructField(query_id, LongType()),
                StructField(query_vec, queries.schema[query_vec].dataType),
            ]
        )
        return local_frame(self.spark, schema, {query_id: ids, query_vec: mat})

    def _serve_plan(self, leaves: DataFrame, block: tuple, plan: dict, k: int) -> DataFrame:
        """Read a driver-side plan (:func:`_plan_leaves`) in one pass and
        finish the batch on the driver — the serving tail of both search
        methods. ``block`` is the collected (ids, vectors) batch whose rows
        the plan indexes. Returns a local frame (``RESULT_SCHEMA``).

        - the leaves are read once, through a literal ``_pp IN (…)``
          filter (static partition pruning on a saved store) and a filter
          on the planned (tree_id, path) pairs;
        - one ``mapInPandas`` folds each planned leaf against its queries
          (``vector_np.fold_distances``, bit-equal to the declarative
          kernel) and keeps, per planned (query, leaf), the task's
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

    def _search_declarative(
        self,
        queries: DataFrame,
        k: int,
        query_id: str,
        query_vec: str,
        leaves: DataFrame,
        probe_mode: str,
        backup_fill: bool = True,
        n_probes: int | None = None,
    ) -> DataFrame:
        """:meth:`search` (``n_probes`` None) or :meth:`search_multiprobe`
        as a declarative plan, for tries the plane pack cannot hold (deeper
        than 62 levels or coeffs above ``_PACK_MAX_BYTES``): the per-level
        join descent, then a leaf join for either the main leaves — with
        the budgeted fill of :meth:`_backup_fill_candidates` for
        underfilled (query, tree) pairs — or the first ``n_probes`` leaves
        of the frontier walk (:meth:`_leaf_order_frontier`). ``leaves`` is
        the leaf table after the ``allowed_ids`` semi-join. Returns the
        same rows as the planned path (gated in tests/test_lsh_backup.py)."""
        # the checkpoint is read by every branch below (probe side, qvec,
        # underfill test); the count materializes it
        qp = self.assign_paths(queries, query_id, query_vec).localCheckpoint(
            eager=False
        )
        # Broadcast-hint the NARROW probe side of the leaf join and re-join
        # the dim-wide q_vec after, both gated on _BROADCAST_QUERY_CAP.
        # MEASURED reason (BASELINE §r13): the stats-free descent output
        # otherwise planned a sort-merge join at the 1M store, and the leaf
        # scan read 128/128 partitions — all 8M rows — for a SINGLE query
        # whose main leaves touch 8 buckets.
        n_queries = qp.count() // max(int(self.params["num_trees"]), 1)
        bq = F.broadcast if n_queries <= _BROADCAST_QUERY_CAP else (lambda df: df)
        if n_probes is None:
            probe = qp.select("query_id", "tree_id", "path")
        else:
            probe = self._leaf_order_frontier(
                qp.select("query_id", "tree_id", "q_vec"), leaves, probe_mode, n_probes
            )
        qvec = qp.select("query_id", "q_vec").dropDuplicates(["query_id"])
        main = (
            _join_leaves(bq(probe), leaves, self._pp_len())
            .join(bq(qvec), ["query_id"])
            .select("query_id", "tree_id", "q_vec", "id", "embedding")
        )
        if backup_fill and n_probes is None:
            main = main.localCheckpoint(eager=False)
            cnt = main.groupBy("query_id", "tree_id").agg(
                F.count(F.lit(1)).alias("n_cand")
            )
            under = (
                qp.join(cnt, ["query_id", "tree_id"], "left")
                .filter(F.coalesce(F.col("n_cand"), F.lit(0)) < k)
                .select("query_id", "tree_id", "q_vec")
            ).localCheckpoint(eager=False)
            # short-circuit the common case: no underfilled pair -> every
            # fill branch would be empty, but its stages would still be
            # scheduled. The probe rides the persisted qp/main, and the
            # persisted `under` feeds the fill plan when non-empty.
            if under.isEmpty():
                cands = main.select(
                    "query_id", "q_vec", "id", "embedding"
                ).dropDuplicates(["query_id", "id"])
            else:
                filled = main.join(
                    under.select("query_id", "tree_id"),
                    ["query_id", "tree_id"],
                    "left_anti",
                )
                fill = self._backup_fill_candidates(under, leaves, k, probe_mode)
                cands = (
                    filled.select("query_id", "q_vec", "id", "embedding")
                    .unionByName(fill)
                    .dropDuplicates(["query_id", "id"])
                )
        else:
            cands = main.select("query_id", "q_vec", "id", "embedding").dropDuplicates(
                ["query_id", "id"]  # DashSet union across trees (lsh.rs:266-270)
            )
        scored = self._rerank_blocked(cands).withColumnRenamed("id", "neighbour_id")
        return _ranked(scored, "_dist", k)

    @staticmethod
    def _rerank_blocked(cands: DataFrame) -> DataFrame:
        """The declarative plan's exact rerank: per candidate row,
        sq_euclidean(q_vec, embedding) in ONE vectorized Arrow batch pass
        instead of a per-row zip_with/aggregate fold (µs per ELEMENT).
        BIT-EXACT with the fold, not last-ulp: the kernel is
        vector_np.fold_distances (gated in
        test_vector.test_fold_distances_bit_equal_to_expression_kernels).
        Input (query_id, q_vec, id, embedding) → (query_id, id, _dist)."""
        import pandas as pd

        from vers_spark.functions.vector_np import fold_distances

        def fn(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                q = np.array(pdf["q_vec"].tolist(), dtype=np.float64)
                e = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                dist = fold_distances(q, e, "sq_euclidean")
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"].astype("int64"),
                        "id": pdf["id"].astype("int64"),
                        "_dist": dist,
                    }
                )

        return cands.mapInPandas(fn, "query_id long, id long, _dist double")

    def _pp_len(self) -> int:
        """The saved store's leaf-bucket prefix width. The probe side of
        every serving join must derive _pp at this width (a mismatch makes
        the equi-join silently match nothing), so it rides the manifest —
        absent means the default, covering every pre-parameter store."""
        return int(self.params.get("pp_len", _PP_LEN))

    def _leaf_order_frontier(
        self,
        pairs: DataFrame,
        leaves: DataFrame,
        probe_mode: str,
        n_probes: int,
        beam: int | None = None,
        stride: int = 2,
        keep_keys: bool = False,
    ) -> DataFrame:
        """Best-first leaf enumeration via a BOUNDED FRONTIER — the
        declarative plan's twin of the planner's :func:`_best_first` walk,
        for tries the plane pack cannot hold. Only visited nodes are ever
        scored:

        Level-synchronous branch-and-bound down the path trie. The frontier
        holds ≤ ``beam`` inner-node prefixes per (query, tree), each with
        its accumulated (cost, dev); one round joins the frontier against
        that level's hyperplanes (the assign_paths per-level join shape),
        folds the query margin at ONLY those nodes, expands both children
        (same side +0, opposite side +margin), settles children that are
        leaf paths, and prunes: settled keeps the best ``n_probes`` per
        pair, the frontier keeps nodes still able to beat the current
        n_probes-th settled leaf (cost/dev is a lower bound for every
        descendant — costs are non-negative and dev only extends), capped
        at ``beam`` by the probe order. Exact top-``n_probes`` whenever the
        beam cap never binds after the bound activates (branch-and-bound);
        the cap is the documented guard against adversarial margin
        landscapes — row parity with the planned walk is gated in
        tests/test_lsh_backup.py. Margin cost accumulates as the same
        ascending-level f64 left fold as the planned walk, so summation
        order cannot flip near-tie orderings between the two. Work per
        round is O(pairs × beam) rows —
        independent of leaf count — for ``depth`` rounds; per playbook the
        self-referencing round state is eagerly localCheckpointed.

        Returns the probed (query_id, tree_id, path) rows: the first
        ≤ n_probes non-empty leaves per pair in probe order, as the planned
        walk takes them."""
        if probe_mode not in ("dfs", "margin"):
            # a typo'd mode must raise, not silently fall into the margin
            # key/bound branch
            raise ValueError(f"unknown probe_mode {probe_mode!r}")
        # 1M grid (BASELINE.md round-7): the branch-and-bound threshold, not
        # the beam, does the pruning — beams 8/16/32 probe the IDENTICAL
        # leaf set while costing 50/69/89 s per 100-query batch. 4·n_probes
        # keeps proportional headroom at higher probe counts.
        if beam is None:
            beam = max(4 * n_probes, 8)
        key = (
            [F.asc("dev")]
            if probe_mode == "dfs"
            else [F.asc("cost"), F.asc("dev")]
        )
        wpair = W.partitionBy("query_id", "tree_id").orderBy(*key)
        # materialize the two PATH CATALOGS once: every strided round semi-
        # joins against them, and leaving them lazy re-scans (and for the
        # leaf side re-shuffles a distinct over) the full corpus-sized leaf
        # parquet PER ROUND — profiled at 1M as 231 s of a 248 s serving
        # batch. The catalogs themselves are tiny (paths ≈ leaves/max_node
        # rows; inner ≈ plane count, two slim columns).
        paths = leaves.select("tree_id", "path").distinct().localCheckpoint()
        inner = self.hyperplanes.select("tree_id", "path").localCheckpoint()
        settled = (
            pairs.select("query_id", "tree_id")
            .join(paths.filter(F.length("path") == 0), "tree_id")
            .select(
                "query_id",
                "tree_id",
                "path",
                F.lit("").alias("dev"),
                F.lit(0.0).alias("cost"),
            )
            .localCheckpoint()
        )
        frontier = (
            pairs.join(inner.filter(F.length("path") == 0), "tree_id")
            .select(
                "query_id",
                "tree_id",
                "q_vec",
                F.col("path").alias("prefix"),
                F.lit("").alias("dev"),
                F.lit(0.0).alias("cost"),
            )
            .localCheckpoint()
        )
        def expand(cur: DataFrame, lvl: int) -> DataFrame:
            planes = _planes_at(self.hyperplanes, lvl).select(
                "tree_id", F.col("path").alias("prefix"), "coeffs", "constant"
            )
            fr = (
                cur.join(planes, ["tree_id", "prefix"])
                .withColumn(
                    "q_bit",
                    _plane_side(F.col("q_vec"), F.col("coeffs"), F.col("constant")),
                )
                .withColumn(
                    "q_margin",
                    F.abs(V.dot(F.col("q_vec"), F.col("coeffs")) + F.col("constant"))
                    / V.magnitude(F.col("coeffs")),
                )
            )
            return fr.select(
                "query_id",
                "tree_id",
                "q_vec",
                F.explode(F.array(F.lit("0"), F.lit("1"))).alias("cbit"),
                "prefix",
                "dev",
                "cost",
                "q_bit",
                "q_margin",
            ).select(
                "query_id",
                "tree_id",
                "q_vec",
                F.concat("prefix", "cbit").alias("prefix"),
                F.concat(
                    "dev", F.when(F.col("cbit") == F.col("q_bit"), "0").otherwise("1")
                ).alias("dev"),
                (
                    F.col("cost")
                    + F.when(F.col("cbit") == F.col("q_bit"), F.lit(0.0)).otherwise(
                        F.col("q_margin")
                    )
                ).alias("cost"),
            )

        # rounds are strided: ``stride`` levels expand lazily inside one
        # round (frontier grows ≤ beam·2^stride per pair in between), then
        # ONE prune + checkpoint. Per-round fixed overhead (shuffles,
        # checkpoint, the isEmpty probe) dominated the per-level version at
        # small scale; striding divides it by the stride without changing
        # the settled/pruned state at stride boundaries. The trade is fold
        # work: margins are folded on every intra-stride row, and the
        # un-pruned frontier doubles per level, so fold volume grows
        # (2^stride)/stride-fold — stride 2 measured best at 1M (the fold,
        # not round overhead, is the serving-scale term).
        depth = int(self.params["depth"])
        lvl = 0
        while lvl < depth:
            if frontier.isEmpty():
                break
            hi = min(lvl + stride, depth)
            cur = frontier
            new_settled: list[DataFrame] = []
            for L in range(lvl, hi):
                children = expand(cur, L)
                lvl_leaves = paths.filter(
                    F.length("path") == L + 1
                ).withColumnRenamed("path", "prefix")
                lvl_inner = inner.filter(F.length("path") == L + 1).withColumnRenamed(
                    "path", "prefix"
                )
                new_settled.append(
                    children.join(lvl_leaves, ["tree_id", "prefix"], "left_semi").select(
                        "query_id",
                        "tree_id",
                        F.col("prefix").alias("path"),
                        "dev",
                        "cost",
                    )
                )
                cur = children.join(lvl_inner, ["tree_id", "prefix"], "left_semi")
            for ns in new_settled:
                settled = settled.unionByName(ns)
            settled = (
                settled.withColumn("_r", F.row_number().over(wpair))
                .filter(F.col("_r") <= n_probes)
                .drop("_r")
                .localCheckpoint()
            )
            # bound: a pair with n_probes settled leaves only keeps frontier
            # nodes whose (cost | dev) can still beat its worst settled one
            thr = settled.groupBy("query_id", "tree_id").agg(
                F.count(F.lit(1)).alias("_ns"),
                F.max("cost").alias("_mxc"),
                F.max("dev").alias("_mxd"),
            )
            viable = (
                F.col("_ns").isNull()
                | (F.col("_ns") < n_probes)
                | (
                    F.col("cost") <= F.col("_mxc")
                    if probe_mode == "margin"
                    else F.col("dev") <= F.col("_mxd")
                )
            )
            frontier = (
                cur.join(thr, ["query_id", "tree_id"], "left")
                .filter(viable)
                .drop("_ns", "_mxc", "_mxd")
                .withColumn("_r", F.row_number().over(wpair))
                .filter(F.col("_r") <= beam)
                .drop("_r")
                .localCheckpoint()
            )
            lvl = hi
        if keep_keys:  # callers ordering downstream (budgeted fill)
            return settled.select("query_id", "tree_id", "path", "dev", "cost")
        return settled.select("query_id", "tree_id", "path")

    def _backup_fill_candidates(
        self, under: DataFrame, leaves: DataFrame, k: int, probe_mode: str = "dfs"
    ) -> DataFrame:
        """Budgeted whole-tree visit for underfilled (query, tree) pairs —
        the fill leg of :meth:`_search_declarative` (the planned search
        walks the pack instead, :func:`_plan_leaves`).

        The reference's recursion (lsh.rs:203-215) visits leaves in
        lexicographic order of their deviation string and takes
        min(leaf_size, remaining_budget) nearest members from each, where
        Σ taken over earlier leaves = min(k, Σ their sizes) — so a member is
        admitted iff its within-leaf distance rank ≤ k − cum_size_before.
        Cost is bounded by (underfilled pairs) × (planes per tree); filled
        pairs never reach here, and at production max_node_size ≥ k
        underflow is the rare edge, not the norm.

        The frontier descent enumerates the leaves with n_probes=k — exact
        for the budgeted admission, because every admitted leaf contributes
        ≥ 1 member, so the admitted set is always within the k best-ordered
        leaves, as long as the frontier's beam cap (4·n_probes) never binds
        after the settled bound activates (the documented guard against
        adversarial margin landscapes). Parity with the planned search is
        gated in test_lsh_backup.py."""
        sizes = leaves.groupBy("tree_id", "path").agg(F.count(F.lit(1)).alias("leaf_n"))
        order = [F.asc("dev")] if probe_mode == "dfs" else [F.asc("cost"), F.asc("dev")]
        wdev = W.partitionBy("query_id", "tree_id").orderBy(*order)
        ordered = self._leaf_order_frontier(
            under, leaves, probe_mode, n_probes=k, keep_keys=True
        )
        adm = (
            ordered
            .join(sizes, ["tree_id", "path"])
            .withColumn(
                "cum_before",
                F.coalesce(
                    F.sum("leaf_n").over(wdev.rowsBetween(W.unboundedPreceding, -1)),
                    F.lit(0),
                ),
            )
            .filter(F.col("cum_before") < k)
            .withColumn("cap", F.lit(k) - F.col("cum_before"))
            .select("query_id", "tree_id", "path", "cap")
        )
        wleaf = W.partitionBy("query_id", "tree_id", "path").orderBy(
            F.asc("_d"), F.asc("id")
        )
        return (
            # broadcast: `under` is the underfilled (query, tree) subset —
            # rare by design (max_node_size ≥ k fills from the main leaf) —
            # and the hint preserves the saved store's dynamic partition
            # pruning
            _join_leaves(
                F.broadcast(adm.join(under, ["query_id", "tree_id"])),
                leaves,
                self._pp_len(),
            )
            .withColumn("_d", V.sq_euclidean(F.col("q_vec"), F.col("embedding")))
            .withColumn("_lr", F.row_number().over(wleaf))
            .filter(F.col("_lr") <= F.col("cap"))
            .select("query_id", "q_vec", "id", "embedding")
        )

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
        """Persist the index. Leaves are written partitioned by
        (tree_id, _pp) — the path's first ``pp_len`` bits — so a loaded
        index's serving joins dynamic-partition-prune to the probed leaf
        buckets instead of scanning every tree's full leaf table (the IVF
        partitionBy(cluster_id) discipline, ivfflat.py:save).

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
        # hyperplanes partition by LEVEL (path length): both descent loops
        # (assign_paths, _leaf_order_frontier) join one level per round, so
        # a loaded index's per-level plane lookups partition-prune to one
        # directory instead of scanning every level's (coeffs-heavy) rows
        planes = self.hyperplanes
        if "_lvl" not in planes.columns:
            planes = planes.withColumn("_lvl", F.length("path").cast("int"))

        # The two partitioned writes are independent — overlap their jobs
        # from driver threads (guide §2.6, r15) so the small planes write
        # back-fills the leaves write's task tail instead of running after
        # it. Job descriptions are thread-local; both writes read
        # checkpointed/derived frames, no shared lineage to race on.
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
            planes.write.mode("overwrite").partitionBy("_lvl").parquet(
                f"{path}/hyperplanes"
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(_write_leaves), pool.submit(_write_planes)]
            for f in futs:
                f.result()
        os.makedirs(path, exist_ok=True)
        # Persist the hyperplane pack (derived data, bit-reconstructable):
        # cold file-loaded serving otherwise pays the Arrow re-collect of
        # the whole coeff table per session — measured 19-87 s at the 1M
        # forest (BASELINE §r12) vs a local numpy read. Written only when
        # the trie is inside the pack contract; absent file = loaded
        # stores rebuild (or join-descend) exactly as before.
        arrs = self._pack_arrays()
        if arrs is not None:
            np.savez(os.path.join(path, "pack.npz"), **arrs)
        elif os.path.exists(os.path.join(path, "pack.npz")):
            os.remove(os.path.join(path, "pack.npz"))  # stale from overwrite
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
        pack_path = os.path.join(path, "pack.npz")
        if os.path.exists(pack_path):
            # persisted plane pack: _planes_pack() reads it instead of
            # re-collecting the coeff table (cold-start fix, VERDICT r13)
            idx._pack_path = pack_path
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
