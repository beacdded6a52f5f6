"""HNSW index, Spark-first (reference: `vers/src/indexes/hnsw.rs`).

The reference inserts every vector sequentially into one in-memory graph
(`hnsw.rs:472-475`) — each insert reads the graph built by all previous
inserts, so the loop fundamentally does not distribute. The scalable
re-expression is a SHARDED graph (the standard distributed-ANN shape):

- corpus → ``num_shards`` shards, either k-means shards (locality → searches
  prune to the ``n_probe_shards`` nearest shards per query) or random shards
  (uniform load, every shard searched);
- each shard builds an independent local HNSW graph in ONE ``applyInPandas``
  pass — a pure-numpy reimplementation of the reference's insert semantics:
  id-deterministic insertion-layer draw with the reference's geometric law
  P(layer ≥ L) = M^-L (`hnsw.rs:323,335-346,458`; see LAYER_DRAW_M below —
  the thread-RNG ⌊−ln(U)·mL⌋ draw re-keyed on a hash of the id so the layer
  is reproducible and SQL-recomputable), greedy descent to the insertion
  layer (`hnsw.rs:374-384`),
  per-layer ef_construction search (`hnsw.rs:242-307`), heuristic neighbour
  selection — accept closest-first iff closer to the target than to every
  already-accepted neighbour (`hnsw.rs:104-164`), undirected edges
  (`hnsw.rs:64-82`), degree trim via the same heuristic (`hnsw.rs:166-198`),
  2·M degree cap on layer 0 (`hnsw.rs:400-404`);
- the graph IS two DataFrames: ``nodes(shard_id, id, node_layer, embedding)``
  and ``edges(shard_id, layer, src, dst, distance)``, Parquet-partitioned by
  shard so a probe-list filter prunes file reads.

Search is batch-first: the query set is broadcast into a cogrouped
``applyInPandas`` over (nodes, edges) per shard; each shard runs the layered
greedy search (`hnsw.rs:510-548`) for the queries that probe it and emits its
local top-k, which the driver fetches and merges per query. Entrypoint is
PINNED to the max-layer, min-id node — the reference's entrypoint is HashMap
iteration order (`hnsw.rs:366,516`), i.e. nondeterministic; we choose
determinism (SURVEY §3.2 note).

Scale notes: build shuffles the corpus once (shard assignment); per-shard
memory is corpus/num_shards × dim floats + the adjacency lists, so
``num_shards`` is the knob that fits shards to executor memory. Search ships
each query only to its ``n_probe_shards`` nearest shards (k-means sharding);
the merge moves only shard-local top-k rows, never candidates.

r11 insert-kernel vectorization (VERDICT r10 #4 — the 1M build profiled
86% per-shard insert loops): (a) the max-layer/min-id entrypoint and the
top-layer scan were O(n) per insert — O(n²) per shard build — and are now
an O(1) insert-maintained cache; (b) every frontier/heuristic distance
runs on a float32 twin of the vector buffer (half the gather bandwidth —
what 32 concurrent shard builds actually contend on) via a precomputed-
norm GEMV inlined into ``_search_layer``; reported search distances are
recomputed from the float64 buffer. Single-shard A/B at the 12k shard cap:
122.3 s → 67.3 s (1.82×), identical recall (0.835 @ ef 32 on the probe
corpus); see BASELINE.md §r11 for the 1M build wall.
"""

from __future__ import annotations

import heapq
import json
import math
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vers_spark.functions.frames import local_frame

_GRAPH_SCHEMA = "shard_id int, kind int, layer int, src long, dst long, distance double"
_RESULT_SCHEMA = "query_id long, neighbour_id long, distance double"

# --- id-deterministic insertion-layer draw ----------------------------------
# The reference draws the layer from an unseeded thread RNG at insert time
# (hnsw.rs:335-346): same geometric law P(layer >= L) = M^-L, different graph
# every run. We make the draw a FUNCTION OF THE ID: h = 60-bit md5 hash of
# "{id}:{seed}" (uniform over [0, 2^60)), layer = #{L : h < ⌊2^60 / M^L⌋}.
# Pure-integer comparisons against Python-computed thresholds ⇒ the layer of a
# node is identical across insertion orders, shards, partitionings, and
# engines — which is what lets hnsw_layer_stats carry a DuckDB oracle that
# recomputes every node's layer in SQL (same md5, same integer thresholds).
LAYER_DRAW_M = 1 << 60


def layer_thresholds(m: int, num_layers: int) -> list[int]:
    """⌊2^60 / M^L⌋ for L = 1..num_layers-1 (exact integer arithmetic);
    mL = 1/ln(M) makes exp(-L/mL) = M^-L (hnsw.rs:323,458)."""
    base = max(int(m), 2)
    return [LAYER_DRAW_M // base**lvl for lvl in range(1, num_layers)]


def hash60(s: str) -> int:
    """First 15 hex chars of md5 as int — the Python twin of
    functions.text.stable_hash60 / the DuckDB D_HASH60 fragment."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def draw_layer(vid: int, layer_seed: int, thresholds: list[int]) -> int:
    h = hash60(f"{vid}:{layer_seed}")
    layer = 0
    for c in thresholds:
        if h >= c:
            break
        layer += 1
    return layer


# ---------------------------------------------------------------- local kernel


def _sq_dists(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    d = x - q
    return np.einsum("ij,ij->i", d, d)


class _LocalHNSW:
    """Partition-local graph; numpy re-expression of hnsw.rs semantics.

    Vectors live in ONE contiguous capacity-doubling matrix (``_buf``) with an
    id→row map, so every frontier expansion / heuristic check is a single
    batched numpy distance evaluation — the Python-level work per visited node
    is O(neighbours) bookkeeping, not O(neighbours · dim) arithmetic (the
    vectorization the reference gets from hand-SIMD, base.rs:158-293).
    """

    def __init__(
        self, num_layers: int, ef_construction: int, m: int, seed: int, layer_seed: int | None = None
    ):
        self.num_layers = num_layers
        self.efc = ef_construction
        self.m = m
        self.ml = 1.0 / math.log(m) if m > 1 else 1.0  # hnsw.rs:323,458
        # layer draws key on the BASE seed (layer_seed), not the per-shard
        # seed: a node's layer must not depend on which shard it lands in
        self.layer_seed = seed if layer_seed is None else layer_seed
        self._thresholds = layer_thresholds(m, num_layers)
        # adjacency[layer][node] = {neighbour: distance}
        self.adj: list[dict[int, dict[int, float]]] = [dict() for _ in range(num_layers)]
        self.node_layer: dict[int, int] = {}
        self._idx: dict[int, int] = {}  # vid -> row in _buf
        self._buf: np.ndarray | None = None  # float64, authoritative values
        # float32 frontier twin + squared norms (r11): every frontier /
        # heuristic comparison runs on a half-bandwidth copy — comparisons
        # tolerate the ~1e-7 relative quantization (near-tie flips change
        # which of two equidistant neighbours wins, which the recall gates
        # bound), while anything REPORTED (search results) is recomputed
        # from the float64 buffer (tests verify at 1e-9).
        self._buf32: np.ndarray | None = None
        self._nrm32: np.ndarray | None = None
        self._n = 0
        # O(1) entrypoint/top cache (r11): the reference scans every node
        # per insert for the max-layer entrypoint; at 62k-node shards (1M
        # build) that scan is O(n²) over the build and was the dominant
        # cost. insert() maintains the cache incrementally; graphs
        # reconstructed by direct node_layer writes (the search path) leave
        # it unset and the first read falls back to one full scan.
        self._ep_node: int | None = None
        self._ep_layer: int = -1

    @property
    def vecs(self) -> dict[int, int]:
        """id-keyed view (membership / len); vector data lives in ``_buf``."""
        return self._idx

    def add_vec(self, vid: int, vec: np.ndarray) -> None:
        if self._buf is None:
            self._buf = np.empty((256, len(vec)), dtype=np.float64)
            self._buf32 = np.empty((256, len(vec)), dtype=np.float32)
            self._nrm32 = np.empty(256, dtype=np.float32)
        elif self._n == len(self._buf):
            for attr in ("_buf", "_buf32", "_nrm32"):
                cur = getattr(self, attr)
                grown = np.empty(
                    (2 * self._n,) + cur.shape[1:], dtype=cur.dtype
                )
                grown[: self._n] = cur
                setattr(self, attr, grown)
        self._buf[self._n] = vec
        v32 = vec.astype(np.float32)
        self._buf32[self._n] = v32
        self._nrm32[self._n] = v32 @ v32
        self._idx[vid] = self._n
        self._n += 1

    # -- reference hnsw.rs:335-346, made an id-deterministic draw (see module
    # header): same geometric law, reproducible and SQL-recomputable
    def _draw_layer(self, vid: int) -> int:
        return draw_layer(vid, self.layer_seed, self._thresholds)


    # -- layered bounded greedy search, hnsw.rs:242-307 (Alg 2)
    def _search_layer(self, q: np.ndarray, entry: list[int], ef: int, layer: int) -> list[tuple[float, int]]:
        # Hot path of the whole build (~100 expansions × ~M fresh rows per
        # insert): the distance eval is inlined — numpy-dispatch and
        # attribute-lookup overhead per expansion costs more than the
        # ~M·d flops themselves — and runs on the float32 twin. The tiny
        # negative rounding the expansion form can produce is clamped at
        # the one place values escape comparisons (insert's edge store).
        adj = self.adj[layer]
        idx_get = self._idx.__getitem__
        buf32, nrm32 = self._buf32, self._nrm32
        q32 = np.asarray(q, dtype=np.float32)
        qq = float(q32 @ q32)
        einsum, fromiter, intp = np.einsum, np.fromiter, np.intp
        heappush, heappop = heapq.heappush, heapq.heappop

        visited = set(entry)
        rows = fromiter(map(idx_get, entry), intp, count=len(entry))
        ed = nrm32[rows] - 2.0 * einsum("ij,j->i", buf32[rows], q32) + qq
        cand = [(float(d), e) for d, e in zip(ed, entry)]  # min-heap
        heapq.heapify(cand)
        result = [(-d, e) for d, e in cand]  # bounded max-heap
        heapq.heapify(result)
        while len(result) > ef:
            heappop(result)
        while cand:
            d_c, c = heappop(cand)
            if d_c > -result[0][0]:
                break
            fresh = [nb for nb in adj.get(c, ()) if nb not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            rows = fromiter(map(idx_get, fresh), intp, count=len(fresh))
            nd = nrm32[rows] - 2.0 * einsum("ij,j->i", buf32[rows], q32) + qq
            bound = -result[0][0]
            room = len(result) < ef
            for d_n, nb in zip(nd.tolist(), fresh):
                if room or d_n < bound:
                    heappush(cand, (d_n, nb))
                    heappush(result, (-d_n, nb))
                    if len(result) > ef:
                        heappop(result)
                    bound = -result[0][0]
                    room = len(result) < ef
        return sorted((-nd, n) for nd, n in result)

    # -- heuristic neighbour selection (paper Alg 4; reference hnsw.rs:104-164
    #    implements the closest-first accept rule but leaves keepPruned
    #    unimplemented — we complete it, because without the pruned fill-up
    #    ~10% of nodes end with zero in-edges and become unreachable)
    def _select(self, candidates: list[tuple[float, int]], m: int) -> list[tuple[float, int]]:
        cands = sorted(candidates)
        if len(cands) <= m:
            return cands  # everything survives (accepted ∪ pruned fill-up)
        # one batched pairwise-distance matrix (float32 twin — comparisons
        # only); the accept loop then runs on plain Python floats (2.3M
        # tiny numpy calls → ~1 GEMM per select)
        rows = np.fromiter(
            (self._idx[c] for _, c in cands), np.intp, count=len(cands)
        )
        P = self._buf32[rows]
        sq = self._nrm32[rows]
        G = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (P @ P.T), 0.0).tolist()
        out: list[tuple[float, int]] = []
        out_i: list[int] = []
        pruned: list[tuple[float, int]] = []
        for i, (d_c, c) in enumerate(cands):
            if len(out) >= m:
                break
            gi = G[i]
            if all(d_c < gi[j] for j in out_i):
                out.append((d_c, c))
                out_i.append(i)
            else:
                pruned.append((d_c, c))
        out.extend(pruned[: m - len(out)])  # keepPrunedConnections
        return out

    # -- degree trim, hnsw.rs:166-198. The reference trims on every insert
    #    that overflows a neighbour; we amortize (trim only past 1.5×cap,
    #    ``finalize`` enforces the exact cap once at the end) — intermediate
    #    slack only ADDS edges, so build quality can't degrade.
    def _trim(self, node: int, layer: int, cap: int) -> None:
        nbrs = self.adj[layer][node]
        if len(nbrs) <= cap:
            return
        kept = self._select([(d, n) for n, d in nbrs.items()], cap)
        keep_ids = {n for _, n in kept}
        # single-sided like the reference (hnsw.rs:166-198): only this node's
        # list shrinks; reverse edges survive, preserving reachability of the
        # dropped neighbours (bidirectional removal disconnects the graph).
        for n in list(nbrs):
            if n not in keep_ids:
                del nbrs[n]

    # -- full insert, hnsw.rs:348-432
    def insert(self, vid: int, vec: np.ndarray) -> None:
        self.add_vec(vid, vec)
        l_ins = self._draw_layer(vid)
        if self._n == 1:
            self.node_layer[vid] = l_ins
            self._ep_node, self._ep_layer = vid, l_ins
            for layer in range(l_ins + 1):
                self.adj[layer][vid] = {}
            return
        # entrypoint/top come from the graph as it exists BEFORE this node is
        # registered (hnsw.rs:374: the new node must descend from the existing
        # graph; registering first would make a node drawing a new top layer
        # its own entrypoint and insert it disconnected)
        entry = [self._entrypoint()]
        top = self._ep_layer  # entrypoint has the max layer by definition
        self.node_layer[vid] = l_ins
        if l_ins > self._ep_layer or (l_ins == self._ep_layer and vid < self._ep_node):
            self._ep_node, self._ep_layer = vid, l_ins  # O(1) cache upkeep
        # descend top..l_ins+1 greedily (hnsw.rs:374-384)
        for layer in range(top, l_ins, -1):
            if self.adj[layer]:
                best = self._search_layer(vec, [e for e in entry if e in self.adj[layer]] or entry, 1, layer)
                if best:
                    entry = [best[0][1]]
        # insert on layers min(l_ins, top)..0 (hnsw.rs:387-416)
        for layer in range(min(l_ins, self.num_layers - 1), -1, -1):
            cap = self.m * 2 if layer == 0 else self.m  # hnsw.rs:400-404
            self.adj[layer].setdefault(vid, {})
            seeds = [e for e in entry if e in self.adj[layer]]
            if not seeds:
                seeds = [n for n in list(self.adj[layer])[:1] if n != vid]
            if seeds:
                cands = self._search_layer(vec, seeds, self.efc, layer)
                cands = [(d, n) for d, n in cands if n != vid]
                selected = self._select(cands, cap)
                for d, n in selected:  # undirected add (hnsw.rs:64-82)
                    if d < 0.0:
                        d = 0.0  # f32 expansion-form rounding of a true zero
                    self.adj[layer][vid][n] = d
                    rev = self.adj[layer].setdefault(n, {})
                    rev[vid] = d
                    if len(rev) > cap + (cap >> 1):  # amortized trim
                        self._trim(n, layer, cap)
                if cands:
                    entry = [cands[0][1]]
        for layer in range(min(l_ins, self.num_layers - 1) + 1):
            self.adj[layer].setdefault(vid, {})

    def finalize(self) -> "_LocalHNSW":
        """Enforce the exact degree caps once after the amortized build."""
        for layer, adj in enumerate(self.adj):
            cap = self.m * 2 if layer == 0 else self.m
            for node in adj:
                self._trim(node, layer, cap)
        return self

    def _entrypoint(self) -> int:
        # pinned: max node_layer, then min id (vs HashMap order, hnsw.rs:516).
        # Reads the insert-maintained O(1) cache; a graph reconstructed by
        # direct node_layer writes (the search path's applyInPandas rebuild)
        # pays ONE full scan on first read, then caches — node_layer is
        # never mutated after reconstruction.
        if self._ep_node is None:
            self._ep_node = min(
                (n for n in self.node_layer),
                key=lambda n: (-self.node_layer[n], n),
            )
            self._ep_layer = self.node_layer[self._ep_node]
        return self._ep_node

    def search(self, q: np.ndarray, k: int, ef_search: int) -> list[tuple[float, int]]:
        if not self.vecs:
            return []
        entry = [self._entrypoint()]
        top = self._ep_layer
        for layer in range(top, 0, -1):  # hnsw.rs:526-536
            if self.adj[layer]:
                seeds = [e for e in entry if e in self.adj[layer]] or entry
                best = self._search_layer(q, seeds, ef_search, layer)
                if best:
                    entry = [best[0][1]]
        final = self._search_layer(q, [e for e in entry if e in self.adj[0]] or entry, max(ef_search, k), 0)
        # re-rank the FULL ef-candidate set by exact f64 (x−q)·(x−q), THEN
        # truncate to k. Two reasons: downstream contracts verify reported
        # distances at 1e−9 (tests/test_hnsw.py), and — the sharper one —
        # the frontier's float32 expansion form carries ~1e-7·‖x‖²
        # cancellation noise, so among near-duplicates its within-cloud
        # order is arbitrary; cutting at k BEFORE the f64 re-rank returned
        # an arbitrary k of a duplicate cloud (recall 0.4 on the
        # duplicate-heavy gate, ADVICE r11). ef·dim flops, free next to
        # the search itself.
        out = []
        for _, n in final:
            dv = self._buf[self._idx[n]] - q
            out.append((float(dv @ dv), n))
        out.sort()
        return out[:k]


def _build_local(pdf: pd.DataFrame, params: dict) -> pd.DataFrame:
    import time

    t0 = time.perf_counter()
    shard = int(pdf["shard_id"].iloc[0])
    g = _LocalHNSW(
        params["num_layers"],
        params["ef_construction"],
        params["m"],
        params["seed"] + shard,
        layer_seed=params["seed"],
    )
    order = np.argsort(pdf["id"].to_numpy())  # deterministic insert order
    ids = pdf["id"].to_numpy()[order]
    vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)[order]
    for vid, vec in zip(ids, vecs):
        g.insert(int(vid), vec)
    g.finalize()  # enforce exact degree caps after the amortized build
    rows = [
        (shard, 0, g.node_layer[n], int(n), None, None) for n in g.node_layer
    ]
    for layer, adj in enumerate(g.adj):
        for src, nbrs in adj.items():
            for dst, d in nbrs.items():
                rows.append((shard, 1, layer, int(src), int(dst), float(d)))
    # the shard's summary, which build()/add() harvest into the manifest in
    # one collect and strip from the graph table (see _shard_summaries):
    # kind=2 is build telemetry (src = shard row count, distance = wall
    # seconds — a 1M run tells STRAGGLERS, uneven shard walls, from host
    # steal, a uniform slowdown); kind=3 the entrypoint (src = the max-layer,
    # then min-id node — §3.2 determinism — layer = its layer) and the top
    # layer holding an edge (dst; null when the shard has no edge)
    ep = min(g.node_layer, key=lambda n: (-g.node_layer[n], n))
    edge_layers = [layer for layer, adj in enumerate(g.adj) if any(adj.values())]
    rows.append((shard, 2, 0, len(pdf), None, time.perf_counter() - t0))
    rows.append((shard, 3, g.node_layer[ep], int(ep), max(edge_layers, default=None), None))
    return pd.DataFrame(
        rows, columns=["shard_id", "kind", "layer", "src", "dst", "distance"]
    )


def _shard_summaries(rows) -> tuple[dict, dict, int | None]:
    """The manifest entries of _build_local's summary rows (kinds 2 and 3):
    ``shard_build_seconds`` and ``entrypoints`` keyed by shard, and the top
    edge layer over the shards (None when no shard has an edge)."""
    tele, eps, top = {}, {}, None
    for r in rows:
        shard = str(int(r["shard_id"]))
        if r["kind"] == 2:
            tele[shard] = [int(r["src"]), round(float(r["distance"]), 4)]
        else:
            eps[shard] = [int(r["src"]), int(r["layer"])]
            if r["dst"] is not None:
                top = int(r["dst"]) if top is None else max(top, int(r["dst"]))
    return tele, eps, top


def _assign_top2(data: DataFrame, cent_mat: np.ndarray, eps: float) -> DataFrame:
    """(cluster_id, id, embedding) with MULTI-ASSIGNMENT: every point gets
    its nearest parent cluster, plus its runner-up cluster when
    d₂ ≤ (1+eps)² · d₁ (squared distances) — the boundary-replication rule
    that stitches shard-local HNSW graphs across cluster boundaries. One
    GEMM per Arrow batch against the broadcast centroid matrix; ties rank
    by ascending cluster id (stable argsort)."""
    spark = data.sparkSession
    bc = spark.sparkContext.broadcast(cent_mat)
    scale = (1.0 + float(eps)) ** 2

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value  # (K, d)
        cn = (cents * cents).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            d = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cents.T) + cn[None, :]
            order = np.argsort(d, axis=1, kind="stable")[:, :2]
            rows = np.arange(len(pdf))
            d1 = d[rows, order[:, 0]]
            d2 = d[rows, order[:, 1]]
            ids = pdf["id"].to_numpy()
            emb = pdf["embedding"]
            primary = pd.DataFrame(
                {"cluster_id": order[:, 0].astype("int32"), "id": ids, "embedding": emb}
            )
            keep = d2 <= scale * d1
            replica = pd.DataFrame(
                {
                    "cluster_id": order[keep, 1].astype("int32"),
                    "id": ids[keep],
                    "embedding": emb[keep],
                }
            )
            yield pd.concat([primary, replica], ignore_index=True)

    emb_type = data.schema["embedding"].dataType.simpleString()
    return data.mapInPandas(assign, f"cluster_id int, id long, embedding {emb_type}")


# ---------------------------------------------------------------- index


@dataclass
class HNSWIndex:
    spark: SparkSession
    nodes: DataFrame  # shard_id int, id long, embedding array<float>
    graph: DataFrame  # shard_id, kind(0=node,1=edge), layer, src, dst, distance
    centroids: np.ndarray | None  # k-means shard centroids (None = random shards)
    params: dict

    @staticmethod
    def build(
        corpus: DataFrame,
        num_layers: int = 12,
        ef_construction: int = 100,
        ef_search: int = 32,
        m: int = 24,
        num_shards: int = 4,
        shard_by: str = "kmeans",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        metric: str = "sq_euclidean",
        max_shard_rows: int | None = None,
        boundary_eps: float = 0.0,
    ) -> "HNSWIndex":
        """Reference-default hyperparameters from `main.rs:74-78`.

        ``boundary_eps`` (k-means sharding only) is the locality-shard
        recall fix (SURVEY §7 phase-4 "merge step", shipped round 6 as
        boundary REPLICATION rather than cross-links — the per-shard-local
        search can only traverse nodes resident in the shard, so the
        boundary is stitched by multi-assigning near-boundary points):
        a point whose second-nearest parent centroid sits within
        ``(1+eps)²`` of its nearest (squared distance) is ALSO inserted
        into that runner-up cluster's shard graph. Queries probing either
        side of a cluster boundary then see the points just across it —
        the recall that single-assignment sharding loses at low probe
        counts. Costs a replication factor of (1 + boundary fraction) in
        build time and storage; results dedup by neighbour id at merge.
        0.0 (default) = single assignment, the unchanged r5 behavior.

        ``metric="cosine"`` reproduces the reference's HNSW distance
        (hnsw.rs:258: cosine distance = 1 − dot on unit vectors): vectors are
        L2-normalized at build (the utils.rs:48 normalize-on-load contract)
        and reported distances are sq_euclidean/2 ≡ 1 − dot.

        ``max_shard_rows`` (k-means sharding only) BALANCES the shards:
        any cluster bigger than the cap is hash-split into
        ceil(size/cap) sub-shards that inherit the parent centroid. K-means
        clusters track the data's cluster structure — skewed by nature (at
        1M×300 with 50 latent clusters, 64-way k-means produced 40-60k-row
        shards whose concurrent per-shard graph builds OOMed the box) — so
        the cap is what makes locality-sharded builds memory-safe: per-task
        footprint is bounded by the CAP, not by the skew, while probe
        pruning still ranks sub-shards by the parent centroid (probing a
        cluster = probing its few sub-shards, adjacent in the ranking
        because they tie on distance).
        """
        if metric not in ("sq_euclidean", "cosine"):
            raise ValueError(f"unknown metric {metric!r}")
        spark = corpus.sparkSession
        data = corpus.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("embedding")
        )
        if metric == "cosine":
            from vers_spark.functions import vector as V

            data = data.withColumn("embedding", V.normalize(F.col("embedding")).cast("array<float>"))
        centroids = None
        if shard_by == "kmeans":
            from vers_spark.indexes.ivfflat import IVFFlatIndex

            ivf = IVFFlatIndex.build(
                data, num_clusters=num_shards, id_col="id", vec_col="embedding", seed=seed
            )
            cent_rows = [
                list(r["centroid"]) for r in ivf.centroids.orderBy("cluster_id").collect()
            ]
            assignments = ivf.assignments
            cluster_sizes = None
            if boundary_eps > 0 and num_shards >= 2:
                # top-2 assignment via one GEMM per Arrow batch (the
                # blocked-kernel pattern): primary rows + boundary replicas
                assignments = _assign_top2(
                    data, np.array(cent_rows, dtype=np.float64), float(boundary_eps)
                ).localCheckpoint(eager=False)
                cluster_sizes = {
                    int(r["cluster_id"]): int(r["n"])
                    for r in assignments.groupBy("cluster_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            if max_shard_rows:
                sizes = cluster_sizes if cluster_sizes is not None else ivf._cluster_sizes()
                splits = [
                    max(1, -(-sizes.get(c, 0) // max_shard_rows))
                    for c in range(num_shards)
                ]
                offsets = [0] * num_shards
                for c in range(1, num_shards):
                    offsets[c] = offsets[c - 1] + splits[c - 1]
                # shard_id = offset[cluster] + hash-salt within the cluster;
                # sub-shards inherit the parent centroid (duplicated rows in
                # the probe-ranking array below)
                off_expr = F.element_at(
                    F.array(*[F.lit(o) for o in offsets]), F.col("cluster_id") + 1
                )
                salt_expr = F.pmod(
                    F.xxhash64("id", F.lit(seed)),
                    F.element_at(F.array(*[F.lit(s) for s in splits]), F.col("cluster_id") + 1),
                )
                nodes = assignments.select(
                    (off_expr + salt_expr).cast("int").alias("shard_id"), "id", "embedding"
                )
                centroids = np.array(
                    [cent_rows[c] for c in range(num_shards) for _ in range(splits[c])],
                    dtype=np.float64,
                )
                # search probe pruning ranks PARENT clusters and probes all
                # of a probed cluster's sub-shards (hash-splitting spreads a
                # cluster's neighbours across its sub-shards — probing only
                # some of them silently halves recall)
                shard_parent = [c for c in range(num_shards) for _ in range(splits[c])]
                num_shards = offsets[-1] + splits[-1]
            else:
                nodes = assignments.select(
                    F.col("cluster_id").alias("shard_id"), "id", "embedding"
                )
                centroids = np.array(cent_rows, dtype=np.float64)
        elif shard_by == "random":
            nodes = data.select(
                F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(num_shards)).cast("int").alias("shard_id"),
                "id",
                "embedding",
            )
        else:
            raise ValueError(f"unknown shard_by {shard_by!r}")
        # lazy checkpoint: materialization rides the graph build's groupBy job
        # below (one job instead of two); later searches then read the
        # truncated plan instead of re-running the assignment pass
        nodes = nodes.repartition(num_shards, "shard_id").localCheckpoint(eager=False)

        params = {
            "num_layers": int(num_layers),
            "ef_construction": int(ef_construction),
            "ef_search": int(ef_search),
            "m": int(m),
            "num_shards": int(num_shards),
            "shard_by": shard_by,
            "seed": int(seed),
            "metric": metric,
        }
        if shard_by == "kmeans" and max_shard_rows:
            params["shard_parent"] = [int(p) for p in shard_parent]
        if boundary_eps > 0:
            params["boundary_eps"] = float(boundary_eps)
        graph = (
            nodes.groupBy("shard_id")
            .applyInPandas(lambda pdf: _build_local(pdf, params), _GRAPH_SCHEMA)
            .localCheckpoint(eager=True)  # build once, reuse across searches
        )
        # harvest the per-shard summary rows (2 × num_shards — driver-
        # trivial) into the manifest in one collect, then strip them: the
        # graph readers (search reconstruction, layer_stats, save) see
        # kinds 0/1 only. Entrypoints persist in the manifest (SURVEY
        # §9.6): searches start from it instead of re-aggregating the graph.
        tele, eps, top_edge = _shard_summaries(graph.filter(F.col("kind") >= 2).collect())
        params["shard_build_seconds"] = tele
        graph = graph.filter(F.col("kind") <= 1)
        params["entrypoints"] = eps
        params["top_edge_layer"] = top_edge if top_edge is not None else 0
        return HNSWIndex(spark, nodes, graph, centroids, params)

    # ---------------- search ----------------

    def _route_units(self) -> int:
        parents = self.params.get("shard_parent")
        return len(set(parents)) if parents is not None else int(self.params["num_shards"])

    def _auto_ef(self, k: int, probes: int) -> int:
        """Probe-aware serving ef (the r4 BASELINE analysis promoted to
        code in r6): each probed shard must hold a deeper candidate pool
        when fewer shards are probed — ef ≈ 4·k / probe_fraction, clamped
        to [4k, 128]. The 128 cap is the measured knee of the 1M×300
        recall curve at 8/64 probes (ef 32 → 0.646, 64 → 0.818,
        128 → 0.931; beyond 128 the curve flattens while search cost keeps
        doubling)."""
        route = max(self._route_units(), 1)
        return int(min(max(4 * k * route // max(probes, 1), 4 * k), 128))

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef_search: int | str | None = None,
        n_probe_shards: int | None = None,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
    ) -> DataFrame:
        """Batch search: queries broadcast to their ``n_probe_shards`` nearest
        shards (k-means sharding) or all shards (random), per-shard layered
        greedy search, global per-query top-k merge.

        The query batch is collected in one job under the bounded-batch
        contract (``knn._query_block``). Each cogroup group is one probed
        shard and emits at most k rows per query probing it, so the rows
        fetched are bounded by the driver's probe sets × k. The driver
        fetches them with ``toArrow()``, halves cosine distances, drops
        boundary replicas (one row per (query, id)) and ranks the top-k in
        numpy (``knn._topk_frame``): the result is a local frame, and
        collecting it starts no job.

        ``ef_search="auto"`` applies the probe-aware rule (see _auto_ef):
        probing a small fraction of the shards needs a deeper per-shard
        pool to hold recall."""
        probes = int(n_probe_shards or (1 if self.centroids is not None else self.params["num_shards"]))
        if ef_search == "auto":
            ef = self._auto_ef(k, probes)
        else:
            ef = int(ef_search or self.params["ef_search"])
        from vers_spark.operators.knn import _NO_ROWS, _query_block, _rank_within, _topk_frame

        block = _query_block(queries, query_id, query_vec, "HNSWIndex.search")
        if block is None:
            return _topk_frame(self.spark, *_NO_ROWS, k)
        qids, qvecs = block
        if self.params.get("metric") == "cosine":
            norms = np.linalg.norm(qvecs, axis=1, keepdims=True)
            qvecs = np.where(norms < 1e-6, qvecs, qvecs / np.maximum(norms, 1e-30))
        cents = self.centroids
        num_shards = self.params["num_shards"]
        nl, efc, m, seed = (
            self.params["num_layers"],
            self.params["ef_construction"],
            self.params["m"],
            self.params["seed"],
        )
        parents = self.params.get("shard_parent")
        if cents is not None and parents is not None:
            # balanced k-means sharding: n_probe_shards counts PARENT
            # clusters; a probed cluster contributes ALL its sub-shards
            parr = np.array(parents)
            uniq_parents, first_idx = np.unique(parr, return_index=True)
            if probes < len(uniq_parents):
                pcents = cents[first_idx]
                ranks = np.argsort(
                    np.array([_sq_dists(pcents, qv) for qv in qvecs]), axis=1
                )[:, :probes]
                probe_sets = [
                    set(map(int, np.nonzero(np.isin(parr, uniq_parents[r]))[0]))
                    for r in ranks
                ]
            else:
                probe_sets = None
        elif cents is not None and probes < num_shards:
            ranks = np.argsort(
                np.array([_sq_dists(cents, qv) for qv in qvecs]), axis=1
            )[:, :probes]
            probe_sets = [set(map(int, r)) for r in ranks]
        else:
            probe_sets = None  # every shard handles every query

        def shard_topk(node_pdfs: pd.DataFrame, graph_pdf: pd.DataFrame) -> pd.DataFrame:
            if node_pdfs.empty:
                return pd.DataFrame(columns=["query_id", "neighbour_id", "distance"])
            shard = int(node_pdfs["shard_id"].iloc[0])
            mine = (
                [i for i in range(len(qids)) if shard in probe_sets[i]]
                if probe_sets is not None
                else range(len(qids))
            )
            if not mine:
                return pd.DataFrame(columns=["query_id", "neighbour_id", "distance"])
            g = _LocalHNSW(nl, efc, m, seed + shard)
            vec_arr = np.array(node_pdfs["embedding"].tolist(), dtype=np.float64)
            for i, vid in enumerate(node_pdfs["id"].to_numpy()):
                g.add_vec(int(vid), vec_arr[i])
            for r in graph_pdf.itertuples(index=False):
                if r.kind == 0:
                    g.node_layer[int(r.src)] = int(r.layer)
                    g.adj[int(r.layer)].setdefault(int(r.src), {})
                else:
                    g.adj[int(r.layer)].setdefault(int(r.src), {})[int(r.dst)] = float(r.distance)
            for layer in range(nl):  # membership: a node exists on layers 0..node_layer
                for n, l in g.node_layer.items():
                    if layer <= l:
                        g.adj[layer].setdefault(n, {})
            out = []
            for i in mine:
                for d, n in g.search(qvecs[i], k, ef):
                    out.append((int(qids[i]), int(n), float(d)))
            return pd.DataFrame(out, columns=["query_id", "neighbour_id", "distance"])

        # static shard pruning: the probe sets are decided driver-side, so
        # the un-probed shards can be dropped with a literal IN filter —
        # on a saved store shard_id is the partition column and this
        # prunes at PLANNING time (no DPP needed; measured-gated in
        # test_plans). Without it every shard's nodes+edges are scanned
        # and shuffled into cogroup tasks that return empty — ~88% wasted
        # I/O at the 1M store's 108 shards / 8-parent probes.
        if probe_sets is not None:
            union = sorted(set().union(*probe_sets))
            nodes_src = self.nodes.filter(F.col("shard_id").isin(union))
            graph_src = self.graph.filter(F.col("shard_id").isin(union))
        else:
            nodes_src, graph_src = self.nodes, self.graph
        cands = (
            nodes_src.groupby("shard_id")
            .cogroup(graph_src.groupby("shard_id"))
            .applyInPandas(shard_topk, _RESULT_SCHEMA)
            .toArrow()
        )
        qid, nid, dist = (cands.column(c).to_numpy() for c in cands.column_names)
        if self.params.get("metric") == "cosine":
            # unit vectors: sq_euclidean/2 = 1 − dot = the reference's cosine
            # distance (hnsw.rs:258)
            dist = dist / 2
        if self.params.get("boundary_eps"):
            # boundary replicas: the same neighbour can surface from two
            # shards (identical id + distance) — one row per (query, id)
            order = np.lexsort((dist, nid, qid))
            order = order[_rank_within(order, qid, nid) == 1]
            qid, nid, dist = qid[order], nid[order], dist[order]
        return _topk_frame(self.spark, qid, nid, dist, k)

    def search_filtered(
        self,
        queries: DataFrame,
        k: int,
        allowed_ids: DataFrame,
        overfetch: int = 4,
        **kwargs,
    ) -> DataFrame:
        """Metadata-filtered ANN, post-filter strategy: overfetch
        ``k·overfetch`` candidates (ef widened to match), semi-join the
        allowed-id set, re-rank to k. Right when the predicate keeps a
        sizable fraction of the corpus; for highly selective predicates
        flip to pre-filter exact KNN over the allowed subset instead
        (the IVF path composes the predicate into its posting-list scan —
        ivf_search_filtered). The allowed-id set broadcasts; with an
        id-selectivity of s, expected recall loss is the probability that
        fewer than k of the k·overfetch neighbours pass — size overfetch
        ≈ c/s for headroom."""
        ef_arg = kwargs.pop("ef_search", 0)
        if ef_arg == "auto":
            probes = int(kwargs.get("n_probe_shards") or self._route_units())
            ef_arg = self._auto_ef(k * overfetch, probes)
        ef = int(ef_arg or self.params["ef_search"])
        raw = self.search(
            queries, k=k * overfetch, ef_search=max(ef, k * overfetch), **kwargs
        )
        keep = allowed_ids.select(
            F.col(allowed_ids.columns[0]).cast("long").alias("neighbour_id")
        )
        w = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
        return (
            raw.join(F.broadcast(keep), "neighbour_id", "left_semi")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbour_id", "distance", "rank")
        )

    def search_frontier(
        self,
        queries: DataFrame,
        k: int,
        ef_search: int | str | None = None,
        max_hops: int = 6,
        n_probe_shards: int | None = None,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
    ) -> DataFrame:
        """Distributed frontier-expansion search (SURVEY §2.C scale
        formulation, mirroring hnsw.rs:242-307/510-548 as DataFrame rounds):
        the graph never leaves the executors — the cogrouped :meth:`search`
        is the batch fast path when a shard's graph fits per task; this is
        the formulation for graphs that don't.

        Upper layers: greedy descent, one frontier join per occupied layer —
        keep the argmin neighbour per (query, shard) (the entrypoint-chaining
        of hnsw.rs:526-536 with ef=1, documented simplification). Layer 0:
        bounded BFS — per round, expand the frontier's layer-0 edges, merge
        into the per-query top-``ef`` candidate heap (window, the DataFrame
        analogue of the bounded max-heap models.rs:10-34), new entrants form
        the next frontier; stop when no candidate improves or after
        ``max_hops`` rounds. Entrypoints are pinned (min id of each shard's
        top layer), not HashMap order (§3.2 determinism note).
        """
        from vers_spark.functions import vector as V

        if ef_search == "auto":
            ef = self._auto_ef(
                k, int(n_probe_shards or self._route_units())
            )
        else:
            ef = int(ef_search or self.params["ef_search"])
        q = queries.select(
            F.col(query_id).cast("long").alias("query_id"), F.col(query_vec).alias("q_vec")
        )
        if self.params.get("metric") == "cosine":
            q = q.select("query_id", V.normalize(F.col("q_vec")).alias("q_vec"))
        edges = self.graph.filter(F.col("kind") == 1).select(
            "shard_id", "layer", "src", "dst"
        )
        node_layers = self.graph.filter(F.col("kind") == 0).select(
            "shard_id", "layer", F.col("src").alias("node_id")
        )
        emb = self.nodes.select(
            "shard_id", F.col("id").alias("node_id"), F.col("embedding").alias("n_vec")
        )
        ep = self.params.get("entrypoints")
        if ep:
            # manifest-cached entrypoints: no aggregate over the graph table
            eps = local_frame(
                self.spark,
                "shard_id int, node_id long",
                [(int(s), int(n)) for s, (n, _l) in ep.items()],
            )
            top_layer = int(self.params.get("top_edge_layer", 0))
        else:  # pre-§9.6 index loaded from disk: fall back to the scan
            sw = W.partitionBy("shard_id")
            eps = (
                node_layers.withColumn("_top", F.max("layer").over(sw))
                .filter(F.col("layer") == F.col("_top"))
                .groupBy("shard_id")
                .agg(F.min("node_id").alias("node_id"))
            )
            top_layer = (
                self.graph.filter(F.col("kind") == 1).agg(F.max("layer")).collect()[0][0] or 0
            )

        parents = self.params.get("shard_parent")
        n_route_units = (
            len(set(parents)) if parents is not None else int(self.params["num_shards"])
        )
        if (
            n_probe_shards is not None
            and self.centroids is not None
            and n_probe_shards < n_route_units
        ):
            # centroid routing, declaratively: rank shards per query by
            # centroid distance (broadcast — num_shards rows) and start the
            # descent only on the n nearest, the frontier twin of the batch
            # path's probe_sets. All-shards remains the recall-exact mode.
            # Balanced-kmeans indexes (max_shard_rows) hash-split a cluster
            # into sub-shards with DUPLICATED parent centroids: rank the
            # unique PARENT centroids and probe ALL sub-shards of each probed
            # parent — ranking sub-shards individually would count duplicates
            # against n_probe_shards and cover only part of a cluster's
            # neighbourhood (same semantics as search()'s probe_sets).
            cents = np.asarray(self.centroids, dtype=np.float64)
            if parents is not None:
                parr = np.array(parents)
                uniq_parents, first_idx = np.unique(parr, return_index=True)
                cent_df = local_frame(
                    self.spark,
                    "route_id int, c_vec array<double>",
                    {"route_id": uniq_parents, "c_vec": cents[first_idx]},
                )
                sub_df = local_frame(
                    self.spark,
                    "route_id int, shard_id int",
                    {"route_id": parr, "shard_id": np.arange(len(parr))},
                )
            else:
                cent_df = local_frame(
                    self.spark,
                    "route_id int, c_vec array<double>",
                    {"route_id": np.arange(len(cents)), "c_vec": cents},
                )
                sub_df = None
            cw = W.partitionBy("query_id").orderBy("c_dist", "route_id")
            probe = (
                q.crossJoin(F.broadcast(cent_df))
                .withColumn("c_dist", V.sq_euclidean(F.col("q_vec"), F.col("c_vec")))
                .withColumn("_r", F.row_number().over(cw))
                .filter(F.col("_r") <= n_probe_shards)
            )
            if sub_df is not None:
                probe = probe.join(F.broadcast(sub_df), "route_id")
            else:
                probe = probe.withColumn("shard_id", F.col("route_id"))
            # Pin the routing before BOTH consumers (the collected union
            # below and the `start` join) read it: with a nondeterministic
            # queries frame (sample/rand/unordered limit) a re-executed
            # probe could route a query to a shard outside the collected
            # union, whose edges/emb rows were filtered away — silently
            # dropping candidates. One eager checkpoint = one execution.
            probe = probe.select("query_id", "shard_id").localCheckpoint(
                eager=True
            )
            # static shard pruning for every per-layer edge/embedding scan
            # below: the probed-shard UNION is ≤ num_shards rows however
            # large the query batch, so one bounded collect turns the
            # query-dependent routing into a literal IN that partition-
            # prunes the saved store at planning time (the checkpointed
            # intermediate frames hide these scans from runtime-metric
            # gates, so this is the only prunable shape). Frontier
            # expansion never leaves a shard — all joins key on shard_id —
            # so dropping un-probed shards is semantics-preserving.
            probed_union = [
                int(r["shard_id"])
                for r in probe.select("shard_id").distinct().collect()
            ]
            edges = edges.filter(F.col("shard_id").isin(probed_union))
            emb = emb.filter(F.col("shard_id").isin(probed_union))
            start = q.join(probe, "query_id").join(eps, "shard_id")
        else:
            start = q.crossJoin(eps)
        dist = V.sq_euclidean(F.col("q_vec"), F.col("n_vec"))
        cur = (
            start
            .join(emb, ["shard_id", "node_id"])
            .withColumn("distance", dist)
            .select("query_id", "q_vec", "shard_id", "node_id", "distance")
            .localCheckpoint(eager=False)
        )
        for layer in range(top_layer, 0, -1):
            e = edges.filter(F.col("layer") == layer).select(
                F.col("shard_id").alias("e_sid"),
                F.col("src").alias("e_src"),
                F.col("dst").alias("e_dst"),
            )
            nxt = (
                cur.join(
                    e,
                    (cur["shard_id"] == e["e_sid"]) & (cur["node_id"] == e["e_src"]),
                    "left",
                )
                .select(
                    "query_id", "q_vec", "shard_id",
                    F.coalesce(F.col("e_dst"), F.col("node_id")).alias("node_id"),
                )
                .dropDuplicates(["query_id", "shard_id", "node_id"])
                .join(emb, ["shard_id", "node_id"])
                .withColumn("distance", dist)
            )
            w1 = W.partitionBy("query_id", "shard_id").orderBy(
                F.asc("distance"), F.asc("node_id")
            )
            cur = (
                nxt.withColumn("_rn", F.row_number().over(w1))
                .filter(F.col("_rn") == 1)
                .select("query_id", "q_vec", "shard_id", "node_id", "distance")
                .localCheckpoint(eager=False)
            )
        # layer 0: bounded BFS; candidates merge ACROSS shards per query
        e0 = edges.filter(F.col("layer") == 0).select(
            F.col("shard_id").alias("e_sid"),
            F.col("src").alias("e_src"),
            F.col("dst").alias("e_dst"),
        )
        wq = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("node_id"))
        cand = cur.localCheckpoint(eager=True)
        frontier = cand
        for _ in range(max_hops):
            exp = (
                frontier.join(
                    e0,
                    (frontier["shard_id"] == e0["e_sid"])
                    & (frontier["node_id"] == e0["e_src"]),
                )
                .select("query_id", "q_vec", "shard_id", F.col("e_dst").alias("node_id"))
                .dropDuplicates(["query_id", "shard_id", "node_id"])
                .join(emb, ["shard_id", "node_id"])
                .withColumn("distance", dist)
                .select("query_id", "q_vec", "shard_id", "node_id", "distance")
            )
            merged = (
                cand.unionByName(exp)
                .dropDuplicates(["query_id", "shard_id", "node_id"])
                .withColumn("_rn", F.row_number().over(wq))
                .filter(F.col("_rn") <= max(ef, k))
                .drop("_rn")
                .localCheckpoint(eager=True)
            )
            # next frontier = freshly admitted nodes (anti-join vs previous set)
            frontier = merged.join(
                cand.select("query_id", "shard_id", "node_id"),
                ["query_id", "shard_id", "node_id"],
                "left_anti",
            )
            cand = merged
            if frontier.isEmpty():
                break
        if self.params.get("boundary_eps"):
            # boundary replicas: the same node can be admitted from two
            # shards — dedup by node id before the final ranking
            cand = cand.dropDuplicates(["query_id", "node_id"])
        out = (
            cand.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= k)
            .select("query_id", "node_id", "distance", "rank")
        )
        if self.params.get("metric") == "cosine":
            out = out.withColumn("distance", F.col("distance") / 2)
        return out.select(
            "query_id", F.col("node_id").alias("neighbour_id"), "distance", "rank"
        )

    # ---------------- maintenance ----------------

    def add(
        self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> "HNSWIndex":
        """Micro-append (hnsw.rs:503-508 full re-insert, re-expressed at shard
        granularity): new vectors are routed to their shard (nearest centroid
        for k-means sharding, hash otherwise) and ONLY the affected shards'
        graphs are rebuilt — untouched shards keep their edges verbatim.
        Honors caller ids."""
        new = vectors.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("embedding")
        )
        if self.params.get("metric") == "cosine":
            from vers_spark.functions import vector as V

            new = new.withColumn("embedding", V.normalize(F.col("embedding")).cast("array<float>"))
        if self.centroids is not None:
            from vers_spark.indexes.ivfflat import IVFFlatIndex

            routed = IVFFlatIndex._assign(new, self.centroids).select(
                F.col("cluster_id").alias("shard_id"), "id", "embedding"
            )
        else:
            routed = new.select(
                F.pmod(F.xxhash64("id", F.lit(self.params["seed"])), F.lit(self.params["num_shards"]))
                .cast("int")
                .alias("shard_id"),
                "id",
                "embedding",
            )
        nodes = self.nodes.unionByName(routed).localCheckpoint(eager=True)
        affected = [r["shard_id"] for r in routed.select("shard_id").distinct().collect()]
        build_params = self.params
        rebuilt = (
            nodes.filter(F.col("shard_id").isin(affected))
            .groupBy("shard_id")
            .applyInPandas(lambda pdf: _build_local(pdf, build_params), _GRAPH_SCHEMA)
            .localCheckpoint(eager=True)  # build once; summaries and graph read it below
        )
        # refresh the manifest for the rebuilt shards from their summary
        # rows, one collect (copy — self.params stays the pre-add index's
        # truth): telemetry so shard_build_seconds keeps its rows-partition-
        # the-corpus invariant after add(), and entrypoints because the
        # id-deterministic layer draw lets an added node raise a shard's top
        # layer or take over min-id at the old top.
        params = dict(self.params)
        tele, eps, top = _shard_summaries(rebuilt.filter(F.col("kind") >= 2).collect())
        if params.get("shard_build_seconds") is not None:
            params["shard_build_seconds"] = {**params["shard_build_seconds"], **tele}
        if params.get("entrypoints") is not None:
            params["entrypoints"] = {**params["entrypoints"], **eps}
            if top is not None:
                params["top_edge_layer"] = max(int(params.get("top_edge_layer", 0)), top)
        graph = (
            self.graph.filter(~F.col("shard_id").isin(affected))
            .unionByName(rebuilt.filter(F.col("kind") <= 1))
            .localCheckpoint(eager=True)
        )
        return HNSWIndex(self.spark, nodes, graph, self.centroids, params)

    # ---------------- stats ----------------

    def layer_stats(self) -> DataFrame:
        """Nodes per layer across shards (hnsw.rs:480-485)."""
        return (
            self.graph.filter(F.col("kind") == 0)
            .select(F.explode(F.sequence(F.lit(0), F.col("layer"))).alias("layer"))
            .groupBy("layer")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .orderBy("layer")
        )

    # ---------------- persistence ----------------

    def save(self, path: str) -> None:
        self.nodes.write.mode("overwrite").partitionBy("shard_id").parquet(f"{path}/nodes")
        self.graph.write.mode("overwrite").partitionBy("shard_id").parquet(f"{path}/graph")
        os.makedirs(path, exist_ok=True)
        manifest = dict(self.params)
        if self.centroids is not None:
            manifest["centroids"] = self.centroids.tolist()
        # on-disk layout version (the LSH discipline): v1 = this layout
        # since round 2; absent stamps read as v1 (no older layout exists)
        manifest["format_version"] = 1
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(manifest, f)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "HNSWIndex":
        with open(f"{path}/manifest.json") as f:
            manifest = json.load(f)
        version = manifest.pop("format_version", 1)
        if version != 1:
            raise ValueError(
                f"HNSW index at {path!r} has on-disk format_version "
                f"{version}, this build reads 1 — re-save to migrate"
            )
        cents = manifest.pop("centroids", None)
        return HNSWIndex(
            spark,
            spark.read.parquet(f"{path}/nodes"),
            spark.read.parquet(f"{path}/graph"),
            np.array(cents, dtype=np.float64) if cents is not None else None,
            manifest,
        )
