"""Connected components over a pair/edge list — the clustering step between
near-dup PAIR detection (text_dedup, similarity) and dedup SURVIVOR selection:
pairs only say "a duplicates b"; transitive closure decides which rows form one
duplicate group and which single row survives (min id, matching the
first-occurrence-wins rule of the reference's dedup, `lsh.rs:119-129`).

Algorithm: iterative min-label propagation (each node adopts the minimum label
among itself and its neighbours) — the dataflow formulation of breadth-first
union-find. Per round: ONE shuffle (join labels to edges) + ONE aggregate
(min per node); rounds = graph diameter. Near-dup graphs are clique-like
(diameter 2-4), so this beats the Stergiou/Kiveris large-star/small-star
alternation, whose constant factor only pays off on deep path-shaped graphs
(that variant is the documented upgrade path if components ever span
millions of nodes). Labels only decrease, so the sum of labels is strictly
monotone — convergence is detected by a 1-row aggregate per round, no
row-level diff join.

Scale notes (100 TB): the edge list is tiny relative to the corpus (only
docs with ≥1 dup pair appear); per-round lineage is truncated with
localCheckpoint so the plan doesn't grow with iterations; the undirected
edge list is cached once and reused every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vers_spark.functions.frames import local_frame


def _driver_union_find(spark, e: DataFrame) -> DataFrame:
    """Driver-side union-find over a collected ``(src, dst)`` edge list:
    union attaches the larger root under the smaller, so the final root IS
    the component minimum — bit-identical to both distributed regimes
    (min-label propagation and large/small-star), whose shared oracles
    certify the equivalence. Callers gate on an edge-count cap that bounds
    driver memory (1M pairs ≈ ~16 MB of longs)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e.collect():
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(n, find(n)) for n in parent]
    return local_frame(spark, "node long, component long", rows)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    driver_cap: int = 1_000_000,
) -> DataFrame:
    """Return ``(node BIGINT, component BIGINT)`` for every node appearing in
    ``edges``; ``component`` is the minimum node id of the node's component.

    Two regimes, identical output (parity test-gated):
    - edge count ≤ ``driver_cap``: driver-side union-find on the collected
      pair list (union attaches the larger root under the smaller, so the
      final root IS the component minimum). Near-dup graphs are SMALL after
      banding — a few thousand pairs at sf0.1 — and the propagation loop's
      fixed cost is ~3 jobs/round × diameter rounds, which dominates the
      whole query; union-find collapses that to one count + one collect.
      The cap bounds driver memory (1M pairs ≈ ~16 MB of longs).
    - above the cap: min-label propagation, one shuffle + one agg per
      round, localCheckpointed lineage, 1-row convergence probe. Raises if
      ``max_iter`` rounds don't reach the fixpoint (diameter bound
      exceeded — pathological input for this variant)."""
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    if driver_cap and e.count() <= driver_cap:
        return _driver_union_find(edges.sparkSession, e)
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    und = und.distinct().cache()
    labels = (
        und.select(F.col("src").alias("node")).distinct().withColumn("lbl", F.col("node"))
    ).localCheckpoint()
    prev = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iter):
        msgs = und.join(labels, und.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        labels = (
            labels.unionByName(msgs).groupBy("node").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        cur = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    und.unpersist()
    return labels.select("node", F.col("lbl").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    driver_cap: int = 1_000_000,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the deep-graph
    alternative to :func:`connected_components`' min-label propagation.
    Propagation needs DIAMETER rounds (each label moves one hop per round);
    the star alternation contracts paths doubly-exponentially and converges
    in O(log² n) rounds regardless of diameter, so it is the right variant
    when components are path-shaped (chained near-dups, linked sessions)
    rather than clique-like.

    Per round, two halvings of the edge set, each ONE shuffle:
    - large-star: group BOTH edge directions by u; with m = min(N(u) ∪ {u}),
      rewire every strictly-larger neighbour to m — emit (v, m) for
      v ∈ N(u), v > u.
    - small-star: orient edges child=max, parent=min and group by child;
      with m = min(N(u) ∪ {u}) over the smaller neighbours, emit (v, m)
      for v ∈ N(u) ∪ {u}, v ≠ m.
    Both keep edges strictly (larger → smaller), never disconnect, and at
    the fixpoint the edge set is exactly the star forest child → component
    minimum (the paper's Theorem 1), so the output is BIT-IDENTICAL to the
    other two regimes — one oracle certifies all three.

    Convergence probe: the small-star edge set only loses total child+parent
    mass (every rewire lowers the parent, ids are non-negative), so a 1-row
    (count, Σsrc+Σdst) aggregate detects the fixpoint exactly — the same
    monotone-probe trick as the propagation variant, no row-diff join.
    Lineage is truncated per round with localCheckpoint; the per-round
    final distinct() is the dedup the paper's reduce does for free.

    ``driver_cap``: the same scale-adaptive regime switch as
    :func:`connected_components` — at or below the cap the collected edge
    list runs driver-side union-find (bit-identical output, certified by
    the shared oracles), because the star alternation's per-round cost is
    ~4 shuffles + a checkpoint + a probe, pure fixed overhead on a
    few-thousand-edge dup graph. Pass ``driver_cap=0`` to force the
    distributed star path (the certification configuration)."""
    e0 = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    if driver_cap and e0.count() <= driver_cap:
        # self-loop-only nodes never enter the distributed star path (the
        # src != dst filter drops them before the node set forms) — mirror
        # that here so both regimes emit the identical row set
        return _driver_union_find(
            edges.sparkSession, e0.filter(F.col("src") != F.col("dst"))
        )
    e = (
        e0.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    probe = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("src") + F.col("dst")).cast("decimal(38,0)")).alias("mass"),
    ).collect()[0]
    prev = (probe["n"], probe["mass"])
    for _ in range(max_rounds):
        # large-star: both directions, rewire larger neighbours to the min.
        # min-per-node is an aggregate (map-side combine), then a join back
        # on the SAME key — co-partitioned, no per-group neighbour list in
        # memory (hub nodes never materialize their adjacency).
        both = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        lmin = (
            both.groupBy("src")
            .agg(F.min("dst").alias("m_n"))
            .select("src", F.least("m_n", "src").alias("m"))
        )
        # NO distinct here (one full shuffle per round removed): duplicate
        # (v, m) emissions cannot change small-star's min aggregate, and the
        # round's FINAL distinct dedups the identical tuple set, so the
        # checkpointed edge set — and the convergence probe over it — is
        # bit-identical with or without the intermediate dedup. The
        # small-star aggregate gets map-side combine, so the duplicates
        # never inflate its exchange; they ride only the smin join's input.
        ls = (
            both.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # small-star: edges are (child=larger → parent=smaller) after
        # large-star; rewire every parent AND the child to the child's
        # minimum parent: (v, m) for v ∈ parents(u) ∪ {u}, v ≠ m.
        smin = ls.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            ls.join(smin, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionAll(smin.select("src", F.col("m").alias("dst")))
            .distinct()
            # LAZY checkpoint: the probe collect directly below is this
            # frame's first (and sole) consumer, so it materializes the
            # checkpoint in ITS job — one driver action per round instead
            # of two. The next round's three references then read the
            # already-materialized RDD, so the multi-reference re-expansion
            # hazard (which forces EAGER in kcore, where no action runs
            # between rounds) cannot arise. Measured 2.83 -> 2.26 s
            # min-of-5 interleaved on the sf0.1 dup graph, rows identical.
            .localCheckpoint(eager=False)
        )
        e = ss
        p = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("src") + F.col("dst")).cast("decimal(38,0)")).alias("mass"),
        ).collect()[0]
        cur = (p["n"], p["mass"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components_star: no fixpoint in {max_rounds} rounds")
    roots = (
        e.select(F.col("dst").alias("node"))
        .distinct()
        .join(e.select(F.col("src").alias("node")).distinct(), "node", "left_anti")
    )
    return e.select(F.col("src").alias("node"), F.col("dst").alias("component")).unionAll(
        roots.select("node", F.col("node").alias("component"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    driver_cap: int = 1_000_000,
) -> DataFrame:
    """k-core of an undirected graph given as ordered pairs (src < dst):
    iteratively peel nodes of degree < k until the fixpoint; the survivors
    are the maximal subgraph where every node keeps ≥ k neighbours — the
    dense-cluster extractor (near-dup: template/boilerplate families; link
    graphs: spam farms) that degree alone can't find, since a node's
    neighbours must THEMSELVES be well-connected to count.

    Runs exactly ``rounds`` peel iterations (a FIXED round count, like
    pagerank_fixed's unrolled loop) so a DuckDB twin can state the
    identical rounds as unrolled CTEs — convergence within ``rounds`` at
    the tested SF is gated separately in pytest (peeling removes ≥1 node
    per non-converged round, so diameter-ish bounds are loose; dup graphs
    peel in 2-3 rounds). Per round: ONE degree aggregate + two semi-joins
    of the edge list against the survivor set (all on node keys — shuffle
    partitioning is reused across the chain); lineage localCheckpointed
    every 3 rounds. Returns (node, core_degree) for surviving nodes —
    core_degree is the node's degree INSIDE the k-core.

    ``driver_cap``: the same scale-adaptive regime switch as
    :func:`connected_components` — at or below the cap the collected edge
    list peels on the driver (bit-identical output: the peel is a
    deterministic fixpoint of the edge multiset, independent of execution
    strategy; parity is pytest-gated), because the distributed path's
    per-round cost is a degree shuffle + two semi-joins + an eager
    checkpoint, pure fixed overhead on a few-thousand-edge dup graph.
    Pass ``driver_cap=0`` to force the distributed rounds."""
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    if driver_cap and e.count() <= driver_cap:
        rows = [(int(a), int(b)) for a, b in e.collect()]
        for _ in range(rounds):
            deg: dict[int, int] = {}
            for a, b in rows:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            kept = [(a, b) for a, b in rows if deg[a] >= k and deg[b] >= k]
            if len(kept) == len(rows):
                break  # fixpoint: every later round is a no-op
            rows = kept
        out: dict[int, int] = {}
        for a, b in rows:
            out[a] = out.get(a, 0) + 1
            out[b] = out.get(b, 0) + 1
        return local_frame(edges.sparkSession, "node long, core_degree long", list(out.items()))
    # EAGER checkpoint per round: each round's plan references the edge set
    # three times (two degree branches + the filter base), and Catalyst does
    # not CSE whole subtrees — lazy lineage would re-expand the upstream
    # pair-generation pipeline ~3x per round (measured 48 s -> ~5 s at
    # sf0.01 on the banded near-dup graph). The edge list is tiny (only
    # dup-pair members), so the per-round materialization is cheap.
    e = e.localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def dedup_survivors(components: DataFrame) -> DataFrame:
    """Per node: its component, the component size, and whether it is the
    surviving row (node == component == min id of the group)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("component")
    return components.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("comp_size"),
        (F.col("node") == F.col("component")).cast("int").alias("is_survivor"),
    )


# ---- deterministic fixed-point PageRank ------------------------------------
# Scores live in 1e-12 fixed-point BIGINTs and every operation is integer
# (floor division for the out-degree split and the 0.85 damping product), so
# the iteration is bit-identical across engines, partitionings, and reruns —
# the property float PageRank lacks (summation-order drift) — and a DuckDB
# oracle can state the K unrolled iterations exactly. The floor-division
# variant loses ≤ outdeg·1e-12 of mass per node per round (provably bounded,
# irrelevant at rank granularity); classic float PageRank is the same code
# with doubles if reproducibility is ever traded back for mass conservation.

PR_UNIT = 1_000_000_000_000  # 1.0 in fixed-point
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # 0.85 damping
PR_ITERS = 5
PR_TOPK = 20


def pagerank_personalized_fixed(
    edges: DataFrame, seeds: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """Source-PERSONALIZED fixed-point PageRank (random-walk-with-restart
    affinity): the teleport mass is restricted to ``seeds`` — score_{i+1}(v)
    = [v ∈ S]·(0.15/|S|) + 0.85·Σ_{u→v} score_i(u)/outdeg(u), initial mass
    1/|S| on the seeds, 0 elsewhere. Scores rank every node by proximity to
    the seed cohort (the recsys/graph-feature primitive global PageRank
    can't express). Same per-round shuffle discipline and integer
    fixed-point arithmetic as :func:`pagerank_fixed`, so the unrolled CTE
    twin hash-matches exactly. ``seeds``: DataFrame with a ``node`` column;
    seeds outside the graph are ignored (semi-join)."""
    edges = edges.cache()
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    seeds = seeds.select("node").distinct().join(nodes, "node", "left_semi").cache()
    ns = seeds.count()
    if ns == 0:
        raise ValueError("personalized pagerank needs >= 1 seed inside the graph")
    base = (15 * PR_UNIT // 100) // ns
    init = PR_UNIT // ns
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    is_seed = seeds.withColumn("_s", F.lit(1))
    ranks = nodes.join(is_seed, "node", "left").select(
        "node",
        F.when(F.col("_s") == 1, F.lit(init)).otherwise(F.lit(0)).cast("long").alias("score"),
    )
    for i in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("score div outdeg").alias("c"))
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("insum"))
        ranks = (
            nodes.join(sums, "node", "left")
            .join(is_seed, "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("_s") == 1, F.lit(base)).otherwise(F.lit(0))
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(insum, CAST(0 AS BIGINT))) div {PR_DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("score"),
            )
        )
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint()  # bound plan growth like CC
    return ranks


def triangle_stats(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected graph given as ORDERED pairs (src < dst, the near-dup pair
    convention): (doc_id, degree, n_triangles, clustering).

    The ordered-pair representation IS the classic node-iterator
    optimization: every triangle {a,b,c} is materialized exactly once as
    a<b<c by the two-hop join (e1(a,b) ⋈ e1.b=e2.a e2(b,c) ⋈ closing edge
    (a,c)), so no post-dedup and no 6× overcount. Both joins shuffle on a
    single node key; for skew-heavy dup graphs (near-cliques) AQE skew-join
    splits the hot keys. At 100 TB the standard refinement — orient edges
    by (degree, id) instead of raw id so high-degree hubs never fan out
    wedges — drops in by re-ordering the pair list first; the dup graphs
    this serves are bounded-size near-cliques where raw-id orientation is
    already within a constant of optimal.

    ``clustering`` = 2·T / (d·(d−1)) computed as ONE double multiply and
    ONE divide of exact integers (both correctly rounded → engine-exact,
    DuckDB-oracle-safe); degree-1 nodes get 0.0."""
    e = edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    tri = (
        w.alias("w")
        .join(
            e.alias("e3"),
            (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
        )
        .select(F.col("w.a").alias("a"), F.col("w.b").alias("b"), F.col("w.c").alias("c"))
    )
    per = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionAll(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    return deg.join(per, "doc_id", "left").select(
        "doc_id",
        "degree",
        t.alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2.0) * t.cast("double"))
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


HITS_UNIT = 1_000_000  # 1.0 in HITS fixed-point (smaller than PR_UNIT: the
# normalize step's intermediate product raw·UNIT must fit a BIGINT; raw ≤
# tot ≤ UNIT·|E|, so UNIT²·|E| ≤ 9.2e18 keeps |E| safe to ~9e6 edges per
# normalization — document/raise UNIT only with a tree-aggregated bigdecimal)
HITS_ITERS = 4


def hits_fixed(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Kleinberg's HITS (hubs & authorities, JACM 1999) in integer
    fixed-point: auth_{i+1}(v) = Σ_{u→v} hub_i(u), hub_{i+1}(u) =
    Σ_{u→v} auth_{i+1}(v), each L1-normalized to HITS_UNIT by integer floor
    division — every operation is order-free BIGINT arithmetic, so the K
    unrolled rounds are bit-identical across engines/partitionings and a
    DuckDB CTE twin states them exactly (the float-power-iteration
    formulation has neither property). Same shuffle discipline as
    pagerank_fixed: per half-round ONE join of scores to edges + ONE
    aggregate on the opposite endpoint. Returns (node, hub, auth) for every
    node; on bipartite graphs the off-side scores are simply 0."""
    edges = edges.select("src", "dst").distinct().cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    h = nodes.select("node", F.lit(HITS_UNIT // n).cast("long").alias("score"))

    def _push(scores: DataFrame, key: str, other: str) -> DataFrame:
        """Σ scores over edges from `key` onto `other`, L1-renormalized."""
        raw = (
            edges.join(scores, edges[key] == scores["node"])
            .groupBy(edges[other].alias("node"))
            .agg(F.sum("score").alias("raw"))
        )
        full = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(F.col("raw"), F.lit(0)).cast("long").alias("raw")
        )
        # EAGER checkpoint: each half-round references `full` twice (the
        # total + the renormalized scores) and feeds the next half-round —
        # lazy lineage re-expands the whole chain multiplicatively per
        # round (the kcore lesson; measured 35 s -> ~8 s at sf0.01). The
        # score table is |nodes| rows, so materializing is cheap.
        full = full.localCheckpoint(eager=True)
        tot = full.agg(F.sum("raw").cast("long").alias("tot"))
        return full.crossJoin(F.broadcast(tot)).select(
            "node",
            F.expr(f"(raw * {HITS_UNIT}) div tot").cast("long").alias("score"),
        )

    a = None
    for _ in range(iters):
        a = _push(h, "src", "dst")
        h = _push(a, "dst", "src")
    return (
        nodes.join(h.withColumnRenamed("score", "hub"), "node", "left")
        .join(a.withColumnRenamed("score", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def pagerank_fixed(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Fixed-point PageRank over a directed edge list (src, dst) where every
    node has ≥1 out-edge (feed symmetric edges for undirected graphs).
    Per round: ONE join of ranks to edges + ONE aggregate — the same
    shuffle discipline as connected_components. Returns (node, score)."""
    edges = edges.cache()
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    n = nodes.count()
    base = (15 * PR_UNIT // 100) // n
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.select("node", F.lit(PR_UNIT // n).cast("long").alias("score"))
    for i in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("score div outdeg").alias("c"))
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("insum"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({PR_DAMP_NUM} * coalesce(insum, CAST(0 AS BIGINT))) div {PR_DAMP_DEN}")
            )
            .cast("long")
            .alias("score"),
        )
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint()  # bound plan growth like CC
    return ranks
