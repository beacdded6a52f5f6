"""Driver-facing ANN index queries (SURVEY.md §2.B/§2.C).

Approximate results can't hash-match a SQL oracle, so the contract is:
- one DEGENERATE configuration per index that is provably exact (IVF with all
  clusters probed, LSH with one tree and unbounded leaf) → full DuckDB oracle;
- the realistic configurations → rows-only checks here, recall/property
  assertions in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vers_spark.indexes.hnsw import HNSWIndex
from vers_spark.indexes.ivfflat import IVFFlatIndex
from vers_spark.indexes.lsh import LSHForestIndex
from vers_spark.operators._qcache import memo
from vers_spark.sources.tables import load_table


def _ivf(spark: SparkSession, sf_dir: str, k: int = 16) -> IVFFlatIndex:
    def build() -> IVFFlatIndex:
        emb = load_table(spark, sf_dir, "embeddings")
        idx = IVFFlatIndex.build(emb, num_clusters=k, max_iterations=10, seed=42)
        idx.assignments.cache()
        return idx

    return memo(("ivf", sf_dir, k), build)


def ivf_search_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probing every cluster ≡ exact KNN (degenerate oracle check)."""
    idx = _ivf(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return idx.search(q, k=10, n_probes=idx.params["num_clusters"])


def ivf_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN search (predicate + ANN compose as a semi-join —
    the capability the reference lacks, SURVEY §7 phase 5): only vectors with
    label % 3 = 0 are candidates; all clusters probed ≡ exact filtered KNN,
    so the DuckDB twin hash-matches."""
    idx = _ivf(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    keep = emb.filter(F.col("label") % 3 == 0).select(F.col("vec_id").alias("id"))
    q = emb.filter(F.col("vec_id") < 5)
    return idx.search(q, k=10, n_probes=idx.params["num_clusters"], candidate_ids=keep)


def ivf_search_p4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realistic IVF search (n_probes=4) — rows-only; recall gated in tests."""
    idx = _ivf(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search(emb.filter(F.col("vec_id") < 20), k=10, n_probes=4)


def ivf_build_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference IVFFlat build harness config (main.rs:63-66: k=20,
    num_attempts=3, max_iterations=10, multi-restart argmin cost) — the
    canonical build workload of BASELINE.md; returns posting-list stats,
    rows-only (k-means not SQL-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFFlatIndex.build(
        emb, num_clusters=20, max_iterations=10, num_attempts=3, seed=42
    )
    return idx.cluster_stats()


def ivf_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list size distribution (layer-stats analogue, hnsw.rs:480-485).

    r10 rows-only→hash-oracle conversion (VERDICT r9 #4): computed over the
    deterministic fixed-point build (_lloyd_fixed — the one ivf_build_fixed
    already hash-certifies), so the distribution carries a full DuckDB
    oracle: GROUP BY over the same unrolled Lloyd assignment CTE.
    IVFFlatIndex.cluster_stats on the realistic multi-restart build stays
    exercised via ivf_build_ref."""
    _, assignments = _lloyd_fixed(spark, sf_dir)
    return (
        assignments.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster_id")
    )


_FIXED_K, _FIXED_ITERS, _FIXED_SEED = 8, 3, 42


def _lloyd_fixed(spark: SparkSession, sf_dir: str):
    """Memoized whole-vector fixed build with the final centroids frozen to
    a literal (materialize="last"): the iterations still pipeline as one
    fused chain, but the returned centroid table has no lineage, so the
    stats branch and every downstream consumer stop re-executing the
    3-iteration training chain once per broadcast branch (r14: the lazy
    build's single action ran 9 corpus scans / 7 assignment folds; frozen
    it is 5/4 — A/B'd ahead of both the lazy and the per-iteration-freeze
    shapes, bit-identical output). Both outputs cached so sweep consumers
    reuse the materialized tables."""
    from vers_spark.indexes.ivfflat import lloyd_fixed

    def build() -> tuple:
        cents, assigned = lloyd_fixed(
            load_table(spark, sf_dir, "embeddings"),
            k=_FIXED_K,
            iters=_FIXED_ITERS,
            seed=_FIXED_SEED,
            materialize="last",
        )
        return cents.cache(), assigned.cache()

    return memo(("lloyd_fixed", sf_dir), build)


def ivf_build_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means under the HARD oracle gate (ivfflat.lloyd_fixed):
    deterministic hash init, argmin assignment on the f64 fold kernel,
    1e-8 fixed-point BIGINT mean updates, 3 iterations — the DuckDB twin
    unrolls the identical loop and the driver hash certifies centroids,
    posting-list sizes, AND the k-means cost (ivfflat.rs:73-100,47-71
    semantics; cost = §B.B5, assignment = §B.B2, update = §B.B3). Output is
    EXPLODED (cluster_id, dim, cval, n_assigned, cost_fp) rows — the driver
    canonicalizer cannot sort array columns, so the centroid projects to one
    scalar row per dimension."""
    centroids, _ = _lloyd_fixed(spark, sf_dir)
    return centroids.select(
        "cluster_id",
        F.posexplode("centroid").alias("dim", "cval"),
        "n_assigned",
        "cost_fp",
    ).orderBy("cluster_id", "dim")


def emb_similarity_join_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-co-located all-pairs top-5 over the fixed-point build: neighbours
    restricted to each vector's (deterministic) cluster — the REALISTIC
    co-located similarity-join shape (linear in cluster size, not corpus²)
    under a full DuckDB oracle, because the cluster assignment itself is
    engine-exact (unlike the mllib-built emb_similarity_join twin, which is
    rows-only)."""
    from pyspark.sql import Window as W

    from vers_spark.functions import vector as V

    _, assignments = _lloyd_fixed(spark, sf_dir)
    a = assignments.select("cluster_id", F.col("id").alias("query_id"), F.col("emb").alias("qv"))
    b = assignments.select("cluster_id", F.col("id").alias("neighbour_id"), F.col("emb").alias("cv"))
    w = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("query_id") != F.col("neighbour_id"))
        .withColumn("distance", V.sq_euclidean(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbour_id", "distance")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbour_id", "distance", "rank")
    )


def emb_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-learning triplet mining (anchor, positive, hard negative) —
    the contrastive-training data generator, co-located by the fixed-point
    build's clusters so candidate pairs are linear in cluster size, never
    corpus² (the standard in-batch/-bucket hard-negative mining shape):
    positive = the anchor's nearest SAME-label neighbour in its cluster,
    hard negative = the nearest DIFFERENT-label neighbour, margin =
    d(neg) − d(pos). Cluster assignment and fold distances are engine-exact,
    so the mined triplets hash-match the DuckDB twin row for row."""
    from pyspark.sql import Window as W

    from vers_spark.functions import vector as V

    _, assignments = _lloyd_fixed(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    a = assignments.join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    ).select("cluster_id", "id", "emb", "label")
    l = a.select(
        "cluster_id",
        F.col("id").alias("anchor_id"),
        F.col("emb").alias("av"),
        F.col("label").alias("alabel"),
    )
    r = a.select(
        "cluster_id",
        F.col("id").alias("cand_id"),
        F.col("emb").alias("cv"),
        F.col("label").alias("clabel"),
    )
    pairs = (
        l.join(r, "cluster_id")
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .withColumn("dist", V.sq_euclidean(F.col("av"), F.col("cv")))
        .withColumn("same", F.col("alabel") == F.col("clabel"))
        .select("anchor_id", "cand_id", "dist", "same")
    )
    w = W.partitionBy("anchor_id", "same").orderBy(F.asc("dist"), F.asc("cand_id"))
    best = pairs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    pos = best.filter("same").select(
        "anchor_id", F.col("cand_id").alias("pos_id"), F.col("dist").alias("d_pos")
    )
    neg = best.filter(~F.col("same")).select(
        "anchor_id", F.col("cand_id").alias("neg_id"), F.col("dist").alias("d_neg")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        (F.col("d_neg") - F.col("d_pos")).alias("margin"),
    )


def _emb_triplet_sql(k: int = _FIXED_K, iters: int = _FIXED_ITERS, seed: int = _FIXED_SEED) -> str:
    with_clause, _ = _lloyd_fixed_ctes(k, iters, seed)
    fin = f"a{iters + 1}"
    dist = _D_SQE_FOLD.format(a="l.emb", b="r.emb")
    return f"""{with_clause},
        lab AS MATERIALIZED (
            SELECT a.cluster_id, a.id, a.emb, e.label
            FROM {fin} a JOIN embeddings e ON a.id = e.vec_id),
        pairs AS MATERIALIZED (
            SELECT l.id AS anchor_id, r.id AS cand_id, {dist} AS dist,
                   l.label = r.label AS same
            FROM lab l JOIN lab r USING (cluster_id)
            WHERE l.id <> r.id),
        best AS MATERIALIZED (
            SELECT anchor_id, cand_id, dist, same FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY anchor_id, same ORDER BY dist ASC, cand_id ASC) AS rn
                FROM pairs) WHERE rn = 1)
        SELECT p.anchor_id, p.cand_id AS pos_id, n.cand_id AS neg_id,
               n.dist - p.dist AS margin
        FROM (SELECT * FROM best WHERE same) p
        JOIN (SELECT * FROM best WHERE NOT same) n USING (anchor_id)
    """


_PQF_M, _PQF_K, _PQF_ITERS, _PQF_SEED = 4, 8, 2, 1000
_PQF_SHORTLIST = 20


def _pq_fixed(spark: SparkSession, sf_dir: str) -> list:
    """Per-subspace frozen centroid VALUES from the declarative fixed-point
    Lloyd over embedding slices — the PQ codebook training made engine-exact.

    Each subspace trains LAZILY (one fused DAG — the fast single-action
    path) and only the FINAL 8 centroids are collected (value-exact f64
    round-trip through Python floats) and cached as plain values: the
    codebook is k·dsub doubles, so serving embeds it as LITERAL expressions
    instead of joining against a centroid table. The four subspace codebooks
    train together in ONE fused ``lloyd_fixed_multi`` chain on the calling
    thread (each Lloyd iteration scans the corpus once for all four). This
    is the train-once/serve-many materialization a real deployment does by
    writing the codebook to disk. Returns [[(cluster_id, [floats]), ...] per
    subspace], each sorted by cluster_id."""
    from vers_spark.indexes.ivfflat import lloyd_fixed_multi

    def build() -> list:
        emb = load_table(spark, sf_dir, "embeddings")
        dims = len(emb.select("embedding").first()[0])
        dsub = dims // _PQF_M
        # all 4 subspaces in ONE fused chain: each Lloyd iteration scans the
        # corpus once for every codebook (R× fewer jobs locally, R× fewer
        # corpus passes on a cluster); per-subspace values are identical to
        # the independent lloyd_fixed runs the DuckDB oracle unrolls
        cents = lloyd_fixed_multi(
            emb,
            k=_PQF_K,
            iters=_PQF_ITERS,
            seed_base=_PQF_SEED,
            slices=[(j * dsub, dsub) for j in range(_PQF_M)],
        ).collect()
        return _codebook_runs(cents)

    return memo(("pq_fixed", sf_dir), build)


def _codebook_runs(cents: list) -> list:
    """Collected (j, cluster_id, centroid) rows → per-subspace sorted
    [(cluster_id, [floats]), ...] lists (value-exact f64 round-trip)."""
    runs: list[list] = [[] for _ in range(_PQF_M)]
    for r in cents:
        runs[r["j"]].append((int(r["cluster_id"]), [float(x) for x in r["centroid"]]))
    return [sorted(sub) for sub in runs]


# The 64 fold expressions (32 coding + 32 ADC-table) are rendered as SQL
# TEXT and parsed once: building them per-element through the Python
# Column API costs ~2s of py4j round-trips per 32-fold block (measured),
# pure driver overhead. The SQL is the exact fold kernel — same casts,
# same left fold, literals repr-round-tripped through a string cast
# (correctly-rounded parse = bit-exact f64).
def _pqf_sqe_sql(vec_sql: str, cent: list[float]) -> str:
    arr = "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in cent) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _pqf_sub_sql(vec_sql: str, j: int, dsub: int) -> str:
    return f"slice({vec_sql}, {j * dsub + 1}, {dsub})"


def _pqf_code_sql(vec_sql: str, j: int, runs: list, dsub: int) -> str:
    entries = ",".join(
        f"named_struct('dist', {_pqf_sqe_sql(_pqf_sub_sql(vec_sql, j, dsub), c)}, 'cluster_id', {cid})"
        for cid, c in runs[j]
    )
    return f"(array_min(array({entries}))).cluster_id"


def _pqf_dtab_sql(vec_sql: str, j: int, runs: list, dsub: int) -> str:
    elems = ",".join(
        f"CAST(round(({_pqf_sqe_sql(_pqf_sub_sql(vec_sql, j, dsub), c)}) * 1E8) AS BIGINT)"
        for _, c in runs[j]
    )
    return f"array({elems})"


def _pqf_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED PQ code store (round-3 backlog #6 closed): codes for
    the whole corpus computed ONCE (32 literal-codebook folds in a single
    corpus scan) and written to parquet. Every serve afterwards reads 4
    tiny int columns — no raw-vector scan, no fold recompute. At 100 TB
    this is the difference between rescanning the corpus per query batch
    and scanning a few-TB int table.

    knn_pq_fixed's oracle is FULL-corpus ADC, so this store is deliberately
    unpartitioned: a coarse-cluster layout would force a k=8 fixed-point
    Lloyd train into every cold serve (+4.4 s measured at sf0.1) that the
    full scan never exploits. The coarse-PRUNED store (partitionBy cluster,
    PartitionFilters plan-guarded) is pq.persist_codes_partitioned, served
    by ivfpq_search."""
    from vers_spark.functions.spread import cpu_spread
    from vers_spark.streaming.events import scratch_dir

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        dims = len(emb.select("embedding").first()[0])
        dsub = dims // _PQF_M
        runs = _pq_fixed(spark, sf_dir)
        # cpu_spread (r15): the 32 literal-codebook coding folds are
        # CPU-bound over a byte-tiny single-split scan (profiled 0.75 s
        # single-task stage at sf0.1); the gate keeps real-scale scans
        # untouched, and the store stays logically unpartitioned.
        emb = cpu_spread(emb)
        codes = emb.selectExpr(
            "vec_id AS id",
            *[f"{_pqf_code_sql('embedding', j, runs, dsub)} AS c{j}" for j in range(_PQF_M)],
        )
        store = scratch_dir("vs_pqf_codes_") + "/codes"
        codes.write.mode("overwrite").parquet(store)
        return spark.read.parquet(store)

    return memo(("pqf_codes", sf_dir), build)


def knn_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization under the HARD oracle gate: per-subspace
    codebooks trained by the fixed-point Lloyd (engine-exact, unlike the
    sampled-numpy PQCodec), ADC computed in 1e-8 fixed-point BIGINT sums
    (order-independent where float ADC sums drift), shortlist of 20
    re-ranked exactly on the raw vectors. The full quantize→ADC→rerank
    serving path hash-matches a DuckDB unroll of all four subspace k-means
    runs plus the same integer ADC.

    Serving shape (round 4): codes come from the PERSISTED store
    (_pqf_codes — deliberately UNPARTITIONED parquet, built once per
    corpus: this query is the full-corpus ADC oracle, so every code row is
    read regardless; the coarse-cluster-partitioned layout lives in
    pq.persist_codes_partitioned / ivfpq_search where pruning pays), so
    serving reads 4 int columns and never recomputes the
    coding folds; ADC is element_at into per-query literal distance arrays
    after one broadcast of the Q-row query block — one scan of the code
    table, zero shuffles before the per-query top-k (WindowGroupLimit
    prunes to 20 per partition before the exchange). This oracle scans ALL
    code partitions by design (the DuckDB twin states full-corpus ADC);
    ivfpq_search is the coarse-PRUNED serving variant."""
    from pyspark.sql import Window as W

    from vers_spark.functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    dsub = dims // _PQF_M
    runs = _pq_fixed(spark, sf_dir)

    codes_wide = _pqf_codes(spark, sf_dir).select("id", *[f"c{j}" for j in range(_PQF_M)])
    q = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qd = q.selectExpr(
        "query_id", *[f"{_pqf_dtab_sql('qv', j, runs, dsub)} AS d{j}" for j in range(_PQF_M)]
    )
    adc_expr = sum(
        F.element_at(F.col(f"d{j}"), F.col(f"c{j}") + 1) for j in range(_PQF_M)
    )
    adc = codes_wide.crossJoin(F.broadcast(qd)).select(
        "query_id", "id", adc_expr.cast("long").alias("adc_fp")
    )
    sw = W.partitionBy("query_id").orderBy(F.asc("adc_fp"), F.asc("id"))
    short = (
        adc.withColumn("_rn", F.row_number().over(sw))
        .filter(F.col("_rn") <= _PQF_SHORTLIST)
        .select("query_id", F.col("id").alias("neighbour_id"))
    )
    rerank = (
        emb.select(F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("cv"))
        .join(F.broadcast(short), "neighbour_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("distance", V.sq_euclidean(F.col("qv"), F.col("cv")))
    )
    rw = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(rw).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbour_id", "distance", "rank")
    )


def ivf_search_fixed_p4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search over the fixed-point build: rank the 8 exact
    centroids per query, probe the 4 nearest posting lists, exact top-10
    within them (ivfflat.rs:153-198 without the underflow fill — lists here
    always hold ≥ k). Every step is engine-exact, so the REALISTIC probing
    configuration (not just the all-probes degenerate) carries a full
    DuckDB oracle."""
    centroids, assignments = _lloyd_fixed(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from vers_spark.functions import vector as V

    cd = V.sq_euclidean(F.col("qv"), F.col("centroid"))
    from pyspark.sql import Window as W

    cw = W.partitionBy("query_id").orderBy(F.asc("_cdist"), F.asc("cluster_id"))
    probes = (
        q.crossJoin(F.broadcast(centroids.select("cluster_id", "centroid")))
        .withColumn("_cdist", cd)
        .withColumn("_crn", F.row_number().over(cw))
        .filter(F.col("_crn") <= 4)
        .select("query_id", "qv", "cluster_id")
    )
    cand = probes.join(
        assignments.select("cluster_id", F.col("id").alias("neighbour_id"), F.col("emb").alias("cv")),
        "cluster_id",
    )
    d = V.sq_euclidean(F.col("qv"), F.col("cv"))
    w = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
    return (
        cand.withColumn("distance", d)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbour_id", "distance", "rank")
    )


def _lsh(spark: SparkSession, sf_dir: str, trees: int, max_node: int) -> LSHForestIndex:
    def build() -> LSHForestIndex:
        emb = load_table(spark, sf_dir, "embeddings")
        return LSHForestIndex.build(emb, num_trees=trees, max_node_size=max_node, seed=7)

    return memo(("lsh", sf_dir, trees, max_node), build)


def lsh_search_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One tree, unbounded leaf ≡ exact brute force (degenerate oracle)."""
    idx = _lsh(spark, sf_dir, trees=1, max_node=10**9)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search(emb.filter(F.col("vec_id") % 101 == 0), k=8)


def lsh_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered LSH search in the degenerate 1-tree/unbounded-leaf
    config ≡ exact filtered KNN (label % 3 = 0 candidates) — completing the
    filtered-ANN matrix: IVF pre-filters posting lists, HNSW post-filters
    with overfetch, LSH pre-filters the leaf-candidate union. Full DuckDB
    oracle hash-match."""
    idx = _lsh(spark, sf_dir, trees=1, max_node=10**9)
    emb = load_table(spark, sf_dir, "embeddings")
    keep = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    q = emb.filter(F.col("vec_id") < 5)
    return idx.search(q, k=10, allowed_ids=keep)


def lsh_search_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference harness config (main.rs:81): 8 trees, max_node_size=100 —
    rows-only; recall gated in tests."""
    idx = _lsh(spark, sf_dir, trees=8, max_node=100)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search(emb.filter(F.col("vec_id") < 20), k=10)


def lsh_search_backup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backup-branch fill rule (lsh.rs:203-215) under forced underflow:
    max_node_size=8 < k=10, so EVERY (query, tree) pair underfills its main
    leaf and the budgeted sibling-branch visit supplies the remainder —
    rows-only here; bit-parity with a local replay of the reference
    recursion is gated in tests/test_lsh_backup.py."""
    idx = _lsh(spark, sf_dir, trees=2, max_node=8)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search(emb.filter(F.col("vec_id") < 5), k=10)


def lsh_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-ordered multi-probe LSH (Lv et al. 2007): per (query, tree)
    the best 2 leaves by ascending total query-margin of their disagreeing
    ancestor planes are probed (nearest-hyperplane siblings first), their
    members exact-reranked — the recall-vs-work dial that buys ~2-tree
    recall at 1-tree memory. The probe set is planned on the driver from
    the plane pack and read in one pass, like search(). Rows-only here
    (probe order is geometry, not SQL); bit-parity with a local replay of
    the margin-ordered visit plus the recall-vs-DFS-order comparison are
    gated in tests/test_lsh_backup.py. The same probe_mode also upgrades
    search()'s underflow backup fill."""
    idx = _lsh(spark, sf_dir, trees=2, max_node=8)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search_multiprobe(
        emb.filter(F.col("vec_id") < 5), k=10, n_probes=2, probe_mode="margin"
    )


def lsh_multiprobe_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe through the one LSH engine, kept as its own driver row:
    the driver plans the first 2 leaves of each (query, tree) pair's
    margin-ordered walk of the plane pack and one pass reads them — the
    same call as lsh_search_multiprobe, so the two rows must agree. The
    name is kept from the retired branch-and-bound frontier engine; the
    planned walk is pytest-gated against a local replay of the visit
    (test_lsh_backup.test_multiprobe_margin_parity_with_local_replay)."""
    idx = _lsh(spark, sf_dir, trees=2, max_node=8)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search_multiprobe(
        emb.filter(F.col("vec_id") < 5), k=10, n_probes=2, probe_mode="margin"
    )


def _lsh_saved(spark: SparkSession, sf_dir: str, trees: int, max_node: int) -> LSHForestIndex:
    """Build → save → LOAD an LSH store, memoized per config: every serve
    afterwards goes through the FILE-LOADED path — the (tree_id, _pp)-
    partitioned leaf scan with static partition pruning and the persisted,
    memory-mapped plane pack in pack/ (lsh.py:save/load) — the deployed train-once/
    serve-many tier, which until r14 was exercised only by plan gates and
    1M tools, never by a driver row or bench line (VERDICT r13 missing #2).
    Only the store PATH is memoized; the load runs on every call."""
    from vers_spark.sources.staging import ephemeral_dir

    def build() -> str:
        path = ephemeral_dir("vs_lsh_store_") + "/idx"
        _lsh(spark, sf_dir, trees, max_node).save(path)
        return path

    return LSHForestIndex.load(spark, memo(("lsh_saved", sf_dir, trees, max_node), build))


def lsh_saved_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Save → load → search through the file-loaded serving path, in the
    degenerate 1-tree/unbounded-leaf config ≡ exact brute force — the
    whole persistence leg (v3 layout write, manifest, load, probe-side
    _pp derivation, leaf equi-join) sits under the full DuckDB hash
    oracle: a grammar or width mismatch between save and serve would
    equi-join to zero candidates and hash-mismatch, not degrade silently."""
    idx = _lsh_saved(spark, sf_dir, trees=1, max_node=10**9)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search(emb.filter(F.col("vec_id") < 5), k=10)


def lsh_saved_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The saved-store SERVING flagship (bench headline line since r14):
    reference forest config (8 trees, max_node_size=100), save → load →
    margin-ordered multiprobe planned on the driver from the persisted
    plane pack, read through a literal _pp IN (…) partition filter on the
    leaf store. Rows-only (probe order is geometry, not SQL), but
    pytest-gated BIT-identical to the in-session engine (tests/test_lsh.py
    saved-pack parity) and runtime-metric-gated on partitions-read
    (test_plans); the bench line puts the saved-store serving path under
    the per-line minima ratchet."""
    idx = _lsh_saved(spark, sf_dir, trees=8, max_node=100)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search_multiprobe(
        emb.filter(F.col("vec_id") < 50), k=10, n_probes=2, probe_mode="margin"
    )


# Registered HNSW config, shared by BOTH the build site (_hnsw) and the
# layer-stats oracle (_hnsw_layer_sql) — one constant per knob so tuning
# either side cannot silently break the hnsw_layer_stats hash gate.
# Reference harness config (main.rs:74-78): layers=12, ef_c=100, ef_s=32, M=24.
_HNSW_M = 24
_HNSW_LAYERS = 12
_HNSW_SEED = 42


def _hnsw(spark: SparkSession, sf_dir: str) -> HNSWIndex:
    def build() -> HNSWIndex:
        emb = load_table(spark, sf_dir, "embeddings")
        # sharded 8-way by k-means (per-shard graph build is ~quadratic in
        # shard size, so more shards = faster build; all shards probed at
        # search, recall@10 = 1.0 on testdata)
        return HNSWIndex.build(
            emb,
            num_layers=_HNSW_LAYERS,
            m=_HNSW_M,
            num_shards=8,
            seed=_HNSW_SEED,
        )

    return memo(("hnsw", sf_dir), build)


def hnsw_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW batch search, all shards probed — rows-only; recall gated in
    tests (approximate graph search is not SQL-expressible)."""
    idx = _hnsw(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search(emb.filter(F.col("vec_id") < 20), k=10, n_probe_shards=8)


def hnsw_search_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW distributed frontier-expansion search (graph never leaves the
    executors — the formulation for graphs too large per task) — rows-only;
    recall gated in tests."""
    idx = _hnsw(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return idx.search_frontier(emb.filter(F.col("vec_id") < 10), k=10)


def hnsw_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered HNSW (post-filter with 4x overfetch, label % 3 = 0
    predicate) — rows-only; recall vs exact filtered KNN gated in tests.
    Complements ivf_search_filtered, which composes the predicate into the
    posting-list scan (pre-filter): the two queries demonstrate both
    strategies of the filtered-ANN design space."""
    idx = _hnsw(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    keep = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    q = emb.filter(F.col("vec_id") < 20)
    return idx.search_filtered(q, k=10, allowed_ids=keep, n_probe_shards=8)


def index_lifecycle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full index lifecycle (SURVEY §3.3: build → add a
    held-out vector → save → load → search) through the unified api.py
    facade, as a driver-visible query: the held-out vector must find
    itself at distance 0. Searched with n_probes = num_clusters, so the
    post-roundtrip search is EXACT regardless of where k-means placed the
    centroids — which makes the whole lifecycle DuckDB-oracle-expressible
    (exact KNN of the held vector over the full 200-vector slice). The
    per-kind e2e tests pin the same flow for LSH/HNSW."""
    from vers_spark import api
    from vers_spark.sources.staging import fresh_subdir

    # a bounded slice keeps the lifecycle cheap at every SF — the flow, not
    # corpus size, is what this query checks (per-kind e2e tests cover scale)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    held_id = emb.agg(F.max("vec_id")).collect()[0][0]
    held = emb.filter(F.col("vec_id") == held_id)
    corpus = emb.filter(F.col("vec_id") != held_id)
    idx = api.build_index("ivfflat", corpus, num_clusters=8, seed=42)
    idx = api.add(idx, held.select("vec_id", "embedding"))
    path = fresh_subdir(spark, "lifecycle", sf_dir, "idx")
    api.save_index(idx, path)
    back = api.load_index(spark, path)
    return api.search_approximate(
        back, held.select("vec_id", "embedding"), top_k=3, n_probes=8
    ).orderBy("rank")


def hnsw_layer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes per layer (hnsw.rs:480-485). The insertion-layer draw is an
    id-deterministic hash draw (hnsw.py LAYER_DRAW_M: 60-bit md5 of
    "{id}:{seed}" against integer thresholds ⌊2^60/M^L⌋ — same geometric law
    as the reference's RNG), so the DuckDB oracle recomputes every node's
    layer in SQL and the whole distributed build's layer structure is
    hash-certified."""
    return _hnsw(spark, sf_dir).layer_stats()


_KNN_ALL_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv FROM embeddings),
    d AS (SELECT query_id, neighbour_id,
                 list_reduce(list_transform(list_zip(qv, cv),
                     s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))),
                     (x,y) -> x + y) AS distance
          FROM q CROSS JOIN c),
    r AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM d)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
"""

_KNN_FILTERED_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv FROM embeddings WHERE label % 3 = 0),
    d AS (SELECT query_id, neighbour_id,
                 list_reduce(list_transform(list_zip(qv, cv),
                     s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))),
                     (x,y) -> x + y) AS distance
          FROM q CROSS JOIN c),
    r AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM d)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
"""

_LSH_DEGENERATE_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 101 = 0),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv FROM embeddings),
    d AS (SELECT query_id, neighbour_id,
                 list_reduce(list_transform(list_zip(qv, cv),
                     s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))),
                     (x,y) -> x + y) AS distance
          FROM q CROSS JOIN c),
    r AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM d)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM r WHERE rank <= 8
"""

_PQRF_SEED = 2000


def _residual_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual vectors of the coarse fixed-point build: r = x − centroid
    [cluster(x)], computed float→double exactly as the DuckDB restatement
    (list_transform(list_zip(emb, centroid), s -> CAST(s[1] AS DOUBLE) −
    s[2]))."""
    cents, assigned = _lloyd_fixed(spark, sf_dir)
    return assigned.join(cents.select("cluster_id", "centroid"), "cluster_id").select(
        "id",
        "cluster_id",
        F.zip_with(
            F.col("emb"), F.col("centroid"), lambda x, c: x.cast("double") - c
        ).alias("remb"),
    )


def _pq_residual_fixed(spark: SparkSession, sf_dir: str) -> list:
    """Per-subspace RESIDUAL codebooks (FAISS by_residual layout, pq.rs
    analogue of the reference's coarse+fine decomposition) from the fused
    fixed-point Lloyd over residual slices — engine-exact like _pq_fixed,
    trained on x − coarse_centroid instead of x."""
    from vers_spark.indexes.ivfflat import lloyd_fixed_multi

    def build() -> list:
        emb = load_table(spark, sf_dir, "embeddings")
        dims = len(emb.select("embedding").first()[0])
        dsub = dims // _PQF_M
        cents = lloyd_fixed_multi(
            _residual_df(spark, sf_dir),
            k=_PQF_K,
            iters=_PQF_ITERS,
            seed_base=_PQRF_SEED,
            slices=[(j * dsub, dsub) for j in range(_PQF_M)],
            id_col="id",
            vec_col="remb",
        ).collect()
        return _codebook_runs(cents)

    return memo(("pq_residual_fixed", sf_dir), build)


def knn_pq_residual_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with RESIDUAL codes under the HARD oracle gate (r10): the
    by_residual decomposition — coarse fixed-point Lloyd (the certified
    ivf_build_fixed build), per-subspace codebooks trained on x − coarse
    centroid, ADC looked up per (query, COARSE CLUSTER) in 1e-8 fixed-point
    BIGINT, shortlist re-ranked exactly. Full-corpus ADC (every coarse
    cluster probed) so the DuckDB twin — coarse unroll + residual CTE + 4
    residual-subspace unrolls + per-cluster LUTs + integer ADC — states the
    same search exactly. The realistic pruned/serving variants of the same
    layout are ivfpq_residual_search / ivfpq_blocked_serve (rows-only,
    recall- and parity-gated); this is their hash-certified twin, the same
    relationship knn_pq_fixed has to ivfpq_search.

    Scale shape: codebooks collected once (k·dsub doubles) and embedded as
    literal expressions; the LUT table is Q×8 rows broadcast; one scan of
    the (id, coarse, 4 codes) table; WindowGroupLimit prunes the shortlist
    before the exchange."""
    from pyspark.sql import Window as W

    from vers_spark.functions import vector as V

    emb = load_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    dsub = dims // _PQF_M
    runs = _pq_residual_fixed(spark, sf_dir)
    cents, _ = _lloyd_fixed(spark, sf_dir)

    res = _residual_df(spark, sf_dir)
    codes = res.selectExpr(
        "id",
        "cluster_id",
        *[f"{_pqf_code_sql('remb', j, runs, dsub)} AS c{j}" for j in range(_PQF_M)],
    )
    q = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qres = (
        q.crossJoin(F.broadcast(cents.select("cluster_id", "centroid")))
        .withColumn(
            "qr",
            F.zip_with(F.col("qv"), F.col("centroid"), lambda x, c: x.cast("double") - c),
        )
        .selectExpr(
            "query_id",
            "cluster_id",
            *[f"{_pqf_dtab_sql('qr', j, runs, dsub)} AS d{j}" for j in range(_PQF_M)],
        )
    )
    adc_expr = sum(
        F.element_at(F.col(f"d{j}"), F.col(f"c{j}") + 1) for j in range(_PQF_M)
    )
    adc = codes.join(F.broadcast(qres), "cluster_id").select(
        "query_id", "id", adc_expr.cast("long").alias("adc_fp")
    )
    sw = W.partitionBy("query_id").orderBy(F.asc("adc_fp"), F.asc("id"))
    short = (
        adc.withColumn("_rn", F.row_number().over(sw))
        .filter(F.col("_rn") <= _PQF_SHORTLIST)
        .select("query_id", F.col("id").alias("neighbour_id"))
    )
    rerank = (
        emb.select(F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("cv"))
        .join(F.broadcast(short), "neighbour_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("distance", V.sq_euclidean(F.col("qv"), F.col("cv")))
    )
    rw = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(rw).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbour_id", "distance", "rank")
    )


def _ivfpq(spark: SparkSession, sf_dir: str):
    """Codec + PERSISTED-PARTITIONED codes: the codes are written once,
    joined with their coarse (k=8) assignment and partitioned by
    cluster_id (indexes/pq.persist_codes_partitioned), so every serve
    afterwards reads only the probed posting-list directories — the
    round-3 backlog item (per-batch corpus rescans) closed."""
    from vers_spark.indexes.pq import PQCodec, persist_codes_partitioned
    from vers_spark.streaming.events import scratch_dir

    def build() -> tuple:
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 97 != 0)
        codec = PQCodec.train(corpus, m=16, k_codebook=64, max_iter=15)
        codes = persist_codes_partitioned(
            codec.encode(corpus),
            _ivf(spark, sf_dir, 8).assignments,
            scratch_dir("vs_pq_codes_") + "/codes",
        )
        return codec, codes

    return memo(("ivfpq", sf_dir), build)


def ivfpq_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ composition (indexes/pq.ivfpq_search): coarse probe prunes
    posting lists, ADC scans 16x-compressed codes JVM-side, exact re-rank
    restores recall. n_probes=4 of 8 — rows-only; recall + monotonicity
    gated in tests."""
    from vers_spark.indexes.pq import ivfpq_search

    ivf = _ivf(spark, sf_dir, 8)
    codec, codes = _ivfpq(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    return ivfpq_search(
        ivf, codec, codes, queries, k=10, n_probes=4, oversample=5, corpus=corpus
    )


def ivfpq_residual_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ with RESIDUAL codes (pq.ivfpq_search_residual — the FAISS
    by_residual layout): codebooks trained on x − coarse centroid, ADC LUTs
    per (query, probed cluster), served off the cluster-partitioned code
    store with static partition pruning. Rows-only; the
    residual-beats-plain coding property and rerank recall are gated in
    tests/test_ivfflat.py on a structured corpus."""
    from vers_spark.indexes.pq import ivfpq_search_residual

    codec, codes = _ivfpq_residual(spark, sf_dir)
    ivf = _ivf(spark, sf_dir, 8)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    return ivfpq_search_residual(
        ivf, codec, codes, queries, k=10, n_probes=4, oversample=5, corpus=corpus
    )


def _ivfpq_residual(spark: SparkSession, sf_dir: str):
    """Residual codec + cluster-partitioned residual code store, memoized —
    shared by the declarative residual query and its blocked serving twin."""
    from vers_spark.indexes.pq import PQCodec, persist_codes_partitioned, residuals
    from vers_spark.streaming.events import scratch_dir

    def build() -> tuple:
        ivf = _ivf(spark, sf_dir, 8)
        res_df = residuals(ivf)
        codec = PQCodec.train(res_df, m=16, k_codebook=64, max_iter=15)
        codes = persist_codes_partitioned(
            codec.encode(res_df),
            ivf._serving_assignments(),
            scratch_dir("vs_pq_rescodes_") + "/codes",
        )
        return codec, codes

    return memo(("ivfpq_residual", sf_dir), build)


def ivfpq_blocked_serve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1M+ serving path for IVF×PQ (pq.ivfpq_search_blocked, round 8):
    probes and the underflow-fill prefix resolve driver-side, the residual
    ADC LUT tensor broadcasts ONCE, and each cluster-pruned code partition
    computes a vectorized numpy gather + bounded partial top-k — vs the
    declarative engine's per-candidate broadcast-joined LUT column. Same
    cached codec/store/coarse quantizer as ivfpq_residual_search, same
    rows by construction (bit-parity gated in tests/test_pq.py; 1M
    evidence BASELINE.md §r8: 0.947 recall@10 at 177 ms/q warm,
    oversample 500). Rows-only (codebooks are trained artifacts, not
    SQL)."""
    from vers_spark.indexes.pq import ivfpq_search_blocked

    codec, codes = _ivfpq_residual(spark, sf_dir)
    ivf = _ivf(spark, sf_dir, 8)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    return ivfpq_search_blocked(
        ivf,
        codec,
        codes,
        queries,
        k=10,
        n_probes=4,
        oversample=5,
        corpus=corpus,
        residual=True,
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated ANN quality audit: recall@10 of EVERY approximate search
    family against its exact-scan ground truth, one row per family — the
    quality gate that ships with the engine (the reference never measures
    recall at all; its harness prints raw results, main.rs:70-102).

    Two protocols, matching each family's registered configuration: graph /
    partition indexes (IVF n_probes=4, LSH 8-tree forest, HNSW 8-shard)
    search vec_id<20 against the full corpus they indexed; quantization
    rerank families (PQ-ADC, IVF×PQ, int8, binary) use the %97 query/corpus
    split of their registered queries. Rows-only by design (approximate);
    per-family floors are gated in tests, and every build is memoized, so
    after the other index queries the report only runs searches."""
    from vers_spark.operators.knn import exact_knn
    from vers_spark.operators.vector_queries import (
        knn_binary_rerank,
        knn_exact_euclidean,
        knn_int8_euclidean,
        knn_matryoshka_rerank,
        knn_pq_euclidean,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q20 = emb.filter(F.col("vec_id") < 20)
    gt20 = exact_knn(q20, emb, k=10).select("query_id", "neighbour_id")
    gt97 = knn_exact_euclidean(spark, sf_dir).select("query_id", "neighbour_id")

    families: list[tuple[str, DataFrame, DataFrame]] = [
        ("ivfflat_p4", _ivf(spark, sf_dir, 16).search(q20, k=10, n_probes=4), gt20),
        ("lsh_forest8", _lsh(spark, sf_dir, trees=8, max_node=100).search(q20, k=10), gt20),
        ("hnsw_shard8", _hnsw(spark, sf_dir).search(q20, k=10, n_probe_shards=8), gt20),
        ("pq_adc_rerank", knn_pq_euclidean(spark, sf_dir), gt97),
        ("ivfpq_p4", ivfpq_search_q(spark, sf_dir), gt97),
        ("int8_asym", knn_int8_euclidean(spark, sf_dir), gt97),
        ("binary_rerank", knn_binary_rerank(spark, sf_dir), gt97),
        ("matryoshka_rerank", knn_matryoshka_rerank(spark, sf_dir), gt97),
    ]
    approx = None
    truth = None
    for name, res, gt in families:
        a = res.select(
            F.lit(name).alias("family"), "query_id", "neighbour_id"
        )
        t = gt.select(F.lit(name).alias("family"), "query_id", "neighbour_id")
        approx = a if approx is None else approx.unionByName(a)
        truth = t if truth is None else truth.unionByName(t)
    hits = (
        approx.join(truth, ["family", "query_id", "neighbour_id"], "left_semi")
        .groupBy("family")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = truth.groupBy("family").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
    )
    return (
        totals.join(hits, "family", "left")
        .select(
            "family",
            "n_queries",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_truth"), 4
            ).alias("recall_at_10"),
        )
        .orderBy("family")
    )


_LIFECYCLE_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id = (SELECT max(vec_id) FROM embeddings WHERE vec_id < 200)),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv FROM embeddings WHERE vec_id < 200),
    d AS (SELECT query_id, neighbour_id,
                 list_reduce(list_transform(list_zip(qv, cv),
                     s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))),
                     (x,y) -> x + y) AS distance
          FROM q CROSS JOIN c),
    r AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM d)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
"""

# Fixed-point Lloyd oracle: unroll the T iterations as MATERIALIZED CTEs
# (DuckDB inlines plain CTEs; each round references the previous several
# times, so inlining would blow up exponentially — same lesson as bpe.py).
_D_SQE_FOLD = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))),"
    " (x,y) -> x + y)"
)


def _lloyd_fixed_cte_list(
    k: int,
    iters: int,
    seed: int,
    prefix: str = "",
    emb_sql: str = "embedding",
    from_sql: str = "embeddings",
    id_sql: str = "vec_id",
) -> list[str]:
    """CTE list for one unrolled Lloyd run over ``emb_sql`` (a list-valued
    expression over the ``from_sql`` relation, e.g. a subspace slice). All
    CTE names carry ``prefix`` so several runs (PQ subspaces) compose in one
    WITH-clause; ``from_sql``/``id_sql`` let a run train on a DERIVED
    relation (r10: the residual vectors of knn_pq_residual_fixed). The
    hash-init key embeds ``seed``, matching ivfflat.lloyd_fixed's
    ``"{id}:ivf:{seed}"`` contract."""
    from vers_spark.operators.text_analysis import D_HASH60

    p = prefix
    h = D_HASH60.format(x=f"CAST(id AS VARCHAR) || ':ivf:{seed}'")
    dist = _D_SQE_FOLD.format(a="v.emb", b="c.centroid")
    ctes = [
        f"{p}v AS MATERIALIZED (SELECT {id_sql} AS id, {emb_sql} AS emb FROM {from_sql})",
        f"{p}z AS MATERIALIZED (SELECT list_transform(generate_series(1, len(emb)), y -> 0.0) AS zc"
        f" FROM {p}v ORDER BY id LIMIT 1)",
        f"""{p}c0 AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY _h, id) - 1 AS INT) AS cluster_id,
                   list_transform(emb, x -> CAST(x AS DOUBLE)) AS centroid
            FROM (SELECT id, emb, {h} AS _h FROM {p}v ORDER BY _h, id LIMIT {k}))""",
    ]
    for t in range(1, iters + 2):  # iters updates + one final assignment
        ctes.append(
            f"""{p}a{t} AS MATERIALIZED (
            SELECT id, emb, cluster_id, dist FROM (
                SELECT id, emb, cluster_id, dist,
                       row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster_id ASC) AS rn
                FROM (SELECT v.id, v.emb, c.cluster_id, {dist} AS dist
                      FROM {p}v v CROSS JOIN {p}c{t - 1} c))
            WHERE rn = 1)"""
        )
        if t == iters + 1:
            break
        ctes.append(
            f"""{p}s{t} AS MATERIALIZED (
            SELECT cluster_id, CAST(max(n) AS BIGINT) AS n, list(sx ORDER BY dim) AS csum FROM (
                SELECT cluster_id, dim,
                       CAST(sum(CAST(round(x * 100000000.0) AS BIGINT)) AS BIGINT) AS sx,
                       CAST(count(*) AS BIGINT) AS n
                FROM (SELECT cluster_id, t.i - 1 AS dim, CAST(emb[t.i] AS DOUBLE) AS x
                      FROM {p}a{t}, UNNEST(generate_series(1, len(emb))) AS t(i))
                GROUP BY cluster_id, dim)
            GROUP BY cluster_id)"""
        )
        ctes.append(
            f"""{p}c{t} AS MATERIALIZED (
            SELECT r.cluster_id,
                   COALESCE(list_transform(s.csum,
                       sx -> CAST(sx AS DOUBLE) / CAST(s.n * 100000000 AS DOUBLE)), z.zc) AS centroid
            FROM (SELECT CAST(range AS INT) AS cluster_id FROM range({k})) r
            LEFT JOIN {p}s{t} s USING (cluster_id) CROSS JOIN {p}z z)"""
        )
    return ctes


def _lloyd_fixed_ctes(k: int, iters: int, seed: int) -> tuple[str, str]:
    """Returns (WITH-clause, final-centroid CTE name) for the whole-vector run."""
    return "WITH " + ",\n".join(_lloyd_fixed_cte_list(k, iters, seed)), f"c{iters}"


def _ivf_build_fixed_sql(k: int = _FIXED_K, iters: int = _FIXED_ITERS, seed: int = _FIXED_SEED) -> str:
    with_clause, cfin = _lloyd_fixed_ctes(k, iters, seed)
    return f"""{with_clause},
        bstats AS (
            SELECT c.cluster_id, c.centroid,
                   CAST(COALESCE(st.n_assigned, 0) AS BIGINT) AS n_assigned,
                   CAST(COALESCE(st.cost_fp, 0) AS BIGINT) AS cost_fp
            FROM {cfin} c LEFT JOIN (
                SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_assigned,
                       CAST(sum(CAST(round(dist * 100000000.0) AS BIGINT)) AS BIGINT) AS cost_fp
                FROM a{iters + 1} GROUP BY cluster_id) st USING (cluster_id))
        SELECT cluster_id, CAST(t.i - 1 AS INT) AS dim,
               CAST(centroid[t.i] AS DOUBLE) AS cval, n_assigned, cost_fp
        FROM bstats, UNNEST(generate_series(1, len(centroid))) AS t(i)
        ORDER BY cluster_id, dim
    """


def _knn_pq_fixed_sql() -> str:
    """All four subspace Lloyd unrolls + integer ADC + exact rerank."""
    ctes: list[str] = []
    fin = _PQF_ITERS + 1
    code_sel, dtab_sel = [], []
    for j in range(_PQF_M):
        p = f"sub{j}_"
        # subspace slice: embeddings dim // m, 1-based inclusive DuckDB slice
        lo = f"(len(embedding) // {_PQF_M}) * {j} + 1"
        hi = f"(len(embedding) // {_PQF_M}) * {j + 1}"
        ctes.extend(
            _lloyd_fixed_cte_list(
                _PQF_K, _PQF_ITERS, _PQF_SEED + j, prefix=p, emb_sql=f"embedding[{lo}:{hi}]"
            )
        )
        code_sel.append(f"SELECT {j} AS j, id, cluster_id AS code FROM {p}a{fin}")
        qslice = f"qv[{lo.replace('embedding', 'qv')}:{hi.replace('embedding', 'qv')}]"
        fold = _D_SQE_FOLD.format(a=qslice, b="c.centroid")
        dtab_sel.append(
            f"""SELECT query_id, {j} AS j, c.cluster_id AS code,
                   CAST(round(({fold}) * 100000000.0) AS BIGINT) AS d_fp
            FROM qs CROSS JOIN {p}c{_PQF_ITERS} c"""
        )
    ctes.append(
        "qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qv"
        " FROM embeddings WHERE vec_id % 101 = 0)"
    )
    ctes.append("codes AS MATERIALIZED (" + "\nUNION ALL\n".join(code_sel) + ")")
    ctes.append("dtab AS MATERIALIZED (" + "\nUNION ALL\n".join(dtab_sel) + ")")
    ctes.append(
        """adc AS MATERIALIZED (
        SELECT query_id, id, CAST(sum(d_fp) AS BIGINT) AS adc_fp
        FROM codes JOIN dtab USING (j, code) GROUP BY query_id, id)"""
    )
    ctes.append(
        f"""short AS MATERIALIZED (
        SELECT query_id, id AS neighbour_id FROM (
            SELECT query_id, id,
                   row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, id ASC) AS rn
            FROM adc) WHERE rn <= {_PQF_SHORTLIST})"""
    )
    rerank_fold = _D_SQE_FOLD.format(a="qs.qv", b="e.embedding")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, neighbour_id, distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
            FROM (SELECT s.query_id, s.neighbour_id, {rerank_fold} AS distance
                  FROM short s JOIN embeddings e ON s.neighbour_id = e.vec_id
                  JOIN qs ON s.query_id = qs.query_id))
        WHERE rank <= 10
    """
    )


def _ivf_cluster_stats_sql(
    k: int = _FIXED_K, iters: int = _FIXED_ITERS, seed: int = _FIXED_SEED
) -> str:
    """DuckDB twin of ivf_cluster_stats (r10 conversion, VERDICT r9 #4):
    posting sizes = GROUP BY over the final unrolled-Lloyd assignment CTE
    that ivf_build_fixed already hash-matches. Empty clusters appear on
    neither side (both group the assignment rows)."""
    with_clause, _ = _lloyd_fixed_ctes(k, iters, seed)
    return f"""{with_clause}
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors
        FROM a{iters + 1} GROUP BY cluster_id ORDER BY cluster_id
    """


def _knn_pq_residual_fixed_sql() -> str:
    """DuckDB twin of knn_pq_residual_fixed (r10): the coarse whole-vector
    Lloyd unroll, the residual relation, four residual-subspace unrolls,
    per-(query, coarse-cluster) integer LUTs, fixed-point ADC keyed on the
    point's own coarse cluster, shortlist, exact rerank."""
    ctes: list[str] = list(_lloyd_fixed_cte_list(_FIXED_K, _FIXED_ITERS, _FIXED_SEED, prefix="co_"))
    fin_co = _FIXED_ITERS + 1
    ctes.append(
        f"""res AS MATERIALIZED (
        SELECT a.id, a.cluster_id,
               list_transform(list_zip(a.emb, c.centroid), s -> CAST(s[1] AS DOUBLE) - s[2]) AS remb
        FROM co_a{fin_co} a JOIN co_c{_FIXED_ITERS} c USING (cluster_id))"""
    )
    fin = _PQF_ITERS + 1
    code_sel, dtab_sel = [], []
    for j in range(_PQF_M):
        p = f"rsub{j}_"
        lo = f"(len(remb) // {_PQF_M}) * {j} + 1"
        hi = f"(len(remb) // {_PQF_M}) * {j + 1}"
        ctes.extend(
            _lloyd_fixed_cte_list(
                _PQF_K,
                _PQF_ITERS,
                _PQRF_SEED + j,
                prefix=p,
                emb_sql=f"remb[{lo}:{hi}]",
                from_sql="res",
                id_sql="id",
            )
        )
        code_sel.append(
            f"""SELECT {j} AS j, s.id, r.cluster_id AS coarse, s.cluster_id AS code
            FROM {p}a{fin} s JOIN res r USING (id)"""
        )
        qslice = f"q.qr[{lo.replace('remb', 'q.qr')}:{hi.replace('remb', 'q.qr')}]"
        fold = _D_SQE_FOLD.format(a=qslice, b="c.centroid")
        dtab_sel.append(
            f"""SELECT q.query_id, q.coarse, {j} AS j, c.cluster_id AS code,
                   CAST(round(({fold}) * 100000000.0) AS BIGINT) AS d_fp
            FROM qres q CROSS JOIN {p}c{_PQF_ITERS} c"""
        )
    ctes.append(
        "qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qv"
        " FROM embeddings WHERE vec_id % 101 = 0)"
    )
    ctes.append(
        f"""qres AS MATERIALIZED (
        SELECT qs.query_id, c.cluster_id AS coarse,
               list_transform(list_zip(qs.qv, c.centroid), s -> CAST(s[1] AS DOUBLE) - s[2]) AS qr
        FROM qs CROSS JOIN co_c{_FIXED_ITERS} c)"""
    )
    ctes.append("rcodes AS MATERIALIZED (" + "\nUNION ALL\n".join(code_sel) + ")")
    ctes.append("rdtab AS MATERIALIZED (" + "\nUNION ALL\n".join(dtab_sel) + ")")
    ctes.append(
        """radc AS MATERIALIZED (
        SELECT query_id, id, CAST(sum(d_fp) AS BIGINT) AS adc_fp
        FROM rcodes JOIN rdtab USING (coarse, j, code) GROUP BY query_id, id)"""
    )
    ctes.append(
        f"""rshort AS MATERIALIZED (
        SELECT query_id, id AS neighbour_id FROM (
            SELECT query_id, id,
                   row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, id ASC) AS rn
            FROM radc) WHERE rn <= {_PQF_SHORTLIST})"""
    )
    rerank_fold = _D_SQE_FOLD.format(a="qs.qv", b="e.embedding")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, neighbour_id, distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
            FROM (SELECT s.query_id, s.neighbour_id, {rerank_fold} AS distance
                  FROM rshort s JOIN embeddings e ON s.neighbour_id = e.vec_id
                  JOIN qs ON s.query_id = qs.query_id))
        WHERE rank <= 10
    """
    )


def _emb_simjoin_cos_sql(
    k: int = _FIXED_K,
    iters: int = _FIXED_ITERS,
    seed: int = _FIXED_SEED,
    topk: int = 3,
) -> str:
    """DuckDB twin of the COSINE co-located similarity join
    (pipeline_queries.emb_similarity_join, r10 rows-only→hash-oracle
    conversion, VERDICT r9 #3): the same unrolled Lloyd build, distance
    restated with the declared-order f64 dot/magnitude folds that
    knn_exact_cosine already hash-matches."""
    from vers_spark.operators.vector_queries import _D_DOT, _d_mag

    with_clause, _ = _lloyd_fixed_ctes(k, iters, seed)
    dist = (
        "1.0 - "
        + _D_DOT.format(a="a.emb", b="b.emb")
        + f" / ({_d_mag('a.emb')} * {_d_mag('b.emb')})"
    )
    return f"""{with_clause}
        SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, neighbour_id, distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
            FROM (SELECT a.id AS query_id, b.id AS neighbour_id, {dist} AS distance
                  FROM a{iters + 1} a JOIN a{iters + 1} b USING (cluster_id)
                  WHERE a.id <> b.id))
        WHERE rank <= {topk}
    """


def _emb_simjoin_fixed_sql(k: int = _FIXED_K, iters: int = _FIXED_ITERS, seed: int = _FIXED_SEED) -> str:
    with_clause, _ = _lloyd_fixed_ctes(k, iters, seed)
    dist = _D_SQE_FOLD.format(a="a.emb", b="b.emb")
    return f"""{with_clause}
        SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, neighbour_id, distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
            FROM (SELECT a.id AS query_id, b.id AS neighbour_id, {dist} AS distance
                  FROM a{iters + 1} a JOIN a{iters + 1} b USING (cluster_id)
                  WHERE a.id <> b.id))
        WHERE rank <= 5
    """


def _ivf_search_fixed_sql(k: int = _FIXED_K, iters: int = _FIXED_ITERS, seed: int = _FIXED_SEED) -> str:
    with_clause, cfin = _lloyd_fixed_ctes(k, iters, seed)
    cdist = _D_SQE_FOLD.format(a="q.qv", b="c.centroid")
    ndist = _D_SQE_FOLD.format(a="cand.qv", b="cand.cv")
    return f"""{with_clause},
        q AS MATERIALIZED (SELECT id AS query_id, emb AS qv FROM v WHERE id % 101 = 0),
        pr AS MATERIALIZED (
            SELECT query_id, qv, cluster_id FROM (
                SELECT query_id, qv, cluster_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY cdist ASC, cluster_id ASC) AS crn
                FROM (SELECT q.query_id, q.qv, c.cluster_id, {cdist} AS cdist
                      FROM q CROSS JOIN {cfin} c))
            WHERE crn <= 4),
        cand AS MATERIALIZED (
            SELECT pr.query_id, pr.qv, a.id AS neighbour_id, a.emb AS cv
            FROM pr JOIN a{iters + 1} a USING (cluster_id))
        SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, neighbour_id, distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
            FROM (SELECT cand.query_id, cand.neighbour_id, {ndist} AS distance FROM cand))
        WHERE rank <= 10
    """


# hnsw_layer_stats oracle: recompute every node's insertion layer in SQL.
# Thresholds are the SAME Python-computed integers the build uses
# (hnsw.layer_thresholds); they are strictly decreasing, so h < c_L implies
# h < c_{L-1} and the layer is just the count of satisfied comparisons.
def _hnsw_layer_sql() -> str:
    from vers_spark.indexes.hnsw import layer_thresholds
    from vers_spark.operators.text_analysis import D_HASH60

    thr = layer_thresholds(_HNSW_M, _HNSW_LAYERS)  # same constants as _hnsw
    h = D_HASH60.format(x=f"CAST(vec_id AS VARCHAR) || ':{_HNSW_SEED}'")
    layer = " + ".join(f"CAST(h < {c} AS INT)" for c in thr)
    return f"""
        WITH t AS (SELECT vec_id, {h} AS h FROM embeddings),
        l AS (SELECT vec_id, ({layer}) AS node_layer FROM t),
        e AS (SELECT unnest(generate_series(0, node_layer)) AS layer FROM l)
        SELECT CAST(layer AS INT) AS layer, CAST(count(*) AS BIGINT) AS n_nodes
        FROM e GROUP BY layer ORDER BY layer
    """


def emb_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space junk detection: vectors whose distance to their OWN
    cluster's centroid exceeds that cluster's p95 — the per-mode robust
    cut a global distance threshold can't express (a tight cluster's
    outliers sit closer than a diffuse cluster's core). Composes on the
    fixed-point Lloyd build (memoized — sweeps reuse the materialized
    assignment), so the DuckDB twin unrolls the identical k-means and then
    takes percentile_cont over the same f64 fold distances — an ITERATIVE
    build feeding a robust-statistics filter, hash-certified end to end.
    At 100 TB the threshold table is k rows (broadcast) and the filter is
    one assignment-table scan."""
    _, assigned = _lloyd_fixed(spark, sf_dir)
    p = assigned.groupBy("cluster_id").agg(
        F.expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY dist)").alias("p95"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return (
        assigned.join(F.broadcast(p), "cluster_id")
        .filter(F.col("dist") > F.col("p95"))
        .select(F.col("id").alias("vec_id"), "cluster_id", "dist", "p95", "n_members")
        .orderBy("vec_id")
    )


def _emb_cluster_outliers_sql() -> str:
    with_clause, _ = _lloyd_fixed_ctes(_FIXED_K, _FIXED_ITERS, _FIXED_SEED)
    fin = f"a{_FIXED_ITERS + 1}"  # the unrolled run's final per-id assignment
    return f"""{with_clause},
        p AS (
            SELECT cluster_id,
                   percentile_cont(0.95) WITHIN GROUP (ORDER BY dist) AS p95,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM {fin} GROUP BY cluster_id)
        SELECT a.id AS vec_id, a.cluster_id, a.dist, p.p95, p.n_members
        FROM {fin} a JOIN p USING (cluster_id)
        WHERE a.dist > p.p95
        ORDER BY vec_id
    """


# DBSCAN over the embedding space (Ester et al. 1996, public): constants
# picked where the synthetic corpus has real structure (at sf0.01, the
# vec_id%3 subset yields 41 cores / 8 clusters / 57 border / 69 noise —
# a sharp phase transition sits at eps² ≈ 1.5, so these are load-bearing)
DBSCAN_EPS2 = 1.42
DBSCAN_MIN_PTS = 4
DBSCAN_MOD = 3  # subset keeps the brute-force oracle's pair count bounded


def emb_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT density-based clustering (DBSCAN) over embeddings — the
    noise-vs-cluster split a training-data pipeline uses to drop
    low-density junk that k-means happily absorbs into the nearest
    centroid. Fully deterministic variant: a border point tied between
    clusters joins the MIN cluster id (textbook DBSCAN leaves this
    order-dependent; we pin it so the result is engine-exact).

    Scale shape — every stage is a bounded exact primitive this engine
    already serves at 100 TB:
    - ε-neighbourhoods come from IVFFlatIndex.range_search (triangle-
      inequality cluster pruning, provably lossless, partition-pruned on
      a bucketed store) — never an all-pairs join;
    - core test is one count aggregate over the neighbour pairs;
    - cluster formation is connected_components_star over CORE-CORE edges
      (O(log² n) rounds, hub-safe aggregates, per-round checkpoints;
      scale-adaptive — at or below the 1M-edge driver cap the collected
      edge list runs union-find, bit-identical by the shared oracle);
    - border assignment is one aggregate-min join from non-core points to
      their core neighbours' components.
    The DuckDB twin states brute-force pairs + a recursive-CTE CC on the
    same subset — a FULL hash oracle because IVF range pruning cannot
    change the neighbour set. Output: (vec_id, role, cluster, n_eps) with
    cluster = −1 for noise; n_eps counts the point itself (the |N_ε(p)| ≥
    minPts convention)."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.operators.graph import connected_components_star

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % DBSCAN_MOD == 0
    )
    # cluster count scales with the corpus (fixed k = pruning ratio decays
    # with n: the 8-cluster fold path measured 56× super-linear on the x10
    # probe; adaptive k + the GEMM range join brought it back); pruning is
    # lossless at ANY k and the blocked join rescores with the exact fold,
    # so the oracle is invariant to both knobs
    n = emb.count()
    k_clusters = max(8, min(256, n // 150))
    idx = IVFFlatIndex.build(emb, num_clusters=k_clusters, seed=11)
    # (query_id, neighbour_id, distance), self-match included — symmetric
    # by construction (the fold is arithmetically symmetric in a,b)
    nbrs = idx.range_join_blocked(emb, DBSCAN_EPS2).localCheckpoint(eager=False)
    deg = nbrs.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_eps"))
    core = deg.filter(F.col("n_eps") >= DBSCAN_MIN_PTS).select(
        F.col("query_id").alias("vec_id")
    )
    pairs = nbrs.filter(F.col("query_id") < F.col("neighbour_id")).select(
        F.col("query_id").alias("a"), F.col("neighbour_id").alias("b")
    )
    core_edges = (
        pairs.join(core.withColumnRenamed("vec_id", "a"), "a", "left_semi")
        .join(core.withColumnRenamed("vec_id", "b"), "b", "left_semi")
    )
    comp = connected_components_star(core_edges, src="a", dst="b").select(
        F.col("node").alias("vec_id"), "component"
    )
    # isolated cores (no core-core edge) are their own singleton cluster
    core_comp = core.join(comp, "vec_id", "left").select(
        "vec_id", F.coalesce("component", "vec_id").alias("cluster")
    ).localCheckpoint(eager=False)
    border = (
        nbrs.filter(F.col("query_id") != F.col("neighbour_id"))
        .join(core.withColumnRenamed("vec_id", "query_id"), "query_id", "left_anti")
        .join(
            core_comp.select(
                F.col("vec_id").alias("neighbour_id"), F.col("cluster").alias("_c")
            ),
            "neighbour_id",
        )
        .groupBy("query_id")
        .agg(F.min("_c").alias("cluster"))
        .select(F.col("query_id").alias("vec_id"), "cluster")
    )
    role = (
        F.when(F.col("core_cluster").isNotNull(), F.lit("core"))
        .when(F.col("border_cluster").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
    )
    return (
        deg.withColumnRenamed("query_id", "vec_id")
        .join(core_comp.withColumnRenamed("cluster", "core_cluster"), "vec_id", "left")
        .join(border.withColumnRenamed("cluster", "border_cluster"), "vec_id", "left")
        .select(
            "vec_id",
            role.alias("role"),
            F.coalesce("core_cluster", "border_cluster", F.lit(-1))
            .cast("long")
            .alias("cluster"),
            "n_eps",
        )
        .orderBy("vec_id")
    )


def _emb_dbscan_sql() -> str:
    dist = _D_SQE_FOLD.format(a="p.embedding", b="q.embedding")
    return f"""
        WITH RECURSIVE
        pts AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % {DBSCAN_MOD} = 0),
        pairs AS MATERIALIZED (
            SELECT p.vec_id AS a, q.vec_id AS b
            FROM pts p JOIN pts q ON p.vec_id < q.vec_id
            WHERE ({dist}) <= {DBSCAN_EPS2!r}
        ),
        sym AS MATERIALIZED (
            SELECT a AS vec_id, b AS other FROM pairs
            UNION ALL SELECT b, a FROM pairs
        ),
        deg AS MATERIALIZED (
            SELECT p.vec_id, CAST(1 + count(s.other) AS BIGINT) AS n_eps
            FROM pts p LEFT JOIN sym s USING (vec_id)
            GROUP BY p.vec_id
        ),
        core AS MATERIALIZED (SELECT vec_id FROM deg WHERE n_eps >= {DBSCAN_MIN_PTS}),
        cedge AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM pairs
            WHERE a IN (SELECT vec_id FROM core) AND b IN (SELECT vec_id FROM core)
        ),
        edges AS MATERIALIZED (
            SELECT src, dst FROM cedge UNION ALL SELECT dst, src FROM cedge
        ),
        reach(node, lbl) AS (
            SELECT vec_id, vec_id FROM core
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS MATERIALIZED (
            SELECT node AS vec_id, min(lbl) AS cluster FROM reach GROUP BY node
        ),
        border AS MATERIALIZED (
            SELECT s.vec_id, min(c.cluster) AS cluster
            FROM sym s JOIN comp c ON c.vec_id = s.other
            WHERE s.vec_id NOT IN (SELECT vec_id FROM core)
            GROUP BY s.vec_id
        )
        SELECT d.vec_id,
               CASE WHEN cm.cluster IS NOT NULL THEN 'core'
                    WHEN b.cluster IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               CAST(coalesce(cm.cluster, b.cluster, -1) AS BIGINT) AS cluster,
               d.n_eps
        FROM deg d
        LEFT JOIN comp cm ON cm.vec_id = d.vec_id
        LEFT JOIN border b ON b.vec_id = d.vec_id
        ORDER BY d.vec_id
    """


IVF_RANGE_R2 = 1.4  # ≈ the 1% pair-distance quantile of the synthetic embeddings


def ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact radius search (§2.C range formulation): all neighbours within
    squared-L2 1.4 of each query, served through IVF triangle-inequality
    cluster pruning (IVFFlatIndex.range_search). The output is provably
    clustering-invariant — pruned clusters cannot contain an in-radius
    point — so the clusterless brute-force SQL is a FULL hash oracle for
    the pruned plan (unlike top-k ANN, range search keeps exactness under
    pruning for free). Self-matches are excluded."""
    idx = _ivf(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    return (
        idx.range_search(q, IVF_RANGE_R2)
        .filter(F.col("neighbour_id") != F.col("query_id"))
        .orderBy("query_id", "distance", "neighbour_id")
    )


def _ivf_range_sql() -> str:
    dist = _D_SQE_FOLD.format(a="q.qv", b="e.embedding")
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id % 97 = 0)
        SELECT query_id, e.vec_id AS neighbour_id, {dist} AS distance
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id AND ({dist}) <= {IVF_RANGE_R2!r}
        ORDER BY query_id, distance, neighbour_id
    """


ORACLE_SQL: dict[str, str] = {
    "ivf_range_search": _ivf_range_sql(),
    "emb_dbscan_clusters": _emb_dbscan_sql(),
    "emb_cluster_outliers": _emb_cluster_outliers_sql(),
    "ivf_build_fixed": _ivf_build_fixed_sql(),
    "ivf_cluster_stats": _ivf_cluster_stats_sql(),
    "ivf_search_fixed_p4": _ivf_search_fixed_sql(),
    "emb_similarity_join_fixed": _emb_simjoin_fixed_sql(),
    "emb_triplet_mining": _emb_triplet_sql(),
    "knn_pq_fixed": _knn_pq_fixed_sql(),
    "knn_pq_residual_fixed": _knn_pq_residual_fixed_sql(),
    "hnsw_layer_stats": _hnsw_layer_sql(),
    "ivf_search_all": _KNN_ALL_SQL,
    "ivf_search_filtered": _KNN_FILTERED_SQL,
    "lsh_search_filtered": _KNN_FILTERED_SQL,
    "lsh_search_degenerate": _LSH_DEGENERATE_SQL,
    # the degenerate config is exact, so the saved-store FILE-LOADED serving
    # path (save → load → _pp equi-join → search) gets a full hash oracle
    "lsh_saved_search": _KNN_ALL_SQL,
    # lifecycle searches with n_probes = num_clusters, i.e. exact: the whole
    # build→add→save→load→search flow reduces to exact KNN over the slice
    "index_lifecycle_roundtrip": _LIFECYCLE_SQL,
}

QUERIES = {
    # exact-oracle entries first (hard hash-match signal), rows-only after
    "ivf_range_search": ivf_range_search,
    "emb_dbscan_clusters": emb_dbscan_clusters,
    "emb_cluster_outliers": emb_cluster_outliers,
    "ivf_search_all": ivf_search_all,
    "ivf_search_filtered": ivf_search_filtered,
    "lsh_search_degenerate": lsh_search_degenerate,
    "lsh_search_filtered": lsh_search_filtered,
    "lsh_saved_search": lsh_saved_search,
    "lsh_saved_multiprobe": lsh_saved_multiprobe,
    "ivf_build_fixed": ivf_build_fixed,
    "ivf_search_fixed_p4": ivf_search_fixed_p4,
    "emb_similarity_join_fixed": emb_similarity_join_fixed,
    "emb_triplet_mining": emb_triplet_mining,
    "knn_pq_fixed": knn_pq_fixed,
    "knn_pq_residual_fixed": knn_pq_residual_fixed,
    "ivf_search_p4": ivf_search_p4,
    "ivf_cluster_stats": ivf_cluster_stats,
    "ivf_build_ref": ivf_build_ref,
    "lsh_search_forest": lsh_search_forest,
    "lsh_search_backup": lsh_search_backup,
    "lsh_search_multiprobe": lsh_search_multiprobe,
    "lsh_multiprobe_frontier": lsh_multiprobe_frontier,
    "hnsw_search": hnsw_search,
    "hnsw_search_filtered": hnsw_search_filtered,
    "ivfpq_search": ivfpq_search_q,
    "ivfpq_residual_search": ivfpq_residual_search_q,
    "ivfpq_blocked_serve": ivfpq_blocked_serve_q,
    "index_lifecycle_roundtrip": index_lifecycle_roundtrip,
    "hnsw_search_frontier": hnsw_search_frontier,
    "hnsw_layer_stats": hnsw_layer_stats,
    # last in the suite: every build above is memoized, so the consolidated
    # report only pays for searches when it runs after its family queries
    "ann_recall_report": ann_recall_report,
}
