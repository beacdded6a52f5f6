"""IVFFlat index, Spark-first (reference: `vers/src/indexes/ivfflat.rs`).

The reference keeps centroids + flat assignments + inverted posting lists in
RAM (`ivfflat.rs:8-15`). Here the index IS two DataFrames:

- ``centroids``   (cluster_id INT, centroid ARRAY<DOUBLE>) — tiny, broadcast.
- ``assignments`` (id LONG, cluster_id INT, embedding ARRAY<FLOAT>) — the
  posting lists, written ``partitionBy(cluster_id)`` so a probe-list filter
  becomes parquet partition pruning (the Spark analogue of scanning only the
  chosen posting lists, `ivfflat.rs:166-195`).

Build: Lloyd's k-means on a training set, then one distributed assignment
pass over the whole corpus. Two trainers, chosen by ``backend``:
- ``local`` (the default below ``_LOCAL_KMEANS_MAX_ROWS`` rows) — the
  reference's own single-node loop (`ivfflat.rs:73-100`) in numpy on the
  driver over a collected, capped sample: seeded random-row init,
  argmin-by-sq-euclidean assignment, per-cluster mean, empty cluster → zero
  vector (`ivfflat.rs:47-71`), bit-exact centroid fixpoint stop.
- ``mllib`` (the default above it) — `pyspark.ml.clustering.KMeans`,
  distributed.
The engine-exact distributed Lloyd, whose centroids the DuckDB oracles
restate, is ``lloyd_fixed`` below; it is a separate builder, not a backend.

Multi-restart (`num_attempts`, `ivfflat.rs:102-136`): independent seeded runs,
keep argmin inertia.

Search (`ivfflat.rs:153-198`): rank centroids per query, take the
``n_probes`` nearest clusters PLUS the reference's underflow fill rule —
expand to further clusters only until the cumulative posting-list size reaches
k — on the driver over the (k-row) centroid table for the collected query
batch. Candidates are fetched by a literal cluster-id filter (partition-pruned
on a saved store) and scored in one Arrow pass with the numpy twin of the f64
fold kernels, per-query partial top-k, which the driver merges.

The reference's ``add`` ignores the caller's vec_id (`ivfflat.rs:200-213`
shadowing bug) — ours honors it.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.functions.frames import local_frame

# Below this row count the k-means training set is collected to the driver and
# Lloyd's loop runs in numpy — the build's ~30 per-iteration Spark jobs
# collapse to one collect. The corpus-wide assignment pass stays distributed.
_LOCAL_KMEANS_MAX_ROWS = 1_000_000

# The local backend never collects more than this many training rows: above
# it, a seeded uniform sample caps driver memory (k-means only needs a
# representative subset — same discipline as pca.py's sample-fit). ~100k x
# dim 300 f64 ≈ 240 MB, a bounded driver footprint at any corpus scale.
_LOCAL_KMEANS_SAMPLE_ROWS = 100_000

def _kmeans_numpy(X: np.ndarray, k: int, max_iter: int, seed: int):
    """Driver-local Lloyd mirroring reference semantics (ivfflat.rs:73-100):
    seeded random-row init (with possible repeats, ivfflat.rs:18-27), argmin
    by squared euclidean, per-cluster mean, empty cluster → zero vector
    (ivfflat.rs:64-69), bit-exact centroid fixpoint stop (ivfflat.rs:84-91)."""
    rng = np.random.RandomState(seed)
    cents = X[rng.randint(0, len(X), size=k)].copy()
    cost = float("inf")
    for _ in range(max_iter):
        d = (
            np.einsum("ij,ij->i", X, X)[:, None]
            + np.einsum("ij,ij->i", cents, cents)[None, :]
            - 2.0 * (X @ cents.T)
        )
        labels = d.argmin(axis=1)
        cost = float(np.maximum(d[np.arange(len(X)), labels], 0.0).sum())
        # grouped means via d weighted bincounts — one vectorized pass per
        # dim instead of k gather+mean calls per iteration (16-codebook PQ
        # training ran 15k of those; the per-call overhead dominated train).
        # bincount sums sequentially in row order: deterministic, though not
        # bit-identical to the per-cluster np.mean it replaces — nothing
        # hash-certified reads these centroids (the IVF degenerate oracles
        # probe all clusters; the engine-exact builds use lloyd_fixed), and
        # the recall/cost property gates are rounding-insensitive.
        counts = np.bincount(labels, minlength=k).astype(np.float64)
        sums = np.empty_like(cents)
        for j in range(X.shape[1]):
            sums[:, j] = np.bincount(labels, weights=X[:, j], minlength=k)
        nz = counts > 0
        new = np.zeros_like(cents)  # empty cluster -> zero vector
        new[nz] = sums[nz] / counts[nz, None]
        if np.array_equal(new, cents):
            break
        cents = new
    return cents, cost


def _posting_sizes(assignments: DataFrame) -> dict[int, int]:
    """cluster_id → posting-list length, one aggregate collected."""
    return {
        r["cluster_id"]: r["n"]
        for r in assignments.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }


@dataclass
class IVFFlatIndex:
    spark: SparkSession
    centroids: DataFrame  # cluster_id int, centroid array<double>
    assignments: DataFrame  # id long, cluster_id int, embedding array<float>
    params: dict

    def _serving_assignments(self) -> DataFrame:
        """Posting lists as the SEARCH paths read them.

        A freshly built index's ``assignments`` is lineage through the
        cluster-assignment UDF — left lazy, every search re-assigns the whole
        corpus (at 1M×300 that's a ~10 s GEMM+Arrow pass, and a cold search
        reads it twice: sizes, candidates). The
        first search localCheckpoints it, so the assign pass runs ONCE — the
        Spark analogue of the reference holding posting lists in RAM
        (ivfflat.rs:8-15). A file-loaded index skips this: its assignments
        are a partitionBy(cluster_id) parquet scan where probe filters
        become partition pruning — pinning that in memory would trade
        pruned IO for a full-corpus cache."""
        if self.params.get("_source") != "files" and not self.params.get("_served"):
            sl = self.assignments.storageLevel
            if not (sl.useMemory or sl.useDisk):  # caller may have cached already
                self.assignments = self.assignments.localCheckpoint(eager=False)
            self.params["_served"] = True
        return self.assignments

    def _cluster_sizes(self) -> dict[int, int]:
        """Posting-list sizes for the fill rule — k rows, computed once per
        index instance (the aggregate is a full corpus scan + shuffle; every
        search reusing it would otherwise pay that per call). Invalidated on
        ``add`` by constructing a fresh index instance."""
        cached = self.params.get("_sizes_cache")
        if cached is None:
            cached = _posting_sizes(self._serving_assignments())
            self.params["_sizes_cache"] = cached
        return cached

    # ---------------- build ----------------

    @staticmethod
    def build(
        corpus: DataFrame,
        num_clusters: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_iterations: int = 10,
        num_attempts: int = 1,
        seed: int = 42,
        backend: str = "auto",
    ) -> "IVFFlatIndex":
        """Train ``num_clusters`` centroids (best of ``num_attempts`` seeded
        restarts by inertia, seeds ``seed``, ``seed+1``, ...) and assign
        every corpus row to its nearest one.

        backend: ``"auto"`` (default) counts the rows and picks ``"local"``
        at or below ``_LOCAL_KMEANS_MAX_ROWS``, else ``"mllib"``;
        ``"local"`` is the driver-side numpy Lloyd over a sample capped at
        ``_LOCAL_KMEANS_SAMPLE_ROWS`` (the reference IS a single-node build,
        `ivfflat.rs:73-136`); ``"mllib"`` is MLlib KMeans. Anything else
        raises ``ValueError``. At 100 TB centroids train on a driver-sized
        sample (k-means only needs a representative subset) and the
        corpus-wide ``_assign`` pass stays fully distributed either way."""
        spark = corpus.sparkSession
        data = corpus.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("embedding")
        )
        data.cache()
        try:
            if backend == "auto":
                backend = "local" if data.count() <= _LOCAL_KMEANS_MAX_ROWS else "mllib"
            best: tuple[float, np.ndarray] | None = None
            local_X = None
            if backend == "local":
                train = data.select("embedding")
                n = train.count()
                if n > _LOCAL_KMEANS_SAMPLE_ROWS:
                    # capped sample-fit: never collect an unbounded corpus
                    train = train.sample(
                        fraction=min(1.0, 1.05 * _LOCAL_KMEANS_SAMPLE_ROWS / n),
                        seed=seed,
                    ).limit(_LOCAL_KMEANS_SAMPLE_ROWS)
                local_X = np.array(
                    [r[0] for r in train.collect()], dtype=np.float64
                )
            for attempt in range(num_attempts):
                s = seed + attempt
                if backend == "mllib":
                    cents, cost = IVFFlatIndex._kmeans_mllib(data, num_clusters, max_iterations, s)
                elif backend == "local":
                    cents, cost = _kmeans_numpy(local_X, num_clusters, max_iterations, s)
                else:
                    raise ValueError(f"unknown backend {backend!r}")
                if best is None or cost < best[0]:
                    best = (cost, cents)
            cost, cents = best
            centroids_df = local_frame(
                spark,
                "cluster_id int, centroid array<double>",
                {"cluster_id": np.arange(len(cents)), "centroid": cents},
            )
            # cpu_spread the ASSIGNMENT input only (r15): a single-split
            # corpus otherwise leaves the assignment — and, through the
            # localCheckpoint in _serving_assignments, every downstream
            # serving Arrow pass (search / range_join_blocked) — running
            # in ONE Python task (profiled 1.18 s single-task stage in
            # ivf_range_search at sf0.1). The TRAIN sample collect above
            # must NOT be spread: _kmeans_numpy's result depends on the
            # collected row order, and a repartition would change the
            # centroids (and every oracle hash downstream). Per-row argmin
            # assignment is order-independent, so this is result-exact.
            from vers_spark.functions.spread import cpu_spread

            assignments = IVFFlatIndex._assign(cpu_spread(data), cents)
            params = {
                "num_clusters": int(num_clusters),
                "dim": int(cents.shape[1]),
                "metric": "sq_euclidean",
                "seed": seed,
                "backend": backend,
                "max_iterations": max_iterations,
                "num_attempts": num_attempts,
                "cost": float(cost),
            }
            return IVFFlatIndex(spark, centroids_df, assignments, params)
        finally:
            data.unpersist()

    @staticmethod
    def _kmeans_mllib(data: DataFrame, k: int, max_iter: int, seed: int):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # MLlib KMeans does NOT cache its input: without the explicit cache
        # every Lloyd iteration re-reads the corpus AND re-runs the
        # array→vector conversion — ~max_iter× redundant scans (measured
        # as the dominant cost of the 1M×300 reference-scale build).
        feat = data.select(
            array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
        ).cache()
        try:
            model = KMeans(k=k, maxIter=max_iter, seed=seed, initMode="random").fit(feat)
            cents = np.array(
                [np.asarray(c) for c in model.clusterCenters()], dtype=np.float64
            )
            cost = float(model.summary.trainingCost)
        finally:
            feat.unpersist()
        return cents, cost

    @staticmethod
    def _assign(data: DataFrame, cents: np.ndarray) -> DataFrame:
        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = cents
            cc = np.einsum("ij,ij->i", c, c)
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                d = np.einsum("ij,ij->i", x, x)[:, None] + cc[None, :] - 2.0 * (x @ c.T)
                pdf = pdf.copy()
                pdf["cluster_id"] = d.argmin(axis=1).astype(np.int32)
                yield pdf[["id", "cluster_id", "embedding"]]

        return data.mapInPandas(fn, "id long, cluster_id int, embedding array<float>")

    # ---------------- search ----------------

    def _centroid_matrix(self) -> tuple[np.ndarray, np.ndarray]:
        """(cluster ids, centroid matrix) in cluster_id order — collected
        once per index instance (k rows; invalidated with the instance,
        like ``_cluster_sizes``)."""
        cached = self.params.get("_cents_cache")
        if cached is None:
            rows = self.centroids.orderBy("cluster_id").collect()
            cached = (
                np.array([r["cluster_id"] for r in rows], dtype=np.int64),
                np.array([r["centroid"] for r in rows], dtype=np.float64),
            )
            self.params["_cents_cache"] = cached
        return cached

    def _probe_plan(
        self, q_mat: np.ndarray, k: int, n_probes: int, sizes: dict[int, int] | None = None
    ) -> dict[int, list[int]]:
        """The probe set of a query batch ``q_mat`` (Q, d): cluster_id → the
        query rows probing it. Per query the cached centroids rank by the
        fold distance (``vector_np.fold_distances``, bit-equal to the
        declarative kernel; cluster_id breaks ties), and the reference's
        fill rule (ivfflat.rs:166-195) keeps the cluster at rank r iff
        r < ``n_probes`` or the better-ranked clusters hold fewer than k
        members. The members counted are ``sizes`` (default: the cached
        posting-list sizes); cum_before only grows, so the kept set is a
        rank prefix."""
        from vers_spark.functions import vector_np as VN

        if sizes is None:
            sizes = self._cluster_sizes()
        c_ids, c_mat = self._centroid_matrix()
        c_sizes = np.array([sizes.get(int(c), 0) for c in c_ids], dtype=np.int64)
        plan: dict[int, list[int]] = {}
        for qi, q in enumerate(q_mat):
            order = np.lexsort((c_ids, VN.fold_distances(q, c_mat, "sq_euclidean")))
            cum_before = np.cumsum(c_sizes[order]) - c_sizes[order]
            for ci in order[: max(n_probes, np.count_nonzero(cum_before < k))]:
                plan.setdefault(int(c_ids[ci]), []).append(qi)
        return plan

    def search(
        self,
        queries: DataFrame,
        k: int,
        n_probes: int = 1,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        candidate_ids: DataFrame | None = None,
    ) -> DataFrame:
        """ANN search. Probes the ``n_probes`` nearest clusters per query and
        always applies the reference's fill rule (expand to further clusters
        while cumulative candidate count < k, ivfflat.rs:166-195). Returns
        (query_id, neighbour_id, distance, rank), ties by ascending id.

        Bounded-batch contract: the query batch is collected to the driver
        (at most ``validate.MAX_QUERY_BATCH_ROWS`` rows, ``QueryBatchTooLarge``
        above) and broadcast; query ids must be integral. One path serves
        in-session and file-loaded indexes in one Arrow pass:

        - the driver ranks the cached centroid table per query by the fold
          distance (cluster_id breaks ties) and applies the fill rule on
          the cached posting-list sizes — the included set is a rank prefix;
        - the posting lists are filtered with a literal ``cluster_id IN``
          over the union of probed clusters, which on a saved
          ``partitionBy(cluster_id)`` store is static partition pruning;
        - one ``mapInPandas`` scores each probed member against the queries
          probing its cluster with ``vector_np.fold_distances`` (bit-equal
          to the declarative kernel) and keeps each query's (distance, id)
          top-k over all the Arrow batches of its task, emitted once per
          task — the rows fetched are at most queries × k × tasks;
        - the driver fetches them with ``toArrow()`` and merges the global
          top-k in numpy (:func:`~vers_spark.operators.knn._topk_frame`,
          the rows a ranking window would return): the result is a local
          frame, and collecting it starts no job.

        Same fold, order and fill rule as the declarative plan, so probing
        every cluster equals :func:`~vers_spark.operators.knn.exact_knn`
        bit for bit.

        ``candidate_ids`` (a DataFrame with an ``id`` column) is metadata-
        filtered search — the capability the reference lacks entirely: the
        posting lists are semi-joined down to the allowed ids BEFORE ranking,
        so cluster sizes (one aggregate), the fill rule, and top-k all
        operate on the filtered corpus (≡ searching an index built on the
        filtered subset); the predicate prunes candidate I/O instead of
        post-filtering results."""
        from vers_spark.functions import vector_np as VN
        from vers_spark.operators.knn import _NO_ROWS, _arrow_topk, _query_block, _topk_frame

        block = _query_block(queries, query_id, query_vec, "ivf_search")
        if block is None:
            return _topk_frame(self.spark, *_NO_ROWS, k)
        q_ids, q_mat = block

        assignments = self._serving_assignments()
        sizes = None
        if candidate_ids is not None:
            assignments = assignments.join(
                candidate_ids.select(F.col("id").cast("long").alias("id")), "id", "left_semi"
            )
            # the fill rule must see FILTERED posting sizes
            sizes = _posting_sizes(assignments)
        probe_map = self._probe_plan(q_mat, k, n_probes, sizes)
        bc = self.spark.sparkContext.broadcast((q_ids, q_mat, probe_map, k))

        def member_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # per query row, the task's running top-k over every Arrow
            # batch; emitted once, when the task's input ends
            ids, mat, pmap, kk = bc.value
            best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for pdf in batches:
                for cid, grp in pdf.groupby("cluster_id"):
                    b_ids = grp["id"].to_numpy(dtype=np.int64)
                    b_mat = np.array(grp["embedding"].tolist(), dtype=np.float64)
                    for qi in pmap.get(int(cid), ()):
                        dist = VN.fold_distances(mat[qi], b_mat, "sq_euclidean")
                        VN.keep_topk(best, qi, b_ids, dist, kk)
            if best:
                yield pd.DataFrame(VN.topk_columns(best, ids))

        members = assignments.filter(F.col("cluster_id").isin(sorted(probe_map))).select(
            "id", "cluster_id", "embedding"
        )
        cands = members.mapInPandas(member_topk, "query_id long, neighbour_id long, _dist double")
        return _arrow_topk(self.spark, cands, k)

    def _range_probe(
        self, queries: DataFrame, r2: float, query_id: str, query_vec: str
    ) -> tuple[DataFrame, DataFrame]:
        """(queries as (query_id, q_vec), their (query_id, q_vec,
        cluster_id) probe set) for radius ``r2``: the lossless
        triangle-inequality filter of :meth:`range_search` and
        :meth:`range_join_blocked` over the centroid table and the cluster
        coverage radii (one aggregate over the posting lists, cached per
        index)."""
        radii_key = "_range_radii"
        if radii_key not in self.params:
            self.params[radii_key] = (
                self._serving_assignments()
                .join(F.broadcast(self.centroids), "cluster_id")
                .groupBy("cluster_id")
                .agg(
                    F.max(V.sq_euclidean(F.col("embedding"), F.col("centroid"))).alias(
                        "r2_max"
                    )
                )
                .localCheckpoint(eager=True)
            )
        q = queries.select(
            F.col(query_id).cast("long").alias("query_id"), F.col(query_vec).alias("q_vec")
        )
        cents = self.centroids.join(F.broadcast(self.params[radii_key]), "cluster_id")
        c_dist = V.sq_euclidean(F.col("q_vec"), F.col("centroid"))
        probe = (
            q.crossJoin(F.broadcast(cents))
            .filter(F.sqrt(c_dist) <= F.sqrt(F.lit(float(r2))) + F.sqrt(F.col("r2_max")))
            .select("query_id", "q_vec", "cluster_id")
        )
        return q, probe

    def range_search(
        self,
        queries: DataFrame,
        r2: float,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
    ) -> DataFrame:
        """Radius (range) search: EVERY neighbour within squared-L2 distance
        ``r2`` of each query — exact results with IVF pruning. A cluster c
        with coverage radius R_c = max ‖x − cent_c‖ over its members can be
        skipped when ‖q − cent_c‖ > √r2 + R_c (triangle inequality: its
        nearest possible member is still out of radius), so the pruning
        provably changes nothing — the output equals brute force, which is
        what lets the clusterless SQL twin serve as a FULL hash oracle for
        the pruned plan. Scale shape: radii are one aggregate over the
        posting lists (cacheable per index); the (query, cluster) probe set
        is a broadcast-joined filter on the centroid table; candidates are
        the probed posting lists only — on a bucketed store the probe join
        partition-prunes. Pruning pays when clusters are tighter than the
        radius (real clustered corpora); in the worst case it degrades to a
        full scan, never to a wrong answer. For UNBOUNDED query sets swap
        the probe broadcast for a shuffle join on cluster_id."""
        asg = self._serving_assignments()
        _, probe = self._range_probe(queries, r2, query_id, query_vec)
        dist = V.sq_euclidean(F.col("q_vec"), F.col("embedding"))
        return (
            asg.join(F.broadcast(probe), "cluster_id")
            .withColumn("distance", dist)
            .filter(F.col("distance") <= F.lit(float(r2)))
            .select("query_id", F.col("id").alias("neighbour_id"), "distance")
        )

    def range_join_blocked(
        self,
        queries: DataFrame,
        r2: float,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        rescore: bool = True,
    ) -> DataFrame:
        """Corpus-scale radius join — :meth:`range_search` for query sets
        that ARE the corpus (DBSCAN's ε-graph, similarity self-joins):
        the query side stays distributed (no driver collect, no broadcast
        of the query table) and per-candidate distances are ONE GEMM per
        probed cluster instead of the declarative 64-300-element fold
        (the fold measured 56× super-linear on the x10 DBSCAN probe —
        weak pruning × µs-per-element floor).

        Shape: the (query, cluster) probe set uses the same lossless
        triangle-inequality filter as range_search (queries × k-row
        broadcast centroid table — not the bottleneck); probers and
        posting lists then COGROUP on cluster_id, and each group computes
        probers × members in one BLAS call, emitting only in-radius pairs.
        A member belongs to exactly one cluster, so no pair is ever
        produced twice. ``rescore=True`` (default) re-derives the admitted
        pairs' distances with the declarative f64 fold (output-sized join)
        so the result is BIT-EQUAL to range_search — GEMM admission uses a
        +1e-9·(1+r2) margin, making an admission miss require a
        GEMM-vs-fold divergence ~10⁵× beyond ulp scale."""
        import pandas as pd

        asg = self._serving_assignments()
        q, probe = self._range_probe(queries, r2, query_id, query_vec)
        thr = float(r2) + 1e-9 * (1.0 + float(r2))

        def pairs_fn(probe_pdf: pd.DataFrame, member_pdf: pd.DataFrame) -> pd.DataFrame:
            cols = ["query_id", "neighbour_id", "_d"]
            if probe_pdf.empty or member_pdf.empty:
                return pd.DataFrame(columns=cols)
            qm = np.array(probe_pdf["q_vec"].tolist(), dtype=np.float64)
            mm = np.array(member_pdf["embedding"].tolist(), dtype=np.float64)
            d = (
                (qm * qm).sum(axis=1)[:, None]
                - 2.0 * (qm @ mm.T)
                + (mm * mm).sum(axis=1)[None, :]
            )
            qi, mi = np.nonzero(d <= thr)
            return pd.DataFrame(
                {
                    "query_id": probe_pdf["query_id"].to_numpy()[qi],
                    "neighbour_id": member_pdf["id"].to_numpy()[mi],
                    "_d": d[qi, mi],
                }
            )

        cands = (
            probe.groupby("cluster_id")
            .cogroup(asg.groupby("cluster_id"))
            .applyInPandas(pairs_fn, "query_id long, neighbour_id long, _d double")
        )
        if not rescore:
            return cands.select(
                "query_id", "neighbour_id", F.col("_d").alias("distance")
            )
        emb = asg.select(F.col("id").alias("neighbour_id"), "embedding")
        dist = V.sq_euclidean(F.col("q_vec"), F.col("embedding"))
        return (
            cands.select("query_id", "neighbour_id")
            .join(q, "query_id")
            .join(emb, "neighbour_id")
            .withColumn("distance", dist)
            .filter(F.col("distance") <= F.lit(float(r2)))
            .select("query_id", "neighbour_id", "distance")
        )

    # ---------------- maintenance ----------------

    def add(self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> "IVFFlatIndex":
        """Micro-append: score new rows against the frozen centroids and union
        into the posting lists (streaming analogue in vers_spark.streaming).
        Honors caller ids — the reference's add drops them (ivfflat.rs:209)."""
        data = vectors.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("embedding")
        )
        new_assign = IVFFlatIndex._assign(data, self._centroid_matrix()[1])
        return IVFFlatIndex(
            self.spark,
            self.centroids,
            self.assignments.unionByName(new_assign),
            # drop derived caches (_sizes_cache): the new index's posting
            # sizes differ from this one's
            {k: v for k, v in self.params.items() if not k.startswith("_")},
        )

    def cluster_stats(self) -> DataFrame:
        return (
            self.assignments.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("cluster_id")
        )

    # ---------------- persistence ----------------

    def save_bucketed(self, table: str, path: str, num_buckets: int = 16) -> DataFrame:
        """Persist the assignments as a catalog-registered BUCKETED table on
        cluster_id (sorted by (cluster_id, id)) — the serve-time layout for
        join-shaped consumers: the IVF similarity join and any recurring
        per-cluster self-join read the buckets co-located, zero Exchange,
        instead of re-shuffling the corpus on cluster_id every run. The
        plain ``save`` layout (partitionBy directories) stays the right one
        for probe-style search, where pruning — not co-location — is the
        win. Returns the catalog-backed DataFrame carrying the bucket spec."""
        from vers_spark.sources.bucketed import write_bucketed

        return write_bucketed(
            self.assignments,
            table,
            f"{path}/assignments_bucketed",
            ["cluster_id"],
            num_buckets,
            sort_keys=["cluster_id", "id"],
        )

    def save(self, path: str) -> None:
        """Parquet tables + JSON manifest (replaces the bincode blob,
        base.rs:31-58). Posting lists partitioned by cluster_id → probe
        filters become partition pruning.

        The posting lists are written through a ``rebalance`` hint on
        ``cluster_id``: each cluster's rows meet in one writer task, so a
        small store holds one parquet file per ``cluster_id`` directory
        (a probed cluster is one file to open, not one per input split),
        while AQE's rebalance splits a directory too large for one task."""
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        self.assignments.hint("rebalance", "cluster_id").write.mode("overwrite").partitionBy(
            "cluster_id"
        ).parquet(f"{path}/assignments")
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(
                {
                    **{k: v for k, v in self.params.items() if not k.startswith("_")},
                    # on-disk layout version (the LSH discipline, lsh.py
                    # LSH_FORMAT_VERSION): v1 = this layout since round 2;
                    # absent stamps read as v1 because no older layout exists
                    "format_version": 1,
                },
                f,
                indent=2,
            )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFFlatIndex":
        with open(f"{path}/manifest.json") as f:
            params = json.load(f)
        version = params.pop("format_version", 1)
        if version != 1:
            raise ValueError(
                f"IVFFlat index at {path!r} has on-disk format_version "
                f"{version}, this build reads 1 — re-save to migrate"
            )
        # probe filters prune the partitionBy(cluster_id) layout — keep the
        # scan lazy (see _serving_assignments)
        params["_source"] = "files"
        return IVFFlatIndex(
            spark,
            spark.read.parquet(f"{path}/centroids"),
            spark.read.parquet(f"{path}/assignments"),
            params,
        )


# ------------------------------------------------------- fixed-point Lloyd's
# Engine-exact k-means (the §B build operators under the HARD oracle gate):
# every arithmetic step is either integer or a declared-order f64 fold, so a
# DuckDB unroll of the same T iterations reproduces centroids, assignments,
# and cost BIT-identically (index_queries.ivf_build_fixed). Semantics per the
# reference (ivfflat.rs:73-100) with two pinned determinizations:
#   init    — the k rows with the smallest (md5-hash, id) key, numbered in
#             that order (vs seeded random rows: same "pick k corpus rows"
#             contract, reproducible across engines/partitionings);
#   update  — per-cluster mean via 1e-8 fixed-point BIGINT coordinate sums
#             (order-independent where float sums drift; the
#             emb_label_centroids pattern), divided back to f64 once per
#             iteration; empty cluster → zero vector (ivfflat.rs:47-71).
# Assignment argmin ties break by ascending cluster_id. The fixed-point mean
# sums stay < 2^53 while n_cluster · 1e8 · max|x| < 9e15 — i.e. up to ~10M
# unit-scale members per cluster per 1e8 scale; at 100 TB shard the mean
# (tree-aggregate the BIGINT sums) rather than lowering the scale.


def lloyd_fixed(
    data: DataFrame,
    k: int = 8,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: bool | str = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (centroids, final_assignments):
    centroids(cluster_id int, centroid array<double>, n_assigned long,
    cost_fp long) after ``iters`` updates; final_assignments(id, cluster_id,
    dist) against the final centroids.

    ``materialize`` trades plan shape for job count, value-exact either way
    (f64 round-trips through Python floats bit-for-bit):
    - False (default): fully lazy — ONE fused DAG per action, the fastest
      single-consumer path (the iterations pipeline as back-to-back stages
      with no driver round-trips). Callers that reuse the outputs across
      several actions should .cache() them, or every action re-executes the
      training chain.
    - True: collect each iteration's k centroid rows (tiny) and feed the
      next iteration a LITERAL DataFrame — every job's plan is one
      iteration deep, so MULTI-BRANCH consumers (e.g. PQ's codes + distance
      tables) don't execute the chain once per branch. The DataFrame
      analogue of checkpointing the model between iterations.
    - "last": one collect AFTER the loop only — the returned centroids are
      a literal, so the stats branch and every downstream consumer stop
      re-executing the training chain per branch, while the iterations
      themselves still pipeline as one fused job (no per-iteration driver
      round-trip). 9 corpus scans -> 5 for the build query's single action,
      at the cost of one tiny collect."""
    from vers_spark.functions.text import stable_hash60

    from vers_spark.functions.spread import cpu_spread

    spark = data.sparkSession
    vecs = data.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))
    dims = len(vecs.select("emb").first()[0])
    # cpu_spread (r15): the assignment fold + posexplode sums are CPU-bound
    # higher-order expressions but the corpus is byte-tiny, so a single-file
    # scan runs every iteration's whole fold chain in ONE task (profiled
    # 2.36 s single-task collect stage at sf0.1); the gate leaves real-scale
    # scans (≥ cores splits) untouched. Result-exact: the argmin is a
    # deterministic struct-MIN and the mean updates are fixed-point BIGINT
    # sums — both partitioning-independent.
    vecs = cpu_spread(vecs)

    h = stable_hash60(F.concat(F.col("id").cast("string"), F.lit(f":ivf:{seed}")))
    ranked = (
        vecs.withColumn("_h", h)
        .orderBy("_h", "id")
        .limit(k)
        .withColumn(
            "cluster_id",
            F.row_number().over(W.orderBy("_h", "id")).cast("int") - F.lit(1),
        )
    )
    centroids = ranked.select(
        "cluster_id", F.transform("emb", lambda x: x.cast("double")).alias("centroid")
    )

    def _assign(cents: DataFrame) -> DataFrame:
        # argmin by (dist, cluster_id) as a struct-MIN aggregate: lexical
        # struct ordering IS the tie-break rule, and the agg gets a map-side
        # partial combine — one shuffle of n partial minima instead of a
        # per-id window SORT over k·n scored rows (measured ~2x on the
        # 3-iteration build). emb rides inside the struct (cluster_id is
        # unique per scored row, so it never reaches array comparison).
        d = V.sq_euclidean(F.col("emb"), F.col("centroid"))
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select("id", F.struct(d.alias("dist"), "cluster_id", "emb").alias("_s"))
            .groupBy("id")
            .agg(F.min("_s").alias("_b"))
            .select(
                "id",
                F.col("_b.emb").alias("emb"),
                F.col("_b.cluster_id").alias("cluster_id"),
                F.col("_b.dist").alias("dist"),
            )
        )

    def _freeze(cents: DataFrame) -> DataFrame:
        rows = cents.collect()
        return local_frame(
            spark,
            "cluster_id int, centroid array<double>",
            [(int(r["cluster_id"]), [float(x) for x in r["centroid"]]) for r in rows],
        )

    if materialize is True:
        centroids = _freeze(centroids)

    zero = F.array(*[F.lit(0.0) for _ in range(dims)])
    all_clusters = spark.range(k).select(F.col("id").cast("int").alias("cluster_id"))
    for _ in range(iters):
        a = _assign(centroids)
        sums = (
            a.select("cluster_id", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cluster_id", "dim")
            .agg(
                F.sum(F.round(F.col("x").cast("double") * F.lit(1e8)).cast("long")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .groupBy("cluster_id")
            .agg(
                F.max("n").alias("n"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "sx"))),
                    lambda st: st["sx"],
                ).alias("csum"),
            )
            .select(
                "cluster_id",
                F.transform(
                    "csum",
                    lambda s: s.cast("double") / (F.col("n") * F.lit(100000000)).cast("double"),
                ).alias("centroid"),
            )
        )
        centroids = all_clusters.join(F.broadcast(sums), "cluster_id", "left").select(
            "cluster_id", F.coalesce("centroid", zero).alias("centroid")
        )
        if materialize is True:
            centroids = _freeze(centroids)
    if materialize == "last":
        centroids = _freeze(centroids)

    final = _assign(centroids)
    stats = (
        final.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum(F.round(F.col("dist") * F.lit(1e8)).cast("long")).alias("cost_fp"),
        )
    )
    out = (
        all_clusters.join(F.broadcast(stats), "cluster_id", "left")
        .join(F.broadcast(centroids), "cluster_id")
        .select(
            "cluster_id",
            "centroid",
            F.coalesce("n_assigned", F.lit(0)).cast("long").alias("n_assigned"),
            F.coalesce("cost_fp", F.lit(0)).cast("long").alias("cost_fp"),
        )
    )
    return out, final


def lloyd_fixed_multi(
    data: DataFrame,
    k: int,
    iters: int,
    seed_base: int,
    slices: list[tuple[int, int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """R independent fixed-point Lloyd runs — one per vector SLICE — fused
    into a single DataFrame chain: every iteration is ONE corpus scan + ONE
    (slice, cluster, dim) aggregate covering ALL R subspaces, instead of R
    separate chains (R× the driver jobs locally; R× the corpus scans per
    iteration on a cluster — the difference between ``iters`` and
    ``R·iters`` passes over 100 TB when training a product-quantizer's
    codebooks). Per-slice semantics are IDENTICAL to
    ``lloyd_fixed(slice_j, k, iters, seed_base + j)``: the same md5-hash
    init ranking (row_number within j over (hash, id) ≡ orderBy().limit(k)),
    the same fold argmin with (dist, cluster_id) struct tie-break, the same
    1e-8 fixed-point BIGINT mean updates — parity is pytest-gated
    (tests/test_ivfflat.py::test_lloyd_fixed_multi_parity).

    ``slices`` are (start, length) pairs, 0-based. Returns the FINAL
    centroids after ``iters`` updates: (j int, cluster_id int,
    centroid array<double>).
    """
    from vers_spark.functions.text import stable_hash60

    spark = data.sparkSession
    n_slices = len(slices)
    subs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"),
                F.slice(F.col(vec_col), s + 1, ln).alias("emb"),
            )
            for j, (s, ln) in enumerate(slices)
        ]
    )
    from vers_spark.functions.spread import cpu_spread

    # cpu_spread (r15): same single-split-scan trap as lloyd_fixed — the
    # per-slice fold chains are CPU-bound and the gate keeps real-scale
    # scans untouched. Spread BEFORE the slice explode so the shuffle moves
    # each vector once, not R times.
    e = cpu_spread(
        data.select(F.col(id_col).alias("id"), F.col(vec_col).alias(vec_col))
    ).select(F.col("id"), F.explode(subs).alias("_sub")).select(
        "id", F.col("_sub.j").alias("j"), F.col("_sub.emb").alias("emb")
    )
    h = stable_hash60(
        F.concat(
            F.col("id").cast("string"),
            F.lit(":ivf:"),
            (F.lit(seed_base) + F.col("j")).cast("string"),
        )
    )
    wj = W.partitionBy("j").orderBy("_h", "id")
    centroids = (
        e.withColumn("_h", h)
        .withColumn("rn", F.row_number().over(wj))
        .filter(F.col("rn") <= k)
        .select(
            "j",
            (F.col("rn") - 1).cast("int").alias("cluster_id"),
            F.transform("emb", lambda x: x.cast("double")).alias("centroid"),
        )
    )

    def _assign(cents: DataFrame) -> DataFrame:
        d = V.sq_euclidean(F.col("emb"), F.col("centroid"))
        return (
            e.join(F.broadcast(cents), "j")
            .select("j", "id", F.struct(d.alias("dist"), "cluster_id", "emb").alias("_s"))
            .groupBy("j", "id")
            .agg(F.min("_s").alias("_b"))
            .select("j", "id", F.col("_b.emb").alias("emb"), F.col("_b.cluster_id").alias("cluster_id"))
        )

    # per-slice zero centroid for never-assigned clusters (same rule as
    # lloyd_fixed's all_clusters left join)
    zero = F.array(*[F.lit(0.0) for _ in range(slices[0][1])])
    for j, (_, ln) in list(enumerate(slices))[1:]:
        zero = F.when(
            F.col("j") == j, F.array(*[F.lit(0.0) for _ in range(ln)])
        ).otherwise(zero)
    all_pairs = (
        spark.range(n_slices)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(spark.range(k).select(F.col("id").cast("int").alias("cluster_id")))
    )
    for _ in range(iters):
        a = _assign(centroids)
        sums = (
            a.select("j", "cluster_id", F.posexplode("emb").alias("dim", "x"))
            .groupBy("j", "cluster_id", "dim")
            .agg(
                F.sum(F.round(F.col("x").cast("double") * F.lit(1e8)).cast("long")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .groupBy("j", "cluster_id")
            .agg(
                F.max("n").alias("n"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "sx"))),
                    lambda st: st["sx"],
                ).alias("csum"),
            )
            .select(
                "j",
                "cluster_id",
                F.transform(
                    "csum",
                    lambda s: s.cast("double") / (F.col("n") * F.lit(100000000)).cast("double"),
                ).alias("centroid"),
            )
        )
        centroids = all_pairs.join(F.broadcast(sums), ["j", "cluster_id"], "left").select(
            "j", "cluster_id", F.coalesce("centroid", zero).alias("centroid")
        )
    return centroids
