"""Product quantization (PQ) — the compression tier below int8 for
billion-vector ANN (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011). Not in the reference (its indexes store raw
f32 vectors, `ivfflat.rs:11`, `lsh.rs:53`, `hnsw.rs:26`); this is extension
surface for the 100 TB regime where even int8 vectors don't fit the scan
budget: dim D splits into ``m`` subspaces, each quantized against its own
``k_codebook``-centroid codebook, so a D-dim f32 vector becomes ``m`` bytes
(64-dim → 8 bytes, 32x).

Spark-first layout, mirroring the IVF split (indexes/ivfflat.py):
- **train** is driver-local numpy k-means per subspace over a bounded sample
  (same ``_kmeans_numpy`` kernel and rationale: a codebook is tiny, the
  Lloyd loop on a sample costs one collect; corpus-size-independent);
- **encode** is one distributed ``mapInPandas`` pass (codebooks broadcast,
  per-batch vectorized argmin per subspace) — the only corpus-wide job;
- **search** is asymmetric distance computation (ADC): per query ONE
  (m × k_codebook) lookup table of exact subspace distances, then every
  code's distance is m table lookups — the blocked partial/final top-k
  shape of operators/knn.exact_knn_blocked, reading only (id, codes);
- optional exact re-rank of an oversampled shortlist against the raw
  vectors (the standard PQ-shortlist → exact-rerank serving pattern):
  recall@k then depends on oversample, not on quantization alone.

Determinism: seeded k-means, numpy float64 throughout, ties broken by id.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vers_spark.indexes.ivfflat import _kmeans_numpy
from vers_spark.operators.knn import _ranked

# Codebook training never collects more than this many rows (seeded uniform
# sample above it — same discipline as ivfflat._LOCAL_KMEANS_SAMPLE_ROWS).
_TRAIN_SAMPLE_ROWS = 200_000


@dataclass
class PQCodec:
    codebooks: np.ndarray  # (m, k_codebook, dsub) float64

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @classmethod
    def train(
        cls,
        train_vecs: DataFrame,
        vec_col: str = "embedding",
        m: int = 8,
        k_codebook: int = 32,
        max_iter: int = 10,
        seed: int = 42,
    ) -> "PQCodec":
        """Train per-subspace codebooks on ``train_vecs``. The collect is
        CAPPED at a seeded uniform sample of ``_TRAIN_SAMPLE_ROWS`` (codebook
        quality saturates around 10⁵-10⁶ rows) — the driver footprint stays
        bounded whatever corpus the caller passes; below the cap the sample
        is the identity, so small-SF results are unchanged. Arrow toPandas
        (not row-based collect): array columns transfer columnar."""
        n = train_vecs.count()
        sample = train_vecs.select(vec_col)
        if n > _TRAIN_SAMPLE_ROWS:
            sample = sample.sample(
                fraction=min(1.0, 1.05 * _TRAIN_SAMPLE_ROWS / n), seed=seed
            ).limit(_TRAIN_SAMPLE_ROWS)
        X = np.array(sample.toPandas()[vec_col].tolist(), dtype=np.float64)
        d = X.shape[1]
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        dsub = d // m
        books = np.empty((m, k_codebook, dsub), dtype=np.float64)
        for j in range(m):
            sub = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
            books[j], _ = _kmeans_numpy(sub, k_codebook, max_iter, seed + j)
        return cls(codebooks=books)

    def encode(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """One distributed pass: ``(id, codes array<int>)``, codes[j] =
        argmin centroid of subspace j (ties → lowest centroid id, numpy
        argmin semantics in both train and encode)."""
        m, dsub = self.m, self.dsub
        bc = df.sparkSession.sparkContext.broadcast(self.codebooks)

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            books = bc.value
            norms = [np.einsum("ij,ij->i", books[j], books[j]) for j in range(m)]
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                codes = np.empty((len(X), m), dtype=np.int64)
                for j in range(m):
                    sub = X[:, j * dsub : (j + 1) * dsub]
                    dmat = (
                        np.einsum("ij,ij->i", sub, sub)[:, None]
                        + norms[j][None, :]
                        - 2.0 * (sub @ books[j].T)
                    )
                    codes[:, j] = dmat.argmin(axis=1)
                yield pd.DataFrame(
                    {"vec_id": pdf[id_col].to_numpy(np.int64), "codes": list(codes)}
                )

        return df.mapInPandas(fn, "vec_id long, codes array<long>")

    def search(
        self,
        queries: DataFrame,
        codes: DataFrame,
        corpus: DataFrame | None = None,
        k: int = 10,
        oversample: int = 5,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
    ) -> DataFrame:
        """ADC top-k over the coded corpus; with ``corpus`` given, the
        ADC shortlist (k·oversample) is exactly re-ranked against the raw
        vectors. Returns (query_id, neighbour_id, distance, rank) like
        operators/knn.exact_knn."""
        from vers_spark.functions.validate import bounded_collect

        spark = codes.sparkSession
        q_rows = bounded_collect(queries.select(query_id, query_vec), "PQCodec.search")
        if not q_rows:
            return spark.createDataFrame(
                [], "query_id long, neighbour_id long, distance double, rank int"
            )
        q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
        q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
        m, dsub = self.m, self.dsub
        # per-query LUT: exact squared distance from the query's j-th slice
        # to every centroid of codebook j → code distance = m lookups
        luts = np.empty((len(q_ids), m, self.codebooks.shape[1]), dtype=np.float64)
        for j in range(m):
            qs = q_mat[:, j * dsub : (j + 1) * dsub]
            diff = qs[:, None, :] - self.codebooks[j][None, :, :]
            luts[:, j, :] = np.einsum("qkd,qkd->qk", diff, diff)
        shortlist = k * oversample
        bc = spark.sparkContext.broadcast((q_ids, luts, shortlist))

        def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids, tables, kk = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                c_ids = pdf["vec_id"].to_numpy(np.int64)
                C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (B, m)
                # gather: dist[q, b] = Σ_j tables[q, j, C[b, j]] — folded
                # SEQUENTIALLY to be bit-equal to the declarative
                # aggregate's left fold (the ivfpq_search_blocked fix:
                # numpy pairwise summation can differ by ulps and flip
                # near-tie orderings across engines)
                g = tables[:, np.arange(C.shape[1])[None, :], C]  # (Q, B, m)
                d = np.zeros(g.shape[:2], dtype=np.float64)
                for j in range(g.shape[2]):
                    d += g[:, :, j]  # in-place: same left fold, no temporaries
                take = min(kk, d.shape[1])
                part = np.argpartition(d, take - 1, axis=1)[:, :take]
                out = []
                for qi in range(d.shape[0]):
                    cols = part[qi]
                    # ADC distance ties at the take boundary are COMMON
                    # (identical codes sum identical LUT entries); re-admit
                    # boundary ties and truncate on the (distance, id)
                    # composite key — the serving-kernel discipline
                    thr = d[qi, cols].max()
                    cand = np.nonzero(d[qi] <= thr)[0]
                    if len(cand) < take:  # NaN distances → keep fixed width
                        cand = cols
                    order = np.lexsort((c_ids[cand], d[qi, cand]))
                    sel = cand[order][:take]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(take, ids[qi]),
                                "neighbour_id": c_ids[sel],
                                "_dist": d[qi, sel],
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        cands = codes.mapInPandas(
            partial_topk, "query_id long, neighbour_id long, _dist double"
        )
        if corpus is None:
            return _ranked(cands, "_dist", k)
        # exact re-rank of the global shortlist against raw vectors
        shortlisted = _ranked(cands, "_dist", shortlist).select(
            "query_id", "neighbour_id"
        )
        q = queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("q_vec")
        )
        c = corpus.select(F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("c_vec"))
        from vers_spark.functions import vector as V

        exact = (
            shortlisted.join(F.broadcast(q), "query_id")
            .join(c, "neighbour_id")
            .withColumn("_dist", V.sq_euclidean(F.col("q_vec"), F.col("c_vec")))
        )
        return _ranked(exact, "_dist", k)

    def luts_df(
        self, queries: DataFrame, query_id: str = "vec_id", query_vec: str = "embedding"
    ) -> DataFrame:
        """Per-query ADC lookup tables as a DataFrame column
        ``lut array<array<double>>`` (m × k_codebook): computed driver-side
        (queries are the small side by contract), joined/broadcast to
        candidates so the per-candidate distance is a pure JVM expression."""
        from vers_spark.functions.validate import bounded_collect

        spark = queries.sparkSession
        q_rows = bounded_collect(queries.select(query_id, query_vec), "PQCodec.lut")
        m, dsub = self.m, self.dsub
        out = []
        for r in q_rows:
            qv = np.asarray(r[1], dtype=np.float64)
            lut = []
            for j in range(m):
                diff = self.codebooks[j] - qv[j * dsub : (j + 1) * dsub][None, :]
                lut.append(np.einsum("kd,kd->k", diff, diff).tolist())
            out.append((int(r[0]), lut))
        return spark.createDataFrame(out, "query_id long, lut array<array<double>>")


def persist_codes_partitioned(
    codes: DataFrame, assignments: DataFrame, path: str
) -> DataFrame:
    """The billion-scale PQ serving layout: codes joined with their COARSE
    cluster assignment and written as parquet PARTITIONED BY cluster_id.
    Serving (ivfpq_search with this store) then reads ONLY the probed
    posting-list directories — partition pruning composes with the 16×
    compression, so a 100 TB corpus serves from n_probes/k of ~6 TB of
    codes instead of rescanning raw vectors. Train-once/serve-many: the
    write happens at index-build time, every query batch afterwards is
    read-only. Returns the read-back DataFrame (vec_id, codes, cluster_id).

    ``assignments``: (id, cluster_id) from the coarse quantizer
    (IVFFlatIndex.assignments)."""
    joined = codes.join(
        assignments.select(F.col("id").alias("vec_id"), "cluster_id"), "vec_id"
    )
    joined.write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    return codes.sparkSession.read.parquet(path)


def residuals(ivf, corpus_unused=None) -> DataFrame:
    """(vec_id, cluster_id, embedding=residual) from an IVFFlatIndex:
    residual = x − centroid[assign(x)], via one broadcast centroid join —
    the FAISS IVF-PQ ``by_residual`` layout. Training PQ codebooks on
    residuals concentrates them near the origin (coarse structure already
    explained by the centroid), so the same m × k_codebook budget spends
    its resolution on the LOCAL geometry — measurably better ADC ranking
    than whole-vector codes at identical code size."""
    a = ivf._serving_assignments().select(
        F.col("id").alias("vec_id"), "cluster_id", "embedding"
    )
    c = F.broadcast(ivf.centroids)
    return a.join(c, "cluster_id").select(
        "vec_id",
        "cluster_id",
        F.zip_with(
            "embedding", "centroid", lambda x, y: x.cast("double") - y
        ).alias("embedding"),
    )


def ivfpq_search_residual(
    ivf,
    codec: PQCodec,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    oversample: int = 5,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF × PQ with RESIDUAL codes (codes = PQ(x − coarse centroid)).

    The ADC lookup table is now per (query, probed cluster) — the query's
    residual against THAT cluster's centroid — so LUTs key on
    (query_id, cluster_id): Q × ~n_probes rows, driver-computed like
    luts_df and broadcast. Probing/fill-rule resolve driver-side on the
    collected centroid table (IVFFlatIndex.search's probe rule, ivfflat.rs:166-195
    semantics); candidates come off the cluster-pruned code store with a
    literal isin filter (static partition pruning on the
    persist_codes_partitioned layout); the per-candidate ADC stays a pure
    JVM fold. ``codes`` must carry cluster_id (the persisted layout).
    """
    import numpy as np

    from vers_spark.functions import vector as V
    from vers_spark.functions.validate import bounded_collect

    if "cluster_id" not in codes.columns:
        raise ValueError("residual serving needs the cluster-partitioned code store")
    spark = codes.sparkSession
    q_rows = bounded_collect(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        "ivfpq_search_residual",
    )
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbour_id long, distance double, rank int"
        )
    cent_rows = ivf.centroids.orderBy("cluster_id").collect()
    c_ids = np.array([r["cluster_id"] for r in cent_rows], dtype=np.int64)
    c_mat = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    sizes = ivf._cluster_sizes()
    m, dsub = codec.m, codec.dsub

    lut_rows = []
    for qid, qv in q_rows:
        q = np.asarray(qv, dtype=np.float64)
        d = np.einsum("ij,ij->i", c_mat - q[None, :], c_mat - q[None, :])
        order = np.lexsort((c_ids, d))
        cum_before = 0
        for rank0, ci in enumerate(order):
            if rank0 >= n_probes and cum_before >= k:
                break
            cid = int(c_ids[ci])
            cum_before += sizes.get(cid, 0)
            res = q - c_mat[ci]
            lut = []
            for j in range(m):
                diff = codec.codebooks[j] - res[j * dsub : (j + 1) * dsub][None, :]
                lut.append(np.einsum("kd,kd->k", diff, diff).tolist())
            lut_rows.append((int(qid), cid, lut))
    luts = spark.createDataFrame(
        lut_rows, "query_id long, cluster_id int, lut array<array<double>>"
    )
    probe_set = sorted({cid for _, cid, _ in lut_rows})
    pruned = codes.filter(F.col("cluster_id").isin(probe_set))
    cands = pruned.withColumnRenamed("vec_id", "neighbour_id").join(
        F.broadcast(luts), "cluster_id"
    )
    adc = F.aggregate(
        F.zip_with(
            "codes", "lut", lambda c, row: F.element_at(row, (c + 1).cast("int"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = _ranked(
        cands.withColumn("_dist", adc),
        "_dist",
        k * oversample if corpus is not None else k,
    )
    if corpus is None:
        return shortlist
    q_df = corpus.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in q_rows],
        "query_id long, q_vec array<double>",
    )
    c = corpus.select(F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("c_vec"))
    exact = (
        shortlist.select("query_id", "neighbour_id")
        .join(F.broadcast(q_df), "query_id")
        .join(c, "neighbour_id")
        .withColumn("_dist", V.sq_euclidean(F.col("q_vec"), F.col("c_vec")))
    )
    return _ranked(exact, "_dist", k)


def ivfpq_search_blocked(
    ivf,
    codec: PQCodec,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    oversample: int = 5,
    corpus: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """Blocked-numpy serving twin of :func:`ivfpq_search` /
    :func:`ivfpq_search_residual` over the cluster-partitioned code store —
    the 1M+ deployment path (the knn/ivf/lsh discipline: every scale
    serving path gets a vectorized Arrow twin of its declarative oracle).

    The declarative ADC carries an m×k_codebook LUT per CANDIDATE row
    through a broadcast join and folds it element-wise in the JVM — at 1M
    with 100 queries that is ~20M candidate rows × (m lookups + a ~8 KB
    lut column each). Here probing and LUTs resolve driver-side exactly as
    in ivfpq_search_residual (same centroid ranking, same underflow fill
    prefix rule), the numpy LUT tensor is broadcast ONCE, and each code
    partition computes a vectorized gather + per-query partial top-k
    (PQCodec.search's partial_topk shape) — output is bounded at
    shortlist rows per (query, partition), never the candidate volume.
    Partition pruning on the persist_codes_partitioned layout still
    applies through the literal isin filter.

    ``residual=True`` serves residual codes (LUT per (query, probed
    cluster) against the query's residual to THAT centroid — the FAISS
    by_residual ADC); ``False`` whole-vector codes (one LUT per query).
    Parity with the declarative twins is gated in tests/test_pq.py."""
    from vers_spark.functions import vector as V
    from vers_spark.functions.validate import bounded_collect

    if "cluster_id" not in codes.columns:
        raise ValueError("blocked serving needs the cluster-partitioned code store")
    spark = codes.sparkSession
    q_rows = bounded_collect(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        "ivfpq_search_blocked",
    )
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbour_id long, distance double, rank int"
        )
    cent_rows = ivf.centroids.orderBy("cluster_id").collect()
    c_ids = np.array([r["cluster_id"] for r in cent_rows], dtype=np.int64)
    c_mat = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    sizes = ivf._cluster_sizes()
    m, dsub, kbook = codec.m, codec.dsub, codec.codebooks.shape[1]
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)

    # whole-vector LUTs are per query; residual LUTs per (query, cluster)
    flat_luts = np.empty((0, m, kbook))
    if not residual:
        flat_luts = np.empty((len(q_ids), m, kbook), dtype=np.float64)
        for j in range(m):
            qs = q_mat[:, j * dsub : (j + 1) * dsub]
            diff = qs[:, None, :] - codec.codebooks[j][None, :, :]
            flat_luts[:, j, :] = np.einsum("qkd,qkd->qk", diff, diff)

    # probe resolve: rank clusters per query, include the n_probes nearest
    # plus the underflow-fill prefix (cum sizes < k) — the ivfpq_search /
    # ivfpq_search_residual rule verbatim
    probe: dict[int, list[tuple[int, np.ndarray | None]]] = {}
    for qi in range(len(q_ids)):
        q = q_mat[qi]
        d = np.einsum("ij,ij->i", c_mat - q[None, :], c_mat - q[None, :])
        order = np.lexsort((c_ids, d))
        cum_before = 0
        for rank0, ci in enumerate(order):
            if rank0 >= n_probes and cum_before >= k:
                break
            cid = int(c_ids[ci])
            cum_before += sizes.get(cid, 0)
            lut = None
            if residual:
                res = q - c_mat[ci]
                lut = np.empty((m, kbook), dtype=np.float64)
                for j in range(m):
                    diff = codec.codebooks[j] - res[j * dsub : (j + 1) * dsub][None, :]
                    lut[j] = np.einsum("kd,kd->k", diff, diff)
            probe.setdefault(cid, []).append((qi, lut))
    # per probed cluster: (query indices, stacked LUT tensor)
    packed = {
        cid: (
            np.array([qi for qi, _ in lst], dtype=np.int64),
            np.stack([lut for _, lut in lst]) if residual else None,
        )
        for cid, lst in probe.items()
    }
    shortlist = k * oversample if corpus is not None else k
    bc = spark.sparkContext.broadcast((q_ids, flat_luts, packed, shortlist))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, whole_luts, probes_by_cluster, kk = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for cid, grp in pdf.groupby("cluster_id"):
                hit = probes_by_cluster.get(int(cid))
                if hit is None:
                    continue
                qsel, res_luts = hit
                tables = res_luts if res_luts is not None else whole_luts[qsel]
                n_ids = grp["vec_id"].to_numpy(np.int64)
                C = np.array(grp["codes"].tolist(), dtype=np.int64)  # (B, m)
                g = tables[:, np.arange(C.shape[1])[None, :], C]  # (Q, B, m)
                # explicit sequential fold over the m LUT terms: numpy's
                # .sum uses pairwise summation, which can differ by ulps
                # from the declarative aggregate's left fold and flip
                # near-tie orderings across engines (cf. lsh._leaf_order)
                d = np.zeros(g.shape[:2], dtype=np.float64)
                for j in range(g.shape[2]):
                    d += g[:, :, j]  # in-place: same left fold, no temporaries
                take = min(kk, d.shape[1])
                # argpartition accepts kth == n-1, so no full-take branch
                part = np.argpartition(d, take - 1, axis=1)[:, :take]
                for row, qi in enumerate(qsel):
                    cols = part[row]
                    # argpartition selected by distance alone; ADC distance
                    # ties at the take boundary are common (identical codes
                    # sum identical LUT entries) and could drop a smaller-id
                    # neighbour. Re-admit every candidate tying the boundary
                    # distance, then truncate on the (distance, id) composite
                    # key — the ivfflat serving-kernel discipline.
                    thr = d[row, cols].max()
                    cand = np.nonzero(d[row] <= thr)[0]
                    if len(cand) < take:  # NaN distances → keep fixed width
                        cand = cols
                    order = np.lexsort((n_ids[cand], d[row, cand]))
                    sel = cand[order][:take]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(take, ids[qi]),
                                "neighbour_id": n_ids[sel],
                                "_dist": d[row, sel],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    pruned = codes.filter(F.col("cluster_id").isin(sorted(packed)))
    cands = pruned.mapInPandas(
        partial_topk, "query_id long, neighbour_id long, _dist double"
    )
    if corpus is None:
        return _ranked(cands, "_dist", k)
    shortlisted = _ranked(cands, "_dist", shortlist).select("query_id", "neighbour_id")
    q_df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in q_rows],
        "query_id long, q_vec array<double>",
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("c_vec")
    )
    exact = (
        shortlisted.join(F.broadcast(q_df), "query_id")
        .join(c, "neighbour_id")
        .withColumn("_dist", V.sq_euclidean(F.col("q_vec"), F.col("c_vec")))
    )
    return _ranked(exact, "_dist", k)


def ivfpq_search(
    ivf,
    codec: PQCodec,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    oversample: int = 5,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF × PQ composition — the standard billion-scale serving layout
    (coarse quantizer prunes the corpus to n_probes posting lists; PQ codes
    make the scanned residue 16x smaller; exact re-rank restores recall):

    1. probe: rank IVF centroids per query (broadcast — centroid count is
       bounded), keep the ``n_probes`` nearest (plus the reference's
       underflow fill rule, ivfflat.rs:166-195);
    2. candidates: probed posting lists semi-joined to the PQ codes —
       partition pruning + compression compose;
    3. ADC: distance = Σⱼ lut[j][code_j], expressed as
       ``aggregate(zip_with(codes, lut, element_at))`` — whole-stage
       codegen, no Python in the per-candidate loop;
    4. optional exact re-rank of the k·oversample shortlist.
    """
    from pyspark.sql import Window as W

    from vers_spark.functions import vector as V

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    sizes = ivf.assignments.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("c_size"))
    cents = F.broadcast(ivf.centroids.join(F.broadcast(sizes), "cluster_id", "left").fillna(0))
    ranked = q.crossJoin(cents).withColumn(
        "c_rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.asc(V.sq_euclidean(F.col("q_vec"), F.col("centroid"))),
                F.asc("cluster_id"),
            )
        ),
    )
    wcum = W.partitionBy("query_id").orderBy("c_rank").rowsBetween(W.unboundedPreceding, -1)
    probes = ranked.withColumn(
        "cum_before", F.coalesce(F.sum("c_size").over(wcum), F.lit(0))
    ).filter((F.col("c_rank") <= n_probes) | (F.col("cum_before") < k))

    luts = codec.luts_df(queries)
    if "cluster_id" in codes.columns:
        # codes PERSISTED WITH the coarse assignment (persist_codes_partitioned):
        # no assignments join, no id-shuffle of the codes table — candidates
        # come straight off the probed partitions. The probed-cluster set is
        # collected (≤ num_clusters scalars, driver-bounded by construction)
        # and applied as a LITERAL isin filter so the parquet scan gets
        # STATIC partition pruning — at 100 TB only the probed posting-list
        # directories are read at all.
        probe_set = [
            r["cluster_id"]
            for r in probes.select("cluster_id").distinct().collect()
        ]
        pruned = codes.filter(F.col("cluster_id").isin(probe_set))
        cands = (
            probes.select("query_id", "cluster_id")
            .join(pruned.withColumnRenamed("vec_id", "id"), "cluster_id")
            .join(F.broadcast(luts), "query_id")
        )
    else:
        cands = (
            probes.select("query_id", "cluster_id")
            .join(ivf.assignments.select("id", "cluster_id"), "cluster_id")
            .join(codes.withColumnRenamed("vec_id", "id"), "id")
            .join(F.broadcast(luts), "query_id")
        )
    adc = F.aggregate(
        F.zip_with(
            "codes", "lut", lambda c, row: F.element_at(row, (c + 1).cast("int"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = _ranked(
        cands.withColumn("_dist", adc).withColumnRenamed("id", "neighbour_id"),
        "_dist",
        k * oversample if corpus is not None else k,
    )
    if corpus is None:
        return shortlist
    c = corpus.select(F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("c_vec"))
    exact = (
        shortlist.select("query_id", "neighbour_id")
        .join(F.broadcast(q), "query_id")
        .join(c, "neighbour_id")
        .withColumn("_dist", V.sq_euclidean(F.col("q_vec"), F.col("c_vec")))
    )
    return _ranked(exact, "_dist", k)
