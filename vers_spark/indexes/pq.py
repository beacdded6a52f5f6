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
  (m × k_codebook) lookup table of exact subspace distances
  (``PQCodec.luts``, the one LUT builder), then every code's distance is
  m table lookups folded left (:func:`_adc`, bit-equal to the declarative
  ``aggregate``), each task keeping a running per-query top-k
  (:func:`_adc_scan`);
- optional exact re-rank of an oversampled shortlist against the raw
  vectors (:func:`_rerank`, the standard PQ-shortlist → exact-rerank
  pattern): recall@k then depends on oversample, not on quantization.

Finishes (see operators/knn): ``PQCodec.search`` scans the whole code
table, so its candidates grow with the splits and it keeps the ranking
window; ``ivfpq_search_blocked`` reads only the clusters that
``IVFFlatIndex._probe_plan`` picks and finishes on the driver (a local
frame). ``ivfpq_search`` and ``ivfpq_search_residual`` stay declarative
JVM folds: the references the blocked twin must match row for row.

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
from vers_spark.functions.frames import local_frame
from vers_spark.operators.knn import _NO_ROWS, _arrow_topk, _kernel_ranked, _query_block
from vers_spark.operators.knn import _ranked, _topk_frame

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

    def luts(self, vecs: np.ndarray) -> np.ndarray:
        """ADC lookup tables of the vectors ``vecs`` (n, D): (n, m,
        k_codebook), entry [i, j, c] the exact squared distance from the
        j-th slice of vector i to centroid c of codebook j — a code's
        distance is then m lookups. The one LUT builder every PQ search
        path uses."""
        dsub = self.dsub
        out = np.empty((len(vecs), self.m, self.codebooks.shape[1]), dtype=np.float64)
        for j, book in enumerate(self.codebooks):
            diff = vecs[:, None, j * dsub : (j + 1) * dsub] - book[None, :, :]
            out[:, j, :] = np.einsum("nkd,nkd->nk", diff, diff)
        return out

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
        operators/knn.exact_knn. A whole-corpus scan, so it keeps the
        ranking window (see the module docstring)."""
        spark = codes.sparkSession
        block = _query_block(queries, query_id, query_vec, "PQCodec.search")
        if block is None:
            return _topk_frame(spark, *_NO_ROWS, k)
        q_ids, q_mat = block
        shortlist = k * oversample if corpus is not None else k
        plan = {None: (np.arange(len(q_ids)), self.luts(q_mat))}
        cands = _adc_scan(codes.select("vec_id", "codes"), q_ids, plan, shortlist)
        if corpus is None:
            return _kernel_ranked(cands, k)
        exact = _rerank(_kernel_ranked(cands, shortlist), block, corpus)
        return _ranked(exact, "_dist", k)

    def luts_df(
        self, queries: DataFrame, query_id: str = "vec_id", query_vec: str = "embedding"
    ) -> DataFrame:
        """Per-query ADC lookup tables as a DataFrame column
        ``lut array<array<double>>`` (m × k_codebook): computed driver-side
        (queries are the small side by contract), joined/broadcast to
        candidates so the per-candidate distance is a pure JVM expression."""
        spark = queries.sparkSession
        block = _query_block(queries, query_id, query_vec, "PQCodec.lut")
        q_ids, q_mat = block if block is not None else (_NO_ROWS[0], np.zeros((0, self.m * self.dsub)))
        return local_frame(
            spark,
            "query_id long, lut array<array<double>>",
            {"query_id": q_ids, "lut": [t.tolist() for t in self.luts(q_mat)]},
        )


def _adc(tables: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """ADC distances (Q, B) of the codes (B, m) under the LUTs (Q, m, K):
    Σⱼ tables[q, j, codes[b, j]], folded left in j order from 0.0 —
    bit-equal to the declarative ``aggregate(…, 0.0, acc + x)`` (numpy's
    pairwise ``sum`` can differ by ulps and flip near-tie orders)."""
    d = np.zeros((tables.shape[0], len(codes)), dtype=np.float64)
    for j in range(codes.shape[1]):
        d += tables[:, j, codes[:, j]]
    return d


def _adc_scan(codes: DataFrame, q_ids: np.ndarray, plan: dict, cap: int) -> DataFrame:
    """One Arrow pass over ``codes`` (vec_id, codes[, cluster_id]):
    ``plan`` maps a cluster_id (None for a store without one) to (query
    rows, their LUTs); each task keeps every planned query's running ADC
    top-``cap`` over its batches (``vector_np.keep_topk``) and emits it
    once. Returns (query_id, neighbour_id, _dist)."""
    from vers_spark.functions import vector_np as VN

    bc = codes.sparkSession.sparkContext.broadcast((q_ids, plan, cap))

    def code_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, pl, kk = bc.value
        best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            groups = pdf.groupby("cluster_id") if "cluster_id" in pdf.columns else [(None, pdf)]
            for cid, grp in groups:
                if cid not in pl:
                    continue
                rows, tables = pl[cid]
                d = _adc(tables, np.array(grp["codes"].tolist(), dtype=np.int64))
                n_ids = grp["vec_id"].to_numpy(np.int64)
                for row, qi in enumerate(rows):
                    VN.keep_topk(best, qi, n_ids, d[row], kk)
        if best:
            yield pd.DataFrame(VN.topk_columns(best, ids))

    return codes.mapInPandas(code_topk, "query_id long, neighbour_id long, _dist double")


def _adc_expr():
    """The declarative ADC of a (codes, lut) row: ``aggregate(zip_with(codes,
    lut, element_at), 0.0, acc + x)`` — whole-stage codegen, no Python."""
    return F.aggregate(
        F.zip_with("codes", "lut", lambda c, row: F.element_at(row, (c + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _rerank(shortlist: DataFrame, q, corpus: DataFrame) -> DataFrame:
    """(query_id, neighbour_id, _dist): the exact squared-L2 distance
    (the left fold of functions.vector) of every shortlisted (query,
    neighbour) pair, from the queries ``q`` — a (query_id, q_vec) frame or
    a collected query block — and the raw ``corpus`` (vec_id, embedding)
    vectors: the shortlist → exact re-rank tail of every PQ search path."""
    from vers_spark.functions import vector as V

    if isinstance(q, tuple):
        schema = "query_id long, q_vec array<double>"
        q = local_frame(shortlist.sparkSession, schema, {"query_id": q[0], "q_vec": q[1]})
    c = corpus.select(F.col("vec_id").alias("neighbour_id"), F.col("embedding").alias("c_vec"))
    dist = V.sq_euclidean(F.col("q_vec"), F.col("c_vec")).alias("_dist")
    return (
        shortlist.select("query_id", "neighbour_id")
        .join(F.broadcast(q), "query_id")
        .join(c, "neighbour_id")
        .select("query_id", "neighbour_id", dist)
    )


def _probe_luts(ivf, codec: PQCodec, q_mat: np.ndarray, k: int, n_probes: int, residual: bool):
    """The IVF probe plan (``IVFFlatIndex._probe_plan``) with its LUTs:
    cluster_id → (probing query rows, their LUTs). Whole-vector codes use
    each query's LUT; residual codes the LUT of the query's residual
    against THAT cluster's centroid (the FAISS by_residual ADC)."""
    plan = {cid: np.array(rows) for cid, rows in ivf._probe_plan(q_mat, k, n_probes).items()}
    if not residual:
        whole = codec.luts(q_mat)
        return {cid: (rows, whole[rows]) for cid, rows in plan.items()}
    c_ids, c_mat = ivf._centroid_matrix()
    return {
        cid: (rows, codec.luts(q_mat[rows] - c_mat[np.searchsorted(c_ids, cid)]))
        for cid, rows in plan.items()
    }


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
    luts_df and broadcast. Probing and the fill rule resolve driver-side
    (``IVFFlatIndex._probe_plan``, ivfflat.rs:166-195 semantics);
    candidates come off the cluster-pruned code store with a literal isin
    filter (static partition pruning on the persist_codes_partitioned
    layout); the per-candidate ADC stays a pure JVM fold. ``codes`` must
    carry cluster_id (the persisted layout).
    """
    if "cluster_id" not in codes.columns:
        raise ValueError("residual serving needs the cluster-partitioned code store")
    spark = codes.sparkSession
    block = _query_block(queries, "vec_id", "embedding", "ivfpq_search_residual")
    if block is None:
        return _topk_frame(spark, *_NO_ROWS, k)
    q_ids, q_mat = block
    plan = _probe_luts(ivf, codec, q_mat, k, n_probes, residual=True)
    luts = local_frame(
        spark,
        "query_id long, cluster_id int, lut array<array<double>>",
        [
            (int(q_ids[qi]), cid, lut.tolist())
            for cid, (rows, tables) in plan.items()
            for qi, lut in zip(rows, tables)
        ],
    )
    pruned = codes.filter(F.col("cluster_id").isin(sorted(plan)))
    cands = pruned.withColumnRenamed("vec_id", "neighbour_id").join(
        F.broadcast(luts), "cluster_id"
    )
    shortlist = _ranked(
        cands.withColumn("_dist", _adc_expr()), "_dist", k * oversample if corpus is not None else k
    )
    if corpus is None:
        return shortlist
    return _ranked(_rerank(shortlist, block, corpus), "_dist", k)


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
    through a broadcast join (at 1M with 100 queries, ~20M rows × a ~8 KB
    lut column). Here the declarative twins' probe plan and LUTs
    (:func:`_probe_luts`) are broadcast ONCE, and one Arrow pass over the
    probed code partitions (a literal isin filter: partition pruning on the
    persist_codes_partitioned layout) keeps each query's running ADC top-k
    per task (:func:`_adc_scan`). The plan bounds those rows, so the driver
    finishes like IVF search (``knn._arrow_topk``), as it does the exact
    re-rank of the k·oversample shortlist when ``corpus`` is given: the
    result is a local frame, and collecting it starts no job.

    ``residual=True`` serves residual codes (LUT per (query, probed
    cluster) against the query's residual to THAT centroid — the FAISS
    by_residual ADC); ``False`` whole-vector codes (one LUT per query).
    Parity with the declarative twins is gated in tests/test_pq.py."""
    if "cluster_id" not in codes.columns:
        raise ValueError("blocked serving needs the cluster-partitioned code store")
    spark = codes.sparkSession
    block = _query_block(queries, "vec_id", "embedding", "ivfpq_search_blocked")
    if block is None:
        return _topk_frame(spark, *_NO_ROWS, k)
    q_ids, q_mat = block
    plan = _probe_luts(ivf, codec, q_mat, k, n_probes, residual)
    shortlist = k * oversample if corpus is not None else k
    pruned = codes.filter(F.col("cluster_id").isin(sorted(plan)))
    cands = _adc_scan(pruned.select("vec_id", "codes", "cluster_id"), q_ids, plan, shortlist)
    if corpus is None:
        return _arrow_topk(spark, cands, k)
    shortlisted = _arrow_topk(spark, cands, shortlist)
    return _arrow_topk(spark, _rerank(shortlisted, block, corpus), k)


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
    shortlist = _ranked(
        cands.withColumn("_dist", _adc_expr()).withColumnRenamed("id", "neighbour_id"),
        "_dist",
        k * oversample if corpus is not None else k,
    )
    if corpus is None:
        return shortlist
    return _ranked(_rerank(shortlist, q, corpus), "_dist", k)
