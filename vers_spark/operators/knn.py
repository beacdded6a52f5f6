"""Exact K-nearest-neighbour search — the oracle every ANN index is judged
against (reference `search_exhaustive`, vers/src/utils.rs:68-82).

Two physical strategies, one logical semantics (top-k per query, distance
ascending, ties broken by ascending corpus id, distances from the left-fold
f64 kernels of :mod:`vers_spark.functions.vector`):

- ``exact_knn`` — declarative: crossJoin + distance expression + ranking
  window. Catalyst handles it; bit-deterministic, so it IS the DuckDB-oracle
  path. Fine for query batches × corpora that fit a shuffle; the window's
  per-query group limit (Spark ≥3.5 WindowGroupLimit) keeps the sort bounded.
  The query side is broadcast only while it has at most
  ``_BROADCAST_QUERY_CAP`` rows; a larger caller-supplied frame gets a plain
  join instead of a forced broadcast through driver memory.

- ``exact_knn_blocked`` — block nested loop for scale, one Arrow pass: the
  query block is collected under the bounded-batch contract in one job
  (``validate.bounded_arrow``: ``QueryBatchTooLarge`` above the cap) and
  broadcast; the corpus streams through ``mapInPandas``. Per Arrow batch a
  BLAS distance matrix shortlists candidates, and the fold kernel's numpy
  twin (``vector_np.fold_distances``, bit-equal) re-scores them in the same
  kernel into the task's running per-query top-k (``vector_np.keep_topk``),
  emitted once per task (partial); a ranking window takes the global top-k
  (final). The corpus is scanned once, never shuffled, never joined back;
  only O(tasks × Q × k) candidate rows move. This is the 100 TB path — at
  1000 executors each scans its split, and the shuffle is candidates only.

Two finishes, chosen by what bounds the candidate rows:

- **driver** (the planned paths: IVF, LSH, HNSW and blocked IVF×PQ). The
  driver plans which partitions each query reads, so the kernels' partial
  top-k is bounded by that plan; the driver fetches it with ``toArrow()``
  and merges it in numpy (:func:`_arrow_topk`, :func:`_topk_frame`) —
  Spark's ``TakeOrderedAndProjectExec`` idea — returning a local frame
  whose ``collect()`` starts no job. They share the query collect
  (:func:`_query_block`).
- **window** (the whole-corpus paths: ``exact_knn_blocked`` and
  ``indexes.pq.PQCodec.search``). Every split of the corpus emits up to
  Q × k rows, so their candidate count grows with the corpus, not with a
  plan: they keep the exchange and the ranking window
  (:func:`_kernel_ranked`), which scale out where a driver merge would not.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.functions import vector_np as VN

# Queries per exact_knn call up to which the query side is broadcast. Above
# it the join is left unhinted: a caller-supplied frame must not be pulled
# through driver memory by a forced broadcast.
_BROADCAST_QUERY_CAP = 65536

# exact_knn_blocked's BLAS shortlist per query and Arrow batch, in multiples
# of k: the fold decides the final order among these candidates.
_PREFILTER_MARGIN = 2

RESULT_SCHEMA = "query_id long, neighbour_id long, distance double, rank int"

# (query ids, neighbour ids, distances) of an empty candidate set
_NO_ROWS = (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, np.float64))


def _query_block(queries: DataFrame, query_id: str, query_vec: str, what: str):
    """The serving paths' query batch under the bounded-batch contract, in
    one Spark job (``validate.bounded_arrow``: ``QueryBatchTooLarge`` above
    the cap): (int64 ids ``(Q,)``, f64 vectors ``(Q, d)``), or None for an
    empty batch."""
    from vers_spark.functions.validate import bounded_arrow

    table = bounded_arrow(queries.select(query_id, query_vec), what)
    if not table.num_rows:
        return None
    ids, vecs = table.column(0), table.column(1).combine_chunks()
    if ids.null_count or vecs.null_count or len(pc.unique(pc.list_value_length(vecs))) > 1:
        raise ValueError(f"{what}: query ids and vectors must be non-null, vectors of one length")
    ids = ids.to_numpy().astype(np.int64)
    flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return ids, flat.reshape(len(vecs), flat.size // len(vecs))


def _rank_within(order: np.ndarray, *keys: np.ndarray) -> np.ndarray:
    """1-based position of each row of ``order`` within its run of rows
    with equal ``keys`` (``order`` sorts by the keys first)."""
    n = len(order)
    new = np.zeros(n, dtype=bool)
    if n:
        new[0] = True
    for key in keys:
        s = key[order]
        new[1:] |= s[1:] != s[:-1]
    pos = np.arange(n)
    return pos - np.maximum.accumulate(np.where(new, pos, 0)) + 1


def _topk_frame(spark, qid: np.ndarray, nid: np.ndarray, dist: np.ndarray, k: int) -> DataFrame:
    """The driver's top-k merge of candidate rows, as a local frame
    (``RESULT_SCHEMA``; collecting it starts no job): per query id the k
    smallest (distance, neighbour_id), ranked from 1 — the rows
    :func:`_ranked` returns for the same candidates. numpy orders doubles
    as Spark does: NaN after every number, ``-0.0`` tied with ``0.0``."""
    from vers_spark.functions.frames import local_frame

    order = np.lexsort((nid, dist, qid))
    rank = _rank_within(order, qid)
    keep = rank <= k
    sel = order[keep]
    return local_frame(
        spark,
        RESULT_SCHEMA,
        {"query_id": qid[sel], "neighbour_id": nid[sel], "distance": dist[sel], "rank": rank[keep]},
    )


def _arrow_topk(spark, cands: DataFrame, k: int) -> DataFrame:
    """The driver finish: fetch a kernel's ``(query_id, neighbour_id,
    _dist)`` partial top-k with ``toArrow()`` (one job) and merge it with
    :func:`_topk_frame`. A NaN distance that the pandas → Arrow conversion
    masked as null reads back as NaN."""
    table = cands.toArrow()
    return _topk_frame(
        spark,
        table.column("query_id").to_numpy(),
        table.column("neighbour_id").to_numpy(),
        table.column("_dist").to_numpy(),
        k,
    )


def _kernel_ranked(cands: DataFrame, k: int) -> DataFrame:
    """The window finish of a whole-corpus kernel's ``(query_id,
    neighbour_id, _dist)`` partial top-k. PySpark's pandas → Arrow
    conversion masks a NaN in a ``mapInPandas`` output as null, and a null
    ranks first; the kernels never emit a null distance, so it is read
    back as NaN, which ranks after every number as in :func:`exact_knn`."""
    restored = cands.withColumn("_dist", F.coalesce(F.col("_dist"), F.lit(float("nan"))))
    return _ranked(restored, "_dist", k)


def _ranked(joined: DataFrame, dist_col: str, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.asc(dist_col), F.asc("neighbour_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbour_id", F.col(dist_col).alias("distance"), F.col("rn").alias("rank"))
    )


def exact_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str = "sq_euclidean",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Declarative exact KNN: returns (query_id, neighbour_id, distance, rank).

    Join shape (r15): broadcast the QUERY block and stream the cpu_spread
    corpus — the blocked path's orientation. Left to itself the planner
    built the nested-loop broadcast on the (bigger) corpus side, which
    streams the few-row query side through ONE task running every
    query×corpus fold single-threaded (profiled 1.30 s single-task stage
    at sf0.1); the fold work lives on the corpus side's partitions, so
    that side must be the streamed one. Results are identical — the cross
    product is the same row set and the rank window's
    (distance, neighbour_id) order is total per query.

    The broadcast hint is bounded: one ``limit(cap + 1).count()`` sizes the
    query side, and above ``_BROADCAST_QUERY_CAP`` rows the cross join is
    left to the planner."""
    if metric not in V.DISTANCE_FNS:
        raise ValueError(f"unknown metric {metric!r}; expected {sorted(V.DISTANCE_FNS)}")
    from vers_spark.functions.spread import cpu_spread

    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("q_vec"))
    c = cpu_spread(
        corpus.select(F.col(corpus_id).alias("neighbour_id"), F.col(corpus_vec).alias("c_vec"))
    )
    dist = V.DISTANCE_FNS[metric](F.col("q_vec"), F.col("c_vec"))
    if q.limit(_BROADCAST_QUERY_CAP + 1).count() <= _BROADCAST_QUERY_CAP:
        q = F.broadcast(q)
    joined = c.crossJoin(q).withColumn("_dist", dist)
    return _ranked(joined, "_dist", k)


def exact_knn_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str = "sq_euclidean",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Block-nested-loop exact KNN (the scale path; see module docstring).

    Bounded-batch contract: the query block is collected (at most
    ``validate.MAX_QUERY_BATCH_ROWS`` rows, ``QueryBatchTooLarge`` above) and
    broadcast; the corpus side is never materialized on the driver. Query
    ids must be integral.

    Per Arrow batch, BLAS shortlists ``_PREFILTER_MARGIN·k`` candidates per
    query plus every row tying the shortlist's boundary distance
    (``vector_np.topk_candidates``); the fold kernel
    (``vector_np.fold_distances``, bit-equal to the declarative one) then
    recomputes their distances into the task's running top-k on the
    (fold distance, id) key. The final top-k therefore reads fold values
    only, and the output equals :func:`exact_knn` unless BLAS misranks a
    true top-k neighbour more than (_PREFILTER_MARGIN−1)·k places deep
    within one batch — a ulp-level tie that deep, never seen in practice.
    """
    if metric not in V.DISTANCE_FNS:
        raise ValueError(f"unknown metric {metric!r}; expected {sorted(V.DISTANCE_FNS)}")
    spark = corpus.sparkSession
    block = _query_block(queries, query_id, query_vec, "exact_knn_blocked")
    if block is None:
        return _topk_frame(spark, *_NO_ROWS, k)
    bc = spark.sparkContext.broadcast((*block, metric, k))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per query row, the task's running top-k over every Arrow batch;
        # emitted once, when the task's input ends
        ids, mat, m, kk = bc.value
        best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["neighbour_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            d = VN.pairwise_distances(mat, c_mat, m)  # (Q, B)
            for qi in range(len(ids)):
                # BLAS shortlists, the fold decides among the shortlist
                cand = VN.topk_candidates(d[qi], _PREFILTER_MARGIN * kk)
                exact = VN.fold_distances(mat[qi], c_mat[cand], m)
                VN.keep_topk(best, qi, c_ids[cand], exact, kk)
        if best:
            yield pd.DataFrame(VN.topk_columns(best, ids))

    c = corpus.select(
        F.col(corpus_id).cast("long").alias("neighbour_id"), F.col(corpus_vec).alias("c_vec")
    )
    candidates = c.mapInPandas(partial_topk, "query_id long, neighbour_id long, _dist double")
    return _kernel_ranked(candidates, k)
