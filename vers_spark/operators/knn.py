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
  query block is collected under the bounded-batch contract
  (``validate.bounded_collect``: ``QueryBatchTooLarge`` above the cap) and
  broadcast; the corpus streams through ``mapInPandas``. Per Arrow batch a
  BLAS distance matrix shortlists candidates, the fold kernel's numpy twin
  (``vector_np.fold_distances``, bit-equal) re-scores them in the same
  kernel, and the batch emits its per-query top-k (partial); a ranking
  window takes the global top-k (final). The corpus is scanned once, never
  shuffled, never joined back; only O(batches × Q × k) candidate rows move.
  This is the 100 TB path — at 1000 executors each scans its split, and the
  shuffle is candidates only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.functions import vector_np as VN

# Queries per exact_knn call up to which the query side is broadcast. Above
# it the join is left unhinted: a caller-supplied frame must not be pulled
# through driver memory by a forced broadcast. Same value as the index
# serving paths' cap (lsh._BROADCAST_QUERY_CAP).
_BROADCAST_QUERY_CAP = 65536

# exact_knn_blocked's BLAS shortlist per query and Arrow batch, in multiples
# of k: the fold decides the final order among these candidates.
_PREFILTER_MARGIN = 2

RESULT_SCHEMA = "query_id long, neighbour_id long, distance double, rank int"


def _query_block(queries: DataFrame, query_id: str, query_vec: str, what: str):
    """The serving paths' query batch under the bounded-batch contract
    (``validate.bounded_collect``): (int64 ids ``(Q,)``, f64 vectors
    ``(Q, d)``), or None for an empty batch."""
    from vers_spark.functions.validate import bounded_collect

    rows = bounded_collect(queries.select(query_id, query_vec), what)
    if not rows:
        return None
    return (
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.float64),
    )


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
    query plus every row tying the shortlist's boundary distance; the fold
    kernel (``vector_np.fold_distances``, bit-equal to the declarative one)
    then recomputes their distances and the batch emits its top-k on the
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
        return spark.createDataFrame([], RESULT_SCHEMA)
    bc = spark.sparkContext.broadcast((*block, metric, k))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, m, kk = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["neighbour_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            d = VN.pairwise_distances(mat, c_mat, m)  # (Q, B)
            take = min(_PREFILTER_MARGIN * kk, d.shape[1])
            part = np.argpartition(d, take - 1, axis=1)[:, :take]
            out_q, out_c, out_d = [], [], []
            for qi in range(d.shape[0]):
                cols = part[qi]
                # re-admit every row tying the shortlist boundary: duplicate
                # vectors tie exactly, and argpartition alone keeps an
                # arbitrary one of them
                cand = np.nonzero(d[qi] <= d[qi, cols].max())[0]
                if len(cand) < take:  # NaN distances → keep the fixed width
                    cand = cols
                exact = VN.fold_distances(mat[qi], c_mat[cand], m)
                sel = np.lexsort((c_ids[cand], exact))[:kk]
                out_q.append(np.full(len(sel), ids[qi]))
                out_c.append(c_ids[cand][sel])
                out_d.append(exact[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbour_id": np.concatenate(out_c),
                    "_dist": np.concatenate(out_d),
                }
            )

    c = corpus.select(
        F.col(corpus_id).cast("long").alias("neighbour_id"), F.col(corpus_vec).alias("c_vec")
    )
    candidates = c.mapInPandas(partial_topk, "query_id long, neighbour_id long, _dist double")
    return _ranked(candidates, "_dist", k)
