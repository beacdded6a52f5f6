"""Vector-schema constraint checks — the runtime stand-in for the
reference's compile-time guarantees: ``Vector<const N: usize>`` makes every
vector exactly N non-null f32s by type (`base.rs:15-17`), and the pyo3
boundary whitelists dims (`vers-py/src/lib.rs:65,82-119`). Spark's
``array<float>`` can't carry the length in the type, so the contract is
enforced by an explicit one-pass aggregate.

Cost model: the check is ONE partial/final aggregate over size(vec) — a
full scan. At 100 TB that scan is not free, so it is opt-in at index-build
time (``validate=True`` on api.build_index) and meant to run once at
ingest, not per query; after an ingest-time check the parquet metadata
pins the schema and downstream stages may trust it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DimensionError(ValueError):
    pass


def check_dims(df: DataFrame, vec_col: str = "embedding", expected_dim: int | None = None) -> int:
    """Verify every vector in ``vec_col`` is non-null, contains no null
    elements, and has one uniform length (== ``expected_dim`` when given).
    Returns the dimension on success; raises DimensionError with violation
    counts otherwise. Single aggregate pass, JVM-side."""
    size = F.size(vec_col)  # -1 for NULL arrays under legacy, NULL otherwise
    has_null_elem = F.exists(vec_col, lambda x: x.isNull())
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(vec_col).isNull().cast("long")).alias("n_null"),
        F.sum(has_null_elem.cast("long")).alias("n_null_elem"),
        F.min(size).alias("min_dim"),
        F.max(size).alias("max_dim"),
    ).collect()[0]
    if row["n"] == 0:
        raise DimensionError(f"{vec_col}: empty input — nothing to validate")
    problems = []
    if row["n_null"]:
        problems.append(f"{row['n_null']} NULL vectors")
    if row["n_null_elem"]:
        problems.append(f"{row['n_null_elem']} vectors with NULL elements")
    if row["min_dim"] != row["max_dim"]:
        problems.append(f"mixed dims [{row['min_dim']}, {row['max_dim']}]")
    elif expected_dim is not None and row["max_dim"] != expected_dim:
        problems.append(f"dim {row['max_dim']} != expected {expected_dim}")
    if problems:
        raise DimensionError(f"{vec_col}: " + "; ".join(problems))
    return int(row["max_dim"])


class QueryBatchTooLarge(ValueError):
    pass


# Default driver-side cap for collected query batches. The batch-serving
# operators (blocked KNN, HNSW cogrouped search, PQ ADC) collect the QUERY
# side and broadcast it — a documented bounded-batch contract. The cap turns
# a 10M-row mistake into a clear error instead of a driver OOM.
MAX_QUERY_BATCH_ROWS = 1_000_000


def bounded_arrow(df: DataFrame, what: str):
    """Collect ``df`` as a ``pyarrow.Table`` under the bounded-query-batch
    contract: at most ``MAX_QUERY_BATCH_ROWS`` rows leave the cluster
    (``limit(cap + 1)`` bounds the transfer even on violation); above the
    cap, raise with the fix spelled out. ``limit(n).toArrow()`` runs as one
    Spark job, where ``limit(n).collect()`` scans partitions in rounds (one
    job per round), and it skips the per-row Python conversion."""
    cap = MAX_QUERY_BATCH_ROWS
    table = df.limit(cap + 1).toArrow()
    if table.num_rows > cap:
        raise QueryBatchTooLarge(
            f"{what}: query batch exceeds the {cap}-row driver-collect cap. "
            "Split the queries into blocks (or raise the cap explicitly) — "
            "the batch-serving contract broadcasts the query side."
        )
    return table
