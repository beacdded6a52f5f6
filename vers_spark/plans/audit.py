"""Physical-plan audit helpers: assert the plan SHAPE we designed for, so a
refactor that silently drops a pushdown, broadcast, or partial aggregate
fails a test instead of a 100 TB run.

SURVEY §4: the engine needs no custom Catalyst rules — these checks pin the
built-in behaviors (predicate pushdown, column pruning, broadcast joins,
partial/final aggregation) the operators rely on.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count(df: DataFrame, pattern: str) -> int:
    return len(re.findall(pattern, executed_plan(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return count(df, r"BroadcastHashJoin|BroadcastNestedLoopJoin") > 0


def has_sort_merge_join(df: DataFrame) -> bool:
    return count(df, r"SortMergeJoin") > 0


def pushed_filters(df: DataFrame) -> list[str]:
    """Every non-empty PushedFilters list across the plan's parquet scans."""
    return [
        m
        for m in re.findall(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))
        if m.strip()
    ]


def scan_columns(df: DataFrame) -> list[set[str]]:
    """Output column sets per parquet scan — column pruning made assertable.
    Parsed from the FileScan bracket list (ReadSchema is truncated in
    executedPlan().toString())."""
    out = []
    for m in re.findall(r"FileScan parquet[^\[]*\[([^\]]*)\]", executed_plan(df)):
        out.append({re.sub(r"#\d+L?", "", c).strip() for c in m.split(",") if c.strip()})
    return out


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present: a partial_ function in a HashAggregate, or
    a key-only HashAggregate (a distinct / dropDuplicates, which has no
    functions to name) directly below the exchange of its final aggregate."""
    plan = executed_plan(df)
    return "partial_" in plan or bool(
        re.search(r"Exchange hashpartitioning[^\n]*\n[\s:|+-]*HashAggregate\(keys=", plan)
    )


def num_exchanges(df: DataFrame) -> int:
    return count(df, r"\bExchange\b")


def scan_runtime_metrics(df: DataFrame, column_token: str) -> list[dict]:
    """Runtime metrics (partitions/files/rows read) of every file scan whose
    projected column list contains ``column_token``, walked off THIS
    DataFrame's executed QueryExecution.

    Two contracts callers must hold (BASELINE §r12 correction): the df must
    have been executed via ``collect()`` — ``count()`` plans a SEPARATE agg
    query, leaving this plan's metrics at zero — and the plan-string
    ``dynamicpruning`` check alone is NOT evidence of runtime pruning;
    these metrics are. Returns [] when the walk cannot reach the metrics
    (plan-shape drift) — treat as no evidence, never as a pass.

    The seen-set is keyed on JVM object IDENTITY (System.identityHashCode),
    not Catalyst structural hashCode: two distinct-but-structurally-equal
    scans (not deduped by ReuseExchange) must BOTH report metrics, or an
    unpruned second scan silently passes a `all(<=N)` gate. Identity keying
    still guards the walk against the reused-exchange DAG (a ReusedExchange
    points at the SAME child object)."""
    found: list[dict] = []
    seen: set[int] = set()
    identity_hash = df.sparkSession._jvm.java.lang.System.identityHashCode

    def walk(node) -> None:
        try:
            oid = identity_hash(node)
            if oid in seen:
                return
            seen.add(oid)
            cls = node.getClass().getSimpleName()
        except Exception:
            return
        if "FileSourceScan" in cls or "BatchScan" in cls:
            try:
                if column_token in node.toString():
                    m = node.metrics()
                    row: dict = {}
                    for key in ("numPartitions", "numFiles", "numOutputRows"):
                        if m.contains(key):
                            row[key] = int(m.apply(key).value())
                    found.append(row)
            except Exception:
                pass
            return
        if "AdaptiveSparkPlan" in cls:
            try:
                walk(node.executedPlan())
            except Exception:
                pass
        elif "QueryStage" in cls:
            try:
                walk(node.plan())
            except Exception:
                pass
        try:
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))
        except Exception:
            pass
        try:
            sq = node.subqueries()
            for i in range(sq.size()):
                walk(sq.apply(i))
        except Exception:
            pass

    try:
        walk(df._jdf.queryExecution().executedPlan())
    except Exception:
        return []
    return found
