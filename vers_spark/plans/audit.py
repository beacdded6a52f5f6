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


# SparkPlanGraph metric names → the SQLMetric keys scan_runtime_metrics reports
_SCAN_METRIC_KEYS = {
    "number of partitions read": "numPartitions",
    "number of files read": "numFiles",
    "number of output rows": "numOutputRows",
}


def _sql_status(spark):
    """The session's SQL status store, after the listener bus has posted
    every pending event (it is asynchronous: an execution that just ended
    may not be recorded yet). Works with the UI disabled."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _latest_execution_id(store) -> int:
    """The highest recorded execution id (the store lists executions in id
    order), or -1 when none is recorded."""
    total = store.executionsCount()
    return store.executionsList(total - 1, 1).apply(0).executionId() if total else -1


def execution_mark(spark) -> int:
    """A mark for :func:`executions_since`: the id the next SQL execution
    of this session will get (or a lower one)."""
    return _latest_execution_id(_sql_status(spark)) + 1


def executions_since(spark, mark: int) -> list[dict]:
    """The SQL executions started since ``mark`` (:func:`execution_mark`),
    oldest first — what a call ran, even when the frame it returned is a
    local relation whose own plan shows none of it.

    Each is a dict: ``id``, ``description`` (the job description when the
    execution started), ``plan`` (the physical plan as Spark records it,
    the final adaptive plan once AQE re-planned) and ``nodes``: per
    physical operator its ``name``, ``desc`` (the one-line plan string, for
    a file scan its ``PartitionFilters``) and ``metrics`` (display name →
    value string, as the SQL UI would show them)."""
    store = _sql_status(spark)
    out = []
    for eid in range(mark, _latest_execution_id(store) + 1):
        recorded = store.execution(eid)
        if recorded.isEmpty():  # another session's id, or evicted
            continue
        ex = recorded.get()
        values = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        graph = store.planGraph(eid).allNodes()
        nodes = []
        for i in range(graph.size()):
            node = graph.apply(i)
            ms = node.metrics()
            metrics = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.accumulatorId() in values:
                    metrics[m.name()] = values[m.accumulatorId()]
            nodes.append({"name": node.name(), "desc": node.desc(), "metrics": metrics})
        out.append(
            {
                "id": eid,
                "description": ex.description(),
                "plan": ex.physicalPlanDescription(),
                "nodes": nodes,
            }
        )
    return out


def executed_scan_metrics(executions: list[dict], column_token: str) -> list[dict]:
    """:func:`scan_runtime_metrics` over recorded executions
    (:func:`executions_since`): per file scan whose plan string contains
    ``column_token``, its ``numPartitions`` / ``numFiles`` /
    ``numOutputRows``, where recorded, and ``partitionFilters``, the text
    inside the scan's ``PartitionFilters: [...]`` ("" when it has none)."""
    found = []
    for ex in executions:
        for node in ex["nodes"]:
            desc = node["desc"]
            if not desc.startswith(("FileScan", "BatchScan")) or column_token not in desc:
                continue
            row = {
                key: int(node["metrics"][name].replace(",", ""))
                for name, key in _SCAN_METRIC_KEYS.items()
                if name in node["metrics"]
            }
            filters = re.search(r"PartitionFilters: \[([^\]]*)\]", desc)
            row["partitionFilters"] = filters.group(1) if filters else ""
            found.append(row)
    return found
