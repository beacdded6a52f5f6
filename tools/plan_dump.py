"""Dump `.explain("formatted")` for headline queries into plans/<round>/.

Usage: python tools/plan_dump.py <round> <suffix> [query ...]
  round:  directory under plans/ ("r15", "r16", ...)
  suffix: "before" | "after" (writes plans/<round>/<query>_<suffix>.txt)
  With no query args, dumps every bench headline line. The corpus is
  bench.py's ``$SPARK_GRAFT_SF_DIR``.

Each file holds the plan of the RETURNED DataFrame, then every SQL execution
the query function started while building it (``plans.audit.executions_since``).
The IVF, LSH and HNSW serving queries plan their probe set, scan the
candidates and merge the top-k inside the call, so their returned frame is a
``LocalTableScan``; the candidate scan those claims are about is one of the
executions listed after it.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    round_name, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    from bench import HEADLINE, SF_DIR, _clear_state

    import __spark_entry__ as entry
    from vers_spark.plans import audit
    from vers_spark.session import get_spark

    spark = get_spark(app_name=f"{round_name}_plan_dump")
    qmap = entry.queries()
    if not names:
        names = list(HEADLINE)
    outdir = os.path.join(REPO, "plans", round_name)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            mark = audit.execution_mark(spark)
            df = qmap[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            for ex in audit.executions_since(spark, mark):
                plan += f"\n\n== execution {ex['id']}: {ex['description']} ==\n{ex['plan']}"
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)", flush=True)
        _clear_state(spark)


if __name__ == "__main__":
    main()
