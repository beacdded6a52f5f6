"""Per-line fixed-cost profiler: runs headline queries cold (bench
methodology: _clear_state between lines) with the UI enabled and reads the
REST API for job/stage/task counts and per-stage wall time — the §1
"where do the seconds go" read the bench's single wall number can't give.

Usage: python tools/r15_profile.py [query ...]   (default: all headline)
Writes a JSON lines report to stdout; progress to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1:]
    from bench import HEADLINE, _clear_state

    import __spark_entry__ as entry
    from vers_spark.session import get_spark

    spark = get_spark(
        app_name="r15_profile",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4055"},
    )
    qmap = entry.queries()
    if not names:
        names = list(HEADLINE)
    # warmup pass at sf0.001 (bench methodology: JIT/codegen out of the way)
    warm = "/root/testdata/sf0.001"
    for n in names:
        try:
            qmap[n](spark, warm).count()
        except Exception as e:
            print(f"# warmup {n}: {e}", file=sys.stderr)
        _clear_state(spark)

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4055/api/v1/applications/{app_id}"

    for n in names:
        before_jobs = {j["jobId"] for j in _api(base, "/jobs")}
        t0 = time.perf_counter()
        rows = qmap[n](spark, SF_DIR).count()
        wall = round(time.perf_counter() - t0, 3)
        _clear_state(spark)
        jobs = [j for j in _api(base, "/jobs") if j["jobId"] not in before_jobs]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        st = []
        for sid in stage_ids:
            try:
                for att in _api(base, f"/stages/{sid}?details=false"):
                    if att.get("status") == "COMPLETE":
                        st.append(att)
                        break
            except Exception:
                pass
        n_tasks = sum(s["numCompleteTasks"] for s in st)
        stage_wall = 0.0
        details = []
        for s in sorted(st, key=lambda s: s["stageId"]):
            dur = 0.0
            try:
                sub = time.strptime(s["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                comp = time.strptime(s["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                dur = time.mktime(comp) - time.mktime(sub)
                # sub-second precision from the GMT strings' millis
                dur += (
                    int(s["completionTime"][20:23]) - int(s["submissionTime"][20:23])
                ) / 1000.0
            except Exception:
                pass
            stage_wall += max(dur, 0.0)
            details.append(
                {
                    "stage": s["stageId"],
                    "name": s["name"].split(" ")[0],
                    "tasks": s["numCompleteTasks"],
                    "dur_s": round(dur, 2),
                    "shuffle_w": s.get("shuffleWriteBytes", 0),
                    "input": s.get("inputBytes", 0),
                }
            )
        rec = {
            "query": n,
            "wall_s": wall,
            "rows": rows,
            "n_jobs": len(jobs),
            "n_stages": len(st),
            "n_tasks": n_tasks,
            "stage_wall_s": round(stage_wall, 2),
            "gap_s": round(wall - stage_wall, 2),
            "stages": details,
        }
        print(json.dumps(rec), flush=True)
        print(
            f"# {n}: wall {wall}s jobs {len(jobs)} stages {len(st)} "
            f"tasks {n_tasks} stage_wall {stage_wall:.2f}s gap {wall - stage_wall:.2f}s",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
