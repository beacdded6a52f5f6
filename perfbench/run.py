"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ann-serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the per-call
counters of the traced run. The line before it (``{"info": ...}``) records
the host, the seed and details that are not metrics. Everything the run
writes lives under ``perfbench/.work/<pid>`` and is removed at exit.
"""

from __future__ import annotations

import measure

START = measure.Stopwatch()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark driver heap: get_spark's default (48g) assumes a large host.
MAX_HEAP_MB = 1024


def _fit_host(work: str) -> dict:
    """Size the session to this host through the program's own settings and
    keep every temporary file inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(MAX_HEAP_MB, mem_mb // 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return {"nproc": nproc, "driver_heap_mb": heap_mb, "host_mem_mb": mem_mb}


def _stop() -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    # without a gateway (none yet, or a signal during its launch) nothing
    # will end a starting JVM but the kill below
    deadline = time.time()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        deadline += 30
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; expected one of {sorted(workloads.WORKLOADS)}")
    import pyspark  # noqa: F401 - fail before any work if the program cannot run
    import vers_spark  # noqa: F401

    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(work)
    # on SIGTERM still stop the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        host = _fit_host(work)
        host.update(seed=args.seed, pyspark=pyspark.__version__, spin_ms_start=measure.spin_ms())
        tracer = spans.Tracer() if args.trace else spans.NullTracer()
        run = workloads.Run(work=work, tracer=tracer, start=START)
        spark = workloads.WORKLOADS[args.workload](run, args.seed, args.seconds)

        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        pids = [os.getpid()] + ([jvm.pid] if jvm is not None else [])
        run.metrics["peak_rss_mb"] = measure.peak_rss_mb(pids)
        host["spin_ms_end"] = measure.spin_ms()
        wall, net, _ = START.read()
        # share of the CPU time asked for that the hypervisor granted
        host["granted_cpu_share"] = net / wall
        if args.trace:
            harvest_s = tracer.harvest(spark.sparkContext)
            run.info["traced_end_to_end"] = run.metrics
            metrics = spans.per_call_medians(tracer.spans, workloads.TRACED_CALLS)
            metrics["trace.overhead_s"] = tracer.tag_s + harvest_s
            metrics["trace.overhead_ratio"] = metrics["trace.overhead_s"] / sum(
                sp.wall_s for sp in tracer.spans
            )
        else:
            metrics = run.metrics
        declared = _declared()["per_layer" if args.trace else "end_to_end"]
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}
        _stop()
        print(json.dumps({"info": {"workload": args.workload, **host, **run.info}}))
        print(
            json.dumps(
                {
                    "correct": run.failed == 0,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": out,
                }
            )
        )
        return 0
    finally:
        _stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
