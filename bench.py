#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Headline set = one representative per operator family (SURVEY.md §2):
relational agg/join, window top-k, exact KNN (blocked numpy kernel), IVFFlat
search, LSH forest search, MinHash near-dup, SimHash near-dup, text analysis,
embedding near-dup. Each timed to full materialization (count, not collect —
we measure engine throughput, not driver transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q_top_customers_per_nation",
    "knn_exact_euclidean",
    "knn_blocked_euclidean",
    "knn_pq_euclidean",
    "knn_binary_rerank",
    "ivf_search_p4",
    "ivf_build_ref",
    "lsh_search_forest",
    "hnsw_search",
    "stream_events_hourly",
    "minhash_neardup",
    "simhash_neardup",
    "neardup_components",
    "doc_quality",
    "doc_bigram_topk",
    "emb_neardup_pairs",
    # round-2 flagship additions (hard-oracle iterative ops)
    "ivf_build_fixed",
    "knn_pq_fixed",
    "bpe_train_merges",
    # round-4 additions: graph analytics over the dup graph (full oracle)
    # and the Z-order-clustered store range scan (layout-certifying oracle)
    "neardup_triangles",
    "evt_zorder_range_scan",
    # round-5 additions: lexical retrieval, exact pruned radius search,
    # star-contraction components, multi-probe LSH, dup-graph k-core
    "doc_bm25_topk",
    "ivf_range_search",
    "neardup_components_star",
    "lsh_search_multiprobe",
    "neardup_kcore",
    # round-6 additions: exact DBSCAN (range search + star CC composition),
    # log-free PMI collocations, the rewritten HLL sketch (shingle_hashes —
    # the 243→3 s x10 fix deserves a tracked line at sf0.1)
    "emb_dbscan_clusters",
    "doc_collocation_pmi",
    "doc_hll_distinct",
    # round-8 addition: the distributed global-rank primitive
    # (global_row_number + arithmetic ntile) is shared hot-path code for
    # RFM/deciles/budgeted curation — a headline line surfaces regressions
    # in BENCH diffs instead of only the x10 probe
    "evt_rfm_segments",
    # round-9 additions: the image/audio near-dup modalities (fixed
    # payload samples by design — corpus-size-independent decode +
    # fingerprint + banded Hamming join)
    "mm_image_phash_neardup",
    "mm_audio_fp_neardup",
    "mm_video_phash_neardup",
    # round-14 addition: the saved-store serving path (save → load →
    # multiprobe over the (tree_id,_pp)-partitioned leaf store with the
    # persisted plane pack) — the DPP path the r13 runtime-metric fixes
    # repaired, now under the per-line minima ratchet (VERDICT r13 #2)
    "lsh_saved_multiprobe",
]


def _spin_ms(n: int = 2_000_000) -> float:
    """Fixed single-thread integer spin, wall-clock ms. On an uncontended
    host this is constant run-to-run; host CPU steal inflates it in direct
    proportion — sampled around every timed query so a contended window is
    visible in the recorded JSON instead of masquerading as a regression
    (BASELINE.md documents the rotating-spike steal signature)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return round((time.perf_counter() - t0) * 1000, 1)


def _clear_state(spark) -> None:
    """Drop cached DFs + checkpointed index RDDs between queries so one
    query's working set doesn't squeeze the next one's shuffles (each
    headline query is timed cold, including its own index build). The
    memoized index objects must go too: their DataFrames sit on the
    checkpointed RDDs being unpersisted here, and a rebuild is exactly what
    cold timing means."""
    from vers_spark.operators import _qcache

    _qcache.clear()  # every memoized build: indexes, codebooks, stores, staged dirs
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)
    except Exception:
        pass


# Lines whose kernel deliberately changed BEFORE per-line fingerprint
# stamps existed (r10's distinct-first restructure traded 1.1-1.5 s floors
# for the mega-cluster guarantee; r11's n_hint bypass changed them again).
# Their un-stamped legacy floors are STALE BY DECLARATION (VERDICT r10
# What's-wrong #1): samples without a matching fingerprint are ignored for
# these lines, so the artifact's minima never claim a wall the shipped
# code no longer targets. Stamped samples (r11+) reset themselves — a
# kernel change flips the fingerprint and orphans the old floor — so this
# ledger only ever covers the pre-stamp era and never grows.
LEGACY_FLOOR_RESET = {
    "mm_image_phash_neardup",
    "mm_audio_fp_neardup",
    "mm_video_phash_neardup",
}


def _module_code_sha(path: str, _cache: dict = {}) -> str:
    """sha1 of the module's docstring-stripped AST dump: comment and
    docstring edits don't move it, any executable-code edit does — the
    granularity a 'kernel deliberately changed' floor reset wants."""
    import ast
    import hashlib

    if path in _cache:
        return _cache[path]
    try:
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if (
                isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
        sha = hashlib.sha1(ast.dump(tree).encode()).hexdigest()[:12]
    except Exception:
        sha = "unparsed"
    _cache[path] = sha
    return sha


def _vers_import_closure(module_name: str) -> list[str]:
    """Transitive vers_spark-internal import closure of a module (file
    paths, sorted): the code that can change a query's plan or kernels.
    Imports inside function bodies count — the hot kernels are imported
    lazily at most call sites."""
    import ast

    here = os.path.dirname(os.path.abspath(__file__))

    def mod_path(mod: str) -> str | None:
        p = os.path.join(here, *mod.split(".")) + ".py"
        if os.path.isfile(p):
            return p
        p = os.path.join(here, *mod.split("."), "__init__.py")
        return p if os.path.isfile(p) else None

    seen: set[str] = set()
    stack = [module_name]
    paths: list[str] = []
    while stack:
        mod = stack.pop()
        if mod in seen or not mod.startswith("vers_spark"):
            continue
        seen.add(mod)
        p = mod_path(mod)
        if p is None:
            continue
        paths.append(p)
        try:
            tree = ast.parse(open(p).read())
        except Exception:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                stack.extend(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module:
                stack.append(node.module)
                # `from vers_spark.operators import media_codecs` names the
                # submodule in the alias, not the module field
                stack.extend(f"{node.module}.{a.name}" for a in node.names)
    return sorted(paths)


def _line_fps(qmap: dict, names: list[str]) -> dict[str, str]:
    """Per-line code fingerprint: sha1 over the module-code shas of the
    query's defining module plus its transitive vers_spark import closure.
    A deliberate kernel change flips the line's fingerprint, which RESETS
    its cross-round floor (_minima ignores samples stamped differently) —
    the r10 verdict's minima-map fix. Comment/docstring edits don't flip
    it; a change in a shared kernel module (functions/vector.py) flips
    every line that can execute it, which is exactly when those floors
    stop being attested."""
    import hashlib

    out: dict[str, str] = {}
    closures: dict[str, list[str]] = {}
    for name in names:
        fn = qmap.get(name)
        fn = getattr(fn, "__wrapped__", fn)
        mod = getattr(fn, "__module__", None) or "vers_spark"
        if mod not in closures:
            closures[mod] = _vers_import_closure(mod)
        shas = [_module_code_sha(p) for p in closures[mod]]
        out[name] = hashlib.sha1("|".join(shas).encode()).hexdigest()[:12]
    return out


def _floor_sources() -> list[tuple[dict, dict | None]]:
    """(queries-or-minima map, fingerprint map or None) per recorded
    sample: prior ``BENCH_r*.json`` (their ``queries``, their own
    ``minima`` + ``minima_fp``) and the local samples journal. None marks
    a pre-stamp legacy sample."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    sources: list[tuple[dict, dict | None]] = []
    for f in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            with open(f) as fh:
                d = json.load(fh)
            # the driver wraps bench stdout under "parsed"
            for node in (d, d.get("parsed") or {}):
                fp = node.get("minima_fp")
                sources.append((node.get("queries") or {}, fp))
                sources.append((node.get("minima") or {}, fp))
        except Exception:
            continue
    try:
        with open(os.path.join(here, ".bench_samples.jsonl")) as fh:
            for line in fh:
                try:
                    d = json.loads(line)
                    sources.append((d.get("queries") or {}, d.get("fp")))
                except Exception:
                    continue
    except OSError:
        pass
    return sources


def _minima(
    current: dict[str, float],
    fps: dict[str, str],
    sources: list[tuple[dict, dict | None]] | None = None,
) -> dict[str, float]:
    """Per-line best across every recorded sample WHOSE CODE PATH MATCHES
    the current one. Makes the bench artifact self-contained (the driver
    may overwrite BENCH_rN.json with a contended re-run; per-line minima
    are the established regression-read methodology, BASELINE.md) without
    the r10 trap: a floor recorded for a kernel the repo no longer ships
    is not a floor. Merge rule per line k: a sample's value counts iff
    its stamp equals the current fingerprint, or the sample is pre-stamp
    legacy AND k is not in LEGACY_FLOOR_RESET. Keys are restricted to the
    current headline set. (tests/test_bench_minima.py pins the reset.)"""
    if sources is None:
        sources = _floor_sources()
    minima = dict(current)
    for qmap, fp in sources:
        for k, v in qmap.items():
            if k not in minima or not isinstance(v, (int, float)):
                continue
            if fp is None:
                if k in LEGACY_FLOOR_RESET:
                    continue  # stale-by-declaration legacy floor
            elif fp.get(k) != fps.get(k):
                continue  # stamped for a different kernel
            if v < minima[k]:
                minima[k] = v
    return minima


def _journal_sample(
    timings: dict[str, float],
    spin: dict[str, float],
    fps: dict[str, str],
    spin_base: float = 0.0,
) -> None:
    """Append this run's per-line timings (stamped with their code
    fingerprints) to the samples journal so manual runs between driver
    rounds also feed the minima floor. ``spin_base`` (ms) records the run's
    absolute single-thread speed: per-line contention ratios are relative
    to it, so without it two samples from differently-loaded hosts are not
    comparable even at ratio 1.0 (r14 lesson — the round-13→14 host ran
    2-5× slower and the journal couldn't show it)."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, ".bench_samples.jsonl"), "a") as fh:
            fh.write(
                json.dumps(
                    {
                        "ts": round(time.time()),
                        "spin_base_ms": spin_base,
                        "queries": timings,
                        "contention": spin,
                        "fp": fps,
                    }
                )
                + "\n"
            )
    except OSError:
        pass


def main() -> None:
    from __spark_entry__ import queries
    from vers_spark.session import get_spark

    spark = get_spark(app_name="vers_spark_bench", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # session warmup: JVM JIT, codegen, parquet footer cache — not any query's
    # cost, and none of the headline queries' index builds are pre-run
    from vers_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).count()
    qmap = queries()

    # JIT warmup at the smallest SF: each headline query's whole-stage-codegen
    # classes are huge (see session._JIT_FLAGS) and HotSpot compiles them on
    # first use — without this pass, several seconds of C2 compile time land
    # inside whichever timed query runs first with a given plan shape, making
    # numbers swing 2x run-to-run. Same plan shape → same generated classes →
    # the timed run executes compiled code. Data/index state stays cold: the
    # warmup runs on different (tiny) inputs and all caches/checkpoints are
    # dropped before timing.
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }
    headline = [n for n in HEADLINE if n in only] if only else HEADLINE

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(SF_DIR):
        t0 = time.perf_counter()
        for name in headline:
            try:
                qmap[name](spark, warm_dir).count()
            except Exception as exc:  # a warmup failure must never kill bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
            _clear_state(spark)
        print(f"# warmup pass: {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # (SPARK_GRAFT_BENCH_ONLY: iteration aid — times a subset with the full
    # bench methodology. Unset for driver runs; the artifact is the full set.)
    spin_base = min(_spin_ms() for _ in range(3))
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    spin: dict[str, float] = {}
    for name in headline:
        fn = qmap[name]
        # best-of-2, state cleared between attempts: each attempt is a full
        # cold run (index builds included); the min removes scheduler/GC
        # noise without changing what is measured. When the contention probe
        # reads >1.3 around any attempt (host stealing cycles — the probe is
        # single-threaded, so a 1.3-1.5 reading routinely means 2-3x on a
        # 32-thread query; measured 2026-08-14: minhash 6.5s at 1.3 vs 22s
        # at 1.45), extra attempts run — up to 4 — so no headline line is
        # judged on a stolen window if an uncontended one can be had.
        best = None
        probes = [_spin_ms()]
        attempts = 0
        while attempts < 4:
            t0 = time.perf_counter()
            rows[name] = fn(spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            best = dt if best is None else min(best, dt)
            _clear_state(spark)
            probes.append(_spin_ms())
            attempts += 1
            contended = spin_base and max(probes) / spin_base > 1.3
            if attempts >= 2 and not contended:
                break
            if attempts >= 2 and contended:
                probes = probes[-1:]  # judge the retry on its own window
        timings[name] = best
        # contention factor for the BEST attempt's era: >1.3 means even the
        # kept attempt ran in a stolen window — discount its wall time
        spin[name] = round(max(probes) / spin_base, 2) if spin_base else 1.0
        print(f"# {name}: {timings[name]}s ({rows[name]} rows, spin x{spin[name]})", file=sys.stderr)
    # Warm-serving evidence, OUTSIDE the headline total (the headline lines
    # stay cold/comparable): with codebooks trained and the code store
    # persisted, one more knn_pq_fixed pass measures the per-batch serving
    # marginal — the number a deployed train-once/serve-many system pays.
    extra: dict[str, float] = {}
    try:
        qmap["knn_pq_fixed"](spark, SF_DIR).count()  # warm codebooks + store
        t0 = time.perf_counter()
        qmap["knn_pq_fixed"](spark, SF_DIR).count()
        extra["knn_pq_serve_warm"] = round(time.perf_counter() - t0, 3)
        print(f"# knn_pq_serve_warm: {extra['knn_pq_serve_warm']}s", file=sys.stderr)
    except Exception as exc:  # evidence line must never kill bench
        print(f"# warm pq serving probe failed: {exc}", file=sys.stderr)
    _clear_state(spark)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    fps = _line_fps(qmap, headline)
    _journal_sample(timings, spin, fps, spin_base)
    minima = _minima(timings, fps)
    # Field ORDER is load-bearing (VERDICT r9 minor): the driver's artifact
    # keeps only the last ~2,000 chars of stdout, i.e. the TAIL of this line.
    # Big per-line maps go first; the self-contained summary (minima +
    # totals + metric) goes LAST so any tail truncation still carries the
    # per-line floors and both totals. A SPARK_GRAFT_BENCH_ONLY subset run
    # is marked ("only" + its own metric name, ADVICE r10) so it can never
    # masquerade as a full-headline artifact.
    out = {
        "queries": timings,
        "spin_base_ms": spin_base,
        "contention": spin,
        "extra": extra,
        "minima_fp": fps,
        "minima": minima,
        "minima_total": round(sum(minima.values()), 3),
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if only:
        out["only"] = sorted(only)  # before metric: survives tail truncation
    out["metric"] = "headline_subset_wall" if only else "headline_total_wall"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
