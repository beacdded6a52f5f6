"""Workload definitions: seeded inputs, the calls each workload makes, and the
oracle checks on every answer. See README.md in this directory for the metric
table and for which per-layer counter should move which end-to-end metric.

ann-serve
    Why: a vector store's life cycle on a small clustered corpus, through
    ``vers_spark.api``. Set-up builds an IVFFlat, an LSH forest and an HNSW
    index, inserts a batch into IVFFlat and LSH, and saves and loads all
    three. Then one client runs a closed loop of 8-query k=10 batches,
    rotating over the three loaded indexes and ``exact_knn_blocked``; half of
    each batch are inserted vectors, which IVFFlat and LSH must return as
    their own nearest neighbour. A batch costs seconds whatever the corpus
    size, so Spark job count and driver work set its latency and CPU cost:
    cutting jobs per call shows here, faster kernels barely do. Builds,
    inserts, saves and one warm-up rotation are charged to ``setup_s``, so
    work moved from serving into the build shows too.

dedup
    Why: the LLM-data near-duplicate pipeline over a seeded corpus shaped
    like the measured documents table, with planted edit chains: MinHash
    pairs, star connected components, survivor selection, SimHash pairs, all
    with default parameters; a first pass over a fifth of the documents
    compiles the plans and is charged to ``setup_s``. It is bound by string
    hashing and shuffles in ``operators.text_dedup`` and ``functions.text``,
    which ann-serve never touches; an ANN change should leave it unchanged,
    and the reverse. With its default ``driver_cap`` and a pair graph of a
    few thousand edges, ``connected_components_star`` takes its driver-side
    union-find path, so that path is what ``graph.connected_components_star``
    measures here; the distributed large-star/small-star rounds do not run.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import measure
import oracles
import spans

K = 10
BATCH = 8
DIM = 64
ANN_CORPUS = 1000
ANN_CENTERS = 32
N_QUERIES = 256
N_INSERT = 32
INSERT_BASE = 1_000_000
QUERY_BASE = 2_000_000
# Serve ops run in whole rotations over the four kinds: one warm-up rotation,
# then at least this many measured ops, for at least --seconds.
MIN_SERVE_OPS = 12
ROTATION = ("ivfflat", "lsh", "hnsw", "exact")

# Reference harness configurations (the vers main.rs settings).
INDEX_PARAMS = {
    "ivfflat": dict(num_clusters=20, num_attempts=3, max_iterations=10),
    "lsh": dict(num_trees=8, max_node_size=100),
    "hnsw": dict(
        m=24, num_layers=12, ef_construction=100, ef_search=32, num_shards=8, metric="cosine"
    ),
}
GROWN = ("ivfflat", "lsh")  # indexes that take an insert batch before saving
SEARCH_PARAMS = {"ivfflat": {"n_probes": 4}, "lsh": {}, "hnsw": {"n_probe_shards": 8}}

# The dedup corpus follows the measured shape of the documents table the
# program's relational tests use (sf0.1, 5000 docs; see README.md): 10-99
# tokens per document drawn uniformly from 30 words of equal frequency, and
# one document in twenty a copy of an earlier one with the token "dup"
# appended. With so few words most SimHashes lie within 3 bits of many others
# (129k pairs in that table), so the SimHash self-join is a real shuffle.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_TOKENS = (10, 99)
COPY_SHARE = 0.05
N_DOCS = 5000
N_CHAINS = 500
DUP_THRESHOLD = 0.8
WARMUP_SHARE = 5  # the dedup warm-up pass sees one document in this many
MIN_DEDUP_PASSES = 2  # measured passes, and more while --seconds lasts

# The 20 calls the traced run reports, six counters each.
TRACED_CALLS = [
    "session.get_spark",
    *[f"ivfflat.{c}" for c in ("build", "save", "load", "search", "add")],
    *[f"lsh.{c}" for c in ("build", "save", "load", "search", "add")],
    *[f"hnsw.{c}" for c in ("build", "save", "load", "search")],
    "knn.exact_knn_blocked",
    "text_dedup.minhash_neardup_pairs",
    "text_dedup.simhash_neardup_pairs",
    "graph.connected_components_star",
    "graph.dedup_survivors",
]


@dataclass
class Run:
    """State of one benchmark run: where it writes, its tracer, its checks."""

    work: str
    tracer: object
    start: measure.Stopwatch  # started with the process; set-up counts from it
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    def op(self, what: str, fn):
        """Run one checked operation; an exception counts as a failed op."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the loop must go on and report it
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {what} raised", file=sys.stderr)
            traceback.print_exc()
            return None


# ------------------------------------------------------------------ inputs


def _write_vectors(path: str, ids: np.ndarray, X: np.ndarray) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(X), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def make_ann_inputs(seed: int, out: str) -> dict:
    """Clustered float32 corpus, held-out queries and a batch to insert,
    drawn from one mixture of Gaussians."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.normal(0.0, 2.0, (ANN_CENTERS, DIM))

    def draw(n: int) -> np.ndarray:
        pick = rng.integers(0, ANN_CENTERS, n)
        return (centers[pick] + rng.normal(0.0, 1.0, (n, DIM))).astype(np.float32)

    data = {
        "corpus": (np.arange(ANN_CORPUS, dtype=np.int64), draw(ANN_CORPUS)),
        "queries": (QUERY_BASE + np.arange(N_QUERIES, dtype=np.int64), draw(N_QUERIES)),
        "inserts": (INSERT_BASE + np.arange(N_INSERT, dtype=np.int64), draw(N_INSERT)),
    }
    os.makedirs(out, exist_ok=True)
    for name, (ids, X) in data.items():
        _write_vectors(os.path.join(out, f"{name}.parquet"), ids, X)
    return data


def make_dedup_inputs(seed: int, out: str) -> dict:
    """A table shaped like the measured documents table (``WORDS``,
    ``DOC_TOKENS``, ``COPY_SHARE``) plus planted chains of near-duplicates:
    each chain member is the previous one with one or two single-word edits
    at random positions. Document ids are a seeded permutation, so
    duplicates are not adjacent."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts: list[list[str]] = []
    for i in range(N_DOCS):
        if i and rng.random() < COPY_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + ["dup"])
        else:
            n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
            texts.append(list(words[rng.integers(0, len(words), n)]))
    chains = []
    for base in rng.choice(N_DOCS, N_CHAINS, replace=False):
        members, cur = [int(base)], list(texts[base])
        for _ in range(int(rng.integers(2, 5))):
            cur = list(cur)
            for _ in range(int(rng.integers(1, 3))):
                at = int(rng.integers(0, len(cur)))
                edit = int(rng.integers(0, 3))
                if edit == 0:
                    cur[at] = words[rng.integers(0, len(words))]
                elif edit == 1:
                    cur.insert(at, words[rng.integers(0, len(words))])
                elif len(cur) > DOC_TOKENS[0]:
                    del cur[at]
            members.append(len(texts))
            texts.append(cur)
        chains.append(members)
    doc_ids = rng.permutation(len(texts)).astype(np.int64)
    strings = [" ".join(t) for t in texts]
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": strings}),
        os.path.join(out, "docs.parquet"),
    )
    return {
        "doc_ids": doc_ids,
        "texts": strings,
        "chains": [[int(doc_ids[m]) for m in c] for c in chains],
    }


# ----------------------------------------------------------------- session


def start_session(run: Run):
    """A session from the program's ``get_spark``, sized to the host, with every
    scratch directory inside the run's work directory. The program's default
    local dir (``/dev/shm/spark-local``) lies outside the checkout the
    benchmark may write to, so shuffle and spill files go to the work
    directory's file system instead."""
    from vers_spark.session import _JIT_FLAGS, get_spark

    tmp = os.path.join(run.work, "tmp")
    with run.tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            cpus=os.environ["SPARK_GRAFT_CPUS"],
            extra_conf={
                "spark.local.dir": os.path.join(run.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
                # the program's JIT flags; -XX:-UsePerfData only stops the JVM
                # writing /tmp/hsperfdata_<user>, which ignores java.io.tmpdir
                "spark.driver.extraJavaOptions": f"{_JIT_FLAGS} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    run.info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return spark


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# --------------------------------------------------------------- ann-serve


def ann_serve(run: Run, seed: int, seconds: float):
    from pyspark.sql import functions as F

    from vers_spark import api
    from vers_spark.operators.knn import exact_knn_blocked

    span = run.tracer.span
    data = make_ann_inputs(seed, os.path.join(run.work, "inputs"))
    # ground truth for every query, in each index's own metric: the grown
    # indexes hold the inserted vectors too
    c_ids, C = data["corpus"]
    h_ids, H = data["queries"]
    i_ids, I = data["inserts"]
    q_pos = {int(q): j for j, q in enumerate(np.concatenate([h_ids, i_ids]))}
    Q = np.concatenate([H, I])
    grown_ids, grown = np.concatenate([c_ids, i_ids]), np.concatenate([C, I])
    truth = {
        "ivfflat": (grown_ids, oracles.distances(Q, grown, "sq_euclidean")),
        "lsh": (grown_ids, oracles.distances(Q, grown, "sq_euclidean")),
        "hnsw": (c_ids, oracles.distances(Q, C, "cosine")),
        "exact": (c_ids, oracles.distances(Q, C, "sq_euclidean")),
    }

    spark = start_session(run)
    corpus, inserts, queries = (
        spark.read.parquet(os.path.join(run.work, "inputs", f"{name}.parquet"))
        for name in ("corpus", "inserts", "queries")
    )

    phase: dict[str, float] = {}
    stored: dict[str, float] = {}  # bytes on disk per byte of raw vectors
    idx = {}
    for kind in INDEX_PARAMS:
        path = os.path.join(run.work, kind)
        t0 = time.perf_counter()
        with span(f"{kind}.build"):
            built = api.build_index(kind, corpus, **INDEX_PARAMS[kind])
        if kind in GROWN:
            with span(f"{kind}.add"):
                built = api.add(built, inserts)
        with span(f"{kind}.save"):
            api.save_index(built, path)
        with span(f"{kind}.load"):
            idx[kind] = api.load_index(spark, path)
        phase[kind] = time.perf_counter() - t0
        stored[kind] = _du(path) / (ANN_CORPUS * DIM * 4)

    setup = list(run.start.read())  # wall, net, cpu seconds
    # per batch kind, (wall, net, cpu) milliseconds of each batch
    ops: dict[str, list[tuple]] = {k: [] for k in ROTATION}
    recalls = []
    i, t_start = 0, time.perf_counter()
    while i < len(ROTATION) + MIN_SERVE_OPS or i % len(ROTATION) or time.perf_counter() - t_start < seconds:
        if i == len(ROTATION):
            # the first rotation warms each plan shape up and counts as set-up
            for j in range(3):
                setup[j] += sum(v[0][j] for v in ops.values()) / 1000
            ops = {k: [] for k in ROTATION}
            t_start = time.perf_counter()
        # half held-out queries, half inserted vectors, which the grown
        # indexes must return as their own rank-1 neighbour at distance 0
        kind = ROTATION[i % len(ROTATION)]
        h_lo = (i * BATCH // 2) % N_QUERIES
        # fresh inserted vectors each rotation, so whether a batch takes
        # LSH's backup-fill path (a query whose leaf holds fewer than k
        # vectors) varies from batch to batch, not only from seed to seed
        i_lo = (i // len(ROTATION) * BATCH // 2) % N_INSERT
        batch_ids = np.concatenate([h_ids[h_lo : h_lo + BATCH // 2], i_ids[i_lo : i_lo + BATCH // 2]])
        batch = queries.filter(F.col("vec_id").between(int(batch_ids[0]), int(batch_ids[BATCH // 2 - 1])))
        batch = batch.unionByName(
            inserts.filter(F.col("vec_id").between(int(batch_ids[BATCH // 2]), int(batch_ids[-1])))
        )

        # the warm-up rotation is set-up and stays out of the trace
        trace = span if i >= len(ROTATION) else spans.NullTracer().span

        def serve():
            if kind == "exact":
                with trace("knn.exact_knn_blocked"):
                    return exact_knn_blocked(batch, corpus, K).collect()
            with trace(f"{kind}.search"):
                return api.search_approximate(idx[kind], batch, K, **SEARCH_PARAMS[kind]).collect()

        clock = measure.Stopwatch()
        rows = run.op(f"{kind} batch {i}", serve)
        ops[kind].append(tuple(x * 1000 for x in clock.read()))
        i += 1
        if rows is None:
            continue
        ids, D = truth[kind]
        D = D[[q_pos[int(q)] for q in batch_ids]]
        exact = oracles.topk_ids(D, ids, K) if kind == "exact" else None
        ok, rec = oracles.check_result(rows, batch_ids, D, ids, K, exact)
        if kind in GROWN:
            first = {int(r[0]): (int(r[1]), float(r[2])) for r in rows if int(r[3]) == 1}
            ok = ok and all(
                first.get(int(q), (None, 0.0))[0] == int(q) and abs(first[int(q)][1]) <= 1e-6
                for q in batch_ids[BATCH // 2 :]
            )
        run.check(f"{kind} batch {i - 1}", ok)
        if kind != "exact":
            recalls.append(rec)

    run.metrics["setup_s"] = setup[1]
    run.info.update(setup_wall_s=setup[0], setup_cpu_s=setup[2])
    lat_ms = {k: [o[0] for o in v] for k, v in ops.items()}
    net_ms = {k: [o[1] for o in v] for k, v in ops.items()}
    cpu_ms = {k: [o[2] for o in v] for k, v in ops.items()}
    all_ms = [x for v in lat_ms.values() for x in v]
    # per kind the cheapest batch, then the mean over the four kinds: whether
    # two of a run's three LSH batches take the backup-fill path or one does
    # is a coin toss, and the cheapest batch is also the one least slowed by
    # other tenants
    run.metrics["cpu_ms_per_item"] = statistics.mean(min(v) for v in cpu_ms.values()) / BATCH
    run.metrics["net_wall_ms_per_item"] = statistics.mean(min(v) for v in net_ms.values()) / BATCH
    run.metrics["recall"] = float(np.mean(recalls)) if recalls else 0.0
    tail = measure.tail_percentile(all_ms)
    run.info.update(
        ops=len(all_ms),
        op_ms=lat_ms,
        op_net_ms=net_ms,
        op_cpu_ms=cpu_ms,
        op_ms_p50=statistics.median(all_ms),
        op_ms_tail={"percentile": f"p{tail[0]}", "value": tail[1]} if tail else None,
        op_ms_p50_by_kind={k: statistics.median(v) for k, v in lat_ms.items() if v},
        build_save_load_s=phase,
        index_bytes_ratio=stored,
    )
    return spark


# ------------------------------------------------------------------- dedup


def dedup(run: Run, seed: int, seconds: float):
    from pyspark.sql import functions as F

    from vers_spark.operators import graph as G
    from vers_spark.operators import text_dedup as TD

    span = run.tracer.span
    data = make_dedup_inputs(seed, os.path.join(run.work, "inputs"))
    spark = start_session(run)
    docs = spark.read.parquet(os.path.join(run.work, "inputs", "docs.parquet"))

    setup = list(run.start.read())  # wall, net, cpu seconds

    doc_ids, texts = data["doc_ids"], data["texts"]
    sh = {int(d): oracles.shingles(t) for d, t in zip(doc_ids, texts)}
    planted = {
        (min(a, b), max(a, b))
        for chain in data["chains"]
        for x, a in enumerate(chain)
        for b in chain[x + 1 :]
        if oracles.jaccard(sh[a], sh[b]) >= DUP_THRESHOLD
    }
    sim_truth = oracles.simhash_pairs(doc_ids, oracles.simhashes(texts))

    # The first pass, over a fifth of the documents (ids are a permutation),
    # compiles every plan; it is set-up, untraced and unchecked.
    clock = measure.Stopwatch()
    sample = docs.filter(F.col("doc_id") < len(doc_ids) // WARMUP_SHARE)
    pairs = TD.minhash_neardup_pairs(sample, threshold=DUP_THRESHOLD).localCheckpoint(eager=True)
    comps = G.connected_components_star(pairs, src="doc_a", dst="doc_b").localCheckpoint(eager=True)
    G.dedup_survivors(comps).collect()
    TD.simhash_neardup_pairs(sample).collect()
    setup = [a + b for a, b in zip(setup, clock.read())]

    passes, recalls = [], []  # (wall, net, cpu) milliseconds of each pass
    t_start = time.perf_counter()
    while len(passes) < MIN_DEDUP_PASSES or time.perf_counter() - t_start < seconds:
        clock = measure.Stopwatch()
        with span("text_dedup.minhash_neardup_pairs"):
            pairs = run.op(
                "minhash_neardup_pairs",
                lambda: TD.minhash_neardup_pairs(docs, threshold=DUP_THRESHOLD).localCheckpoint(
                    eager=True
                ),
            )
        with span("graph.connected_components_star"):
            comps = run.op(
                "connected_components_star",
                lambda: G.connected_components_star(pairs, src="doc_a", dst="doc_b").localCheckpoint(
                    eager=True
                ),
            )
        with span("graph.dedup_survivors"):
            surv = run.op("dedup_survivors", lambda: G.dedup_survivors(comps).collect())
        with span("text_dedup.simhash_neardup_pairs"):
            simp = run.op("simhash_neardup_pairs", lambda: TD.simhash_neardup_pairs(docs).collect())
        passes.append(tuple(x * 1000 for x in clock.read()))
        if simp is not None:
            run.check(
                "simhash pairs equal the all-pairs Hamming scan",
                {(int(r[0]), int(r[1])): int(r[2]) for r in simp} == sim_truth,
            )
        if pairs is None or comps is None:
            continue

        got = {(int(r[0]), int(r[1])): float(r[2]) for r in pairs.collect()}
        run.check(
            "minhash pairs carry their true Jaccard",
            all(
                a < b and abs(j - oracles.jaccard(sh[a], sh[b])) < 1e-9 and j >= DUP_THRESHOLD
                for (a, b), j in got.items()
            ),
        )
        recalls.append(len(planted & set(got)) / len(planted))
        uf = oracles.union_find(got)
        run.check(
            "components equal union-find over the pairs",
            {int(r[0]): int(r[1]) for r in comps.collect()} == uf,
        )
        if surv is not None:
            size: dict[int, int] = {}
            for root in uf.values():
                size[root] = size.get(root, 0) + 1
            run.check(
                "survivors match the components",
                len(surv) == len(uf)
                and all(
                    uf.get(int(r[0])) == int(r[1])
                    and size[int(r[1])] == int(r[2])
                    and int(r[3]) == int(r[0] == r[1])
                    for r in surv
                ),
            )

    lat_ms, net_ms, cpu_ms = ([p[j] for p in passes] for j in range(3))
    run.metrics["setup_s"] = setup[1]
    run.info.update(setup_wall_s=setup[0], setup_cpu_s=setup[2])
    # the cheapest pass, the one least slowed by other tenants
    run.metrics["cpu_ms_per_item"] = min(cpu_ms) / len(doc_ids)
    run.metrics["net_wall_ms_per_item"] = min(net_ms) / len(doc_ids)
    run.metrics["recall"] = float(np.mean(recalls)) if recalls else 0.0
    run.info.update(
        ops=len(lat_ms),
        op_ms=lat_ms,
        op_net_ms=net_ms,
        op_cpu_ms=cpu_ms,
        op_ms_p50=statistics.median(lat_ms),
        docs=len(doc_ids),
        planted_pairs=len(planted),
        simhash_pairs=len(sim_truth),
    )
    return spark


WORKLOADS = {"ann-serve": ann_serve, "dedup": dedup}
