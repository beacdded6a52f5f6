"""Reference-scale ANN evidence: the reference's only canonical corpus is
wiki-news-300d-1M (1M x 300 — vers Makefile:1-15, utils.rs:127,
benches/benchmark.rs:9-18). No network access here, so an equivalent-scale
deterministic synthetic corpus stands in: 1,000,000 x 300 float32 with 50
latent clusters (hash-derived centers + uniform noise — partitioning-
independent, regenerates bit-identically).

Runs the reference harness configs:
- IVFFlat build  (main.rs:63-66): k=20, num_attempts=3, max_iterations=10
- IVFFlat search: n_probes=4 of 20
- HNSW build     (main.rs:74-78): layers=12, ef_c=100, ef_s=32, M=24
  (sharded 64-way k-means — per-shard graph build is ~quadratic)
- exact ground truth via the blocked BLAS KNN for 100 held-out queries

Records build wall, batch search wall (and per-query mean), recall@10.
Output: one JSON line + a markdown table fragment for BASELINE.md.

Usage: python tools/ann_scale_run.py [--n 1000000] [--skip-hnsw]
Corpus cached at .scale_data/emb1m_<n>.parquet (gitignored).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIMS = 300
N_CLUSTERS = 50
N_QUERIES = 100


def gen_corpus(spark, n: int, path: str) -> None:
    from pyspark.sql import functions as F

    # hash-derived floats: center[label mod 50] + U(-0.5, 0.5) noise,
    # deterministic per (vec_id, dim) regardless of partitioning
    df = spark.range(0, n + N_QUERIES, 1, 256).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % N_CLUSTERS).cast("int").alias("label"),
    )
    d = F.sequence(F.lit(0), F.lit(DIMS - 1))

    def elem(dim):
        center = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("c"), F.col("label"), dim)), F.lit(4000))
            / 1000.0
            - 2.0
        )
        noise = (
            F.pmod(F.xxhash64(F.concat_ws(":", F.lit("n"), F.col("vec_id"), dim)), F.lit(1000))
            / 1000.0
            - 0.5
        )
        return (center + noise).cast("float")

    df.select(
        "vec_id", "label", F.transform(d, elem).alias("embedding")
    ).write.mode("overwrite").parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--skip-hnsw", action="store_true")
    ap.add_argument("--skip-ivf", action="store_true")
    ap.add_argument("--skip-lsh", action="store_true")
    ap.add_argument("--skip-pq", action="store_true")
    # PQ config: m must divide 300 → m=30 (dsub=10); 256-centroid codebooks
    # make a code 30 bytes vs 1200 B raw f32 = 40x. Residual coding (FAISS
    # by_residual) rides the IVF section's coarse quantizer.
    ap.add_argument("--pq-m", type=int, default=30)
    ap.add_argument("--pq-kbook", type=int, default=256)
    ap.add_argument("--pq-probes", type=int, default=4)
    ap.add_argument("--pq-oversample", type=int, default=5)
    # 128 random shards at 1M: ~7.8k vectors/shard keeps the 32 concurrent
    # applyInPandas workers at ~0.5 GB each (the 64-way K-MEANS sharding OOMed
    # the box: the synthetic corpus has 50 latent clusters, so k-means shards
    # merge several of them — one 40-60k-vector shard per worker x 32 workers
    # next to the 48 GB JVM heap crossed 125 GB and the OOM killer took the
    # Python workers). Random shards are uniform by construction; the harness
    # probes all shards anyway, so shard locality buys nothing here.
    ap.add_argument("--hnsw-shards", type=int, default=128)
    ap.add_argument("--hnsw-shard-by", default="random", choices=["random", "kmeans"])
    # kmeans sharding only: cap per-shard rows (skew-safe memory bound) and
    # probe a subset of parent clusters (the locality win random can't give)
    ap.add_argument("--hnsw-max-shard-rows", type=int, default=12000)
    ap.add_argument("--hnsw-probes", type=int, default=None)
    # kmeans sharding only: boundary replication factor (multi-assign points
    # whose runner-up centroid is within (1+eps)^2 of the nearest — the r6
    # locality-recall fix) and the serving ef
    ap.add_argument("--hnsw-boundary-eps", type=float, default=0.0)
    # int, or "auto" for the probe-aware rule (HNSWIndex._auto_ef)
    ap.add_argument(
        "--hnsw-ef-search",
        type=lambda s: s if s == "auto" else int(s),
        default=32,
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from vers_spark.session import get_spark

    spark = get_spark(app_name="ann_scale", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    path = f"{REPO}/.scale_data/emb1m_{args.n}.parquet"
    if not os.path.isdir(path):
        t0 = time.perf_counter()
        gen_corpus(spark, args.n, path)
        print(f"# corpus generated in {time.perf_counter() - t0:.1f}s", flush=True)

    full = spark.read.parquet(path)
    # ~1.2 GB reads as only ~10 input splits at the default 128 MB target —
    # a 32-core box runs the build at a third of its width; 2 partitions
    # per core keeps every Lloyd pass fully parallel
    corpus = full.filter(F.col("vec_id") < args.n).repartition(64)
    queries = full.filter(F.col("vec_id") >= args.n)
    out: dict = {"n": args.n, "dims": DIMS, "n_queries": N_QUERIES}

    # ---- exact ground truth (blocked BLAS — also the exact-scan baseline)
    from vers_spark.operators.knn import exact_knn_blocked

    t0 = time.perf_counter()
    gt = {
        (r["query_id"], r["neighbour_id"])
        for r in exact_knn_blocked(queries, corpus, k=10).collect()
    }
    out["exact_scan_sec"] = round(time.perf_counter() - t0, 1)
    print(f"# exact ground truth: {out['exact_scan_sec']}s", flush=True)

    def recall(res_df) -> float:
        hits = {
            (r["query_id"], r["neighbour_id"])
            for r in res_df.select("query_id", "neighbour_id").collect()
        }
        return round(len(hits & gt) / len(gt), 4)

    if not args.skip_ivf:
        from vers_spark.indexes.ivfflat import IVFFlatIndex

        t0 = time.perf_counter()
        ivf = IVFFlatIndex.build(
            corpus, num_clusters=20, max_iterations=10, num_attempts=3, seed=42
        )
        ivf.assignments.count()  # materialize the build
        out["ivf_build_sec"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        # one-Arrow-pass serving path (parity-gated vs the declarative plan
        # in tests/test_ivfflat.py)
        res = ivf.search(queries, k=10, n_probes=4)
        out["ivf_recall_at_10"] = recall(res)
        out["ivf_search_batch_sec"] = round(time.perf_counter() - t0, 1)
        out["ivf_search_per_query_ms"] = round(
            out["ivf_search_batch_sec"] * 1000 / N_QUERIES, 1
        )
        # warm repeat = the serving number: posting sizes cached on the
        # index, OS page cache hot — what a resident index actually costs
        t0 = time.perf_counter()
        ivf.search(queries, k=10, n_probes=4).select(
            F.count(F.lit(1))
        ).collect()
        out["ivf_search_warm_sec"] = round(time.perf_counter() - t0, 1)
        print(f"# ivf: {json.dumps({k: v for k, v in out.items() if k.startswith('ivf')})}", flush=True)

    if not args.skip_pq:
        # IVF×PQ residual serving — the compression tier below the raw-f32
        # IVF line above: ADC shortlist off the cluster-partitioned code
        # store (persist_codes_partitioned → literal-isin partition
        # pruning), exact rerank of the k·oversample shortlist against the
        # raw corpus. The blocked twin (ivfpq_search_blocked, parity-gated
        # vs the declarative engines in tests/test_pq.py) is the serving
        # path: LUT tensor broadcast once, numpy gather per code partition.
        from vers_spark.indexes.pq import (
            PQCodec,
            ivfpq_search_blocked,
            persist_codes_partitioned,
            residuals,
        )

        if args.skip_ivf:
            from vers_spark.indexes.ivfflat import IVFFlatIndex

            ivf = IVFFlatIndex.build(
                corpus, num_clusters=20, max_iterations=10, num_attempts=3, seed=42
            )
        import numpy as np

        codes_path = f"{REPO}/.scale_data/pqcodes_{args.n}_m{args.pq_m}k{args.pq_kbook}"
        books_path = f"{codes_path}_codebooks.npy"
        if os.path.exists(books_path) and os.path.isdir(codes_path):
            # train/encode are deterministic (seeded) — cache them like the
            # corpus so serving-config sweeps (oversample/probes) rerun in
            # minutes; delete the .npy to retrain
            codec = PQCodec(codebooks=np.load(books_path))
            codes = spark.read.parquet(codes_path)
            out["pq_train_sec"] = "cached"
        else:
            t0 = time.perf_counter()
            res_df = residuals(ivf)
            codec = PQCodec.train(
                res_df, m=args.pq_m, k_codebook=args.pq_kbook, max_iter=10, seed=42
            )
            out["pq_train_sec"] = round(time.perf_counter() - t0, 1)
            np.save(books_path, codec.codebooks)
            t0 = time.perf_counter()
            codes = persist_codes_partitioned(
                codec.encode(res_df), ivf._serving_assignments(), codes_path
            )
            out["pq_encode_persist_sec"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        res = ivfpq_search_blocked(
            ivf,
            codec,
            codes,
            queries,
            k=10,
            n_probes=args.pq_probes,
            oversample=args.pq_oversample,
            corpus=corpus,
            residual=True,
        )
        out["pq_recall_at_10"] = recall(res)
        out["pq_search_batch_sec"] = round(time.perf_counter() - t0, 1)
        out["pq_search_per_query_ms"] = round(
            out["pq_search_batch_sec"] * 1000 / N_QUERIES, 1
        )
        # warm repeat: codec/sizes resolved, OS page cache hot — the
        # resident-index serving number
        t0 = time.perf_counter()
        ivfpq_search_blocked(
            ivf,
            codec,
            codes,
            queries,
            k=10,
            n_probes=args.pq_probes,
            oversample=args.pq_oversample,
            corpus=corpus,
            residual=True,
        ).select(F.count(F.lit(1))).collect()
        out["pq_search_warm_sec"] = round(time.perf_counter() - t0, 1)
        # ADC-only (no rerank) isolates coding quality from the rerank
        t0 = time.perf_counter()
        res = ivfpq_search_blocked(
            ivf, codec, codes, queries, k=10, n_probes=args.pq_probes, residual=True
        )
        out["pq_adc_only_recall_at_10"] = recall(res)
        out["pq_adc_only_batch_sec"] = round(time.perf_counter() - t0, 1)
        print(f"# pq: {json.dumps({k: v for k, v in out.items() if k.startswith('pq')})}", flush=True)

    if not args.skip_hnsw:
        from vers_spark.indexes.hnsw import HNSWIndex

        t0 = time.perf_counter()
        hnsw = HNSWIndex.build(
            corpus,
            num_layers=12,
            ef_construction=100,
            ef_search=32 if args.hnsw_ef_search == "auto" else args.hnsw_ef_search,
            m=24,
            num_shards=args.hnsw_shards,
            shard_by=args.hnsw_shard_by,
            seed=42,
            max_shard_rows=(
                args.hnsw_max_shard_rows if args.hnsw_shard_by == "kmeans" else None
            ),
            boundary_eps=(
                args.hnsw_boundary_eps if args.hnsw_shard_by == "kmeans" else 0.0
            ),
        )
        out["hnsw_ef_search"] = args.hnsw_ef_search
        out["hnsw_boundary_eps"] = float(args.hnsw_boundary_eps)
        out["hnsw_shards_effective"] = int(hnsw.params["num_shards"])
        hnsw.graph.count()  # materialize
        out["hnsw_build_sec"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        probes = args.hnsw_probes or args.hnsw_shards
        out["hnsw_probes"] = probes
        res = hnsw.search(
            queries, k=10, n_probe_shards=probes, ef_search=args.hnsw_ef_search
        )
        out["hnsw_recall_at_10"] = recall(res)
        out["hnsw_search_batch_sec"] = round(time.perf_counter() - t0, 1)
        out["hnsw_search_per_query_ms"] = round(
            out["hnsw_search_batch_sec"] * 1000 / N_QUERIES, 1
        )
        print(f"# hnsw: {json.dumps({k: v for k, v in out.items() if k.startswith('hnsw')})}", flush=True)

    if not args.skip_lsh:
        # reference harness config (main.rs:81): 8 trees, max_node_size=100.
        # 1M rows exceeds the whole-corpus-per-task local build cap, so this
        # exercises the level-synchronous distributed build (~13 split levels)
        from vers_spark.indexes.lsh import LSHForestIndex

        t0 = time.perf_counter()
        lsh = LSHForestIndex.build(corpus, num_trees=8, max_node_size=100, seed=42)
        lsh.leaves.count()  # materialize
        out["lsh_build_sec"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        res = lsh.search(queries, k=10)
        out["lsh_recall_at_10"] = recall(res)
        out["lsh_search_batch_sec"] = round(time.perf_counter() - t0, 1)
        out["lsh_search_per_query_ms"] = round(
            out["lsh_search_batch_sec"] * 1000 / N_QUERIES, 1
        )
        # margin-ordered multi-probe: the recall-vs-work dial at fixed trees
        for p in (2, 4):
            t0 = time.perf_counter()
            res = lsh.search_multiprobe(queries, k=10, n_probes=p)
            out[f"lsh_mp{p}_recall_at_10"] = recall(res)
            out[f"lsh_mp{p}_search_batch_sec"] = round(time.perf_counter() - t0, 1)
        print(f"# lsh: {json.dumps({k: v for k, v in out.items() if k.startswith('lsh')})}", flush=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
