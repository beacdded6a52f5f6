"""Scaling probe: measure wall-clock growth of representative operators from
sf0.1 to a generated 10x corpus (sf1-equivalent: 6M lineitem, 50k documents,
20k embeddings, 1M events) and print per-operator scaling factors.

The 10x corpus is written once to /tmp/vs_scale/sf1x10. Replication is
semantics-preserving, not a naive duplicate:

- lineitem/orders/customer replicate with consistent key offsets, so joins
  keep referential integrity and results grow linearly;
- documents get a per-replica token woven between every original token, so
  within-replica near-dup structure replicates (pairs x10, linear) while
  cross-replica pairs vanish — a naive copy would create 10-cliques and
  quadratic pair blow-up, misrepresenting scaling;
- embeddings add a per-replica constant offset vector (norm ~0.5), same
  idea in vector space;
- events offset event_id/user_id (hour buckets just get denser).

KNN/ANN probes use a FIXED 20-query set at both scales so the measured
growth is corpus-side only (the registered queries scale the query set with
the corpus, which for exact KNN is intentionally quadratic).

Usage: python tools/scale_probe.py [--regen]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
from pyspark.sql import functions as F

from vers_spark.session import get_spark
from vers_spark.sources.tables import load_table

BASE = "/root/testdata/sf0.1"
BIG = "/tmp/vs_scale/sf1x10"
REPLICAS = 10


def _gen(spark) -> None:
    os.makedirs(BIG, exist_ok=True)
    r_ids = spark.range(REPLICAS).withColumnRenamed("id", "_r")

    def replicate(df, out, build):
        build(df.crossJoin(r_ids)).write.mode("overwrite").parquet(f"{BIG}/{out}.parquet")

    # dims copy through unchanged
    for t in ["region", "nation", "supplier", "part"]:
        load_table(spark, BASE, t).write.mode("overwrite").parquet(f"{BIG}/{t}.parquet")

    cust = load_table(spark, BASE, "customer")
    orders = load_table(spark, BASE, "orders")
    li = load_table(spark, BASE, "lineitem")
    c_off = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    o_off = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    replicate(
        cust,
        "customer",
        lambda d: d.withColumn("c_custkey", F.col("c_custkey") + F.col("_r") * c_off).drop("_r"),
    )
    replicate(
        orders,
        "orders",
        lambda d: d.withColumn("o_orderkey", F.col("o_orderkey") + F.col("_r") * o_off)
        .withColumn("o_custkey", F.col("o_custkey") + F.col("_r") * c_off)
        .drop("_r"),
    )
    replicate(
        li,
        "lineitem",
        lambda d: d.withColumn("l_orderkey", F.col("l_orderkey") + F.col("_r") * o_off).drop("_r"),
    )

    docs = load_table(spark, BASE, "documents")
    d_off = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    replicate(
        docs,
        "documents",
        lambda d: d.withColumn("doc_id", F.col("doc_id") + F.col("_r") * d_off)
        .withColumn(
            "text",
            F.regexp_replace("text", r"\s+", F.concat(F.lit(" zzr"), F.col("_r").cast("string"), F.lit(" "))),
        )
        .withColumn("n_chars", F.length("text"))
        .drop("_r"),
    )

    emb = load_table(spark, BASE, "embeddings")
    v_off = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.default_rng(7)
    shifts = rng.normal(size=(REPLICAS, dim))
    shifts = 0.5 * shifts / np.linalg.norm(shifts, axis=1, keepdims=True)
    shift_df = F.broadcast(
        spark.createDataFrame(
            [(int(r), [float(x) for x in shifts[r]]) for r in range(REPLICAS)],
            "_r long, _shift array<float>",
        )
    )
    (
        emb.crossJoin(r_ids)
        .join(shift_df, "_r")
        .select(
            (F.col("vec_id") + F.col("_r") * v_off).alias("vec_id"),
            F.zip_with("embedding", "_shift", lambda x, y: (x + y).cast("float")).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(f"{BIG}/embeddings.parquet")
    )

    ev = load_table(spark, BASE, "events")
    e_off = ev.agg(F.max("event_id")).collect()[0][0] + 1
    u_off = ev.agg(F.max("user_id")).collect()[0][0] + 1
    replicate(
        ev,
        "events",
        lambda d: d.withColumn("event_id", F.col("event_id") + F.col("_r") * e_off)
        .withColumn("user_id", F.col("user_id") + F.col("_r") * u_off)
        .drop("_r"),
    )


def _probes():
    """name -> fn(spark, sf_dir) materializing a representative operator."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.operators.knn import exact_knn_blocked
    from vers_spark.operators.relational import q1_pricing_summary, q5_revenue_by_nation
    from vers_spark.operators.text_analysis import doc_quality
    from vers_spark.operators.text_dedup import minhash_neardup_pairs

    def knn_fixed(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)  # fixed 20 queries at both scales
        c = emb.filter(F.col("vec_id") >= 20)
        return exact_knn_blocked(q, c, k=10, metric="sq_euclidean")

    def ivf_build_search(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        idx = IVFFlatIndex.build(
            emb, num_clusters=20, num_attempts=1, max_iterations=5, seed=11
        )
        q = emb.filter(F.col("vec_id") < 20)
        return idx.search(q, k=10, n_probes=4)

    def minhash_pairs(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return minhash_neardup_pairs(docs, threshold=0.8)

    def lloyd_fixed_build(spark, sf_dir):
        from vers_spark.indexes.ivfflat import lloyd_fixed

        emb = load_table(spark, sf_dir, "embeddings")
        cents, _ = lloyd_fixed(emb, k=8, iters=3, seed=42)
        return cents

    def bpe_merges(spark, sf_dir):
        # pin the INCREMENTAL trainer (the scale path) at both scales so the
        # factor measures its scan-bound growth, not the auto-dispatch
        # crossover (recount is job-bound and wins under 100k vocab types)
        from vers_spark.operators import _qcache
        from vers_spark.operators.bpe import train_merges

        _qcache.clear()
        merges, _ = train_merges(spark, sf_dir, mode="incremental")
        return spark.createDataFrame(
            [(s, l, r, c) for s, l, r, c in merges],
            "step int, left string, right string, pair_count long",
        )

    def rag_retrieve(spark, sf_dir):
        from vers_spark.operators.rag import rag_retrieve_chunks

        return rag_retrieve_chunks(spark, sf_dir)

    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q5_revenue_by_nation": q5_revenue_by_nation,
        "knn_blocked_fixed20": knn_fixed,
        "ivf_build_search_p4": ivf_build_search,
        "minhash_neardup_pairs": minhash_pairs,
        "doc_quality": doc_quality,
        # round-2 flagships: the fixed-point build is k driver rounds over
        # the corpus (linear); BPE rounds aggregate the VOCAB (sublinear —
        # Heaps' law), so its factor should sit well under 10
        "lloyd_fixed_build": lloyd_fixed_build,
        "bpe_train_merges": bpe_merges,
        "rag_retrieve_chunks": rag_retrieve,
        # round-5: BM25 is one scan + a 1-row stats frame (expect ~linear);
        # HLL rides the md5-per-shingle floor (linear, same as rag); the two
        # CC variants and k-core run on the banded dup graph (pairs x10 by
        # construction, so ~linear — the iterative round count must NOT grow)
        "doc_bm25_topk": _q("doc_bm25_topk"),
        "doc_hll_distinct": _q("doc_hll_distinct"),
        "neardup_components_star": _q("neardup_components_star"),
        "neardup_kcore": _q("neardup_kcore"),
        # round-6: the xxhash64 deployment swap for the HLL sketch — same
        # plan as doc_hll_distinct, base hash is one JVM intrinsic instead
        # of the md5 hex fold (the dominant constant at x10 shingle volume)
        "doc_hll_distinct_xx": _hll_xx,
        # round-5 late additions (verdict item: nothing here may be
        # super-linear): salted agg is two exact aggregates over events;
        # MAD anomaly is two medians + a join per user; cluster outliers
        # ride the fixed-point Lloyd build (driver-round bound, like
        # lloyd_fixed_build); hourly HLL is one register aggregate per hour
        "q_skew_salted_agg": _q("q_skew_salted_agg"),
        "evt_anomaly_mad": _q("evt_anomaly_mad"),
        "emb_cluster_outliers": _q("emb_cluster_outliers"),
        "evt_hll_hourly": _q("evt_hll_hourly"),
        # round-6 operators: DBSCAN input is the %3 subset (output grows
        # with corpus); PMI is two corpus-token aggregates + a broadcast
        # join (linear, fixed output); Markov is one user-window + a tiny
        # matrix aggregate (linear, fixed-ish output)
        "emb_dbscan_clusters": _q("emb_dbscan_clusters"),
        "doc_collocation_pmi": _q("doc_collocation_pmi"),
        "evt_markov_transitions": _q("evt_markov_transitions"),
        # round-6 late additions + the round-7 RFM rewrite (verdict item:
        # nothing here may be super-linear): RFM is one user aggregate +
        # three distributed ranks over |users|; the leakage split runs on
        # the banded dup graph (pairs x10); schema evolution stages two
        # corpus copies then one aggregate (IO-linear); streaming Markov is
        # per-batch partials; JPEG pipeline decodes a fixed per-corpus
        # sample of payloads through mapInPandas
        "evt_rfm_segments": _q("evt_rfm_segments"),
        "neardup_leakage_split": _q("neardup_leakage_split"),
        "doc_schema_evolution": _q("doc_schema_evolution"),
        "stream_markov_merge": _q("stream_markov_merge"),
        "mm_jpeg_pipeline": _q("mm_jpeg_pipeline"),
        # LSH multiprobe planned on the driver from the plane pack — the
        # x10 factor should track BUILD growth (~linear), not leaf-ranking
        # growth (the pre-r7 every-leaf serving term)
        "lsh_search_multiprobe": _q("lsh_search_multiprobe"),
        # round-8: the boxed-container pipelines — same fixed doc_id<120
        # payload sample as the MJPEG/JPEG queries, so the factor measures
        # per-doc payload growth (tokens ~2x at x10), not corpus rows;
        # mu-law runs the fixed doc_id<300 clip sample (same rationale)
        "mm_avi_frames": _q("mm_avi_frames"),
        "mm_mp4_frames": _q("mm_mp4_frames"),
        "mm_audio_mulaw": _q("mm_audio_mulaw"),
    }


def _hll_xx(spark, sf_dir):
    from vers_spark.operators.text_analysis import doc_hll_distinct

    return doc_hll_distinct(spark, sf_dir, hash_backend="xxhash64")


def _q(name):
    def run(spark, sf_dir):
        import __spark_entry__ as entry

        return entry.queries()[name](spark, sf_dir)

    return run


def main() -> None:
    if "--regen" in sys.argv and os.path.isdir(BIG):
        shutil.rmtree(BIG)
    spark = get_spark(app_name="scale_probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if not os.path.isdir(BIG) or not os.path.exists(f"{BIG}/events.parquet/_SUCCESS"):
        t0 = time.time()
        _gen(spark)
        print(f"# generated {BIG} in {time.time() - t0:.1f}s", flush=True)

    from bench import _clear_state

    only = {a for a in sys.argv[1:] if not a.startswith("--")}
    results = {}
    for name, fn in _probes().items():
        if only and name not in only:
            continue
        row = {}
        for label, sf_dir in [("x1", BASE), ("x10", BIG)]:
            best, rows = None, 0
            for _ in range(2):  # best-of-2 cold runs
                t0 = time.perf_counter()
                rows = fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                _clear_state(spark)
            row[label] = (round(best, 2), rows)
        factor = round(row["x10"][0] / row["x1"][0], 2)
        results[name] = {"x1_s": row["x1"][0], "x10_s": row["x10"][0], "factor": factor,
                         "x1_rows": row["x1"][1], "x10_rows": row["x10"][1]}
        print(
            f"{name:24s} x1 {row['x1'][0]:7.2f}s ({row['x1'][1]:>8} rows)   "
            f"x10 {row['x10'][0]:7.2f}s ({row['x10'][1]:>8} rows)   factor {factor}",
            flush=True,
        )
    import json

    print(json.dumps(results))


if __name__ == "__main__":
    main()
