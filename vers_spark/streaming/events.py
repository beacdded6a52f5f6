"""Structured Streaming surface (SURVEY §7 phase 6 — pure north-star: the
reference has no streaming at all).

Micro-batch ingest of the ``events`` table: tumbling/sliding windowed
aggregates with an event-time watermark, and the streaming analogue of
IVFFlat ``add`` (`ivfflat.rs:200-213`) — each micro-batch of new vectors is
scored against FROZEN centroids in ``foreachBatch`` and appended to the
posting lists.

Correctness contract: every streaming query here is run with
``trigger(availableNow=True)`` over the finite testdata files and its sink
table is returned as a plain DataFrame, so the driver's DuckDB oracle checks
the STREAM output itself (batch/stream equivalence is the test, not a
proxy). Window aggregates use ``complete`` output mode into a memory sink —
with a finite source the watermark never closes the final window in append
mode, and complete mode is exactly the batch-equivalent answer.

Scale notes: file-source micro-batches shard by file; the windowed aggregate
is a streaming state-store aggregation keyed by (window, event_type) —
state size is windows × types, not events. The IVF assign path is
stateless per batch (centroids broadcast once), so it scales with batch
size only; posting-list appends go to Parquet partitioned by cluster_id,
same layout the batch index uses.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# TIMESTAMP(NANOS) parquet arrives as long under nanosAsLong (see session.py);
# timestamp[us] without tz arrives as TIMESTAMP_NTZ. The driver has shipped
# both flavors across rounds, so the file schema is probed from the footer.
_EVENTS_FILE_SCHEMA_NS = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)
_EVENTS_FILE_SCHEMA_US = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
)


def _events_ts_is_long(sf_dir: str) -> bool:
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    return str(ts_type) in ("int64", "timestamp[ns]")
_EMB_FILE_SCHEMA = "vec_id long, embedding array<float>, label int"

_sink_counter = itertools.count()

def scratch_dir(prefix: str) -> str:
    """Streaming scratch space (stage dirs, stores, sinks, checkpoints) —
    the one scratch contract lives in sources.staging; this alias keeps the
    streaming call sites stable."""
    from vers_spark.sources.staging import ephemeral_dir

    return ephemeral_dir(prefix)


# Stateful streaming operators (windowed aggs, dropDuplicates, stream-stream
# joins, applyInPandasWithState) create ONE state-store instance per shuffle
# partition per micro-batch — at 32 partitions x 4-5 batches that is pure
# fixed overhead when each batch holds thousands of rows. Streams here run
# with a smaller stream-local shuffle-partition count (state stores scale
# with it); on a real cluster raise VS_STREAM_SHUFFLE to the executor count.
_STREAM_SHUFFLE = os.environ.get("VS_STREAM_SHUFFLE", "8")


class _stream_conf:
    """Temporarily pin spark.sql.shuffle.partitions while a stream runs.

    The setting is read at stream START (and pinned into the checkpoint), so
    scoping it around start()/awaitTermination() affects only this stream."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _stage_dir(sf_dir: str, name: str) -> str:
    """FileStreamSource needs a DIRECTORY; testdata ships single files (and is
    read-only), so stage a tempdir holding a symlink to the parquet file."""
    from vers_spark.operators._qcache import memo

    def build() -> str:
        d = scratch_dir(f"vs_stream_{name}_")
        os.symlink(f"{sf_dir}/{name}.parquet", f"{d}/{name}_000.parquet")
        return d

    return memo(("stream_stage", sf_dir, name), build)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (micro-batch per file)."""
    if _events_ts_is_long(sf_dir):
        raw = spark.readStream.schema(_EVENTS_FILE_SCHEMA_NS).parquet(_stage_dir(sf_dir, "events"))
        # integer div: float /1000 loses µs precision on ns-scale longs
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = spark.readStream.schema(_EVENTS_FILE_SCHEMA_US).parquet(_stage_dir(sf_dir, "events"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) window counts per event_type with
    an event-time watermark bounding state for late data."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # declared-precision discipline: double summation order differs
            # between engines (and between runs at scale); round at the edge
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_to_table(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a finite stream with availableNow into a memory sink; return the
    sink as a batch DataFrame (the oracle-checkable stream result)."""
    name = f"vs_stream_sink_{next(_sink_counter)}"
    with _stream_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.table(name)


def stream_ivf_ingest(
    spark: SparkSession,
    sf_dir: str,
    sink_dir: str,
    num_clusters: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Streaming analogue of IVFFlat ``add`` (ivfflat.rs:200-213): build the
    index once on the batch corpus, freeze its centroids, then stream the
    corpus back through ``foreachBatch`` scoring every micro-batch against
    the frozen centroids and appending Parquet posting lists partitioned by
    cluster_id. Returns the ingested assignment table."""
    import numpy as np

    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.sources.tables import load_table

    if (num_clusters, seed) == (16, 42):
        # same build config as the batch index suite — reuse its cached
        # index (the streaming `add` scores against the SAME frozen
        # centroids a batch build would produce)
        from vers_spark.operators.index_queries import _ivf

        idx = _ivf(spark, sf_dir, 16)
    else:
        emb = load_table(spark, sf_dir, "embeddings")
        idx = IVFFlatIndex.build(emb, num_clusters=num_clusters, seed=seed)
    cents = np.array(
        [r["centroid"] for r in idx.centroids.orderBy("cluster_id").collect()],
        dtype=np.float64,
    )

    stream = (
        spark.readStream.schema(_EMB_FILE_SCHEMA)
        .parquet(_stage_dir(sf_dir, "embeddings"))
        .select(F.col("vec_id").alias("id"), "embedding")
    )

    def ingest_batch(bdf: DataFrame, batch_id: int) -> None:
        assigned = IVFFlatIndex._assign(bdf, cents)
        assigned.write.mode("append").partitionBy("cluster_id").parquet(sink_dir)

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{sink_dir}_ckpt")
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink_dir)


def stream_dedup_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    n_files: int = 4,
    dup_mod: int = 5,
) -> DataFrame:
    """Incremental first-occurrence-wins dedup ingest — the streaming gate a
    training-data pipeline puts in front of its corpus store. Documents
    arrive in micro-batches (maxFilesPerTrigger=1 over doc_id-range-
    partitioned files, so batch order follows id order deterministically);
    each batch is fingerprinted (stable_hash60 of text), deduped within the
    batch (min doc_id per fingerprint), anti-joined against the ACCUMULATED
    fingerprint store, and the survivors are appended to the store. The
    arriving corpus is the documents table plus exact copies at
    doc_id+10000 (every ``dup_mod``-th doc) — copies land in later batches
    and must be rejected by the store lookup.

    End state ≡ batch-global first-wins dedup (min doc_id per fingerprint) —
    exactly the reference's dedup semantics (lsh.rs:113-130) made
    incremental — so the stream RESULT hash-matches a plain SQL oracle.

    Scale notes: the store lookup is an anti-join against a Parquet store
    that only ever holds one row per distinct document — for a real deploy
    partition/bucket it by fingerprint range so each micro-batch prunes to
    the buckets it touches; the within-batch window is bounded by batch
    size."""
    from vers_spark.functions.text import stable_hash60
    from vers_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    dups = docs.filter(F.col("doc_id") % dup_mod == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source"
    )
    arriving = docs.unionByName(dups)
    src_dir = scratch_dir("vs_dedup_src_")
    arriving.repartitionByRange(n_files, "doc_id").write.mode("overwrite").parquet(src_dir)
    # FileStreamSource orders micro-batches by file modification time, and a
    # parallel write leaves mtimes racy — pin strictly increasing mtimes in
    # range order (part-0000N holds range-partition N) so arrival order is
    # doc_id order, deterministically.
    import glob as _glob
    import time as _time

    base = _time.time() - 3600
    for i, f in enumerate(sorted(_glob.glob(f"{src_dir}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))

    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string"
    ).option("maxFilesPerTrigger", 1).parquet(src_dir)

    from pyspark.sql import Window as W

    def ingest(bdf: DataFrame, batch_id: int) -> None:
        b = bdf.withColumn("fp", stable_hash60(F.col("text")))
        w = W.partitionBy("fp").orderBy("doc_id")
        b = (
            b.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "fp", "lang", "source")
        )
        sess = bdf.sparkSession
        # only the store's absence means "first batch" — any other read
        # error must surface, not silently skip the anti-join
        if os.path.exists(store_dir):
            store = sess.read.parquet(store_dir).select("fp")
            b = b.join(store, "fp", "left_anti")
        b.write.mode("append").parquet(store_dir)

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{store_dir}_ckpt")
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(store_dir)


def _phash_gate_ingest(b: DataFrame, store_dir: str, batch_id: int) -> None:
    """One micro-batch of the near-dup admission gate, IDEMPOTENT on
    foreachBatch retry (ADVICE r9): the batch's rows — admitted flag set by
    verifying against the accumulated store in probe mode — land in a
    batch_id-keyed subdir with overwrite, so a retry after a successful
    write but before checkpoint commit re-produces the identical dir
    instead of appending duplicates. Determinism on retry: a visible
    partial/complete own-batch dir only adds store-side copies of the
    batch's own rows, which yield the same canonicalized pair set (self-id
    pairs are filtered; in-batch pairs are found through ``allfp`` ⊇ batch
    either way), so the rejection set — and the rewritten dir — are
    identical. Replay-gated in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from vers_spark.operators.pipeline_queries import phash_neardup_pairs

    sess = b.sparkSession
    if os.path.exists(store_dir):
        prior = sess.read.parquet(store_dir).select("media_id", "bands")
        allfp = prior.unionByName(b)
    else:
        allfp = b
    # earlier = smaller media_id: arrival order IS id order here (range
    # partitioning + pinned mtimes). Probe mode canonicalizes least/greatest
    # over BOTH orientations (ADVICE r9), so media_b is the later-BY-ID side
    # regardless of arrival order; a batch row is rejected iff some
    # smaller-id row (store or in-batch) matches it
    rejected = (
        phash_neardup_pairs(allfp, max_hamming=7, probe=b, n_bands=8)
        .select(F.col("media_b").alias("media_id"))
        .distinct()
    )
    admitted = b.join(rejected, "media_id", "left_anti").withColumn(
        "admitted", F.lit(1)
    )
    quarantined = b.join(rejected, "media_id", "left_semi").withColumn(
        "admitted", F.lit(0)
    )
    admitted.unionByName(quarantined).write.mode("overwrite").parquet(
        f"{store_dir}/batch={batch_id}"
    )


def stream_phash_gate(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    n_files: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup gate for the image modality — stream_dedup_ingest
    with the exact-fingerprint store lookup replaced by a banded Hamming
    join (the gate a training pipeline puts in front of an image corpus:
    re-encodes and near-copies must be caught, not just byte-dups).

    Arrivals are the fake-mode dHash corpus (pipeline_queries
    .phash_fake_bands — originals plus +10000 near-copies), micro-batched
    in media_id order (range-partitioned files, pinned ascending mtimes),
    so the END STATE carries a full hash oracle. Admission rule: an arrival
    is admitted iff NO earlier-arrived image is within Hamming ≤ 7
    (pairwise-to-earlier — well-defined on duplicate CHAINS, unlike
    admitted-only greedy). EVERY fingerprint is appended to the store with
    an `admitted` flag (the quarantine-not-drop policy), which is exactly
    what makes the rule restatable: rejected images cannot hide later
    members of their chain.

    Scale notes: the per-batch lookup is phash_neardup_pairs with
    ``probe=batch`` — store-store pairs are never re-verified; for a real
    deploy, partition the store by band buckets so each micro-batch prunes
    to the band keys it actually carries (the stream_dedup_ingest store
    note, banded)."""
    from pyspark.sql import functions as F

    from vers_spark.operators.pipeline_queries import (
        _phash_roster,
        phash_fake_bands,
        phash_neardup_pairs,
    )
    from vers_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 3 == 0)
    )
    arriving = _phash_roster(docs, 10000)
    src_dir = scratch_dir("vs_phash_gate_src_")
    arriving.repartitionByRange(n_files, "media_id").write.mode("overwrite").parquet(
        src_dir
    )
    import glob as _glob
    import time as _time

    base = _time.time() - 3600
    for i, f in enumerate(sorted(_glob.glob(f"{src_dir}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))

    stream = (
        spark.readStream.schema("media_id long, src_id long, is_dup int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(bdf: DataFrame, batch_id: int) -> None:
        import pandas as pd

        def fp(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                yield pd.DataFrame(
                    [
                        (int(m), phash_fake_bands(int(s), bool(d)))
                        for m, s, d in zip(
                            pdf["media_id"], pdf["src_id"], pdf["is_dup"]
                        )
                    ],
                    columns=["media_id", "bands"],
                )

        b = bdf.mapInPandas(fp, "media_id long, bands array<int>").localCheckpoint(
            eager=True  # read three times below; the batch is small
        )
        _phash_gate_ingest(b, store_dir, batch_id)

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{store_dir}_ckpt")
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(store_dir)


def stream_quality_gate(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    tau: float = 0.58,
    n_files: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Streaming quality gate: documents arrive in micro-batches and are
    routed by the doc_quality composite score — score ≥ tau appends to the
    accept store, the rest to a quarantine store (never dropped: rejected
    rows stay auditable, the same policy as the corrupt-record quarantine
    in sources.jsonl). The gate is stateless, so the combined end state is
    EXACTLY the batch filter — both stores together hash-match a plain SQL
    oracle. Returns (accepted, quarantined) DataFrames.

    Scale notes: a stateless foreachBatch filter is the cheapest possible
    streaming stage — no state store, no watermark, each batch a single
    narrow pass; the two appends inherit the batch's partitioning."""
    from vers_spark.operators.text_analysis import quality_score
    from vers_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    src_dir = scratch_dir("vs_qgate_src_")
    docs.repartitionByRange(n_files, "doc_id").write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string"
    ).option("maxFilesPerTrigger", 1).parquet(src_dir)

    def route(bdf: DataFrame, batch_id: int) -> None:
        scored = bdf.withColumn("q", quality_score(F.col("text"))).select(
            "doc_id", "lang", "source", "q"
        )
        scored.filter(F.col("q") >= tau).write.mode("append").parquet(f"{store_dir}/accept")
        scored.filter(F.col("q") < tau).write.mode("append").parquet(f"{store_dir}/reject")

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(route)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{store_dir}_ckpt")
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(f"{store_dir}/accept"), spark.read.parquet(f"{store_dir}/reject")


def stream_ivf_ingest_fixed(spark: SparkSession, sf_dir: str, sink_dir: str) -> DataFrame:
    """``stream_ivf_ingest`` against the FIXED-POINT build's frozen centroids
    (ivfflat.lloyd_fixed), scoring each micro-batch with the declarative f64
    fold kernel instead of numpy — every arithmetic step matches the DuckDB
    unroll bit-for-bit, so the streaming ingest's END STATE hash-matches the
    batch build's posting-list sizes (the streaming `add` under the HARD
    oracle gate; ivfflat.rs:200-213 semantics)."""
    from pyspark.sql import Window as W

    from vers_spark.functions import vector as V
    from vers_spark.operators.index_queries import _lloyd_fixed

    centroids, _ = _lloyd_fixed(spark, sf_dir)
    # freeze: materialize the 8 centroid rows once — micro-batches must not
    # re-run the 3-iteration training plan
    frozen = spark.createDataFrame(
        [(int(r["cluster_id"]), [float(x) for x in r["centroid"]]) for r in centroids.collect()],
        "cluster_id int, centroid array<double>",
    )

    stream = (
        spark.readStream.schema(_EMB_FILE_SCHEMA)
        .parquet(_stage_dir(sf_dir, "embeddings"))
        .select(F.col("vec_id").alias("id"), "embedding")
    )

    def ingest_batch(bdf: DataFrame, batch_id: int) -> None:
        d = V.sq_euclidean(F.col("embedding"), F.col("centroid"))
        w = W.partitionBy("id").orderBy(F.asc("_dist"), F.asc("cluster_id"))
        assigned = (
            bdf.crossJoin(F.broadcast(frozen))
            .withColumn("_dist", d)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "cluster_id")
        )
        assigned.write.mode("append").partitionBy("cluster_id").parquet(sink_dir)

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{sink_dir}_ckpt")
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink_dir)
