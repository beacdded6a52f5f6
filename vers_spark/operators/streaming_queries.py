"""Driver queries for the streaming surface: each runs a REAL Structured
Streaming job to completion (availableNow) and returns the sink table, so
the DuckDB oracle validates actual stream output, not a batch rewrite.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vers_spark.streaming.events import (
    _stream_conf,
    scratch_dir,
    read_events_stream,
    run_to_table,
    stream_ivf_ingest,
    windowed_event_counts,
)
from vers_spark.streaming.sessions import sessionize


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event counts via a streaming window aggregate."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_table(windowed_event_counts(ev, "1 hour"))


def stream_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/30-minute windows — each event lands in two windows."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_table(windowed_event_counts(ev, "1 hour", slide="30 minutes"))


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization (applyInPandasWithState): closed 30-min-gap
    sessions per user; oracle = lag/cumsum sessionization minus each user's
    trailing session."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    return run_to_table(sessionize(ev, gap_minutes=30), output_mode="append")


def stream_sessions_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sessionization contract on Spark 4's
    transformWithStateInPandas (typed ValueState, RocksDB store) — shares
    stream_sessions' oracle, so the driver hash-match proves the old-API and
    new-API stateful programs compute identical answers. TWS's state API
    requires the protobuf package; where the runtime lacks it (this sandbox
    does), the query runs the applyInPandasWithState twin under the SAME
    oracle — the avro-connector fallback pattern: one contract, two
    runtimes, one hash gate."""
    from vers_spark.streaming.sessions_tws import (
        rocksdb_state_store,
        sessionize_tws,
        tws_runtime_available,
    )

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    if not tws_runtime_available():
        return run_to_table(sessionize(ev, gap_minutes=30), output_mode="append")
    with rocksdb_state_store(spark):
        return run_to_table(sessionize_tws(ev, gap_minutes=30), output_mode="append")


def stream_merge_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: each micro-batch upserts into the versioned COW
    table (sources/versioned.py) via foreachBatch — the streaming-ingest ⇄
    table-maintenance composition (a CDC apply loop). The update stream is
    staged as exactly TWO files (doc_id split at the median) and drained
    with maxFilesPerTrigger=1, so the run commits deterministically: v0 =
    base table, v1/v2 = one snapshot per micro-batch. The oracle states the
    END state declaratively (base with doc_id%3 rescored) plus the version
    count — the hash fails if a batch is lost, applied twice, or snapshot
    accounting drifts."""
    import os

    from vers_spark.sources.tables import load_table
    from vers_spark.sources.versioned import (
        create_versioned,
        list_versions,
        merge_versioned,
        read_version,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("vs_smv_") + "/table"
    create_versioned(docs, path, key="doc_id", n_buckets=16)

    updates = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text", "lang", "source", (F.col("n_chars") + 1000).alias("n_chars")
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    mid = (int(lo) + int(hi)) // 2
    stage = scratch_dir("vs_smv_updates_")
    updates.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("overwrite").parquet(
        f"{stage}/f1"
    )
    updates.filter(F.col("doc_id") > mid).coalesce(1).write.mode("overwrite").parquet(
        f"{stage}/f2"
    )
    flat = scratch_dir("vs_smv_flat_")
    n_stage = 0
    for sub in ["f1", "f2"]:
        for f in sorted(os.listdir(f"{stage}/{sub}")):
            if f.endswith(".parquet"):
                os.symlink(f"{stage}/{sub}/{f}", f"{flat}/{sub}.parquet")
                n_stage += 1
    assert n_stage == 2

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_versioned(spark, path, batch_df)

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", scratch_dir("vs_smv_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    n_versions = len(list_versions(path))
    return (
        read_version(spark, path)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("n_versions", F.lit(n_versions).cast("long"))
        .orderBy("source")
    )


def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type) via
    dropDuplicates with a watermark bounding state; the per-type counts of
    the dedup STREAM's append output are the oracle-checked result. At scale
    this is dropDuplicatesWithinWatermark state sized by live keys, not
    events."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    dd = ev.withWatermark("ts", "1 hour").dropDuplicates(["user_id", "event_type"])
    out = run_to_table(dd, output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy("event_type")
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriches against a static
    user-segment dimension (derived deterministically from the batch table),
    then aggregates per (segment, event_type). The static side is re-read
    per micro-batch and broadcast — the canonical dimension-enrichment shape;
    state is only the aggregate, not the join."""
    from vers_spark.sources.tables import load_table

    seg = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg((F.count(F.lit(1)) % 4).cast("int").alias("segment"))
    )
    ev = read_events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    joined = ev.join(F.broadcast(seg), "user_id")
    agg = joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return run_to_table(agg, output_mode="complete")


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase event joins the same
    user's click events from the preceding hour. Both sides carry
    watermarks and the join condition bounds event-time distance, so state
    on each side is evicted once the other side's watermark passes —
    the canonical bounded-state stream-stream join. Returned as per-user
    match counts; inner joins emit eagerly, so the finite-stream output
    equals the batch join."""
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.c_ts <= purchases.p_ts)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR")),
    )
    out = run_to_table(joined, output_mode="append")
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_click_purchase_pairs"))
        .orderBy("user_id")
    )


def stream_dedup_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental first-wins dedup ingest (streaming.events
    .stream_dedup_ingest): micro-batched corpus + injected later-batch
    copies, fingerprint store anti-join per batch. The end state must equal
    global min-doc_id-per-fingerprint dedup, so the stream result itself is
    the oracle-checked output."""
    sink = scratch_dir("vs_dedup_store_")
    from vers_spark.streaming.events import stream_dedup_ingest

    store = stream_dedup_ingest(spark, sf_dir, f"{sink}/store")
    return store.select("doc_id", "fp", "lang", "source").orderBy("doc_id")



def stream_phash_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming image NEAR-dup gate (streaming.events.stream_phash_gate):
    micro-batched dHash fingerprints, banded-Hamming store lookup, every
    arrival appended with an admitted flag. End state ≡ pairwise-to-earlier
    admission over the whole corpus, so the stream result hash-matches the
    SQL restatement of the fingerprint + near-pair + NOT EXISTS rule. The
    two 32-bit fingerprint halves certify the stored bands themselves."""
    sink = scratch_dir("vs_phash_gate_store_")
    from vers_spark.streaming.events import stream_phash_gate

    store = stream_phash_gate(spark, sf_dir, f"{sink}/store")
    lo = sum(
        (F.element_at("bands", i).cast("long") * (1 << (8 * (i - 1))))
        for i in range(1, 5)
    )
    hi = sum(
        (F.element_at("bands", i).cast("long") * (1 << (8 * (i - 5))))
        for i in range(5, 9)
    )
    return store.select(
        "media_id",
        F.col("admitted").cast("int").alias("admitted"),
        lo.alias("fp_lo"),
        hi.alias("fp_hi"),
    ).orderBy("media_id")


def stream_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate (streaming.events.stream_quality_gate):
    micro-batched corpus routed to accept/quarantine stores by the
    doc_quality score. Stateless gate => combined end state equals the
    batch filter, so per-source counts + kept-score extrema hash-match a
    plain SQL oracle."""
    sink = scratch_dir("vs_qgate_store_")
    from vers_spark.streaming.events import stream_quality_gate

    accept, reject = stream_quality_gate(spark, sf_dir, f"{sink}/store")
    both = accept.withColumn("kept", F.lit(1)).unionByName(
        reject.withColumn("kept", F.lit(0))
    )
    return (
        both.groupBy("source")
        .agg(
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(1 - F.col("kept")).cast("long").alias("n_dropped"),
            F.max(F.when(F.col("kept") == 1, F.col("q"))).alias("max_kept_q"),
            F.min(F.when(F.col("kept") == 1, F.col("q"))).alias("min_kept_q"),
        )
        .orderBy("source")
    )



def stream_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming funnel (streaming.funnel.stream_funnel): per-user
    view→click→purchase state machine over micro-batches; the last emission
    per user equals the batch window program exactly, so this hash-matches
    the SAME SQL oracle as evt_funnel_conversion."""
    sink = scratch_dir("vs_funnel_sink_")
    from vers_spark.streaming.funnel import stream_funnel

    out = stream_funnel(spark, sf_dir, f"{sink}/snaps")
    return out.select(
        "user_id",
        "n_views",
        "n_conversions",
        (
            F.col("n_conversions").cast("double") / F.col("n_views").cast("double")
        ).alias("conv_rate"),
    )



def stream_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental retention cohorts (streaming.funnel
    .stream_retention_ingest): the accumulated (user, week) store aggregated
    into the cohort x active-week matrix - equals batch evt_retention_cohorts,
    so it shares that oracle."""
    sink = scratch_dir("vs_retn_store_")
    from pyspark.sql import Window as W

    from vers_spark.streaming.funnel import stream_retention_ingest

    store = stream_retention_ingest(spark, sf_dir, f"{sink}/store")
    cohort = store.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        store.join(F.broadcast(cohort), "user_id")
        .groupBy("cohort_week", F.col("week").alias("active_week"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_active_users"))
        .orderBy("cohort_week", "active_week")
    )


def stream_ivf_assign_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list sizes after streaming the corpus through foreachBatch
    IVF assignment — rows-only (k-means centroids not SQL-expressible)."""
    sink = scratch_dir("vs_ivf_ingest_")
    ingested = stream_ivf_ingest(spark, sf_dir, f"{sink}/data")
    return (
        ingested.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster_id")
    )


def stream_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate MAINTAINED BY THE STREAM: events arrive in
    micro-batches (file-per-trigger over ts-range-partitioned staging, so
    batch order follows time), each batch lands in a raw zone and triggers
    an INCREMENTAL rollup refresh (sources/rollup.refresh_rollup — only
    hours newly closed since the stored watermark re-aggregate; hours the
    earlier batches already rolled are never touched). After the stream
    drains, serving = stored closed hours UNION raw open tail ≡ a direct
    aggregation of all events — the same oracle as the batch-built twin
    (evt_hourly_rollup_serve). The standard lambda-architecture collapse:
    one incremental pipeline, exact results."""
    from vers_spark.sources.rollup import refresh_rollup, serve_hourly
    from vers_spark.sources.tables import load_table
    from vers_spark.streaming.events import _stream_conf, scratch_dir

    import os

    events = load_table(spark, sf_dir, "events")
    base = scratch_dir("vs_stream_rollup_")
    src_dir, raw_dir, roll_dir = f"{base}/src", f"{base}/raw", f"{base}/rollup"
    # stage 4 time-range batches SEQUENTIALLY (ascending mtime + lexicographic
    # names) so the file stream delivers them in event-time order — the
    # watermark-incremental refresh assumes an append-only, time-ordered log
    # (the normal shape of an event-ingest topic); out-of-order arrival is
    # the late-data problem, handled by reconciliation jobs, not this path
    qs = [
        int(q)
        for q in events.select(F.unix_micros("ts").alias("us")).approxQuantile(
            "us", [0.25, 0.5, 0.75], 0.0
        )
    ]
    os.makedirs(src_dir, exist_ok=True)
    lo = None
    for b, hi in enumerate([*qs, None]):
        part = events
        if lo is not None:
            part = part.filter(F.unix_micros("ts") > F.lit(lo))
        if hi is not None:
            part = part.filter(F.unix_micros("ts") <= F.lit(hi))
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/stage{b}")
        src = next(
            f for f in sorted(os.listdir(f"{base}/stage{b}")) if f.endswith(".parquet")
        )
        os.link(f"{base}/stage{b}/{src}", f"{src_dir}/b{b}.parquet")
        lo = hi
    schema = spark.read.parquet(src_dir).schema

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("append").parquet(raw_dir)
        refresh_rollup(spark, spark.read.parquet(raw_dir), roll_dir)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination()
    served = serve_hourly(spark, spark.read.parquet(raw_dir), roll_dir)
    # output projection discipline (r3 driver hash-fails were Decimal
    # columns): stored partials stay DECIMAL(18,4), the query output goes
    # ×10⁴ fixed-point BIGINT — same shape as evt_hourly_rollup_serve
    return served.select(
        "hour",
        "event_type",
        "n_events",
        (F.col("sum_value_dec") * 10000).cast("long").alias("sum_value_fp"),
    )


def stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MAINTENANCE of a count-min sketch — the mergeable-summary
    property exercised end to end: each event micro-batch aggregates its
    OWN (row_id, bucket) partial counter table (≤ depth×width = 4096 rows
    per batch, whatever the batch size) and blind-appends it to the sketch
    log; no keyed state store, no shuffle of raw events across batches —
    counters are additive, so merge = sum. Serving compacts the log with
    one tiny aggregate and answers heavy-user queries at fixed memory.
    End state ≡ the batch CMS over all events (counter addition is
    order-insensitive), so the full DuckDB hash oracle certifies the
    streamed sketch exactly — same certification as doc_cms_heavy_hitters,
    reached through the streaming path. Items are user ids (heavy-user
    detection); output = exact top-20 users with exact and sketch counts."""
    from vers_spark.operators.text_analysis import _cms_cells
    from vers_spark.sources.tables import load_table

    stream = read_events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("tok")
    )
    store = scratch_dir("vs_cms_stream_") + "/sketch"
    ckpt = scratch_dir("vs_cms_stream_ck_")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(F.explode(_cms_cells(F.col("tok"))).alias("c"))
            .select("c.row_id", "c.bucket")
            .groupBy("row_id", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("append")
            .parquet(store)
        )

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # zero micro-batches → foreachBatch never wrote the store: serve the
    # empty sketch instead of raising AnalysisException on the missing path
    if os.path.exists(store):
        partials = spark.read.parquet(store)
    else:
        partials = spark.createDataFrame([], "row_id int, bucket int, cnt long")
    cms = partials.groupBy("row_id", "bucket").agg(F.sum("cnt").alias("cnt"))
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("tok")
    )
    top = (
        ev.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(20)
    )
    lookups = top.select(
        "tok", "exact_n", F.explode(_cms_cells(F.col("tok"))).alias("c")
    ).select("tok", "exact_n", "c.row_id", "c.bucket")
    return (
        lookups.join(F.broadcast(cms), ["row_id", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
    )


def stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MAINTENANCE of a HyperLogLog sketch — the max-merge twin
    of stream_cms_merge's sum-merge: each event micro-batch reduces to its
    OWN ≤1024-row (bucket, max rho) partial register table and blind-
    appends it; no keyed state, no cross-batch shuffle — registers are
    max-mergeable, so serving is one max aggregate over the log. End state
    ≡ the batch registers over all events (max is order-insensitive), so
    the streamed sketch carries the same FULL DuckDB hash oracle as
    evt_hll_hourly's 'ALL' row — distinct-user cardinality maintained
    incrementally at fixed memory. Output: the register histogram (the
    doc_hll_distinct shape) with exact count and estimate."""
    from vers_spark.functions.text import stable_hash60
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        HLL_M,
        HLL_P,
    )
    from vers_spark.sources.tables import load_table

    stream = read_events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("uid")
    )
    store = scratch_dir("vs_hll_stream_") + "/registers"
    ckpt = scratch_dir("vs_hll_stream_ck_")
    h = stable_hash60(F.concat(F.lit("hu:"), F.col("uid")))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == F.lit(0), F.lit(_HLL_RHO_MAX)).otherwise(
        F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                (h % HLL_M).cast("int").alias("bucket"), rho.cast("int").alias("rho")
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
            .write.mode("append")
            .parquet(store)
        )

    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if os.path.exists(store):
        partials = spark.read.parquet(store)
    else:
        partials = spark.createDataFrame([], "bucket int, rho int")
    regs = partials.groupBy("bucket").agg(F.max("rho").alias("register"))
    spine = spark.range(HLL_M).select(F.col("id").cast("int").alias("bucket"))
    full = spine.join(F.broadcast(regs), "bucket", "left").select(
        "bucket", F.coalesce(F.col("register"), F.lit(0)).cast("int").alias("register")
    )
    stats = full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - register)"))
        .cast("long")
        .alias("sum_fp")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_n"))
    )
    hist = full.groupBy("register").agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    return (
        hist.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("register").cast("int").alias("register"),
            "n_buckets",
            "exact_n",
            "sum_fp",
            (F.lit(_HLL_CONST) / F.col("sum_fp").cast("double")).alias("hll_est"),
        )
        .orderBy("register")
    )


def stream_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MAINTENANCE of the near-dup candidate graph — the
    incremental form of the MinHash-LSH dedup pipeline: documents arrive in
    micro-batches; each batch computes its OWN banded signatures, joins
    them against the ACCUMULATED band store (so a pair is discovered
    exactly when its LATER member arrives — new-vs-old via the store,
    new-vs-new within the batch join since the batch appends first), and
    appends the new candidate edges to a pair log. No pair is ever
    re-derived for old-old combinations, which is what keeps per-batch
    cost proportional to batch × collision rate instead of corpus².
    Serving verifies the logged candidates with exact Jaccard against the
    corpus shingle sets (verification only ever touches candidate pairs).
    End state ≡ the batch pipeline's band-collision set, so the streamed
    graph hash-matches the SAME DuckDB oracle as minhash_neardup. At
    100 TB the band store is bucketed by (band_id, band_key) and each
    micro-batch's join partition-prunes to its own keys."""
    from vers_spark.functions.text_np import minhash_rows
    from vers_spark.operators.text_dedup import jaccard_verify, minhash_bands, shingle_array
    from vers_spark.operators.text_dedup_queries import NEAR_TAIL, _augmented

    corpus = _augmented(spark, sf_dir, 7, NEAR_TAIL).select("doc_id", "text")
    src_dir = scratch_dir("vs_ndstream_src_")
    corpus.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(src_dir)
    import glob as _glob
    import time as _time

    base = _time.time() - 3600
    for i, f in enumerate(sorted(_glob.glob(f"{src_dir}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))

    band_store = scratch_dir("vs_ndstream_bands_") + "/bands"
    pair_log = scratch_dir("vs_ndstream_pairs_") + "/pairs"
    ckpt = scratch_dir("vs_ndstream_ck_")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # two consumers (the append and the join's new side): the append
        # materializes the checkpoint, so the MinHash pass runs once
        bands = minhash_bands(
            minhash_rows(batch_df, 3, keep_shingles=False)
        ).localCheckpoint(eager=False)
        bands.write.mode("append").parquet(band_store)
        store = spark.read.parquet(band_store)
        new = bands.select(F.col("doc_id").alias("doc_n"), "band_id", "band_key")
        pairs = (
            new.join(store, ["band_id", "band_key"])
            .filter(F.col("doc_id") != F.col("doc_n"))
            .select(
                F.least("doc_id", "doc_n").alias("doc_a"),
                F.greatest("doc_id", "doc_n").alias("doc_b"),
            )
            .dropDuplicates()
        )
        pairs.write.mode("append").parquet(pair_log)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if os.path.exists(pair_log):
        cands = spark.read.parquet(pair_log).dropDuplicates()
    else:
        cands = spark.createDataFrame([], "doc_a long, doc_b long")
    sh_full = shingle_array(corpus, 3)
    return (
        jaccard_verify(cands, sh_full, threshold=0.8)
        .orderBy("doc_a", "doc_b")
    )


def stream_markov_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MAINTENANCE of the Markov transition matrix
    (evt_markov_transitions' incremental twin): events arrive in
    time-ordered micro-batches; the only cross-batch state is a LAST-EVENT
    STORE (one row per user — the boundary a naive per-batch count would
    drop is exactly the carry pair last(u, batch i) → first(u, batch i+1)).
    Per batch: union the store's rows with the batch, one lead() window per
    user emits ONLY new pairs (the store holds one row per user, so no
    old-old pair can form), append the pair counts, version the new last
    rows. End state ≡ the batch matrix — counts are additive and every
    consecutive pair is emitted exactly once — so the streamed matrix
    hash-matches the SAME DuckDB oracle. At 100 TB the store is |users|
    rows (bucketed by user) and each batch's window shuffles only
    batch + store rows."""
    from pyspark.sql import Window

    from vers_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src_dir = scratch_dir("vs_mkstream_src_")
    # range files = time order; mtimes pin the micro-batch arrival order
    ev.repartitionByRange(4, "ts", "event_id").write.mode("overwrite").parquet(src_dir)
    import glob as _glob
    import time as _time

    base = _time.time() - 3600
    for i, f in enumerate(sorted(_glob.glob(f"{src_dir}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))

    pair_log = scratch_dir("vs_mkstream_pairs_") + "/pairs"
    last_root = scratch_dir("vs_mkstream_last_")
    ckpt = scratch_dir("vs_mkstream_ck_")
    state = {"v": None}

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        aug = batch_df
        if state["v"] is not None:
            aug = aug.unionByName(spark.read.parquet(f"{last_root}/v{state['v']}"))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = (
            aug.withColumn("to_type", F.lead("event_type").over(w))
            .filter(F.col("to_type").isNotNull())
            .groupBy(F.col("event_type").alias("from_type"), "to_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        pairs.write.mode("append").parquet(pair_log)
        last = (
            aug.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        last.write.mode("overwrite").parquet(f"{last_root}/v{batch_id}")
        state["v"] = batch_id

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with _stream_conf(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if os.path.exists(pair_log):
        partials = spark.read.parquet(pair_log)
    else:
        partials = spark.createDataFrame([], "from_type string, to_type string, n long")
    counts = partials.groupBy("from_type", "to_type").agg(
        F.sum("n").cast("long").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return (
        counts.withColumn("row_total", F.sum("n").over(wrow).cast("long"))
        .select(
            "from_type",
            "to_type",
            "n",
            "row_total",
            (F.col("n").cast("double") / F.col("row_total").cast("double")).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


def stream_ivf_assign_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same streaming ingest against the fixed-point build's frozen
    centroids: end state ≡ the batch build's posting lists, hash-matched
    against the unrolled Lloyd oracle — incremental `add` under the HARD
    gate."""
    from vers_spark.streaming.events import stream_ivf_ingest_fixed

    sink = scratch_dir("vs_ivf_fixed_ingest_")
    ingested = stream_ivf_ingest_fixed(spark, sf_dir, f"{sink}/data")
    return (
        ingested.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("cluster_id")
    )


ORACLE_SQL: dict[str, str] = {
    # DuckDB truncates timestamps to the hour exactly like Spark's tumbling
    # window start; sum(value) is double in both engines.
    "stream_events_hourly": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    # sliding 1h/30m: an event at t belongs to windows starting at
    # bucket30(t) and bucket30(t) - 30m (window width 1h, slide 30m)
    "stream_events_sliding": """
        WITH b AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts) AS b30, event_type, value
            FROM events
        ), x AS (
            SELECT b30 AS window_start, event_type, value FROM b
            UNION ALL
            SELECT b30 - INTERVAL '30 minutes', event_type, value FROM b
        )
        SELECT window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM x GROUP BY 1, 2
    """,
    # closed sessions only: lag/cumsum sessionization, minus each user's last
    # (still-open) session — exactly what the stateful operator emits
    "stream_sessions": """
        WITH m AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        ), agg AS (
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS sum_value
            FROM s GROUP BY user_id, sid
        ), last AS (
            SELECT user_id, max(session_start) AS ls FROM agg GROUP BY user_id
        )
        SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.sum_value
        FROM agg a JOIN last l ON a.user_id = l.user_id AND a.session_start < l.ls
    """,
}

ORACLE_SQL["stream_dedup_users"] = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique_users
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type
    ORDER BY event_type
"""

ORACLE_SQL["stream_static_enrich"] = """
    WITH seg AS (
        SELECT user_id, CAST(count(*) % 4 AS INT) AS segment
        FROM events GROUP BY user_id
    )
    SELECT segment, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events JOIN seg USING (user_id)
    GROUP BY segment, event_type
"""

ORACLE_SQL["stream_interval_join"] = """
    SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_click_purchase_pairs
    FROM (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.c_ts <= p.p_ts
     AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    GROUP BY p.user_id
    ORDER BY p.user_id
"""

from vers_spark.operators.text_analysis import d_quality_score as _dqs

from vers_spark.operators.temporal import ORACLE_SQL as _TEMPORAL_ORACLE

ORACLE_SQL["stream_funnel"] = _TEMPORAL_ORACLE["evt_funnel_conversion"]

from vers_spark.operators.relational import ORACLE_SQL as _REL_ORACLE

ORACLE_SQL["stream_retention"] = _REL_ORACLE["evt_retention_cohorts"]

ORACLE_SQL["stream_quality_gate"] = f"""
    WITH s AS (SELECT source, {_dqs('text')} AS q FROM documents)
    SELECT source,
           CAST(sum(CASE WHEN q >= 0.58 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN q < 0.58 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           max(CASE WHEN q >= 0.58 THEN q END) AS max_kept_q,
           min(CASE WHEN q >= 0.58 THEN q END) AS min_kept_q
    FROM s GROUP BY source ORDER BY source
"""

ORACLE_SQL["stream_dedup_ingest"] = """
    WITH aug AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 10000, text, lang, source FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           list_reduce(list_transform(string_split(substr(md5(text), 1, 15), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b) AS fp,
           lang, source
    FROM (
        SELECT doc_id, text, lang, source,
               row_number() OVER (
                   PARTITION BY list_reduce(list_transform(string_split(substr(md5(text), 1, 15), ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)
                   ORDER BY doc_id) AS rn
        FROM aug
    )
    WHERE rn = 1
    ORDER BY doc_id
"""

# the streaming gate restated from the SHARED fake-fingerprint CTE
# (pipeline_queries._phash_bands_cte — one definition, three oracles):
# near pairs at Hamming <= 7, pairwise-to-earlier admission, fingerprint
# halves certifying the stored bands.
from vers_spark.operators.pipeline_queries import _phash_bands_cte as _ph_cte

ORACLE_SQL["stream_phash_gate"] = f"""
    WITH {_ph_cte(0)},
    cand AS (
        SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
        WHERE a.media_id < b.media_id
    ),
    near AS (
        SELECT c.media_a, c.media_b
        FROM cand c
        JOIN bands ba ON ba.media_id = c.media_a
        JOIN bands bb ON bb.media_id = c.media_b AND bb.band_id = ba.band_id
        GROUP BY c.media_a, c.media_b
        HAVING SUM(bit_count(xor(ba.band_key, bb.band_key))) <= 7
    ),
    fp AS (
        SELECT media_id,
               CAST(SUM(CASE WHEN band_id < 4
                             THEN band_key * (1 << (8 * band_id)) ELSE 0 END)
                    AS BIGINT) AS fp_lo,
               CAST(SUM(CASE WHEN band_id >= 4
                             THEN band_key * (1 << (8 * (band_id - 4))) ELSE 0 END)
                    AS BIGINT) AS fp_hi
        FROM bands GROUP BY media_id
    )
    SELECT f.media_id,
           CAST(CASE WHEN EXISTS (SELECT 1 FROM near n WHERE n.media_b = f.media_id)
                THEN 0 ELSE 1 END AS INT) AS admitted,
           f.fp_lo, f.fp_hi
    FROM fp f
    ORDER BY media_id
"""

QUERIES = {
    "stream_events_hourly": stream_events_hourly,
    "stream_interval_join": stream_interval_join,
    "stream_static_enrich": stream_static_enrich,
    "stream_dedup_users": stream_dedup_users,
    "stream_dedup_ingest": stream_dedup_ingest_q,
    "stream_phash_gate": stream_phash_gate_q,
    "stream_quality_gate": stream_quality_gate_q,
    "stream_funnel": stream_funnel_q,
    "stream_retention": stream_retention_q,
    "stream_events_sliding": stream_events_sliding,
    "stream_sessions": stream_sessions,
    "stream_sessions_tws": stream_sessions_tws,
    "stream_merge_versioned": stream_merge_versioned,
    "stream_ivf_assign_stats": stream_ivf_assign_stats,
    "stream_ivf_assign_fixed": stream_ivf_assign_fixed,
    "stream_rollup_serve": stream_rollup_serve,
    "stream_cms_merge": stream_cms_merge,
    "stream_hll_merge": stream_hll_merge,
    "stream_neardup_pairs": stream_neardup_pairs,
    "stream_markov_merge": stream_markov_merge,
}

# streaming ingest end state ≡ the fixed-point batch build's posting lists:
# reuse the unrolled-Lloyd CTEs, project to per-cluster counts
def _stream_ivf_fixed_sql() -> str:
    from vers_spark.operators.index_queries import (
        _FIXED_ITERS,
        _FIXED_K,
        _FIXED_SEED,
        _lloyd_fixed_ctes,
    )

    with_clause, _ = _lloyd_fixed_ctes(_FIXED_K, _FIXED_ITERS, _FIXED_SEED)
    return f"""{with_clause}
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors
        FROM a{_FIXED_ITERS + 1} GROUP BY cluster_id ORDER BY cluster_id
    """


ORACLE_SQL["stream_ivf_assign_fixed"] = _stream_ivf_fixed_sql()

# stream-maintained continuous aggregate ≡ direct aggregation (the batch
# rollup twin's oracle, stated directly over events)
ORACLE_SQL["stream_rollup_serve"] = """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) * 10000 AS BIGINT)
               AS sum_value_fp
    FROM events GROUP BY 1, 2
"""

# same operator contract, same oracle: the migration-parity guarantee
ORACLE_SQL["stream_sessions_tws"] = ORACLE_SQL["stream_sessions"]

# end state of the CDC apply loop: base with doc_id%3 rescored; 3 snapshots
# (v0 base + one per micro-batch, the two-file staging is deterministic)
ORACLE_SQL["stream_merge_versioned"] = """
    WITH merged AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(3 AS BIGINT) AS n_versions
    FROM merged GROUP BY source ORDER BY source
"""


def _stream_cms_oracle() -> str:
    """DuckDB twin of the STREAMED sketch: counter addition is order- and
    batching-insensitive, so the batch CMS over all events is the exact end
    state of the micro-batch merge — same structure as the doc CMS oracle
    with user-id items."""
    from vers_spark.operators.text_analysis import CMS_DEPTH, CMS_WIDTH
    from vers_spark.functions.text import HASH_PRIME, MINHASH_COEFFS

    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_COEFFS[:CMS_DEPTH])
    )
    h = (
        "list_reduce(list_transform(string_split(substr(md5(tok), 1, 15), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"
    )
    return f"""
        WITH toks AS (SELECT CAST(user_id AS VARCHAR) AS tok FROM events),
        hashes AS (SELECT tok, ({h}) % {HASH_PRIME} AS hp FROM toks),
        cells AS (
            SELECT r.row_id, (r.a * hp + r.b) % {HASH_PRIME} % {CMS_WIDTH} AS bucket
            FROM hashes CROSS JOIN (VALUES {rows}) r(row_id, a, b)
        ),
        cms AS (SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS cnt
                FROM cells GROUP BY row_id, bucket),
        top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
                FROM toks GROUP BY tok ORDER BY exact_n DESC, tok ASC LIMIT 20),
        th AS (SELECT tok, exact_n, ({h}) % {HASH_PRIME} AS hp FROM top),
        lk AS (SELECT t.tok, t.exact_n, r.row_id,
                      (r.a * t.hp + r.b) % {HASH_PRIME} % {CMS_WIDTH} AS bucket
               FROM th t CROSS JOIN (VALUES {rows}) r(row_id, a, b))
        SELECT l.tok, l.exact_n, CAST(min(c.cnt) AS BIGINT) AS cms_n
        FROM lk l JOIN cms c ON c.row_id = l.row_id AND c.bucket = l.bucket
        GROUP BY l.tok, l.exact_n
        ORDER BY l.exact_n DESC, l.tok ASC
    """


ORACLE_SQL["stream_cms_merge"] = _stream_cms_oracle()


def _stream_hll_oracle() -> str:
    from vers_spark.operators.text_analysis import (
        _HLL_CONST,
        _HLL_RHO_MAX,
        _HLL_SCALE,
        D_HASH60,
        HLL_M,
        HLL_P,
    )

    hash60 = D_HASH60.format(x="'hu:' || CAST(user_id AS VARCHAR)")
    return f"""
        WITH cells AS MATERIALIZED (
            SELECT CAST(h % {HLL_M} AS INT) AS bucket,
                   CAST(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                        ELSE bit_count(((h >> {HLL_P}) & -(h >> {HLL_P})) - 1) + 1
                        END AS INT) AS rho
            FROM (SELECT ({hash60}) AS h FROM events)),
        regs AS (SELECT bucket, max(rho) AS register FROM cells GROUP BY bucket),
        spine AS (SELECT CAST(range AS INT) AS bucket FROM range({HLL_M})),
        full_regs AS (
            SELECT s.bucket, CAST(coalesce(r.register, 0) AS INT) AS register
            FROM spine s LEFT JOIN regs r ON r.bucket = s.bucket),
        stats AS (SELECT CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - register))
                          AS BIGINT) AS sum_fp FROM full_regs),
        exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n FROM events)
        SELECT register, CAST(count(*) AS BIGINT) AS n_buckets, exact_n, sum_fp,
               {_HLL_CONST!r} / CAST(sum_fp AS DOUBLE) AS hll_est
        FROM full_regs, stats, exact
        GROUP BY register, exact_n, sum_fp
        ORDER BY register
    """


ORACLE_SQL["stream_hll_merge"] = _stream_hll_oracle()


def _stream_neardup_oracle() -> str:
    # end state ≡ the batch MinHash pipeline — the streamed band store only
    # changes WHEN a collision is discovered, never WHICH collisions exist
    from vers_spark.operators.text_dedup_queries import ORACLE_SQL as _TD_ORACLE

    return _TD_ORACLE["minhash_neardup"]


ORACLE_SQL["stream_neardup_pairs"] = _stream_neardup_oracle()

# streamed transition counts are additive and every consecutive pair is
# emitted exactly once (carry pairs via the last-event store), so the end
# state shares evt_markov_transitions' batch oracle verbatim
from vers_spark.operators.temporal import ORACLE_SQL as _TEMPORAL_ORACLES  # noqa: E402

ORACLE_SQL["stream_markov_merge"] = _TEMPORAL_ORACLES["evt_markov_transitions"]
