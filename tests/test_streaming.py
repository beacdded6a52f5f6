"""Streaming: oracle equivalence, foreachBatch IVF ingest, watermark
late-data semantics (append mode drops events later than the watermark).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tests.oracle import assert_oracle_match
from vers_spark.operators import streaming_queries as SQ
from vers_spark.streaming.events import windowed_event_counts


@pytest.mark.parametrize("name", sorted(SQ.ORACLE_SQL))
def test_stream_oracle(spark, sf_dir, name):
    assert_oracle_match(spark, sf_dir, name, SQ.QUERIES[name], SQ.ORACLE_SQL[name])


def test_stream_ivf_ingest_covers_corpus(spark, sf_dir):
    stats = SQ.stream_ivf_assign_stats(spark, sf_dir).collect()
    assert sum(r["n_vectors"] for r in stats) == 500
    assert all(r["n_vectors"] > 0 for r in stats)


def test_tws_session_spans_micro_batches(spark, tmp_path):
    """transformWithStateInPandas ValueState persists across micro-batches:
    a session opened in batch 1 stitches with batch 2's events and closes
    when batch 2's late event exceeds the gap — one emitted session covering
    both batches; the reopened trailing session stays in state, unemitted."""
    import os
    import pandas as pd

    pytest.importorskip(
        "google.protobuf", reason="transformWithStateInPandas needs protobuf"
    )

    from vers_spark.streaming.events import run_to_table
    from vers_spark.streaming.sessions_tws import rocksdb_state_store, sessionize_tws

    d = tmp_path / "ev"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 10:00:00")
    m = pd.Timedelta(minutes=1)

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
        pdf.to_parquet(d / name)

    write("b1.parquet", [(1, t0, 1.0, 1), (1, t0 + 10 * m, 2.0, 2)])
    write("b2.parquet", [(1, t0 + 20 * m, 3.0, 3), (1, t0 + 180 * m, 9.0, 4)])
    os.utime(d / "b1.parquet", (1, 1))  # force b1 into the first micro-batch
    os.utime(d / "b2.parquet", (2_000_000_000, 2_000_000_000))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    with rocksdb_state_store(spark):
        out = run_to_table(sessionize_tws(stream, gap_minutes=30), output_mode="append")
    rows = out.collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert r["n_events"] == 3 and r["sum_value"] == 6.0
    assert r["session_start"] == t0.to_pydatetime()
    assert r["session_end"] == (t0 + 20 * m).to_pydatetime()


def test_watermark_drops_late_events(spark, tmp_path):
    """Two micro-batches: the second carries an event 2h older than the
    watermark high-mark. With a 30-min watermark + append mode, the stale
    event's window is already closed → it must not appear in the sink."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    write_batch("b0", [(1, t0, 1, "click", 1.0, "{}"), (2, t0.replace(hour=12), 1, "click", 1.0, "{}")])

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = windowed_event_counts(stream, "1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_sink")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # batch 2: one fresh event (13:00) and one stale event (9:30 — far behind
    # the 12:00 high mark, window long closed)
    write_batch("b1", [(3, t0.replace(hour=13), 1, "click", 1.0, "{}"), (4, t0.replace(hour=9, minute=30), 1, "late", 1.0, "{}")])
    q.processAllAvailable()
    q.stop()

    rows = spark.table("wm_sink").collect()
    types = {r["event_type"] for r in rows}
    assert "late" not in types  # dropped by the watermark
    starts = {r["window_start"].hour for r in rows}
    assert 10 in starts  # the 10:00 window closed and was emitted


def test_stream_dedup_ingest_rejects_later_copies(spark, sf_dir):
    """Every original survives, every later-batch copy is rejected by the
    fingerprint-store anti-join, and re-reading the store shows exactly one
    row per distinct document."""
    from vers_spark.operators.streaming_queries import stream_dedup_ingest_q
    from vers_spark.sources.tables import load_table

    store = stream_dedup_ingest_q(spark, sf_dir)
    rows = store.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # one survivor per distinct document
    assert all(r["doc_id"] < 10000 for r in rows)  # no injected copy won
    assert len({r["fp"] for r in rows}) == len(rows)  # store is fp-unique


def test_stream_sketch_merge_oracles(spark, sf_dir):
    """The two streaming sketch-maintenance queries hash-match their batch
    DuckDB twins: count-min (sum-merge of per-batch partial counters) and
    HyperLogLog (max-merge of per-batch partial registers). The end-state
    equivalence IS the mergeability property each sketch claims."""
    assert_oracle_match(
        spark, sf_dir, "stream_cms_merge",
        SQ.QUERIES["stream_cms_merge"], SQ.ORACLE_SQL["stream_cms_merge"],
    )
    assert_oracle_match(
        spark, sf_dir, "stream_hll_merge",
        SQ.QUERIES["stream_hll_merge"], SQ.ORACLE_SQL["stream_hll_merge"],
    )


def test_stream_neardup_pairs_equals_batch_pipeline(spark, sf_dir):
    """The streamed band-store candidate graph, after exact-Jaccard
    verification, is EXACTLY the batch MinHash pipeline's pair set — pair
    discovery at later-member arrival loses nothing and invents nothing."""
    from vers_spark.operators.text_dedup_queries import minhash_neardup_q

    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in SQ.QUERIES["stream_neardup_pairs"](spark, sf_dir).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
        for r in minhash_neardup_q(spark, sf_dir).collect()
    }
    assert got == want and got


def test_stream_neardup_ingest_hashes_each_batch_once(spark, sf_dir, monkeypatch):
    """Each micro-batch's bands frame feeds both the band-store append and
    the join against the store; the MinHash kernel must still see every
    streamed document exactly once, not once per consumer. An accumulator
    counts the rows entering the ingest's kernel calls."""
    import vers_spark.functions.text_np as TN
    from vers_spark.operators.text_dedup_queries import NEAR_TAIL, _augmented

    seen = spark.sparkContext.accumulator(0)
    kernel = TN.minhash_rows

    def counted(docs, *args, **kwargs):
        if kwargs.get("keep_shingles", True):  # not the ingest's call
            return kernel(docs, *args, **kwargs)

        def count(batches):
            for pdf in batches:
                seen.add(len(pdf))
                yield pdf

        return kernel(docs.mapInPandas(count, docs.schema), *args, **kwargs)

    monkeypatch.setattr(TN, "minhash_rows", counted)
    assert SQ.QUERIES["stream_neardup_pairs"](spark, sf_dir).collect()
    assert seen.value == _augmented(spark, sf_dir, 7, NEAR_TAIL).count()


def test_stream_markov_equals_batch(spark, sf_dir):
    """Streamed transition maintenance ≡ the batch matrix: the last-event
    store carries exactly the cross-batch boundary pairs, so the end state
    matches evt_markov_transitions row for row."""
    from vers_spark.operators.streaming_queries import stream_markov_merge
    from vers_spark.operators.temporal import evt_markov_transitions

    streamed = sorted(map(tuple, stream_markov_merge(spark, sf_dir).collect()))
    batch = sorted(map(tuple, evt_markov_transitions(spark, sf_dir).collect()))
    assert streamed == batch


def test_stream_phash_gate_end_state(spark, sf_dir):
    """The streaming NEAR-dup image gate admits every original and
    quarantines every +10000 near-copy (which arrives in a LATER batch by
    the range-partitioned staging), never dropping fingerprints."""
    from vers_spark.operators.streaming_queries import stream_phash_gate_q
    from vers_spark.sources.tables import load_table

    rows = stream_phash_gate_q(spark, sf_dir).collect()
    imgs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 3 == 0)
    )
    n_orig = imgs.count()
    n_dup = imgs.filter(F.col("doc_id") % 2 == 0).count()
    assert len(rows) == n_orig + n_dup  # quarantine-not-drop
    by_id = {r["media_id"]: r["admitted"] for r in rows}
    assert all(by_id[m] == 1 for m in by_id if m < 10000)
    assert all(by_id[m] == 0 for m in by_id if m >= 10000)


def test_phash_gate_ingest_replay_idempotent(spark, tmp_path):
    """ADVICE r9: a foreachBatch RETRY (re-delivery of the same batch_id
    after a successful write but before checkpoint commit) must not change
    the store — the batch_id-keyed overwrite makes replay a no-op. Also
    pins the admission rule across batches: a later arrival within
    Hamming ≤ 7 of ANY earlier store row is quarantined, not dropped."""
    from vers_spark.streaming.events import _phash_gate_ingest

    store = str(tmp_path / "gate_store")

    def fps(rows):
        return spark.createDataFrame(rows, "media_id long, bands array<int>")

    def state():
        return {
            int(r["media_id"]): int(r["admitted"])
            for r in spark.read.parquet(store).collect()
        }

    b0 = fps([(1, [1, 2, 3, 4, 5, 6, 7, 8]), (2, [90, 91, 92, 93, 94, 95, 96, 97])])
    _phash_gate_ingest(b0, store, 0)
    s1 = state()
    assert s1 == {1: 1, 2: 1}
    _phash_gate_ingest(b0, store, 0)  # retry of the SAME batch
    assert state() == s1

    # batch 1: 11 is an exact dup of store row 1 (quarantined, kept);
    # 12 is novel (admitted)
    b1 = fps([(11, [1, 2, 3, 4, 5, 6, 7, 8]), (12, [50, 51, 52, 53, 54, 55, 56, 57])])
    _phash_gate_ingest(b1, store, 1)
    s2 = state()
    assert s2 == {1: 1, 2: 1, 11: 0, 12: 1}
    _phash_gate_ingest(b1, store, 1)  # retry with the store already ahead
    assert state() == s2


def test_jvm_liveness_probe_sees_running_spark(spark):
    """session._jvm_alive (the tmpfs orphan-sweep suppressor, ADVICE r9)
    must report alive while a Spark JVM runs — the live session's own JVM
    is exactly the process the sweep must never pull spill dirs from."""
    from vers_spark.session import _jvm_alive

    spark.range(1).count()  # ensure the JVM is up
    assert _jvm_alive() is True
