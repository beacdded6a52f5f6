"""The process-wide memo (operators/_qcache): one build per key, and one
``clear`` — the one bench.py's ``_clear_state`` calls between timed lines —
after which every memoized build runs cold again, staged stream
directories included."""

from __future__ import annotations

import os
import types

import pytest

from vers_spark.operators import _qcache


@pytest.fixture
def empty_memo(monkeypatch):
    """A private, empty memo: the session's memoized builds stay untouched."""
    monkeypatch.setattr(_qcache, "_CACHE", {})


def test_memo_builds_once_per_key_and_again_after_clear(empty_memo):
    calls: list[tuple] = []

    def build(tag):
        return lambda: calls.append(tag) or len(calls)

    assert _qcache.memo(("t", 1), build(1)) == 1
    assert _qcache.memo(("t", 1), build(1)) == 1
    assert _qcache.memo(("t", 2), build(2)) == 2
    assert calls == [1, 2]
    _qcache.clear()
    assert _qcache._CACHE == {}
    assert _qcache.memo(("t", 1), build(1)) == 3
    assert calls == [1, 2, 1]


def test_memo_rebuilds_a_value_that_is_no_longer_fresh(empty_memo, tmp_path):
    made: list[str] = []

    def build():
        p = tmp_path / f"f{len(made)}"
        p.write_text("x")
        made.append(str(p))
        return str(p)

    first = _qcache.memo(("f",), build, fresh=os.path.exists)
    assert _qcache.memo(("f",), build, fresh=os.path.exists) == first
    os.remove(first)
    second = _qcache.memo(("f",), build, fresh=os.path.exists)
    assert second != first and os.path.exists(second)


def test_bench_clear_state_drops_the_stream_stage_dir(empty_memo, tmp_path):
    import bench
    from vers_spark.streaming import events

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "events.parquet").write_bytes(b"")
    first = events._stage_dir(str(sf_dir), "events")
    assert os.path.islink(os.path.join(first, "events_000.parquet"))
    assert events._stage_dir(str(sf_dir), "events") == first

    # A stand-in session: the real clear also unpersists every RDD of the
    # shared test session, which would pull localCheckpoints out from under
    # other tests' fixtures. Its RDD step is best-effort and skips here.
    spark = types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: None), sparkContext=None
    )
    bench._clear_state(spark)

    assert _qcache._CACHE == {}
    second = events._stage_dir(str(sf_dir), "events")
    assert second != first
    assert os.path.islink(os.path.join(second, "events_000.parquet"))
