"""Tests of the benchmark itself: seeded inputs, the tail rule, metric names,
and the traced harvest on a two-call toy run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("make", [workloads.make_ann_inputs, workloads.make_dedup_inputs])
def test_same_seed_same_bytes_other_seed_differs(make, tmp_path):
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert measure.tail_percentile([1.0] * 10) is None
    for n in (11, 15, 20, 37, 100, 1001):
        xs = [float(i) for i in range(n)]
        pct, value = measure.tail_percentile(xs)
        beyond = sum(x > value for x in xs)
        assert beyond >= 10
        # the next whole percentile up would leave fewer than ten
        nxt = xs[min(n, -(-(pct + 1) * n // 100)) - 1]
        assert pct == 99 or sum(x > nxt for x in xs) < 10
    assert measure.tail_percentile([float(i) for i in range(20)]) == (50, 9.0)
    assert measure.tail_percentile([float(i) for i in range(100)]) == (90, 89.0)


def test_declared_metric_names_and_units():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    traced = {f"{c}.{f}" for c in workloads.TRACED_CALLS for f in spans.FIELDS}
    declared = {m["name"] for m in spec["per_layer"]}
    assert traced <= declared
    assert len(workloads.TRACED_CALLS) == 20


def test_stopwatch_net_time_within_wall_time():
    clock = measure.Stopwatch()
    measure.spin_ms(200_000)
    wall, net, cpu = clock.read()
    assert 0 < net <= wall
    assert cpu >= 0


def test_union_of_intervals():
    assert spans._union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert spans._union_ms([]) == 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    work = tmp_path_factory.mktemp("spark")
    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work))
        .getOrCreate()
    )
    yield session
    session.stop()


def test_traced_harvest_on_two_calls(spark):
    tracer = spans.Tracer()
    with tracer.span("toy.count"):
        spark.range(0, 10_000, numPartitions=3).count()
    with tracer.span("toy.shuffle"):
        # jobs from a second thread do not inherit the span's job group
        th = threading.Thread(
            target=lambda: spark.range(0, 1000, numPartitions=2).selectExpr("id % 7 AS k")
            .groupBy("k")
            .count()
            .collect()
        )
        th.start()
        th.join(timeout=120)
        assert not th.is_alive()
    outside = spark.range(0, 100).count()  # a job outside every span
    assert outside == 100
    tracer.harvest(spark.sparkContext)

    first, second = tracer.spans
    assert first.jobs and second.jobs
    assert not set(first.jobs) & set(second.jobs)
    assert first.tasks >= 3
    assert second.shuffle_mb > 0  # the untagged groupBy job was charged here
    for sp in tracer.spans:
        assert 0 <= sp.busy_s <= sp.wall_s + 1e-3
        assert sp.gap_s >= -1e-3
    metrics = spans.per_call_medians(tracer.spans, ["toy.count", "toy.shuffle", "toy.none"])
    assert metrics["toy.count.jobs"] == len(first.jobs)
    assert metrics["toy.none.wall_s"] == 0.0
