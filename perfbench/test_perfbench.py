"""The benchmark's own checks (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import pickle
import time

import pytest

import run
import workloads
from measure import Op, normalize, summarize, tail
from tracing import Tracer

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _spec():
    with open(BENCHMARK) as f:
        return json.load(f)


def _ops(latencies, failed=()):
    return [Op(f"op{i}", "q", 0.0, end=lat, error="boom" if i in failed else None)
            for i, lat in enumerate(latencies)]


def test_printed_metric_names_match_benchmark_json():
    spec = _spec()
    result = {**summarize(_ops([1.0, 2.0, 3.0]), 6.0), "setup_s": 4.0}
    printed = {k: unit for k, (_, unit) in run.end_to_end(result).items()}
    assert printed == {m["name"]: m["unit"] for m in spec["end_to_end"]}

    layers = run.layer_metrics(None, _ops([1.0]), Tracer(True), [], [], 4, 0.0, 0, 0.0)
    assert set(layers) == set(run.LAYER_UNITS)
    assert run.LAYER_UNITS == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


class _FakeFrame:
    def __init__(self, rows, columns=("k", "v")):
        self._rows = rows
        self.columns = list(columns)

    def collect(self):
        return self._rows


def test_injected_wrong_result_counts_as_failed(tmp_path, monkeypatch):
    from distributed_mapreduce_in_docker_rpyc_spark import registry

    good = [(1, 0.5), (2, 1.5)]
    with open(tmp_path / "oracle.pkl", "wb") as f:
        pickle.dump({"results": {"fake_q": normalize(good, ["k", "v"])},
                     "table_bytes": {"events": 10}}, f)
    monkeypatch.setitem(workloads.QUERY_TABLES, "fake_q", ["events"])
    wl = workloads.QueryWorkload("t", sf=0.01, queries=["fake_q"], deck_s=1.0)
    ctx = workloads.Ctx(None, Tracer(False), str(tmp_path), str(tmp_path), seed=1, trace=False)

    monkeypatch.setitem(registry.QUERIES, "fake_q", lambda spark, sf: _FakeFrame(list(reversed(good))))
    right = wl._op(ctx, "op0", "fake_q")
    monkeypatch.setitem(registry.QUERIES, "fake_q", lambda spark, sf: _FakeFrame([(1, 0.5), (2, 1.6)]))
    wrong = wl._op(ctx, "op1", "fake_q")

    assert right.error is None
    assert wrong.error.startswith("wrong result")
    s = summarize([right, wrong], 1.0)
    assert (s["ops"], s["failed"], s["failed_op_ratio"]) == (2, 1, 0.5)
    assert len(s["errors"]) == 1 and "op1" in s["errors"][0]


@pytest.mark.parametrize("n", [21, 22, 30, 100, 1000])
def test_tail_percentile_has_ten_samples_beyond(n):
    xs = [float(i) for i in range(n, 0, -1)]
    value, pct = tail(xs)
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


@pytest.mark.parametrize("n", [1, 3, 11, 20])
def test_tail_never_falls_to_the_median_or_below(n):
    xs = [float(i) for i in range(n)]
    assert tail(xs) == (n - 1.0, 100.0)


def test_failed_operations_stay_in_the_sample():
    s = summarize(_ops([1.0, 9.0, 2.0], failed={1}), 3.0)
    assert s["op_p50_s"] == 2.0 and s["failed"] == 1 and s["ops_per_s"] == 1.0


def test_sample_size_does_not_depend_on_engine_speed(tmp_path, monkeypatch):
    from distributed_mapreduce_in_docker_rpyc_spark import registry

    with open(tmp_path / "oracle.pkl", "wb") as f:
        pickle.dump({"results": {q: normalize([(1,)], ["k"]) for q in ("qa", "qb")},
                     "table_bytes": {"events": 10}}, f)
    for q in ("qa", "qb"):
        monkeypatch.setitem(workloads.QUERY_TABLES, q, ["events"])
    wl = workloads.QueryWorkload("t", sf=0.01, queries=["qa", "qb"], deck_s=5.0)
    ctx = workloads.Ctx(None, Tracer(False), str(tmp_path), str(tmp_path), seed=3, trace=False)
    for delay in (0.0, 0.01):
        def build(spark, sf, delay=delay):
            time.sleep(delay)
            return _FakeFrame([(1,)], ["k"])
        monkeypatch.setitem(registry.QUERIES, "qa", build)
        monkeypatch.setitem(registry.QUERIES, "qb", build)
        ops, wall = wl.run(ctx, seconds=20)
        assert sorted(op.name for op in ops) == ["qa"] * 4 + ["qb"] * 4
        assert not any(op.error for op in ops) and wall > 0
