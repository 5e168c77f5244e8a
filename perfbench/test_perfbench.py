"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402


# -- the tail rule -----------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    for n in (21, 30, 57, 111, 1000):
        xs = list(range(n))
        pct, value = common.tail(xs)
        beyond = sum(1 for x in xs if x > value)
        assert beyond == common.TAIL_BEYOND
        # it is the highest such percentile: one rank up leaves only nine
        assert sum(1 for x in xs if x > value + 1) == common.TAIL_BEYOND - 1
        assert pct == pytest.approx(100.0 * (n - 11) / (n - 1))


def test_tail_is_order_insensitive_and_uses_order_statistics():
    xs = [5.0, 1.0, 9.0, 3.0] * 10 + [100.0]
    assert common.tail(xs) == common.tail(sorted(xs, reverse=True))
    assert common.tail(xs)[1] == sorted(xs)[len(xs) - 11]


def test_tail_refuses_a_tail_below_the_median():
    assert common.tail(list(range(20))) is None
    assert common.tail([]) is None
    assert common.tail(list(range(21)))[0] == 50.0


# -- open-loop accounting ----------------------------------------------------


def test_latency_is_timed_from_the_due_time():
    rec = common.OpenLoopRecord(due=10.0, sent=10.4, done=10.5, ok=True)
    assert rec.latency == pytest.approx(0.5)  # not 0.1: the send delay counts
    assert rec.late == pytest.approx(0.4)


def test_a_request_sent_early_is_not_late():
    rec = common.OpenLoopRecord(due=10.0, sent=9.999, done=10.2, ok=True)
    assert rec.late == 0.0
    assert rec.latency == pytest.approx(0.2)


def test_a_stall_is_charged_to_every_request_it_delays():
    # the sender stalls 2 s at the first due time; requests due during the
    # stall go out together when it ends and are answered at once
    dues = common.schedule(0.0, 2.0, 3.0)
    recs = [common.OpenLoopRecord(d, max(d, 2.0), max(d, 2.0) + 0.1, True) for d in dues]
    assert [r.latency for r in recs[:5]] == pytest.approx([2.1, 1.6, 1.1, 0.6, 0.1])
    assert max(r.late for r in recs) == pytest.approx(2.0)


def test_schedule_is_fixed_rate_within_the_window():
    assert common.schedule(5.0, 0.5, 10.0) == pytest.approx([5.0, 7.0, 9.0, 11.0, 13.0])
    assert common.schedule(0.0, 4.0, 1.0) == pytest.approx([0.0, 0.25, 0.5, 0.75])
    with pytest.raises(ValueError):
        common.schedule(0.0, 0.0, 1.0)


# -- metric names ------------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "work_s", "exec.busy_ratio", "a", "9lives", "x-y.z_1", "a" * 64])
def test_valid_metric_names(name):
    assert common.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "-lead", "has space", "p50/ms", "ü", "a" * 65, None, 3])
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        common.check_metric_name(name)


def test_result_line_rejects_bad_names_and_units():
    with pytest.raises(ValueError):
        common.result_line(True, 1, 0, {"bad name": 1.0}, {"bad name": "s"})
    with pytest.raises(ValueError):
        common.result_line(True, 1, 0, {"x": 1.0}, {"x": "sec onds"})
    with pytest.raises(ValueError):
        common.result_line(True, 0, 0, {"x": 1.0}, {"x": "s"})
    line = common.result_line(True, 3, 1, {"x": 2}, {"x": "ms"})
    assert line == {"correct": True, "attempted": 3, "failed": 1, "metrics": {"x": {"value": 2.0, "unit": "ms"}}}


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        common.check_metric_name(m["name"])
        common.check_unit(m["unit"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# -- seeded inputs -----------------------------------------------------------


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7)
    b = datagen.write_tables(str(tmp_path / "b"), 7)
    c = datagen.write_tables(str(tmp_path / "c"), 8)
    names = sorted(os.listdir(a))
    assert names == sorted(f"{t}.parquet" for t in datagen.TABLE_ROWS)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "lineitem.parquet" in differ


def test_same_seed_gives_byte_identical_payloads():
    def payloads(seed):
        rng = np.random.default_rng(seed)
        times = 10**18 + np.arange(50) * 10**6
        return [datagen.otlp_payload(rng, s, times) for s in datagen.SERVICES]

    assert payloads(3) == payloads(3)
    assert payloads(3) != payloads(4)
    envelope = json.loads(payloads(3)[0])
    records = envelope["resourceLogs"][0]["scopeLogs"][0]["logRecords"]
    assert len(records) == 50
