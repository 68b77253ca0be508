"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile(values, 1.0) == 100
    assert stats.percentile([7.0], 0.5) == 7.0


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(list(range(100))) == 89  # ten samples (90..99) beyond
    with pytest.raises(stats.TooFewSamples):
        stats.tail(list(range(99)))  # only nine beyond
    with pytest.raises(stats.TooFewSamples):
        stats.tail(list(range(1000)), 0.999)
    assert stats.tail(list(range(10000)), 0.999) == 9989


def test_percentile_rejects_empty_and_bad_rank():
    with pytest.raises(stats.TooFewSamples):
        stats.median([])
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0.0)


def test_latency_join_maps_events_to_their_batch_end():
    due = {1: 100.0, 2: 100.0, 3: 105.0, 4: 105.0}
    event_file = {1: "/in/a", 2: "/in/b", 3: "/in/c", 4: "/in/d"}
    file_batch = {"/in/a": 0, "/in/b": 1, "/in/c": 1}  # d never read
    batch_end = {0: 101.5, 1: 106.25}
    latencies, missing = stats.join_latencies(due, event_file, file_batch, batch_end)
    assert sorted(latencies) == [1250.0, 1500.0, 6250.0]
    assert missing == [4]


def test_latency_join_counts_uncommitted_batches_as_missing():
    latencies, missing = stats.join_latencies(
        {1: 0.0, 2: 0.0}, {1: "/a", 2: "/b"}, {"/a": 0, "/b": 1}, {0: 2.0}
    )
    assert latencies == [2000.0]
    assert missing == [2]


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 1.0, 4.0),
        span(3, 1, 3.0, 6.0),  # overlaps span 2: the union 1..6 counts once
        span(4, 1, 9.0, 12.0),  # runs past its parent: clipped at 10
        span(5, 2, 1.0, 2.0),  # grandchild: only its own parent loses it
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(3.0)
    assert own[5] == pytest.approx(1.0)


def test_tracer_records_parents_and_self_time():
    tracer = Tracer("run", enabled=True)
    with tracer.span("outer") as outer:
        with tracer.span("inner") as inner:
            pass
    child = tracer.add("batch", 0.0, 0.0, inner)
    by_id = {s["id"]: s for s in tracer.spans}
    assert by_id[inner]["parent"] == outer
    assert by_id[child]["parent"] == inner
    assert by_id[outer]["run"] == "run"
    assert set(tracer.self_ms_by_name()) == {"outer", "inner", "batch"}


def test_disabled_tracer_records_nothing():
    tracer = Tracer("run", enabled=False)
    with tracer.span("outer") as sid:
        assert sid is None
    assert tracer.spans == []


def test_displaced_events_fall_on_the_intended_side_of_the_watermark():
    """An event moved one file on keeps its window open there; one moved
    three files on arrives after the watermark passed its window. The
    watermark a batch runs with trails the newest event time of the
    batches before it by two hours (late-row filtering may lag one more
    batch, which is why late events go three files on)."""
    ev = inputs.event_files(np.random.default_rng(7), 20_000, 10)
    window_end = (ev.ts_us // inputs.HOUR_US + 1) * inputs.HOUR_US
    file_max = np.array([ev.ts_us[ev.file_of == f].max() for f in range(10)])
    newest_before = np.maximum.accumulate(file_max)
    moved = ev.file_of != np.arange(20_000) // 2_000
    assert ev.late.any() and (moved & ~ev.late).any()
    for i in np.flatnonzero(moved):
        f = ev.file_of[i]
        if ev.late[i]:
            # late even against the older watermark (batches <= f - 2)
            assert window_end[i] <= newest_before[f - 2] - inputs.WATERMARK_US
        else:
            assert window_end[i] > newest_before[f - 1] - inputs.WATERMARK_US


def test_events_have_the_measured_table_shape():
    """Users, types, values and props follow the figures measured on the
    sf0.1 events table (see inputs.py)."""
    ev = inputs.event_files(np.random.default_rng(11), 100_000, 20)
    assert np.all(np.diff(ev.ts_us) >= 0)
    assert ev.ts_us.min() >= inputs.T0_US and ev.ts_us.max() < inputs.T0_US + inputs.SPAN_US
    assert set(np.unique(ev.user_id)) == set(range(inputs.N_USERS))
    types = np.bincount(ev.event_type)
    assert len(types) == 5 and types.min() > 19_000 and types.max() < 21_000
    value = ev.cents / 100.0
    assert value.min() >= 0 and 45 < value.mean() < 55 and 45 < value.std() < 55
    assert set(np.unique(ev.prop_k)) == set(range(inputs.N_PROP_KEYS))


def test_same_seed_same_inputs():
    a = inputs.envelopes(np.random.default_rng(3), 0, 500)
    b = inputs.envelopes(np.random.default_rng(3), 0, 500)
    assert a.payloads() == b.payloads() and a.keys() == b.keys()
    assert a.bad.sum() == round(500 / inputs.QUARANTINE_EVERY)


def test_drain_latency_is_batch_commit_after_start():
    reports = [
        {"timestamp": "2024-01-01T00:00:01.000Z", "numInputRows": 2,
         "durationMs": {"triggerExecution": 500}},
        {"timestamp": "2024-01-01T00:00:01.500Z", "numInputRows": 1,
         "durationMs": {"triggerExecution": 1000}},
    ]
    start = 1704067200.0  # 2024-01-01T00:00:00Z
    assert workloads.drain_latencies(reports, start) == [1500.0, 1500.0, 2500.0]


def test_wrong_events_counts_every_event_of_a_bad_group():
    want = {"a": (3, 1.0), "b": (2, 2.0)}
    got = {"a": (3, 1.0), "b": (1, 2.0), "c": (4, 0.0)}
    assert workloads.wrong_events(want, got) == 2 + 4
    assert workloads.wrong_events(want, dict(want)) == 0
