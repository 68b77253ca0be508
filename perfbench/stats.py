"""The benchmark's own arithmetic: percentiles, the live-latency join
and span self times. Pure Python so it can be tested without Spark."""

from __future__ import annotations

import math
from typing import Iterable, Mapping, Sequence

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "p90" is really one of the last few samples.
MIN_BEYOND_TAIL = 10


class TooFewSamples(ValueError):
    """Raised when a percentile has too few samples to support it."""


def percentile(values: Sequence[float], q: float, min_beyond: int = 0) -> float:
    """Nearest-rank percentile (``q`` in (0, 1]).

    ``min_beyond`` is how many samples must rank strictly above the
    chosen one; ``TooFewSamples`` is raised when the sample cannot
    support the percentile."""
    if not values:
        raise TooFewSamples("no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile rank must be in (0, 1], got {q}")
    ordered = sorted(values)
    index = max(0, math.ceil(q * len(ordered)) - 1)
    beyond = len(ordered) - 1 - index
    if beyond < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {len(ordered)} samples has {beyond} beyond it,"
            f" needs {min_beyond}"
        )
    return float(ordered[index])


def median(values: Sequence[float]) -> float:
    return percentile(values, 0.5)


def tail(values: Sequence[float], q: float = 0.9) -> float:
    """A tail percentile with at least ``MIN_BEYOND_TAIL`` samples beyond."""
    return percentile(values, q, MIN_BEYOND_TAIL)


def join_latencies(
    due: Mapping[int, float],
    event_file: Mapping[int, str],
    file_batch: Mapping[str, int],
    batch_end: Mapping[int, float],
) -> tuple[list[float], list[int]]:
    """Latency of each event from when it was due to be emitted to the
    end of the micro-batch that consumed the file holding it.

    ``due`` maps event id to its scheduled emit time, ``event_file`` the
    event to the ingress file it was written to, ``file_batch`` that
    file to the batch that read it and ``batch_end`` the batch to the
    time it committed (all times in seconds). Returns the latencies in
    milliseconds and the ids of events that never reached a committed
    batch."""
    latencies: list[float] = []
    missing: list[int] = []
    for event, t_due in due.items():
        path = event_file.get(event)
        batch = file_batch.get(path) if path is not None else None
        end = batch_end.get(batch) if batch is not None else None
        if end is None:
            missing.append(event)
        else:
            latencies.append((end - t_due) * 1000.0)
    return latencies, missing


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its children (overlapping children count once).

    Each span is a mapping with ``id``, ``parent``, ``start`` and
    ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }
