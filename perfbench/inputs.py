"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees what these functions write."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = ("order:created", "user:signup", "cart:item_added")
N_KEYS = 1000
ZIPF_S = 1.1
QUARANTINE_EVERY = 97  # 1 event in 97 fails its subscription's check

META_TYPE = pa.struct(
    [
        ("name", pa.string()),
        ("version", pa.int32()),
        ("producer", pa.string()),
        ("cid", pa.string()),
        ("uuid", pa.string()),
        ("key", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)
INGRESS_TYPE = pa.schema(
    [("name", pa.string()), ("payload", pa.string()), ("meta", META_TYPE),
     ("partition_id", pa.int32())]
)


@dataclass
class Envelopes:
    """A block of bus events: ``ids[i]`` is carried in the payload as
    ``v``; ``topic[i]`` indexes TOPICS; ``bad[i]`` marks the events the
    subscriptions' check rejects."""

    ids: np.ndarray
    topic: np.ndarray
    key: np.ndarray
    bad: np.ndarray

    def payloads(self) -> list[str]:
        return [
            '{"v": %d, "ok": %s}' % (v, "false" if b else "true")
            for v, b in zip(self.ids.tolist(), self.bad.tolist())
        ]

    def names(self) -> list[str]:
        return [TOPICS[t] for t in self.topic.tolist()]

    def keys(self) -> list[str]:
        return ["k%03d" % k for k in self.key.tolist()]


def envelopes(rng: np.random.Generator, first_id: int, n: int) -> Envelopes:
    """``n`` events with uniform topics, Zipf(1.1) keys over 1,000 keys
    and exactly ``round(n / 97)`` quarantined events."""
    ranks = np.arange(1, N_KEYS + 1, dtype=np.float64)
    weights = ranks ** -ZIPF_S
    bad = np.zeros(n, dtype=bool)
    bad[rng.choice(n, size=round(n / QUARANTINE_EVERY), replace=False)] = True
    return Envelopes(
        ids=np.arange(first_id, first_id + n, dtype=np.int64),
        topic=rng.integers(0, len(TOPICS), size=n),
        key=rng.choice(N_KEYS, size=n, p=weights / weights.sum()),
        bad=bad,
    )


def set_mtimes(paths: list[str]) -> None:
    """Space file modification times one second apart, oldest first, so
    a file source that orders by mtime reads them in list order."""
    now = time.time()
    for i, path in enumerate(paths):
        t = now - (len(paths) - i)
        os.utime(path, (t, t))


def write_envelope_files(
    rng: np.random.Generator, out_dir: str, n_files: int, per_file: int
) -> list[Envelopes]:
    """A backlog of ``n_files`` ingress files of ``per_file`` enriched
    envelopes each, in the stored form the emitter writes."""
    os.makedirs(out_dir, exist_ok=True)
    blocks, paths = [], []
    created = int(time.time() * 1e6)
    for f in range(n_files):
        block = envelopes(rng, f * per_file, per_file)
        hexes = rng.bytes(32 * per_file).hex()
        uuids = [hexes[i:i + 32] for i in range(0, len(hexes), 32)]
        names, keys = block.names(), block.keys()
        meta = pa.StructArray.from_arrays(
            [
                pa.array(names),
                pa.array(np.ones(per_file, dtype=np.int32)),
                pa.array(["perfbench"] * per_file),
                pa.array(uuids[:per_file]),
                pa.array(uuids[per_file:]),
                pa.array(keys),
                pa.array(np.full(per_file, created, dtype=np.int64),
                         type=pa.timestamp("us", tz="UTC")),
            ],
            fields=list(META_TYPE),
        )
        table = pa.Table.from_arrays(
            [pa.array(names), pa.array(block.payloads()), meta,
             pa.array((block.key % 4).astype(np.int32))],
            schema=INGRESS_TYPE,
        )
        path = os.path.join(out_dir, "part-%05d.parquet" % f)
        pq.write_table(table, path)
        blocks.append(block)
        paths.append(path)
    set_mtimes(paths)
    return blocks


# ---- events table (the shape of the sf0.1 `events` table) ----------------
#
# Measured on the sf0.1 `events` table: 100,000 rows; ts uniform over
# 2024-01-01..2024-01-30 (30 days, 3,205-3,471 events a day, gaps between
# events exponential); user_id uniform over 1,500 users (0..1499, 45-99
# events each); event_type uniform over five types (19,810-20,302 each);
# value exponential with mean 49.87 and std 49.56, in whole cents, 0.00 to
# 560.21; props ``{"k": n}`` with n uniform over 0..99.

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 1500
SPAN_US = 30 * 24 * 3600 * 10**6  # thirty days
T0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
VALUE_MEAN = 50.0
N_PROP_KEYS = 100
HOUR_US = 3600 * 10**6
WATERMARK_US = 2 * HOUR_US
# Of the events in a file's last two hours, this share moves to the next
# file (their window is still open there); this share of all events
# moves three files on, past the watermark.
ON_TIME_SHARE = 0.5
LATE_SHARE = 0.01


@dataclass
class EventFiles:
    """The events table split in ts order into files, with some events
    displaced into later files. ``file_of[i]`` is the file event ``i``
    lands in; ``late[i]`` marks events displaced so far that they arrive
    behind the 2-hour watermark (their window has already closed)."""

    event_id: np.ndarray
    ts_us: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    cents: np.ndarray
    prop_k: np.ndarray
    file_of: np.ndarray
    late: np.ndarray

    def table(self, rows: np.ndarray) -> pa.Table:
        return pa.table(
            {
                "event_id": pa.array(self.event_id[rows]),
                "ts": pa.array(self.ts_us[rows], type=pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(self.user_id[rows]),
                "event_type": pa.array([EVENT_TYPES[t] for t in self.event_type[rows]]),
                "value": pa.array(self.cents[rows] / 100.0),
                "props": pa.array(['{"k": %d}' % k for k in self.prop_k[rows].tolist()]),
            }
        )


def event_files(rng: np.random.Generator, n_events: int, n_files: int) -> EventFiles:
    """``n_events`` events over thirty days, split in ts order into
    ``n_files`` equal files, with ON_TIME_SHARE of each file's last two
    hours moved to the next file and LATE_SHARE of all events moved three
    files on, well past the watermark (each file spans many more hours
    than the watermark delay plus the window)."""
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, size=n_events))
    per = n_events // n_files
    if n_events % n_files or SPAN_US // n_files < 6 * HOUR_US:
        raise ValueError("files must be equal and span well over three hours")
    home = np.arange(n_events) // per
    file_of = home.copy()
    file_max = ts.reshape(n_files, per).max(axis=1)
    near_end = (ts > file_max[home] - WATERMARK_US) & (home < n_files - 1)
    on_time = near_end & (rng.random(n_events) < ON_TIME_SHARE)
    file_of[on_time] += 1
    late = (~near_end) & (home < n_files - 3) & (rng.random(n_events) < LATE_SHARE)
    file_of[late] += 3
    return EventFiles(
        event_id=np.arange(n_events, dtype=np.int64),
        ts_us=ts,
        user_id=rng.integers(0, N_USERS, size=n_events),
        event_type=rng.integers(0, len(EVENT_TYPES), size=n_events),
        cents=np.rint(rng.exponential(VALUE_MEAN * 100, size=n_events)).astype(np.int64),
        prop_k=rng.integers(0, N_PROP_KEYS, size=n_events),
        file_of=file_of,
        late=late,
    )


def write_event_files(ev: EventFiles, out_dir: str, n_files: int | None = None) -> None:
    """Write the first ``n_files`` files (all by default)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(int(ev.file_of.max()) + 1 if n_files is None else n_files):
        path = os.path.join(out_dir, "part-%05d.parquet" % f)
        pq.write_table(ev.table(np.flatnonzero(ev.file_of == f)), path)
        paths.append(path)
    set_mtimes(paths)
