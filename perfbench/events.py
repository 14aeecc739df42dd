"""Seeded event streams in the ``events`` table shape, framed as
Confluent Avro messages.

The load process sends them and the benchmark derives the expected
output from the same seed, so both sides agree on every event's id,
due time and kind without talking to each other.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from perfbench import wire

SCHEMA_ID = 42
SCHEMA = {
    "type": "record", "name": "events",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": "string"},
    ],
}
SCHEMA_JSON = json.dumps(SCHEMA)
TYPES = ["long", "long", "long", "string", "double", "string"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_BASE_US = 1_704_067_200_000_000      # 2024-01-01 UTC
EVENT_MIN_PER_S = 60                       # one wall second = one event-time minute
LATE_BY_US = 3_600_000_000                 # late events: one event-time hour behind
WATERMARK = "2 minutes"


@dataclass
class Stream:
    ids: np.ndarray          # event id per original event
    due: np.ndarray          # send time per original, seconds after start
    late: np.ndarray         # bool per original
    messages: list           # (due_s, partition, framed value, original index), by due
    dup_count: int           # re-sent originals

    def shares(self) -> dict:
        n = len(self.ids)
        return {"duplicate": self.dup_count / n, "late": float(self.late.sum() / n)}

    @property
    def on_time_ids(self) -> np.ndarray:
        return self.ids[~self.late]


def make_stream(seed: int, n: int, *, rate: float | None, id_base: int, partitions: int,
                dup_share: float, late_share: float, t_event0_us: int = EVENT_BASE_US,
                encode: bool = True) -> Stream:
    """``n`` events due at ``rate`` per second (all due at 0 when
    ``rate`` is None). A ``dup_share`` of on-time events is re-sent
    50–500 ms after the original; a ``late_share`` carries an event time
    one hour behind the stream. ``encode=False`` skips building the
    messages (the expected output needs only ids, due times and kinds)."""
    rng = np.random.default_rng(seed)
    due = np.arange(n) / rate if rate else np.zeros(n)
    ids = id_base + np.arange(n, dtype=np.int64)
    ts = (t_event0_us + (due * EVENT_MIN_PER_S * 1e6).astype(np.int64)
          + rng.integers(0, 1_000_000, n))
    late = rng.random(n) < late_share
    ts = np.where(late, ts - LATE_BY_US, ts)
    users = rng.integers(0, 150, n)
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    values = np.round(rng.exponential(50.0, n), 2) + 0.01
    props = rng.integers(0, 100, n)
    dup = (rng.random(n) < dup_share) & ~late
    dup_delay = rng.uniform(0.05, 0.5, n)

    msgs = []
    for i in range(n if encode else 0):
        row = (int(ids[i]), int(ts[i]), int(users[i]), EVENT_TYPES[kinds[i]], float(values[i]),
               '{"k": %d}' % props[i])
        value = wire.frame(SCHEMA_ID, wire.avro_encode(TYPES, row))
        part = int(ids[i]) % partitions
        msgs.append((float(due[i]), part, value, i))
        if dup[i]:
            msgs.append((float(due[i] + (dup_delay[i] if rate else 0.0)), part, value, i))
    msgs.sort(key=lambda m: m[0])
    return Stream(ids, due, late, msgs, int(dup.sum()))
