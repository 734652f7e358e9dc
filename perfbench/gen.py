"""Seeded event feed for the ``etl_hourly`` workload.

One process, numpy + pyarrow, no Spark. The feed is a CommCare-style
event stream in the schema of the star schema's ``events`` table
(``event_id, ts, user_id, event_type, value, props``):

- ``N_USERS`` users with Zipf(``ZIPF_S``) activity: user of activity
  rank r draws events with weight r**-ZIPF_S, and ranks map to user ids
  through a seeded permutation;
- a history of ``DAYS`` days at ``EVENTS_PER_DAY`` events a day, starting
  at ``T0`` (noon, so the hourly batches that follow share a UTC day
  with the last half-day of history);
- then hourly batches of ``BATCH_NEW`` new events plus ``N_RESUB``
  (``RESUB_FRAC`` of them) resubmissions.

A resubmission follows the contract of ``plans/etl.py``: it keeps its
``event_id``, ``user_id`` and UTC day, and carries a later ``ts`` and a
changed ``value``. Originals are drawn from the current day's events
that precede the batch, so the new ``ts`` (inside the batch hour) is
always later and on the same day.

The feed also keeps the latest-wins view of every event (what the
staging MERGE must converge to), which the output check runs the
registered one-shot queries over.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 20_000
ZIPF_S = 1.1
DAYS = 30
EVENTS_PER_DAY = 10_000
BATCH_NEW = 417
RESUB_FRAC = 0.05
N_RESUB = round(RESUB_FRAC * BATCH_NEW)
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_MIX = np.array([0.50, 0.30, 0.10, 0.05, 0.05])
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])

HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
#: 2024-01-01T12:00:00 UTC in epoch microseconds
T0 = 1_704_110_400_000_000

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


class EventFeed:
    """History plus a deterministic sequence of hourly batches.

    The same ``seed`` and the same calls give the same tables; callers
    take ``history()`` first, then ``next_batch()`` once per hour."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        weights = np.arange(1, N_USERS + 1, dtype=np.float64) ** -ZIPF_S
        self._p_user = weights / weights.sum()
        self._rank_to_user = self.rng.permutation(N_USERS).astype(np.int64)
        # latest-wins state, indexed by event_id
        self._ts = np.empty(0, np.int64)
        self._user = np.empty(0, np.int64)
        self._type = np.empty(0, np.int8)
        self._value = np.empty(0, np.float64)
        self._props = np.empty(0, np.int16)
        self._hour = 0  # next batch hour after the history

    # ---- generation -----------------------------------------------------

    def _draw(self, n: int, start_us: int, span_us: int) -> dict:
        rng = self.rng
        ts = np.sort(start_us + rng.integers(0, span_us, n, dtype=np.int64))
        ranks = rng.choice(N_USERS, size=n, p=self._p_user)
        return {
            "ts": ts,
            "user": self._rank_to_user[ranks],
            "type": rng.choice(len(EVENT_TYPES), size=n, p=EVENT_MIX).astype(np.int8),
            "value": self._values(n),
            "props": rng.integers(0, 100, n).astype(np.int16),
        }

    def _values(self, n: int) -> np.ndarray:
        return np.round(self.rng.exponential(50.0, n), 2)

    def _append(self, cols: dict) -> np.ndarray:
        first = len(self._ts)
        self._ts = np.concatenate([self._ts, cols["ts"]])
        self._user = np.concatenate([self._user, cols["user"]])
        self._type = np.concatenate([self._type, cols["type"]])
        self._value = np.concatenate([self._value, cols["value"]])
        self._props = np.concatenate([self._props, cols["props"]])
        return np.arange(first, len(self._ts), dtype=np.int64)

    def history(self) -> pa.Table:
        """The ``DAYS``-day history; call once, before any batch."""
        if len(self._ts):
            raise RuntimeError("history() was already generated")
        parts = [
            self._draw(EVENTS_PER_DAY, T0 + d * DAY_US, DAY_US)
            for d in range(DAYS)
        ]
        ids = self._append({k: np.concatenate([p[k] for p in parts]) for k in parts[0]})
        return self._table(ids)

    def batch_start_us(self) -> int:
        return T0 + DAYS * DAY_US + self._hour * HOUR_US

    def next_batch(self) -> pa.Table:
        """The next hour: ``BATCH_NEW`` new events plus resubmissions of
        same-day events that precede the hour."""
        start = self.batch_start_us()
        day_start = start - (start % DAY_US)
        if start + HOUR_US > day_start + DAY_US:
            raise RuntimeError("the batch hours ran past the last history day")
        pool = np.flatnonzero((self._ts >= day_start) & (self._ts < start))
        picked = np.sort(self.rng.choice(pool, size=N_RESUB, replace=False))
        new_ts = start + self.rng.integers(0, HOUR_US, N_RESUB, dtype=np.int64)
        new_value = self._values(N_RESUB)
        same = new_value == self._value[picked]
        new_value[same] += 0.01
        self._ts[picked] = new_ts
        self._value[picked] = new_value
        fresh = self._append(self._draw(BATCH_NEW, start, HOUR_US))
        self._hour += 1
        return self._table(np.concatenate([picked, fresh]))

    # ---- views ------------------------------------------------------------

    def _table(self, ids: np.ndarray) -> pa.Table:
        return pa.table(
            {
                "event_id": ids,
                "ts": pa.array(self._ts[ids], pa.timestamp("us")),
                "user_id": self._user[ids],
                "event_type": EVENT_TYPES[self._type[ids]],
                "value": self._value[ids],
                "props": PROPS[self._props[ids]],
            },
            schema=SCHEMA,
        )

    def latest_view(self) -> pa.Table:
        """Every event as its latest submission (latest-wins on ts)."""
        return self._table(np.arange(len(self._ts), dtype=np.int64))


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)
