"""Tests of the seeded ``etl_hourly`` feed (no Spark).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _feed_bytes(tmp_path, seed: int, tag: str, batches: int = 3) -> list[bytes]:
    feed = gen.EventFeed(seed)
    tables = [feed.history()] + [feed.next_batch() for _ in range(batches)]
    tables.append(feed.latest_view())
    out = []
    for i, t in enumerate(tables):
        p = tmp_path / f"{tag}-{i}.parquet"
        gen.write(t, str(p))
        out.append(p.read_bytes())
    return out


def test_same_seed_is_byte_identical(tmp_path):
    assert _feed_bytes(tmp_path, 7, "a") == _feed_bytes(tmp_path, 7, "b")
    assert _feed_bytes(tmp_path, 7, "a") != _feed_bytes(tmp_path, 8, "c")


def test_history_shape_and_mix():
    h = gen.EventFeed(1).history()
    assert h.num_rows == gen.DAYS * gen.EVENTS_PER_DAY
    assert h.schema == gen.SCHEMA
    assert h.column("event_id").to_pylist() == list(range(h.num_rows))
    types = h.column("event_type").to_numpy(zero_copy_only=False)
    shares = [(types == t).mean() for t in gen.EVENT_TYPES]
    assert np.allclose(shares, gen.EVENT_MIX, atol=0.01)


def test_resubmissions_keep_user_and_day_with_later_ts():
    feed = gen.EventFeed(3)
    h = feed.history()
    first = {
        e: (u, t)
        for e, u, t in zip(
            h.column("event_id").to_pylist(),
            h.column("user_id").to_pylist(),
            h.column("ts").to_pylist(),
        )
    }
    landed_max = max(t for _, t in first.values())
    for _ in range(4):
        start = feed.batch_start_us()
        b = feed.next_batch()
        n_resub = 0
        for e, u, t in zip(
            b.column("event_id").to_pylist(),
            b.column("user_id").to_pylist(),
            b.column("ts").to_pylist(),
        ):
            # every row lands after everything ingested so far
            assert t > landed_max
            if e in first:
                n_resub += 1
                u0, t0 = first[e]
                assert u == u0
                assert t > t0
                assert t.date() == t0.date()
            first[e] = (u, t)
        assert n_resub == gen.N_RESUB
        assert b.num_rows == gen.BATCH_NEW + gen.N_RESUB
        landed_max = max(b.column("ts").to_pylist())
        assert pc.min(b.column("ts")).value >= start


def test_resubmission_changes_value_and_latest_view_wins():
    feed = gen.EventFeed(5)
    h = feed.history().to_pandas().set_index("event_id")
    b = feed.next_batch().to_pandas().set_index("event_id")
    resub = b.index[b.index.isin(h.index)]
    assert len(resub) == gen.N_RESUB
    assert (b.loc[resub, "value"] != h.loc[resub, "value"]).all()
    latest = feed.latest_view().to_pandas().set_index("event_id")
    assert len(latest) == len(h) + gen.BATCH_NEW
    assert (latest.loc[resub, "ts"] == b.loc[resub, "ts"]).all()
    assert (latest.loc[resub, "value"] == b.loc[resub, "value"]).all()


def test_touched_user_fraction_is_about_one_percent():
    feed = gen.EventFeed(11)
    feed.history()
    for _ in range(5):
        users = set(feed.next_batch().column("user_id").to_pylist())
        assert 0.005 <= len(users) / gen.N_USERS <= 0.02
