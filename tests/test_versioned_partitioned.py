"""Day-partitioned versioned tables: a merge rewrites only the days it
can change and reuses every other day's directory by path. Every case
checks against the same operations on an unpartitioned twin, whose
whole-table copy-on-write merge is the reference.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
import pytest

from dimagi_data_platform_spark.sources import versioned as V

DAY_US = 86_400_000_000
T0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
SCHEMA = "id long, ts timestamp, v string"


def _frame(spark, ids, ts_us, vals):
    """A frame of (id, ts, v); an id of None is a NULL key."""
    pdf = pd.DataFrame({
        "id": pd.array(list(ids), dtype="Int64"),
        "ts": pd.to_datetime(np.asarray(ts_us, dtype=np.int64), unit="us"),
        "v": list(vals),
    })
    return spark.createDataFrame(pdf, SCHEMA)


def _rows(df):
    return sorted(map(tuple, df.select("id", "ts", "v").collect()), key=repr)


def _twins(spark, tmp_path, base):
    """The same base written day-partitioned (``p``) and plain (``u``)."""
    p, u = str(tmp_path / "p"), str(tmp_path / "u")
    V.write_version(base, p, "2024-01-01", day_partition="ts")
    V.write_version(base, u, "2024-01-01")
    return p, u


def _merge_both(spark, p, u, upd, ts):
    V.merge_version(spark, p, upd, ["id"], "ts", ts)
    V.merge_version(spark, u, upd, ["id"], "ts", ts)


def _base(spark, n=120, days=8, seed=0):
    rng = np.random.default_rng(seed)
    ts = T0 + rng.integers(0, days * DAY_US, n)
    return _frame(spark, range(n), ts, [f"b{i}" for i in range(n)]), ts


def test_scoped_merge_equals_whole_table_merge(spark, tmp_path):
    """Randomized batches, including updates that move a key to another
    day, updates that lose latest-wins, ties and inserts: the
    day-partitioned table reads the same rows as the plain one after
    every merge, and its recorded row count is right. The base is
    written blind with repeated keys and two NULL keys, which the first
    merge collapses everywhere, as the whole-table merge does; a later
    NULL-key update replaces the stored NULL-key row on another day."""
    base, ts = _base(spark)
    extra = _frame(
        spark,
        [3, 7, None, None],
        [int(ts[3]) - 1, int(ts[7]) + 1, T0 + 1, T0 + 6 * DAY_US],
        ["dup3", "dup7", "null0", "null6"],
    )
    p, u = _twins(spark, tmp_path, base.unionByName(extra))
    cur = dict(enumerate(ts.tolist()))
    cur[7] += 1
    # the first merge only inserts onto a new day, yet must rewrite the
    # stored days to collapse their repeated keys
    _merge_both(spark, p, u, _frame(spark, [9_000], [T0 + 15 * DAY_US], ["i"]), "2024-01-31")
    cur[9_000] = T0 + 15 * DAY_US
    got = V.read_version(spark, p)
    assert _rows(got) == _rows(V.read_version(spark, u))
    e = V.history(p)[-1]
    assert e["keys_unique"] and e["keys"] == ["id"]
    assert e["n_rows"] == got.count() == len(cur) + 1  # + the NULL key
    rng = np.random.default_rng(1)
    for rnd in range(3):
        ids = rng.choice(len(cur) + 10, 25, replace=False)
        new_ts = []
        for i in ids:
            old = cur.get(int(i), T0)
            kind = rng.integers(0, 4)
            if kind == 0:  # later, another day
                t = old + int(rng.integers(1, 3)) * DAY_US
            elif kind == 1:  # earlier: loses against the stored row
                t = old - 1
            elif kind == 2:  # tie: the update wins
                t = old
            else:  # later, same instant + 1 us
                t = old + 1
            new_ts.append(t)
            if int(i) not in cur or t >= cur[int(i)]:
                cur[int(i)] = t
        upd = _frame(spark, ids, new_ts, [f"r{rnd}-{i}" for i in ids])
        _merge_both(spark, p, u, upd, f"2024-02-0{rnd + 1}")
        got = V.read_version(spark, p)
        assert _rows(got) == _rows(V.read_version(spark, u)), rnd
        assert V.history(p)[-1]["n_rows"] == got.count() == len(cur) + 1
    # a NULL ts lands in its own day directory and loses latest-wins
    # against a stored row (desc nulls last), exactly as in the plain table
    nulls = spark.createDataFrame(
        pd.DataFrame({
            "id": np.array([0, 5_000], dtype=np.int64),
            "ts": pd.to_datetime(pd.Series([None, None], dtype="datetime64[us]")),
            "v": ["n0", "n5000"],
        }),
        SCHEMA,
    )
    _merge_both(spark, p, u, nulls, "2024-03-01")
    assert _rows(V.read_version(spark, p)) == _rows(V.read_version(spark, u))
    assert V._NULL_DAY in V.history(p)[-1]["parts"]
    # a NULL key on a day no stored NULL-key row is on: the probe matches
    # keys null-safe, so the stored row's day is rewritten too
    _merge_both(spark, p, u, _frame(spark, [None], [T0 + 20 * DAY_US], ["nk"]), "2024-03-02")
    got = _rows(V.read_version(spark, p))
    assert got == _rows(V.read_version(spark, u))
    assert [r[2] for r in got if r[0] is None] == ["nk"]
    # every version still reads (time travel through shared days)
    for e in V.history(u):
        n = e["version"]
        assert _rows(V.read_version(spark, p, n)) == _rows(
            V.read_version(spark, u, n)
        ), n


def test_second_batch_reuses_untouched_days_by_path(spark, tmp_path):
    """The merge writes only the days its updates fall on plus the day
    an updated key used to live on; every other day keeps its directory
    (and file) from the previous version. A read fires no Spark job."""
    base, ts = _base(spark, days=6)
    p = str(tmp_path / "p")
    V.write_version(base, p, "2024-01-01", day_partition="ts")
    e1 = V.history(p)[-1]
    assert e1["day_col"] == "ts" and len(e1["parts"]) == 6
    for d in e1["parts"].values():  # one file per day
        assert len([f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")]) == 1
    moved = int(np.argmin(ts))  # a key on day 0, updated onto day 5
    upd = _frame(
        spark, [moved, 10_000], [T0 + 5 * DAY_US + 7, T0 + 5 * DAY_US + 9], ["m", "new"]
    )
    V.merge_version(spark, p, upd, ["id"], "ts", "2024-01-02")
    e2 = V.history(p)[-1]
    written = {d for d, path in e2["parts"].items() if path.startswith(e2["dir"] + "/")}
    assert written == {"2024-01-01", "2024-01-06"}
    for d, path in e1["parts"].items():
        if d not in written:
            assert e2["parts"][d] == path, d
    assert not os.path.exists(os.path.join(p, "v=2"))  # no rename
    sc = spark.sparkContext
    sc.setJobGroup("partitioned-read", "jobs fired")
    try:
        V.read_version(spark, p)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("partitioned-read")) == 0


def test_vacuum_keeps_every_listed_day(spark, tmp_path):
    """A kept version lists day directories older versions wrote: vacuum
    keeps those, deletes the ones no kept version lists, and every kept
    version reads as before."""
    base, ts = _base(spark, days=5)
    p = str(tmp_path / "p")
    V.write_version(base, p, "2024-01-01", day_partition="ts")
    for k in range(3):
        upd = _frame(spark, [k, 500 + k], [T0 + k * DAY_US + 1, T0 + 4 * DAY_US + k], ["x", "y"])
        V.merge_version(spark, p, upd, ["id"], "ts", f"2024-01-0{k + 2}")
    before = {e["version"]: _rows(V.read_version(spark, p, e["version"])) for e in V.history(p)}
    for keep in (2, 1):
        V.vacuum(p, keep_last=keep, stage_retention_sec=0)
        kept = V.history(p)
        assert len(kept) == keep
        listed = set().union(*(set(e["parts"].values()) for e in kept))
        for d in listed:
            assert os.path.isdir(os.path.join(p, d)), d
        on_disk = {
            f"{top}/{sub}"
            for top in os.listdir(p)
            if top.startswith(V.STAGE_PREFIX)
            for sub in os.listdir(os.path.join(p, top))
            if sub.startswith("__day=")
        }
        assert on_disk == listed
        for e in kept:
            assert _rows(V.read_version(spark, p, e["version"])) == before[e["version"]]


def test_occ_loser_recomputes_against_winner(spark, tmp_path, monkeypatch):
    """A concurrent merge takes the next version number first; the loser
    drops its staged days and recomputes its scoped merge against the
    winner's snapshot, so both merges' rows survive."""
    base, ts = _base(spark, n=40, days=4)
    p, u = _twins(spark, tmp_path, base)
    first = _frame(spark, [1, 2], [T0 + 3 * DAY_US + 5, T0 + 3 * DAY_US + 6], ["w1", "w2"])
    second = _frame(spark, [2, 3], [T0 + 3 * DAY_US + 9, T0 + 1], ["l2", "l3"])
    state = {"injected": False}
    real_commit = V._commit

    def racing_commit(path, entry):
        if path == p and not state["injected"]:
            state["injected"] = True
            V.merge_version(spark, path, first, ["id"], "ts", "2024-01-02")
        real_commit(path, entry)

    monkeypatch.setattr(V, "_commit", racing_commit)
    assert V.merge_version(spark, p, second, ["id"], "ts", "2024-01-03") == 3
    monkeypatch.setattr(V, "_commit", real_commit)
    V.merge_version(spark, u, first, ["id"], "ts", "2024-01-02")
    V.merge_version(spark, u, second, ["id"], "ts", "2024-01-03")
    assert _rows(V.read_version(spark, p)) == _rows(V.read_version(spark, u))
    live = {e["dir"] for e in V.history(p)}
    assert [d for d in os.listdir(p) if d.startswith(V.STAGE_PREFIX) and d not in live] == []


def test_added_column_reads_null_from_untouched_days(spark, tmp_path):
    """Additive evolution: days the merge did not rewrite still hold the
    old files, and read NULL in the new column; CDF across the merge
    equals the plain twin's."""
    base, ts = _base(spark, n=30, days=3)
    p, u = _twins(spark, tmp_path, base)
    pdf = pd.DataFrame({
        "id": np.array([0, 99], dtype=np.int64),
        "ts": pd.to_datetime(np.array([T0 + 2 * DAY_US + 3] * 2), unit="us"),
        "v": ["w0", "w99"],
        "w": np.array([7, 8], dtype=np.int64),
    })
    wide = spark.createDataFrame(pdf, SCHEMA + ", w long")
    _merge_both(spark, p, u, wide, "2024-01-02")
    cols = ["id", "ts", "v", "w"]
    got = sorted(map(tuple, V.read_version(spark, p).select(*cols).collect()))
    want = sorted(map(tuple, V.read_version(spark, u).select(*cols).collect()))
    assert got == want
    assert sum(r[3] is None for r in got) == len(got) - 2
    ch = lambda t: sorted(  # noqa: E731
        map(tuple, V.read_changes(spark, t, 1, 2, ["id"]).select(*cols, "_change_type").collect()),
        key=repr,
    )
    assert ch(p) == ch(u) and len(ch(p)) >= 3


def test_cdf_across_partition_scoped_merge(spark, tmp_path):
    """read_changes between two day-partitioned versions classifies
    exactly like the plain table, a key that moved days included."""
    base, ts = _base(spark, n=50, days=5)
    p, u = _twins(spark, tmp_path, base)
    moved = int(np.argmin(ts))  # day 0 -> day 4
    loser = int(np.flatnonzero((ts - T0) // DAY_US == 3)[0])
    upd = _frame(
        spark,
        [moved, 1_000, loser],
        [T0 + 4 * DAY_US + 1, T0 + 2 * DAY_US, int(ts[loser]) - 1],
        ["moved", "ins", "loses"],
    )
    _merge_both(spark, p, u, upd, "2024-01-02")
    ch = lambda t: sorted(  # noqa: E731
        map(tuple, V.read_changes(spark, t, 1, 2, ["id"]).collect()), key=repr
    )
    got = ch(p)
    assert got == ch(u)
    kinds = {(r[0], r[-1]) for r in got}
    assert kinds == {
        (moved, "update_preimage"), (moved, "update_postimage"), (1_000, "insert"),
    }


def test_dv_merge_refused_and_compaction_keeps_days(spark, tmp_path):
    """Merge-on-read raises a clear error on a day-partitioned table;
    compaction keeps the day layout (one file per day, same rows)."""
    base, ts = _base(spark, n=40, days=4)
    p = str(tmp_path / "p")
    V.write_version(base.repartition(8), p, "2024-01-01", day_partition="ts")
    upd = _frame(spark, [1], [T0 + 1], ["x"])
    with pytest.raises(ValueError, match="day-partitioned"):
        V.merge_version_dv(spark, p, upd, ["id"], "ts", "2024-01-02")
    V.merge_version(spark, p, upd, ["id"], "ts", "2024-01-02")
    before = _rows(V.read_version(spark, p))
    V.compact_version(spark, p, "2024-01-03")
    e = V.history(p)[-1]
    assert e["compaction"] and e["day_col"] == "ts" and len(e["parts"]) == 4
    for d in e["parts"].values():
        assert d.startswith(e["dir"] + "/")
        assert len([f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")]) == 1
    assert _rows(V.read_version(spark, p)) == before
    assert e["n_rows"] == len(before)


def test_layout_is_fixed_at_creation_and_empty_writes_return(spark, tmp_path):
    """An unpartitioned table refuses a day layout later, and a blind
    write onto a day-partitioned table keeps it; an empty write records
    zero rows and returns."""
    u = str(tmp_path / "u")
    V.write_version(_frame(spark, [1], [T0], ["a"]), u, "2024-01-01")
    with pytest.raises(ValueError, match="fixed"):
        V.write_version(_frame(spark, [2], [T0], ["b"]), u, "2024-01-02", day_partition="ts")
    p = str(tmp_path / "p")
    empty = _frame(spark, [], [], [])
    done = []

    def empty_commits():
        done.append(V.write_version(empty, p, "2024-01-01", day_partition="ts"))
        done.append(V.merge_version(spark, p, empty, ["id"], "ts", "2024-01-01"))

    t = threading.Thread(target=empty_commits, daemon=True)
    t.start()
    t.join(120)
    assert done == [1, 2], "an empty write or merge did not return"
    e = V.history(p)[-1]
    assert e["n_rows"] == 0 and e["parts"] == {} and V.read_version(spark, p).count() == 0
    V.write_version(_frame(spark, [3], [T0 + DAY_US], ["c"]), p, "2024-01-02")
    assert list(V.history(p)[-1]["parts"]) == ["2024-01-02"]
    # a merge whose only day is new reads no stored day
    V.merge_version(spark, p, _frame(spark, [4], [T0 + 9 * DAY_US], ["d"]), ["id"], "ts", "2024-01-03")
    e = V.history(p)[-1]
    assert sorted(e["parts"]) == ["2024-01-02", "2024-01-10"] and e["n_rows"] == 2
    assert [r[0] for r in _rows(V.read_version(spark, p))] == [3, 4]
