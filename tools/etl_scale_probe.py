"""Composed-ETL scale probe (r14): measure the touched-grain
incremental discipline of ``run_platform_etl`` at sweep scale and
verify the incremental result against the one-shot registered queries.

Protocol, at --sf-dir (default .artifacts/sf1, 1M events = 10x the
bench default):

  1. split events at the --cut-quantile ts (default 0.99 — the
     scheduled-job shape: a SMALL new batch against long history; a
     0.5 split would touch essentially every user and measure only
     merge overhead, which a first run of this probe confirmed:
     half-corpus batch2 = 1.65x a full rebuild);
  2. warehouse A: run(history) then run(+new batch) — the incremental
     path, timing each run, recording the touched-user fraction and
     the bytes the new batch added to the warehouse;
  3. warehouse B: one run over everything — the full-rebuild cost a
     naive scheduled job would pay every day; steps 2 and 3 run once
     untimed, so no timed run finds a cold JVM (timed cold, the same
     rebuild took 3.94 s as a fifth run and 6.11 s as a third), then
     --repeats times (default 3) timed, and the artifact records each
     timing's median (one pass's ratio ranged 1.155-1.811 over four
     runs of one tree on a 4-core host);
  4. parity: serve_indicator(A) must equal the registered one-shot
     queries (monthly_usage / user_lifetime / active_users_daily /
     retention_cohorts) over the full events table, value-for-value;
  5. emit ONE JSON artifact: per-run walls, the incremental-vs-rebuild
     ratio for the new batch (median, and every pass's), the batch's
     bytes written, warehouse A's bytes per table after both runs and
     their total over the source's bytes, the touched fraction, and the
     parity verdicts.

The interesting number is t_batch2 / t_full at the recorded touched
fraction: per-batch work is proportional to TOUCHED grains' history
while the rebuild rescans everything (plans/etl.py module docstring),
so the ratio should sit well under 1 when the touched fraction is
small — and shrink further as history grows.

Earlier readings at sf1 put the ratio at 1.2-1.8x a full rebuild, for
two properties of the PROBE scale, not the design: (a) this synthetic
corpus has only 15k uniformly-active users, so even a 1000-row batch
touches ~6% of users and a 10k-row batch ~49% — the touched-grain
scoping has no sparsity to exploit; (b) at 1M events the per-batch
floor is fixed orchestration (7 indicator merges + the scoped
semi-join scan ≈ a dozen Spark jobs), which the one-shot rebuild pays
only once. At sf10 (10M events, ETL_SCALE_PROBE_SF10.json, measured
before the staging table was stored by day) the incremental batch
took 26.0 s against a 29.7 s rebuild. The staging table is stored by
UTC day of ts and ``visits`` by UTC day of session_end, so
``batch2_bytes_written`` is the touched days of those two plus the full
rewrite of every other indicator table.

Build sf1 first (local, deterministic, no download):

    python tools/make_scaled_sf.py --mult 10 --out .artifacts/sf1
    python tools/etl_scale_probe.py [--sf-dir .artifacts/sf1] \
        [--out ETL_SCALE_PROBE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _du(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.path.join(REPO, ".artifacts", "sf1")
    )
    ap.add_argument(
        "--out", default=os.path.join(REPO, "ETL_SCALE_PROBE.json")
    )
    ap.add_argument(
        "--work", default=os.path.join(REPO, ".artifacts", "etl_probe")
    )
    ap.add_argument("--cut-quantile", type=float, default=0.99)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dimagi_data_platform_spark.catalog import load_table
    from dimagi_data_platform_spark.plans.etl import (
        PlatformEtlConfig,
        run_platform_etl,
        serve_indicator,
    )
    from dimagi_data_platform_spark.plans.queries import QUERIES
    from dimagi_data_platform_spark.session import get_spark

    spark = get_spark("etl-probe")
    spark.sparkContext.setLogLevel("ERROR")

    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work, exist_ok=True)
    ev = load_table(spark, args.sf_dir, "events")
    n_events = ev.count()
    cut = ev.agg(
        F.expr(f"percentile(unix_micros(ts), {args.cut_quantile})").cast(
            "long"
        )
    ).collect()[0][0]
    n_users_total = ev.select("user_id").distinct().count()
    n_users_touched = (
        ev.filter(F.unix_micros("ts") > cut)
        .select("user_id")
        .distinct()
        .count()
    )

    src_full = os.path.join(args.work, "src_full")
    ev.write.parquet(src_full)

    def timed_runs(tag: str) -> dict:
        """Warehouse A: run(history), then run(+ new batch); warehouse
        B: one run over everything. Returns walls, reports, bytes."""
        src_incr = os.path.join(args.work, f"src_incr_{tag}")
        ev.filter(F.unix_micros("ts") <= cut).write.parquet(src_incr)
        wh_a = os.path.join(args.work, f"wh_incr_{tag}")
        cfg_a = PlatformEtlConfig(
            source_events=src_incr, warehouse=wh_a, jdbc_url=None
        )
        out = {"wh_incr": wh_a}
        t0 = time.perf_counter()
        out["r1"] = run_platform_etl(spark, cfg_a)
        out["t_batch1"] = round(time.perf_counter() - t0, 2)
        ev.filter(F.unix_micros("ts") > cut).write.mode("append").parquet(
            src_incr
        )
        bytes_before = _du(wh_a)
        t0 = time.perf_counter()
        out["r2"] = run_platform_etl(spark, cfg_a)
        out["t_batch2"] = round(time.perf_counter() - t0, 2)
        out["batch2_bytes"] = _du(wh_a) - bytes_before
        out["source_bytes"] = _du(src_incr)
        out["wh_bytes"] = _du(wh_a)
        out["table_bytes"] = {
            name: _du(os.path.join(wh_a, name))
            for name in sorted(os.listdir(wh_a))
            if os.path.isdir(os.path.join(wh_a, name))
        }
        t0 = time.perf_counter()
        run_platform_etl(
            spark,
            PlatformEtlConfig(
                source_events=src_full,
                warehouse=os.path.join(args.work, f"wh_full_{tag}"),
                jdbc_url=None,
            ),
        )
        out["t_full"] = round(time.perf_counter() - t0, 2)
        return out

    def drop(tag: str) -> None:
        for d in ("src_incr", "wh_incr", "wh_full"):
            shutil.rmtree(os.path.join(args.work, f"{d}_{tag}"), ignore_errors=True)

    # an untimed pass of the same runs first: otherwise the rebuild,
    # timed last, runs on a JVM the earlier runs warmed, and the ratio
    # moves with run order rather than with the code
    timed_runs("warm")
    drop("warm")
    passes = []
    for i in range(args.repeats):
        if passes:
            drop(f"timed{i - 1}")
        passes.append(timed_runs(f"timed{i}"))
    runs = passes[-1]

    def median(key: str) -> float:
        return statistics.median(p[key] for p in passes)

    ratios = [
        round(p["t_batch2"] / p["t_full"], 3) if p["t_full"] else None
        for p in passes
    ]

    parity: dict[str, str] = {}
    for name, qname in (
        ("monthly_usage", "monthly_usage"),
        ("user_lifetime", "user_lifetime"),
        ("active_users_daily", "active_users_daily"),
        ("retention_cohorts", "retention_cohorts"),
    ):
        want = QUERIES[qname](spark, args.sf_dir)
        cols = sorted(want.columns)
        w = sorted(map(tuple, want.select(*cols).collect()), key=repr)
        got = serve_indicator(spark, runs["wh_incr"], name)
        g = sorted(map(tuple, got.select(*cols).collect()), key=repr)
        parity[name] = (
            "ok" if g == w else f"MISMATCH ({len(g)} vs {len(w)} rows)"
        )

    out = {
        "sf_dir": os.path.relpath(args.sf_dir, REPO),
        "n_events": int(n_events),
        "cut_quantile": args.cut_quantile,
        "n_users_total": int(n_users_total),
        "n_users_touched_batch2": int(n_users_touched),
        "touched_user_fraction": round(n_users_touched / n_users_total, 4),
        "rows_batch1": int(runs["r1"]["rows_ingested"]),
        "rows_batch2": int(runs["r2"]["rows_ingested"]),
        "repeats": args.repeats,
        "t_batch1_sec": median("t_batch1"),
        "t_batch2_sec": median("t_batch2"),
        "batch2_bytes_written": int(runs["batch2_bytes"]),
        "source_bytes": int(runs["source_bytes"]),
        "warehouse_bytes": int(runs["wh_bytes"]),
        "warehouse_bytes_by_table": runs["table_bytes"],
        "warehouse_bytes_vs_source": round(
            runs["wh_bytes"] / runs["source_bytes"], 3
        ),
        "t_full_rebuild_sec": median("t_full"),
        "incr_vs_rebuild": (
            statistics.median(ratios) if None not in ratios else None
        ),
        "incr_vs_rebuild_runs": ratios,
        "parity_incremental_vs_one_shot": parity,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    main()
