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
     naive scheduled job would pay every day;
  4. parity: serve_indicator(A) must equal the registered one-shot
     queries (monthly_usage / user_lifetime / active_users_daily /
     retention_cohorts) over the full events table, value-for-value;
  5. emit ONE JSON artifact: per-run walls, the incremental-vs-rebuild
     ratio for the new batch, the batch's bytes written, the touched
     fraction, and the parity verdicts.

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
UTC day of ts, so ``batch2_bytes_written`` is the touched days of
staging plus the full rewrite of every indicator table.

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

    src_incr = os.path.join(args.work, "src_incr")
    ev.filter(F.unix_micros("ts") <= cut).write.parquet(src_incr)
    wh_a = os.path.join(args.work, "wh_incr")
    cfg_a = PlatformEtlConfig(
        source_events=src_incr, warehouse=wh_a, jdbc_url=None
    )

    t0 = time.perf_counter()
    r1 = run_platform_etl(spark, cfg_a)
    t_batch1 = round(time.perf_counter() - t0, 2)
    ev.filter(F.unix_micros("ts") > cut).write.mode("append").parquet(
        src_incr
    )
    bytes_before = _du(wh_a)
    t0 = time.perf_counter()
    r2 = run_platform_etl(spark, cfg_a)
    t_batch2 = round(time.perf_counter() - t0, 2)
    batch2_bytes = _du(wh_a) - bytes_before

    src_full = os.path.join(args.work, "src_full")
    ev.write.parquet(src_full)
    wh_b = os.path.join(args.work, "wh_full")
    t0 = time.perf_counter()
    run_platform_etl(
        spark,
        PlatformEtlConfig(
            source_events=src_full, warehouse=wh_b, jdbc_url=None
        ),
    )
    t_full = round(time.perf_counter() - t0, 2)

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
        got = serve_indicator(spark, wh_a, name)
        g = sorted(map(tuple, got.select(*cols).collect()), key=repr)
        parity[name] = (
            "ok" if g == w else f"MISMATCH ({len(g)} vs {len(w)} rows)"
        )

    out = {
        "sf_dir": args.sf_dir,
        "n_events": int(n_events),
        "cut_quantile": args.cut_quantile,
        "n_users_total": int(n_users_total),
        "n_users_touched_batch2": int(n_users_touched),
        "touched_user_fraction": round(n_users_touched / n_users_total, 4),
        "rows_batch1": int(r1["rows_ingested"]),
        "rows_batch2": int(r2["rows_ingested"]),
        "t_batch1_sec": t_batch1,
        "t_batch2_sec": t_batch2,
        "batch2_bytes_written": int(batch2_bytes),
        "t_full_rebuild_sec": t_full,
        "incr_vs_rebuild": round(t_batch2 / t_full, 3) if t_full else None,
        "parity_incremental_vs_one_shot": parity,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    main()
