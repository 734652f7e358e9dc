"""Composed platform ETL — the reference's end-to-end job (P57 shape):
ingest → normalize → indicators → serve, as ONE config-driven driver.

The reference platform ran commcare-export ingestion, form/visit
normalization, monthly indicator builds, and a Postgres publish as a
single scheduled pipeline. ``run_platform_etl`` chains the Spark-first
equivalents that already exist as graded components:

  P8  incremental watermark ingest   (sources/incremental.py)
  P62 versioned staging MERGE        (sources/versioned.py, latest-wins
                                      by event_id — resubmission dedup)
  P1  latest event per user          (operators/dedup.latest_by_key)
  P2  visit sessionization           (operators/sessionize.sessionize)
  P3  monthly usage indicators
  P4  domain-level DAU + day-over-day delta   (day grain)
  P5  cohort retention matrix                 (cohort_day × offset grain)
  P5b user lifetime / attrition               (user grain + horizon flips)
  P9  JDBC staging + server-side MERGE upsert (sources/jdbc.py)

Crash-safety contract (the at-least-once discipline of P8): the
watermark advances ONLY after every downstream write has succeeded, so
a crash anywhere re-processes the same batch on resume — and every
write in the chain is CONVERGENT under re-processing:

  - staging: copy-on-write MERGE, latest-wins on (event_id, ts) — a
    replayed batch rewrites the same days to the same rows;
  - indicator tables: versioned MERGE keyed on the indicator grain,
    ordered by the batch watermark stamp (a replay carries the same
    stamp; ties resolve update-wins to the identical row);
  - warehouse publish: ANSI MERGE upsert keyed on the grain.

So `run(); crash; run()` converges to the byte-identical warehouse
state of a never-crashed run — proven by tests/test_platform_etl.py,
which kills the driver between stages and diffs final state.

Scale posture: per-batch work is proportional to the TOUCHED grains'
history, not the corpus —

  - user-grain indicators (P1/P2/P3/P5b) recompute only for users
    present in the incoming batch (an ``IN`` filter of the staged
    table on the touched user ids; session boundaries and monthly
    aggregates of untouched users cannot change). The bootstrap (no
    watermark yet) touches every user, so it builds no ``IN`` list;
  - P2 ``visits`` is stored by UTC day of ``session_end`` and merges
    only the touched users' sessions that end at or after the batch's
    earliest UTC day start: every event a batch can change is at or
    after it, so an earlier session keeps its events, its ordinal
    ``session_id`` and its stats. A stored session of a touched user
    that ends there and that the recompute no longer produces (a
    resubmission joined it to another) is merged as an
    ``n_events = 0`` tombstone (``serve_indicator`` filters them);
    the merge rewrites only those sessions' days;
  - the day-grain DAU table (P4) recomputes only the batch's days (a
    ``ts`` range filter, which skips the other days' files by their
    parquet min/max stats, plus the exact day test); the lag-based
    ``dau_delta`` additionally rewrites each touched day's NEXT
    existing day, with untouched days' counts read from the small
    existing indicator table rather than rescanned;
  - the cohort-grain retention matrix (P5) maintains a per-user
    ``user_first_day`` helper (user grain, touched-users-only) and
    recomputes only the AFFECTED cohort days — the touched users' old
    and new cohorts — over those cohorts' members' history; cells a
    recompute no longer produces are merged as ``n_users = 0``
    tombstones (``serve_indicator`` filters them);
  - P5b's ``churned`` flag depends on the global horizon (the staged
    max ts == the batch watermark), so besides the touched users the
    run flips exactly the stored rows whose idle gap first crossed the
    horizon-minus-7-days line — an O(users-table) filter, never an
    event rescan (churned is monotone: the horizon only advances).

The versioned MERGE + JDBC MERGE then update only those grains. The
staging table is created day-partitioned on ``ts`` and ``visits`` on
``session_end`` (``sources/versioned.py``), so their merges rewrite
only the UTC days the updates fall on, plus any day that already holds
one of their keys (one key probe of the stored table); every other
day's file is shared with the previous version. The other indicator
tables still rewrite in full. Below the row work sits a fixed
per-batch job floor (about 50 Spark jobs: one write job per versioned
commit, plus the two key probes, the eager checkpoints, the
touched-grain joins and the publish); the batch's count, watermark,
commit stamp, touched user ids and days come from one observation on
its checkpoint, and the touched-grain filters are ``IN`` lists rather
than broadcast joins, so neither costs a job of its own. Tables
created unpartitioned (before this layout) keep rewriting in full.
Every commit is written as zstd parquet with v2 pages (the storage
format in ``sources/versioned.py``), which about halves the staged
events and cuts ``visits`` by a quarter against snappy v1 pages; on
the 1M-event probe (``tools/etl_scale_probe.py``) the warehouse went
from 1.47 to 0.88 times its source's bytes, and the second batch
wrote 0.41 MB instead of 1.03 MB.

NULL user ids: an event with a NULL ``user_id`` feeds no user-grain
indicator (P1/P2/P3/P5/P5b) in any batch, the bootstrap included: the
scoped filters never match it (as the semi joins they replace never
did), and the bootstrap drops it. So the served tables do not depend
on which batch such an event arrives in. It still counts in the
day-grain DAU ``total_value``, which is not scoped by user.

Resubmission contract (matches the reference's form-resubmission
semantics): a resubmitted event (same event_id, later ts) may change
its payload but keeps its user_id and day — the touched-grain scoping
above keys off the incoming batch's users/days, so a resubmission
that silently MOVED an event across users or days would leave the
abandoned grain stale: a user grain until that user's next batch, a
DAU day until a batch has events on that day again, and a ``visits``
session on an earlier day for good (a later batch's cut lies after
it, so no batch merges it again).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from dimagi_data_platform_spark.functions.num import dsum
from dimagi_data_platform_spark.operators.dedup import latest_by_key
from dimagi_data_platform_spark.operators.loop import release_checkpoint
from dimagi_data_platform_spark.operators.sessionize import sessionize
from dimagi_data_platform_spark.sources.incremental import (
    WatermarkStore,
    incremental_read,
)
from dimagi_data_platform_spark.sources.jdbc import (
    JdbcConfig,
    merge_sql,
    write_jdbc,
)
from dimagi_data_platform_spark.sources.versioned import (
    history,
    merge_version,
    read_version,
    write_version,
)


@dataclass
class PlatformEtlConfig:
    """Declarative pipeline config — the single entrypoint surface.

    ``jdbc_url``/``jdbc_driver`` point the publish stage at a live
    warehouse (embedded Derby in tests, Postgres in production — the
    same dialect-portable MERGE). ``publish`` lists which indicator
    tables to serve. ``fail_after`` is the crash-injection seam used
    by the convergence test; production callers leave it None."""

    source_events: str
    warehouse: str
    jdbc_url: str | None = None
    jdbc_driver: str = "org.postgresql.Driver"
    jdbc_user: str = ""
    jdbc_password: str = ""
    publish: tuple[str, ...] = ("monthly_usage",)
    watermark_name: str = "events"
    fail_after: str | None = None


# indicator grain keys (also the MERGE keys, versioned and JDBC)
_INDICATOR_KEYS = {
    "latest_event": ["user_id"],
    "visits": ["user_id", "session_id"],
    "monthly_usage": ["user_id", "month"],
    "user_lifetime": ["user_id"],
    "user_first_day": ["user_id"],
    "active_users_daily": ["day"],
    "retention_cohorts": ["cohort_day", "day_offset"],
}


def _latest_event(ev: DataFrame) -> DataFrame:
    """P1 — mirrors the registered `latest_event_per_user` query."""
    return latest_by_key(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


def _visits(ev: DataFrame) -> DataFrame:
    """P2 — mirrors the registered `visits_sessionize` query."""
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800, tie_break="event_id")
    dur = (
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).cast("double")
        / F.lit(1000000.0)
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dur.alias("duration_s"),
        dsum("value").alias("total_value"),
    )


def _monthly_usage(ev: DataFrame) -> DataFrame:
    """P3 — mirrors the registered `monthly_usage` query."""
    return ev.groupBy(
        "user_id", F.date_trunc("month", "ts").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.countDistinct("event_type").alias("n_event_types"),
        dsum("value").alias("total_value"),
        F.date_trunc("day", F.min("ts")).alias("first_day"),
        F.date_trunc("day", F.max("ts")).alias("last_day"),
    )


def _user_lifetime(ev: DataFrame, horizon_us: int) -> DataFrame:
    """P5b — mirrors the registered `user_lifetime` query, with the
    global horizon passed in as the batch watermark (== the staged
    table's max ts, because the watermark filter is strict and every
    merge is latest-wins on ts)."""
    g = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
    )
    life_us = F.unix_micros("last_ts") - F.unix_micros("first_ts")
    idle_us = F.lit(int(horizon_us)) - F.unix_micros("last_ts")
    return g.select(
        "user_id",
        "first_ts",
        "last_ts",
        "n_events",
        "active_days",
        F.floor(life_us.cast("double") / F.lit(86_400_000_000.0))
        .cast("long")
        .alias("lifetime_days"),
        (idle_us > F.lit(7 * 86_400_000_000)).alias("churned"),
    )


def _user_first_day(ev: DataFrame) -> DataFrame:
    """P5 helper — per-user cohort day (min ts truncated to day)."""
    return ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )


_DAY_US = 86_400_000_000
#: an event's UTC day start in epoch microseconds (the session time
#: zone is pinned to UTC)
_DAY_US_SQL = "unix_micros(date_trunc('day', ts))"
#: touched-user lists longer than this scope by a broadcast join with
#: the batch instead. A batch on sf1 (1M events, 4 cores) timed alike
#: either way up to ~800 touched users (medians of 9 runs within
#: 0.07 s), and slower with the IN lists from ~1k users on (+0.3 s at
#: 1k and 1.9k, +0.7 s at 4.2k, +1.0 s at 5.6k): every plan carrying
#: the list handles all its values again. Below this the lists save
#: the joins' broadcast jobs
_IN_LIST_MAX = 500


def _isin(sql: str, values: list) -> Column:
    """``<sql> IN (values)`` for integer values, as ONE SQL expression:
    ``Column.isin`` sends each value to the JVM in its own py4j call,
    about 0.13 ms a value (0.9 s for 7k user ids). NULL never matches,
    as in the semi join this replaces."""
    if not values:
        return F.lit(False)
    return F.expr(f"{sql} IN ({', '.join(str(int(v)) for v in values)})")


#: every versioned table the pipeline maintains, in build order —
#: the convergence test diffs all of them
INDICATOR_TABLES = (
    "latest_event",
    "visits",
    "monthly_usage",
    "user_lifetime",
    "user_first_day",
    "active_users_daily",
    "retention_cohorts",
)


#: tables whose batches store tombstones (the versioned MERGE has no
#: delete clause), and the count column that is 0 on one: retention
#: cells a recompute emptied, and sessions a resubmission joined into
#: another
_TOMBSTONE_COUNT = {"retention_cohorts": "n_users", "visits": "n_events"}


def serve_indicator(spark: SparkSession, warehouse: str, name: str) -> DataFrame:
    """Read an indicator table for serving: drops the internal
    watermark stamp and filters tombstones (``_TOMBSTONE_COUNT``)."""
    df = read_version(spark, f"{warehouse}/{name}").drop("_etl_wm")
    if name in _TOMBSTONE_COUNT:
        df = df.filter(F.col(_TOMBSTONE_COUNT[name]) > 0)
    return df


def _merge_or_init(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    commit_ts: str,
    day_partition: str | None = None,
) -> int:
    """Merge into the table, or create it (day-partitioned on
    ``day_partition`` if given) from the first batch. An unpartitioned
    table's first version is written sorted by key within each file,
    as every later merge's key window writes it: clustered keys
    compress (``user_first_day`` 44 → 14 KB at the benchmark's seed 11)."""
    if not history(path):
        if day_partition is None:
            updates = updates.sortWithinPartitions(*keys)
        return write_version(updates, path, commit_ts, day_partition=day_partition)
    return merge_version(spark, path, updates, keys, order_col, commit_ts)


def _maybe_fail(cfg: PlatformEtlConfig, stage: str) -> None:
    if cfg.fail_after == stage:
        raise RuntimeError(f"injected crash after stage {stage!r}")


def _publish_jdbc(
    spark: SparkSession,
    cfg: PlatformEtlConfig,
    name: str,
    rows: DataFrame,
    keys: list[str],
) -> int:
    """P9 publish: write the batch's indicator rows to a staging table,
    then one server-side ANSI MERGE into the target. Identifiers are
    uppercased (Derby/Postgres resolve unquoted MERGE references to
    upper/lower case respectively; Spark's writer quotes them as
    given, so uppercase round-trips on both)."""
    from dimagi_data_platform_spark.sources.jdbc import _check_ident

    up = rows.select([F.col(c).alias(c.upper()) for c in rows.columns])
    target = _check_ident(name.upper(), "publish table name")
    staging = _check_ident(f"{target}_STG", "publish staging name")
    jcfg = lambda table: JdbcConfig(  # noqa: E731
        url=cfg.jdbc_url,
        table=table,
        driver=cfg.jdbc_driver,
        user=cfg.jdbc_user,
        password=cfg.jdbc_password,
    )
    write_jdbc(up, jcfg(staging), mode="overwrite")
    # first publish: create the target as an empty copy of staging
    jvm = spark._jvm
    if cfg.jdbc_user:
        conn = jvm.java.sql.DriverManager.getConnection(
            cfg.jdbc_url, cfg.jdbc_user, cfg.jdbc_password
        )
    else:
        conn = jvm.java.sql.DriverManager.getConnection(cfg.jdbc_url)
    try:
        meta = conn.getMetaData()
        rs = meta.getTables(None, None, target, None)
        exists = rs.next()
        rs.close()
        st = conn.createStatement()
        try:
            if not exists:
                st.executeUpdate(
                    f"CREATE TABLE {target} AS SELECT * FROM {staging} "
                    f"WITH NO DATA"
                )
            n = st.executeUpdate(
                merge_sql(
                    target,
                    staging,
                    keys=[k.upper() for k in keys],
                    columns=[c.upper() for c in rows.columns],
                )
            )
        finally:
            st.close()
    finally:
        conn.close()
    return int(n)


def _normalize_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Same timestamp normalization as catalog.load_table: session tz
    pinned UTC, NTZ columns cast to plain TIMESTAMP (unix_micros and
    RANGE windows reject NTZ)."""
    from pyspark.sql.types import TimestampNTZType

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def run_platform_etl(spark: SparkSession, cfg: PlatformEtlConfig) -> dict:
    """One incremental pipeline run; returns a report dict. Safe to
    re-run at any time: an empty batch is a no-op, a replayed batch
    converges (see module docstring)."""
    store = WatermarkStore(f"{cfg.warehouse}/watermark.json")
    events = _normalize_ts(spark, spark.read.parquet(cfg.source_events))
    batch = incremental_read(events, "ts", store, cfg.watermark_name)
    return _process_batch(spark, cfg, batch)


def _process_batch(
    spark: SparkSession, cfg: PlatformEtlConfig, batch: DataFrame
) -> dict:
    """The shared convergent per-batch chain (batch driver and the
    streaming twin's foreachBatch both land here). Every frame the
    chain pins with ``localCheckpoint`` is released when the batch
    returns or raises, so a long-lived scheduler or stream holds no
    checkpoint blocks between batches."""
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        df = df.localCheckpoint()
        pinned.append(df)
        return df

    try:
        return _run_batch(spark, cfg, batch, pin)
    finally:
        for df in pinned:
            release_checkpoint(df)


def _run_batch(
    spark: SparkSession,
    cfg: PlatformEtlConfig,
    batch: DataFrame,
    pin: Callable[[DataFrame], DataFrame],
) -> dict:
    """The chain itself; ``pin`` checkpoints a frame for the batch's
    lifetime. The watermark advances to max(stored, batch max) so an
    out-of-order micro-batch (a late-listed archive file) never walks
    the horizon backwards."""
    store = WatermarkStore(f"{cfg.warehouse}/watermark.json")
    wm_before = store.get(cfg.watermark_name)
    # the bootstrap (no watermark yet, also when it is replayed after a
    # crash) touches every user, so it skips the user scoping
    bootstrap = wm_before is None
    # the batch drives several stages: pin it once, and take everything
    # the chain needs to know about it from an observation on that one
    # job (a collect after the pin cost two more)
    obs = Observation()
    metrics = [
        F.count(F.lit(1)).alias("n"),
        F.count("ts").alias("n_ts"),
        F.max(F.unix_micros("ts")).alias("wm"),
        F.max("ts").cast("string").alias("m"),
        F.collect_set(F.expr(_DAY_US_SQL)).alias("days"),
    ]
    if not bootstrap:
        metrics.append(F.collect_set("user_id").alias("users"))
    batch = pin(batch.observe(obs, *metrics))
    stats = obs.get
    n_batch = int(stats["n"])
    report = {
        "watermark_before": wm_before,
        "rows_ingested": n_batch,
        "stages": [],
    }
    if n_batch == 0:
        report["no_op"] = True
        return report
    new_wm = max(int(stats["wm"]), int(wm_before or 0))
    commit_ts = stats["m"]
    # touched user ids (None: every user) and the batch's UTC day starts
    users = None if bootstrap else stats["users"]
    days = sorted(stats["days"])
    # every event this batch can change lies at or after its earliest
    # day start (a resubmission keeps its day); a NULL ts sorts first in
    # every user's sessions, so it gives no such bound
    cut = days[0] if days and stats["n_ts"] == n_batch else None
    _maybe_fail(cfg, "ingest")

    # staging MERGE: latest-wins resubmission dedup on event_id; the
    # table is stored by UTC day of ts, so a batch rewrites only the
    # days it touches
    staging_path = f"{cfg.warehouse}/staging_events"
    v = _merge_or_init(
        spark, staging_path, batch, ["event_id"], "ts", commit_ts,
        day_partition="ts",
    )
    report["stages"].append(("stage_merge", v))
    _maybe_fail(cfg, "stage_merge")

    def touched(df: DataFrame, anti: bool = False) -> DataFrame:
        """``df``'s rows of the touched users (``anti``: the other rows).
        A NULL user_id is never touched, as in a semi or anti join; an
        IN list needs no broadcast job, a long one scopes by a join."""
        if len(users) > _IN_LIST_MAX:
            how = "anti" if anti else "semi"
            return df.join(F.broadcast(batch.select("user_id")), "user_id", how)
        hit = _isin("user_id", users)
        return df.filter((F.col("user_id").isNull() | ~hit) if anti else hit)

    # indicators recompute ONLY the touched users' grains, from the
    # full staged history of those users
    staged = read_version(spark, staging_path)
    # the bootstrap scopes no users, but leaves NULL user ids out as
    # every later batch's filters do
    scoped = pin(
        staged.filter(F.col("user_id").isNotNull())
        if users is None
        else touched(staged)
    )
    wm_stamp = F.lit(int(new_wm)).cast("long").alias("_etl_wm")
    updates: dict[str, DataFrame] = {}

    def _apply(
        name: str,
        rows: DataFrame,
        day_partition: str | None = None,
        pin_rows: bool = False,
    ) -> None:
        rows = rows.withColumn("_etl_wm", wm_stamp)
        # pin only what is read more than once (the publish stage's
        # re-read, or a merge's key probe): an extra checkpoint per
        # indicator is one wasted eager job each (measured ~0.5-1.5 s
        # of the per-batch floor at sf1)
        if pin_rows or (cfg.jdbc_url and name in cfg.publish):
            rows = pin(rows)
        updates[name] = rows
        iv = _merge_or_init(
            spark,
            f"{cfg.warehouse}/{name}",
            rows,
            _INDICATOR_KEYS[name],
            "_etl_wm",
            commit_ts,
            day_partition=day_partition,
        )
        report["stages"].append((f"indicator:{name}", iv))

    _apply("latest_event", _latest_event(scoped))

    # P2 visits, stored by UTC day of session_end. A session that ends
    # before ``cut`` keeps its ordinal session_id (every earlier event is
    # unchanged) and either keeps its events or gains one at or after
    # ``cut``, which moves its end there: so only the sessions that end
    # at or after ``cut`` are merged, and the merge rewrites only their
    # days. Such a stored session of a touched user that the recompute
    # no longer produces (a resubmission joined it to another) becomes
    # an n_events = 0 tombstone.
    vis_path = f"{cfg.warehouse}/visits"
    vis_rows = _visits(scoped)
    vis_stored = bool(history(vis_path))
    if vis_stored:
        keys = _INDICATOR_KEYS["visits"]
        old = (
            read_version(spark, vis_path)
            .drop("_etl_wm")
            .filter(F.col("n_events") > 0)
        )
        if users is not None:
            old = touched(old)
        if cut is not None:
            since = F.timestamp_micros(F.lit(cut))
            vis_rows = vis_rows.filter(F.col("session_end") >= since)
            old = old.filter(F.col("session_end") >= since)
        # per key, a recomputed session wins over the stored one, which
        # otherwise stays as a tombstone (one pass over the recompute;
        # an anti join against it would run the sessionization twice)
        gone = old.select(*vis_rows.columns).withColumn(
            "n_events", F.lit(0).cast("long")
        )
        vis_rows = (
            vis_rows.withColumn("__new", F.lit(True))
            .unionByName(gone.withColumn("__new", F.lit(False)))
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(*keys).orderBy(F.desc("__new"))
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__new", "__rn")
        )
    _apply("visits", vis_rows, day_partition="session_end", pin_rows=vis_stored)

    _apply("monthly_usage", _monthly_usage(scoped))

    # P5b user lifetime: touched users recomputed against the new
    # horizon + the stored rows whose idle gap just crossed 7 days
    # (churned is monotone under an advancing horizon)
    life_path = f"{cfg.warehouse}/user_lifetime"
    life_rows = _user_lifetime(scoped, int(new_wm))
    if users is not None and history(life_path):
        stored = (
            read_version(spark, life_path)
            .drop("_etl_wm")
            .filter(~F.col("churned"))
            .filter(
                F.lit(int(new_wm)) - F.unix_micros("last_ts")
                > F.lit(7 * 86_400_000_000)
            )
        )
        flipped = touched(stored, anti=True).withColumn("churned", F.lit(True))
        life_rows = life_rows.unionByName(flipped.select(*life_rows.columns))
    _apply("user_lifetime", life_rows)

    # P5 helper: per-user cohort day — capture the touched users' OLD
    # cohorts before the merge rewrites them
    ufd_path = f"{cfg.warehouse}/user_first_day"
    if history(ufd_path):
        old_cohorts = read_version(spark, ufd_path)
        if users is not None:
            old_cohorts = touched(old_cohorts)
        old_cohorts = old_cohorts.select("cohort_day").distinct()
    else:
        old_cohorts = None
    new_first = _user_first_day(scoped)
    _apply("user_first_day", new_first)

    # P4 DAU: recompute the batch's days from a day-scoped semi-join;
    # the lag-based delta also rewrites each touched day's next
    # existing day, with untouched days' counts read from the existing
    # (small) indicator table
    dau_path = f"{cfg.warehouse}/active_users_daily"
    in_days = _isin(_DAY_US_SQL, days)
    if days:
        # the range lets the scan skip every other day's file by its
        # parquet min/max stats; the day test keeps only the batch's days
        in_days = (
            (F.col("ts") >= F.timestamp_micros(F.lit(days[0])))
            & (F.col("ts") < F.timestamp_micros(F.lit(days[-1] + _DAY_US)))
            & in_days
        )
    day_scoped = staged.filter(in_days)
    new_days = day_scoped.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("dau"),
        dsum("value").alias("total_value"),
    )
    spine = new_days.withColumn("_touched", F.lit(True))
    if history(dau_path):
        untouched = (
            read_version(spark, dau_path)
            .select("day", "dau", "total_value")
            .filter(F.col("day").isNull() | ~_isin("unix_micros(day)", days))
            .withColumn("_touched", F.lit(False))
        )
        spine = spine.unionByName(untouched)
    wd = Window.orderBy("day")
    dau_rows = (
        spine.select(
            "day",
            "dau",
            "total_value",
            (F.col("dau") - F.lag("dau").over(wd)).alias("dau_delta"),
            (
                F.col("_touched")
                | F.coalesce(F.lag("_touched").over(wd), F.lit(False))
            ).alias("_rewrite"),
        )
        .filter(F.col("_rewrite"))
        .drop("_rewrite")
    )
    _apply("active_users_daily", dau_rows)

    # P5 retention matrix: recompute every cell of the AFFECTED cohort
    # days (touched users' old + new cohorts) over those cohorts'
    # members' full history; cells the recompute no longer produces
    # become n_users = 0 tombstones (serve_indicator filters them)
    ret_path = f"{cfg.warehouse}/retention_cohorts"
    affected = new_first.select("cohort_day").distinct()
    if old_cohorts is not None:
        affected = affected.union(old_cohorts).distinct()
    cohort_users = read_version(spark, ufd_path).join(
        F.broadcast(affected), "cohort_day", "semi"
    )
    hist_ev = staged.join(
        F.broadcast(cohort_users.select("user_id")), "user_id", "semi"
    )
    active = hist_ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cells = (
        cohort_users.join(active, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    if history(ret_path):
        gone = (
            read_version(spark, ret_path)
            .select("cohort_day", "day_offset")
            .join(F.broadcast(affected), "cohort_day", "semi")
            .join(cells, ["cohort_day", "day_offset"], "anti")
            .withColumn("n_users", F.lit(0).cast("long"))
        )
        cells = cells.unionByName(gone.select(*cells.columns))
    _apply("retention_cohorts", cells)
    _maybe_fail(cfg, "indicators")

    if cfg.jdbc_url:
        for name in cfg.publish:
            n = _publish_jdbc(
                spark,
                cfg,
                name,
                updates[name].drop("_etl_wm"),
                _INDICATOR_KEYS[name],
            )
            report["stages"].append((f"publish:{name}", n))
    _maybe_fail(cfg, "publish")

    # the at-least-once commit point: everything downstream succeeded
    store.set(cfg.watermark_name, int(new_wm))
    report["watermark_after"] = int(new_wm)
    return report


def run_platform_etl_stream(
    spark: SparkSession,
    cfg: PlatformEtlConfig,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> list[dict]:
    """Streaming twin of :func:`run_platform_etl` (VERDICT r13 item 6):
    the SAME config and the SAME convergent per-batch chain, driven by
    a Structured Streaming file source instead of the watermark read.
    Each micro-batch lands in :func:`_process_batch` via
    ``foreachBatch`` — the P63 pattern (per-micro-batch copy-on-write
    merges into the versioned warehouse tables), composed over the
    whole indicator set rather than one table.

    Exactly-once posture: the streaming checkpoint provides
    at-least-once file delivery and every write in the chain is
    CONVERGENT under replay (module docstring), so a crash mid-batch
    resumes to the same warehouse state — the same contract the batch
    driver proves with its crash-injection test. No watermark filter
    is applied to micro-batches (the checkpoint already dedups
    delivery, and a late-listed file with older timestamps must not be
    dropped); the stored watermark only ratchets the horizon via
    max(stored, batch max).

    Equivalence contract (tested): draining the same source directory
    — in however many micro-batches, whatever their order — converges
    to the batch driver's warehouse state on every business column.
    The ``_etl_wm`` bookkeeping stamp is batching-dependent (each row
    carries the watermark of the batch that last touched it) and is
    excluded from the contract; ``serve_indicator`` drops it.

    Runs with ``trigger(availableNow=True)``: processes everything
    currently in the directory, then stops — the scheduled-job shape.
    Returns the per-micro-batch report list.
    """
    schema = spark.read.parquet(cfg.source_events).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(cfg.source_events)
    )
    reports: list[dict] = []

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        batch = _normalize_ts(spark, bdf)
        r = _process_batch(spark, cfg, batch)
        r["epoch"] = int(epoch_id)
        reports.append(r)

    q = (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return reports
