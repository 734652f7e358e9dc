"""Incremental watermark ingestion — commcare-export parity.

The reference pulls only records newer than the last-seen
``server_modified_on`` per resource and checkpoints that watermark.
Same shape here: a small JSON watermark store + a filter pushed into
the source (parquet scan or JDBC predicate), so each run touches only
new data.

Protocol: read with ``incremental_read`` (filter > watermark), process,
then ``advance_watermark`` AFTER the downstream write succeeds —
at-least-once on failure, never lost data. The watermark value is
stored as exact microseconds to avoid string-precision drift.

Scale: the watermark predicate reaches the parquet footer / database
index (PushedFilters), so incremental runs scan only new row groups.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dimagi_data_platform_spark.operators.loop import release_checkpoint


class WatermarkStore:
    """Tiny JSON key→value checkpoint file with atomic replace."""

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def get(self, name: str) -> int | None:
        return self._load().get(name)

    def set(self, name: str, value: int) -> None:
        state = self._load()
        state[name] = value
        d = os.path.dirname(os.path.abspath(self.path))
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)


def incremental_read(
    df: DataFrame, ts_col: str, store: WatermarkStore, name: str
) -> DataFrame:
    """Rows strictly newer than the stored watermark (all rows if none)."""
    wm = store.get(name)
    if wm is None:
        return df
    return df.filter(F.unix_micros(F.col(ts_col)) > F.lit(wm))


def advance_watermark(
    df: DataFrame, ts_col: str, store: WatermarkStore, name: str
) -> int | None:
    """Persist max(ts) of the processed batch; returns the new watermark
    (None and no-op for an empty batch)."""
    row = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("wm")).collect()[0]
    if row.wm is not None:
        store.set(name, int(row.wm))
    return row.wm


def upsert_partitioned(
    spark,
    updates: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    partition_col: str,
) -> None:
    """Latest-wins MERGE of an update batch into a partitioned parquet
    table, rewriting ONLY the partitions the batch touches.

    Shape (the scalable file-level upsert):
      1. dynamic partition overwrite, set on each write (not on the
         session, so later overwrites elsewhere keep their mode) —
         partitions absent from the written frame are left untouched
         on disk;
      2. existing rows are read back only for the touched partitions
         (partition-pruned scan via the IN filter);
      3. union + one (keys)-shuffled window keeps the newest row per
         key — ordering is on ``order_col`` alone, so pass a strictly
         monotonic version/ts column for deterministic winners;
      4. the merged frame is materialized (localCheckpoint) before the
         overwrite because Spark refuses to overwrite a path it is
         concurrently reading.

    At 100 TB this touches |batch partitions| / |all partitions| of the
    table — the standard warehouse upsert posture without a table
    format; swap for MERGE INTO when Delta/Iceberg is available.
    """
    import os as _os

    from pyspark.sql import Window as _W

    def write(df: DataFrame) -> None:
        df.write.partitionBy(partition_col).mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(path)

    if not _os.path.exists(path):
        write(updates)
        return
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    old = spark.read.parquet(path).filter(F.col(partition_col).isin(touched))
    merged = old.unionByName(updates)
    w = _W.partitionBy(*keys).orderBy(F.desc(order_col))
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()
    )
    write(latest)
    release_checkpoint(latest)
