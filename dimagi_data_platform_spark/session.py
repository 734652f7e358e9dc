"""SparkSession factory tuned for both local testing and cluster scale.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion based on observed sizes.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value but
  is env-overridable; on a real cluster AQE coalesces from a high initial
  number, so the initial value should be ~2-3x total cores there.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive timestamps) byte-for-byte.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- Codegen class cache sized to the ETL's class working set: one
  ``run_platform_etl`` batch generates ~223 distinct whole-stage
  classes in the same cyclic order every batch, so Spark's default
  100-entry LRU missed on every one of them in every batch (Janino and
  then the JIT paid again each time). At 1000 entries a steady batch
  compiles only the stages whose inlined literals change per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dimagi_data_platform_spark.compat import ensure_protobuf


def _default_driver_mem() -> str:
    """Local-mode heap default: a quarter of host RAM, clamped to
    [8g, 24g]. In local mode the driver JVM IS every executor, so a
    fixed 8g starves 32 concurrent tasks' execution memory once loop
    state or shuffle buffers grow (the r12 sf10 probe measured k-core
    degree aggregates dying with AGGREGATE_OUT_OF_MEMORY under multi-GB
    checkpoint blocks at 8g on a 125 GB box). Env SPARK_DRIVER_MEM
    still overrides; on a real cluster the deploy sizes executors
    explicitly and this default is irrelevant."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
        quarter_g = kb // (4 * 1024 * 1024)
        return f"{min(24, max(8, quarter_g))}g"
    except Exception:  # pragma: no cover - non-linux fallback
        return "8g"


def get_spark(app_name: str = "dimagi-data-platform-spark") -> SparkSession:
    # Before the JVM starts: transformWithStateInPandas workers need
    # google.protobuf on the PYTHONPATH they inherit from the JVM.
    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as long;
        # catalog.load_table converts them to µs timestamps exactly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write INT64 micros, not legacy INT96: stats-capable (min/max
        # pruning works on ts sort keys) and standard across engines
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        # Commit and fault in the whole heap at JVM start: on
        # memory-overcommitted hosts (e.g. microVM guests), first-touch
        # page faults during execution stall tasks by seconds; paying
        # them once at startup keeps query timings about the plan.
        # Pre-touch a FIXED 8g floor (not the adaptive max): committing
        # the full adaptive heap at every session start would pin
        # 24 GB per concurrent session (test runs spawn many); beyond
        # Xms the heap grows lazily on demand.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '8g')}"
            " -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
