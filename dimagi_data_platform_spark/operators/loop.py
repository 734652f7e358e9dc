"""Shared lineage-truncation contract for the iterative operators
(PageRank / BFS / k-core in graph.py, connected components, BPE
training).

Every loop truncates lineage on a bounded cadence so plans stay flat.
Two durability levels:

- ``reliable=False`` (default): ``localCheckpoint`` — blocks live in
  executor storage (memory/disk). Fastest, but the blocks DIE WITH THE
  EXECUTOR: fine for bounded local/test runs and short jobs, fatal for
  a multi-hour 100 TB PageRank where one lost executor restarts the
  whole computation from round zero.
- ``reliable=True``: ``checkpoint`` — blocks are written to the
  SparkContext checkpoint directory (HDFS/object store on a cluster),
  surviving executor loss; recomputation after a failure resumes from
  the last checkpointed round. Costs a full write+read per truncation,
  which a multi-hour iterative job happily pays.

Both paths materialize the same rows, so results are bitwise
IDENTICAL — the option moves durability/cost only (pinned by
tests/test_graph_intervals.py::test_reliable_checkpoint_identical).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame


def ensure_checkpoint_dir(spark) -> str:
    """Set a SparkContext checkpoint dir if none is configured yet and
    return it. Local default: a session-scoped temp dir — a real
    cluster should call ``sc.setCheckpointDir`` with an HDFS/object
    store path before running reliable loops (this fallback keeps
    local runs and tests working without ceremony)."""
    sc = spark.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    if current.isDefined():
        return current.get()
    path = os.path.join(
        tempfile.gettempdir(), f"spark-graft-ckpt-{sc.applicationId}"
    )
    sc.setCheckpointDir(path)
    return path


def loop_checkpoint(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage per the shared loop contract (see
    module docstring). ``reliable=True`` requires/auto-provisions a
    checkpoint dir."""
    if reliable:
        ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint()
    return df.localCheckpoint()


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``/``checkpoint`` result
    now. ``DataFrame.unpersist`` only drops cache-manager entries: the
    checkpointed rows live in the persisted RDD under the frame's
    ``LogicalRDD`` leaf, which stays in ``getPersistentRDDs`` after the
    call. Unpersisting that RDD releases it. ``df`` must not be read again afterwards; a frame
    that is not a checkpoint result is left alone."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def disk_materialize(df: DataFrame, prev: DataFrame | None = None) -> DataFrame:
    """EDGE-SCALE loop truncation: eager ``localCheckpoint`` at
    ``DISK_ONLY`` (a Spark 4 capability), freeing ``prev`` (the
    previous cadence's materialization) once the new one is on disk.

    Why not the plain localCheckpoint default for edge-sized loop
    state: default localCheckpoint blocks are DESERIALIZED rows in the
    unified memory pool's storage region — six k-core rounds over a
    239M-edge graph accumulate several multi-GB block sets there, and
    the r12 sf10 probe measured the degree aggregates then dying with
    AGGREGATE_OUT_OF_MEMORY (execution memory starved by loop state).
    Why not a bare DISK_ONLY ``persist``: persist keeps lineage, so
    every round's shuffle files stay referenced for the whole loop —
    the same probe then filled 70+ GB of local disk. Checkpointing AT
    DISK_ONLY cuts lineage (old shuffles become GC-reclaimable), keeps
    blocks serialized on disk instead of in the memory pool, computes
    once, and the predecessor unpersist caps live state at one
    edge-set copy. Values are storage-level invariant."""
    from pyspark import StorageLevel

    out = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    if prev is not None:
        prev.unpersist()
    return out
