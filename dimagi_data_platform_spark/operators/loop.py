"""The loop contract shared by the nine iterative kernels: connected
components (propagate and star, components.py), PageRank / PPR, BFS
and k-core (graph.py), BPE training (bpe.py), and the label-propagation
and HITS queries in plans/queries.py.

Every driver loop makes the same three decisions; each sits behind one
helper here, so the kernels hold only their recurrence:

- **edge cache** — :func:`cached_edges` hash-repartitions the edge list
  on the key the per-round aggregate groups by and persists it WITH
  lineage for the loop's lifetime. A persisted frame keeps its
  ``outputPartitioning`` visible to Catalyst (a ``localCheckpoint``
  scan loses it), so each round's groupBy reads the cached clustering
  through a broadcast frontier join with no edge Exchange. The cache
  is released when the ``with`` block exits, also when the loop
  raises. Lost cache blocks recompute from lineage, so the edge set
  needs no durable copy even under ``reliable=True``.
- **broadcast guard** — :func:`guarded_broadcast` broadcasts a
  vertex-sized frame (a rank, label or BFS frontier) into the edge
  join only while its exact row count, known from a count the loop
  already runs, is at most ``max_rows``; past that the join falls back
  to a shuffle. A checkpointed frontier has no statistics, so Catalyst
  alone would shuffle the edge list every round. :func:`row_count`
  takes such a count of a checkpointed frame in one job.
- **lineage truncation** — :func:`loop_checkpoint` materializes loop
  state eagerly (plans stay flat however many rounds run) and, given
  ``prev``, releases the previous round's checkpoint through
  :func:`release_checkpoint` once the new one is on disk or in memory.
  A kernel passes ``prev`` only when nothing it still reads (and
  nothing it returns) depends on that frame, so after a call returns
  the only live checkpoint blocks are the ones its result reads.

Two durability levels for loop state:

- ``reliable=False`` (default): ``localCheckpoint`` — blocks live in
  executor storage. Fastest, but the blocks DIE WITH THE EXECUTOR:
  fine for bounded local runs, fatal for a multi-hour 100 TB PageRank
  where one lost executor restarts the whole computation.
- ``reliable=True``: ``checkpoint`` — blocks are written to the
  SparkContext checkpoint directory (HDFS/object store on a cluster)
  and survive executor loss. Costs a full write+read per truncation.

Both materialize the same rows, so results are bitwise IDENTICAL
(pinned by tests/test_graph_intervals.py::test_reliable_checkpoint_identical).
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Above this row count a vertex-sized frontier is no longer broadcast
# into the per-round edge join (~16 bytes/row -> ~64 MB at 4M).
BROADCAST_MAX_VERTICES = 4_000_000


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


@contextmanager
def cached_edges(edges: DataFrame, key: str) -> Iterator[DataFrame]:
    """``edges.repartition(key).persist()`` for the ``with`` block;
    the cache is released on exit, also when the block raises. The
    loop's result must not read the cached frame (checkpoint it)."""
    cached = edges.repartition(key).persist()
    try:
        yield cached
    finally:
        cached.unpersist()


def guarded_broadcast(
    df: DataFrame, n_rows: int, max_rows: int = BROADCAST_MAX_VERTICES
) -> DataFrame:
    """``F.broadcast(df)`` while ``n_rows`` (``df``'s exact row count)
    is at most ``max_rows``, else ``df`` unhinted (shuffle join)."""
    return F.broadcast(df) if n_rows <= max_rows else df


def row_count(df: DataFrame) -> int:
    """``df.count()`` without its aggregate: counts the physical plan's
    rows directly, where ``count()`` plans an aggregate that adaptive
    execution runs as a map job plus a result job. The count is exact
    for any plan; a plan with no shuffle (a checkpoint and its
    filters) runs in one job, and a shuffled one adds its stages."""
    return df._jdf.queryExecution().toRdd().count()


def loop_checkpoint(
    df: DataFrame,
    reliable: bool = False,
    prev: DataFrame | None = None,
    disk: bool = False,
) -> DataFrame:
    """Eagerly checkpoint ``df`` per the durability level above, then
    release ``prev`` (the checkpoint this one supersedes).

    ``disk=True`` keeps local blocks serialized at ``DISK_ONLY``, for
    EDGE-scale state: default local blocks are deserialized rows in
    the unified memory pool, and the sf10 k-core probe measured
    several multi-GB block sets there starving the degree aggregates
    into AGGREGATE_OUT_OF_MEMORY. Values do not depend on the level."""
    if reliable:
        ensure_checkpoint_dir(df.sparkSession)
        out = df.checkpoint()
    elif disk:
        out = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    else:
        out = df.localCheckpoint()
    if prev is not None:
        release_checkpoint(prev)
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``/``checkpoint`` result
    now. ``DataFrame.unpersist`` only drops cache-manager entries: the
    checkpointed rows live in the persisted RDD under the frame's
    ``LogicalRDD`` leaf, which stays in ``getPersistentRDDs`` after the
    call. Unpersisting that RDD releases it. ``df`` must not be read
    again afterwards; a frame that is not a checkpoint result is left
    alone."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
