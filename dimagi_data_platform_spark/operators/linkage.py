"""Record-linkage helpers: exact distributed global ranking and
sorted-neighborhood candidate generation.

A naive global ``row_number() OVER (ORDER BY ...)`` collapses into ONE
task (the window has no partition key), which is exactly what a 100 TB
sort cannot do. ``global_row_number`` computes the identical rank
distributedly: range-partition on the sort key, rank within each
partition, then add each partition's cumulative row offset (a
partition-count aggregate small enough to broadcast). The result is
deterministic for a total sort key even though range boundaries are
sampled.

Sorted-neighborhood linkage then pairs each record with its ``w``
nearest neighbors in that global order — the classic entity-resolution
candidate generator when no clean blocking key exists (Hernandez &
Stolfo's sorted-neighborhood method): candidate volume is n*w, not
block_size².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dimagi_data_platform_spark.operators.loop import row_count


def frozen_range_pid(
    df: DataFrame,
    order_cols: list[str],
    npart: int,
    sample_n: int | None = None,
    pid_col: str = "__pid",
    sample: list[tuple] | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Append a deterministic range-bucket id ``pid_col`` that is
    monotone in (order_cols) order: every row in bucket p sorts before
    every row in bucket p+1.

    Why not ``repartitionByRange``: its boundary SAMPLING reruns on
    every recomputation of the lineage, so two branches of the same
    plan (e.g. the ranked stream and the per-partition offset
    aggregate it joins back to) can observe DIFFERENT partition
    assignments — silent rank/prefix corruption whenever the upstream
    is not perfectly order-stable (any groupBy/distinct is not). Here
    the sampled boundaries are collected ONCE (bounded: ``sample_n``
    rows, default 20/partition) and FROZEN into the plan as literals,
    so every branch buckets identically no matter how often the input
    recomputes. Boundary quality only affects balance, never
    correctness — the offsets join repairs any skew of counts.

    Rows whose key is NULL-leading compare NULL against every boundary
    and land in bucket 0, matching Spark's NULLS FIRST ascending sort.
    """
    names = [f"__f{i}" for i in range(len(order_cols))]

    def _key(vals: list[Column]) -> Column:
        return F.struct(*[v.alias(n) for v, n in zip(vals, names)])

    # JVM-side sampling: the old rdd.takeSample here cost ~2.7s of pure
    # Python-RDD serialization overhead PER RANK even on 15k rows; a
    # count + seeded DataFrame sample + Arrow collect keeps both jobs
    # in the JVM. Boundaries are still collected ONCE and frozen as
    # literals, so recompute-stability is unchanged; oversampling only
    # improves boundary quality (balance, never correctness).
    # Callers ranking the SAME input on several orderings can collect
    # one wide sample themselves and pass per-ordering tuples via
    # ``sample`` — skipping the count+collect jobs here entirely.
    if sample is None:
        # r14: materialize the input once before fanning out over it.
        # Without this, the count job, the sample job, and every
        # downstream branch of the caller (the ranked stream + the
        # per-bucket offsets aggregate at minimum) each recompute the
        # input subtree — for the usual caller (a grouped value-grain)
        # that is 4+ repeats of its scan+shuffle. The checkpointed
        # grain is bounded by the caller's grain size, and boundary
        # FREEZING (the correctness mechanism) is unchanged.
        # ``materialize=False`` opts out (ADVICE r14) for callers whose
        # input is already materialized (parquet scan, checkpoint) or
        # unbounded — pair the opt-out with operators/loop.py's
        # loop_checkpoint(disk=True) when blocks would starve execution
        # memory.
        if materialize:
            df = df.localCheckpoint()
        n_target = sample_n or max(npart * 20, 200)
        proj = df.select(*order_cols)
        # counts the physical plan's rows: one job where ``count()``
        # runs two under AQE, on either path (both callers' inputs are
        # checkpoints; a shuffled input would only add its stages)
        cnt = row_count(proj)
        if cnt == 0:
            sample = []
        elif cnt <= 4 * n_target:
            sample = proj.collect()
        else:
            frac = min(1.0, (3.0 * n_target) / cnt)
            sample = (
                proj.sample(False, frac, seed=42).limit(8 * n_target).collect()
            )
    keys = sorted(tuple(r) for r in sample if None not in tuple(r))
    bounds: list[tuple] = []
    for i in range(1, npart):
        if not keys:
            break
        b = keys[min(len(keys) - 1, (i * len(keys)) // npart)]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    key = _key([F.col(c) for c in order_cols])
    pid: Column = F.lit(0)
    for b in bounds:
        lit = _key([F.lit(v) for v in b])
        pid = pid + F.coalesce((key > lit).cast("int"), F.lit(0))
    return df.withColumn(pid_col, pid)


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    sample: list[tuple] | None = None,
) -> DataFrame:
    """1-based global row number in (order_cols) order, computed with
    range partitioning instead of a single-task window. ``order_cols``
    must be a total order (include a unique key) for determinism.
    ``sample`` (optional, tuples in order_cols order) skips the
    boundary-sampling jobs — see frozen_range_pid."""
    par = df.sparkSession.sparkContext.defaultParallelism
    parted = frozen_range_pid(df, order_cols, par, sample=sample)
    in_part = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = parted.withColumn("__prn", F.row_number().over(in_part))
    # cumulative rows BEFORE each partition: tiny (one row per
    # partition) -> windowed running sum then broadcast back
    offsets = (
        ranked.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__prn") + F.col("__off")).cast("long"))
        .drop("__pid", "__prn", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    window: int = 3,
    sample: list[tuple] | None = None,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, rank_dist) for every two records
    within ``window`` positions of each other in the global
    (order_cols) sort. One distributed rank + one equi-join on the
    anchor rank — shuffle volume n*window rows. ``sample`` (tuples in
    order_cols order) skips the boundary-sampling jobs — multi-pass
    SNM callers collect ONE wide sample and derive each pass's tuples
    locally (see frozen_range_pid)."""
    # r15 (guide §2.3): only (id, rn) survive the rank — project the
    # compare payload away BEFORE the range exchange + in-bucket window
    # so the sort carries keys, not document/token columns; and
    # localCheckpoint the (two-long) ranked table ONCE — it feeds both
    # the anchor explode and the right side of the rank join, which
    # otherwise each re-ran the whole rank subtree (scan + exchange +
    # window + offsets join), guide §2.1.
    keep = list(dict.fromkeys([*order_cols, id_col]))
    ranked = (
        global_row_number(df.select(*keep), order_cols, sample=sample)
        .select(F.col(id_col).alias("__id"), "rn")
        .localCheckpoint()
    )
    anchors = ranked.select(
        F.col("__id").alias("id_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + window)
        ).alias("rn_b"),
        F.col("rn").alias("rn_a"),
    )
    return (
        anchors.join(
            ranked.select(F.col("__id").alias("id_b"), F.col("rn").alias("rn_b")),
            "rn_b",
        )
        .withColumn("rank_dist", (F.col("rn_b") - F.col("rn_a")).cast("long"))
        .select("id_a", "id_b", "rank_dist")
    )


def sorted_neighborhood_pairs_multi(
    df: DataFrame,
    passes: list[list[str]],
    id_col: str,
    window: int = 3,
    samples: list[list[tuple]] | None = None,
) -> DataFrame:
    """Multi-pass SNM candidate pairs sharing ONE distributed rank.

    Each entry of ``passes`` is an order_cols list (all passes must be
    position-wise type-compatible — e.g. (block, name, key) and
    (block, reversed_name, key)); the per-pass sort streams are melted
    into a single (pass, key...) union and ranked ONCE, so P passes pay
    one range exchange + one in-bucket window + one ranked checkpoint
    instead of P of each (guide §2.4 — two operations keyed the same
    way share one exchange). Within pass p the melted global rank is
    (p·n + per-pass rank), so anchor joins on (pass, rank) reproduce
    exactly the per-pass pair sets; ``rank_dist`` is the per-pass rank
    distance, unchanged. ``samples[i]`` are boundary-sample tuples in
    ``passes[i]`` order (see frozen_range_pid — callers collect one
    wide sample and derive each pass's tuples locally); pass None to
    let the rank sample the melted stream itself.

    Returns the UNION of all passes' (id_a, id_b, rank_dist) — callers
    dedup exactly as they did for unioned single-pass calls.
    """
    n_keys = len(passes[0])
    assert all(len(p) == n_keys for p in passes), "ragged pass order_cols"
    knames = [f"__k{i}" for i in range(n_keys)]
    melted = None
    for p_idx, cols in enumerate(passes):
        part = df.select(
            F.lit(p_idx).alias("__p"),
            *[F.col(c).alias(k) for c, k in zip(cols, knames)],
            F.col(id_col).alias("__id"),
        )
        melted = part if melted is None else melted.unionByName(part)
    sample = None
    if samples is not None:
        sample = [
            (p_idx, *t) for p_idx, ts in enumerate(samples) for t in ts
        ]
    ranked = (
        global_row_number(melted, ["__p", *knames], sample=sample)
        .select("__p", "__id", "rn")
        .localCheckpoint()
    )
    anchors = ranked.select(
        "__p",
        F.col("__id").alias("id_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + window)
        ).alias("rn_b"),
        F.col("rn").alias("rn_a"),
    )
    return (
        anchors.join(
            ranked.select(
                "__p", F.col("__id").alias("id_b"), F.col("rn").alias("rn_b")
            ),
            ["__p", "rn_b"],
        )
        .withColumn("rank_dist", (F.col("rn_b") - F.col("rn_a")).cast("long"))
        .select("id_a", "id_b", "rank_dist")
    )


def global_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    out_prefix: str = "cum_",
) -> DataFrame:
    """Exact inclusive running totals of ``sum_cols`` in (order_cols)
    order, without a single-task global window: range-bucket on the
    frozen boundaries (see :func:`frozen_range_pid` — both the
    in-bucket running sums and the per-bucket totals branch recompute
    against the SAME bucketing), run windowed sums within each bucket,
    then add each bucket's cumulative offset (one tiny row per bucket,
    broadcast back). The distributed-rank pattern generalized from row
    counts to arbitrary additive measures — the backbone for exact
    ECDFs / rank statistics at scale.

    ``order_cols`` should be a total order of the rows (e.g. a distinct
    value grain) so running sums are well-defined.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    parted = frozen_range_pid(df, order_cols, par)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = parted
    for c in sum_cols:
        cum = cum.withColumn(f"{out_prefix}{c}", F.sum(c).over(w_in))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = parted.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    for c in sum_cols:
        offsets = offsets.withColumn(
            f"__o_{c}", F.coalesce(F.sum(f"__t_{c}").over(w_off), F.lit(0))
        )
    out = cum.join(
        F.broadcast(offsets.select("__pid", *[f"__o_{c}" for c in sum_cols])),
        "__pid",
    )
    for c in sum_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            (F.col(f"{out_prefix}{c}") + F.col(f"__o_{c}")).cast("long"),
        )
    return out.drop("__pid", *[f"__o_{c}" for c in sum_cols])
