"""Unit tests for connected components and the banded range join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dimagi_data_platform_spark.operators.components import (
    component_clusters,
    connected_components,
)
from dimagi_data_platform_spark.operators.intervals import point_in_interval_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _cc(spark, n_vertices, edges):
    v = spark.createDataFrame([(i,) for i in range(n_vertices)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(v, e)
    return {r.id: r.component for r in out.collect()}


def test_cc_chain_converges_past_one_hop(spark):
    # 0-1-2-3-4 chain: labels must propagate the full diameter
    got = _cc(spark, 5, [(0, 1), (1, 2), (2, 3), (3, 4)])
    assert got == {i: 0 for i in range(5)}


def test_cc_singletons_and_two_clusters(spark):
    got = _cc(spark, 6, [(1, 2), (4, 3)])
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_cc_edge_direction_irrelevant(spark):
    # min label reachable even when edges point "away" from the min
    assert _cc(spark, 3, [(2, 0), (2, 1)]) == {0: 0, 1: 0, 2: 0}


def test_component_clusters_sizes(spark):
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    out = component_clusters(connected_components(v, e))
    got = {r.id: (r.component, r.cluster_size) for r in out.collect()}
    assert got == {0: (0, 3), 1: (0, 3), 2: (0, 3), 3: (3, 1)}


def test_interval_join_bucket_spanning(spark):
    # interval spans 3 hourly buckets; points in each bucket match once
    pts = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T00:10:00")),  # bucket 0, inside
            (2, 10, _ts("2024-01-01T01:30:00")),  # bucket 1, inside
            (3, 10, _ts("2024-01-01T02:20:00")),  # bucket 2, inside
            (4, 10, _ts("2024-01-01T02:40:00")),  # bucket 2, after hi
            (5, 11, _ts("2024-01-01T00:10:00")),  # other key, no interval
        ],
        "event_id long, user_id long, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [(10, 7, _ts("2024-01-01T00:05:00"), _ts("2024-01-01T02:30:00"))],
        "user_id long, session_id long, lo timestamp, hi timestamp",
    )
    out = point_in_interval_join(pts, ivals, key="user_id")
    got = sorted((r.event_id, r.session_id) for r in out.collect())
    assert got == [(1, 7), (2, 7), (3, 7)]


def test_interval_join_inclusive_bounds_no_duplicates(spark):
    pts = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T00:00:00")),  # == lo
            (2, 10, _ts("2024-01-01T01:00:00")),  # == hi, on bucket edge
        ],
        "event_id long, user_id long, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [(10, 1, _ts("2024-01-01T00:00:00"), _ts("2024-01-01T01:00:00"))],
        "user_id long, session_id long, lo timestamp, hi timestamp",
    )
    out = point_in_interval_join(pts, ivals, key="user_id").collect()
    # both bounds inclusive, and the bucketed join must not emit a
    # (point, interval) pair more than once
    assert sorted(r.event_id for r in out) == [1, 2]


def test_interval_join_equals_naive_join_on_random_data(spark):
    # property check: bucketed equi-join == naive non-equi join, on
    # data randomized across bucket boundaries (seeded, 200 points x
    # 40 intervals, interval widths from sub-bucket to multi-bucket)
    import random

    rnd = random.Random(1234)
    base = dt.datetime(2024, 1, 1)
    pts = [
        (i, rnd.randrange(5), base + dt.timedelta(seconds=rnd.randrange(0, 200_000)))
        for i in range(200)
    ]
    ivals = []
    for j in range(40):
        lo = base + dt.timedelta(seconds=rnd.randrange(0, 180_000))
        hi = lo + dt.timedelta(seconds=rnd.randrange(0, 20_000))
        ivals.append((rnd.randrange(5), j, lo, hi))
    pdf = spark.createDataFrame(pts, "event_id long, user_id long, ts timestamp")
    idf = spark.createDataFrame(
        ivals, "user_id long, session_id long, lo timestamp, hi timestamp"
    )
    bucketed = point_in_interval_join(pdf, idf, key="user_id")
    got = sorted((r.event_id, r.session_id) for r in bucketed.collect())
    naive = (
        pdf.join(idf, "user_id")
        .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi")))
    )
    want = sorted((r.event_id, r.session_id) for r in naive.collect())
    assert got == want


def test_cc_star_long_chain_logarithmic_rounds(spark):
    """large-star/small-star converges in O(log n) rounds on a 10^4-node
    chain — the adversarial case where label propagation needs O(n)."""
    import math

    from dimagi_data_platform_spark.operators.components import _star_components

    n = 10_000
    edges = spark.range(n).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    verts = spark.range(n + 1).select("id")
    labels, rounds = _star_components(verts, edges, "id", "src", "dst", 60)
    assert rounds <= 2 * math.log2(n)
    comps = [r[0] for r in labels.select("component").distinct().collect()]
    assert comps == [0]


def test_cc_star_matches_propagate_on_random_graph(spark):
    import random

    random.seed(7)
    n, m = 400, 300
    edges = spark.createDataFrame(
        [(random.randrange(n), random.randrange(n)) for _ in range(m)],
        "src long, dst long",
    )
    verts = spark.range(n)
    a = {(r.id, r.component) for r in connected_components(verts, edges).collect()}
    b = {
        (r.id, r.component)
        for r in connected_components(verts, edges, algorithm="star").collect()
    }
    assert a == b


def test_interval_concurrency_matches_pandas_sweep(spark):
    import numpy as np
    import pandas as pd

    from dimagi_data_platform_spark.operators.intervals import (
        interval_concurrency,
    )

    rng = np.random.RandomState(7)
    n = 5000
    lo = rng.randint(0, 100_000, n)
    hi = lo + rng.randint(0, 50, n)  # includes zero-length intervals
    pdf = pd.DataFrame(
        {"lo": pd.to_datetime(lo, unit="s"), "hi": pd.to_datetime(hi, unit="s")}
    )
    out = (
        interval_concurrency(spark.createDataFrame(pdf), "lo", "hi")
        .toPandas()
        .sort_values(["ts", "delta"])
        .reset_index(drop=True)
    )
    d = pd.concat(
        [
            pd.DataFrame({"ts": pdf.lo, "delta": 1}),
            pd.DataFrame({"ts": pdf.hi, "delta": -1}),
        ]
    )
    d["sign"] = np.where(d.delta > 0, 1, -1)
    ref = d.groupby(["ts", "sign"], as_index=False).delta.sum()
    ref = ref.sort_values(["ts", "sign"], ascending=[True, False]).reset_index(
        drop=True
    )
    ref["concurrency"] = ref.delta.cumsum()
    m = out.merge(
        ref[["ts", "delta", "concurrency"]],
        on=["ts", "delta"],
        suffixes=("_got", "_want"),
    )
    assert len(m) == len(out) == len(ref)
    assert (m.concurrency_got == m.concurrency_want).all()
    assert out.concurrency.min() >= 0  # a valid sweep never goes negative


def test_frozen_range_pid_stable_after_aggregate_upstream(spark):
    """repartitionByRange re-samples boundaries per recomputation, so an
    order-unstable upstream (any groupBy) can give two branches of the
    same plan different partition assignments. frozen_range_pid bakes
    the boundaries into literals — the bucket totals must be identical
    across independent recomputations, and buckets must be monotone in
    key order."""
    import numpy as np
    import pandas as pd

    from dimagi_data_platform_spark.operators.linkage import frozen_range_pid

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"k": rng.randint(0, 10_000, 20_000)})
    # aggregate upstream -> row order depends on hash-agg emission order
    agg = spark.createDataFrame(pdf).groupBy("k").count()
    parted = frozen_range_pid(agg, ["k"], 8)
    t1 = parted.groupBy("__pid").count().orderBy("__pid").collect()
    t2 = parted.groupBy("__pid").count().orderBy("__pid").collect()
    assert [tuple(r) for r in t1] == [tuple(r) for r in t2]
    # monotone: max key of bucket p < min key of bucket p+1
    span = (
        parted.groupBy("__pid")
        .agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
        .orderBy("__pid")
        .collect()
    )
    assert len(span) > 1  # sampling actually split the data
    for a, b in zip(span, span[1:]):
        assert a.mx < b.mn


def test_pagerank_cycle_uniform(spark):
    from dimagi_data_platform_spark.operators.graph import pagerank

    v = spark.createDataFrame([(i,) for i in range(3)], "id long")
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    got = {r.id: r.r for r in pagerank(v, e, n_iter=10).collect()}
    assert len(set(got.values())) == 1  # symmetric graph -> equal ranks
    assert abs(got[0] / 1e15 - 1 / 3) < 1e-9


def test_pagerank_matches_float_reference(spark):
    """The integer recurrence tracks textbook float PageRank to well
    inside float tolerance, including dangling-mass redistribution."""
    import numpy as np

    from dimagi_data_platform_spark.operators.graph import pagerank

    rng = np.random.RandomState(3)
    n, m = 30, 120
    edges = list({(int(a), int(b)) for a, b in rng.randint(0, n, (m, 2)) if a != b})
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.r / 1e15 for r in pagerank(v, e, n_iter=20).collect()}

    outdeg = np.zeros(n)
    for a, _ in edges:
        outdeg[a] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        nxt = np.zeros(n)
        dangling = r[outdeg == 0].sum()
        for a, b in edges:
            nxt[b] += r[a] / outdeg[a]
        nxt += dangling / n
        r = 0.15 / n + 0.85 * nxt
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-6, (i, got[i], r[i])


def test_pagerank_deterministic_across_partitionings(spark):
    import numpy as np

    from dimagi_data_platform_spark.operators.graph import pagerank

    rng = np.random.RandomState(5)
    edges = list({(int(a), int(b)) for a, b in rng.randint(0, 50, (300, 2)) if a != b})
    v = spark.createDataFrame([(i,) for i in range(50)], "id long")
    e1 = spark.createDataFrame(edges, "src long, dst long")
    e2 = e1.repartition(7, "dst")
    g1 = sorted((r.id, r.r) for r in pagerank(v, e1, n_iter=8).collect())
    g2 = sorted((r.id, r.r) for r in pagerank(v.repartition(3), e2, n_iter=8).collect())
    assert g1 == g2  # bitwise: integer sums are order-independent


# ---- BFS distances --------------------------------------------------------


def _undirect(spark, pairs):
    e = spark.createDataFrame(pairs, ["src", "dst"])
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_bfs_chain_distances(spark):
    """0-1-2-...-9 chain from source 0: dist(v) = v, truncated at the
    round budget (multi-round coverage the dense co-purchase graph
    never exercises)."""
    from dimagi_data_platform_spark.operators.graph import bfs_distances

    edges = _undirect(spark, [(i, i + 1) for i in range(9)])
    src = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, src, 6).collect()}
    assert got == {i: i for i in range(7)}  # 8, 9 beyond 6 rounds


def test_bfs_shortcut_takes_min(spark):
    """Diamond with a long path and a shortcut: BFS must keep the min."""
    from dimagi_data_platform_spark.operators.graph import bfs_distances

    edges = _undirect(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (0, 4)])
    src = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, src, 6).collect()}
    assert got == {0: 0, 1: 1, 4: 1, 2: 2, 3: 2}


def test_bfs_early_exhaustion(spark):
    """Disconnected component never reached; loop stops when the
    frontier empties (no wasted rounds, unreached ids absent)."""
    from dimagi_data_platform_spark.operators.graph import bfs_distances

    edges = _undirect(spark, [(0, 1), (5, 6)])
    src = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, src, 6).collect()}
    assert got == {0: 0, 1: 1}


def test_personalized_pagerank_dangling_mass_restarts_at_seeds(spark):
    """Directed chain with a dangling sink: 1->2->3 (3 has no out-
    edges). Python reference of the exact integer recurrence."""
    from dimagi_data_platform_spark.operators.graph import personalized_pagerank

    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {
        r.id: r.r
        for r in personalized_pagerank(v, e, seeds, n_iter=3).collect()
    }

    scale = 10**15
    outdeg = {1: 1, 2: 1}
    r = {1: scale // 1, 2: 0, 3: 0}
    teleport = (15 * (scale // 1)) // 100
    for _ in range(3):
        dangling = r[3]
        share = dangling // 1  # one seed
        inflow = {1: 0, 2: 0, 3: 0}
        for (s, d) in [(1, 2), (2, 3)]:
            inflow[d] += r[s] // outdeg[s]
        r = {
            v_: (85 * (inflow[v_] + (share if v_ == 1 else 0))) // 100
            + (teleport if v_ == 1 else 0)
            for v_ in (1, 2, 3)
        }
    assert got == r


def test_k_core_six_rounds_is_fixed_point(spark):
    """part_k_core runs a FIXED 6-round peel so the unrolled oracle
    replays it exactly; this certifies 6 rounds is the converged
    3-core on the test graph (a 7th round changes nothing)."""
    from dimagi_data_platform_spark.plans.queries import _copurchase_edges

    e0 = _copurchase_edges(spark, "/root/testdata/sf0.001")
    e = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )

    def peel(e, rounds, k=3):
        for _ in range(rounds):
            keep = (
                e.groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("src")
            )
            e = e.join(keep, "src", "semi").join(
                keep.withColumnRenamed("src", "dst"), "dst", "semi"
            ).localCheckpoint()
        return sorted(map(tuple, e.collect()))

    assert peel(e, 6) == peel(e, 7)


def test_k_core_peel_guard_fails_loudly_when_not_converged(spark):
    """VERDICT r10 item 7: a denser graph can need more peel rounds
    than the fixed unroll — the guard must RAISE, never silently
    return a non-converged core. Hub-and-path construction: endpoints
    peel first and the cascade drains two path vertices per round, so
    a 13-vertex path (plus a hub keeping internal degree 3) is still
    mid-cascade after 6 rounds."""
    import pytest as _pytest

    from dimagi_data_platform_spark.operators.graph import k_core_peel

    n = 13
    hub = 100
    und = [(i, i + 1) for i in range(n - 1)] + [(i, hub) for i in range(n)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    with _pytest.raises(RuntimeError, match="NOT a fixed point"):
        k_core_peel(edges, k=3, rounds=6).count()
    # enough rounds: the whole graph drains (no 3-core) and the guard
    # passes on the converged (empty) result
    assert k_core_peel(edges, k=3, rounds=8).count() == 0
    # verify_converged=False replays the certified prefix without the
    # extra aggregate (the pinned-oracle path)
    assert k_core_peel(edges, k=3, rounds=6, verify_converged=False).count() > 0


def test_reliable_checkpoint_identical(spark, tmp_path):
    """reliable=True swaps localCheckpoint for cluster-durable
    checkpoint() blocks through the shared loop contract
    (operators/loop.py) — results must be bitwise identical for every
    iterative operator, and the checkpoint dir must actually receive
    data (proof the reliable path ran, not the local one)."""
    import os

    from pyspark.sql import functions as F

    from dimagi_data_platform_spark.operators.components import (
        connected_components,
    )
    from dimagi_data_platform_spark.operators.graph import (
        bfs_distances,
        k_core_peel,
        pagerank,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 5), (5, 4)],
        "src long, dst long",
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")

    pr_a = {(r.id, r.r) for r in pagerank(verts, edges, n_iter=4).collect()}
    pr_b = {
        (r.id, r.r)
        for r in pagerank(verts, edges, n_iter=4, reliable=True).collect()
    }
    assert pr_a == pr_b

    src = spark.createDataFrame([(1,)], "id long")
    bfs_a = {(r.id, r.dist) for r in bfs_distances(edges, src, 3).collect()}
    bfs_b = {
        (r.id, r.dist)
        for r in bfs_distances(edges, src, 3, reliable=True).collect()
    }
    assert bfs_a == bfs_b

    cc_a = {
        (r.id, r.component)
        for r in connected_components(verts, edges).collect()
    }
    cc_b = {
        (r.id, r.component)
        for r in connected_components(verts, edges, reliable=True).collect()
    }
    assert cc_a == cc_b

    kc_a = {
        (r.src, r.dst)
        for r in k_core_peel(edges, 2, 3, verify_converged=False).collect()
    }
    kc_b = {
        (r.src, r.dst)
        for r in k_core_peel(
            edges, 2, 3, verify_converged=False, reliable=True
        ).collect()
    }
    assert kc_a == kc_b

    # the reliable path must have written real checkpoint data
    ckpt_files = []
    for root, _dirs, files in os.walk(str(tmp_path / "ckpt")):
        ckpt_files.extend(files)
    assert ckpt_files, "reliable=True never touched the checkpoint dir"

    # star algorithm too (separate loop body)
    cs_a = {
        (r.id, r.component)
        for r in connected_components(verts, edges, algorithm="star").collect()
    }
    cs_b = {
        (r.id, r.component)
        for r in connected_components(
            verts, edges, algorithm="star", reliable=True
        ).collect()
    }
    assert cs_a == cs_b


def _checkpoints_read(df) -> set[int]:
    """Ids of the RDDs under ``df``'s LogicalRDD leaves — the
    checkpoints (and in-memory inputs) its plan still reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def test_iterative_kernels_release_loop_state(spark):
    """Every iterative kernel follows the operators/loop.py contract:
    once its result is collected the edge cache is gone (CacheManager
    empty) and every persisted RDD it added is a checkpoint the result
    still reads — superseded rounds are released. A loop that raises
    leaves nothing behind."""
    import pandas as pd
    import pytest as _pytest

    from dimagi_data_platform_spark.operators.bpe import (
        bpe_train,
        bpe_train_apply,
    )
    from dimagi_data_platform_spark.operators.graph import (
        bfs_distances,
        hits_authority,
        k_core_degrees,
        k_core_peel,
        label_propagation,
        pagerank,
        personalized_pagerank,
    )

    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()

    def persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    def frame(rows, schema):
        # built from pandas (Arrow), so the ~200 jobs of this sweep
        # scan JVM-side rows instead of round-tripping Python workers
        cols = [c.split()[0] for c in schema.split(",")]
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

    # a triangle, a pair and an isolated (dangling) vertex
    und = [(1, 2), (2, 3), (3, 1), (4, 5)]
    edges = frame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    verts = frame([(i,) for i in range(1, 7)], "id long")
    seeds = frame([(1,), (4,)], "id long")
    src = frame([(1,)], "id long")
    wf = frame(
        [("low", 5), ("lower", 2), ("newest", 3), ("widest", 1)],
        "w string, freq long",
    )
    kernels = {
        "cc_propagate": lambda: connected_components(verts, edges),
        "cc_star": lambda: connected_components(
            verts, edges, algorithm="star", max_iter=2
        ),
        "pagerank": lambda: pagerank(verts, edges, n_iter=2),
        "ppr": lambda: personalized_pagerank(verts, edges, seeds, n_iter=1),
        "bfs": lambda: bfs_distances(edges, src, 2),
        "k_core_peel": lambda: k_core_peel(edges, 2, 3),
        "k_core_degrees": lambda: k_core_degrees(edges, 2, 3),
        "bpe_train": lambda: bpe_train(wf, 2),
        "bpe_train_apply": lambda: bpe_train_apply(wf, 2),
        "lpa": lambda: label_propagation(edges, 2),
        "hits": lambda: hits_authority(
            edges.select(F.col("src").alias("c"), F.col("dst").alias("p")), 1
        ),
    }
    spark.catalog.clearCache()
    for name, run in kernels.items():
        before = persisted()
        out = run()
        out.collect()
        added = persisted() - before
        reads = _checkpoints_read(out)
        assert cache.isEmpty(), f"{name}: edge cache left in the CacheManager"
        assert added <= reads, (
            f"{name}: {len(added)} persisted RDDs added, "
            f"{len(added - reads)} of them not read by the result"
        )

    # a path: propagation needs its diameter in rounds, and the 2-core
    # peel drains it from both ends, two vertices per round
    path = frame(
        [(i, i + 1) for i in range(1, 6)] + [(i + 1, i) for i in range(1, 6)],
        "src long, dst long",
    )
    raising = {
        "cc_propagate past max_iter": lambda: connected_components(
            verts, path, max_iter=1
        ),
        "k_core guard": lambda: k_core_peel(path, k=2, rounds=1),
    }
    for name, run in raising.items():
        before = persisted()
        with _pytest.raises(RuntimeError):
            run()
        assert cache.isEmpty(), f"{name}: edge cache left after the raise"
        assert persisted() <= before, f"{name}: checkpoints left after the raise"
