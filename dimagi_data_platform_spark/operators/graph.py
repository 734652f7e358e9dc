"""Iterative graph analytics: fixed-point PageRank / personalized
PageRank, BFS distances, the k-core peel, deterministic label
propagation and fixed-point HITS.

Loop contract (operators/loop.py): each kernel holds only its
recurrence. The edge list lives in a ``cached_edges`` block,
hash-partitioned on the key the per-round aggregate groups by (``dst``)
and released when the loop ends or raises. Vertex-sized frontiers go
through ``guarded_broadcast``, with sizes taken from counts the loop
already runs. Loop state goes through ``loop_checkpoint``, which
releases the checkpoint it supersedes, so a returned frame leaves
behind only the checkpoints it reads. ``reliable=True`` makes those
checkpoints cluster-durable. Driver state is scalar-only.

PageRank (Page et al. 1999) runs in EXACT integer fixed-point
arithmetic: ranks are scaled to ``scale`` (default 1e15) and every
per-iteration op is integer — contribution = r DIV outdeg, damping =
(num * x) DIV den, teleport a precomputed integer constant. Integer
sums are order-independent, so the result is bitwise identical across
partitionings, engines, and retries — unlike float PageRank, whose
per-vertex sums depend on shuffle arrival order. The cost is bounded
mass leakage from the floor divisions (< outdeg ulps of 1e-15 per
vertex per iteration), far below any ranking-relevant signal. Uniform
PageRank is personalized PageRank with every vertex a seed, and both
run one loop (:func:`_rank_loop`): one contribution shuffle per
iteration, the rank frontier checkpointed on a bounded cadence.

Delta-frontier rejection (VERDICT r13 item 4, measured r14 — see
BASELINE.md "r14 pagerank delta-frontier"): restructuring the loop
residually (carry per-vertex inflow, fan out only contribution DELTAS)
is bit-exact — inflow telescopes as integer sums — and was implemented
and hash-verified, but gains NOTHING here: with damping d the rank
residual contracts by ~0.85/iter, so a contribution quantum of
1 part in 1e15 keeps every vertex in the moving set until
~ln(1e15)/ln(1/0.85) ≈ 212 iterations. Measured at sf1: the moving
frontier was 100.0% of vertices for iterations 0-5 and 98.4% at
iteration 8; sf10 wall 60.3 s delta vs 59.7 s full (noise). k-core's
delta peel wins because its state is BOOLEAN (membership); an exact
fixed-point rank churns its low-order digits every round by design.
The full-fan-out loop below stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dimagi_data_platform_spark.operators.loop import (
    cached_edges,
    guarded_broadcast,
    loop_checkpoint,
    release_checkpoint,
    row_count,
)

PR_SCALE = 10**15


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    n_iter: int = 10,
    damping: tuple[int, int] = (85, 100),
    scale: int = PR_SCALE,
    id_col: str = "id",
    reliable: bool = False,
) -> DataFrame:
    """Ranks after ``n_iter`` power iterations; returns (id, r) with
    ``r`` the fixed-point rank (true rank ≈ r / scale).

    ``vertices`` must contain every edge endpoint; ``edges`` is the
    DIRECTED edge list (pass both directions for undirected graphs).
    Recurrence (all integer):

        teleport  = ((den - num) * (scale DIV n)) DIV den
        inflow(v) = Σ_{u→v} (r(u) DIV outdeg(u)) + dangling DIV n
        r'(v)     = teleport + (num * inflow(v)) DIV den

    which is :func:`personalized_pagerank`'s with the seed set S = V.
    """
    return _rank_loop(vertices, edges, None, n_iter, damping, scale, id_col, reliable)


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 4,
    damping: tuple[int, int] = (85, 100),
    scale: int = PR_SCALE,
    id_col: str = "id",
    reliable: bool = False,
) -> DataFrame:
    """Personalized PageRank: teleport mass restarts at the SEED set
    instead of uniformly — the similarity-to-seeds measure behind
    related-item recommendation and seed-expansion community detection.
    Same EXACT integer fixed-point contract as :func:`pagerank` (all
    per-iteration ops integer, bitwise-reproducible, oracle-unrollable):

        r0(v)      = scale DIV |S|            if v in S else 0
        teleport   = ((den-num) * (scale DIV |S|)) DIV den   on seeds
        r'(v)      = (num * (inflow(v) + dang_v)) DIV den + teleport_v
        dang_v     = (dangling DIV |S|) for seeds else 0

    (dangling mass restarts at the seeds, inside the damped term —
    the standard PPR convention).
    """
    return _rank_loop(vertices, edges, seeds, n_iter, damping, scale, id_col, reliable)


def _rank_loop(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None,
    n_iter: int,
    damping: tuple[int, int],
    scale: int,
    id_col: str,
    reliable: bool,
) -> DataFrame:
    """The one PageRank loop; ``seeds=None`` means S = V, where the
    seed count is the vertex count and costs no job."""
    dnum, dden = damping
    with cached_edges(edges.select("src", "dst"), "dst") as edges:
        outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        # ONE upfront checkpoint job: the per-vertex base table carries
        # outdeg and the seed flag, so the loop never re-joins them
        base = vertices.select(F.col(id_col).alias("id")).join(
            outdeg, F.col("id") == F.col("src"), "left"
        )
        if seeds is None:
            is_seed = F.lit(True)
        else:
            base = base.join(
                seeds.select(F.col(id_col).alias("id"), F.lit(True).alias("s")),
                "id",
                "left",
            )
            is_seed = F.coalesce("s", F.lit(False))
        base = loop_checkpoint(
            base.select("id", "outdeg", is_seed.alias("is_seed")), reliable
        )
        n = row_count(base)
        n_s = n if seeds is None else row_count(base.filter("is_seed"))
        if n_s == 0:
            return base.select("id", F.lit(0).cast("long").alias("r"))
        teleport = ((dden - dnum) * (scale // n_s)) // dden
        # a dangling vertex has no out-edges -> NULL outdeg in base; its
        # contribution (r DIV NULL) is NULL and never matches an edge
        # src, so only the mass-redistribution branch needs the set
        dangling_ids = base.filter(F.col("outdeg").isNull()).select("id")
        any_dangling = bool(dangling_ids.head(1))
        ranks = base.select(
            "id",
            "outdeg",
            "is_seed",
            F.when(F.col("is_seed"), F.lit(scale // n_s))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("r"),
        )
        # Checkpoint cadence: chaining a few rounds lazily lets AQE
        # pipeline them while a bounded cadence keeps plan depth flat.
        # With dangling vertices each round already runs an action
        # (the dangling-mass collect), so lineage truncates every round
        # or the chain recomputes inside the collect.
        ckpt_every = 1 if any_dangling else 3
        held = None
        for it in range(n_iter):
            if any_dangling:
                dangling = (
                    ranks.join(dangling_ids, "id", "left_semi")
                    .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long"))
                    .collect()[0][0]
                )
            else:
                dangling = 0
            share = dangling // n_s
            # per-VERTEX contribution straight off the rank frontier,
            # then fan out over the dst-partitioned edges: only the
            # contribution stream's groupBy(dst) moves data
            rc = ranks.select(
                F.col("id").alias("src"), F.expr("r DIV outdeg").alias("c")
            )
            inflow = (
                edges.join(guarded_broadcast(rc, n), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("c").cast("long").alias("inflow"))
            )
            ranks = (
                base.join(guarded_broadcast(inflow, n), "id", "left")
                .withColumn(
                    "r",
                    F.expr(
                        f"CAST(({dnum} * (coalesce(inflow, 0)"
                        f" + IF(is_seed, {share}, 0))) DIV {dden}"
                        f" + IF(is_seed, {teleport}, 0) AS BIGINT)"
                    ),
                )
                .select("id", "outdeg", "is_seed", "r")
            )
            if (it + 1) % ckpt_every == 0 or it == n_iter - 1:
                ranks = held = loop_checkpoint(ranks, reliable, prev=held)
        if held is not None:
            release_checkpoint(base)
    return ranks.select("id", "r")


def bfs_distances(
    edges: DataFrame,
    source: DataFrame,
    n_rounds: int,
    reliable: bool = False,
) -> DataFrame:
    """Unweighted shortest-path distances from ``source`` vertices via
    ``n_rounds`` of frontier relaxation — the BFS/SSSP building block
    (friend-of-friend radius, blast-radius analysis on the co-purchase
    graph). Returns (id, dist) for every vertex reached within
    ``n_rounds`` hops.

    Per round only the NEW frontier (vertices first reached last round)
    joins the dst-partitioned edge cache, so relaxation work is
    proportional to the frontier's out-degree sum, not the reached set.
    Each round counts its frontier: the count is the emptiness test
    and, summed, the reached-set size, so the frontier and reached
    sides are broadcast under the guard with no extra job. Every
    frontier is checkpointed and the result is their union. Distances
    are exact integers — bitwise deterministic, so the oracle can
    unroll the identical min-relaxation recurrence.

    ``edges`` is the DIRECTED edge list (src, dst); pass both
    directions for undirected graphs. ``source`` must have column
    ``id`` (dist 0 seeds).
    """
    with cached_edges(edges.select("src", "dst"), "dst") as edges:
        reached = loop_checkpoint(
            source.select("id", F.lit(0).cast("long").alias("dist")), reliable
        )
        frontier, n_reached = reached, 0
        for _ in range(n_rounds):
            n_front = row_count(frontier)
            if n_front == 0:
                break
            n_reached += n_front
            cand = (
                edges.join(
                    guarded_broadcast(
                        frontier.withColumnRenamed("id", "src"), n_front
                    ),
                    "src",
                )
                .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
                .groupBy("id")
                .agg(F.min("dist").cast("long").alias("dist"))
            )
            frontier = loop_checkpoint(
                cand.join(
                    guarded_broadcast(reached.select("id"), n_reached),
                    "id",
                    "left_anti",
                ),
                reliable,
            )
            # a union of checkpointed frontiers: one union node per
            # round, so it needs no checkpoint of its own
            reached = reached.unionAll(frontier)
    return reached


#: a peel frontier / survivor vertex set is broadcast into the edge
#: scan below this row count (longs: 50M ≈ 400 MB serialized); above
#: it the round falls back to a shuffle semi-join.
_KCORE_BROADCAST_MAX = 50_000_000


def _k_core_degrees_state(
    edges: DataFrame,
    k: int,
    rounds: int,
    verify_converged: bool,
    reliable: bool,
):
    """Shared DELTA-peel loop of :func:`k_core_peel` /
    :func:`k_core_degrees` — returns (checkpointed edge set, surviving
    (v, deg) vertex table after ``rounds`` synchronous peel rounds).

    Degrees are counted once; round r drops frontier_r = {v :
    deg_r(v) < k}, and deg_{r+1}(v) = deg_r(v) − #edges(v → frontier_r)
    for survivors, which is exactly the synchronous recount (an edge
    vanishes iff its other endpoint was just removed), so the
    unrolled-oracle replay is bit-for-bit unchanged. Per round: ONE
    pass over the edge set as a broadcast-hash probe against the
    frontier (no edge shuffle — only the frontier-incident matches
    shuffle into a dst-count), plus vertex-sized bookkeeping joins. An
    empty frontier is a fixed point, so the loop stops there and the
    convergence check is already answered.

    The edge set is checkpointed ONCE and never rebuilt; it and each
    round's degree table are kept at ``DISK_ONLY`` (``disk=True``, see
    operators/loop.py) and each round releases the table it replaces.
    """
    ck = lambda df, prev=None: loop_checkpoint(df, reliable, prev, disk=True)  # noqa: E731
    e_mat = ck(edges)
    deg = ck(
        e_mat.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("v"), "deg")
    )
    converged = False
    for _ in range(rounds):
        frontier = deg.filter(F.col("deg") < k).select(F.col("v").alias("src"))
        n_front = row_count(frontier)  # vertex-sized scan off checkpointed deg
        if n_front == 0:
            converged = True  # every later round is a no-op
            break
        dec = (
            e_mat.join(guarded_broadcast(frontier, n_front, _KCORE_BROADCAST_MAX), "src")
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("dec"))
            .select(F.col("dst").alias("v"), "dec")
        )
        deg = ck(
            deg.filter(F.col("deg") >= k)
            .join(dec, "v", "left")
            .select(
                "v",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"),
            ),
            deg,
        )
    if verify_converged and not converged:
        still_peelable = row_count(deg.filter(F.col("deg") < k))
        if still_peelable:
            release_checkpoint(deg)
            release_checkpoint(e_mat)
            raise RuntimeError(
                f"k_core_peel(k={k}): {still_peelable} vertices would "
                f"still be peeled after {rounds} rounds — the unroll is "
                f"NOT a fixed point on this graph; raise `rounds` "
                f"(each adds one frontier pass) instead of consuming a "
                f"non-converged core"
            )
    return e_mat, deg


def k_core_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    verify_converged: bool = True,
    reliable: bool = False,
) -> DataFrame:
    """Synchronous k-core peel over a DIRECTED-symmetrized edge list
    (``src``, ``dst`` columns, both orientations present): each round
    drops every vertex with degree < k and keeps edges whose endpoints
    both survive, for exactly ``rounds`` rounds — FIXED so an oracle's
    unrolled recurrence replays bit-for-bit. Returns the surviving
    edge stream (two guarded-broadcast semi-joins of the checkpointed
    edge set against the surviving vertex set).

    Fixed-point guard (VERDICT r10 item 7, the connected-components
    discipline from operators/components.py): a fixed unroll certified
    on TEST graphs can silently return a non-converged core on a
    denser production graph — the guard checks whether round
    ``rounds``+1 would still peel anything and FAILS LOUDLY with the
    observed shortfall (a vertex-sized count off the degree table).
    Pass ``verify_converged=False`` only where a caller replays a
    certified prefix on a pinned graph.
    """
    e_mat, deg = _k_core_degrees_state(edges, k, rounds, verify_converged, reliable)
    alive = deg.select(F.col("v").alias("src"))
    n_alive = row_count(deg)
    return e_mat.join(
        guarded_broadcast(alive, n_alive, _KCORE_BROADCAST_MAX), "src", "semi"
    ).join(
        guarded_broadcast(
            alive.withColumnRenamed("src", "dst"), n_alive, _KCORE_BROADCAST_MAX
        ),
        "dst",
        "semi",
    )


def k_core_degrees(
    edges: DataFrame,
    k: int,
    rounds: int,
    verify_converged: bool = True,
    reliable: bool = False,
) -> DataFrame:
    """(v, core_degree) of the ``rounds``-round k-core — the peel's
    degree table surfaced directly. Identical values to counting
    degrees over :func:`k_core_peel`'s surviving edges (the delta
    recurrence maintains exactly the survivors' degrees), but skips
    rebuilding the edge set and re-aggregating it: callers that only
    need per-vertex core degrees (e.g. the part_k_core query) save a
    full O(m) pass plus an O(m) shuffle aggregate."""
    e_mat, deg = _k_core_degrees_state(edges, k, rounds, verify_converged, reliable)
    release_checkpoint(e_mat)
    return deg.select("v", F.col("deg").cast("long").alias("core_degree"))


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over a
    DIRECTED-symmetrized edge list, fully deterministic: each round
    every vertex adopts the neighbor label with the highest count,
    ties toward the SMALLER label. Returns (id, lbl) for every edge
    source after ``rounds`` rounds.

    The edge cache is partitioned on src, so each round's (src, nlbl)
    groupBy AND the per-vertex window inherit its clustering — no
    per-round label-stream Exchange
    (plans/r14/copurchase_communities_{before,after}.txt).
    """
    with cached_edges(edges.select("src", "dst"), "src") as edges:
        labels = loop_checkpoint(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("lbl", F.col("id"))
        )
        # every round labels the same vertex set (each has a neighbor)
        n = row_count(labels)
        w = Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("nlbl"))
        for _ in range(rounds):
            nbr = (
                edges.join(
                    guarded_broadcast(
                        labels.select(
                            F.col("id").alias("dst"), F.col("lbl").alias("nlbl")
                        ),
                        n,
                    ),
                    "dst",
                )
                .groupBy("src", "nlbl")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            )
            labels = loop_checkpoint(
                nbr.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select(F.col("src").alias("id"), F.col("nlbl").alias("lbl")),
                prev=labels,
            )
    return labels


HITS_SCALE = 1_000_000


def _max_norm(x: DataFrame, key: str, col: str) -> DataFrame:
    """(key, col) with ``col`` scaled to x·HITS_SCALE DIV max(x)."""
    m = x.agg(F.max(col).alias("m"))
    return x.crossJoin(F.broadcast(m)).select(
        key, F.expr(f"CAST(({col} * {HITS_SCALE}) DIV m AS LONG)").alias(col)
    )


def hits_authority(edges: DataFrame, rounds: int) -> DataFrame:
    """HITS authorities (Kleinberg 1999) on a bipartite (c, p) edge
    list in EXACT integer arithmetic: h₀ = 1, aₖ = Σ h over in-edges,
    each half-round max-normalized to x·1e6 DIV max(x). Returns (p, a),
    ``a`` the normalized authority after ``rounds`` rounds.

    The half-rounds aggregate alternately by p and c, so the edge set
    is cached partitioned both ways (e_c built from the e_p cache, so
    the upstream runs once). Each half-round frontier is checkpointed,
    releasing the one before it: the max-normalization reads its
    frontier twice, so an unmaterialized recurrence doubles the
    subtree per half-round (308 Exchanges at 2 rounds, measured r14).
    The frontiers cover the same part / customer sets every round, so
    each guard size is one count off the first checkpoint.
    """
    with cached_edges(edges.select("c", "p"), "p") as e_p, cached_edges(
        e_p, "c"
    ) as e_c:
        # h0 = 1 per customer: a1(p) = in-degree
        a = loop_checkpoint(
            e_p.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("a"))
        )
        n_parts, n_custs = row_count(a), None
        for _ in range(rounds):
            h = loop_checkpoint(
                e_c.join(guarded_broadcast(_max_norm(a, "p", "a"), n_parts), "p")
                .groupBy("c")
                .agg(F.sum("a").cast("long").alias("h")),
                prev=a,
            )
            if n_custs is None:
                n_custs = row_count(h)
            a = loop_checkpoint(
                e_p.join(guarded_broadcast(_max_norm(h, "c", "h"), n_custs), "c")
                .groupBy("p")
                .agg(F.sum("h").cast("long").alias("a")),
                prev=h,
            )
    return _max_norm(a, "p", "a")
