"""Connected components over a similarity-pair edge list — the
clustering stage of a near-dup dedup pipeline (pairs → clusters →
one canonical doc per cluster).

Reference parity: the dimagi platform groups forms into case "clusters"
for visit construction; here the same union-find semantics serve
near-duplicate document clustering.

Algorithm: iterative min-label propagation on DataFrames. Each round a
vertex takes the min of its own label and its neighbors' labels; the
loop stops when the global label sum stops decreasing (labels are
monotone non-increasing, so the sum is a convergence certificate that
costs one scalar aggregate per round — no row-level diff join).
For adversarial long-chain graphs pass ``algorithm="star"``: the
two-phase large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond") converges in O(log n)
rounds; diameter-bound propagation stays the default because dedup
graphs are near-cliques.

Loop contract (operators/loop.py): propagation keeps the symmetric
edge set in a ``cached_edges`` block partitioned on ``nbr``, so each
round's label lookup reads the cached clustering through the
``guarded_broadcast`` label frontier and only the groupBy(id) shuffles.
Both algorithms truncate lineage every round with ``loop_checkpoint``
and release the round they supersede; a loop that hits ``max_iter``
without converging releases everything before it raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dimagi_data_platform_spark.operators.loop import (
    cached_edges,
    guarded_broadcast,
    loop_checkpoint,
    release_checkpoint,
)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    algorithm: str = "propagate",
    reliable: bool = False,
) -> DataFrame:
    """Label every vertex with the MIN vertex id reachable from it.

    Returns (id, component). Vertices absent from ``edges`` keep their
    own id as component (singleton clusters). Deterministic.

    ``algorithm="propagate"`` (default): min-label propagation,
    O(diameter) rounds — right for near-dup graphs (near-cliques).
    ``algorithm="star"``: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    O(log n) rounds regardless of diameter — right for adversarial
    long-chain graphs.
    """
    if algorithm == "star":
        labels, _rounds = _star_components(
            vertices, edges, id_col, src_col, dst_col, max_iter,
            reliable=reliable,
        )
        return labels
    if algorithm != "propagate":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    ck = lambda df, prev=None: loop_checkpoint(df, reliable, prev)  # noqa: E731
    # both orientations from ONE pass over the upstream edge plan (a
    # union of two projections would run the similarity computation
    # that produced the edges twice), computed once into the cache
    both = F.explode(
        F.array(
            F.struct(F.col(src_col).alias("id"), F.col(dst_col).alias("nbr")),
            F.struct(F.col(dst_col).alias("id"), F.col(src_col).alias("nbr")),
        )
    )
    sym = edges.select(both.alias("e")).select("e.id", "e.nbr")
    base = vertices.select(F.col(id_col).alias("id"))
    with cached_edges(sym, "nbr") as sym:
        # Only edge-incident vertices can ever change label; iterate
        # over that (usually far smaller) subgraph and union the
        # untouched singletons back at the end. edge_ids is vertex-
        # sized and read by both the active set and the singletons.
        edge_ids = ck(sym.select("id").distinct())
        labels = ck(
            base.join(edge_ids, "id", "left_semi").select(
                "id", F.col("id").alias("component")
            )
        )
        n_active, prev_sum = labels.agg(
            F.count(F.lit(1)), F.sum("component")
        ).collect()[0]
        for _ in range(max_iter):
            nbr_labels = (
                sym.join(
                    guarded_broadcast(
                        labels.select(
                            F.col("id").alias("nbr"),
                            F.col("component").alias("nbr_comp"),
                        ),
                        n_active,
                    ),
                    "nbr",
                )
                .groupBy("id")
                .agg(F.min("nbr_comp").alias("min_nbr"))
            )
            labels = ck(
                labels.join(nbr_labels, "id", "left").select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("min_nbr", "component")
                    ).alias("component"),
                ),
                labels,
            )
            cur_sum = labels.agg(F.sum("component")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            # Still shrinking at the round cap -> the labels are NOT
            # components yet (long-diameter graph). Returning them
            # would be silently wrong — linkage chains hit exactly this
            # (a sorted neighborhood is a path graph). Fail loudly and
            # point at the O(log n) algorithm.
            release_checkpoint(labels)
            release_checkpoint(edge_ids)
            raise RuntimeError(
                f"min-label propagation did not converge in {max_iter} rounds; "
                "the graph's diameter exceeds the cap — use "
                "algorithm='star' (O(log n) rounds) or raise max_iter"
            )
    singletons = base.join(edge_ids, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labels.union(singletons)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to u's min neighborhood label.

    One shuffle (groupBy u) + one join; output replaces the edge set.
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("m0")).select(
        "u", F.least("m0", "u").alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small, then point every small neighbor (and
    the center) at the min of the closed neighborhood."""
    oriented = (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    out_nbrs = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    out_self = mins.select("u", F.col("m").alias("v"))
    return out_nbrs.union(out_self).distinct()


def _star_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iter: int,
    reliable: bool = False,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star until the edge set is a fixed
    point. A star maps to itself under both operators, so set equality
    with the previous round certifies convergence; a cheap
    (count, endpoint-sum) precheck gates the exact exceptAll probe.
    Each round is a constant number of shuffles; rounds = O(log n)
    even on paths, vs O(n) for label propagation. Lineage truncated
    per round via the shared loop contract (operators/loop.py); a
    round's input is released once its successor has been compared
    with it."""
    e = loop_checkpoint(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        reliable,
    )
    metrics, rounds = None, 0
    for _ in range(max_iter):
        nxt = loop_checkpoint(_small_star(_large_star(e)), reliable)
        rounds += 1
        cnt, ssum = nxt.agg(
            F.count(F.lit(1)), F.sum(F.col("u") + F.col("v"))
        ).collect()[0]
        done = (cnt, ssum) == metrics and nxt.exceptAll(e).isEmpty()
        release_checkpoint(e)
        e, metrics = nxt, (cnt, ssum)
        if done:
            break
    # At the fixed point every non-root points straight at its
    # component's min id; roots and isolated vertices label themselves.
    labels = (
        vertices.select(F.col(id_col).alias("id"))
        .join(
            e.select(F.col("u").alias("id"), F.col("v").alias("root")),
            "id",
            "left",
        )
        .select("id", F.coalesce("root", "id").alias("component"))
    )
    return labels, rounds


def component_clusters(labels: DataFrame) -> DataFrame:
    """Attach cluster size: (id, component, cluster_size)."""
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(sizes, "component").select("id", "component", "cluster_size")
