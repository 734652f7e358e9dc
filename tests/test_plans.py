"""Physical-plan assertions: the scale posture is enforced, not hoped.

- filters/columns push down to the parquet scan
- dimension joins broadcast
- hot relational queries contain no Python UDF (stay in codegen)
"""

from __future__ import annotations

from dimagi_data_platform_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL


import contextlib
import io


def plan_str(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filter_pushdown(spark):
    plan = plan_str(spark, "q6_revenue_delta")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark):
    plan = plan_str(spark, "q1_pricing_summary")
    # only the 7 needed columns are read, not all 11
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_orderkey" not in read[0] and "l_partkey" not in read[0]


def test_q5_broadcasts_dimensions(spark):
    plan = plan_str(spark, "q5_local_supplier")
    assert "BroadcastHashJoin" in plan


def test_q10_broadcasts_nation(spark):
    plan = plan_str(spark, "q10_returned_items")
    assert "BroadcastHashJoin" in plan


def test_hot_queries_have_no_python_udf(spark):
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "visits_sessionize",
        "monthly_usage",
        "knn_bruteforce",
        "doc_quality",
        "token_counts",
        "ngram_jaccard_pairs",
    ):
        plan = plan_str(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_q1_whole_stage_codegen(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_q17_broadcasts_part_and_avg(spark):
    plan = plan_str(spark, "q17_small_quantity_revenue")
    assert plan.count("BroadcastHashJoin") >= 2


def test_event_session_assign_pushes_type_filter(spark):
    plan = plan_str(spark, "event_session_assign")
    assert "In(event_type" in plan  # reaches the events scan


def test_doc_chunks_is_shuffle_free(spark):
    # chunking is row-local: no Exchange anywhere in the plan
    plan = plan_str(spark, "doc_chunks")
    assert "Exchange" not in plan


def test_pii_redaction_prunes_columns(spark):
    plan = plan_str(spark, "pii_redaction")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "lang" not in read[0] and "source" not in read[0]


def test_interval_join_is_equi_join(spark):
    # the banded range join must plan as a hash join on (key, bucket),
    # never a nested-loop over all intervals of the key
    plan = plan_str(spark, "event_session_assign")
    assert "HashJoin" in plan
    assert "NestedLoop" not in plan


def test_salted_join_rejects_small_side_preserving_how(spark):
    import pytest

    from dimagi_data_platform_spark.operators.skew import salted_join

    from pyspark.sql import functions as F

    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="right/full"):
        salted_join(big, small, "k", how="right")
    with pytest.raises(ValueError, match="right/full"):
        salted_join(big, small, "k", how="full")


def test_incremental_dedup_corpus_side_never_broadcast(spark):
    # The corpus signature table is O(corpus) (~5 TB at 10^10 docs) and
    # must never ride a BroadcastExchange; only the bounded BATCH side
    # carries an explicit broadcast hint. With the auto-broadcast
    # threshold disabled, the hint is the only possible broadcast, so
    # exactly one exchange proves: batch broadcast, corpus shuffled.
    from dimagi_data_platform_spark.operators.minhash import (
        incremental_lsh_matches,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "), F.col("id")).alias(
            "text"
        ),
    )
    sigs = minhash_signatures(docs)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        inc = incremental_lsh_matches(
            sigs.filter(F.col("doc_id") % 5 != 0),
            sigs.filter(F.col("doc_id") % 5 == 0),
        )
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            inc.explain("formatted")
        plan = buf.getvalue()
        # HashedRelationBroadcastMode appears once per broadcast node
        # (node names repeat in the formatted tree + detail sections)
        assert plan.count("HashedRelationBroadcastMode") == 1, plan
        assert "SortMergeJoin" in plan  # corpus join-back shuffles

        # the all-pairs path has no bounded side at all → zero broadcasts
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            lsh_candidate_pairs(sigs).explain("formatted")
        assert "BroadcastExchange" not in buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_corpus_mixture_weights_stays_jvm_side(spark):
    plan = plan_str(spark, "corpus_mixture_weights")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # only lang + text are read from the 5-column table
    assert read and "doc_id" not in read[0] and "source" not in read[0]


def test_item_item_cosine_no_cartesian(spark):
    """Basket pair generation is an equi-join on the order key, never a
    cartesian product; degree joins are hash joins."""
    plan = plan_str(spark, "item_item_cosine")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" in plan or "BroadcastHashJoin" in plan


def test_bpe_trains_in_one_lazy_task(spark):
    """BPE training is one Arrow task over the word-count table:
    building the query fires no job beyond the parquet schema read of
    its input table, building plus running it (a noop write) fires at
    most 4 (the word-count shuffle and the training task), and the
    plan holds exactly one MapInPandas, over one partition."""
    import re

    from dimagi_data_platform_spark.catalog import load_table

    sc = spark.sparkContext

    def jobs(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, n_read = jobs("bpe-read", lambda: load_table(spark, SF_SMALL, "documents"))
    df, n_build = jobs(
        "bpe-build", lambda: QUERIES["bpe_train_merges"](spark, SF_SMALL)
    )
    assert n_build == n_read
    _, n_run = jobs(
        "bpe-run", lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert 1 <= n_build + n_run <= 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"MapInPandas", plan)) == 1, plan
    assert re.search(r"MapInPandas.*\n\s*\+- Coalesce 1\n", plan), plan


def test_chi2_pushes_column_pruning(spark):
    plan = plan_str(spark, "segment_priority_chi2")
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("o_totalprice" not in ln for ln in reads)


def test_embedding_centroids_shuffle_is_post_explode_aggregate(spark):
    """posexplode is scan-local; the only exchange is the (label, dim)
    aggregate (plus AQE reads) — no join, no Python stage."""
    plan = plan_str(spark, "embedding_label_centroids")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Join"):
        assert marker not in plan
    assert "Generate" in plan  # the explode
    assert "HashAggregate" in plan


def test_ks_prefix_sums_are_range_bucketed(spark):
    """R64/R65's corpus-sized running sums must run inside the frozen
    range buckets (window partitioned by __pid) with the per-bucket
    offsets joined back broadcast — never an unpartitioned window over
    every distinct value."""
    plan = plan_str(spark, "order_value_ks_test")
    assert "__pid" in plan
    assert "BroadcastHashJoin" in plan


def _table_scale_windows(plan: str) -> list[str]:
    """Window operator lines in a formatted plan (each names its
    partition spec in the following Arguments line)."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if ") Window" in ln:
            # the Arguments line carries the partition/order spec
            for la in lines[i + 1 : i + 4]:
                if "Arguments" in la:
                    out.append(la)
    return out


def test_rank_rewrites_have_no_table_scale_single_task_window(spark):
    """The r4-weak trio now ranks on the frozen-boundary distributed
    machinery: every remaining Window either partitions by __pid (the
    range bucket) or runs on the bucket-count offsets table — never an
    unpartitioned NTILE/row_number over the data table. ntile itself
    must be gone from acctbal_deciles."""
    for name in (
        "acctbal_deciles",
        "order_value_percentiles",
        "customer_percent_rank",
    ):
        plan = plan_str(spark, name)
        assert "ntile" not in plan.lower(), name
        for args in _table_scale_windows(plan):
            # offsets window: partition-count rows, ordered by __pid;
            # in-bucket window: partitioned by __pid
            assert "__pid" in args, f"{name}: unpartitioned window {args}"


def test_token_budget_has_no_per_language_table_window(spark):
    """corpus_token_budget's groupwise cumsums ride ONE distributed
    prefix sum: every remaining window partitions by the range bucket
    (__pid) or runs on bucket/offset metadata — never a per-language
    window over the document table."""
    plan = plan_str(spark, "corpus_token_budget")
    for args in _table_scale_windows(plan):
        assert "__pid" in args or "lang" in args and "doc_id" not in args, (
            f"table-scale window: {args}"
        )


def test_gains_table_rank_is_distributed(spark):
    """quality_gains_table deciles come from the frozen-boundary rank,
    not an NTILE/unpartitioned row_number over documents."""
    plan = plan_str(spark, "quality_gains_table")
    assert "ntile" not in plan.lower()
    for args in _table_scale_windows(plan):
        # the 10-row decile rollup window is grid-bounded metadata
        assert "__pid" in args or "decile" in args, (
            f"unpartitioned window: {args}"
        )


def test_adamic_adar_broadcasts_only_metadata_sides(spark):
    """The wedge pipeline broadcasts the degree/pack tables (vertex-
    sized) while the pair stream itself moves through shuffle
    aggregation — no cartesian, no corpus-scale broadcast."""
    plan = plan_str(spark, "copurchase_adamic_adar")
    assert "CartesianProduct" not in plan
    # the packed-key aggregate exists (wedges shuffle through hash agg)
    assert "HashAggregate" in plan


def test_hits_rounds_stay_jvm_side(spark):
    """part_hits_authority's mutual-reinforcement rounds are joins +
    aggregates in codegen — no Python stages anywhere."""
    plan = plan_str(spark, "part_hits_authority")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_k_core_rounds_stay_jvm_side(spark):
    plan = plan_str(spark, "part_k_core")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
