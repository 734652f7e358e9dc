"""Regenerate PLANS.md: formatted physical plans of the headline
queries at sf0.001 with the scale-relevant markers called out.

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dimagi_data_platform_spark.plans.queries import QUERIES
from dimagi_data_platform_spark.session import get_spark

SHOW = [
    ("q1_pricing_summary", "pushdown + pruning + partial agg"),
    ("q5_local_supplier", "broadcast dimension joins"),
    ("visits_sessionize", "one shuffle on user_id, windowed session ids"),
    ("minhash_lsh_dedup", "band-bucket join, no cross join"),
    ("ngram_jaccard_pairs", "shingle-keyed grouping with df cap"),
    ("knn_bruteforce", "broadcast query side + Arrow kernel"),
    ("incremental_minhash_dedup",
     "batch probes corpus bands; batch sigs broadcast, corpus sigs shuffle"),
    ("training_data_manifest", "composed lazy pipeline, single plan"),
    ("simhash_dedup", "distinct-fp chunk join, codegen hamming during probe"),
    ("knn_ivf", "persisted index scan, partition-pruned to probed lists"),
    ("near_dup_components", "edge-incident label propagation round"),
    ("semantic_dedup", "cluster assign + block-pair bounded compare"),
    ("knn_sq_rerank", "int8 codegen dot scan + exact rerank, zero Python stages"),
    ("phrase_search", "term-filtered token stream, posting-sized join input"),
    ("ngram_containment_pairs", "df-capped shingle band join, asymmetric overlap"),
    ("purchase_click_attribution",
     "time-bucketed banded range join, no interval cross product"),
    ("max_concurrent_visits",
     "distributed sweep-line prefix sum: frozen range buckets + "
     "broadcast offsets, no single-task window"),
    ("char_entropy", "scan-local HOF char histogram, zero shuffles before agg"),
    ("dsir_importance_weights",
     "K-key bucket aggregates + broadcast log-ratio table"),
    ("co_purchase_triangles",
     "degree-oriented sorted-adjacency array_intersect, persisted edge artifact"),
    ("part_pagerank",
     "per-iteration vertex-side join (AQE-broadcast) + groupBy(dst)"),
    ("visits_outage_overlap",
     "bucketed interval-overlap join, exactly-once in the max-lo bucket"),
    ("bigram_lm_perplexity",
     "bigram-keyed shuffle join to the LM (model never broadcast)"),
    ("bpe_train_merges",
     "one word-count shuffle, every merge in one MapInPandas task"),
    ("hybrid_search_rrf",
     "bounded BM25 + kNN legs, 20-row fusion join"),
    ("item_item_cosine",
     "order-local pair fan-out + part-keyed degree joins"),
    ("customer_rfm",
     "3x distributed frozen-boundary rank, broadcast scalar total"),
    ("copurchase_bfs_hops",
     "frontier-only relaxation join per round"),
    ("knn_ivfpq",
     "PQ encode pass + probed-list ADC kernel + exact rerank join"),
    ("order_value_ks_test",
     "range-bucketed prefix sums + broadcast offsets, top-1 argmax"),
    ("cms_term_counts",
     "scan-local depth-fan explode, sketch-cell shuffle, broadcast probe"),
    # round-5: the three de-single-tasked windows, the new exact
    # substring dedup, and the literal-quantizer IVF
    ("acctbal_deciles",
     "distributed frozen-boundary rank + integer NTILE formula, "
     "no unpartitioned-window single-task Exchange"),
    ("order_value_percentiles",
     "ONE distributed global rank (priority leading key) instead of a "
     "5-partition window; per-class offsets broadcast"),
    ("customer_percent_rank",
     "distributed rank + closed-form percent_rank/cume_dist, no "
     "25-partition window"),
    ("substring_dedup_clean",
     "scan-local k-gram stream, ONE gram-keyed shuffle with map-side "
     "MIN combine, cover explode bounded by duplicated occurrences"),
    ("knn_ivf_flat",
     "scan-local literal-centroid argmax assignment, broadcast probes, "
     "~nprobe/nlist candidate fraction"),
    ("semantic_dedup_flat",
     "materialized literal-quantizer assignment, block-salted "
     "within-cluster pair join (B*nlist tasks)"),
    ("part_ppr",
     "seeded-teleport PageRank: one contribution shuffle per "
     "iteration, 3-row seed broadcast"),
    ("incremental_daily_agg",
     "base+delta partial aggregates merged at date grain — the "
     "lossless-refresh pattern"),
    # round-6/7: literal-quantizer IVF-PQ, Viterbi encode, and the
    # five r6-tail queries (oracles landed r7)
    ("knn_ivfpq_flat",
     "literal coarse centroids + per-subspace codebooks, ADC "
     "CASE-gather scoring, exact rerank — all codegen, zero Python"),
    ("unigram_viterbi_encode",
     "packed-integer Viterbi DP unrolled to 12 positions, "
     "vocab as literal CASE tables, scan-local"),
    ("gopher_quality_rules",
     "one explode + (doc,term) groupBy for term stats, then "
     "scan-local integer milli-ratio rules"),
    ("doc_readability",
     "fully scan-local regex counts + one IEEE chain, no shuffle "
     "beyond the parquet scan"),
    ("segment_target_encoding",
     "5-row broadcast segment aggregate + scan-local LOO expression, "
     "fact never shuffled"),
    ("order_value_kruskal_wallis",
     "per-value conditional counts + distributed prefix-sum backbone "
     "(range buckets, broadcast offsets), single-row statistic"),
    ("order_value_anova",
     "ONE map-side-combined conditional-aggregate row; nothing else"),
    # round-7 additions: bitwise mergeable sketch, trend tests,
    # variance homogeneity, explicit bloom pruning
    ("segment_distinct_kmv",
     "per-cell top-k sketch windows + sketch-sized merge (never "
     "rescans raw keys at the coarser grain)"),
    ("daily_trend_test",
     "day-grain aggregate + calendar-bounded pair grid; statistic "
     "rows all broadcast"),
    ("order_value_levene",
     "per-value conditional counts -> distributed prefix-sum medians "
     "(broadcast 5 scalars) -> one conditional-aggregate scan"),
    ("arrears_bloom_probe",
     "metadata-sized bit table broadcast into a scan-local position "
     "probe; fact never shuffled against the dimension"),
    ("knn_sq_flat",
     "literal-scale int8 quantize + codegen int-dot scan + "
     "candidate-sized exact rerank, zero Python stages"),
    ("t_closeness_audit",
     "one shuffle to the (QI, band) grid; cumulative windows on "
     "grid-bounded metadata only"),
    ("auc_quality_lang",
     "per-distinct-score aggregate -> distributed prefix-sum "
     "midranks -> one statistic row"),
    ("copurchase_communities",
     "per-round broadcast label frontier + (vertex, label) groupBy + "
     "degree-bounded window; artifact-backed edges"),
    ("term_collocations",
     "scan-local zip_with pair expansion -> one (a,b) shuffle with "
     "map-side combine; unigrams/total broadcast"),
    ("props_variant_extract",
     "VARIANT parse + path extraction scan-local in codegen; one "
     "user-grain aggregate"),
    ("event_pattern_match",
     "one user-grain shuffle; regex over bounded per-user symbol "
     "strings, scan-local"),
    ("order_value_psi_drift",
     "two conditional counts into a literal 20-bin grid; nothing "
     "data-sized past the first aggregate"),
    ("doc_feature_hashing",
     "scan-local two-md5 hash + one (doc, idx) groupBy with map-side "
     "combine; sparse output"),
    ("daily_revenue_bootstrap_ci",
     "day-grain aggregate -> |days|x100 metadata explode -> B-row "
     "windows; zero RNG state"),
    ("source_quantile_normalize",
     "two distributed global ranks + integer-keyed pooled join; no "
     "per-source window"),
    ("cuped_experiment_analysis",
     "one user-grain shuffle -> one conditional-aggregate row -> "
     "2-row readout"),
    ("daily_value_lerp",
     "one user_id shuffle; spine explode + bracketing windows are "
     "calendar-bounded per user"),
    ("order_value_ddsketch",
     "scan -> log-bucket-grain mergeable counts (value-range-bounded "
     "metadata); exact column on the prefix-sum backbone"),
    ("ingest_quarantine_report",
     "scan-local VARIANT classification + one (source, reason) "
     "aggregate"),
    ("dataset_card_by_source",
     "one doc-grain scan with scan-local signals -> source-grain "
     "aggregates"),
    ("order_value_twoway_anova",
     "fact x broadcast dim -> one 25-cell conditional aggregate -> "
     "grid-bounded assembly"),
    # r8 additions
    ("order_value_welch_ttest",
     "one conditional-aggregate row; every float a fixed chain over "
     "six exact scalars"),
    ("daily_revenue_acf",
     "day-grain shuffle once; 8-lag self-join on metadata-scale rows; "
     "exact-integer moments via int_to_double"),
    ("lang_id_cohen_kappa",
     "scan-local predict -> |langs|^2 aggregate -> grid arithmetic"),
    ("event_type_dispersion",
     "(type, day) aggregate + zero-filled spine; |types|-row close"),
    ("part_k_core",
     "6 peel rounds: degree count + two semi-joins on the shrinking "
     "edge set, checkpointed"),
    ("copurchase_adamic_adar",
     "degree-ordered wedges as packed longs; weight rides the key; "
     "anti-join on the packed edge set"),
    ("customer_hazard_na",
     "per-duration aggregate + metadata-scale prefix window; pure "
     "integer step hazards"),
    ("doc_rake_keywords",
     "scan-local regex segmentation; vocab-sized word stats; <=4x "
     "phrase-word join fan-out"),
    ("source_pass_at_k",
     "scan-local classification -> |sources|-row aggregate -> "
     "fixed k-factor product"),
    ("ann_recall_eval",
     "two deterministic rankings (broadcast-query kernels), "
     "metadata-sized rank join"),
    ("rolling_median_revenue",
     "day-grain window; explicit 7-element frame sort, exact cents"),
    ("fd_audit",
     "per-candidate two-level exact counts, stacked; map-side partials"),
    ("part_hits_authority",
     "two mutual-reinforcement rounds: edge join vs vertex frontier + "
     "map-side-combined groupBy; broadcast 1-row max normalizers"),
    ("user_burst_detection",
     "user-partitioned RANGE window on exact epoch micros"),
    ("source_lexical_diversity",
     "(doc, word) aggregate -> doc grain -> |sources| rollup, exact "
     "ppm integer chains"),
    ("matryoshka_recall_eval",
     "16-dim truncated kernel (4x cheaper scan) vs full-dim ground "
     "truth; metadata-sized join"),
    ("quality_pr_curve",
     "scan-local score x broadcast 10-threshold literal -> one "
     "aggregate row per threshold"),
    ("copurchase_degree_powerlaw",
     "degree groupBy -> |degrees| rows -> fixed-point lnq Hill close"),
    ("embedding_silhouette",
     "fixed-point centroid aggregate -> broadcast |labels| join; no "
     "pairwise work"),
    ("sq_quantization_error",
     "scan-local quantize/dequantize per cell; |labels|-row close"),
    ("corpus_token_budget",
     "ONE global distributed prefix sum + broadcast language offsets; "
     "no per-language table-scale window"),
    ("event_double_fire_audit",
     "(user, type)-partitioned lag window; |types|-row close"),
    ("part_abc_xyz",
     "R82 prefix-sum ABC x cross-multiplied CV^2 XYZ; zero weeks "
     "counted, never materialized"),
    ("brand_discount_quantity_corr",
     "fact x broadcast part dim -> |brands|-row exact moments"),
    ("supplier_return_outliers",
     "|suppliers|-row aggregate + broadcast overall rate"),
    ("segment_value_moments",
     "one |segments|-row raw-moment aggregate; three-limb exact "
     "conversions"),
    ("order_value_permutation_test",
     "19x literal explode folded into ONE perm-keyed aggregate"),
    ("holm_segment_tests",
     "P30 aggregate + broadcast totals; 5-row ranking window"),
    ("daily_forecast_baselines",
     "day-grain spine, two lags, one-row close"),
    ("quality_gains_table",
     "scan-local score -> distributed frozen-boundary rank -> 10-row "
     "rollup (no NTILE single-task window)"),
    ("priority_mix_shift",
     "(month x priority) aggregate + broadcast overall mix; quantized "
     "cell sums"),
    ("part_substitution_candidates",
     "(type,size)-blocked triangular self-join; integer price band"),
    ("source_language_entropy",
     "(source, lang) aggregate -> |sources| rollup, fixed-point lnq"),
    ("weekday_uniformity_test",
     "7-row aggregate + broadcast total; quantized chi2 cells"),
    ("trend_heteroscedasticity_test",
     "day-grain spine + broadcast OLS scalars; quantized residual "
     "moments, one-row close"),
    ("trend_autocorrelation_dw",
     "same OLS backbone; one lag window on the metadata-scale spine"),
    ("dedup_savings_by_source",
     "content-hash groupBy (the L1 shuffle) + |sources| rollup"),
    ("segment_spend_gini",
     "ONE segment-leading distributed rank + broadcast per-segment "
     "offsets; no per-segment table window"),
    ("daily_error_budget",
     "day-grain conditional aggregate; per-row Wilson arithmetic"),
    ("ivf_nprobe_sweep",
     "three probed-fraction scans + one ground truth; rank joins "
     "metadata-sized"),
    ("monthly_growth_accounting",
     "customer-grain first-month aggregate joined back; month rollup"),
    ("order_value_iqr_outliers",
     "distributed rank + broadcast quartile scalars; integer fence "
     "tests in one conditional aggregate"),
    ("segment_value_quartiles",
     "ONE segment-leading distributed rank + broadcast offsets; "
     "rank-at-ceil picks"),
    ("shingle_df_histogram",
     "the L2 shingle shuffle -> |buckets| rollup"),
    ("event_type_audience_overlap",
     "distinct (user, type) grain; |types|^2-bounded pair join"),
    ("doc_length_quartiles_by_lang",
     "ONE language-leading distributed rank + broadcast offsets"),
    # r9 showcase rotations that predate this list (VERDICT r9 item 5)
    ("copurchase_adamic_adar_capped",
     "hub-capped wedge stream: choose(64,2) per-center bound, packed "
     "long pair keys, exact dropped mass as a broadcast 1-row scalar"),
    ("copurchase_link_prediction_capped",
     "same capped wedge machinery, unweighted common-neighbor counts"),
    # r10 additions: the bounded-default SNM linkage family
    ("customer_fuzzy_match_capped",
     "two distributed-rank SNM passes (2nW linear candidates), "
     "threshold levenshtein verify, dropped-pair mass broadcast"),
    ("part_catalog_near_dups_capped",
     "canonical-token SNM passes + exact Jaccard on the linear "
     "candidate set; block-squared stream gone from the default path"),
    ("embedding_near_dup_capped",
     "8 projection-order SNM ranks off ONE Arrow featurize pass "
     "(n·W·8 linear candidates, W corpus-adaptive), id-only candidate "
     "materialization, broadcast vector re-attach, exact cosine verify"),
    # r12 additions
    ("props_xml_extract",
     "scan-local payload synthesis + ONE JVM-side from_xml per row; "
     "no shuffle anywhere"),
    ("xml_quarantine_report",
     "scan-local classification -> |types|x3 aggregate"),
    ("byte_bpe_token_counts",
     "distinct-word grain encode (hex -> map-literal bytes -> 64 "
     "codegen'd replaces), one hash join back, per-doc aggregate"),
    ("embedding_near_dup_recall_eval",
     "bounded candidates + exact block-pair truth, two 1-row scalar "
     "aggregates crossed broadcast"),
]

MARKERS = (
    "PushedFilters",
    "ReadSchema",
    "BroadcastHashJoin",
    "BroadcastExchange",
    "Exchange hashpartitioning",
    "WholeStageCodegen",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans-doc")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. For each",
        "query: the scale-relevant plan markers, then the formatted plan",
        "header (first 30 lines). Full plans: `python -m",
        "dimagi_data_platform_spark run <query> --sf-dir ... --explain`.",
        "",
    ]
    for name, why in SHOW:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        hits = sorted({m for m in MARKERS if m in plan})
        out.append(f"## {name}")
        out.append("")
        out.append(f"*Why it matters:* {why}.")
        out.append(f"*Markers present:* {', '.join(hits) or 'none'}.")
        out.append("")
        out.append("```")
        out.extend(plan.splitlines()[:30])
        out.append("```")
        out.append("")
    out.extend(_dv_read_plan_section(spark))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")


def _dv_read_plan_section(spark) -> list[str]:
    """Audit the merge-on-read read path (VERDICT r9 item 5): build a
    tiny versioned table with one DV commit in a temp dir and dump the
    logical-snapshot read plan — the anti-join + union the chain adds
    per un-compacted link (bounded by DV_AUTO_COMPACT_DEPTH)."""
    import shutil
    import tempfile

    from dimagi_data_platform_spark.sources import versioned as V

    d = tempfile.mkdtemp(prefix="plans-dv-")
    try:
        tbl = os.path.join(d, "tbl")
        V.write_version(
            spark.createDataFrame(
                [(1, 1, "a"), (2, 1, "b")], "id long, ver long, v string"
            ),
            tbl, "2024-01-01",
        )
        V.merge_version_dv(
            spark,
            tbl,
            spark.createDataFrame([(2, 2, "b2")], "id long, ver long, v string"),
            ["id"], "ver", "2024-02-01",
        )
        df = V.read_version(spark, tbl)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        hits = sorted({m for m in MARKERS if m in plan})
        return [
            "## versioned table: merge-on-read (DV) snapshot read",
            "",
            "*Why it matters:* one base scan + per-link (anti-join dv, "
            "union delta) — write cost scales with the batch, read cost "
            "with chain depth, bounded by DV_AUTO_COMPACT_DEPTH "
            "auto-compaction.",
            f"*Markers present:* {', '.join(hits) or 'none'}.",
            "",
            "```",
            *plan.splitlines()[:30],
            "```",
            "",
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
