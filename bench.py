"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set spans the cost spectrum: scan+agg, multiway join, window,
self-join co-occurrence, shingle-join jaccard, brute-force knn, text
profiling, sessionization — the queries whose plans matter at 100 TB.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from project_bigdata_recsys_spark.caching import release_shared
from project_bigdata_recsys_spark.session import get_spark
from tools.harness import prepare_shared_tier, run_query, settle, warm_up

HEADLINE = [
    "course_stats",
    "conditional_pivot",
    "multiway_join",
    "pricing_summary",
    "local_supplier_volume",
    "big_orders",
    "purchase_asof_click",
    "moving_avg_range",
    "user_activity",
    "cooccurrence_pairs",
    "latest_order_per_customer",
    "sessionize",
    "top_n_per_group",
    "doc_quality_profile",
    "token_frequencies",
    "ngram_jaccard_pairs",
    "knn_brute_force",
    "json_extraction",
    "grouping_sets_stats",
    "data_quality_report",
    "token_stats",
    "exact_duplicates",
    "cheapest_order_per_customer",
    "rolling_median",
    "time_rollup",
    # LLM-pipeline hot path (round 2): near-dup candidate generation,
    # banded simhash, clustering, batched ANN, plus one streaming replay
    "minhash_candidates",
    "simhash_near_pairs",
    # near_dup_clusters moved to its _reused form below (r8): the gate
    # form re-ran the identical labeling build the shared tier already
    # pays once — the headline was measuring the same build 4x over
    "knn_multi_query",
    "stream_tumbling_counts",
    # corpus-quality operators added round 2
    "repetition_profile",
    "pii_redaction_profile",
    # curation + adaptive-IVF operators added round 3
    "pack_sequences",
    "corpus_mixture",
    "tfidf_top_terms",
    "knn_ivf_centroid",
    "curation_funnel",
    "incremental_dedup",
    # round-5 scale paths: sharded curation windows + Lloyd IVF + kNN graph
    "pack_sequences_sharded",
    "corpus_mixture_sharded",
    "knn_ivf_lloyd",
    "knn_graph",
    # round-5 second-session operators: span dedup, graph rank, snapshots
    "span_dedup_profile",
    # classic + personalized share one persist_shared edge frame; timed
    # adjacently with no block sweep in between so the second entry
    # measures the marginal rank loop, not an edge rebuild (r6 advisory)
    "item_pagerank",
    "item_pagerank_personalized",
    # triangles reuse the same persist_shared edge frame — third consumer
    # (r8: orientation+degrees persist too, shared_oriented_edges), and
    # the Salton i2i table rides the same tier (shared margins frame)
    "item_triangles",
    "item_similar_neighbors",
    "snapshot_diff",
    "weighted_sample",
    "group_quantile_filter",
    "knn_pq",
    "sql_exists_filter",
    "entropy_profile",
    # classic-OLAP + curation additions late in round 5
    "span_contamination",
    "cohort_retention",
    "rfm_segments",
    "association_rules",
    "dau_wau_stickiness",
    "event_funnel",
    # round-5 final wave: source triage + training-prep cost shapes
    "source_scorecard",
    "cross_source_overlap",
    "length_bucketed_batches",
    "novelty_profile",
    "unigram_logloss",
    "semantic_contamination",
    "source_vocabulary_profile",
    "label_centroid_outliers",
    "nearest_centroid_agreement",
    # The CC-labeling family keeps ONE self-contained entry as the
    # build-cost contract: the one-scan composed report pays text scan +
    # pair generation + CC inline (inherently the heaviest single query).
    # Every other consumer is benched in its _reused form below — the
    # marginal cost production pays against the nightly labeling.
    "source_triage_report",
    # incremental_components is gate-only: its gate form RECONSTRUCTS the
    # prior labeling with a second CC pass (production reads it from
    # disk), so benching it times an artifact of the oracle construction
    "shuffled_export_manifest",
    "pack_sequences_boundaries",
    "int8_quantization_profile",
    "dedup_keep_best",
    "hll_daily_rollup",
    "pit_segment_rollup",
    "incremental_agg_merge",
    "negative_samples",
    "schema_drift_report",
    "multi_touch_attribution",
    "decayed_popularity",
    "kfold_assignment",
    # stream_semantic_dedup is gate-only in the bench sense: the gate
    # form REBUILDS the persisted train index + pays one-time stream
    # codegen inline (production probes an existing index), so its
    # wall-clock is construction artifact, not plan cost
    "backfill_plan",
    "forget_users_plan",
    "event_transitions",
    "psi_drift",
    "ab_test_lift",
    "pareto_curve",
    "fuzzy_name_matches",
    "gap_filled_daily",
    "rolling_distinct_users",
    "conversion_lag",
    "centroid_confusion",
    "ann_recall_profile",
    "monthly_growth",
    "embedding_dim_profile",
    "packing_efficiency_sweep",
    "prefix_cache_savings",
    # round-7 production-form twins of the gate-only heavyweights: the
    # first entry pays the one-time CC labeling build+write (≈ the gate
    # form), the following two measure the MARGINAL cost of consumers
    # that LOAD the parquet labeling — the number production pays
    # nightly.  The stream probe's index is prepared in warmup (a
    # one-time write), so its entry times the recurring probe.
    "source_dup_attribution_reused",
    "cluster_aware_split_reused",
    "near_dup_clusters_reused",
    "split_source_audit_reused",
    "incremental_components_fold",
    "stream_semantic_dedup_probe",
    # round-7 stretch: two-stage retrieval rerank + streaming CDC apply
    # + the mergeable quantile-sketch layer
    "ann_rerank",
    "stream_cdc_current",
    "ddsketch_quantile_rollup",
    "stream_value_quantiles",
    "merge_upsert_profile",
    "bpe_pair_counts",
    "rerank_uplift_profile",
    "stream_late_data_audit",
    "stream_merge_apply",
    # round-7 closing wave: retrieval baseline, tokenizer planning,
    # interval sweep-line
    "bm25_scores",
    "vocab_coverage_curve",
    "concurrent_events_peak",
    # round-8: SemDeDup-style embedding-cluster dedup (within-cell
    # pairwise only) + per-registrable-domain quota cap (window only
    # over over-quota domains) + privacy QA + incremental quota fold
    "semdedup_profile",
    "domain_quota_sample",
    "k_anonymity_profile",
    "incremental_domain_quota",
    "stream_domain_quota",
    # round-8 second wave: ranking eval (counting-based filtered rank,
    # no user x candidate explosion), KMV sketch (two-phase sharded
    # top-k), Gopher repetition rules (array-side grams, one scan)
    "ranking_metrics",
    "kmv_distinct_rollup",
    "doc_repetition_profile",
    # round-8 third wave: decayed popularity (rational micro weights),
    # streaming KMV state fold, ALS ranking eval (invariant profile)
    "trending_items",
    "stream_kmv_distinct",
    "als_ranking_eval",
    # round-8 fourth wave: two-sample drift tests over the shared
    # early/late value histogram (exact distributed cumsums)
    "ks_value_drift",
    "mann_whitney_drift",
    # membership member of the sketch quartet (broadcast bitmap probe)
    "bloom_membership_profile",
    # round-8 fifth wave: privacy l-diversity, bandit ranking, session
    # path mining, CCNet tercile split (range-shuffle exact thresholds)
    "l_diversity_profile",
    "ucb_ranking",
    "session_ngrams",
    "perplexity_buckets",
    # round-8 sixth wave: hashed quality classifier (two-pass NB),
    # EWMA volume anomalies (integer-literal decay), Z-order layout
    # profile, Adamic-Adar link prediction (capped wedge centers)
    "quality_lr_score",
    "ewma_anomalies",
    "zorder_layout_profile",
    "link_prediction_adamic_adar",
    # round-8 seventh wave: DoReMi-lite mixture reweighting (shared LM
    # kernel), IPS offline policy eval, beyond-accuracy rec metrics,
    # compaction merge-bin planner
    "domain_reweight",
    "ips_eval",
    "recs_diversity_profile",
    "compaction_plan",
    # round-8 eighth wave: streaming EWMA monitor twin + hybrid
    # BM25-dense retrieval fused by reciprocal rank
    "stream_ewma_anomalies",
    "hybrid_search",
    # streaming SCD2 point-in-time enrichment (stream-static interval
    # join, state bounded by (segment, user) partials)
    "stream_pit_enrichment",
    # round-8 closing wave: drift-quartet + privacy-trio close-outs
    "welch_ttest_drift",
    "t_closeness_profile",
    # censoring-aware conversion curve + closed-form per-group OLS
    "survival_km_curve",
    "ols_trend_per_group",
    # leakage-safe LOO target encoding + propensity calibration bins
    "target_encoding_oof",
    "calibration_bins",
    # join-strategy pair: broadcast-bitmap runtime prefilter + salted
    # shuffle join (both row-identical to the plain join by contract)
    "bloom_pruned_join",
    "salted_join_agg",
    # sketch algebra: day-over-day audience overlap from KMV sketches
    "kmv_set_ops",
    # streaming Welch twin (2-row moment state) + embedding cross-
    # moment redundancy QA (vec_id-keyed Gram fold, DECIMAL sums)
    "stream_welch_drift",
    "embedding_correlation_pairs",
    # URL canonicalization dedup + DP count release + exact per-group
    # AUC from histogram rank sums
    "url_canonical_dedup",
    "dp_noisy_counts",
    "exact_auc_by_group",
    # one-pass Poisson bootstrap CI + LSH band-config S-curve sweep
    "bootstrap_ci_mean",
    "lsh_band_sweep",
    # RM3 feedback expansion (one token explosion) + CUSUM localization
    "rm3_query_expansion",
    "cusum_changepoint",
    # streaming bootstrap twin + CMS join-size planner + forecast
    # baseline backtest
    "stream_bootstrap_ci",
    "cms_join_size_estimate",
    "seasonal_naive_eval",
    # recursive-CTE SQL surface + streaming CUSUM twin
    "sql_recursive_cte",
    "stream_cusum_changepoint",
    # exact-quantile winsorized KPIs + degree/Hill skew diagnostic
    "winsorized_stats",
    "degree_distribution_profile",
    # CUPED experimentation readout + Neyman sampling design +
    # rendezvous-hash shard-expansion audit
    "cuped_adjusted_lift",
    "neyman_allocation_plan",
    "rendezvous_shard_plan",
    # round-8 session-3 wave: data selection, ts diagnostics, QA, conformal
    "dsir_importance_sample",
    "acf_ljung_box",
    "benford_audit",
    "conformal_interval_eval",
    "bradley_terry_ratings",
    "order_part_hits",
    "textrank_keywords",
    "kcore_profile",
    "collocation_llr",
    "phrase_search",
    "pinball_quantile_eval",
    "wasserstein_value_drift",
    "embedding_top_pc",
    "hashing_collision_audit",
    "absorption_funnel_prob",
    "stream_benford_values",
    "did_lift_estimate",
    "sprt_ab_monitor",
    "jl_distortion_audit",
    "mann_kendall_trend",
    "theil_sen_trend",
    "woe_iv_profile",
    "holt_forecast_eval",
    "stream_sprt_monitor",
    "overdispersion_profile",
    "capture_recapture_estimate",
    "eb_shrunk_rates",
    "sorted_neighborhood_pairs",
    "shapley_channel_attribution",
    "sequence_entropy_profile",
    "join_order_advisor",
    "source_kl_divergence",
    "rake_keyphrases",
    "cv_paired_ttest",
    "vocab_cover_sources",
    "largest_remainder_allocation",
    "markov_removal_attribution",
    "changepoint_slopes",
    "aa_test_calibration",
    "quantile_normalize_profile",
    "spearman_user_metrics",
    "price_elasticity",
    "doubly_robust_ate",
    "pps_horvitz_thompson",
    "seasonal_indices",
    "term_burstiness",
    "stream_holt_forecast",
    "bh_fdr_correction",
    "icc_profile",
    "mde_power_analysis",
    "session_gap_sweep",
    "freshness_audit",
    "stream_mann_kendall",
    "negbin_fit_profile",
    "lang_source_vmeasure",
    "theil_inequality_index",
    # round-10 stretch: cross-run dedup manifest diff (digest-only keeper
    # diff between corpus snapshots) + contrastive hard-negative mining
    "dedup_manifest_diff",
    "hard_negative_mining",
    # round-11 wave: training-mix planning (temperature sweep + budget
    # allocation under the repetition cap) + credential scanning
    "mixture_temperature_sweep",
    "token_budget_planner",
    "secret_scan_profile",
    # second r11 wave: streaming governance twin, ORC breadth, MinHash
    # estimator calibration (rides the shared signature memo)
    "stream_secret_scan",
    "orc_roundtrip_ingest",
    "minhash_calibration_profile",
    # S5+S6 live: embedded-Derby JDBC sink + parallel range re-scan
    "jdbc_roundtrip_ingest",
    # per-source release artifact: six kernels composed (rides the
    # unigram memo the warmup prepares)
    "training_data_card",
    # Spark-4 Python DataSource surface (cost = Python worker fan-out)
    "python_datasource_interactions",
    "stream_python_datasource",
    # round-13 wave: index-maintenance compaction (append folds + layout
    # rewrite) and the multi-batch incremental datasource consumption
    # (cost = 3 processing-time micro-batches + Python worker fan-out)
    "stream_ann_compaction",
    "stream_python_datasource_incremental",
    # r13 stretch: cross-snapshot index churn audit + tokenizer
    # fertility table (one documents scan, byte/char/token kernels)
    "ann_index_diff",
    "tokenizer_fertility_audit",
    # r13 third wave: merge-on-read join-view lifecycle — ledger-append
    # MOR resolution (broadcast-only read path), CoW reconcile fold, and
    # the three-micro-batch streaming append twin.  Each pays the same
    # one-time base materialization (orders ⋈ customer write).
    "join_view_mor",
    "join_view_reconcile",
    "stream_join_view_mor",
    # r13 fourth wave: corpus Zipf-exponent fit (one vocab-bounded
    # corpus pass) and the bucketed co-located join (cost = the gate's
    # own bucketed-layout write + the exchange-free fact⋈fact join)
    "zipf_fit_profile",
    "bucketed_join_agg",
    # r13 fifth wave: Heaps vocabulary-growth fit (same vocab-bounded
    # shuffle class as the Zipf fit) and the seed-bounded 2-hop reach
    # over the shared co-occurrence edge memo
    "heaps_fit_profile",
    "two_hop_reach",
    # r13 sixth wave: month-over-month edge churn (per-month basket
    # self-join + one co-partitioned intersection) and the streaming
    # vocabulary-ledger fold twin of the Zipf fit (3 enforced
    # micro-batch appends + exact partial-count merge)
    "cooccurrence_drift",
    "stream_zipf_fit",
    # r13 seventh wave: Dirichlet query-likelihood ranking (one token
    # explosion + broadcast postings join) and 3-round synchronous LPA
    # over the shared edge memo
    "lm_dirichlet_scores",
    "label_prop_communities",
    # r13 eighth wave: blocked Fellegi-Sunter pair scoring (frozen
    # per-field ln(m/u) weights, exact BIGINT pair sums), all-integer
    # IPF raking on the (lang, source) cell table, and the
    # two-range-window sort-filter skyline
    "fellegi_sunter_linkage",
    "ipf_weight_calibration",
    "skyline_orders",
    # r13 ninth wave: MOSS winnowing fingerprint overlap (per-doc
    # sliding-window minima + df-capped pair join) and greedy k-center
    # coreset selection (k-1 broadcast-literal scans)
    "winnowing_overlap",
    "kcenter_coreset",
    # r13 tenth wave: ledger-fold streaming twins (fingerprint-index
    # appends; per-batch local skylines merged by the skyline algebra)
    "stream_winnowing",
    "stream_skyline",
    # r13 eleventh wave: stratified exact matching (equal-arm cohorts
    # per pre-activity band, md5-ranked selection, integer outcomes)
    "exact_matched_cohort",
    # r13 twelfth wave: ER survivorship (SN link edges -> min-label CC
    # -> deterministic attribute fusion)
    "golden_record_fusion",
    # r13 thirteenth wave: the raking cell-ledger fold (shared IPF
    # kernel + oracle) and Burrows' Delta stylometric source distance
    "stream_ipf",
    "burrows_delta",
    # r14 first wave: iterated BPE merge training (8 vocab-sized
    # rounds), the incremental ER linkage fold (touched-block adjacency
    # replacement), and sequence-bounded MOR time travel
    "bpe_train_merges",
    "stream_golden_record",
    "join_view_time_travel",
    # r14 second wave: stream-fed BPE vocabulary fold, Broder
    # containment over df-capped rare shingles, KN bigram LM
    "stream_bpe_vocab",
    "containment_pairs",
    "kneser_ney_bigram",
    # r14 third wave: exact PR-AUC, Murphy Brier decomposition,
    # minimax-PAV isotonic recalibration (shared propensity fixture)
    "pr_auc_by_group",
    "brier_decomposition",
    "isotonic_calibration_pav",
    # r14 fourth wave: vacuum retention planning, LATERAL SQL parity,
    # per-node clustering coefficient off the oriented triangle kernel
    "vacuum_retention_plan",
    "sql_lateral_topk",
    "local_clustering_profile",
    # r14 fifth wave: learned-merge fertility readout, salt-factor
    # advisor under planted skew, histogram-ledger streamed PR-AUC
    "bpe_fertility_after_merges",
    "skew_salt_advisor",
    "stream_pr_auc",
    # r14 sixth wave: greedy MMR over the ANN shortlist, the SRM
    # chi-square gate, postings-ledger streamed containment
    "mmr_diversified_rerank",
    "srm_check",
    "stream_containment",
    # r14 seventh wave: ER blocking-quality audit (exact recall vs
    # reduction), folded key-histogram salt planning
    "blocking_quality_audit",
    "stream_skew_monitor",
    # r14 eighth wave: Qini uplift curve, exact-payload partition
    # sizing pre-flight
    "qini_uplift_curve",
    "shuffle_partition_advisor",
    # r15 first wave: IVF-PQ composed ANN (residual PQ over coarse
    # cells, per-probed-cell ADC + exact rerank) and its recall
    # decomposition vs flat PQ / the probed-cell exact ceiling
    "knn_ivf_pq",
    "ivf_pq_recall_profile",
    # r15 second wave: manifest-driven schema-evolution read (two
    # drifted physical snapshots resolved at scan time) and the Arrow
    # Python UDTF surface (LATERAL fan-out, plan-pinned Arrow eval)
    "schema_evolution_read",
    "udtf_token_rows",
    # r15 third wave: persisted incremental containment index
    # (O(batch) postings/df-ledger admission, probe-time cap-crossing
    # retraction)
    "containment_index_pairs",
    # r15 fourth wave: tie-corrected Mann-Whitney U (integer midranks
    # over the per-segment value histogram) and the stream-maintained
    # containment index (per-batch O(batch) admission + probe)
    "mann_whitney_test",
    "stream_containment_index",
    # r15 fifth wave: histogram-ledger streamed U test and the
    # two-layout partition-spec evolution read
    "stream_mann_whitney",
    "partition_evolution_read",
    # r15 sixth/seventh waves: frozen-quantizer IVF-PQ admission, the
    # n_probe tuning sweep (one encode, per-point shortlists), and the
    # Arrow grouped-agg pandas UDAF
    "ivf_pq_incremental_knn",
    "ivf_pq_nprobe_sweep",
    "udaf_trimmed_mean",
    # r15 eighth wave: gb-pruned batch probe of the containment index
    "containment_batch_probe",
]

#: Frozen cross-round comparison subset (r10 verdict task #5): the
#: headline list grows every round, so totals never compare directly and
#: every verdict re-derived comparability by hand.  The anchors fixed the
#: AMBIENT axis (how fast was the box); this fixes the COMPOSITION axis
#: (which queries are being summed).  Contents: the full r1 anchor set
#: (25) plus one representative of each recurring cost class — memo-fed
#: dedup (minhash_candidates), iterative graph (item_pagerank), ANN
#: self-join (knn_graph), CC-composition (source_triage_report), and a
#: bounded streaming replay (stream_tumbling_counts).  FROZEN: never
#: add, remove, or reorder entries — a changed subset is a broken
#: comparison axis.  bench.py publishes its sum as
#: `frozen_subset_total` every run.
FROZEN_SUBSET = [
    "course_stats",
    "conditional_pivot",
    "multiway_join",
    "pricing_summary",
    "local_supplier_volume",
    "big_orders",
    "purchase_asof_click",
    "moving_avg_range",
    "user_activity",
    "cooccurrence_pairs",
    "latest_order_per_customer",
    "sessionize",
    "top_n_per_group",
    "doc_quality_profile",
    "token_frequencies",
    "ngram_jaccard_pairs",
    "knn_brute_force",
    "json_extraction",
    "grouping_sets_stats",
    "data_quality_report",
    "token_stats",
    "exact_duplicates",
    "cheapest_order_per_customer",
    "rolling_median",
    "time_rollup",
    "minhash_candidates",
    "item_pagerank",
    "knn_graph",
    "source_triage_report",
    "stream_tumbling_counts",
]

#: r11 driver-recorded frozen-subset baseline (BENCH_r11.json,
#: ambient_ok run).  Re-baseline ONLY when a round's verdict accepts a
#: new steady state — never to silence the flag.
FROZEN_SUBSET_BASELINE_SEC = 49.9


def frozen_subset_verdict(
    frozen_total: float,
    ambient_ok: bool,
    baseline: float = FROZEN_SUBSET_BASELINE_SEC,
    tolerance: float = 0.15,
) -> tuple[float | None, str | None, str | None]:
    """The composition-axis twin of the ambient guard (r11 verdict task
    #3): the frozen subset moving >15% while the r1 anchor sits INSIDE
    its band cannot be ambient load (the anchor would have moved with
    it) and cannot be list growth (the subset never changes) — it is a
    real code-level shift.  Returns (ratio_vs_baseline, flag, advisory):
    the hard flag fires only on in-band runs; out-of-band runs with a
    beyond-tolerance subset move get the ADVISORY instead (r12 ADVICE:
    r12's own 0.86 ratio hid behind a 0.7% ambient excursion — a real
    shift must not be silenced just because the anchor strayed)."""
    if not baseline or frozen_total is None:
        return None, None, None
    ratio = round(frozen_total / baseline, 3)
    if abs(ratio - 1.0) <= tolerance:
        return ratio, None, None
    direction = "regressed" if ratio > 1 else "improved"
    msg = (
        f"frozen subset {frozen_total}s is {ratio}x the r11 baseline "
        f"{baseline}s — composition-independent {direction}"
    )
    if ambient_ok:
        return ratio, msg + (
            " with the anchor in-band, not ambient; diagnose before "
            "comparing totals"
        ), None
    return ratio, None, msg + (
        " on an out-of-band-anchor run; ambient may contribute but "
        "does not automatically explain it — check before trusting"
    )


#: Session bench ledger (r14 verdict task #8): every run appends its
#: (anchor, frozen ratio, ambient flag) here and the stdout line carries
#: the min/max frozen ratio across the ledger's IN-BAND runs — the
#: "two in-band runs bracketing 1.0" conclusion the r14 verdict had to
#: assemble by hand from BENCH_NOTES now falls out of the artifact
#: itself.  The filename carries the round so each round's bracket
#: starts clean (rotate it alongside _GATE_WINDOW).
SESSION_LEDGER = "BENCH_LEDGER_r16.jsonl"

#: The headline scale factor: the committed ledger and BENCH_DETAIL.json
#: record sf0.1 runs only, so a run at any other sf (a smoke run) reads
#: them but writes neither.
HEADLINE_SF = 0.1


def record_session_bracket(
    anchor: float,
    frozen_total: float,
    frozen_ratio: float | None,
    ambient_ok: bool,
    sf: float,
) -> dict:
    """Append this run to the session ledger (headline-sf runs only) and
    summarize the in-band bracket so far (same-sf runs only; out-of-band
    anchors are recorded but excluded from the bracket — they measure
    the host)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), SESSION_LEDGER
    )
    entry = {
        "ts": round(time.time(), 1),
        "sf": sf,
        "anchor": anchor,
        "frozen_subset_total": frozen_total,
        "frozen_subset_ratio": frozen_ratio,
        "ambient_ok": ambient_ok,
    }
    if sf == HEADLINE_SF:
        with open(path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")
    ratios = []
    with open(path) as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            if e.get("ambient_ok") and e.get("sf") == sf and (
                e.get("frozen_subset_ratio") is not None
            ):
                ratios.append(e["frozen_subset_ratio"])
    if not ratios:
        return {"ledger": SESSION_LEDGER, "in_band_runs": 0}
    return {
        "ledger": SESSION_LEDGER,
        "in_band_runs": len(ratios),
        "frozen_ratio_min": min(ratios),
        "frozen_ratio_max": max(ratios),
        "brackets_baseline": min(ratios) <= 1.0 <= max(ratios),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # both the wait and the load actually seen are recorded in the output
    # line: the numbers stay honest either way, they just compare better
    # when the wait succeeds
    settle_wait = settle()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    prepare_shared_tier(spark, sf_dir)

    # prior committed per-query numbers, read BEFORE a headline-sf run
    # overwrites the detail file — the reference for the warm-retime
    # adjudicator
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    prior_timings: dict[str, float] = {}
    try:
        with open(detail_path) as fh:
            prior_doc = json.load(fh)
        if prior_doc.get("sf") == sf:
            prior_timings = prior_doc.get("queries", {}) or {}
    except (OSError, ValueError):
        pass

    timings = {name: run_query(spark, name, sf_dir)[1] for name in HEADLINE}

    # Warm-retime adjudicator (r13 verdict task #4): streaming-family
    # entries (ledger/checkpoint IO) bounce 2-3x run-to-run on this box
    # while their code is unchanged; three rounds of BENCH_NOTES
    # adjudicated the same signature by hand.  Any entry reading >2x its
    # committed prior time (and costing enough to matter) is re-timed
    # once, warm, in the same session; both numbers and a verdict land
    # in the artifact so no prose adjudication is needed.  Headline
    # `timings` keep the honest first-run numbers — the retime is
    # evidence, not a substitution.
    warm_retimes: dict[str, dict] = {}
    for name, t_first in timings.items():
        t_prior = prior_timings.get(name)
        if not t_prior or t_first <= 2 * t_prior or t_first < 2.0:
            continue
        t_warm = run_query(spark, name, sf_dir)[1]
        warm_retimes[name] = {
            "first": t_first,
            "warm": t_warm,
            "prior": t_prior,
            "verdict": (
                "transient (warm retime back within 2x of prior — "
                "ambient/IO spike, not code)"
                if t_warm <= 2 * t_prior
                else "persistent (warm retime still >2x prior — "
                "investigate as a real regression)"
            ),
        }

    release_shared()
    total = round(sum(timings.values()), 3)
    # Full per-query map goes to a FILE: the r6 driver artifact came back
    # "parsed": null because the 98-entry JSON line overflowed the
    # driver's bounded tail capture.  stdout gets ONE compact line —
    # totals, anchor subsets, the 10 slowest — sized to survive capture.
    if sf == HEADLINE_SF:
        with open(detail_path, "w") as fh:
            json.dump(
                {"metric": "headline_queries_total", "value": total,
                 "unit": "sec", "queries": timings, "sf": sf,
                 "warm_retimes": warm_retimes},
                fh, indent=1,
            )
    # the r1 headline set: the cross-round ambient anchor
    anchors = {"r1_25": round(sum(timings[q] for q in HEADLINE[:25]), 3)}
    frozen_subset_total = round(
        sum(timings[q] for q in FROZEN_SUBSET if q in timings), 3
    )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    # Ambient guard (r9 verdict task #6): the r1 anchor has ranged
    # 18.0–24.8 s across r1–r9 on this box at acceptable load; a run
    # whose anchor lands outside that band is measuring the host, not
    # the code, and its total must not be compared across rounds
    # without anchor normalization.  Both the normalized ratio and the
    # in/out-of-band verdict are published so no judge-side
    # recomputation is needed.
    anchor_band = (18.0, 24.8)
    r1_anchor = anchors["r1_25"]
    anchor_normalized_ratio = round(total / r1_anchor, 3) if r1_anchor else None
    ambient_ok = anchor_band[0] <= r1_anchor <= anchor_band[1]
    frozen_ratio, frozen_flag, frozen_advisory = frozen_subset_verdict(
        frozen_subset_total, ambient_ok
    )
    session_bracket = record_session_bracket(
        r1_anchor, frozen_subset_total, frozen_ratio, ambient_ok, sf
    )
    # host load at start/end: this box is shared, and measured co-tenant
    # load swings totals ~2x run-to-run; numbers only compare at similar
    # load.  "queries" carries the 10 slowest only — full map in detail.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": slowest,
                "queries_truncated_to": 10,
                "detail_file": "BENCH_DETAIL.json",
                "anchors": anchors,
                "frozen_subset_total": frozen_subset_total,
                "frozen_subset_n": len(FROZEN_SUBSET),
                "frozen_subset_ratio": frozen_ratio,
                "frozen_subset_flag": frozen_flag,
                "frozen_subset_advisory": frozen_advisory,
                "session_bracket": session_bracket,
                "warm_retimes": warm_retimes,
                "anchor_normalized_ratio": anchor_normalized_ratio,
                "anchor_band_sec": list(anchor_band),
                "ambient_ok": ambient_ok,
                "ambient_flag": None
                if ambient_ok
                else (
                    f"r1 anchor {r1_anchor}s outside "
                    f"{anchor_band[0]}-{anchor_band[1]}s band — ambient "
                    "load skewed this run; compare anchor_normalized_ratio, "
                    "not totals"
                ),
                "sf": sf,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "settle_wait_sec": settle_wait,
            }
        )
    )


if __name__ == "__main__":
    main()
