"""Workload definitions: a fixed multiset of registered queries per workload.

A run issues every op of its workload once per pass, one after another
(closed loop, one client).  The seed only permutes the order, so every seed
sees the same composition and the program receives only the inputs.
"""

from __future__ import annotations

import random

#: Reference-dashboard traffic: read-only relational and analytics queries.
#: Bound by driver-side overhead (builder call, py4j, job scheduling).
#: Twelve of the 28 queries first proposed for it, so that a warm pass and
#: a measured pass fit the run budget beside JVM start: ``label_histogram
#: distinct_counts time_range_filter top_k_orders rollup_totals
#: event_rate dau_wau_stickiness percentile_stats conditional_pivot
#: events_per_day top_n_per_group shipping_priority pricing_summary
#: big_orders user_activity moving_avg_range`` repeat the scan, aggregate,
#: window and join shapes of queries that stay.
DASHBOARD = (
    "course_stats multiway_join local_supplier_volume "
    "latest_order_per_customer user_topk_recommendations cohort_retention "
    "event_funnel rfm_segments sql_exists_filter grouping_sets_stats "
    "sessionize json_extraction"
).split()

#: Nightly dedup, graph and ALS batch: executor compute, shuffle, persists
#: and the pre-built shared tier.
CORPUS_BATCH = (
    "minhash_candidates simhash_near_pairs ngram_jaccard_pairs "
    "tfidf_top_terms knn_graph knn_ivf_lloyd item_pagerank item_triangles "
    "association_rules curation_funnel als_top_recommendations"
).split()

#: The consumer's bounded Structured Streaming replays and a ledger fold:
#: micro-batch fixed cost, checkpoints, state and Python workers.  Four of
#: the eleven replays first proposed for it, one per mechanism, so that a
#: warm pass and a measured pass fit the run budget: Python workers
#: (``stream_stateful_features``, applyInPandasWithState), deduplicating
#: state (``stream_dedup_events``), windowed state (``stream_session_windows``)
#: and the foreachBatch ledger fold (``stream_ipf``).  The ones left out
#: repeat one of these: ``stream_bootstrapped_features`` the kernel of
#: ``stream_stateful_features``; ``stream_tumbling_counts``,
#: ``stream_sliding_counts`` and ``stream_trending_items`` windowed counts;
#: ``stream_zipf_fit`` and ``stream_skyline`` the foreachBatch fold of
#: ``stream_ipf``; ``stream_stream_attribution`` a stream-stream join whose
#: 5.0-8.5 s spread across runs widened the pass wall's spread more than any
#: other op.
STREAM_REPLAY = (
    "stream_stateful_features stream_dedup_events stream_session_windows "
    "stream_ipf"
).split()

#: The write path: sources ingest round trips and index/view commits that
#: re-read what they have just written.
INDEX_WRITES = (
    "csv_roundtrip_ingest jsonl_roundtrip_ingest orc_roundtrip_ingest "
    "jdbc_roundtrip_ingest containment_index_pairs incremental_dedup_indexed "
    "join_view_mor join_view_reconcile ivf_pq_incremental_knn "
    "bucketed_join_agg vacuum_retention_plan"
).split()

WORKLOADS: dict[str, list[str]] = {
    "dashboard": DASHBOARD,
    "corpus_batch": CORPUS_BATCH,
    "stream_replay": STREAM_REPLAY,
    "index_writes": INDEX_WRITES,
}

#: Measured passes per run at the least (more while ``--seconds`` have not
#: elapsed).  A stream pass is four ops of 2-5 s each, so two passes fit the
#: run budget; their median (the mean of the two) narrowed the spread of
#: ``wall_s`` across five seeds from 0.13-0.23 to 0.09-0.11 (IQR/median).
MIN_PASSES = {"dashboard": 1, "corpus_batch": 1, "stream_replay": 2, "index_writes": 1}


def op_order(ops: list[str], seed: int) -> list[str]:
    """The seed's permutation of the workload's op multiset."""
    order = list(ops)
    random.Random(seed).shuffle(order)
    return order


def shared_tier(workload: str):
    """Builders of the pre-built shared artifacts this workload's ops read.

    Only ``corpus_batch`` consumes the shared tier (the minhash signature,
    simhash band, CC labeling and co-occurrence edge memos); the other
    workloads build everything they read inside the op.
    """
    if workload != "corpus_batch":
        return []
    from project_bigdata_recsys_spark.functions.dedup import (
        shared_components,
        shared_minhash_signatures,
        shared_simhash_bands,
    )
    from project_bigdata_recsys_spark.functions.graph import (
        shared_cooccurrence_edges,
        shared_oriented_edges,
    )

    return [
        lambda spark, sf: shared_minhash_signatures(spark, sf).count(),
        lambda spark, sf: shared_simhash_bands(spark, sf),
        lambda spark, sf: shared_components(spark, sf).count(),
        lambda spark, sf: shared_cooccurrence_edges(spark, sf).count(),
        lambda spark, sf: shared_oriented_edges(spark, sf).count(),
    ]
