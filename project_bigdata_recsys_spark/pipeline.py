"""The full pipeline as ONE Spark application (SURVEY.md §3.1).

The reference orchestrates five processes through Airflow BashOperators —
ETL loads → LightGBM + spark-submit ALS → timed producer/consumer
(airflow/dags/recsys_pipeline.py:58-144) — with Postgres as the interchange
format between every stage.  Collapsed onto one SparkSession, stage
ordering is plain function calls, the interchange format is DataFrames /
parquet, and the only process boundaries left are Spark's own
driver/executor/shuffle ones:

    ingest (tolerant read + upsert)
      → train (ALS + GBT, metrics ledger, active-model view)
      → knowledge base (co-occurrence / popularity / success profile)
      → bounded streaming (snapshot-bootstrapped state + broadcast-model
        scoring via foreachBatch)

Every stage is deterministic (seeded, timestamp-parameterized) so the
whole run is testable end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from project_bigdata_recsys_spark.ml.classifier import (
    FEATURE_COLS,
    train_classifier,
    training_frame,
)
from project_bigdata_recsys_spark.ml.recsys import (
    kb_pair_counts,
    kb_popular_items,
    kb_success_profile,
    latest_active_view,
    ledger_append,
    train_als,
)
from project_bigdata_recsys_spark.sources.ingest import (
    synthetic_interactions,
    upsert_append,
)
from project_bigdata_recsys_spark.streaming.jobs import (
    model_scoring_writer,
    run_bootstrapped_features,
    run_bounded,
    streaming_progress_summary,
)


def run_full_pipeline(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    run_ts: str = "2026-01-01 00:00:00",
    als_rank: int = 8,
    als_iters: int = 5,
    gbt_iters: int = 5,
) -> dict:
    """Execute every stage; return a manifest of outputs and metrics.

    ``run_ts`` parameterizes the ledger timestamp (determinism rule,
    SURVEY.md §7.4.4 — the reference stamps wall-clock versions).
    """
    os.makedirs(work_dir, exist_ok=True)
    manifest: dict = {"work_dir": work_dir}

    # ---- stage 1: ingest (ETL parity: upsert into the system of record)
    incoming = synthetic_interactions(spark, n=2000, seed=42)
    interactions_path = os.path.join(work_dir, "interactions")
    table = upsert_append(None, incoming, ["user_id", "course_id"])
    # second batch overlaps on PK — ON CONFLICT DO NOTHING semantics
    table = upsert_append(table, synthetic_interactions(spark, n=500, seed=43),
                          ["user_id", "course_id"])
    table.write.mode("overwrite").parquet(interactions_path)
    manifest["interactions_rows"] = spark.read.parquet(interactions_path).count()

    # ---- stage 2: training (ALS + GBT) with metrics ledger
    als = train_als(spark, sf_dir, rank=als_rank, max_iter=als_iters)
    gbt = train_classifier(spark, sf_dir, max_iter=gbt_iters, max_depth=3)
    ledger = ledger_append(
        spark, None, "als", f"v_{run_ts[:10]}", als.metrics,
        {"rank": als_rank, "maxIter": als_iters}, run_ts,
    )
    ledger = ledger_append(
        spark, ledger, "gbt", f"v_{run_ts[:10]}", gbt.metrics,
        {"maxIter": gbt_iters, "maxDepth": 3}, run_ts,
    )
    ledger_path = os.path.join(work_dir, "model_training_history")
    ledger.write.mode("overwrite").parquet(ledger_path)
    manifest["active_models"] = latest_active_view(
        spark.read.parquet(ledger_path)
    ).count()
    manifest["als_metrics"] = als.metrics
    manifest["gbt_metrics"] = gbt.metrics

    # factor export (JSON at the boundary, reference batch_als_train.py:222)
    factors_path = os.path.join(work_dir, "als_user_factors")
    als.user_factors.select(
        "user_id", F.to_json("features").alias("features_json")
    ).write.mode("overwrite").parquet(factors_path)

    # ---- stage 3: knowledge base (three small DataFrames, M9)
    kb_dir = os.path.join(work_dir, "kb")
    kb_pair_counts(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(kb_dir, "pair_counts")
    )
    kb_popular_items(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(kb_dir, "popular_items")
    )
    kb_success_profile(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(kb_dir, "success_profile")
    )

    # ---- stage 4a: streaming feature state, bootstrapped from a snapshot
    snapshot = spark.createDataFrame(
        [(1, "click", 10, 100.0)],
        "user_id long, event_type string, n_events long, total_value double",
    )
    feat_q = run_bootstrapped_features(
        spark, sf_dir, snapshot, "pipeline_features"
    )

    # ---- stage 4b: streamed model scoring (M8) over the training frame
    frame = training_frame(spark, sf_dir)
    feature_dir = os.path.join(work_dir, "feature_stream")
    frame.repartition(2).write.mode("overwrite").parquet(feature_dir)
    scored_dir = os.path.join(work_dir, "scored")
    run_bounded(
        spark,
        model_scoring_writer(
            spark, gbt.model, feature_dir, frame.schema, scored_dir,
            FEATURE_COLS,
        ),
        "pipeline_scoring",
    )

    manifest["feature_stream"] = streaming_progress_summary(feat_q)
    manifest["feature_state_rows"] = (
        spark.table("pipeline_features")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    manifest["scored_rows"] = spark.read.parquet(scored_dir).count()
    return manifest
