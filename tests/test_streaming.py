"""Streaming semantics tests (SURVEY.md §5.2.3): bounded replay of the
events table, stream results compared against batch equivalents."""

from __future__ import annotations

import ast
import glob
import os
import time

import pytest

import project_bigdata_recsys_spark.streaming.jobs as J
import project_bigdata_recsys_spark.streaming.replay as R
from project_bigdata_recsys_spark.catalog import load_table
from project_bigdata_recsys_spark.streaming.jobs import (
    batch_equivalent_features,
    recommendations_query,
    replay_events_stream,
    run_bounded,
    session_aggregation,
    stateful_feature_stream,
    tumbling_rate,
)
from tests.conftest import SF_SMALL


def _run_to_memory(sdf, name: str, mode: str) -> None:
    run_bounded(
        sdf.sparkSession, sdf.writeStream.format("memory").outputMode(mode), name
    )


def test_stateful_features_match_batch(spark):
    """Stream/batch equivalence: after full replay, the stateful per-key
    counters equal the batch groupBy aggregate."""
    stream = stateful_feature_stream(replay_events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "feat_t", "update")
    got = spark.sql(
        "SELECT user_id, event_type, max(n_events) AS n_events, "
        "max(total_value) AS total_value FROM feat_t GROUP BY 1, 2"
    )
    want = batch_equivalent_features(load_table(spark, SF_SMALL, "events"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_tumbling_rate_counts(spark):
    stream = tumbling_rate(replay_events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "rate_t", "append")
    total = spark.sql("SELECT sum(n) AS s FROM rate_t").head().s
    n_events = load_table(spark, SF_SMALL, "events").count()
    # append mode holds back windows newer than the watermark; everything
    # emitted must be correct and nearly-complete on replay
    assert 0 < total <= n_events
    assert total >= n_events * 0.9


def test_session_window_stream_runs(spark):
    stream = session_aggregation(replay_events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "sess_t", "append")
    out = spark.table("sess_t")
    assert out.count() > 0
    bad = out.filter("session_end <= session_start").count()
    assert bad == 0


def test_recommendations_topk(spark, tmp_path):
    q = recommendations_query(
        spark, SF_SMALL, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    assert q.awaitTermination(180)
    recs = spark.read.parquet(str(tmp_path / "out" / "batch=0"))
    per_user = recs.groupBy("user_id").count()
    assert per_user.filter("count > 5").count() == 0
    assert recs.count() > 0


def test_stream_blend_matches_batch_topk(spark):
    """M10/M11 stream/batch parity: score_topk_per_user on a static frame
    must reproduce user_topk_recommendations exactly (same 0.3/0.7 blend,
    same precedence, same ranking) — regression for the round-1
    (0.3*user_id) % 10 precedence bug."""
    from project_bigdata_recsys_spark.operators.relational import (
        user_topk_recommendations,
    )
    from project_bigdata_recsys_spark.streaming.jobs import score_topk_per_user

    batch = user_topk_recommendations(spark, SF_SMALL)

    from project_bigdata_recsys_spark.ml.recsys import kb_popular_items

    events = load_table(spark, SF_SMALL, "events")
    stream_shaped = score_topk_per_user(
        events, kb_popular_items(spark, SF_SMALL)
    ).withColumnRenamed("rn", "rank")

    assert batch.exceptAll(stream_shaped).count() == 0
    assert stream_shaped.exceptAll(batch).count() == 0


def test_bootstrapped_features_equal_snapshot_plus_batch(spark, tmp_path):
    """T4: after a bootstrapped replay, counters equal snapshot ⊕ batch
    aggregation — including a key that exists only in the snapshot."""
    from pyspark.sql import functions as F

    from project_bigdata_recsys_spark.streaming.jobs import (
        bootstrapped_feature_stream,
    )

    snapshot = spark.createDataFrame(
        [(1, "click", 10, 100.0), (424242, "view", 5, 2.5)],
        "user_id long, event_type string, n_events long, total_value double",
    )
    stream = bootstrapped_feature_stream(
        spark, SF_SMALL, snapshot, str(tmp_path / "staged")
    )
    _run_to_memory(stream, "boot_t", "update")
    got = spark.sql(
        "SELECT user_id, event_type, max(n_events) AS n_events, "
        "max(total_value) AS total_value FROM boot_t GROUP BY 1, 2"
    )
    events = load_table(spark, SF_SMALL, "events")
    want = (
        batch_equivalent_features(events)
        .unionByName(snapshot)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value"), 4).alias("total_value"),
        )
    )
    assert got.count() == want.count()
    # tolerate float-addition-order noise in total_value
    j = got.alias("g").join(
        want.alias("w"), ["user_id", "event_type"], "full"
    ).select(
        F.col("g.n_events").alias("gn"),
        F.col("w.n_events").alias("wn"),
        (F.abs(F.col("g.total_value") - F.col("w.total_value")) < 1e-6).alias("veq"),
    )
    bad = j.filter((F.col("gn") != F.col("wn")) | ~F.col("veq")).count()
    assert bad == 0


def test_model_scoring_stream_matches_batch(spark, tmp_path):
    """M8: streamed model scoring (foreachBatch + broadcast model) must
    produce exactly the batch model.transform scores."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from project_bigdata_recsys_spark.ml.classifier import (
        FEATURE_COLS,
        train_classifier,
        training_frame,
    )
    from project_bigdata_recsys_spark.streaming.jobs import model_scoring_stream

    result = train_classifier(spark, SF_SMALL, max_iter=5, max_depth=3)
    frame = training_frame(spark, SF_SMALL)
    feature_dir = str(tmp_path / "features")
    # several files => several micro-batches
    frame.repartition(3).write.parquet(feature_dir)

    out_dir = str(tmp_path / "scored")
    q = model_scoring_stream(
        spark,
        result.model,
        feature_dir,
        frame.schema,
        out_dir,
        str(tmp_path / "ck"),
        FEATURE_COLS,
    )
    assert q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    want = result.model.transform(assembler.transform(frame)).select(
        "o_orderkey", F.round(vector_to_array("probability")[1], 6).alias("p1")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_progress_summary(spark, tmp_path):
    """S13: progress introspection reports batches and row throughput."""
    import os

    from project_bigdata_recsys_spark.streaming.jobs import (
        streaming_progress_summary,
    )

    stream = replay_events_stream(spark, SF_SMALL)
    q = (
        stream.writeStream.format("memory")
        .queryName("prog_t")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_prog"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    summary = streaming_progress_summary(q)
    assert summary["batches"] >= 1
    assert summary["rows"] == load_table(spark, SF_SMALL, "events").count()
    assert summary["rows_per_sec"] > 0


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """T6: a stream killed between micro-batches and restarted from its
    checkpoint must neither drop nor double-count rows.  Staged as four
    replay files with maxFilesPerTrigger=1; the first run processes part
    of the input, the restart finishes it; final counters must equal the
    batch aggregate exactly."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from project_bigdata_recsys_spark.catalog import load_table, table_path
    from project_bigdata_recsys_spark.streaming.jobs import (
        stateful_feature_stream,
    )

    # stage 4 files so there are 4 micro-batches
    events = load_table(spark, SF_SMALL, "events")
    staged = str(tmp_path / "staged")
    events.repartition(4).write.parquet(staged)
    raw_schema = spark.read.parquet(staged).schema
    ck = str(tmp_path / "ck")

    out_dir = str(tmp_path / "out")

    def append_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    def start():
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        return (
            stateful_feature_stream(stream)
            .writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    # first run: stop after the first progress event (mid-stream kill)
    q1 = start()
    deadline = time.time() + 120
    while time.time() < deadline and not q1.recentProgress:
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination(60)

    # restart from the same checkpoint; availableNow finishes the rest
    q2 = start()
    assert q2.awaitTermination(300)

    # merge all update-mode emissions: final value per key wins; keys
    # fully processed before the kill appear only in run 1's output
    final = (
        spark.read.parquet(out_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    want = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    assert final.count() == want.count()
    diff = final.exceptAll(want).count() + want.exceptAll(final).count()
    assert diff == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """T2: watermark late-data contract, as Spark actually defines it —
    the filtering watermark lags one batch (batch N filters with the
    watermark finalized at the end of batch N-1), and once a window is
    emitted in append mode it is never re-emitted.  Staged as three
    single-row-batch files: 60 on-time events; a same-window row arriving
    one batch later (accepted: filter watermark still initial); another
    arriving two batches later (dropped: numRowsDroppedByWatermark)."""
    import os
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_bigdata_recsys_spark.streaming.jobs import tumbling_rate

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    base = datetime(2024, 1, 5, 10, 0, 0)
    on_time = pd.DataFrame(
        {
            "ts": [base + timedelta(minutes=i) for i in range(60)],
            "event_type": ["click"] * 60,
            "value": [1.0] * 60,
        }
    )
    late = pd.DataFrame(
        {"ts": [base + timedelta(minutes=5)], "event_type": ["click"], "value": [9.0]}
    )
    very_late = pd.DataFrame(
        {"ts": [base + timedelta(minutes=6)], "event_type": ["click"], "value": [9.0]}
    )
    t0 = _time.time() - 100
    for i, df in enumerate([on_time, late, very_late]):
        f = os.path.join(staged, f"{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(df), f, coerce_timestamps="us")
        os.utime(f, (t0 + i * 10, t0 + i * 10))

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    )
    q = (
        tumbling_rate(stream, width="10 minutes")
        .writeStream.format("memory")
        .queryName("wm_t")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_wm"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    dropped = sum(
        int(p.get("stateOperators", [{}])[0].get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        if p
    )
    assert dropped == 1  # the batch-2 row, filtered by the 10:49 watermark

    rows = spark.table("wm_t").collect()
    by_window = {}
    for r in rows:
        by_window.setdefault(r.window_start, []).append(r.n)
    # every finalized window emitted exactly once (append contract)
    assert all(len(v) == 1 for v in by_window.values())
    # 10:00 window: 10 on-time + the batch-1 row (filter lag), NOT the
    # dropped batch-2 row
    assert by_window[base] == [11]


def test_latest_document_sink(spark, tmp_path):
    """S15: the single-JSON 'latest' document reflects each user's
    max-event-time row after the bounded replay."""
    import json

    from pyspark.sql import functions as F

    from project_bigdata_recsys_spark.streaming.jobs import latest_document_sink

    out = str(tmp_path / "latest.json")
    q = latest_document_sink(spark, SF_SMALL, out, str(tmp_path / "ck_doc"))
    assert q.awaitTermination(180)

    doc = json.load(open(out))
    events = load_table(spark, SF_SMALL, "events")
    want_users = events.select("user_id").distinct().count()
    assert doc["n_users"] == want_users
    # spot-check one user's latest event id
    some = doc["users"][0]
    w_max = (
        events.filter(F.col("user_id") == some["user_id"])
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .head()
    )
    assert some["last_event_id"] == w_max.event_id


# --------------------------------------------------------------------------
# run_bounded: the one bounded-stream runner (T8)
# --------------------------------------------------------------------------
def _one_file_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(4).coalesce(1).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_run_bounded_timeout_stops_query(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(J, "_BOUNDED_TIMEOUT_S", 1)

    def slow_fold(_batch_df, _batch_id):
        time.sleep(5)

    writer = _one_file_stream(spark, tmp_path).writeStream.foreachBatch(slow_fold)
    with pytest.raises(TimeoutError, match="bounded_slow_t"):
        run_bounded(spark, writer, "bounded_slow_t")
    assert not [q for q in spark.streams.active if q.name == "bounded_slow_t"]


def test_run_bounded_min_commits(spark, tmp_path):
    writer = _one_file_stream(spark, tmp_path).writeStream.foreachBatch(
        lambda _df, _id: None
    )
    with pytest.raises(AssertionError, match="micro-batch commits"):
        run_bounded(spark, writer, "bounded_commits_t", min_commits=2)


def test_run_bounded_pin_restores_conf_on_start_error(spark, tmp_path):
    # wider than _SMALL_STATE_PARTITIONS, so the pin really changes it
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "11")
    # append mode on an unwatermarked aggregation fails at .start()
    writer = (
        _one_file_stream(spark, tmp_path)
        .groupBy("id")
        .count()
        .writeStream.format("memory")
        .outputMode("append")
    )
    try:
        with pytest.raises(Exception):
            run_bounded(spark, writer, "bounded_pin_t", small_state=True)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "11"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_bounded_streams_awaited_only_in_runner():
    """One way to run a bounded stream: awaitTermination is called only
    by run_bounded and _run_replay_incremental (which keeps its own
    processing-time trigger and row-count stop).  This also keeps the
    pin's single-driver-thread contract checkable in one place."""
    allowed = {
        ("streaming/jobs.py", "run_bounded"),
        ("streaming/replay.py", "_run_replay_incremental"),
    }
    pkg = os.path.dirname(os.path.dirname(J.__file__))
    found = []

    def visit(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr == "awaitTermination":
                found.append((rel, fn))
            visit(child, rel, fn)

    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        visit(tree, os.path.relpath(path, pkg).replace(os.sep, "/"), None)
    assert found and set(found) <= allowed, sorted(set(found) - allowed)


# --------------------------------------------------------------------------
# small-state partition pin: bounded-state replays pin
# spark.sql.shuffle.partitions at stream START to _SMALL_STATE_PARTITIONS.
# The pin never leaks into the session conf (also when the stream errors),
# and the state partition count is layout, not semantics.
# --------------------------------------------------------------------------
def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_small_state_pin_restores_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    R.stream_benford_values(spark, SF_SMALL).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_small_state_pin_restores_conf_on_error(spark, tmp_path):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    # append mode on an unwatermarked aggregation fails at .start() —
    # inside the pinned window, so the restore must still run
    with pytest.raises(Exception):
        R._run_replay(
            stream.groupBy("id").count(), spark, "append", small_state=True
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_small_state_result_identical_to_session_width(spark, monkeypatch):
    pinned = _rows(R.stream_benford_values(spark, SF_SMALL))
    # session fixture runs at shuffle_partitions=8, so disabling the pin
    # means min(8, 8) -> widen the sentinel instead: pin to 2 and to the
    # session width, results must agree exactly
    monkeypatch.setattr(J, "_SMALL_STATE_PARTITIONS", 2)
    narrow = _rows(R.stream_benford_values(spark, SF_SMALL))
    monkeypatch.setattr(J, "_SMALL_STATE_PARTITIONS", 10_000)
    wide = _rows(R.stream_benford_values(spark, SF_SMALL))
    assert pinned == narrow == wide
