"""Streaming jobs (SURVEY.md §2.10 T1–T9, §3.3).

The reference's streaming layer is a hand-rolled Kafka poll loop with
unbounded Python-dict state (core-logic/run_consumer.py:116-375) and a
producer that emits ~1 event/s (core-logic/run_producer.py:94-118).  The
engine-native form is one Structured Streaming query per concern:

  file-replay source   offline stand-in for the Kafka topic — the events
                       parquet replayed with maxFilesPerTrigger (tests and
                       CI have no broker; swapping in format("kafka") +
                       from_json is a two-line change, schema included).
  event-time + watermark  the reference carries event time but uses
                       processing time everywhere (T1) and grows state
                       forever (T2); here every aggregation is event-time
                       with a watermark so state is bounded.
  tumbling rate metric T5 — groupBy(window(ts, "1 minute")).
  session windows      T9 — session_window(ts, gap) per user.
  stateful features    T3 — applyInPandasWithState keeps the per-key
                       running counters the consumer kept in defaultdicts
                       (run_consumer.py:202-211), with a state timeout
                       instead of unbounded growth.
  top-5 per key        the consumer's per-event candidate scoring
                       (run_consumer.py:235-330) as a batch-scoring
                       function applied per micro-batch via foreachBatch.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from project_bigdata_recsys_spark.caching import scratch_dir
from project_bigdata_recsys_spark.catalog import (
    load_table,
    parquet_schema,
    table_path,
)

#: Kafka-event schema (reference core-logic/run_producer.py:99-104) —
#: used by kafka_events_stream for real-broker deployments.
KAFKA_EVENT_SCHEMA = StructType(
    [
        StructField("username", StringType()),
        StructField("course_id", StringType()),
        StructField("action", StringType()),
        StructField("timestamp", DoubleType()),
    ]
)


def replay_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Bounded replay of the events table as a stream (S11 stand-in).
    Schema is pinned from the raw file — never inferred on the stream.
    The file source requires a directory, so read the sf dir with a glob
    pinned to the events file; ts is normalized exactly as in batch."""
    from project_bigdata_recsys_spark.catalog import normalize_events

    raw_schema = parquet_schema(spark, table_path(sf_dir, "events"))
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events(stream)


def kafka_events_stream(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame:
    """Kafka source with tolerant JSON parse — reference consumer
    (run_consumer.py:159-192).  from_json is PERMISSIVE: malformed values
    become NULL columns, mirroring the reference's drop-bad-rows coercion
    (SURVEY.md S3)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), KAFKA_EVENT_SCHEMA).alias("e")
    ).select(
        F.col("e.username").alias("username"),
        F.col("e.course_id").alias("course_id"),
        F.col("e.action").alias("action"),
        F.timestamp_seconds(F.col("e.timestamp")).alias("ts"),
    )


def kafka_event_payload(events: DataFrame, key_col: str = "username") -> DataFrame:
    """Serialize event rows to the Kafka (key, value) wire shape — the
    exact inverse of :func:`kafka_events_stream`'s parse, so a produce →
    consume round trip is schema-lossless (asserted in tests without a
    broker).

    value = JSON of KAFKA_EVENT_SCHEMA (reference producer payload,
    run_producer.py:79-106); ts goes back to fractional epoch seconds.
    key = username, so a user's events land in one partition and the
    consumer's per-user state sees them in order.
    """
    return events.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.col("username"),
                F.col("course_id"),
                F.col("action"),
                F.col("ts").cast("double").alias("timestamp"),
            )
        ).alias("value"),
    )


def events_to_kafka(
    events: DataFrame, bootstrap: str, topic: str, checkpoint_dir: str
):
    """Kafka producer sink, symmetrical to :func:`kafka_events_stream`
    (S10; reference run_producer.py:79-106).  Exactly-once to the extent
    Kafka allows: checkpointed offsets + idempotent-producer defaults.
    Requires a live broker — the payload serialization above is the
    broker-free testable part.
    """
    return (
        kafka_event_payload(events)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def tumbling_rate(events: DataFrame, width: str = "1 minute") -> DataFrame:
    """Events-per-window rate metric (T5) — reference computes
    n/(max-min) in pandas (dashboard/app.py:1060-1066).  Event-time window
    + 10-minute watermark bounds state."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_aggregation(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """True sessionization (T9) — session_window merges events separated by
    < gap; the reference only ever *receives* session features computed
    offline (sql/init.sql:36-37)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


# --------------------------------------------------------------------------
# T3/T2: stateful per-key feature accumulation with timeout
# --------------------------------------------------------------------------
STATE_SCHEMA = StructType(
    [StructField("n_events", LongType()), StructField("total_value", DoubleType())]
)
FEATURES_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _make_feature_accumulator(ttl_ms: int | None):
    """Build the per-(user, event_type) running-counter function — the
    engine-managed replacement for the reference's
    ``user_state[(user, course)]`` defaultdict (run_consumer.py:116-117,
    202-211).  State is checkpointed, and with ``ttl_ms`` set it is
    evicted on processing-time timeout instead of growing forever (T2).

    Seed rows (T4 bootstrap): a row whose ``props`` carries ``"seed_n"``
    contributes pre-aggregated history — n += seed_n, total += value —
    instead of counting as one event.  See bootstrap_seed_file for
    why bootstrap arrives in-band: PySpark's applyInPandasWithState has no
    initialState parameter (that is transformWithState's handleInitialState;
    transformWithStateInPandas exists in this PySpark but its Python
    state-server protocol needs the `protobuf` package, absent in this
    container — verified: the query fails at StreamingPythonRunner init
    with `ImportError: google.protobuf`), so the snapshot is staged as the
    first replay file."""
    import json

    def accumulate(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            if "props" in pdf.columns:
                seed_mask = (
                    pdf["props"].fillna("").str.contains('"seed_n"', regex=False)
                )
                if seed_mask.any():
                    seeds = pdf.loc[seed_mask]
                    n += int(
                        seeds["props"].map(lambda s: json.loads(s)["seed_n"]).sum()
                    )
                    total += float(seeds["value"].sum())
                    pdf = pdf.loc[~seed_mask]
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_events": [n],
                "total_value": [round(total, 4)],
            }
        )

    return accumulate


def stateful_feature_stream(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """applyInPandasWithState over (user_id, event_type).

    ``ttl_ms`` is the production knob: on an infinite source set a
    processing-time TTL so cold keys evict (T2).  Leave it None for
    bounded replay/backfill — with a TTL armed, Structured Streaming must
    keep scheduling no-data micro-batches until every key's timeout has
    fired, so an ``availableNow`` replay would spin for the full TTL
    instead of terminating when the input is exhausted (measured: ~1.6
    empty batches/s for the whole TTL window)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        _make_feature_accumulator(ttl_ms),
        outputStructType=FEATURES_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def bootstrap_seed_file(sf_dir: str, snapshot: DataFrame) -> str:
    """Write the state snapshot (T4) as one parquet file of seed rows in
    the events schema: ``props`` carries the pre-aggregated count as
    ``{"seed_n": N}`` and ``value`` the running total.  Returns its path.

    This is the engine's bootstrap-from-snapshot (reference
    run_consumer.py:127-154 reloads its dict state from a CSV snapshot).
    In-band seeding is deliberate: PySpark's applyInPandasWithState has
    no initialState parameter, and the native alternative
    (transformWithState handleInitialState) is unavailable here — the
    API and RocksDB jar ship with this PySpark, but its Python
    state-server needs `protobuf`, absent in this container (verified
    end-to-end: StreamingPythonRunner init dies on the import); staging
    the snapshot as the first micro-batch gives identical semantics with
    checkpointable, replayable state.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap_pdf = snapshot.toPandas()  # snapshot is small by contract (keyed state)
    n = len(snap_pdf)
    # The seed file must carry ts in the SAME physical type as the real
    # events file — the file-source stream reads both under one schema, and
    # parquet readers reject a column whose physical type disagrees with the
    # expected one.  Derive it from the events parquet footer: timestamp[us]
    # stays timestamp[us] (epoch 0), nanos-as-int64 stays int64.
    ev_ts_type = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    if pa.types.is_timestamp(ev_ts_type):
        seed_ts = pa.array([0] * n, pa.int64()).cast(ev_ts_type)
    else:
        seed_ts = pa.array([0] * n, pa.int64())
    seed_tbl = pa.table(
        {
            "event_id": pa.array(range(-1, -n - 1, -1), pa.int64()),
            "ts": seed_ts,
            "user_id": pa.array(snap_pdf["user_id"], pa.int64()),
            "event_type": pa.array(snap_pdf["event_type"], pa.string()),
            "value": pa.array(snap_pdf["total_value"], pa.float64()),
            "props": pa.array(
                ['{"seed_n": %d}' % int(k) for k in snap_pdf["n_events"]],
                pa.string(),
            ),
        }
    )
    seed_path = os.path.join(
        scratch_dir(prefix="spark_boot_seed_"), "seed.parquet"
    )
    pq.write_table(seed_tbl, seed_path)
    return seed_path


def run_bootstrapped_features(
    spark: SparkSession, sf_dir: str, snapshot: DataFrame, name: str
):
    """Stateful feature stream with initial state from a snapshot (T4),
    run to the memory sink ``name``: the seed file replays as the first
    micro-batch, the events file as the second, so the final counters
    equal snapshot ⊕ full-replay aggregation.  Returns the terminated
    query."""
    from project_bigdata_recsys_spark.catalog import normalize_events

    return run_staged_replay(
        spark,
        lambda s: stateful_feature_stream(normalize_events(s))
        .writeStream.format("memory")
        .outputMode("update"),
        name,
        files=[
            bootstrap_seed_file(sf_dir, snapshot),
            table_path(sf_dir, "events"),
        ],
    )


def batch_equivalent_features(events: DataFrame) -> DataFrame:
    """The batch aggregation the stateful stream must converge to after a
    full replay — the stream/batch equivalence oracle (SURVEY.md §5.2.3)."""
    return events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Per-micro-batch top-K scoring (M8/M10 consumer parity)
# --------------------------------------------------------------------------
def score_topk_per_user(microbatch: DataFrame, popularity: DataFrame, k: int = 5) -> DataFrame:
    """The consumer's per-event candidate scoring, vectorized per
    micro-batch: stream-static join against the (broadcast) popularity KB,
    blend a score, rank top-K per user (run_consumer.py:235-330).
    Candidate generation = popularity fallback (M10); blending 0.3/0.7
    mirrors M11."""
    users = microbatch.select("user_id").distinct()
    candidates = users.crossJoin(F.broadcast(popularity.limit(15)))  # O8 cap
    # parenthesized (user_id % 10): the blend is 0.3*(user_id mod 10) +
    # 0.7*popularity, identical to the batch user_topk_recommendations
    # builder and its oracle (stream/batch parity asserted in tests)
    scored = candidates.withColumn(
        "score",
        F.round(0.3 * (F.col("user_id") % 10) + 0.7 * F.col("n"), 4),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("l_partkey"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("user_id", F.col("l_partkey").alias("item_id"), "score", "rn")
    )


def recommendations_query(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 5,
):
    """End-to-end streaming recommendation job: replay source ->
    foreachBatch(top-K scoring vs broadcast KB) -> parquet sink.

    foreachBatch re-resolves the KB each micro-batch — the engine-native
    form of the reference's mtime-poll hot model reload (T7,
    run_consumer.py:40-89,179-182).
    """
    from project_bigdata_recsys_spark.ml.recsys import kb_popular_items

    events = replay_events_stream(spark, sf_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # hot reload point: re-read KB/model artifacts here each batch
        popularity = kb_popular_items(spark, sf_dir)
        out = score_topk_per_user(batch_df, popularity, k=k)
        out.write.mode("append").parquet(os.path.join(output_dir, f"batch={batch_id}"))

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: Shuffle/state partition count pinned at STREAM START for replays whose
#: keyed state is a bounded monitor sketch (first-digit counts, day- or
#: window-grained counters, per-domain quotas — KB..MB of state at ANY
#: corpus scale).  Structured Streaming fixes the state-store partition
#: count to spark.sql.shuffle.partitions at query start, and the HDFS-
#: backed provider pays a fixed per-partition commit (delta file + CRC)
#: per micro-batch — measured 856-1082 ms/batch at 32 partitions vs
#: 331-342 ms at 8 for a 9-key aggregation, pure fan-out overhead.  The
#: right partition count tracks the STATE CARDINALITY (a fixed property
#: of each query), not the session core count, so this is scale-honest:
#: a 9-key digit histogram needs ≤ 9 state partitions on a 1000-executor
#: cluster too.  Corpus-scaled states (per-user, per-PK, dedup-key) and
#: streams with join shuffles keep the session default.
_SMALL_STATE_PARTITIONS = 8

#: Hard bound on one bounded run — the reference wraps its consumers in
#: ``timeout 600`` (airflow/dags/recsys_pipeline.py:24,115-131).
_BOUNDED_TIMEOUT_S = 600


def run_bounded(
    spark: SparkSession,
    writer,
    name: str,
    *,
    min_commits: int = 0,
    small_state: bool = False,
):
    """Run ``writer`` (sink, output mode, foreachBatch already set) as a
    bounded ``availableNow`` query named ``name`` in a fresh scratch
    checkpoint, and return the terminated query — the one place a
    bounded stream is started, awaited and timed out (T8).  A run still
    going after ``_BOUNDED_TIMEOUT_S`` is stopped and raises TimeoutError,
    so no caller reads a half-written sink.  ``min_commits`` asserts a
    checkpoint-commit floor, so a multi-file replay silently collapsed
    into one micro-batch cannot weaken a gate to its batch form.

    ``small_state`` pins shuffle partitions to ``min(session,
    _SMALL_STATE_PARTITIONS)``.  The query clones the session conf at
    ``.start()``, so only that window is pinned and ``finally`` restores
    the session value.  The pin mutates the SHARED session conf: the
    contract is one driver thread starting streams on a session at a
    time (every caller here, bench.py and perfbench are one-client
    loops)."""
    ck = os.path.join(scratch_dir(prefix="spark_ck_"), "ck")
    writer = (
        writer.queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
    )
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if small_state:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(min(int(prev_sp), _SMALL_STATE_PARTITIONS)),
        )
    try:
        q = writer.start()
    finally:
        if small_state:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    if not q.awaitTermination(_BOUNDED_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{name}: availableNow run did not finish in "
            f"{_BOUNDED_TIMEOUT_S}s — check that no processing-time state "
            "TTL is armed (it forces no-data micro-batches until every "
            "timeout fires)"
            + (f" (query error: {q.exception()})" if q.exception() else "")
        )
    if min_commits > 0:
        commits = os.listdir(os.path.join(ck, "commits"))
        n_commits = len([f for f in commits if not f.startswith(".")])
        if n_commits < min_commits:
            raise AssertionError(
                f"{name}: expected >={min_commits} micro-batch commits,"
                f" got {n_commits}"
            )
    return q


def run_staged_replay(
    spark: SparkSession,
    to_writer,
    name: str,
    *,
    files=(),
    frame: DataFrame | None = None,
    wave=None,
    small_state: bool = False,
):
    """Stage a bounded replay's input as single parquet files in a pinned
    order, stream them back one file per micro-batch and run
    ``to_writer(stream)`` (sink, output mode or foreachBatch set) through
    :func:`run_bounded` with a commit floor of one per staged file — the
    one place a multi-file replay is staged (T8), so no replay can
    silently collapse into one micro-batch and weaken its gate to the
    batch form.  Returns the terminated query.

    The input, in replay order, is ``files`` (parquet files, copied
    byte-for-byte) followed by ``frame`` split on the integer column
    ``wave`` (one file per non-empty wave, ascending); staggered mtimes
    pin that order for the file source.  The stream schema is the
    frame's (the first file's when there is no frame), never a
    hand-typed literal; the file source reads every column as nullable.
    Raises AssertionError when nothing is staged.  Only waves that hold
    rows are staged, so a ``foreachBatch`` fold over a ``frame`` replay
    never sees an empty micro-batch and needs no ``isEmpty()`` guard
    (a job per batch).

    Staging the frame is ONE parallel job: ``repartition`` by the wave
    column puts every wave entirely in one task (hash partitioning by
    value — exactly one part file per wave directory), and a single
    ``partitionBy`` write lands all waves.  A per-wave
    ``filter(...).coalesce(1)`` loop would recompute the whole upstream
    once per wave, each time in a single task (guide §2.4 / §2.6)."""
    import glob
    import shutil
    import time

    work = scratch_dir(prefix=f"spark_{name}_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    sources = list(files)
    if frame is not None:
        waves_dir = os.path.join(work, "waves")
        (
            frame.withColumn("_wv", wave.cast("int"))
            .repartition("_wv")
            .write.partitionBy("_wv")
            .parquet(waves_dir)
        )
        # an empty wave writes no partition directory and is not staged
        waves = sorted(
            int(d[len("_wv="):])
            for d in os.listdir(waves_dir)
            if d.startswith("_wv=")
        )
        for wv in waves:
            parts = glob.glob(
                os.path.join(waves_dir, f"_wv={wv}", "part-*.parquet")
            )
            if len(parts) != 1:  # hash partitioning: 1 task per wave
                raise AssertionError(
                    f"{name}: wave {wv} staged as {len(parts)} files"
                )
            sources += parts
    if not sources:
        raise AssertionError(
            f"{name}: every staged wave was empty — nothing to replay"
        )
    now = time.time()
    for i, src in enumerate(sources):
        staged = os.path.join(in_dir, f"{i:03d}.parquet")
        shutil.copyfile(src, staged)
        os.utime(staged, (now - 100 + i, now - 100 + i))
    if frame is not None:
        schema = frame.schema
    else:
        schema = parquet_schema(spark, files[0])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    return run_bounded(
        spark,
        to_writer(stream),
        name,
        min_commits=len(sources),
        small_state=small_state,
    )


def model_scoring_writer(
    spark: SparkSession,
    model,
    feature_dir: str,
    feature_schema,
    output_dir: str,
    feature_cols: list[str],
):
    """M8: per-micro-batch model scoring with a broadcast MLlib model,
    returned as the unstarted foreachBatch writer (run it with
    :func:`run_bounded`, or live via :func:`model_scoring_stream`).

    The reference scores each Kafka event row-by-row in driver Python
    (run_consumer.py:222-231, 261-298); the engine form streams feature
    rows and applies ``model.transform`` inside ``foreachBatch`` — the
    model is closure-broadcast to executors once and every batch scores
    vectorized, with zero per-row Python.

    Scale: scoring throughput is bounded by the scan, not the model —
    GBT transform is a narrow map over assembled vectors; checkpointing
    makes the sink exactly-once per batch directory.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    stream = (
        spark.readStream.schema(feature_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feature_dir)
    )

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = model.transform(assembler.transform(batch_df)).select(
            batch_df.columns[0],
            F.round(vector_to_array("probability")[1], 6).alias("p1"),
        )
        scored.write.mode("append").parquet(output_dir)

    return stream.writeStream.foreachBatch(score_batch)


def model_scoring_stream(
    spark: SparkSession,
    model,
    feature_dir: str,
    feature_schema,
    output_dir: str,
    checkpoint_dir: str,
    feature_cols: list[str],
):
    """:func:`model_scoring_writer` started as a live availableNow query."""
    return (
        model_scoring_writer(
            spark, model, feature_dir, feature_schema, output_dir, feature_cols
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_progress_summary(query) -> dict:
    """Throughput/lag introspection for a StreamingQuery (S12/S13 parity:
    the reference hand-computes Kafka offset lag per partition,
    dashboard/app.py:380-411; Structured Streaming exposes the same
    signals in progress events)."""
    progresses = [p for p in query.recentProgress if p]
    if not progresses:
        return {"batches": 0, "rows": 0, "rows_per_sec": 0.0}
    rows = sum(int(p.get("numInputRows", 0)) for p in progresses)
    secs = sum(
        float(p.get("durationMs", {}).get("triggerExecution", 0)) / 1000.0
        for p in progresses
    )
    return {
        "batches": len(progresses),
        "rows": rows,
        "rows_per_sec": round(rows / secs, 2) if secs > 0 else 0.0,
        "last_batch_id": int(progresses[-1].get("batchId", -1)),
    }


def latest_document_sink(
    spark: SparkSession,
    sf_dir: str,
    output_path: str,
    checkpoint_dir: str,
):
    """S15: single-document "latest state" sink — the reference
    overwrites realtime_recommendations.json per event
    (run_consumer.py:348-360); the engine form overwrites one small JSON
    file per micro-batch from foreachBatch with the max-event-time row
    per user.

    The overwrite is idempotent per batch (same batch re-run produces
    the same document), which is what makes the non-transactional
    single-file sink safe under checkpoint recovery."""
    import json

    events = replay_events_stream(spark, sf_dir)

    def write_latest(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                "event_type",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            )
            .orderBy("user_id")
            .collect()  # bounded: one row per user in the batch
        )
        doc = {
            "batch_id": batch_id,
            "n_users": len(latest),
            "users": [row.asDict() for row in latest],
        }
        tmp = output_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, sort_keys=True)
        os.replace(tmp, output_path)

    return (
        events.writeStream.foreachBatch(write_latest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
