"""Streaming-replay query builders for the driver gate.

Each runs a *real* Structured Streaming query (bounded with
``trigger(availableNow=True)``) over a replayed source and returns its
result as a batch DataFrame — so the driver's DuckDB oracle can check
streaming semantics exactly (stream/batch equivalence, SURVEY.md §5.2.3).

Single-file replays stream the sf dir through ``replay_events_stream``
into a memory sink (:func:`_run_replay`).  Multi-file replays — the
cross-batch state, watermark and ledger-fold gates — stage their input
through ``jobs.run_staged_replay``, which pins the file order, derives
the stream schema from the input and asserts one micro-batch commit per
staged file; :func:`_run_staged` drains such a replay's memory sink and
:func:`_fold_to_ledger` runs the plain-append ledger fold, so a query
supplies only its per-batch work and its readout.
"""

from __future__ import annotations

import os
from project_bigdata_recsys_spark.caching import scratch_dir
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_bigdata_recsys_spark.streaming.jobs import (
    replay_events_stream,
    run_bootstrapped_features,
    run_bounded,
    run_staged_replay,
    stateful_feature_stream,
)

#: Deterministic state snapshot for the bootstrapped-stream gate query —
#: includes a user absent from the events table (999999) so the oracle
#: also checks state-only keys survive to the output.
BOOTSTRAP_SNAPSHOT = [
    (5, "click", 40, 123.5),
    (10, "purchase", 7, 900.25),
    (999999, "view", 3, 1.5),
]


def _run_replay(
    sdf, spark: SparkSession, mode: str, small_state: bool = False
) -> DataFrame:
    name = f"replay_{uuid.uuid4().hex[:12]}"
    writer = sdf.writeStream.format("memory").outputMode(mode)
    run_bounded(spark, writer, name, small_state=small_state)
    return _drain_sink(spark, name)


def _drain_sink(spark: SparkSession, name: str) -> DataFrame:
    """Snapshot a finished memory sink to scratch parquet and DROP the
    sink table.  Memory sinks hold every emitted row in the driver for
    the session's lifetime; a bench session running ~45 bounded replays
    accumulates them into real driver heap/GC pressure that taxes every
    later query (guide §5 — the driver should do almost no data work).
    Parquet-backing also gives every caller self-join-safe attribute
    ids — the workaround stream_bootstrap_ci / stream_cusum_changepoint
    had to hand-roll against memory-sink frames, now centralized.  The
    snapshot is read back with the sink's schema, so the read submits no
    schema-inference job."""
    out = os.path.join(scratch_dir(prefix="spark_sink_"), "sink")
    table = spark.table(name)
    schema = table.schema
    table.write.mode("overwrite").parquet(out)
    spark.catalog.dropTempView(name)
    return spark.read.schema(schema).parquet(out)


def _run_staged(
    spark: SparkSession, query, mode: str, *, small_state: bool = False,
    **inputs,
) -> DataFrame:
    """:func:`_run_replay` over a staged multi-file replay: ``query`` maps
    the staged stream to the frame whose rows land in the memory sink;
    ``inputs`` are :func:`run_staged_replay`'s ``files``, ``frame`` and
    ``wave``."""
    name = f"replay_{uuid.uuid4().hex[:12]}"
    run_staged_replay(
        spark,
        lambda s: query(s).writeStream.format("memory").outputMode(mode),
        name,
        small_state=small_state,
        **inputs,
    )
    return _drain_sink(spark, name)


def _fold_to_ledger(
    spark: SparkSession,
    name: str,
    frame: DataFrame,
    wave,
    per_batch,
    small_state: bool = False,
) -> DataFrame:
    """Replay ``frame`` split on ``wave`` and APPEND ``per_batch(batch)``
    of every micro-batch to a parquet ledger — no state store, no
    cross-batch shuffle, the cheapest streaming write — and return the
    ledger scan for the post-replay merge.  The plain-append form of the
    ledger-fold family; ``small_state=True`` when the per-wave partials
    are vocab/histogram-bounded (a session-width reduce only multiplies
    ledger files — guide §6), corpus-scaled appends keep the default.
    The ledger is read back with the schema of the first appended batch
    (taken on the driver, no job), so the read submits no schema-inference
    job."""
    ledger = os.path.join(
        scratch_dir(prefix=f"spark_{name}_ledger_"), "ledger"
    )
    schema = []

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        out = per_batch(batch_df)
        if not schema:
            schema.append(out.schema)
        out.write.mode("append").parquet(ledger)

    run_staged_replay(
        spark,
        lambda s: s.writeStream.foreachBatch(fold),
        name,
        frame=frame,
        wave=wave,
        small_state=small_state,
    )
    return spark.read.schema(schema[0]).parquet(ledger)


def _run_replay_incremental(
    sdf,
    spark: SparkSession,
    expected_rows: int,
    min_batches: int = 3,
    timeout_sec: float = 300.0,
) -> DataFrame:
    """Drain a bounded stream under a PROCESSING-TIME trigger until the
    memory sink holds ``expected_rows``, then stop — the incremental
    multi-batch consumption path ``availableNow`` cannot exercise (it
    snapshots ONE ``latestOffset`` poll, so a rate-limited source
    collapses to a single micro-batch; pinned in tests/test_round11.py).
    Raises unless at least ``min_batches`` non-empty micro-batches were
    consumed, so a gate query through here proves the source's
    offset → partitions(start, end) → read protocol across several REAL
    increments, not one snapshot."""
    import time

    name = f"replay_{uuid.uuid4().hex[:12]}"
    ck = os.path.join(scratch_dir(prefix="spark_ck_"), "ck")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def _data_batches() -> int:
        n = 0
        for p in q.recentProgress:
            rows = (
                p["numInputRows"]
                if isinstance(p, dict)
                else getattr(p, "numInputRows", 0)
            )
            n += 1 if rows and int(rows) > 0 else 0
        return n

    try:
        deadline = time.time() + timeout_sec
        drained = False
        while time.time() < deadline:
            if spark.table(name).count() >= expected_rows:
                drained = True
                break
            time.sleep(0.25)
        if not drained:
            raise RuntimeError(
                f"incremental replay {name} did not reach "
                f"{expected_rows} rows within {timeout_sec}s"
            )
        # the final batch's progress event can land a beat after its
        # rows appear in the sink — give it a bounded moment
        settle = time.time() + 30
        while _data_batches() < min_batches and time.time() < settle:
            time.sleep(0.25)
        n_batches = _data_batches()
        if n_batches < min_batches:
            raise RuntimeError(
                f"incremental replay {name} consumed {n_batches} "
                f"non-empty micro-batches; gate requires >= {min_batches}"
            )
    finally:
        q.stop()
    return _drain_sink(spark, name)


def stream_stateful_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-(user, event_type) counters via applyInPandasWithState,
    replayed to completion.  After a full replay the final state equals the
    batch groupBy — which is exactly what the SQL oracle asserts."""
    stream = stateful_feature_stream(replay_events_stream(spark, sf_dir))
    table = _run_replay(stream, spark, "update")
    # update mode emits one row per key per micro-batch; final value wins
    return (
        table.groupBy("user_id", "event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .orderBy("user_id", "event_type")
    )


def stream_bootstrapped_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: stateful counters bootstrapped from a snapshot, then replayed
    to completion — final state must equal snapshot ⊕ batch aggregation
    (which is what the SQL oracle computes with a VALUES union)."""
    snapshot = spark.createDataFrame(
        BOOTSTRAP_SNAPSHOT,
        "user_id long, event_type string, n_events long, total_value double",
    )
    name = f"replay_{uuid.uuid4().hex[:12]}"
    run_bootstrapped_features(spark, sf_dir, snapshot, name)
    table = _drain_sink(spark, name)
    return (
        table.groupBy("user_id", "event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .orderBy("user_id", "event_type")
    )


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1-hour counts per event_type, streamed in
    complete mode so every window emits (no watermark holdback) — the
    oracle is a date_trunc groupBy."""
    events = replay_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    table = _run_replay(agg, spark, "complete", small_state=True)
    return table.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    ).orderBy("window_start", "event_type")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h width, 30 min slide) — every event
    contributes to exactly two windows; the oracle reproduces that with a
    two-bucket UNION ALL."""
    events = replay_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    table = _run_replay(agg, spark, "complete", small_state=True)
    return table.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "total_value",
    ).orderBy("window_start")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) per user in complete mode.  Spark defines
    session end = last event + gap; the oracle reproduces that with a
    gaps-and-islands rewrite."""
    events = replay_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )
    table = _run_replay(agg, spark, "complete")
    return table.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "session_value",
    ).orderBy("user_id", "session_start")


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the events file replayed TWICE (two files,
    two micro-batches) through dropDuplicatesWithinWatermark on event_id —
    cross-batch duplicates are dropped while state stays bounded by the
    watermark (the streaming form of the batch dedup family in
    functions/dedup.py).  After the replay, per-type counts must equal
    the single-copy batch aggregate — which is what the oracle asserts."""
    from project_bigdata_recsys_spark.catalog import normalize_events, table_path

    def dedup_counts(stream: DataFrame) -> DataFrame:
        deduped = (
            normalize_events(stream)
            .withWatermark("ts", "40 days")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        return deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )

    src = table_path(sf_dir, "events")
    table = _run_staged(spark, dedup_counts, "complete", files=[src, src])
    return table.orderBy("event_type")


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same user's
    clicks from the preceding hour — both sides watermarked so join state
    is evicted once the time-range condition can no longer match
    (Structured Streaming's bounded-state two-stream join; the batch
    oracle is the identical interval join).

    Scale: state per side is bounded by watermark delay + interval width;
    the join itself shuffles both streams by user_id once."""
    purchases = (
        replay_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        replay_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    )
    out = joined.select(
        "purchase_id",
        "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("click_value", 4).alias("click_value"),
    )
    table = _run_replay(out, spark, "append")
    return table.orderBy("purchase_id", "click_ts")


def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup as a STREAM: the planted batch (same
    composition as functions.dedup.planted_ingest_batch / the
    incremental_dedup gate) replays as a file stream and is classified
    against the corpus content-fingerprint relation — persisted in the
    build_dedup_index layout — via a stream-static join.  Per-lang
    admission counts after a full bounded replay must equal the batch
    exact pass, which is exactly what the oracle recomputes.

    Plan notes: stream-static joins keep the static side a plain batch
    relation (re-resolved per micro-batch — at scale, the parquet
    fingerprint table build_dedup_index wrote); stream-static left_anti
    is unsupported, so admitted/dropped classification is ONE left_outer
    join against the flagged fingerprint relation + a null test, instead
    of two semi/anti passes over the stream."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.dedup import planted_ingest_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    work = scratch_dir(prefix="spark_ingest_dedup_")
    batch_dir = os.path.join(work, "batch")
    fp_dir = os.path.join(work, "index", "fingerprints")
    planted_ingest_batch(docs).write.parquet(batch_dir)
    # the corpus side of build_dedup_index's layout (fingerprints only —
    # the stream's exact pass needs no signatures)
    docs.select(F.sha2("text", 256).alias("fp")).distinct().write.parquet(fp_dir)

    schema = spark.read.parquet(batch_dir).schema
    stream = spark.readStream.schema(schema).parquet(batch_dir)
    corpus_fp = spark.read.parquet(fp_dir).withColumn("is_dup", F.lit(1))
    classified = (
        stream.withColumn("fp", F.sha2("text", 256))
        .join(corpus_fp, "fp", "left_outer")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_exact_dropped"),
            F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_admitted"),
        )
    )
    table = _run_replay(classified, spark, "complete")
    return table.orderBy("lang")


def stream_trending_items(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Trending detection: top-k event types per tumbling hour.  The
    streaming stage computes the windowed counts (the only part that
    needs streaming semantics — per-key ranking is not expressible
    inside a streaming agg); the top-k cut ranks the materialized sink,
    the standard two-stage shape (windowed sink + batch rank) production
    trending pipelines use.  Stream/batch equivalence makes the whole
    composition oracle-checkable."""
    from pyspark.sql import Window

    events = replay_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    table = _run_replay(agg, spark, "complete", small_state=True)
    counts = table.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("window_start", "rnk")
    )


def stream_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level ingest dedup as a STREAM: the planted batch replays as
    a file stream, each micro-batch is segmented into 8-token spans
    (pure JVM projections — segmentation streams fine), and spans are
    classified against the PERSISTED corpus span index
    (functions.spans.build_span_index) via one stream-static left_outer
    join.  The per-lang span counts after a full bounded replay must
    equal the batch probe's dup-vs-corpus split — the streaming half of
    the span_dedup_incremental gate.

    (Intra-batch keep-first needs cross-row state and lives in the batch
    probe; the streaming stage answers the per-span corpus-membership
    question, which is the hot-path filter on an ingest firehose.)"""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.dedup import planted_ingest_batch
    from project_bigdata_recsys_spark.functions.spans import (
        build_span_index,
        span_hash,
        span_segments,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    work = scratch_dir(prefix="spark_stream_span_")
    batch_dir = os.path.join(work, "batch")
    index_dir = os.path.join(work, "span_index")
    planted_ingest_batch(docs).write.parquet(batch_dir)
    build_span_index(spark, sf_dir, index_dir)

    schema = spark.read.parquet(batch_dir).schema
    stream = spark.readStream.schema(schema).parquet(batch_dir)
    idx = (
        spark.read.parquet(index_dir)
        .select("h")
        .withColumn("in_corpus", F.lit(1))
    )
    segs = span_segments(
        stream.select("doc_id", "lang", "text"), carry=("lang",)
    ).withColumn("h", span_hash(F.col("span")))
    classified = (
        segs.join(idx, "h", "left_outer")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_corpus"),
            F.sum(F.when(F.col("in_corpus").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_not_in_corpus"),
        )
    )
    table = _run_replay(classified, spark, "complete")
    return table.orderBy("lang")


#: one persisted RP-LSH index per (session, sf, params) — index build is
#: a one-time production cost (a nightly job writes it; every ingest
#: stream probes it), so all in-session consumers share the same layout.
_SEMANTIC_INDEX: dict[tuple, tuple[str, str]] = {}


def prepare_semantic_index(
    spark: SparkSession,
    sf_dir: str,
    split_at: int = 250,
    n_tables: int = 4,
    n_planes: int = 6,
) -> tuple[str, str]:
    """Build (once) and return the persisted train-side ANN index for
    :func:`stream_semantic_dedup`: the (t, bucket)-partitioned RP-LSH
    rows plus the train vectors, both as parquet.  Memoized per
    (session, sf, params); bench.py calls this in warmup so the probe
    entry times the streaming probe — the recurring production cost —
    not the one-time index write."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.similarity import rp_index_rows

    key = (spark.sparkContext.applicationId, sf_dir, split_at, n_tables, n_planes)
    # revalidate like dedup.shared_components: a purged scratch dir must
    # trigger a rebuild, not a PATH_NOT_FOUND downstream
    if key not in _SEMANTIC_INDEX or not all(
        os.path.exists(p) for p in _SEMANTIC_INDEX[key]
    ):
        emb = load_table(spark, sf_dir, "embeddings")
        train = emb.filter(F.col("vec_id") < split_at)
        work = scratch_dir(prefix="spark_semantic_dedup_")
        index_dir = os.path.join(work, "ann_index")
        vec_dir = os.path.join(work, "train_vectors")
        # cluster on the partition key first: bounds the index layout at
        # one file per (t, bucket) dir instead of tasks × dirs (guide §6)
        rp_index_rows(train, n_tables, n_planes).repartition(
            "t", "bucket"
        ).write.mode("overwrite").partitionBy("t", "bucket").parquet(
            index_dir
        )
        train.select(
            F.col("vec_id").alias("train_id"),
            F.col("embedding").alias("emb_t"),
        ).write.mode("overwrite").parquet(vec_dir)
        _SEMANTIC_INDEX[key] = (index_dir, vec_dir)
    return _SEMANTIC_INDEX[key]


def stream_semantic_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`stream_semantic_dedup`: probe a
    PRE-BUILT persisted index (prepare_semantic_index — warmed by
    bench.py before timing).  Identical plan and oracle; the separate
    name exists so the bench artifact records the recurring probe cost
    instead of the one-time index construction the gate form pays
    inline."""
    prepare_semantic_index(spark, sf_dir)
    return stream_semantic_dedup(spark, sf_dir)


def stream_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.40,
    split_at: int = 250,
    n_tables: int = 4,
    n_planes: int = 6,
) -> DataFrame:
    """Semantic (embedding-level) dedup on INGEST: newly arriving vectors
    replay as a stream and are probed against the PERSISTED train-side
    RP-LSH index (build_ann_index layout) via stream-static joins — the
    embedding twin of :func:`stream_ingest_dedup` (exact fingerprints)
    and :func:`stream_span_dedup` (substrings), and the streaming form
    of similarity.semantic_contamination, whose oracle this query shares
    verbatim: a full bounded replay must produce the identical per-label
    contamination rates.

    Shape: the stream side is a stateless projection (the deterministic
    Rademacher bucket keys + a 4-way explode), candidates meet the
    static (t, bucket) relation and the static train vectors in two
    left_outer joins, the exact cosine (dot/(|a||b|) — the oracle's FP
    association order) verifies, and ONE streaming aggregation keyed by
    (label, eval_id) counts hits.  The per-label rollup ranks the
    materialized sink — the two-stage shape stream_trending_items
    documents (a second aggregation is not expressible inside one
    streaming query).  O(batch x cell) verification work per
    micro-batch; the train corpus is hashed once, at index-build time.
    """
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.similarity import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")

    index_dir, vec_dir = prepare_semantic_index(
        spark, sf_dir, split_at, n_tables, n_planes
    )

    buckets = spark.read.parquet(index_dir).select(
        F.col("vec_id").alias("train_id"), "t", "bucket"
    )
    train_vecs = spark.read.parquet(vec_dir)

    schema = emb.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    ev = stream.filter(F.col("vec_id") >= split_at).select(
        F.col("vec_id").alias("eval_id"),
        "label",
        F.col("embedding").alias("emb_e"),
    )
    # same deterministic bucket expressions as rp_index_rows, computed
    # inline so the carried (label, emb_e) columns ride the explode
    from project_bigdata_recsys_spark.functions.similarity import rp_bucket

    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                rp_bucket(F.col("emb_e"), t, n_planes).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    # Candidate IDs first, vectors later (r7): the multi-table probe
    # yields the same (eval, train) pair up to n_tables times and fat
    # buckets multiply that — carrying the 64-float arrays through the
    # explode+join and paying a 3-fold HOF cosine per DUPLICATE was 3.5×
    # the work (measured 11.2 s → 3.2 s at sf0.1).  So: explode carries
    # ids only, dedup (eval, train) pairs (streaming dropDuplicates —
    # state is the bounded pair set of the replay), THEN fetch each
    # side's vector+precomputed norm once per unique pair and verify
    # with a single dot.  n_hits becomes 'distinct contaminating train
    # vectors' rather than 'bucket co-occurrences' — downstream only
    # tests n_hits > 0, so the contamination rates (and the shared
    # oracle) are unchanged.
    probe = ev.select(
        "eval_id", "label", F.explode(bucket_structs).alias("tb")
    ).select("eval_id", "label", F.col("tb.t"), F.col("tb.bucket"))
    cand_ids = (
        probe.join(buckets, ["t", "bucket"], "left_outer")
        .select("eval_id", "label", "train_id")
        .dropDuplicates(["eval_id", "train_id"])
    )
    ev_vec = emb.filter(F.col("vec_id") >= split_at).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("emb_e"),
        l2_norm(F.col("embedding")).alias("norm_e"),
    )
    tv_vec = train_vecs.withColumn("norm_t", l2_norm(F.col("emb_t")))
    cand = cand_ids.join(ev_vec, "eval_id", "left_outer").join(
        tv_vec, "train_id", "left_outer"
    )
    cos = dot(F.col("emb_e"), F.col("emb_t")) / (
        F.col("norm_e") * F.col("norm_t")
    )
    hit = F.when(F.round(cos, 6) >= threshold, 1).otherwise(0)
    per_eval = cand.groupBy("label", "eval_id").agg(
        F.sum(hit).alias("n_hits")
    )
    table = _run_replay(per_eval, spark, "complete")
    return (
        table.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.round(
                F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("contamination_rate"),
        )
        .orderBy("label")
    )


def stream_cdc_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the deterministic orders changelog (the same
    md5-derived base/update/delete branches as
    operators.snapshot.cdc_orders_profile, updates bumped via the
    integer-cents ``bump_price_cents``) replays as a bounded stream and
    is collapsed to the CURRENT VIEW *inside* the stream — latest seq
    wins per PK via ``max_by`` on a keyed streaming aggregation
    (complete mode), delete tombstones dropped post-collapse.  The
    per-status profile shares ``cdc_current_view``'s oracle verbatim: a
    full replay must land on the identical current state.

    Scale: state is ONE small struct per PK (op, status, price at the
    max seq) — the minimal merge-on-read state, maintained incrementally
    per micro-batch; unbounded deployments run the same plan with the
    changelog arriving from Kafka and a watermark bounding out-of-order
    sequence arrival.  No joins on the stream side."""
    from project_bigdata_recsys_spark.catalog import parquet_schema, table_path
    from project_bigdata_recsys_spark.functions.fixedpoint import sum_fixed
    from project_bigdata_recsys_spark.operators.snapshot import (
        bump_price_cents,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    schema = parquet_schema(spark, table_path(sf_dir, "orders"))
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    key = F.col("o_orderkey")
    base = stream.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
    )
    updates = stream.filter(hash_uniform(key, "cdc-upd:") < 0.05).select(
        "o_orderkey",
        "o_orderstatus",
        bump_price_cents(F.col("o_totalprice")).alias("o_totalprice"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    deletes = stream.filter(hash_uniform(key, "cdc-del:") < 0.02).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    changelog = base.unionByName(updates).unionByName(deletes)
    current = changelog.groupBy("o_orderkey").agg(
        F.max_by(
            F.struct("op", "o_orderstatus", "o_totalprice"), F.col("seq")
        ).alias("cur")
    )
    table = _run_replay(current, spark, "complete")
    return (
        table.filter(F.col("cur.op") != "D")
        .groupBy(F.col("cur.o_orderstatus").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                sum_fixed(
                    F.round(F.col("cur.o_totalprice") * 100).cast("long"),
                    sf_dir=sf_dir,
                )
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile monitoring: the DDSketch-style log-bucket
    layer (operators.relational.ddsketch_quantile_rollup) maintained BY
    THE STREAM — per (1-day event-time window, event_type) bucket
    counts as the streaming aggregation state (complete-mode replay),
    quantiles walked from the materialized sketch post-sink (the
    two-stage shape stream_trending_items documents).  The value-p50/p95
    monitor a production pipeline hangs alerts on, with bounded state:
    #windows × #types × #buckets rows, never raw values.

    The oracle replays the identical bucket arithmetic per calendar day
    (same 6-dp-rounded ln ratio — no engine can flip a boundary) and
    the exact walk, so the streamed sketch is hash-checked end to end."""
    import math

    from pyspark.sql import Window as W

    gamma = 1.02
    events = replay_events_stream(spark, sf_dir).filter(F.col("value") > 0)
    b = F.ceil(
        F.round(F.log("value") / F.lit(math.log(gamma)), 6)
    ).cast("long")
    agg = events.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type", b.alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    table = _run_replay(agg, spark, "complete", small_state=True)
    sketch = table.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "b",
        "n",
    )
    w_cum = (
        W.partitionBy("day", "event_type")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("day", "event_type")
    cum = sketch.select(
        "day",
        "event_type",
        "b",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )

    def pick(q):
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("total")), F.col("b")
            )
        )

    def est(bcol):
        return F.round(
            2.0 * F.pow(F.lit(gamma), bcol) / F.lit(gamma + 1.0), 6
        )

    return (
        cum.groupBy("day", "event_type")
        .agg(
            F.max("total").cast("long").alias("n_events"),
            est(pick(0.5)).alias("p50_est"),
            est(pick(0.95)).alias("p95_est"),
        )
        .orderBy("day", "event_type")
    )


def stream_late_data_audit(
    spark: SparkSession, sf_dir: str, watermark_days: int = 3
) -> DataFrame:
    """Watermark ENFORCEMENT audit — the drop path no other streaming
    query exercises (stream_dedup_events sets a watermark wide enough to
    keep everything): the events file replays as micro-batch 1, an
    empty file as micro-batch 2, then a deliberately LATE copy (every
    event shifted 40 days earlier, re-keyed) arrives as micro-batch 3.
    Spark filters a batch's late rows against the watermark the
    PREVIOUS batch ran under, so the empty trigger is what carries the
    watermark batch 1 set — max(ts) − ``watermark_days`` — to the late
    batch's filter.  That watermark is far past the late copies' 1-day
    windows, so Structured Streaming must drop ALL of them from the
    appended result; on-time windows emit exactly once.

    Three disjoint fates, all audited: EMITTED (on-time rows in windows
    the final watermark closed), WITHHELD (on-time rows in the trailing
    ``watermark_days`` of windows — still open in state when the bounded
    replay terminates; append mode never force-emits them), and DROPPED
    (every late copy — its window closed long before the row arrived).
    Deterministic because the staged replay pins the file order and
    runs one file per micro-batch, and the final watermark (max on-time
    ts − delay) falls mid-day so no window-end ties it.  The oracle
    replays the same watermark arithmetic on the on-time aggregate."""
    import pyarrow.parquet as pq

    from project_bigdata_recsys_spark.catalog import (
        normalize_events,
        parquet_schema,
        table_path,
    )

    src = table_path(sf_dir, "events")
    raw = spark.read.schema(parquet_schema(spark, src)).parquet(src)
    # late copies: shifted 40 days into the past, re-keyed
    late = raw.withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 40 DAYS")
    ).withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    idle = os.path.join(
        scratch_dir(prefix="spark_late_idle_"), "idle.parquet"
    )
    pq.write_table(pq.read_schema(src).empty_table(), idle)
    table = _run_staged(
        spark,
        lambda s: normalize_events(s)
        .withWatermark("ts", f"{watermark_days} days")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "append",
        small_state=True,
        files=[src, idle],
        frame=late,
        wave=F.lit(0),
    )
    on_time_events = normalize_events(raw)
    # late windows are 40 days older than any on-time window (the shift
    # exceeds the corpus span), so sink rows split cleanly: anything in
    # a pre-on-time window is a late row that LEAKED past the watermark.
    min_day = on_time_events.agg(
        F.to_date(F.min("ts")).alias("__min_day")
    )
    sunk = (
        table.crossJoin(F.broadcast(min_day))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.to_date(F.col("w.start")) >= F.col("__min_day"),
                    F.col("n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_emitted"),
            F.sum(
                F.when(
                    F.to_date(F.col("w.start")) < F.col("__min_day"),
                    F.col("n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("__n_late_leaked"),
        )
    )
    batch = on_time_events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_on_time")
    )
    return (
        batch.join(sunk, "event_type", "left")
        .select(
            "event_type",
            "n_on_time",
            F.coalesce("n_emitted", F.lit(0)).cast("long").alias("n_emitted"),
            (
                F.col("n_on_time") - F.coalesce("n_emitted", F.lit(0))
            ).cast("long").alias("n_withheld"),
            # measured: the late copy's size minus whatever leaked into
            # the sink (must equal the full copy — watermark enforced)
            (
                F.col("n_on_time") - F.coalesce("__n_late_leaked", F.lit(0))
            ).cast("long").alias("n_dropped_late"),
        )
        .orderBy("event_type")
    )


def stream_domain_quota(
    spark: SparkSession,
    sf_dir: str,
    n_domain_buckets: int = 150,
    quota: int = 20,
    n_waves: int = 3,
) -> DataFrame:
    """Per-registrable-domain quota admission ON THE INGEST STREAM —
    the streaming half of the domain_quota/incremental_domain_quota
    family: keyed state per domain (admitted-so-far count) admits docs
    first-come-first-served until the quota saturates, exactly what a
    crawl-ingest firehose enforces online.

    True CROSS-BATCH state is exercised, not simulated: the corpus is
    staged as ``n_waves`` single-file parquet waves (wave = doc_id %
    n_waves) that the staged replay streams back as a deterministic
    micro-batch SEQUENCE — a domain saturated in wave 0 must reject in
    wave 2, which only works if its counter survived two checkpointed
    state round-trips.  Within a (batch, domain) group rows are processed in
    md5(doc_id)-rank order, so the full admission order is (wave, md5,
    doc_id) — deterministic on both engines, which is what the SQL
    oracle replays with one ranked window.

    Scale: state is ONE small tuple per domain (the RocksDB-provider
    case when domains reach web cardinality — session.py's
    SPARK_GRAFT_STATE_STORE toggle); each micro-batch shuffles only its
    own rows by domain.  Output per source: docs, admitted, rejected."""
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    u = hash_uniform(F.col("doc_id"), "domain:")
    dom = docs.withColumn(
        "domain_idx",
        F.floor(u * u * F.lit(float(n_domain_buckets))).cast("long"),
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("domain_idx", LongType()),
            StructField("admitted", IntegerType()),
        ]
    )
    state_schema = StructType([StructField("n_admitted", IntegerType())])

    def admit(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        order = pdf["doc_id"].map(
            lambda d: hashlib.md5(str(d).encode()).hexdigest()
        )
        pdf = (
            pdf.assign(__k=order)
            .sort_values(["__k", "doc_id"])
            .reset_index(drop=True)
        )
        n = state.get[0] if state.exists else 0
        room = max(0, quota - n)
        flags = [1 if i < room else 0 for i in range(len(pdf))]
        state.update((min(quota, n + len(pdf)),))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "domain_idx": key[0],
                "admitted": flags,
            }
        )

    table = _run_staged(
        spark,
        lambda s: s.groupBy("domain_idx").applyInPandasWithState(
            admit,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
        small_state=True,
        frame=dom,
        wave=F.col("doc_id") % n_waves,
    )
    return (
        table.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("admitted").cast("long").alias("n_admitted"),
            F.sum(1 - F.col("admitted")).cast("long").alias("n_rejected"),
        )
        .orderBy("source")
    )


def stream_kmv_distinct(
    spark: SparkSession,
    sf_dir: str,
    k: int = 256,
    n_waves: int = 3,
) -> DataFrame:
    """KMV distinct sketch maintained BY THE STREAM — the streaming twin
    of operators.relational.kmv_distinct_rollup, completing the pattern
    that every sketch layer ships with a streaming form (DDSketch →
    stream_value_quantiles): keyed state per ISO week holds the k
    smallest md5-uniform user hashes seen so far, each micro-batch
    set-merges its hashes in and re-cuts to k — the KMV merge is
    ORDER-INDEPENDENT, so however the replay slices the corpus into
    batches, the final sketch is bit-identical to the batch weekly cut,
    and the oracle is one flat SQL ranking (the hash-compared-outright
    property carries over to the stream).

    True cross-batch state: the corpus is staged as ``n_waves``
    single-file waves (event_id % n_waves) replayed one per micro-batch,
    so a week's sketch must survive checkpointed
    state round-trips between merges.  Update-mode emissions carry a
    per-key update counter; the post-sink read keeps each week's last
    emission (latest-wins window) — the stream_cdc_current discipline.

    Scale: state is ≤ k doubles per week (KB); each batch shuffles only
    its own rows by week.  Output per week: n_sketch, kmv_estimate,
    n_exact, rel_err (exact twin is the gate readout only)."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
            "week"
        ),
        "user_id",
        "event_id",
    )
    hashed = ev.select(
        "week", "event_id", hash_uniform(F.col("user_id"), "kmv:").alias("u")
    )

    out_schema = StructType(
        [
            StructField("week", StringType()),
            StructField("upd", IntegerType()),
            StructField("n_sketch", LongType()),
            StructField("u_k", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("upd", IntegerType()),
            StructField("ks", ArrayType(DoubleType())),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        prev_upd, prev_ks = state.get if state.exists else (0, [])
        merged = sorted(set(list(prev_ks)) | set(pdf["u"].tolist()))[:k]
        upd = prev_upd + 1
        state.update((upd, merged))
        yield pd.DataFrame(
            {
                "week": [key[0]],
                "upd": [upd],
                "n_sketch": [len(merged)],
                "u_k": [merged[k - 1] if len(merged) == k else None],
            }
        )

    table = _run_staged(
        spark,
        lambda s: s.groupBy("week").applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
        small_state=True,
        frame=hashed,
        wave=F.col("event_id") % n_waves,
    )
    w_last = W.partitionBy("week").orderBy(F.desc("upd"))
    latest = (
        table.withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select("week", "n_sketch", "u_k")
    )
    exact = (
        ev.select("week", "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("u_k"))
    return (
        latest.join(exact, "week")
        .select(
            "week",
            "n_exact",
            "n_sketch",
            F.round(est, 4).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
        .orderBy("week")
    )


def stream_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of analytics.ewma_anomalies — the volume monitor
    maintained BY THE STREAM: per (1-day event-time window, event_type)
    counts are the streaming aggregation state (complete-mode replay;
    state is #windows × #types rows, never raw events), and the closed-
    form EWMA baseline + flags run post-sink on that materialized counts
    frame via the SHARED kernel (ewma_flags_from_counts) — so the
    streamed monitor is bit-identical to the batch one and hash-checks
    against the same oracle arithmetic.

    This is the deployment shape: the stream keeps the counts current;
    the cheap baseline join re-evaluates on whatever cadence alerting
    wants, without touching raw history."""
    from project_bigdata_recsys_spark.operators.analytics import (
        ewma_flags_from_counts,
    )

    events = replay_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    table = _run_replay(agg, spark, "complete", small_state=True)
    counts = table.select(
        "event_type",
        F.floor(F.col("w.start").cast("double") / 86400.0)
        .cast("long")
        .alias("day"),
        F.col("n").cast("long").alias("n"),
    )
    return ewma_flags_from_counts(spark, counts)


def stream_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dimension enrichment against an SCD2 table — the
    feature-store serving shape: events arrive as a stream, the user's
    segment is whatever version was valid AT THE EVENT'S TIME (a plain
    latest-version lookup would silently rewrite history every time the
    dimension changes).  The PIT lookup is a stream-static equi-join on
    the user key with the validity-interval predicate as a join filter
    — the pit_join-as-interval-join shape: each key carries ≤ 2 versions
    here, so fan-out is bounded and the static side is re-resolved per
    micro-batch exactly like a dimension table refresh.

    Dimension: md5-chosen 30% of users switch their segment to '_V2' at
    the mid-corpus cutover; everyone else keeps one open-ended version
    (the pit_segment_rollup draw, stream-keyed).  Output per EFFECTIVE
    segment: events, users, exact micro-unit value total.  The oracle
    replays the identical draw + interval arithmetic, so an event
    enriched against the wrong version shifts a rollup row and breaks
    the hash."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    changed = hash_uniform(F.col("user_id"), "scdstream:") < 0.3
    base = F.concat(F.lit("seg"), (F.col("user_id") % 4).cast("string"))
    lo, cut, hi = (
        F.lit("2023-01-01"),
        F.lit("2024-01-16"),
        F.lit("9999-12-31"),
    )
    v_open = users.select(
        "user_id",
        base.alias("segment"),
        lo.alias("valid_from"),
        F.when(changed, cut).otherwise(hi).alias("valid_to"),
    )
    v_new = users.filter(changed).select(
        "user_id",
        F.concat(base, F.lit("_V2")).alias("segment"),
        cut.alias("valid_from"),
        hi.alias("valid_to"),
    )
    dim = v_open.unionByName(v_new)

    stream = replay_events_stream(spark, sf_dir).select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("__day"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("__vm"),
    )
    enriched = stream.join(dim, "user_id").filter(
        (F.col("__day") >= F.col("valid_from"))
        & (F.col("__day") < F.col("valid_to"))
    )
    # streaming state is the (segment, user) partial — bounded by
    # #users × versions, never raw events — and the exact distinct-user
    # count falls out of the sink's row count per segment
    per_user = enriched.groupBy("segment", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__vm").alias("vm"),
    )
    table = _run_replay(per_user, spark, "complete")
    return (
        table.groupBy("segment")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.sum("vm") / 1_000_000.0, 4).alias("total_value"),
        )
        .orderBy("segment")
    )


def stream_welch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of quality.welch_ttest_drift — the mean-shift
    monitor maintained BY THE STREAM: the state is the per-side exact
    integer moment triple (n, Σcents, Σcents²) kept by a complete-mode
    streaming aggregation (2 rows, constant size), and the Welch
    readout runs post-sink through the SHARED kernel
    (quality.welch_from_moments).  Integer moments merge order-
    independently, so however the replay batches the corpus the final
    state — and therefore t, df, and the flag — is bit-identical to
    the batch test, and the same oracle SQL gates both.

    The split day is configuration (a monitor compares "before the
    release" to "after"), resolved here from the static corpus as a
    1-row O(1) metadata read — the deployment shape would pass a
    literal date.

    Scale: state never grows past 2 rows; each micro-batch folds its
    own partial moments map-side before the 2-key shuffle."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.operators.quality import (
        welch_from_moments,
    )

    batch_days = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("ts").cast("double") / 86400.0)
        .cast("long")
        .alias("day")
    )
    mid = batch_days.agg(
        F.floor((F.min("day") + F.max("day")) / 2.0).cast("long")
    ).collect()[0][0]

    events = replay_events_stream(spark, sf_dir)
    sided = events.select(
        F.when(
            F.floor(F.col("ts").cast("double") / 86400.0) <= F.lit(mid), 1
        )
        .otherwise(0)
        .alias("__a"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    agg = sided.groupBy("__a").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("ss"),
    )
    table = _run_replay(agg, spark, "complete", small_state=True)
    moments = table.agg(
        F.sum(F.when(F.col("__a") == 1, F.col("n"))).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__a") == 0, F.col("n"))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__a") == 1, F.col("s"))).cast("long").alias("__sa"),
        F.sum(F.when(F.col("__a") == 0, F.col("s"))).cast("long").alias("__sb"),
        F.sum(F.when(F.col("__a") == 1, F.col("ss")))
        .cast("long")
        .alias("__ssa"),
        F.sum(F.when(F.col("__a") == 0, F.col("ss")))
        .cast("long")
        .alias("__ssb"),
    )
    return welch_from_moments(moments)


def stream_bootstrap_ci(
    spark: SparkSession, sf_dir: str, n_replicas: int = 200
) -> DataFrame:
    """Streaming twin of analytics.bootstrap_ci_mean — the uncertainty
    monitor maintained BY THE STREAM (the Poisson bootstrap's original
    setting: Chamandy et al. built it FOR streams): each event folds
    its ``n_replicas`` Poisson(1)-weighted contributions into a
    complete-mode aggregation whose state is the per-(segment, replica)
    integer (Σw, Σw·v) pair — #segments × (B+1) rows, constant.
    Integer partials merge order-independently, so the final state and
    the CI are bit-identical to the batch operator, through the SHARED
    readout (bootstrap_ci_readout) and the same oracle SQL.

    The point estimate rides in the SAME state as the identity replica
    b = −1 (weight 1 for every row) — no second aggregation, no batch
    side-read."""
    from project_bigdata_recsys_spark.operators.analytics import (
        POISSON1_CDF,
    )
    from project_bigdata_recsys_spark.operators.experiments import (
        bootstrap_ci_readout,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    # the streaming file source hands the whole events file to ONE task;
    # the x(B+1) explode + per-replica md5 is the hottest map in the
    # streaming surface, so spread it across the executor threads BEFORE
    # exploding (a stateless narrow-row shuffle — measured 100 s -> ~5 s
    # at sf0.1; the batch twin always had this via parquet splitting)
    events = replay_events_stream(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    reps = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        "event_id",
        F.explode(F.sequence(F.lit(-1), F.lit(n_replicas - 1))).alias("b"),
    )
    u = hash_uniform(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit("_"),
            F.col("b").cast("string"),
        ),
        "boot:",
    )
    w = F.lit(8)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    w = F.when(F.col("b") == -1, F.lit(1)).otherwise(w)
    agg = reps.groupBy("event_type", "b").agg(
        F.sum(w).cast("long").alias("sw"),
        F.sum(w * F.col("vc")).cast("long").alias("swv"),
    )
    # the drained sink is a fresh parquet scan, so point and sums can
    # meet again in the readout join (_drain_sink)
    table = _run_replay(agg, spark, "complete", small_state=True)
    point = table.filter(F.col("b") == -1).select(
        "event_type",
        F.col("sw").alias("n"),
        F.round(
            F.col("swv") / F.col("sw").cast("double") / 100.0, 6
        ).alias("mean"),
    )
    sums = table.filter(F.col("b") >= 0).select(
        "event_type", "b", "sw", "swv"
    )
    return bootstrap_ci_readout(sums, point, n_replicas)


def stream_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of analytics.cusum_changepoint — the changepoint
    localizer maintained BY THE STREAM, in the stream_ewma_anomalies
    deployment shape: a complete-mode (1-day event-time window ×
    segment) count aggregation keeps the day-level state current
    (#days × #segments rows, never raw events), and the exact integer
    CUSUM argmax runs post-sink through the SHARED kernel
    (analytics.cusum_from_counts) — bit-identical to the batch
    operator, same oracle."""
    from project_bigdata_recsys_spark.operators.analytics import (
        cusum_from_counts,
    )

    events = replay_events_stream(spark, sf_dir)
    agg = events.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # the shared kernel self-joins its input (totals ⋈ daily): the
    # drained sink is a fresh parquet scan, safe to self-join
    sink = _run_replay(agg, spark, "complete", small_state=True)
    return cusum_from_counts(
        sink.select(
            "event_type",
            F.floor(F.col("w.start").cast("double") / 86400.0)
            .cast("long")
            .alias("day"),
            F.col("n").cast("long").alias("y"),
        )
    )


def stream_benford_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit maintained BY THE STREAM over event
    values — the data-quality monitor as a streaming aggregation
    (complete-mode digit counts: 9 rows of state, the cheapest possible
    streaming QA), read out through the shared
    ``quality.benford_readout`` chi-square kernel so the streamed audit
    is bit-identical to a batch audit of the same column.  A feed whose
    first-digit mix drifts (unit mix-up, synthetic injection, truncated
    upstream) flags here without any model.

    Scale: per-batch shuffle is 9 keys; state is 9 counters."""
    from project_bigdata_recsys_spark.operators.quality import benford_readout

    events = replay_events_stream(spark, sf_dir).filter(F.col("value") > 0)
    digit = (
        F.substring(
            F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    agg = events.groupBy(digit).agg(F.count(F.lit(1)).alias("n"))
    table = _run_replay(agg, spark, "complete", small_state=True)
    digits = table.filter(F.col("digit") >= 1).select(
        "digit", F.col("n").cast("long").alias("observed")
    )
    return benford_readout(digits)


def stream_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPRT conversion monitor maintained BY THE STREAM: per-day
    (events, purchases) counts as complete-mode streaming state
    (#days × 2 counters), the log-likelihood path and accept/continue
    decisions read out through the shared
    ``experiments.sprt_path_from_daily`` kernel — the anytime-valid
    experiment monitor in the form it would actually run: state grows
    one row per day, the decision updates every micro-batch, and the
    streamed path is bit-identical to the batch monitor (same micro
    literals, same oracle)."""
    from project_bigdata_recsys_spark.operators.experiments import (
        sprt_path_from_daily,
    )

    events = replay_events_stream(spark, sf_dir)
    daily = events.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("k"),
    )
    table = _run_replay(daily, spark, "complete", small_state=True)
    return sprt_path_from_daily(
        table.select(
            "day",
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
        )
    )


def stream_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Holt trend backtest maintained BY THE STREAM: per-(type,
    day) counts as complete-mode state, level/trend/forecast/MAE read
    out through the shared ``analytics.holt_eval_from_counts`` kernel
    with the same offline-unrolled micro weight literals — the
    trend-aware forecast monitor in deployable form, bit-identical to
    the batch backtest (same oracle)."""
    from project_bigdata_recsys_spark.operators.analytics import (
        holt_eval_from_counts,
    )

    events = replay_events_stream(spark, sf_dir)
    daily = events.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))
    # the kernel reads the count frame on BOTH sides of its grid join:
    # the drained sink is a fresh parquet scan, safe to self-join
    table = _run_replay(daily, spark, "complete", small_state=True)
    counts = table.select(
        "event_type", "day", F.col("y").cast("long").alias("y")
    )
    return holt_eval_from_counts(counts)


def stream_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mann-Kendall trend test maintained BY THE STREAM: per-(type,
    day) counts as complete-mode state, verdicts read out through the
    shared ``analytics.mann_kendall_from_counts`` kernel — the robust
    trend monitor in deployable form, bit-identical to batch (same
    oracle)."""
    from project_bigdata_recsys_spark.operators.analytics import (
        mann_kendall_from_counts,
    )

    events = replay_events_stream(spark, sf_dir)
    daily = events.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))
    table = _run_replay(daily, spark, "complete", small_state=True)
    counts = table.select(
        "event_type", "day", F.col("y").cast("long").alias("y")
    )
    return mann_kendall_from_counts(counts)


def _ann_maintenance(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fold_into,
    split_frac: float,
    n_tables: int,
    n_planes: int,
    n_arrival_files: int,
) -> str:
    """The setup both ANN-maintenance queries share: build the nightly
    RP-LSH base index over the settled corpus (the first ``split_frac``
    of vec_ids), stream the remaining embeddings as ``n_arrival_files``
    waves and fold every micro-batch into the index with
    ``fold_into(spark, index_dir, batch_df, n_tables, n_planes)``.
    Returns the index directory."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.similarity import rp_index_rows

    emb = load_table(spark, sf_dir, "embeddings")
    index_dir = os.path.join(
        scratch_dir(prefix=f"spark_{name}_index_"), "ann_index"
    )

    # production-faithful split: the nightly index covers ~split_frac of
    # the corpus (one batch build, the cheap path); the stream folds
    # only the tail.  The oracle hashes the FULL corpus, so the split
    # point is free — it just decides how much work runs as a stream.
    max_vec = emb.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
    # empty corpus: max is NULL — build an empty base (the staged
    # replay then raises: there is nothing to stream)
    split_at = int(max_vec * split_frac) if max_vec is not None else 0

    # nightly base index over the settled corpus (own scratch copy —
    # the fold MUTATES it; never point this at the shared
    # prepare_semantic_index memo other queries probe).  Clustered on
    # the partition key first: one file per (t, bucket) dir (guide §6)
    rp_index_rows(
        emb.filter(F.col("vec_id") < split_at), n_tables, n_planes
    ).repartition("t", "bucket").write.mode("overwrite").partitionBy(
        "t", "bucket"
    ).parquet(index_dir)

    def fold(batch_df, batch_id: int) -> None:
        fold_into(spark, index_dir, batch_df, n_tables, n_planes)

    run_staged_replay(
        spark,
        lambda s: s.writeStream.foreachBatch(fold),
        name,
        frame=emb.filter(F.col("vec_id") >= split_at),
        wave=F.col("vec_id") % n_arrival_files,
    )
    return index_dir


def stream_update_ann_index(
    spark: SparkSession,
    sf_dir: str,
    split_frac: float = 0.9,
    n_tables: int = 4,
    n_planes: int = 6,
    n_arrival_files: int = 3,
) -> DataFrame:
    """Streaming MAINTENANCE of the persisted RP-LSH index — the last
    batch-only gap in the index-maintenance story closed: the nightly
    build (similarity.build_ann_index layout, settled corpus = the
    first ``split_frac`` of vec_ids) is kept current by a foreachBatch
    consumer of
    the embedding ingest stream, each micro-batch folded in via
    :func:`similarity.update_ann_index` (dynamic partition overwrite of
    only the (t, bucket) partitions the batch touches — O(batch +
    touched-buckets) per trigger, never O(corpus)).

    Index membership is a set union (one (vec_id, t, bucket) row per
    vector per table), trivially associative, so base ⊕ every arrival
    micro-batch ≡ a from-scratch build over the full corpus — which is
    exactly what the oracle recomputes: the returned per-table profile
    (row/vector/bucket counts + an integer membership checksum) must
    match DuckDB hashing ALL vectors with the same deterministic
    Rademacher planes.  Arrivals are staged as ``n_arrival_files``
    waves (vec_id % n_arrival_files) and replayed one per micro-batch,
    so the fold runs across several real micro-batches, not one.

    Composes two oracle-green pieces: the update_ann_index fold
    (fold ≡ rebuild pinned by test_update_ann_index_equals_rebuild) and
    the deterministic bucket expressions ann_recall_profile's oracle
    already mirrors in SQL."""
    from project_bigdata_recsys_spark.functions.similarity import (
        update_ann_index,
    )

    index_dir = _ann_maintenance(
        spark, sf_dir, "stream_update_ann_index", update_ann_index,
        split_frac, n_tables, n_planes, n_arrival_files,
    )
    return _rp_index_profile(spark.read.parquet(index_dir))


def _rp_index_profile(idx: DataFrame) -> DataFrame:
    """Per-table membership profile of a persisted RP-LSH index — the
    content-sensitive readout (row/vector/bucket counts + integer
    checksum) both index-maintenance gate queries return, so any
    content drift flips the shared oracle hash."""
    return (
        idx.groupBy(F.col("t").cast("long").alias("t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("vec_id").cast("long").alias("n_vecs"),
            F.countDistinct("bucket").cast("long").alias("n_buckets"),
            F.sum(
                F.col("bucket").cast("long") * F.lit(100003)
                + F.col("vec_id").cast("long")
            )
            .cast("long")
            .alias("checksum"),
        )
        .orderBy("t")
    )


def stream_ann_compaction(
    spark: SparkSession,
    sf_dir: str,
    split_frac: float = 0.9,
    n_tables: int = 4,
    n_planes: int = 6,
    n_arrival_files: int = 3,
) -> DataFrame:
    """fold → COMPACT → read out: the maintenance loop
    :func:`stream_update_ann_index` leaves open, closed (r11 verdict
    task #4, carried to r13).  Each foreachBatch fold dynamically
    overwrites the (t, bucket) partitions its micro-batch touches, and
    at production cadence that fragments the hot buckets into stacks of
    small files; this query runs the bounded fold in its
    production-cadence APPEND form (:func:`similarity.append_ann_index`
    — O(batch) written per trigger, stored rows never rewritten, so
    every fold really does add files to its touched partitions), then
    :func:`similarity.compact_ann_index` (rows-per-file target,
    fragmented-partitions-only rewrite), then returns the same
    per-table membership profile — sharing
    ``ORACLES["stream_update_ann_index"]`` VERBATIM, so the driver hash
    proves compaction changed the file layout without changing one row
    of index content.  Probe-identity (same kNN results through the
    compacted index) and the actual file-count drop are pinned in
    tests/test_round13.py.

    Reference analog: the factor-table sink kept queryable over time
    (spark_jobs/batch_als_train.py:236-248) — here the maintained
    artifact is the ANN index relation itself."""
    from project_bigdata_recsys_spark.functions.similarity import (
        append_ann_index,
        compact_ann_index,
    )

    index_dir = _ann_maintenance(
        spark, sf_dir, "stream_ann_compaction", append_ann_index,
        split_frac, n_tables, n_planes, n_arrival_files,
    )
    compact_ann_index(spark, index_dir, target_rows_per_file=1_000_000)
    return _rp_index_profile(spark.read.parquet(index_dir))


def stream_secret_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credential scanning ON INGEST — the streaming twin of
    text.secret_scan_profile (the Dolma/StarCoder governance step moved
    to where it actually runs in production: the document firehose,
    before anything lands in the corpus).  The planted corpus replays
    as a bounded file stream; detection is the same stateless JVM
    regexp projection (plant_secrets + SECRET_PATTERNS are pure
    column expressions, so they stream untouched); ONE keyed streaming
    aggregation per source maintains the exposure profile.  A full
    bounded replay must equal the batch profile exactly — the oracle is
    shared verbatim.

    Scale: stateless scan + #sources-key aggregation state; unbounded
    deployments run the identical plan from Kafka with a watermark, and
    the per-source flag rates read out of the sink continuously."""
    from project_bigdata_recsys_spark.catalog import parquet_schema, table_path
    from project_bigdata_recsys_spark.functions.text import (
        SECRET_PATTERNS,
        plant_secrets,
    )

    doc_schema = parquet_schema(spark, table_path(sf_dir, "documents"))
    stream = (
        spark.readStream.schema(doc_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    planted = plant_secrets(stream.select("doc_id", "source", "text"))
    counted = planted.select(
        "source",
        *[
            F.size(
                F.regexp_extract_all("text", F.lit(pat), F.lit(0))
            ).alias(f"n_{name}")
            for name, pat in SECRET_PATTERNS.items()
        ],
    )
    flagged = (
        F.col("n_aws_key") + F.col("n_hex32") + F.col("n_bearer") > 0
    )
    agg = counted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(flagged, 1).otherwise(0))
        .cast("long")
        .alias("docs_flagged"),
        F.sum("n_aws_key").cast("long").alias("n_aws_key"),
        F.sum("n_hex32").cast("long").alias("n_hex32"),
        F.sum("n_bearer").cast("long").alias("n_bearer"),
        F.round(
            F.sum(F.when(flagged, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("flag_rate"),
    )
    table = _run_replay(agg, spark, "complete", small_state=True)
    return table.orderBy("source")


def stream_zipf_fit(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """Streaming vocabulary fold twin of text.zipf_fit_profile — proves
    the corpus-health fit is maintainable from a stream without ever
    re-scanning the corpus: each micro-batch APPENDS its map-side
    partial (lang, token, cnt) counts to a parquet ledger (no state
    store, no cross-batch shuffle — the cheapest streaming write, the
    stream_join_view_mor discipline), and the post-replay merge sums
    partials per (lang, token).  Count-sum folding is exact and
    order-independent, so however the replay slices the corpus the
    merged frequency frame is bit-identical to the batch aggregation —
    the shared fit kernel (text.zipf_fit_from_freqs) and the SHARED
    DuckDB oracle text then prove the whole pipeline, not just the
    counts.

    The corpus is staged as ``n_waves`` single-file waves (doc_id %
    n_waves) replayed one per micro-batch; the staged replay's commit
    floor enforces that every wave ran as its own micro-batch (a Spark
    behavior change collapsing them would silently weaken this gate to
    the batch form).

    Scale: the ledger holds one partial-count row set per (batch,
    lang, token) — bounded by batches × |vocab|; a nightly compaction
    (groupBy sum, overwrite) keeps it flat, which is exactly what the
    final merge here computes."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.text import (
        tokens,
        zipf_fit_from_freqs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    partials = _fold_to_ledger(
        spark,
        "stream_zipf_fit",
        docs,
        F.col("doc_id") % n_waves,
        lambda b: b.select(
            "lang", F.explode(tokens(F.col("text"))).alias("token")
        )
        .filter(F.length("token") > 0)
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt")),
        small_state=True,
    )
    freqs = (
        partials.groupBy("lang", "token")
        .agg(F.sum("cnt").cast("long").alias("freq"))
    )
    return zipf_fit_from_freqs(freqs)


def stream_winnowing(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """Streaming twin of text.winnowing_overlap — the winnowing
    fingerprint INDEX maintained by the stream: a document's
    fingerprint set is a pure per-doc function (text.
    winnowing_fingerprints), so each micro-batch computes its docs'
    (doc_id, n_fp, fp) rows independently and APPENDS them to a parquet
    ledger — no state store, no cross-batch shuffle, the stream_zipf_fit
    discipline — and the post-replay pair readout over the merged
    ledger is bit-identical to the batch form.  SHARED oracle text with
    winnowing_overlap: the gate hash proves stream ≡ batch for the
    whole fingerprint-index pipeline.

    Scale: the ledger is the fingerprint index itself ((doc_id, n_fp,
    fp) rows, 8-byte hashes) — exactly what an incremental corpus
    overlap service persists; compaction is a no-op because appends
    never duplicate a doc (each doc arrives once)."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.text import (
        winnowing_fingerprints,
        winnowing_pairs_from_fps,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = _fold_to_ledger(
        spark,
        "stream_winnowing",
        docs,
        F.col("doc_id") % n_waves,
        winnowing_fingerprints,
    )
    return winnowing_pairs_from_fps(fps)


def stream_skyline(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """Streaming twin of analytics.skyline_orders — the Pareto frontier
    maintained by per-batch LOCAL skylines: skylines are an idempotent
    merge algebra (skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)),
    strict dominance is transitive so a locally-removed point's
    dominator survives to dominate it globally), so each micro-batch
    appends only its own frontier to the ledger and the final filter
    over the merged frontiers equals the batch skyline exactly.  SHARED
    oracle text with skyline_orders.

    Scale: the ledger holds per-batch frontiers (~log-sized per
    segment), so the final merge filter runs over batches × frontier
    rows — the streaming state a deals-frontier service would actually
    keep, never the raw order stream."""
    from project_bigdata_recsys_spark.operators.analytics import (
        skyline_base,
        skyline_filter,
    )

    base = skyline_base(spark, sf_dir)
    merged = _fold_to_ledger(
        spark,
        "stream_skyline",
        base,
        F.col("o_orderkey") % n_waves,
        skyline_filter,
        small_state=True,
    )
    return (
        skyline_filter(merged)
        .select("segment", "o_orderkey", "price_cents", "order_date")
        .orderBy("segment", "price_cents", "o_orderkey")
    )


def stream_ipf(spark: SparkSession, sf_dir: str, n_waves: int = 3) -> DataFrame:
    """Streaming twin of curation.ipf_weight_calibration — the raking
    CELL TABLE maintained by the stream: each micro-batch appends its
    partial (lang, source, cnt) counts to a parquet ledger (count cells
    merge exactly, the stream_zipf_fit discipline) and the post-replay
    merge feeds the SHARED IPF kernel (curation.ipf_from_cells) — so
    the shared oracle text proves stream ≡ batch for the whole
    count→calibrate pipeline, with the iterations still running on the
    |cells| frame, never the corpus."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.curation import ipf_from_cells

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    partials = _fold_to_ledger(
        spark,
        "stream_ipf",
        docs,
        F.col("doc_id") % n_waves,
        lambda b: b.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        ),
        small_state=True,
    )
    cells = (
        partials.groupBy("lang", "source")
        .agg(F.sum("cnt").cast("long").alias("n_docs"))
    )
    return ipf_from_cells(cells)


def stream_golden_record(
    spark: SparkSession, sf_dir: str, n_waves: int = 3, link_dist: int = 1
) -> DataFrame:
    """Incremental entity-resolution fold (r13 verdict task 6): the
    sorted-neighborhood record set arrives as ``n_waves`` micro-batches
    and the linkage state is MAINTAINED, never recomputed corpus-wide —
    the streaming twin the batch-only ER family (fellegi_sunter_linkage,
    golden_record_fusion) was missing.

    Per micro-batch: new records append to a block-partitioned record
    ledger; the sorted-neighborhood adjacency is recomputed ONLY for
    the blocks the batch touched (a block's window-3 adjacency is a
    pure function of that block's full membership — sn_window_pairs)
    and REPLACES those blocks in a block-partitioned pair store via
    dynamic partition overwrite.  Work per batch is O(records in
    touched blocks) — new×settled within touched blocks only, never
    old×old across the store (the update_components O(affected)
    contract).  Replacement, not append, because a later insert BETWEEN
    two records can evict their pair from the window-3 adjacency;
    since membership only grows, a touched block always rewrites at
    least one pair row, so dynamic overwrite never leaves stale state.

    Once every wave lands, each block's last recompute saw its complete
    membership, so the pair store equals the batch adjacency EXACTLY
    and the shared survivorship kernel (golden_records_from_edges)
    inherits the batch oracle verbatim — the gate hash proves
    fold ≡ batch, the same contract as every ledger-fold twin here."""
    from project_bigdata_recsys_spark.functions.dedup import (
        golden_records_from_edges,
        hash32,
        sn_records,
        sn_window_pairs,
    )

    recs = sn_records(spark, sf_dir).withColumn(
        "wk", hash32(F.col("p_name"), "snw:")
    )
    work = scratch_dir(prefix="spark_goldrec_stream_")
    rec_dir = os.path.join(work, "records")
    pair_dir = os.path.join(work, "pairs")

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        batch = batch_df.drop("wk").withColumn(
            "blk", F.split(F.col("p_name"), " ").getItem(0)
        )
        batch.write.mode("append").partitionBy("blk").parquet(rec_dir)
        # bounded: distinct leading tokens of part names (the block
        # vocabulary — dozens, not corpus-sized); used only to
        # partition-prune the ledger read
        touched = [
            r.blk for r in batch.select("blk").distinct().collect()
        ]
        members = spark.read.parquet(rec_dir).filter(
            F.col("blk").isin(touched)
        )
        (
            sn_window_pairs(members.select("p_name"))
            .write.mode("overwrite")
            .partitionBy("blk")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(pair_dir)
        )

    run_staged_replay(
        spark,
        lambda s: s.writeStream.foreachBatch(fold),
        "stream_golden_record",
        frame=recs,
        wave=F.col("wk") % n_waves,
    )
    edges = (
        spark.read.parquet(pair_dir)
        .filter(F.col("dist") <= link_dist)
        .select("name_a", "name_b")
    )
    return golden_records_from_edges(spark, sf_dir, edges)


def stream_bpe_vocab(
    spark: SparkSession, sf_dir: str, n_waves: int = 3, n_merges: int = 8
) -> DataFrame:
    """BPE tokenizer training from a STREAM-maintained vocabulary: the
    corpus arrives as ``n_waves`` micro-batches, each folding O(batch)
    partial word counts into a ledger (the stream_ipf cell-ledger
    pattern — counts merge exactly, so arrival order cannot matter);
    the merge loop (bpe_merges_from_vocab) then trains on the folded
    vocabulary and shares bpe_train_merges' 8-iteration unrolled oracle
    VERBATIM — the gate hash proves stream-fed ≡ scan-fed tokenizer
    training.

    This is the deployment shape for continuous corpora: the crawl
    keeps the vocabulary ledger current; retraining the merge table
    costs only the vocab-sized loop, never a corpus rescan."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.text import (
        bpe_merges_from_vocab,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    partials = _fold_to_ledger(
        spark,
        "stream_bpe_vocab",
        docs,
        F.col("doc_id") % n_waves,
        lambda b: b.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq")),
        small_state=True,
    )
    words = (
        partials.groupBy("w")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )
    return bpe_merges_from_vocab(spark, words, n_merges)


def stream_pr_auc(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """PR-AUC maintained by the stream: orders arrive as ``n_waves``
    micro-batches, each folding its partial (grp, cents) value
    histogram into a ledger — histograms are exactly mergeable (the
    stream_ipf cell contract), so the folded histogram equals the
    one-scan histogram and the shared kernel (pr_auc_from_hist)
    inherits pr_auc_by_group's oracle verbatim.  The deployment shape
    for a continuously-evaluated ranking metric: the stream keeps the
    histogram current; the curve recomputes from histogram-level rows
    (value-domain bounded), never from raw history."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.ml.classifier import pr_auc_from_hist

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    partials = _fold_to_ledger(
        spark,
        "stream_pr_auc",
        orders,
        F.col("o_orderkey") % n_waves,
        lambda b: b.groupBy("grp", "cents").agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.sum("pos").cast("long").alias("tp"),
        ),
        small_state=True,
    )
    hist = (
        partials.groupBy("grp", "cents")
        .agg(
            F.sum("t").cast("long").alias("t"),
            F.sum("tp").cast("long").alias("tp"),
        )
    )
    return pr_auc_from_hist(hist)


def stream_containment(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """Containment detection over a STREAMED corpus: each micro-batch
    shingles its documents (planted half-docs included — the shared
    containment fixture) and APPENDS (doc_id, shingle-array) rows to a
    ledger — no state store, no cross-batch shuffle (the
    stream_winnowing discipline; a document arrives exactly once, so
    the ledger IS the shingle index an incremental containment service
    persists).  The post-replay readout runs the shared df-capped
    kernel; document frequencies are computed on the COMPLETE ledger,
    which matters because a shingle's rarity is only knowable at
    readout (df grows as batches land) — maintaining a "rare" index
    incrementally would have to retract pairs when a shingle crosses
    the cap, so the postings-ledger + readout split is the honest
    contract.  Oracle shared verbatim with containment_pairs."""
    from project_bigdata_recsys_spark.functions.dedup import (
        containment_from_shingles,
        containment_shingles,
    )

    sh = containment_shingles(spark, sf_dir)
    shingles = _fold_to_ledger(
        spark,
        "stream_containment",
        sh,
        F.col("doc_id") % n_waves,
        lambda b: b,
    )
    return containment_from_shingles(shingles)


def stream_containment_index(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """The persisted containment index maintained BY THE STREAM — the
    production form of what stream_containment's raw shingle ledger
    stands in for: each micro-batch is admitted through
    ``update_containment_index`` (O(batch) postings + df-delta + doc
    appends, nothing already indexed re-read), and the readout is
    ``probe_containment_index`` against the resulting on-disk state.
    Because the probe materializes pairs from the CURRENT df-ledger
    fold, a shingle whose document frequency crossed the cap in a LATER
    batch than the pair-supporting one is excluded exactly as the batch
    kernel would — the implicit retraction that makes the incremental
    index honest.  Oracle shared verbatim with containment_pairs."""
    from project_bigdata_recsys_spark.functions.dedup import (
        containment_shingles,
        probe_containment_index,
        update_containment_index,
    )

    sh = containment_shingles(spark, sf_dir)
    index_dir = os.path.join(
        scratch_dir(prefix="spark_containment_idx_stream_"), "index"
    )

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        update_containment_index(spark, batch_df, index_dir)

    run_staged_replay(
        spark,
        lambda s: s.writeStream.foreachBatch(fold),
        "stream_containment_index",
        frame=sh,
        wave=F.col("doc_id") % n_waves,
    )
    return probe_containment_index(spark, index_dir)


def stream_mann_whitney(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """Mann-Whitney U maintained by the stream: users arrive in waves
    (staged on user_id, so each user's outcome row is complete in its
    batch), each micro-batch appends its per-(segment, value) histogram
    partial to a ledger, and the readout merges partials (exact BIGINT
    count sums) before running the shared midrank kernel.  The
    statistic is a pure function of the value histogram, so the batch
    oracle is inherited verbatim (the stream_pr_auc discipline)."""
    from project_bigdata_recsys_spark.operators.experiments import (
        mwu_from_hist,
        mwu_user_frame,
    )

    users = mwu_user_frame(spark, sf_dir)
    def partial_hist(batch_df: DataFrame) -> DataFrame:
        both = batch_df.unionByName(
            batch_df.withColumn("segment", F.lit("__all"))
        )
        return both.groupBy("segment", "x").agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.sum("treat").cast("long").alias("t1"),
        )

    partials = _fold_to_ledger(
        spark,
        "stream_mann_whitney",
        users,
        F.col("user_id") % n_waves,
        partial_hist,
        small_state=True,
    )
    hist = (
        partials.groupBy("segment", "x")
        .agg(
            F.sum("t").cast("long").alias("t"),
            F.sum("t1").cast("long").alias("t1"),
        )
    )
    return mwu_from_hist(hist)


def stream_skew_monitor(
    spark: SparkSession, sf_dir: str, n_waves: int = 3
) -> DataFrame:
    """The salt advisor maintained BY THE STREAM: lineitem rows arrive
    as ``n_waves`` micro-batches, each folding partial per-key counts
    (the planted-skew keying shared with skew_salt_advisor) into a
    ledger; the advisor kernel (salt_plan_from_counts) then reads the
    merged histogram — counts merge exactly, so the recommended plan
    is identical to the one-scan form and the batch oracle is shared
    verbatim.  The deployment shape for continuous skew monitoring:
    the stream keeps the key histogram current; re-planning costs a
    histogram-sized fold, never a fact-table rescan."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.operators.skew import (
        salt_plan_from_counts,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    u = hash_uniform(
        F.col("l_orderkey") * 16 + F.col("l_linenumber"), "skew:"
    )
    keyed = li.select(
        F.col("l_orderkey"),
        F.when(u < 0.25, F.lit(1))
        .when(u < 0.35, F.lit(2))
        .otherwise(F.col("l_suppkey"))
        .cast("long")
        .alias("key"),
    )
    partials = _fold_to_ledger(
        spark,
        "stream_skew_monitor",
        keyed,
        F.col("l_orderkey") % n_waves,
        lambda b: b.groupBy("key").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        small_state=True,
    )
    per_key = (
        partials.groupBy("key")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return salt_plan_from_counts(per_key)
