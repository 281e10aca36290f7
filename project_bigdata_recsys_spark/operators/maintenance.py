"""Table-maintenance operators: compaction and multi-dimensional
clustering (SURVEY.md §2 beyond-reference ops; the reference's only
storage maintenance is keep-last-N artifact pruning, ml/recsys.py M13).

At 100 TB these are the jobs that keep a lakehouse queryable:

  compact_parquet   small-files compaction — streaming sinks and
                    per-batch ingest leave thousands of KB-size files;
                    scans then pay one task + one open per file.  Rewrite
                    to a target rows-per-file in one distributed pass.
  write_zordered    Z-ORDER (bit-interleaved) clustering on two columns —
                    range-partitioning on ONE column gives min/max file
                    skipping on that column only; interleaving the bit
                    representations of both keys clusters files into
                    rectangles of (a, b) space, so parquet footer min/max
                    stats prune files for predicates on EITHER column.

Both are plain parquet rewrites (no Delta/Iceberg dependency) and both
are asserted in tests against pyarrow footer metadata: compaction by
file count + row identity, z-order by measuring per-file min/max spans
of BOTH columns against a single-column-sorted baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_rows_per_file: int = 1_000_000,
) -> DataFrame:
    """Rewrite a parquet directory into ceil(n / target) evenly-sized
    files.  One count (metadata-cheap for parquet) + one round-robin
    repartition + one write; rows are preserved exactly (asserted in
    tests).  Returns a one-row stats frame (n_rows, n_files_target).

    Scale: repartition(n) is a full shuffle of the data being rewritten
    — unavoidable for even sizing, and exactly what a nightly compaction
    job amortizes; the alternative coalesce(n) skips the shuffle but
    inherits whatever skew the small files had."""
    df = spark.read.parquet(src_dir)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(dst_dir)
    return spark.createDataFrame(
        [(n_rows, n_files)], "n_rows long, n_files_target int"
    )


def _zvalue(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into a Z-curve value (a's bit i at position 2i+1, b's at 2i)
    — a pure JVM-side expression, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        z = (
            z.bitwiseOR(F.shiftleft(abit, 2 * i + 1))
            .bitwiseOR(F.shiftleft(bbit, 2 * i))
        )
    return z


def write_zordered(
    df: DataFrame,
    col_a: str,
    col_b: str,
    dst_dir: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered on the Z-curve of (col_a, col_b): compute
    the interleaved z-value, range-partition on it (a distributed range
    shuffle — no global sort), sort within each partition, write one
    file per partition.  Each parquet file then covers a rectangle of
    (a, b) space, so footer min/max stats prune files for predicates on
    EITHER column — range-partitioning on one column alone leaves the
    other column's per-file spans full-width (measured in tests).

    Columns must be non-negative integers that fit in ``bits`` bits
    (pre-scale/bucketize otherwise)."""
    with_z = df.withColumn("__z", _zvalue(F.col(col_a), F.col(col_b), bits))
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def export_shuffled(
    df: DataFrame,
    out_dir: str,
    n_files: int,
    key_col: str,
) -> None:
    """Write ``df`` in ONE deterministic global pseudo-random order —
    the trainer-facing export step: pretraining wants the corpus
    shuffled, reproducibly, without any engine RNG.

    Order = md5(key) lexicographic (uniform, data-derived, identical on
    every rerun and engine).  repartitionByRange(n_files, shuffle_key) +
    sortWithinPartitions gives each output file a DISJOINT, ordered
    md5-range — so reading files in name order replays the one global
    permutation, and re-sharding to a different n_files preserves it.
    No single-partition global sort anywhere: the range exchange is the
    same distributed recipe as with_exact_percent_rank.

    Asserted in tests via pyarrow footers (disjoint ordered ranges),
    row identity, and byte-identical re-runs."""
    keyed = df.withColumn(
        "__shuffle_key", F.md5(F.col(key_col).cast("string"))
    )
    (
        keyed.repartitionByRange(n_files, "__shuffle_key")
        .sortWithinPartitions("__shuffle_key")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def shuffled_export_manifest(
    spark: SparkSession, sf_dir: str, every: int = 25
) -> DataFrame:
    """:func:`export_shuffled`'s ORDER contract as an oracle-checkable
    gate query: the deterministic global md5 permutation of the
    documents table, sampled at every ``every``-th rank (rank, doc_id,
    shuffle key).  The export's file-level properties (disjoint ordered
    ranges, byte-identical reruns) are pyarrow-pinned in tests; this
    query pins the PERMUTATION itself — the same md5-lex order reading
    the exported files back in name order replays.

    Scale: the exact global rank uses the range-shuffle recipe
    (functions.text.with_exact_percent_rank — no single-partition
    window); output is n/``every`` rows, driver-safe."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.text import (
        with_exact_percent_rank,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "shuffle_key", F.md5(F.col("doc_id").cast("string"))
    )
    ranked = with_exact_percent_rank(
        keyed, ["shuffle_key", "doc_id"], "pr", rank_col="rank"
    )
    return (
        ranked.filter((F.col("rank") % every) == 1)
        .select("rank", "doc_id", "shuffle_key")
        .orderBy("rank")
    )


def forget_users_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation plan: given a deletion cohort
    (here the deterministic md5-drawn ~2% of customers), report per
    table how many rows the erasure touches — the manifest a compliance
    job executes with anti-joins + partition rewrites.  Cascades through
    the schema: orders by customer key, lineitem through its order keys,
    events by user id.

    Scale: the cohort broadcast-joins every fact table (a deletion
    cohort is small by construction); lineitem cascades through a
    semi-join on the already-filtered orders keys, so no fact-to-fact
    shuffle.  Output is one row per table — the plan, not the rewrite
    (the rewrite is delete-where = anti-join + dynamic partition
    overwrite, export_shuffled's write machinery)."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    from project_bigdata_recsys_spark.caching import persist_tracked

    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    # persist: the cohort feeds its own count plus the orders and events
    # broadcast joins (3 consumers re-scanned customer), and the doomed
    # order keys feed their count plus the lineitem cascade — both are
    # deletion-cohort-sized (guide §5 persist-on-reuse)
    cohort = persist_tracked(
        customer.filter(hash_uniform(F.col("c_custkey"), "forget:") < 0.02)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    events = load_table(spark, sf_dir, "events").select("user_id")

    doomed_orders = persist_tracked(
        orders.join(
            F.broadcast(cohort), orders.o_custkey == cohort.c_custkey
        ).select("o_orderkey")
    )
    rows = []
    for name, total_df, hit_df in [
        ("customer", customer, cohort),
        ("orders", orders, doomed_orders),
        (
            "lineitem",
            lineitem,
            lineitem.join(doomed_orders, lineitem.l_orderkey == doomed_orders.o_orderkey),
        ),
        (
            "events",
            events,
            events.join(
                F.broadcast(cohort), events.user_id == cohort.c_custkey
            ),
        ),
    ]:
        prof = total_df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        ).crossJoin(
            hit_df.agg(F.count(F.lit(1)).cast("long").alias("n_to_delete"))
        )
        rows.append(prof)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "table_name",
        "n_rows",
        "n_to_delete",
        (F.col("n_rows") - F.col("n_to_delete")).alias("n_after"),
    ).orderBy("table_name")


def _stage_and_swap(
    target_dir: str,
    merged: DataFrame,
    part_col: str,
    touched: list,
) -> set:
    """Shared CoW commit for the two MERGE forms: write the merged rows
    ONCE (partitioned, one shuffle so each partition lands as one file
    set instead of #tasks fragments), then swap the touched partition
    directories with filesystem moves.  This replaces the former
    stage-unpartitioned → re-read → dynamic-partition-overwrite →
    re-read-for-surviving sequence — three extra passes over the merged
    rows that dominated `stream_merge_apply`'s cost (r11 bench: 8.13 s,
    of which the double write was ~half).

    Swap discipline (r12 ADVICE): each staged partition replaces its
    target in one rmtree+move pair, so the data-absent window is one
    partition wide, never all-touched-at-once; fully-deleted touched
    partitions are removed last.  Touched directory names are resolved
    by LISTING the target and unescaping (Spark Hive-escapes special
    partition-value characters and writes __HIVE_DEFAULT_PARTITION__
    for null), never by f-string interpolation of the raw value.  The
    staging dir joins the process-exit purge only AFTER the swap
    completes, so a mid-swap failure — even followed by a graceful
    interpreter exit — leaves the staged copy on disk as the recovery
    source.

    Not atomic (same contract as before): a crash mid-swap leaves some
    partitions moved; recovery is re-running the swap from the
    still-present staged output.  Local-FS moves here; on an object
    store these become per-partition copy+delete (or a real table
    format's commit).  Returns the staged partition directory names."""
    import os
    import shutil
    from urllib.parse import unquote

    from project_bigdata_recsys_spark.caching import (
        scratch_dir_deferred,
        track_scratch,
    )

    staging_root = scratch_dir_deferred(prefix="spark_merge_")
    staging = os.path.join(staging_root, "stage")
    # explicit numPartitions: a bare repartition(col) gets AQE-coalesced
    # to ~2 tasks at this volume, which then write all the partition
    # directories sequentially; hashing into min(#touched, cluster
    # parallelism) tasks keeps each partition in one task (≈1 file per
    # partition) while writing directories in parallel
    n_parts = max(1, min(
        len(touched),
        merged.sparkSession.sparkContext.defaultParallelism,
    ))
    merged.repartition(n_parts, F.col(part_col)).write.mode(
        "overwrite"
    ).partitionBy(part_col).parquet(staging)
    prefix = f"{part_col}="
    hive_null = "__HIVE_DEFAULT_PARTITION__"
    staged = {
        d for d in os.listdir(staging) if d.startswith(prefix)
    }
    # resolve each touched VALUE to its actual escaped directory name by
    # listing the target and inverting Spark's %XX path escaping
    existing = {}
    if os.path.isdir(target_dir):
        for d in os.listdir(target_dir):
            if d.startswith(prefix):
                raw = d[len(prefix):]
                existing[raw if raw == hive_null else unquote(raw)] = d
    # per-partition swap: rmtree+move as one pair per directory
    for d in staged:
        dst = os.path.join(target_dir, d)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        shutil.move(os.path.join(staging, d), dst)
    # touched partitions with no staged replacement were fully deleted
    for part in touched:
        key = hive_null if part is None else str(part)
        dirname = existing.get(key)
        if dirname is not None and dirname not in staged:
            shutil.rmtree(
                os.path.join(target_dir, dirname), ignore_errors=True
            )
    track_scratch(staging_root)  # swap committed — safe to purge at exit
    return staged


def merge_into_partitioned(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    part_col: str,
) -> list:
    """Copy-on-write MERGE (upsert) into a partitioned parquet table
    WITHOUT a table format — the Spark-native answer to SURVEY §7.4.2's
    MERGE gap when Delta/Iceberg isn't on the cluster:

    1. the batch's touched partitions are enumerated (one distinct on
       the batch — bounded by #partitions, the only driver-side list);
    2. ONLY those partitions are read back (partition-pruned scan),
       merged latest-wins with the batch (the cdc_current_view kernel:
       one PK window, batch rows win);
    3. the merged rows are written ONCE, partitioned, to a staging
       directory, and the touched partition directories are swapped in
       (see :func:`_stage_and_swap`) — untouched partitions are never
       read OR rewritten, and the merged rows are never materialized
       twice.

    Single-writer semantics (no commit protocol — concurrent writers
    need a real table format, documented).  Writing to staging prevents
    the read-then-overwrite self-conflict (the merge never reads the
    partitions it is replacing), but the directory swap is NOT atomic:
    a crash mid-swap can leave the touched partitions half-replaced,
    and recovery is re-running the swap from the still-present staged
    output (or the whole merge).  True crash atomicity — like
    multi-writer — needs a real table format's commit protocol.
    Returns the touched partition values.

    Scale: cost is O(touched partitions + batch), never O(table) — the
    same partition-scoped discipline as backfill_plan, now on the write
    path."""
    import os
    from project_bigdata_recsys_spark.caching import scratch_dir

    from project_bigdata_recsys_spark.operators.snapshot import (
        cdc_current_view,
    )

    touched = [
        r[0] for r in updates.select(part_col).distinct().collect()
    ]
    current = spark.read.parquet(target_dir).filter(
        F.col(part_col).isin(touched)
    )
    changelog = current.withColumn("__seq", F.lit(0)).withColumn(
        "__op", F.lit("I")
    ).unionByName(
        updates.withColumn("__seq", F.lit(1)).withColumn("__op", F.lit("I"))
    )
    merged = cdc_current_view(changelog, key_cols, "__seq", "__op")
    _stage_and_swap(target_dir, merged, part_col, touched)
    return touched


def merge_upsert_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for :func:`merge_into_partitioned`: orders written as
    a month-partitioned table, a deterministic upsert batch applied
    (price bumps on the md5-chosen ~5 % cohort via the integer-cents
    bump + ~1 % re-keyed new rows), and the POST-MERGE table profiled
    per status — the oracle replays the upsert in SQL, so the hash
    match proves the merge wrote exactly latest-wins ∪ untouched."""
    import os
    from project_bigdata_recsys_spark.caching import scratch_dir

    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.fixedpoint import sum_fixed
    from project_bigdata_recsys_spark.operators.snapshot import (
        bump_price_cents,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
    )
    target = os.path.join(scratch_dir(prefix="spark_merge_gate_"), "t")
    # explicit task count before the partitioned write, same rationale
    # (and measured win) as the streaming-merge target below: a bare
    # write fans every task across all ~80 month directories
    orders.repartition(
        spark.sparkContext.defaultParallelism, F.col("part")
    ).write.mode("overwrite").partitionBy("part").parquet(target)

    key = F.col("o_orderkey")
    bumped = orders.filter(hash_uniform(key, "merge-upd:") < 0.05).select(
        "o_orderkey",
        "o_orderstatus",
        bump_price_cents(F.col("o_totalprice")).alias("o_totalprice"),
        "part",
    )
    fresh = orders.filter(hash_uniform(key, "merge-new:") < 0.01).select(
        (key + F.lit(1_000_000_000)).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        "part",
    )
    merge_into_partitioned(
        spark, target, bumped.unionByName(fresh), ["o_orderkey"], "part"
    )
    return (
        spark.read.parquet(target)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("part").cast("long").alias("n_parts"),
            F.round(
                sum_fixed(F.round(F.col("o_totalprice") * 100).cast("long"), sf_dir=sf_dir)
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def merge_apply_changelog(
    spark: SparkSession,
    target_dir: str,
    changelog: DataFrame,
    key_cols: list[str],
    part_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> list:
    """Apply a CDC changelog batch (I/U/D ops + sequence) to a
    partitioned parquet table, copy-on-write: the touched partitions'
    current rows enter the latest-wins collapse at sequence −1, so a
    winning update replaces and a winning delete REMOVES the key —
    the full MERGE WHEN MATCHED/NOT MATCHED/DELETE semantics of
    :func:`merge_into_partitioned` (which is the special case of an
    insert-only changelog).

    A partition whose every row is deleted produces no staged output
    directory, so the swap in :func:`_stage_and_swap` simply never
    restores it — the touched directory is removed and nothing moves
    back in (local-FS moves here; per-partition copy+delete on an
    object store).  Returns the touched partition values."""
    import os
    import shutil
    from project_bigdata_recsys_spark.caching import scratch_dir

    from project_bigdata_recsys_spark.operators.snapshot import (
        cdc_current_view,
    )

    touched = [r[0] for r in changelog.select(part_col).distinct().collect()]
    current = (
        spark.read.parquet(target_dir)
        .filter(F.col(part_col).isin(touched))
        .withColumn(seq_col, F.lit(-1))
        .withColumn(op_col, F.lit("I"))
    )
    merged = cdc_current_view(
        current.unionByName(changelog.select(*current.columns)),
        key_cols,
        seq_col,
        op_col,
    )
    _stage_and_swap(target_dir, merged, part_col, touched)
    return touched


def stream_merge_apply_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-lakehouse write path end to end: orders becomes a
    month-partitioned CoW table, the deterministic CDC changelog
    (updates via the integer-cents bump at seq 1, deletes at seq 2 —
    the same md5 cohorts as cdc_orders_profile) REPLAYS AS A STREAM,
    and every micro-batch lands through a ``foreachBatch`` →
    :func:`merge_apply_changelog` sink.  The post-replay table profiled
    per status must equal the batch current-view collapse — so the
    query shares ``cdc_current_view``'s oracle verbatim, proving the
    streamed merge applied exactly latest-wins ∪ deletes."""
    import os
    from project_bigdata_recsys_spark.caching import scratch_dir

    from project_bigdata_recsys_spark.catalog import load_table, table_path
    from project_bigdata_recsys_spark.functions.fixedpoint import sum_fixed
    from project_bigdata_recsys_spark.operators.snapshot import (
        bump_price_cents,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform
    from project_bigdata_recsys_spark.streaming.jobs import run_bounded

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
    )
    target = os.path.join(scratch_dir(prefix="spark_smerge_"), "t")
    # explicit task count: without it one or two tasks write all ~80
    # month directories sequentially (AQE coalesces a bare
    # repartition(col) at this volume) — 3.4 s -> 0.8 s at sf0.1
    orders.repartition(
        spark.sparkContext.defaultParallelism, F.col("part")
    ).write.mode("overwrite").partitionBy("part").parquet(target)

    schema = spark.read.parquet(table_path(sf_dir, "orders")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
    )
    key = F.col("o_orderkey")
    updates = stream.filter(hash_uniform(key, "cdc-upd:") < 0.05).select(
        "o_orderkey",
        "o_orderstatus",
        bump_price_cents(F.col("o_totalprice")).alias("o_totalprice"),
        "part",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    deletes = stream.filter(hash_uniform(key, "cdc-del:") < 0.02).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "part",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    changelog = updates.unionByName(deletes)

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the merge scans the batch twice (touched-partition distinct,
        # then the collapse) — pin it so the file-source micro-batch and
        # its md5 cohort filters aren't recomputed per action
        batch_df.persist()
        try:
            merge_apply_changelog(
                spark, target, batch_df, ["o_orderkey"], "part"
            )
        finally:
            batch_df.unpersist()

    run_bounded(
        spark, changelog.writeStream.foreachBatch(apply_batch), "stream_merge_apply"
    )
    return (
        spark.read.parquet(target)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                sum_fixed(F.round(F.col("o_totalprice") * 100).cast("long"), sf_dir=sf_dir)
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def zorder_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear clustering — the data-layout decision behind
    file skipping at 100 TB, measured instead of asserted.  Rows get a
    4-bit code on each of two dimensions (customer bucket, order-day
    bucket); the LINEAR layout packs files in (x, y) lexicographic
    order, the Z-ORDER layout packs them along the bit-interleaved
    curve.  Each file records per-dimension min/max (exactly the
    parquet/Delta file statistics a scan prunes on); for every point
    probe on each dimension we count the files whose [min, max] spans
    the probe — the scan cost a predicate actually pays under each
    layout.  The punchline the profile demonstrates: linear is perfect
    on its leading dimension and useless on the trailing one; Z-order
    is balanced on both — why multi-dimension workloads Z-order.

    Determinism: pure integer arithmetic end-to-end (bit interleave via
    floor-div/mod — no engine bit ops), file ids are fixed z/lex range
    blocks, probes are the 16 code points per dimension.

    Scale: ONE fact scan to (file, dim) min/max aggregates (the
    groupBy's cardinality is #files × layouts); the probe join is
    (files × 16) on a broadcast probe frame.  Nothing downstream of the
    first aggregation touches fact rows."""
    from project_bigdata_recsys_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 16).cast("long")
    # o_orderdate is TIMESTAMP_NTZ: route through a session-UTC timestamp
    # to reach epoch seconds (the session pins UTC, so this equals
    # DuckDB's epoch() of the naive value)
    y = (
        F.floor(
            F.col("o_orderdate").cast("timestamp").cast("double") / 86400.0
        ).cast("long")
        % 16
    )

    def bit(col: Column, i: int) -> Column:
        return F.floor(col / (2 ** i)).cast("long") % 2

    z = sum(
        [
            (bit(x, i) * (4 ** i) + bit(y, i) * 2 * (4 ** i))
            for i in range(4)
        ],
        F.lit(0),
    )
    coded = orders.select(
        x.alias("__x"),
        y.alias("__y"),
        (z / 4).cast("long").alias("__file_z"),
        ((x * 16 + y) / 4).cast("long").alias("__file_lin"),
    )
    stats = (
        coded.select(
            F.lit("zorder").alias("layout"),
            F.col("__file_z").alias("file_id"),
            "__x",
            "__y",
        )
        .unionByName(
            coded.select(
                F.lit("linear").alias("layout"),
                F.col("__file_lin").alias("file_id"),
                "__x",
                "__y",
            )
        )
        .groupBy("layout", "file_id")
        .agg(
            F.min("__x").alias("min_x"),
            F.max("__x").alias("max_x"),
            F.min("__y").alias("min_y"),
            F.max("__y").alias("max_y"),
        )
    )
    # persist: stats feeds both probe scans AND the per-layout file
    # count — unmaterialized, each consumer re-ran the two-layout union
    # over the fact scan (6 orders scans; guide §5).  #files × layouts
    # rows.
    from project_bigdata_recsys_spark.caching import persist_tracked

    stats = persist_tracked(stats)
    probes = spark.range(16).select(F.col("id").cast("long").alias("c"))
    x_scan = (
        stats.crossJoin(F.broadcast(probes))
        .filter((F.col("min_x") <= F.col("c")) & (F.col("c") <= F.col("max_x")))
        .groupBy("layout")
        .agg(
            (F.count(F.lit(1)) / 16.0).alias("avg_files"),
        )
        .select("layout", F.lit("x").alias("probe_dim"), "avg_files")
    )
    y_scan = (
        stats.crossJoin(F.broadcast(probes))
        .filter((F.col("min_y") <= F.col("c")) & (F.col("c") <= F.col("max_y")))
        .groupBy("layout")
        .agg((F.count(F.lit(1)) / 16.0).alias("avg_files"))
        .select("layout", F.lit("y").alias("probe_dim"), "avg_files")
    )
    n_files = stats.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    return (
        x_scan.unionByName(y_scan)
        .join(F.broadcast(n_files), "layout")
        .select(
            "layout",
            "probe_dim",
            "n_files",
            F.round(F.col("avg_files"), 4).alias("avg_files_scanned"),
        )
        .orderBy("layout", "probe_dim")
    )


def compaction_plan(
    spark: SparkSession, sf_dir: str, capacity: int = 64
) -> DataFrame:
    """Small-files compaction planning — the nightly lakehouse
    maintenance decision (Delta OPTIMIZE / Iceberg rewrite_data_files)
    expressed as a query: within each partition (order month), pack the
    per-day row groups into merge bins of ~``capacity`` rows using the
    deterministic sorted-cumulative rule (files descending by size, bin
    = cum-before ÷ capacity — every file stays whole, bins fill to the
    target), and emit the bins that actually merge ≥ 2 files: the
    rewrite manifest.

    This is the PLANNER twin of :func:`compact_parquet` (which rewrites
    physical files): the plan is inspectable, diffable, and cheap to
    recompute — exactly what an ops review wants before a rewrite
    touches 100 TB.

    Scale: one fact aggregation to (month, day) sizes; the packing
    window partitions by month (≤ 31 rows per partition); output is
    one row per merge bin."""
    from project_bigdata_recsys_spark.catalog import load_table
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("f_rows"))
    w = Window.partitionBy("month").orderBy(F.desc("f_rows"), "day")
    binned = files.withColumn(
        "__cum_before",
        F.coalesce(
            F.sum("f_rows").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "bin_id", F.floor(F.col("__cum_before") / capacity).cast("long")
    )
    return (
        binned.groupBy("month", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("f_rows").cast("long").alias("bin_rows"),
        )
        .filter(F.col("n_files") >= 2)
        .orderBy("month", "bin_id")
    )


def vacuum_retention_plan(
    spark: SparkSession, sf_dir: str, keep_last: int = 3
) -> DataFrame:
    """Snapshot VACUUM planning — the retention decision every
    versioned-table format runs before physically deleting files
    (Delta VACUUM / Iceberg expire_snapshots), expressed as an
    inspectable query (the compaction_plan discipline: plan first,
    touch 100 TB second).

    Model: table versions are the order months in chronological order
    (dense rank 1..V); each (month, day) row group is a file ADDED at
    its month's version, and an md5 cohort (~40%, salt ``vac:``) is
    logically REMOVED 1-3 versions later (a rewrite superseded it) —
    removed files stay on disk for time travel until vacuumed.  With a
    keep-last-``keep_last`` policy the retention floor is V−keep_last+1:
    a file is DELETABLE iff its removal version ≤ the floor (no
    retained snapshot can reference it); everything else is pinned by
    time travel even if already dead at HEAD.

    Output per version: files added, files removed, files deletable
    now, and the reclaimable row count — the review artifact an ops
    runbook diffs before running the destructive pass.

    Scale: one fact aggregation to (month, day) files; the version
    rank is a window over the ≤#months frame (audited bounded global
    window); everything after is file-manifest-sized."""
    from pyspark.sql import Window

    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.dedup import hash32

    from project_bigdata_recsys_spark.caching import persist_tracked

    orders = load_table(spark, sf_dir, "orders")
    # persist: the ≤#days file manifest feeds the month spine AND the
    # version-tagged manifest, which itself feeds the added/removed
    # rollups — unmaterialized, each consumer re-ran the fact
    # aggregation (7 orders scans; guide §5)
    files = persist_tracked(
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        ).agg(F.count(F.lit(1)).cast("long").alias("f_rows"))
    )
    months = (
        files.select("month")
        .distinct()
        .withColumn(
            "v", F.dense_rank().over(Window.orderBy("month")).cast("long")
        )
    )
    vmax = months.agg(F.max("v").alias("vmax"))
    h = hash32(F.col("day"), "vac:")
    # persist: manifest feeds both the added and removed rollups plus
    # the deletable arithmetic (≤#days rows)
    manifest = persist_tracked(
        files.join(months, "month")
        .crossJoin(F.broadcast(vmax))
        .select(
            "day",
            "f_rows",
            F.col("v").alias("added_v"),
            F.when(
                (h % 10 < 4) & (F.col("v") + 1 + (h % 3) <= F.col("vmax")),
                F.col("v") + 1 + (h % 3),
            )
            .cast("long")
            .alias("removed_v"),
            (F.col("vmax") - F.lit(keep_last) + 1).alias("floor_v"),
        )
    )
    added = manifest.groupBy(F.col("added_v").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_added")
    )
    removed = (
        manifest.filter(F.col("removed_v").isNotNull())
        .groupBy(F.col("removed_v").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_removed"),
            F.sum(
                F.when(F.col("removed_v") <= F.col("floor_v"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_deletable"),
            F.sum(
                F.when(
                    F.col("removed_v") <= F.col("floor_v"), F.col("f_rows")
                ).otherwise(0)
            )
            .cast("long")
            .alias("reclaim_rows"),
        )
    )
    return (
        months.select("v")
        .join(added, "v", "left")
        .join(removed, "v", "left")
        .select(
            "v",
            F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_deletable", F.lit(0))
            .cast("long")
            .alias("n_deletable"),
            F.coalesce("reclaim_rows", F.lit(0))
            .cast("long")
            .alias("reclaim_rows"),
        )
        .orderBy("v")
    )


#: Exact in-memory payload model per table: 8 bytes per fixed-width
#: column (bigint/double/timestamp; int counted 4) plus the exact
#: string bytes — the unambiguous cross-engine size proxy the advisor
#: sizes partitions with (parquet-on-disk sizes compress unpredictably
#: and differ per writer; the UNCOMPRESSED row payload is what a
#: shuffle partition actually holds in executor memory).
_ADVISOR_TABLES: dict[str, tuple[int, tuple[str, ...]]] = {
    "lineitem": (8 * 9 + 4, ("l_returnflag", "l_linestatus")),
    "orders": (8 * 4, ("o_orderstatus", "o_orderpriority")),
    "customer": (8 * 2 + 4, ("c_name", "c_mktsegment")),
    "events": (8 * 4, ("event_type", "props")),
    "documents": (8 * 2, ("text", "lang", "source")),
}


def shuffle_partition_advisor(
    spark: SparkSession,
    sf_dir: str,
    scan_target_bytes: int = 128 * 1024 * 1024,
    shuffle_target_bytes: int = 64 * 1024 * 1024,
    min_parts: int = 32,
    max_parts: int = 2000,
) -> DataFrame:
    """Partition-sizing advisor — the pre-flight every 100 TB job should
    run instead of inheriting ``spark.sql.shuffle.partitions=200``: from
    each table's EXACT uncompressed payload bytes (fixed-width columns
    at engine width + exact string lengths — one scan per table),
    recommend (a) the file-scan partition count at a 128 MiB target
    (what ``spark.sql.files.maxPartitionBytes`` is tuned against) and
    (b) the shuffle partition count at a 64 MiB post-shuffle target,
    clamped to [min_parts, max_parts] — the sizing rule the session
    config and docs/SCALE.md state in prose, made computable and
    diffable across corpus growth.

    Every number is exact integer arithmetic (ceil via (a+b−1) div b),
    so the advisor itself is oracle-gated like any operator — a sizing
    tool you cannot trust to reproduce is not a tool."""
    from project_bigdata_recsys_spark.catalog import load_table

    outs = []
    for tbl, (fixed, strs) in _ADVISOR_TABLES.items():
        df = load_table(spark, sf_dir, tbl)
        agg = df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (
                F.count(F.lit(1)) * F.lit(fixed)
                + sum(
                    (F.sum(F.length(F.col(c))) for c in strs),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("est_bytes"),
        )
        outs.append(agg.select(F.lit(tbl).alias("table_name"), "*"))
    stats = outs[0]
    for o in outs[1:]:
        stats = stats.unionByName(o)
    ceil_scan = F.expr(
        f"CAST((est_bytes + {scan_target_bytes} - 1)"
        f" div {scan_target_bytes} AS BIGINT)"
    )
    ceil_shuf = F.expr(
        f"CAST((est_bytes + {shuffle_target_bytes} - 1)"
        f" div {shuffle_target_bytes} AS BIGINT)"
    )
    return stats.select(
        "table_name",
        "n_rows",
        "est_bytes",
        F.greatest(ceil_scan, F.lit(1).cast("long")).alias("scan_partitions"),
        F.least(
            F.greatest(ceil_shuf, F.lit(min_parts).cast("long")),
            F.lit(max_parts).cast("long"),
        ).alias("shuffle_partitions"),
    ).orderBy("table_name")


#: Column-mapping manifest for schema_evolution_read — the read-side
#: metadata Iceberg/Delta keep per snapshot (Iceberg "name mapping" /
#: Delta column-mapping mode): logical column -> (physical name in that
#: snapshot or None if absent, logical type, backfill default).  The
#: three drift classes every production table accumulates are all here:
#: RENAME (okey/o_orderkey -> orderkey, status/order_status -> status),
#: TYPE WIDENING (cust_i32 int32 -> custkey bigint), and ADDED COLUMN
#: (priority_rank exists only in v2; v1 reads backfill the default).
_SCHEMA_EVO_MANIFEST: dict[int, list[tuple[str, str | None, str, object]]] = {
    1: [
        ("orderkey", "okey", "bigint", None),
        ("custkey", "cust_i32", "bigint", None),
        ("status", "status", "string", None),
        ("total_cents", "price_cents", "bigint", None),
        ("priority_rank", None, "int", -1),
    ],
    2: [
        ("orderkey", "o_orderkey", "bigint", None),
        ("custkey", "o_custkey", "bigint", None),
        ("status", "order_status", "string", None),
        ("total_cents", "total_cents", "bigint", None),
        ("priority_rank", "priority_rank", "int", -1),
    ],
}


def _resolve_snapshot(df: DataFrame, spec) -> DataFrame:
    """Apply one snapshot's column mapping at READ time: project every
    logical column from its physical name (cast to the logical type) or
    from the backfill default when the snapshot predates the column.
    No data is rewritten — this is the pure-metadata resolution
    Iceberg/Delta perform on every scan of an evolved table."""
    return df.select(
        *[
            (
                F.col(physical).cast(cast_t)
                if physical is not None and physical in df.columns
                else F.lit(default).cast(cast_t)
            ).alias(logical)
            for logical, physical, cast_t, default in spec
        ]
    )


def schema_evolution_read(
    spark: SparkSession, sf_dir: str, split_date: str = "1998-01-01"
) -> DataFrame:
    """Manifest-driven schema-evolution read (VERDICT r14 task 5): two
    physical parquet snapshots whose schemas drifted — renamed columns,
    an int32->int64 widening, a column added mid-history — resolved to
    ONE logical schema at read time via the column-mapping manifest,
    with no data rewrite.  This is the read-side piece the lakehouse
    family (MOR view, CoW MERGE, CDC, time travel, vacuum) was missing:
    what Iceberg name-mapping / Delta column-mapping do on every scan.

    Model: orders before ``split_date`` were written by the v1 pipeline
    (physical: okey, cust_i32 INT, status, price_cents BIGINT); orders
    at/after it by the v2 pipeline after a schema migration (physical:
    o_orderkey, o_custkey BIGINT, order_status, total_cents, plus the
    new priority_rank INT column).  Both snapshots are REALLY written
    to scratch parquet and read back independently — the resolution
    runs against physical files, not an in-memory fiction.  The gated
    output is the per-(version, status) profile of the unified logical
    table, with backfilled-default counts proving the added-column path.

    Scale: each snapshot is one filtered projection write + one scan;
    resolution is a zero-shuffle projection (casts/renames/literals),
    and the profile is a map-side-combinable aggregation to <=6 groups.
    Money is integer cents end-to-end (the sql_in_subquery lesson).
    """
    from project_bigdata_recsys_spark.caching import scratch_dir
    from project_bigdata_recsys_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit(split_date).cast("timestamp")
    v1_phys = orders.filter(F.col("o_orderdate") < cut).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").cast("int").alias("cust_i32"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    v2_phys = orders.filter(F.col("o_orderdate") >= cut).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").alias("order_status"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("total_cents"),
        F.substring("o_orderpriority", 1, 1)
        .cast("int")
        .alias("priority_rank"),
    )
    base = scratch_dir("schemaevo")
    v1_phys.write.mode("overwrite").parquet(f"{base}/v1")
    v2_phys.write.mode("overwrite").parquet(f"{base}/v2")

    unified = None
    for version, spec in _SCHEMA_EVO_MANIFEST.items():
        snap = _resolve_snapshot(
            spark.read.parquet(f"{base}/v{version}"), spec
        ).withColumn("version", F.lit(version).cast("int"))
        unified = snap if unified is None else unified.unionByName(snap)
    return (
        unified.groupBy("version", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("total_cents").cast("long").alias("sum_cents"),
            F.sum(F.when(F.col("priority_rank") == -1, 1).otherwise(0))
            .cast("long")
            .alias("n_backfilled"),
            F.sum(
                F.when(
                    F.col("priority_rank") != -1, F.col("priority_rank")
                ).otherwise(0)
            )
            .cast("long")
            .alias("sum_rank"),
        )
        .orderBy("version", "status")
    )


def partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution read (the layout twin of
    :func:`schema_evolution_read`): Iceberg evolves a table's PARTITION
    spec without rewriting history — files written under the old spec
    keep their layout, new files use the new one, and every read plans
    pruning PER SPEC.  Model: early events (day ≤ data-derived
    midpoint) were written partitioned by month (spec 1); later events
    by (month, event_type) (spec 2 — the operator realized queries
    filter on event_type and evolved the spec).  Both snapshots are
    REALLY written to scratch with those layouts; the read applies the
    same predicate (event_type = 'purchase') to both sides — a
    DIRECTORY PRUNE on spec 2 (PartitionFilters, asserted in tests), a
    row-level filter on spec 1 (the column is data there) — and the
    gated output is the per-(spec, month) purchase profile, proving
    the two pruning regimes return consistent data.

    Scale: one event scan per snapshot write, then each read side scans
    only its matching files (spec 2 reads |purchase partitions| of the
    data); the profile is a map-side-combinable fold to ≤ #months × 2
    rows.  Money is exact micros end-to-end."""
    from project_bigdata_recsys_spark.caching import scratch_dir
    from project_bigdata_recsys_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.floor(F.col("ts").cast("double") / 86400.0)
        .cast("long")
        .alias("day"),
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("micros"),
    )
    # NOT persisted: ev is consumed three times (midpoint aggregate +
    # both spec writes), but it is a narrow projection of a columnar
    # scan — measured at sf0.1, caching it costs MORE than the repeated
    # scans (3.2 s persisted vs 1.6 s rescanned; guide §5 caveat:
    # don't cache cheap-to-recompute scans)
    mid = ev.agg(
        F.floor((F.min("day") + F.max("day")) / 2.0).cast("long").alias("m")
    )
    tagged = ev.crossJoin(F.broadcast(mid))
    base = scratch_dir("partevo")
    # cluster on the partition key(s) before each partitioned write:
    # unclustered, every map task emits a file per directory it sees
    # (tasks × dirs small files; guide §6) — the explicit task count
    # keeps the directories written in parallel (merge-family rationale)
    par = spark.sparkContext.defaultParallelism
    tagged.filter(F.col("day") <= F.col("m")).select(
        "month", "event_type", "micros"
    ).repartition(par, F.col("month")).write.mode("overwrite").partitionBy(
        "month"
    ).parquet(f"{base}/spec1")
    tagged.filter(F.col("day") > F.col("m")).select(
        "month", "event_type", "micros"
    ).repartition(par, F.col("month"), F.col("event_type")).write.mode(
        "overwrite"
    ).partitionBy("month", "event_type").parquet(f"{base}/spec2")

    def profile(df: DataFrame, spec: int) -> DataFrame:
        return (
            df.filter(F.col("event_type") == "purchase")
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_purchases"),
                F.sum("micros").cast("long").alias("sum_micros"),
            )
            .select(
                F.lit(spec).cast("int").alias("spec"),
                "month",
                "n_purchases",
                "sum_micros",
            )
        )

    return (
        profile(spark.read.parquet(f"{base}/spec1"), 1)
        .unionByName(profile(spark.read.parquet(f"{base}/spec2"), 2))
        .orderBy("spec", "month")
    )
