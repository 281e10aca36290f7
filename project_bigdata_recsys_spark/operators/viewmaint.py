"""Merge-on-read maintenance of a denormalized JOIN view.

The repo's existing lakehouse write paths are copy-on-write: every
changelog batch rewrites its touched partitions through
:func:`~project_bigdata_recsys_spark.operators.maintenance.merge_into_partitioned`
(writes pay, reads are plain scans).  This module adds the OTHER half of
the lakehouse trade-off for the hardest maintenance case — a
materialized fact⋈dim join view under both fact and dim deltas:

  merge-on-read   deltas land as O(batch) appends to two tiny LEDGERS
                  (a fact ledger keyed by the view PK, a dim ledger
                  keyed by the dim PK); the read path resolves
                  base ∪ ledgers with BROADCAST joins only — the base
                  is never shuffled and never rewritten.
  reconcile       when the ledgers have grown, fold them into the base
                  once, copy-on-write, partition-pruned (reuses
                  ``merge_into_partitioned``), and clear the ledgers.
                  Resolution afterwards degenerates to a plain scan.

Why this matters at 100 TB: a dimension change (a customer switches
market segment) invalidates denormalized fact rows scattered across
EVERY fact partition.  Re-joining the full fact table — or CoW-rewriting
every touched partition — is an O(table) job for an O(dim-delta) change.
Merge-on-read makes the write O(delta) and charges readers one broadcast
join until the next reconcile, exactly the Hudi/Iceberg MOR contract,
built here from plain parquet + Spark primitives.

Resolution plan shape (asserted in tests):
  base LEFT ANTI broadcast(fact-ledger keys)     — replaced rows drop out
  ∪ fact-ledger latest-wins ⋈ broadcast(dim slice bounded by ledger keys)
  then segment = coalesce(broadcast(dim-ledger) override, stored segment)
No exchange touches the base; the only shuffles are ledger-sized windows
and the final map-side-partial aggregation.

Reference parity: the reference mutates its denormalized training rows
in place in Postgres (scripts/modify_training_data.py:60-101) and
refreshes dim-derived columns by re-running the enrichment join
(core-logic/train_module.py ETL prologue) — an O(table) pattern this
module replaces with O(delta) ledger appends.

Deltas here are the standing md5-cohort recipes (engine-independent,
oracle-replayable): ``jv-dim`` < 0.02 moves a customer's segment,
``jv-upd`` < 0.03 bumps an order's price in integer cents,
``jv-new`` < 0.01 inserts a re-keyed order (+1e9, the merge family's
planting offset).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FACT_LEDGER_SCHEMA = (
    "o_orderkey long, o_custkey long, o_totalprice double,"
    " part string, seq int"
)
DIM_LEDGER_SCHEMA = "c_custkey long, new_segment string, dseq int"

#: planted insert keys live at +1e9 (merge_upsert_profile precedent);
#: enforced at setup time against the actual base key range.
INSERT_KEY_OFFSET = 1_000_000_000


def _read_ledger(
    spark: SparkSession, ledger_dir: str, schema: str
) -> DataFrame | None:
    """Read a ledger directory; None when it holds no parquet part files
    (cleared by reconcile, or never written)."""
    if not os.path.isdir(ledger_dir):
        return None
    if not any(f.endswith(".parquet") for f in os.listdir(ledger_dir)):
        return None
    return spark.read.schema(schema).parquet(ledger_dir)


def _latest_wins(df: DataFrame, key_cols: list[str], seq_col: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", seq_col)
    )


def _enrich_fact_rows(
    fact_rows: DataFrame, customer: DataFrame, spark: SparkSession
) -> DataFrame:
    """Fill ``segment`` for unenriched ledger rows from the dim table,
    touching only the slice of the dim bounded by the ledger's customer
    keys: a broadcast semi-join carves the slice (the dim scan is the
    only full pass, and dims are the small side by definition), then the
    slice — ledger-bounded, tiny — broadcasts into the ledger join."""
    keys = fact_rows.select("o_custkey").distinct()
    dim_slice = customer.select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    ).join(F.broadcast(keys), F.col("c_custkey") == F.col("o_custkey"), "left_semi")
    return fact_rows.join(
        F.broadcast(dim_slice),
        fact_rows["o_custkey"] == dim_slice["c_custkey"],
        "left",
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice", "part", "segment"
    )


def resolve_join_view(
    spark: SparkSession,
    base_dir: str,
    fact_ledger_dir: str,
    dim_ledger_dir: str,
    customer: DataFrame,
    as_of_seq: int | None = None,
) -> DataFrame:
    """Merge-on-read resolution of the view: base rows not superseded by
    the fact ledger, plus the ledger's latest-wins rows enriched from
    the dim, with dim-ledger segment overrides applied last.  Every join
    the base participates in is a BROADCAST of ledger-bounded data — the
    base is one scan, zero exchanges (asserted in tests).

    ``as_of_seq`` bounds the replay to ledger rows with sequence number
    <= the bound (snapshot time travel); None resolves HEAD.  The
    filter rides the ledger scans — plan shape is unchanged."""
    base = spark.read.parquet(base_dir)
    lf = _read_ledger(spark, fact_ledger_dir, FACT_LEDGER_SCHEMA)
    if lf is not None and as_of_seq is not None:
        lf = lf.filter(F.col("seq") <= as_of_seq)
    if lf is not None:
        lf_current = _latest_wins(lf, ["o_orderkey"], "seq")
        resolved = base.join(
            F.broadcast(lf_current.select("o_orderkey")),
            "o_orderkey",
            "left_anti",
        ).unionByName(_enrich_fact_rows(lf_current, customer, spark))
    else:
        resolved = base
    ld = _read_ledger(spark, dim_ledger_dir, DIM_LEDGER_SCHEMA)
    if ld is not None and as_of_seq is not None:
        ld = ld.filter(F.col("dseq") <= as_of_seq)
    if ld is not None:
        ld_current = _latest_wins(ld, ["c_custkey"], "dseq")
        resolved = resolved.join(
            F.broadcast(ld_current),
            resolved["o_custkey"] == ld_current["c_custkey"],
            "left",
        ).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "part",
            F.coalesce("new_segment", "segment").alias("segment"),
        )
    return resolved


def reconcile_join_view(
    spark: SparkSession,
    base_dir: str,
    fact_ledger_dir: str,
    dim_ledger_dir: str,
    customer: DataFrame,
) -> None:
    """Fold both ledgers into the base copy-on-write and clear them.

    The fold batch is bounded by the deltas: fact-ledger rows enriched
    from the dim slice, plus the base rows whose customer appears in the
    dim ledger (found with a broadcast semi-join — one column-pruned
    base scan, no shuffle; bucketing or Z-ordering the base on
    o_custkey would turn that scan into a pruned one, see
    ``write_zordered``).  Fact rows win over dim-propagation rows for
    the same key (seq 2 > 1), and the write path is the existing
    partition-pruned CoW merge — cost O(touched partitions + batch),
    never O(table).  Idempotent: an immediately repeated reconcile finds
    empty ledgers and rewrites nothing (asserted in tests)."""
    import shutil

    from project_bigdata_recsys_spark.operators.maintenance import (
        merge_into_partitioned,
    )

    base = spark.read.parquet(base_dir)
    lf = _read_ledger(spark, fact_ledger_dir, FACT_LEDGER_SCHEMA)
    ld = _read_ledger(spark, dim_ledger_dir, DIM_LEDGER_SCHEMA)
    parts: list[DataFrame] = []
    if ld is not None:
        ld_current = _latest_wins(ld, ["c_custkey"], "dseq")
        affected = base.join(
            F.broadcast(ld_current),
            base["o_custkey"] == ld_current["c_custkey"],
            "inner",
        ).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "part",
            F.col("new_segment").alias("segment"),
            F.lit(1).alias("__fold_seq"),
        )
        parts.append(affected)
    if lf is not None:
        lf_current = _latest_wins(lf, ["o_orderkey"], "seq")
        enriched = _enrich_fact_rows(lf_current, customer, spark)
        if ld is not None:
            ld_current = _latest_wins(ld, ["c_custkey"], "dseq")
            enriched = enriched.join(
                F.broadcast(ld_current),
                enriched["o_custkey"] == ld_current["c_custkey"],
                "left",
            ).select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "part",
                F.coalesce("new_segment", "segment").alias("segment"),
            )
        parts.append(enriched.withColumn("__fold_seq", F.lit(2)))
    if not parts:
        return
    batch = parts[0]
    for p in parts[1:]:
        batch = batch.unionByName(p)
    batch = _latest_wins(batch, ["o_orderkey"], "__fold_seq")
    merge_into_partitioned(spark, base_dir, batch, ["o_orderkey"], "part")
    for d in (fact_ledger_dir, dim_ledger_dir):
        if os.path.isdir(d):
            shutil.rmtree(d)
            os.makedirs(d)


# ---------------------------------------------------------------------------
# deterministic gate fixtures


def _orders_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_bigdata_recsys_spark.catalog import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
    )


def fact_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-cohort fact changes in the ledger schema: ~3% price bumps
    (integer-cents, seq 1) and ~1% re-keyed inserts (seq 1)."""
    from project_bigdata_recsys_spark.operators.snapshot import (
        bump_price_cents,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    orders = _orders_projected(spark, sf_dir)
    key = F.col("o_orderkey")
    updates = orders.filter(hash_uniform(key, "jv-upd:") < 0.03).select(
        "o_orderkey",
        "o_custkey",
        bump_price_cents(F.col("o_totalprice")).alias("o_totalprice"),
        "part",
        F.lit(1).alias("seq"),
    )
    inserts = orders.filter(hash_uniform(key, "jv-new:") < 0.01).select(
        (key + F.lit(INSERT_KEY_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        "part",
        F.lit(1).alias("seq"),
    )
    return updates.unionByName(inserts)


def dim_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-cohort dim change: ~2% of customers move to segment 'MOVED'."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(
        hash_uniform(F.col("c_custkey"), "jv-dim:") < 0.02
    ).select(
        "c_custkey",
        F.lit("MOVED").alias("new_segment"),
        F.lit(1).alias("dseq"),
    )


def setup_join_view(
    spark: SparkSession, sf_dir: str, write_fact_ledger: bool = True
) -> dict[str, str]:
    """Materialize the T0 view (orders ⋈ customer segment, partitioned
    by order month — the one O(table) job in the lifecycle) and stage
    the delta ledgers.  Returns the directory map.

    The insert planting offset is enforced against the actual base key
    range at build time (same contract as the dedup family's
    ``planted_id`` guard): a base key at or above +1e9 would silently
    collide with a planted insert."""
    from project_bigdata_recsys_spark.caching import scratch_dir
    from project_bigdata_recsys_spark.catalog import load_table

    root = scratch_dir(prefix="spark_jv_")
    dirs = {
        "base": os.path.join(root, "base"),
        "fact_ledger": os.path.join(root, "lf"),
        "dim_ledger": os.path.join(root, "ld"),
    }
    customer = load_table(spark, sf_dir, "customer")
    orders = _orders_projected(spark, sf_dir).withColumn(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") >= INSERT_KEY_OFFSET,
            F.raise_error(
                F.concat(
                    F.lit("join-view insert offset collision: base key "),
                    F.col("o_orderkey").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("o_orderkey")),
    )
    base = orders.join(
        customer.select(
            "c_custkey", F.col("c_mktsegment").alias("segment")
        ),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select("o_orderkey", "o_custkey", "o_totalprice", "part", "segment")
    # explicit task count, same rationale as the merge family: an
    # AQE-coalesced bare repartition(col) writes ~80 month directories
    # from 1-2 tasks sequentially
    base.repartition(
        spark.sparkContext.defaultParallelism, F.col("part")
    ).write.mode("overwrite").partitionBy("part").parquet(dirs["base"])
    if write_fact_ledger:
        fact_delta(spark, sf_dir).write.mode("overwrite").parquet(
            dirs["fact_ledger"]
        )
    dim_delta(spark, sf_dir).write.mode("overwrite").parquet(
        dirs["dim_ledger"]
    )
    return dirs


def profile_join_view(resolved: DataFrame, sf_dir: str) -> DataFrame:
    """Per-segment profile of the resolved view — the gate projection.
    Money is integer cents end-to-end (sum_fixed), never a rounded
    double sum (the sql_in_subquery lesson, VERDICT r12 #1)."""
    from project_bigdata_recsys_spark.functions.fixedpoint import sum_fixed

    return (
        resolved.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
            F.round(
                sum_fixed(
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                    sf_dir=sf_dir,
                )
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .orderBy("segment")
    )


def join_view_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: materialize the view, land both deltas as ledger
    appends (O(delta) writes, base untouched), resolve merge-on-read
    and profile per segment.  The oracle recomputes orders′ ⋈ dim′ from
    scratch, so a hash match proves the broadcast-only resolution is
    exactly the fully-applied join."""
    from project_bigdata_recsys_spark.catalog import load_table

    dirs = setup_join_view(spark, sf_dir)
    resolved = resolve_join_view(
        spark,
        dirs["base"],
        dirs["fact_ledger"],
        dirs["dim_ledger"],
        load_table(spark, sf_dir, "customer"),
    )
    return profile_join_view(resolved, sf_dir)


def join_view_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: same fixture, but the ledgers are FOLDED into the
    base (partition-pruned CoW) and cleared before reading.  Shares
    join_view_mor's oracle verbatim — the hash match proves
    reconcile-then-scan ≡ merge-on-read ≡ full recompute."""
    from project_bigdata_recsys_spark.catalog import load_table

    dirs = setup_join_view(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    reconcile_join_view(
        spark,
        dirs["base"],
        dirs["fact_ledger"],
        dirs["dim_ledger"],
        customer,
    )
    resolved = resolve_join_view(
        spark,
        dirs["base"],
        dirs["fact_ledger"],
        dirs["dim_ledger"],
        customer,
    )
    return profile_join_view(resolved, sf_dir)


def stream_join_view_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin: the fact delta arrives as THREE md5-tercile
    micro-batches (maxFilesPerTrigger=1 over a staged replay directory)
    and every batch lands as an O(batch) parquet APPEND to the fact
    ledger — the merge-on-read counterpart to stream_merge_apply's CoW
    sink (writes pay there; reads pay here until reconcile).  The final
    resolved profile shares join_view_mor's oracle verbatim: identical
    end state whether the delta landed in one batch or three."""
    from project_bigdata_recsys_spark.caching import scratch_dir
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform
    from project_bigdata_recsys_spark.streaming.jobs import run_bounded

    dirs = setup_join_view(spark, sf_dir, write_fact_ledger=False)
    os.makedirs(dirs["fact_ledger"], exist_ok=True)

    replay = os.path.join(scratch_dir(prefix="spark_jv_replay_"), "files")
    delta = fact_delta(spark, sf_dir).persist()
    try:
        u = hash_uniform(F.col("o_orderkey"), "jv-batch:")
        for i, (lo, hi) in enumerate([(0.0, 1 / 3), (1 / 3, 2 / 3), (2 / 3, 1.01)]):
            delta.filter((u >= lo) & (u < hi)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(replay, f"b{i}"))
    finally:
        delta.unpersist()

    stream = (
        spark.readStream.schema(FACT_LEDGER_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(replay)
    )

    def append_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(dirs["fact_ledger"])

    # min_commits: maxFilesPerTrigger must actually have split the three
    # replay files into three ledger appends
    run_bounded(
        spark,
        stream.writeStream.foreachBatch(append_batch),
        "stream_join_view_mor",
        min_commits=3,
    )
    resolved = resolve_join_view(
        spark,
        dirs["base"],
        dirs["fact_ledger"],
        dirs["dim_ledger"],
        load_table(spark, sf_dir, "customer"),
    )
    return profile_join_view(resolved, sf_dir)


def fact_delta_epoch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SECOND generation of fact changes (seq 2): ~2% price bumps on
    an independent md5 cohort (``jv-upd2``), naturally overlapping the
    epoch-1 cohort so latest-wins resolution at HEAD differs from the
    as-of-1 state on the overlap — the rows a broken time-travel read
    would get wrong."""
    from project_bigdata_recsys_spark.operators.snapshot import (
        bump_price_cents,
    )
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    orders = _orders_projected(spark, sf_dir)
    return orders.filter(
        hash_uniform(F.col("o_orderkey"), "jv-upd2:") < 0.02
    ).select(
        "o_orderkey",
        "o_custkey",
        bump_price_cents(bump_price_cents(F.col("o_totalprice"))).alias(
            "o_totalprice"
        ),
        "part",
        F.lit(2).alias("seq"),
    )


def dim_delta_epoch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-generation dim change (dseq 2): ~1% of customers move to
    segment 'MOVED2' (cohort ``jv-dim2``), partially overlapping the
    epoch-1 'MOVED' cohort."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(
        hash_uniform(F.col("c_custkey"), "jv-dim2:") < 0.01
    ).select(
        "c_custkey",
        F.lit("MOVED2").alias("new_segment"),
        F.lit(2).alias("dseq"),
    )


def join_view_time_travel(
    spark: SparkSession, sf_dir: str, as_of_seq: int = 1
) -> DataFrame:
    """Gate query: snapshot time-travel READ of the merge-on-read view
    (r13 verdict stretch) — the read-side complement of backfill_plan /
    table_diff.  Both ledgers hold TWO delta generations (epoch 1 =
    the standard jv-upd/jv-new/jv-dim cohorts, epoch 2 = jv-upd2 double
    bumps and jv-dim2 'MOVED2' moves, appended O(delta), base never
    touched); resolution replays ledger rows only up to ``as_of_seq``.

    Correctness contract: the as-of-1 state is definitionally the
    join_view_mor end state, so this query shares that oracle VERBATIM
    — the hash match proves the sequence-bounded read excludes every
    epoch-2 row exactly (a leak would surface as a 'MOVED2' segment
    row or drifted totals on the double-bumped overlap cohort).

    Scale: identical plan shape to resolve_join_view — the seq filter
    rides the ledger scan (ledger-bounded, broadcast side), the base
    still sees zero exchanges; time travel costs nothing beyond the
    ledger predicate, which is the point of keeping sequence numbers
    IN the ledger rows (the Hudi/Iceberg commit-timeline contract from
    plain parquet)."""
    from project_bigdata_recsys_spark.catalog import load_table

    dirs = setup_join_view(spark, sf_dir)
    fact_delta_epoch2(spark, sf_dir).write.mode("append").parquet(
        dirs["fact_ledger"]
    )
    dim_delta_epoch2(spark, sf_dir).write.mode("append").parquet(
        dirs["dim_ledger"]
    )
    resolved = resolve_join_view(
        spark,
        dirs["base"],
        dirs["fact_ledger"],
        dirs["dim_ledger"],
        load_table(spark, sf_dir, "customer"),
        as_of_seq=as_of_seq,
    )
    return profile_join_view(resolved, sf_dir)
