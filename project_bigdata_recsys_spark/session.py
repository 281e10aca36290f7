"""SparkSession factory.

Centralizes the configs that matter for correctness (UTC session timezone so
timestamp results match the DuckDB oracle) and for scale (AQE, Arrow, shuffle
partition sizing).  The reference hard-codes a tiny standalone cluster
(reference docker-compose.yml:105-151, 1 worker x 2 cores); here the session
is parameterized so the same code runs on local[32] for tests and on a
many-executor cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "project-bigdata-recsys-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (100 TB design target):
      - AQE is on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic broadcast-join demotion/promotion mean the
        same plan survives a 1000x scale-up without retuning.
      - ``spark.sql.shuffle.partitions`` here is only the pre-AQE upper
        bound; on a real cluster set it ~2-3x total cores and let AQE
        coalesce.
      - Arrow is enabled so any pandas_udf path is vectorized batch
        transfer, never row-at-a-time pickling.
      - UTC session timezone keeps timestamp semantics identical across
        engines (and to the DuckDB correctness oracle).
      - The generated-class cache holds 1024 entries, above the working
        set of a session that re-runs the same queries, so a repeated
        query reuses its compiled, JIT-warmed classes instead of
        recompiling them.  It is a static conf read once per JVM: only a
        session built here (before any other reaches the JVM) has it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-partition reads of cached frames: iterative operators
        # (pagerank, connected components) persist small per-iteration
        # frames, and without this flag every cached read is pinned to the
        # pre-AQE shuffle partition count — dozens of near-empty tasks per
        # iteration at bench scale, a mis-sized fan-in at cluster scale
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver test data stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark has no native type for; read as long and convert in
        # catalog.load_table (truncation to micros matches DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache (static; Spark's default is 100 entries).
        # A perfbench dashboard pass compiles about 240 classes, a
        # stream_replay pass about 135, both together about 355: at 100
        # every warm pass recompiled all of them and ran the new classes
        # cold to the JIT.  At 1024 a warm pass compiles none, and after
        # four passes the process holds fewer loaded classes and less
        # Metaspace than at 100, which loads every recompiled class again.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Streaming state store: the default HDFS-backed provider keeps
        # every key's state ON-HEAP per executor — the known scale cliff
        # when keyed streaming state (stateful features, dedup indexes,
        # CDC current views) grows past executor heap at 100x key
        # cardinality.  RocksDBStateStoreProvider spills state to local
        # SSD with incremental checkpointing (the rocksdbjni jar ships in
        # the Spark distro).  Runtime-settable SQL conf, read at stream
        # START: flipping it affects new queries, not running ones.
        # Default stays hdfs for test determinism/speed at small state;
        # production deploys set SPARK_GRAFT_STATE_STORE=rocksdb.
        # Both providers are equivalence-pinned in tests/test_round8.py.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
                if os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower()
                == "rocksdb"
                else "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
