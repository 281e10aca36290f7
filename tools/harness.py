"""One way to run a registry query outside the test suite.

``bench.py`` and the ``tools/`` scripts all take the same steps around
the queries they time or check: a bounded settle wait, a codegen
warm-up, the pre-timed shared-artifact tier, the query with one sink,
and the release of what the query pinned.  Each step lives here once,
so every script measures under the same conditions.
"""

from __future__ import annotations

import os
import time

from project_bigdata_recsys_spark.caching import release_tracked
from project_bigdata_recsys_spark.plans.queries import QUERIES

#: Warm-up rows come from this sf, never a timed one, so no timed data
#: is pre-materialized.
WARM_SF = "/root/testdata/sf0.001"

#: Settle wait: the host is shared and co-tenant load swings totals ~2x
#: run to run, so timing scripts give the load a bounded chance to drop
#: below SETTLE_LOAD before starting.  Callers record the wait they got.
SETTLE_MAX_SEC = 240
SETTLE_LOAD = 3.0

#: After these queries the release is SKIPPED so a persist_shared frame
#: survives into the immediately-following entry.
_SHARE_WITH_NEXT = {
    "item_pagerank",
    "item_pagerank_personalized",
    "item_triangles",
}


def settle() -> float:
    """Wait (5 s steps, at most SETTLE_MAX_SEC) until the 1-minute load
    average is at most SETTLE_LOAD; returns the seconds waited."""
    waited = 0.0
    while waited < SETTLE_MAX_SEC and os.getloadavg()[0] > SETTLE_LOAD:
        time.sleep(5)
        waited += 5
    return waited


def release_query_state(spark) -> None:
    """Drop the blocks a query pinned.

    Frames registered through ``caching.persist_tracked`` are released
    scoped (caller-owned caches survive); the sweep then covers the
    localCheckpoint blocks of the iterative operators (connected
    components), whose terminal frame the caller owns.  Left in place
    they accumulate across a run and the heap pressure taxes every later
    query (the r2 bench measured a uniform ~1.8x drift)."""
    release_tracked()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen warm-up so timings measure the plan, not first-run
    compilation: one generic query on ``sf_dir``, plus the RP-hash ANN
    family at WARM_SF (their 24-projection higher-order expressions cost
    seconds of Janino compile, which would dominate a 2000-row query's
    number).  simhash_near_pairs also warms the 64-bit vote codegen the
    connected-component family shares.  A timed entry reuses a class
    compiled here only while fewer classes than the session's cache
    bound (``spark.sql.codegen.cache.maxEntries``, 1024 from
    ``get_spark``) are compiled in between; a long run recompiles the
    evicted ones."""
    QUERIES["label_histogram"](spark, sf_dir).collect()
    if os.path.isdir(WARM_SF):
        for name in ("knn_graph", "knn_ivf_lloyd", "simhash_near_pairs"):
            QUERIES[name](spark, WARM_SF).collect()
        release_query_state(spark)


def prepare_shared_tier(spark, sf_dir: str) -> float:
    """Build the shared artifacts a production deployment gets from
    nightly jobs, so timed entries measure the recurring consumer cost
    against them: the semantic-dedup stream index, the persisted simhash
    band index, the parquet-backed CC labeling, the minhash signatures,
    the co-occurrence edge and oriented frames, and the unigram doc
    scores.  Returns the build's wall seconds."""
    from project_bigdata_recsys_spark.functions.dedup import (
        shared_components,
        shared_minhash_signatures,
        shared_simhash_bands,
    )
    from project_bigdata_recsys_spark.functions.graph import (
        shared_cooccurrence_edges,
        shared_oriented_edges,
    )
    from project_bigdata_recsys_spark.functions.text import doc_unigram_scores
    from project_bigdata_recsys_spark.streaming.replay import (
        prepare_semantic_index,
    )

    t0 = time.time()
    prepare_semantic_index(spark, sf_dir)
    shared_simhash_bands(spark, sf_dir)
    shared_components(spark, sf_dir).count()
    shared_minhash_signatures(spark, sf_dir).count()
    shared_cooccurrence_edges(spark, sf_dir).count()
    shared_oriented_edges(spark, sf_dir).count()
    doc_unigram_scores(spark, sf_dir).count()
    return round(time.time() - t0, 3)


def run_query(spark, name: str, sf_dir: str, sink: str = "count"):
    """Build and run one registry query; returns ``(result, seconds)``.

    ``sink`` is ``"count"`` (row count; knn_brute_force is collected
    instead), ``"noop"`` (the noop writer: every column computed, no
    sink cost; result None) or ``"pandas"`` (``toPandas()``).  The query's
    state is released afterwards, also when it raises, unless ``name``
    is in _SHARE_WITH_NEXT."""
    t0 = time.time()
    try:
        df = QUERIES[name](spark, sf_dir)
        if sink == "count":
            result = len(df.collect()) if name == "knn_brute_force" else df.count()
        elif sink == "noop":
            df.write.format("noop").mode("overwrite").save()
            result = None
        elif sink == "pandas":
            result = df.toPandas()
        else:
            raise ValueError(f"unknown sink {sink!r}")
        return result, round(time.time() - t0, 3)
    finally:
        if name not in _SHARE_WITH_NEXT:
            release_query_state(spark)
