"""A ``get_spark`` session keeps its compiled classes across repeated queries.

Spark caches generated classes by their source, 100 entries by default.
A dashboard pass compiles more than that, so at the default every repeat
of a query recompiled its classes (and ran them cold to the JIT).
"""

from __future__ import annotations

from project_bigdata_recsys_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL

#: Dashboard builders whose classes together exceed Spark's default of 100
#: cache entries (about 115 at sf0.001).  The first two alone fit in 100,
#: and their repeat compiles nothing even at the default.
_BUILDERS = ("rfm_segments", "multiway_join", "local_supplier_volume")


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (one histogram sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass_compiles(spark) -> int:
    before = _compiles(spark)
    for name in _BUILDERS:
        QUERIES[name](spark, SF_SMALL).collect()
    return _compiles(spark) - before


def test_session_sizes_the_generated_class_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1024"


def test_repeated_pass_compiles_no_class(spark):
    _pass_compiles(spark)
    assert _pass_compiles(spark) == 0
