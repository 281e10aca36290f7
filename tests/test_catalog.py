"""Catalog must be correct in ANY SparkSession, not just get_spark()'s.

Round-1 driver gate regression: the gate builds its own vanilla
SparkSession (no ``spark.sql.legacy.parquet.nanosAsLong``), and every
events.parquet read died with PARQUET_TYPE_ILLEGAL (CORRECTNESS_r01).
``load_table`` now sets the required runtime confs itself.
"""

from __future__ import annotations

import ast
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampType

from project_bigdata_recsys_spark import catalog
from project_bigdata_recsys_spark.catalog import (
    TABLES,
    load_table,
    normalize_events,
    parquet_schema,
    table_path,
)
from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_like_session(spark):
    """A session with fresh SQLConf and the correctness confs stripped,
    simulating the driver gate's externally built SparkSession."""
    ns = spark.newSession()
    ns.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    return ns


def test_events_readable_in_foreign_session(spark):
    ns = _driver_like_session(spark)
    events = load_table(ns, SF_SMALL, "events")
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    assert events.count() > 0
    # load_table restored the oracle-parity confs on the foreign session
    assert ns.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert ns.conf.get("spark.sql.session.timeZone") == "UTC"


def test_events_query_matches_between_sessions(spark):
    """Same events aggregate through both sessions — identical results."""
    from project_bigdata_recsys_spark.operators.relational import events_per_day

    ours = events_per_day(spark, SF_SMALL).collect()
    theirs = events_per_day(_driver_like_session(spark), SF_SMALL).collect()
    assert ours == theirs


# --------------------------------------------------------------------------
# schema cache: a table read submits no schema-inference job
# --------------------------------------------------------------------------
def _jobs_submitted(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` submits, counted by job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_file_table(sf_dir, name, columns) -> str:
    path = table_path(str(sf_dir), name)
    pq.write_table(pa.table(columns), path)
    return path


def test_second_load_table_submits_no_job(spark, tmp_path):
    # a fresh file, so the first read is the cold one whatever ran before;
    # the dir name carries an sf hint so note_sf_dir keeps narrow sums
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    _write_file_table(sf_dir, "t", {"k": pa.array([1, 2, 3], pa.int64())})
    assert _jobs_submitted(spark, lambda: load_table(spark, str(sf_dir), "t")) >= 1
    assert _jobs_submitted(spark, lambda: load_table(spark, str(sf_dir), "t")) == 0
    assert _jobs_submitted(spark, lambda: load_table(spark, SF_SMALL, "lineitem")) in (0, 1)
    assert _jobs_submitted(spark, lambda: load_table(spark, SF_SMALL, "lineitem")) == 0


def test_cached_schema_equals_inferred_for_every_table(spark):
    for name in TABLES:
        path = table_path(SF_SMALL, name)
        inferred = spark.read.parquet(path)
        assert parquet_schema(spark, path) == inferred.schema, name
        if name == "events":
            inferred = normalize_events(inferred)
        assert load_table(spark, SF_SMALL, name).schema == inferred.schema, name
    ts = load_table(spark, SF_SMALL, "events").schema["ts"].dataType
    assert isinstance(ts, TimestampType)


def test_rewritten_file_gives_new_schema(spark, tmp_path):
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    path = _write_file_table(sf_dir, "t", {"a": pa.array([1, 2], pa.int64())})
    assert load_table(spark, str(sf_dir), "t").columns == ["a"]
    # new size: another column
    _write_file_table(
        sf_dir, "t",
        {"a": pa.array([1, 2], pa.int64()), "b": pa.array(["x", "y"])},
    )
    assert load_table(spark, str(sf_dir), "t").columns == ["a", "b"]
    # same size, new mtime: a same-length rename
    size = os.path.getsize(path)
    mtime = os.stat(path).st_mtime_ns
    _write_file_table(
        sf_dir, "t",
        {"c": pa.array([1, 2], pa.int64()), "d": pa.array(["x", "y"])},
    )
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    assert os.path.getsize(path) == size
    df = load_table(spark, str(sf_dir), "t")
    assert df.columns == ["c", "d"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_overwritten_directory_table_gives_new_schema(spark, tmp_path):
    sf_dir = str(tmp_path / "sf0.001")
    target = table_path(sf_dir, "documents")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(target)
    assert load_table(spark, sf_dir, "documents").columns == ["doc_id", "text"]
    spark.createDataFrame([(2, "b", "en")], "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(target)
    df = load_table(spark, sf_dir, "documents")
    assert df.columns == ["doc_id", "text", "lang"]
    assert df.collect() == [(2, "b", "en")]


def test_load_table_frames_self_join(spark):
    """Only schemas are cached: two reads of one table are two relations
    with their own attribute ids, so a self-join resolves both sides."""
    a = load_table(spark, SF_SMALL, "orders")
    b = load_table(spark, SF_SMALL, "orders")
    joined = a.join(b, a["o_orderkey"] == b["o_orderkey"]).select(a["o_orderkey"])
    assert joined.count() == a.count()


def test_table_files_are_read_only_through_the_catalog():
    """One catalog path: no ``.read.parquet(table_path(...))`` outside
    catalog.py, so no table read can skip the schema cache."""
    roots = [os.path.dirname(catalog.__file__), os.path.join(REPO, "tools")]
    files = [os.path.join(REPO, "bench.py")]
    for root in roots:
        files += glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    hits = []
    for path in files:
        if os.path.samefile(path, catalog.__file__):
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
                and node.args
                and isinstance(node.args[0], ast.Call)
            ):
                continue
            inner = node.args[0].func
            name = inner.attr if isinstance(inner, ast.Attribute) else getattr(inner, "id", None)
            if name == "table_path":
                hits.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert len(files) > 40
    assert not hits, hits
