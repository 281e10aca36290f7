"""Smoke tests of the benchmark itself, at sf0.01 on a three-op workload.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from workloads import WORKLOADS, op_order  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _boom(spark, sf_dir):
    raise RuntimeError("deliberate failure")


@pytest.fixture(scope="module")
def records(tmp_path_factory):
    """One untraced and one traced run of label_histogram, a stream
    replay and a deliberately raising op, isolated in a temp dir."""
    from project_bigdata_recsys_spark.plans.queries import QUERIES

    saved_env, saved_cwd = dict(os.environ), os.getcwd()
    run.isolate(str(tmp_path_factory.mktemp("perfbench")))
    ops = {
        "label_histogram": QUERIES["label_histogram"],
        "stream_trending_items": QUERIES["stream_trending_items"],
        "boom": _boom,
    }
    try:
        yield {
            trace: run.measure("dashboard", 7, 0, trace, ops=ops)
            for trace in (False, True)
        }
    finally:
        run.stop_processes()
        os.chdir(saved_cwd)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = None


def test_op_order_is_a_seeded_permutation():
    ops = WORKLOADS["dashboard"]
    assert op_order(ops, 3) == op_order(ops, 3)
    assert op_order(ops, 3) != op_order(ops, 4)
    assert sorted(op_order(ops, 4)) == sorted(ops)


@pytest.mark.parametrize("trace,section", [(False, "end_to_end"), (True, "per_layer")])
def test_every_declared_metric_is_emitted_with_its_unit(records, trace, section):
    metrics = records[trace]["result"]["metrics"]
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in metrics.items()} == declared


def test_run_follows_the_seeded_order(records):
    names = [op["name"] for op in records[False]["ops"]]
    assert names == op_order(sorted(["label_histogram", "stream_trending_items", "boom"]), 7)


def test_spans_nest_and_carry_one_id_per_op(records):
    spans = records[True]["spans"]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert [s["name"] for s in roots] == ["op"] * 3
    assert sorted(s["op"] for s in roots) == [0, 1, 2]
    for s in spans:
        if s["parent"] is None:
            continue
        parent = by_id[s["parent"]]
        assert s["op"] == parent["op"]
        assert parent["start_ms"] <= s["start_ms"] <= s["end_ms"] <= parent["end_ms"]
    names = {s["name"] for s in spans}
    assert {"queries.build", "catalog.load_table", "action", "executor.job",
            "streaming.batch", "caching.release"} <= names


def test_raising_op_counts_as_failed(records):
    for record in records.values():
        result = record["result"]
        assert result["attempted"] == 6  # warm pass and measured pass
        assert result["failed"] == 2
        assert result["correct"] is False
        failed = [op for op in record["ops"] if op["error"] is not None]
        assert [op["name"] for op in failed] == ["boom"]
    layer = records[True]["result"]["metrics"]["ops.error_rate"]["value"]
    assert layer == pytest.approx(1 / 3)
