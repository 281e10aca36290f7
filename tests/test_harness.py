"""The query-run harness (tools/harness.py) is the one place bench.py and
the tools warm up, prepare the shared tier and release query state; and
check_oracle writes the evidence files itself."""

from __future__ import annotations

import ast
import glob
import json
import os

from project_bigdata_recsys_spark.caching import persist_tracked
from tests.conftest import SF_SMALL
from tools import check_oracle
from tools.harness import release_query_state

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_steps_only_in_harness():
    """bench.py and tools/*.py reach the block sweep, the semantic index
    build and the shared_* tier builders only through tools/harness.py."""
    found = []
    paths = [os.path.join(REPO, "bench.py"), *glob.glob(os.path.join(REPO, "tools", "*.py"))]
    for path in paths:
        rel = os.path.relpath(path, REPO)
        if rel == os.path.join("tools", "harness.py"):
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "getPersistentRDDs":
                found.append((rel, node.lineno, node.attr))
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
                if name == "prepare_semantic_index" or name.startswith("shared_"):
                    found.append((rel, node.lineno, name))
    assert found == []


def test_release_query_state_empties_persistent_rdds(spark):
    tracked = persist_tracked(spark.range(5))
    untracked = spark.range(7).persist()
    assert tracked.count() == 5 and untracked.count() == 7
    jsc = spark.sparkContext._jsc
    assert len(jsc.getPersistentRDDs()) >= 2
    release_query_state(spark)
    try:
        assert len(jsc.getPersistentRDDs()) == 0
    finally:
        untracked.unpersist()


def test_check_oracle_evidence_layout(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SUM_DTYPE", "decimal")
    names = ["course_stats", "big_orders"]
    doc = check_oracle.evidence(spark, SF_SMALL, names, "what", "note")
    with open(os.path.join(REPO, "SWEEP_r15_full.json")) as f:
        committed = json.load(f)
    assert doc.keys() == committed.keys()
    assert doc["sum_mode"] == "decimal"
    assert doc["result"] == "2 ok, 0 fail, 0 rows-only"
    assert list(doc["queries"]) == names
    for entry in doc["queries"].values():
        assert entry.keys() == {"status", "rows", "sec"}
        assert entry["status"] == "ok" and entry["rows"] > 0


def test_bench_smoke_run_leaves_tracked_files_unchanged(monkeypatch, capsys):
    """The committed ledger and BENCH_DETAIL.json record headline-sf
    (sf0.1) runs only: an sf0.01 run reads them and writes neither, and
    still prints the full stdout key set."""
    import types

    import bench

    tracked = [
        os.path.join(REPO, bench.SESSION_LEDGER),
        os.path.join(REPO, "BENCH_DETAIL.json"),
    ]
    before = [open(p, "rb").read() for p in tracked]
    fake_spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda _level: None)
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    monkeypatch.setattr(bench, "settle", lambda: 0.0)
    monkeypatch.setattr(bench, "get_spark", lambda _name: fake_spark)
    monkeypatch.setattr(bench, "warm_up", lambda _spark, _sf_dir: None)
    monkeypatch.setattr(bench, "prepare_shared_tier", lambda _spark, _sf_dir: 0.0)
    monkeypatch.setattr(bench, "run_query", lambda _spark, _name, _sf_dir: (None, 0.01))
    monkeypatch.setattr(bench, "release_shared", lambda: None)
    bench.main()
    assert [open(p, "rb").read() for p in tracked] == before
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {
        "metric", "value", "unit", "n_queries", "queries",
        "queries_truncated_to", "detail_file", "anchors",
        "frozen_subset_total", "frozen_subset_n", "frozen_subset_ratio",
        "frozen_subset_flag", "frozen_subset_advisory", "session_bracket",
        "warm_retimes", "anchor_normalized_ratio", "anchor_band_sec",
        "ambient_ok", "ambient_flag", "sf", "loadavg_1m", "settle_wait_sec",
    }
    assert out["sf"] == 0.01
