"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given scale factor, then compares row count, column names/types, and
order-insensitive values.  Run while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]

Evidence files (``SWEEP_r*`` full sweeps, ``PRECHECK_r*_gate`` gate-window
checks) are written from the same run:

    python tools/check_oracle.py [sf_dir] --out SWEEP_rN_full.json \
        --what "end-of-round full-registry sweep" --note "after <change>"
    python tools/check_oracle.py [sf_dir] --window \
        --out PRECHECK_rN_gate.json --what "after the <wave> tail insertion"

``--window`` checks the first 50 registry entries, the window the
correctness gate checks.  The file's ``sum_mode`` is the
``SPARK_GRAFT_SUM_DTYPE`` the run saw, so the decimal twin is the same
command under ``SPARK_GRAFT_SUM_DTYPE=decimal``.  Exit status 1 on any
failure.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from project_bigdata_recsys_spark.caching import release_shared
from project_bigdata_recsys_spark.catalog import TABLES, table_path
from project_bigdata_recsys_spark.functions.fixedpoint import wide_sums
from project_bigdata_recsys_spark.plans.queries import ORACLES, QUERIES
from project_bigdata_recsys_spark.session import get_spark
from tools.harness import run_query

#: The correctness gate checks this many leading registry entries.
GATE_WINDOW = 50


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


#: (query, column) pairs allowed a 1e-9 RELATIVE tolerance.  The driver
#: hash-compares values EXACTLY, so the default here is exact equality —
#: a blanket relative tolerance swallowed a $0.01 delta on a ~$4e8 sum
#: for two rounds (cdc_current_view: local "ok", driver red).  Every
#: entry needs a one-line justification; an empty set means this checker
#: sees exactly what the driver sees.
TOLERANT_COLUMNS: dict[str, set[str]] = {}


def values_equal(a, b, tolerant: bool = False) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        if af == bf:
            return True
        return tolerant and abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns {sc} vs oracle {oc}")
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    n_bad = 0
    for col in a.columns:
        tolerant = col in TOLERANT_COLUMNS.get(name, ())
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not values_equal(x, y, tolerant):
                if n_bad < 3:
                    problems.append(f"value mismatch col={col} row={i}: {x!r} vs {y!r}")
                n_bad += 1
    if n_bad:
        problems.append(f"total mismatched values: {n_bad}")
    return problems


def engine_versions(spark) -> dict:
    """Engine/build identifiers for the run — recorded so a
    local-green/driver-red split (r12's sql_in_subquery) is attributable
    in one look instead of unexplainable (VERDICT r12 task 6)."""
    import platform

    versions = {
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }
    try:
        versions["jvm"] = (
            spark.sparkContext._jvm.System.getProperty("java.version")
        )
    except Exception:  # noqa: BLE001 — JVM property probe is best-effort
        versions["jvm"] = None
    return versions


def sum_mode(sf_dir: str) -> str:
    """The sum accumulator mode this run's queries were built under."""
    mode = os.environ.get("SPARK_GRAFT_SUM_DTYPE", "auto")
    if mode == "auto":
        return f"auto ({'decimal' if wide_sums(sf_dir) else 'long'})"
    return mode


def check_queries(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Check ``names`` against their oracles, printing one line each;
    returns per-query ``status``/``rows``/``sec``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    out: dict[str, dict] = {}
    for name in names:
        try:
            spark_pdf, sec = run_query(spark, name, sf_dir, "pandas")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            out[name] = {"status": "FAIL"}
            continue
        entry = {"status": "ok", "rows": len(spark_pdf), "sec": round(sec, 1)}
        out[name] = entry
        if name not in ORACLES:
            entry["status"] = "rows-only"
            print(f"rows  {name}: {len(spark_pdf)} rows (rows-only, {sec:.1f}s)")
            continue
        try:
            problems = compare(name, spark_pdf, con.execute(ORACLES[name]).fetchdf())
        except Exception as e:  # noqa: BLE001
            problems = [f"oracle error: {e}"]
        if problems:
            entry["status"] = "FAIL"
            print(f"FAIL  {name} ({sec:.1f}s):")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows ({sec:.1f}s)")
    return out


def evidence(spark, sf_dir: str, names: list[str], what: str, note: str) -> dict:
    """Run :func:`check_queries` and wrap its result in the evidence-file
    layout of the committed ``SWEEP_r*``/``PRECHECK_r*`` files."""
    queries = check_queries(spark, sf_dir, names)
    statuses = [q["status"] for q in queries.values()]
    return {
        "what": what,
        "sum_mode": sum_mode(sf_dir),
        "sf_dir": sf_dir,
        "date": datetime.date.today().isoformat(),
        "result": (
            f"{statuses.count('ok')} ok, {statuses.count('FAIL')} fail, "
            f"{statuses.count('rows-only')} rows-only"
        ),
        "engine_versions": engine_versions(spark),
        "queries": queries,
        "note": note,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    p.add_argument("queries", nargs="*", help="only these (default: all)")
    p.add_argument("--window", action="store_true",
                   help=f"only the first {GATE_WINDOW} registry entries")
    p.add_argument("--out", help="write the evidence JSON here")
    p.add_argument("--what", default="local oracle check")
    p.add_argument("--note", default="local replica of the correctness gate")
    a = p.parse_args()
    pool = list(QUERIES)[:GATE_WINDOW] if a.window else list(QUERIES)
    names = [n for n in pool if not a.queries or n in a.queries]

    spark = get_spark("oracle-check")
    print("VERSIONS " + json.dumps(engine_versions(spark), sort_keys=True))
    doc = evidence(spark, a.sf_dir, names, a.what, a.note)
    release_shared()
    print(f"\n{doc['result']}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        print(f"wrote {a.out}")
    return 1 if "FAIL" in {q["status"] for q in doc["queries"].values()} else 0


if __name__ == "__main__":
    raise SystemExit(main())
