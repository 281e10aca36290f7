"""Partition-order stability check — the proactive form of the r12
``sql_in_subquery`` lesson.

That query was driver-red with local-green because a double was rounded
on an accumulation-order boundary: a different engine build summed in a
different order and one row flipped.  The repo's defense is the
fixed-point discipline, but nothing VERIFIED order-independence
end-to-end.  This tool does: it runs every ``queries()`` entry twice —
once per Spark session with deliberately different parallelism and
shuffle-partition counts (different partial-aggregation trees, different
accumulation orders) — and compares an order-insensitive value hash of
the two results.  A mismatch means the query's output depends on
partitioning TODAY, on this box — exactly the class that flips under a
different engine build tomorrow.

Usage:
    python tools/check_order_stability.py [sf_dir] [query ...]

Runs each config in a SUBPROCESS (a JVM's core count is fixed at
startup, so two real parallelism regimes need two JVMs) via the
``--worker`` mode, then diffs the hash maps.

Exemptions (EXPECTED_SENSITIVE) must carry a one-line justification —
the empty default means every registry entry is claimed
partition-order-independent.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: (query -> why) pairs allowed to differ between partitioning regimes.
#: Empty = the whole registry claims order-independence.
EXPECTED_SENSITIVE: dict[str, str] = {}

CONFIGS = {
    "a": {"SPARK_GRAFT_CPUS": "32", "SPARK_SHUFFLE_PARTITIONS": "32"},
    "b": {"SPARK_GRAFT_CPUS": "7", "SPARK_SHUFFLE_PARTITIONS": "7"},
}


def value_hash(pdf) -> str:
    """Order-insensitive exact hash: columns sorted by name, rows sorted
    by every column's string form, doubles at full repr precision."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cells = [
        [repr(v) for v in row] for row in pdf.itertuples(index=False)
    ]
    cells.sort()
    h = hashlib.sha256()
    h.update("|".join(pdf.columns).encode())
    for row in cells:
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def worker(sf_dir: str, only: set[str], out_path: str) -> None:
    from project_bigdata_recsys_spark.caching import release_shared
    from project_bigdata_recsys_spark.plans.queries import QUERIES
    from project_bigdata_recsys_spark.session import get_spark
    from tools.harness import run_query

    spark = get_spark("order-stability")
    results: dict[str, str] = {}
    for name in QUERIES:
        if only and name not in only:
            continue
        try:
            results[name] = value_hash(run_query(spark, name, sf_dir, "pandas")[0])
        except Exception as e:  # noqa: BLE001
            results[name] = f"ERROR: {e}"
    release_shared()
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--worker"]
    if "--worker" in sys.argv:
        sf_dir, out_path = args[0], args[1]
        worker(sf_dir, set(args[2:]), out_path)
        return 0

    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]
    outs = {}
    # per-run maps: concurrent runs never read each other's results, and
    # nothing outlives the run
    with tempfile.TemporaryDirectory(prefix="order_stability_") as tmp:
        for tag, env in CONFIGS.items():
            out_path = os.path.join(tmp, f"{tag}.json")
            e = dict(os.environ, **env)
            rc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--worker",
                    sf_dir,
                    out_path,
                    *only,
                ],
                env=e,
            ).returncode
            if rc:
                print(f"config {tag} worker failed rc={rc}")
                return 2
            with open(out_path) as fh:
                outs[tag] = json.load(fh)

    a, b = outs["a"], outs["b"]
    n_ok = n_bad = n_err = 0
    for name in sorted(a):
        if a[name].startswith("ERROR") or b.get(name, "").startswith(
            "ERROR"
        ):
            print(f"ERR   {name}: {a[name][:80]} / {b.get(name, '')[:80]}")
            n_err += 1
        elif a[name] == b.get(name):
            n_ok += 1
        elif name in EXPECTED_SENSITIVE:
            print(f"known {name}: differs ({EXPECTED_SENSITIVE[name]})")
            n_ok += 1
        else:
            print(f"UNSTABLE {name}: hash differs between partitionings")
            n_bad += 1
    print(f"\n{n_ok} stable, {n_bad} unstable, {n_err} errors")
    return 1 if (n_bad or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
