"""One-time bench coverage pass (r9 verdict task #4): time every
registry entry the per-round headline bench (bench.py) does NOT cover,
so no query's cost is unknown.  Not part of the per-round loop — the
headline set stays the curated cross-round comparison; this records a
one-shot number per remaining entry into BENCH_COVERAGE.json, which
docs/BENCH_NOTES.md indexes.

Usage:  python tools/bench_coverage.py [sf_dir]   (default sf0.1)

Pass ``--include-exact-gate-forms`` to also time the documented
O(n²)/index-write gate forms (CENSUS_EXCLUDED below); by default they
are skipped at sf0.1 — their cost is 37 % of the whole 107-entry pass,
it is already recorded in BENCH_COVERAGE.json/BENCH_NOTES, and their
scale twins (the `_lsh`/`_fold`/production forms) ARE timed.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from project_bigdata_recsys_spark.caching import release_shared  # noqa: E402
from project_bigdata_recsys_spark.plans.queries import QUERIES  # noqa: E402
from project_bigdata_recsys_spark.session import get_spark  # noqa: E402
from tools.harness import run_query, warm_up  # noqa: E402

#: Documented exact-oracle gate forms whose census cost at sf0.1 is
#: dominated by a deliberately-unscalable construction (r10 census:
#: 86 + 36 + 31 s = 37 % of the whole pass) and whose production twin
#: is benched instead (r10 verdict task #6).  Skipped unless
#: --include-exact-gate-forms is passed; their one-shot numbers live in
#: BENCH_COVERAGE.json and the rationale in docs/BENCH_NOTES.md.
CENSUS_EXCLUDED = {
    "embedding_dup_clusters": "exact all-pairs gate form; scale twin "
    "embedding_dup_clusters_lsh is benched",
    "incremental_dedup_indexed": "once-per-corpus-version 256-partition "
    "index write; recurring probe cost is benched via incremental_dedup",
    "incremental_components": "gate form rebuilds the prior labeling a "
    "production run loads; scale twin incremental_components_fold is "
    "benched",
    "embedding_near_dup_pairs": "exact all-pairs gate form (32 s in the "
    "r11 census); scale twin embedding_near_dup_lsh is benched",
}


def main() -> None:
    positional = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = positional[0] if positional else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    import bench

    covered = set(bench.HEADLINE)
    include_exact = "--include-exact-gate-forms" in sys.argv
    excluded = {} if include_exact else CENSUS_EXCLUDED
    targets = [
        k for k in QUERIES if k not in covered and k not in excluded
    ]
    spark = get_spark("bench-coverage")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in targets:
        try:
            timings[name] = run_query(spark, name, sf_dir)[1]
        except Exception as exc:  # record, keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    release_shared()

    out = {
        "metric": "coverage_pass_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf_dir": sf_dir,
        "n_queries": len(timings),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "errors": errors,
        "excluded": excluded,
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }
    path = os.path.join(REPO, "BENCH_COVERAGE.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in ("value", "n_queries", "errors")}))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
