"""Measured sf0.1 -> sf1 scale probe of the frozen bench subset.

VERDICT r14 task 3: the 100-TB claims rest on per-operator design
audits; this converts them to measurement at one decade of scale.  It
times the 30-entry FROZEN_SUBSET (bench.py — the composition-stable
comparison axis) twice in one session: at the driver's sf0.1 and at
the 10x derived sf1 (tools/gen_scaledata.py), through bench.py's own
harness (tools/harness.py): settle wait, codegen warmup at sf0.001, the
shared tier prepared per sf before timing, the count sink, and the
inter-query release.

Interpretation contract (written into the artifact): rows grow 10x, so
a perfectly linear operator shows ratio <= ~10 (usually well under —
fixed job-scheduling overhead dominates sub-second sf0.1 entries); the
probe flags any entry whose wall-time ratio exceeds FLAG_RATIO (15 —
10x rows + 50% headroom) as super-linear-suspect for root-causing.
Output-row ratios are recorded next to time ratios so legitimately
super-linear OUTPUT (a pair query whose planted duplicate groups grow)
is distinguishable from super-linear COMPUTE.

Usage:  python tools/scale_probe.py [sf1_dir] [out_json]
        (defaults: <repo>/scaledata/sf1, SCALEPROBE_r15.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import FROZEN_SUBSET
from project_bigdata_recsys_spark.caching import release_shared
from project_bigdata_recsys_spark.session import get_spark
from tools.harness import WARM_SF, prepare_shared_tier, run_query, settle, warm_up

SF01 = "/root/testdata/sf0.1"
FLAG_RATIO = 15.0

#: r16 extension (VERDICT r15 task 7): the index/stream families whose
#: sf0.1 costs are dominated by fixed job structure are exactly the ones
#: that must PROVE O(batch)/linear behavior at 10x rows — the frozen
#: subset alone only covers the relational cost classes.
EXTRA_SUBSET = [
    "containment_index_pairs",
    "containment_batch_probe",
    "stream_containment_index",
    "knn_ivf_pq",
    "ivf_pq_recall_profile",
    "ivf_pq_incremental_knn",
    "ivf_pq_nprobe_sweep",
    "stream_zipf_fit",
    "stream_domain_quota",
    "stream_kmv_distinct",
]


def _time_subset(spark, sf_dir: str, names=None) -> tuple[dict, dict]:
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in (names or FROZEN_SUBSET):
        rows[name], timings[name] = run_query(spark, name, sf_dir)
        print(
            f"[probe {sf_dir}] {name}: {timings[name]}s {rows[name]} rows",
            file=sys.stderr,
            flush=True,
        )
    return timings, rows


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, "scaledata", "sf1"
    )
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        repo, "SCALEPROBE_r16.json"
    )
    settle_wait = settle()
    load_start = os.getloadavg()[0]
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # codegen warm-up on the warm-up sf, never a probed one
    warm_up(spark, WARM_SF)

    result: dict = {
        "what": (
            "frozen-subset wall time at driver sf0.1 vs derived sf1 "
            "(10x rows, tools/gen_scaledata.py) — same session, "
            "bench.py methodology"
        ),
        "date": time.strftime("%Y-%m-%d"),
        "sf1_dir": sf1_dir,
        "flag_ratio": FLAG_RATIO,
        "loadavg_start": round(load_start, 2),
        "settle_wait_sec": settle_wait,
    }

    result["prep_sec_sf0.1"] = prepare_shared_tier(spark, SF01)
    t01, r01 = _time_subset(spark, SF01)
    e01, er01 = _time_subset(spark, SF01, EXTRA_SUBSET)
    result["prep_sec_sf1"] = prepare_shared_tier(spark, sf1_dir)
    t1, r1 = _time_subset(spark, sf1_dir)
    e1, er1 = _time_subset(spark, sf1_dir, EXTRA_SUBSET)
    t01 = {**t01, **e01}; r01 = {**r01, **er01}
    t1 = {**t1, **e1}; r1 = {**r1, **er1}
    release_shared()

    queries = {}
    flagged = []
    for name in (*FROZEN_SUBSET, *EXTRA_SUBSET):
        ratio = round(t1[name] / t01[name], 2) if t01[name] else None
        row_ratio = round(r1[name] / r01[name], 2) if r01[name] else None
        entry = {
            "sf0.1_sec": t01[name],
            "sf1_sec": t1[name],
            "time_ratio": ratio,
            "sf0.1_rows": r01[name],
            "sf1_rows": r1[name],
            "row_ratio": row_ratio,
        }
        if ratio is not None and ratio > FLAG_RATIO:
            entry["flag"] = "super-linear-suspect"
            flagged.append(name)
        queries[name] = entry
    result["queries"] = queries
    result["extra_subset"] = EXTRA_SUBSET
    result["total_sf0.1_sec"] = round(sum(t01.values()), 3)
    result["total_sf1_sec"] = round(sum(t1.values()), 3)
    result["total_ratio"] = round(
        result["total_sf1_sec"] / result["total_sf0.1_sec"], 2
    )
    result["flagged"] = flagged
    result["loadavg_end"] = round(os.getloadavg()[0], 2)
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=False)
        fh.write("\n")
    print(
        json.dumps(
            {
                "total_sf0.1_sec": result["total_sf0.1_sec"],
                "total_sf1_sec": result["total_sf1_sec"],
                "total_ratio": result["total_ratio"],
                "flagged": flagged,
            }
        )
    )


if __name__ == "__main__":
    main()
