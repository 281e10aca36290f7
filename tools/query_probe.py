"""Per-query optimization probe (r15): isolate one registry query, time
it with the noop sink (guide §1.4 — computes every column, no sink cost,
no count()-style column pruning), and capture ``explain("formatted")``.

Usage:
    python tools/query_probe.py plan  <query> [outfile]   # explain only
    python tools/query_probe.py time  <query> [n_reps]    # noop-timed
    python tools/query_probe.py count <query> [n_reps]    # bench-style count()

Honors the bench contract envs: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS.
Plans are captured AFTER the same warmup/shared-memo prep bench.py does,
so the captured plan is the one the bench run executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_bigdata_recsys_spark.plans.queries import QUERIES
from project_bigdata_recsys_spark.session import get_spark
from tools.harness import prepare_shared_tier, release_query_state, run_query, warm_up


def main() -> None:
    mode = sys.argv[1]
    name = sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("query-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    prepare_shared_tier(spark, sf_dir)
    release_query_state(spark)

    if mode == "plan":
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = sys.argv[3] if len(sys.argv) > 3 else None
        if out:
            with open(out, "w") as fh:
                fh.write(plan)
            print(f"wrote {out} ({len(plan)} bytes)")
        else:
            print(plan)
        return

    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sink = "noop" if mode == "time" else "count"
    times = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"probe:{name}#{i}")
        times.append(run_query(spark, name, sf_dir, sink)[1])
        spark.sparkContext.setJobDescription(None)
    print(f"{name} [{mode}] reps={times} min={min(times)} "
          f"median={sorted(times)[len(times)//2]}")


if __name__ == "__main__":
    main()
