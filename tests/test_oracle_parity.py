"""Every SQL-expressible query must match its DuckDB oracle (the same
check the driver runs, at sf0.001 for speed — the driver gate runs sf0.01).
"""

from __future__ import annotations

import pytest

from project_bigdata_recsys_spark.plans.queries import ORACLES, QUERIES
from tests.conftest import SF_SMALL
from tools.check_oracle import compare
from tools.harness import release_query_state


# ---------------------------------------------------------------------------
# Sweep-wide plan invariant (r8): no unpartitioned window may sit over an
# unbounded frame.  Benign by construction and auto-detected:
#   (a) the with_exact_percent_rank / global_quantile_threshold offset
#       frame — an Aggregate grouped on __pid, ≤ num-partitions rows;
#   (b) a Limit below the window (the IVF/PQ seed-cell assignment,
#       bounded by the literal limit).
# Anything else must be individually audited and pinned here with its
# cardinality bound; an unlisted global window fails the parity test.
# ---------------------------------------------------------------------------

_GLOBAL_WINDOW_AUDITED = {
    "conversion_lag",  # Aggregate(lag_bucket): ≤ ~12 day-bucket rows
    "monthly_growth",  # Aggregate(month): ≤ ~100 month rows
    "pareto_curve",  # Aggregate(band): 10 decile-band rows
    "psi_drift",  # Aggregate(bucket): 10 histogram-bucket rows
    "rolling_distinct_users",  # Aggregate(day): ≤ ~2500 calendar days
    "survival_km_curve",  # Aggregate(t_hours): ≤ corpus-hour-span rows
    "sprt_ab_monitor",  # Aggregate(day): ≤ calendar-day-span rows
    "kcore_profile",  # Aggregate(degree): ≤ #distinct-degree rows
    "stream_sprt_monitor",  # Aggregate(day): ≤ calendar-day-span rows
    "largest_remainder_allocation",  # Aggregate(source): ≤ #sources rows
    "bh_fdr_correction",  # Aggregate(event_type): ≤ #types rows
    "token_budget_planner",  # Aggregate(source): ≤ #sources rows
    "bloom_pruned_join",  # Aggregate(l_returnflag): ≤ #returnflags rows
    "cooccurrence_drift",  # Distinct(month): ≤ calendar-month-span rows
    "ipf_weight_calibration",  # Aggregate(lang, source): ≤ |langs|·|sources| cell rows
    "stream_ipf",  # same IPF kernel over the folded cell ledger: ≤ |langs|·|sources| rows
    "isotonic_calibration_pav",  # Aggregate(bin): ≤ 11 propensity-decile rows
    "vacuum_retention_plan",  # Distinct(month): ≤ ~100 version rows
    "skew_salt_advisor",  # Aggregate(n): ≤ #distinct-key-count rows
    "stream_skew_monitor",  # same kernel over the folded count ledger
    "qini_uplift_curve",  # Aggregate(bin): ≤ 11 propensity-decile rows
}


def _chain(node, max_depth=10):
    c = node
    for _ in range(max_depth):
        if c.children().size() == 0:
            return
        c = c.children().apply(0)
        yield c


def _assert_no_unbounded_global_window(name, df):
    def nodes(n):
        yield n
        ch = n.children()
        for i in range(ch.size()):
            yield from nodes(ch.apply(i))

    plan = df._jdf.queryExecution().optimizedPlan()
    for n in nodes(plan):
        if n.nodeName() != "Window" or n.partitionSpec().size() != 0:
            continue
        benign = False
        for c in _chain(n):
            nm = c.nodeName()
            if nm in ("GlobalLimit", "LocalLimit"):
                benign = True
                break
            if nm == "Aggregate":
                benign = "__pid" in c.groupingExpressions().mkString(",")
                break
        assert benign or name in _GLOBAL_WINDOW_AUDITED, (
            f"{name}: unpartitioned window over a non-audited frame — "
            "single-partition cliff at scale; fix the plan or audit the "
            "cardinality bound and pin it in _GLOBAL_WINDOW_AUDITED"
        )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMALL)
    _assert_no_unbounded_global_window(name, sdf)
    spark_pdf = sdf.toPandas()
    release_query_state(spark)
    oracle_pdf = duck.execute(ORACLES[name]).fetchdf()
    # exact: check_oracle.TOLERANT_COLUMNS is empty
    assert compare(name, spark_pdf, oracle_pdf) == []


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must execute and return a stable schema."""
    for name in sorted(set(QUERIES) - set(ORACLES) - {"als_user_factors"}):
        df = QUERIES[name](spark, SF_SMALL)
        assert df.columns, name
        _assert_no_unbounded_global_window(name, df)
        df.count()
        release_query_state(spark)
