"""Every declared query must hash-match its DuckDB oracle (the driver's
t2 gate, run locally at sf0.001 for fast iteration)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # full-run default; excluded by the -m 'not slow' fast tier

from telecom_competitor_analysis_spark.plans import (
    ORACLES,
    QUERIES,
    load_verified,
)

from tests.oracle_utils import compare, duckdb_conn, plan_fingerprint


def test_every_query_has_an_oracle_or_is_flagged():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    # an empty cache keeps another query's persisted frames out of the plan
    spark.catalog.clearCache()
    spark_df = QUERIES[name](spark, sf_dir)
    plan = plan_fingerprint(spark_df)
    con = duckdb_conn(sf_dir)
    oracle_df = con.execute(ORACLES[name]).df()
    ok, msg = compare(spark_df, oracle_df)
    assert ok, f"{name}: {msg}"
    # a plan that changed since its last green sf0.01 compare is unverified
    recorded = load_verified().get(name, {}).get("plan")
    assert plan == recorded, (
        f"{name}: plan fingerprint {plan} is not the one recorded in "
        f"plans/verified.json ({recorded}); re-verify it at sf0.01 with "
        f"`python tools/drive_driver.py --record {name}`"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
