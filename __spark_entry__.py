"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``telecom_competitor_analysis_spark`` (see
SURVEY.md §2 for the operator inventory each query name maps to).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from telecom_competitor_analysis_spark.plans import (
    ORACLES,
    QUERIES,
    load_verified,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Latest price per product aggregated per brand — the question the
    reference's star schema exists to answer (reference README.md:5,28).
    """
    return QUERIES["q_agg_latest_price"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in verify
    order: the driver checks the first 50 against their oracles.

    Oracle queries come first, the one whose last green compare
    (plans/verified.json) is oldest leading and ties broken by name; an
    oracle query never recorded there counts as oldest. The rows-only
    queries, which have no oracle, come last.
    """
    green = {name: rec["green"] for name, rec in load_verified().items()}
    order = sorted(
        QUERIES, key=lambda n: (n not in ORACLES, green.get(n, 0), n)
    )
    return {name: QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query name (same column aliases)."""
    return dict(ORACLES)
