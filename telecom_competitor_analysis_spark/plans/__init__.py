"""Declared query plans (SURVEY.md §2 inventory) and their DuckDB oracle
SQL. ``QUERIES`` / ``ORACLES`` back ``__spark_entry__.queries()`` /
``oracle_sql()``.

``verified.json`` maps each oracle query to ``{"plan": <fingerprint>,
"green": <int>}``: the fingerprint of the optimized plan that last matched
its oracle at sf0.01, and the verification run (round) of that match. Only
``tools/drive_driver.py --record`` writes it."""

import json
from pathlib import Path

from telecom_competitor_analysis_spark.plans.queries import QUERIES  # noqa: F401
from telecom_competitor_analysis_spark.plans.oracles import ORACLES  # noqa: F401

VERIFIED_PATH = Path(__file__).with_name("verified.json")


def load_verified() -> dict[str, dict]:
    return json.loads(VERIFIED_PATH.read_text())
