"""Shared fixtures: one session-scoped SparkSession (local mode) and the
testdata scale-factor directory."""

from __future__ import annotations

import os

import pytest

from telecom_competitor_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SHUFFLE_PARTITIONS = 4


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=SHUFFLE_PARTITIONS)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
