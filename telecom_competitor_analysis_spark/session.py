"""SparkSession factory.

One place to set the scale-relevant knobs. The reference has no engine at
all (single-threaded Python loops per Airflow task, SURVEY.md §4.1); here
every job shares a session configured for Catalyst/AQE to do the physical
planning:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) — at 100 TB this is what rescues skewed shuffle keys.
- ``spark.sql.shuffle.partitions`` defaults small for local mode; on a real
  cluster AQE coalescing makes the initial number mostly irrelevant.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location-independent.
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "telecom_competitor_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests/bench; on a cluster, leave ``master=None`` and let
    spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 optimization (guide §3.1/§9): let the planner pick a
        # shuffled-hash join when its size conditions hold instead of
        # always sort-merge — the mid-size equi-joins (comparison
        # pairs, shingle postings) skip both sorts. Interleaved
        # same-session A/B at sf0.1: q_bradley_terry 0.73×,
        # q_corpus_curate 0.65×, 10-query join set total −17%, no
        # query worse than +14% (tools/probe.py --ab). Env-
        # overridable for clusters whose build sides overflow a
        # partition (SHJ cannot spill its hash table): set
        # SPARK_GRAFT_PREFER_SMJ=true to restore the default.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS) — read as long,
        # converted back in sources/readers.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
