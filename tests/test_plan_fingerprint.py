"""The plan fingerprint pinned in plans/verified.json must name the query,
not the session: for a guarded scan, a cached frame and a checkpoint, the
shuffle-partition count, the join-strategy preference and whether a
persisted frame was already computed may not move it. (Whether the
parallelism guard fires at all does depend on the partition count, so
fingerprints are always taken at tests/conftest.py's SHUFFLE_PARTITIONS.)"""

from __future__ import annotations

import itertools

import pytest

from telecom_competitor_analysis_spark.plans import QUERIES

from tests.oracle_utils import plan_fingerprint


@pytest.mark.parametrize(
    "name",
    [
        "q_star_split",  # parallelism-guard Repartition
        "q_bradley_terry",  # InMemoryRelation over a persisted frame
        "q_pagerank",  # ends in an eager localCheckpoint
    ],
)
def test_fingerprint_ignores_partitions_and_join_preference(spark, sf_dir, name):
    confs = ("spark.sql.shuffle.partitions", "spark.sql.join.preferSortMergeJoin")
    before = {k: spark.conf.get(k) for k in confs}
    prints = set()
    try:
        for setting in itertools.product(("1", "7"), ("true", "false")):
            for k, v in zip(confs, setting):
                spark.conf.set(k, v)
            spark.catalog.clearCache()
            df = QUERIES[name](spark, sf_dir)
            prints.add(plan_fingerprint(df))
            # a computed persisted frame prints its AQE-final physical plan
            # under InMemoryRelation; a rebuilt query must not see that
            df.write.format("noop").mode("overwrite").save()
            prints.add(plan_fingerprint(QUERIES[name](spark, sf_dir)))
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert len(prints) == 1, prints
