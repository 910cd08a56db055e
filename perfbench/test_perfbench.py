"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from gen import Catalog, write_tables  # noqa: E402


def _files(path: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_same_seed_gives_identical_inputs(tmp_path):
    days = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        cat = Catalog(seed, 2, 50)
        cat.write(str(tmp_path / name / "d0"))
        exp = cat.advance()
        cat.write(str(tmp_path / name / "d1"))
        write_tables(str(tmp_path / name / "t"), seed, 0.001)
        days.append((exp, *(_files(tmp_path / name / d) for d in ("d0", "d1", "t"))))
    assert days[0] == days[1]
    assert days[0][1] != days[2][1]
    assert set(days[0][1]) == {f"competitor{c}_{k}.json" for c in range(2)
                               for k in ("products", "packs")}


def test_metric_names_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    # every metric a traced iteration yields is a declared per-layer metric
    span = {"name": "iteration", "id": "r.0", "parent": None, "start": 0.0, "end": 2.0,
            "spark": dict.fromkeys(("jobs", "stages", "tasks", "run_ms", "cpu_ns",
                                    "gc_ms", "shuffle_write", "shuffle_read", "spill",
                                    "input_records", "output_records",
                                    "output_bytes", "skew"), 0)}
    q = dict(span, name="query.q_topk", id="r.1", parent="r.0", start=0.5, end=1.0)
    got = run.layer_metrics([span, q], 2.0, 4, None)
    assert set(got) <= set(run.per_layer_names())
    assert got["trace.attributed_share"] == pytest.approx(0.25)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from telecom_competitor_analysis_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_gold_check_catches_a_planted_row(spark, tmp_path):
    from telecom_competitor_analysis_spark.jobs.run_pipeline import run as pipeline

    cat = Catalog(3, 2, 40)
    bronze, silver, gold = (str(tmp_path / d) for d in ("bronze", "silver", "gold"))
    cat.write(bronze)
    exp = cat.first_day_expectation()
    got = pipeline(spark, bronze, silver, gold)
    assert {k: got[k] for k in exp} == exp
    totals = dict(exp, logs=1)
    assert run.check_gold(gold, totals, cat) == []

    # next day: appended rows equal the generator's expectation
    exp = cat.advance()
    cat.write(bronze + "1")
    got = pipeline(spark, bronze + "1", silver, gold)
    assert {k: got[k] for k in exp} == exp
    totals = {k: totals[k] + exp.get(k, 1) for k in totals}
    assert run.check_gold(gold, totals, cat) == []

    # one wrong price row, later than every real one, for a current feature
    feats = pq.read_table(f"{gold}/features").to_pandas()
    current = feats.groupby("product_uuid").filter(lambda g: len(g) == 1)
    prices = pq.read_table(f"{gold}/product_prices")
    row = [r for r in prices.to_pylist()
           if r["feature_uuid"] == current["feature_uuid"].iloc[0]][0]
    row.update(price_uuid="planted", price=row["price"] + 1.0,
               scraped_at=row["scraped_at"].replace(year=2030))
    pq.write_table(pa.Table.from_pylist([row], schema=prices.schema),
                   f"{gold}/product_prices/part-planted.parquet")
    errors = run.check_gold(gold, totals, cat)
    assert any("product_prices" in e for e in errors)
    assert any("latest gold data/price differ" in e for e in errors)
    # the same row with the count corrected still fails on content
    totals["product_prices"] += 1
    assert run.check_gold(gold, totals, cat) == ["1 products whose latest gold data/price differ"]


def test_job_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, p = run.job_tail(xs)
    assert p == pytest.approx(0.75)
    assert sum(x > value for x in xs) == 10
    assert run.job_tail([3.0, 1.0, 2.0]) == (2.0, 0.5)
