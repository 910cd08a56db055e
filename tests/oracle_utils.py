"""Local stand-in for the driver's correctness compare: run a Spark query
and its DuckDB oracle on the same parquet tables, sort columns by name,
canonicalize values, compare order-insensitively. Also fingerprints the
optimized logical plan that plans/verified.json pins per query."""

from __future__ import annotations

import hashlib
import math
import re
from typing import Any

import duckdb
import pandas as pd

from telecom_competitor_analysis_spark.schemas import TESTDATA_TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool,)) or type(v).__name__ == "bool_":
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v.is_integer():
            return str(int(v))
        return repr(v)
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    if not cols:
        return [()] * len(df)
    # column-wise canonicalization (a python loop per COLUMN, not per
    # row — iterrows() cost ~20s on a 240k-row unpivot compare)
    canon_cols = [[_canon(v) for v in df[c].tolist()] for c in cols]
    return sorted(zip(*canon_cols))


def compare(spark_df, oracle_df: pd.DataFrame) -> tuple[bool, str]:
    sp = spark_df.toPandas()
    if sorted(sp.columns) != sorted(oracle_df.columns):
        return False, f"columns differ: {sorted(sp.columns)} vs {sorted(oracle_df.columns)}"
    if len(sp) != len(oracle_df):
        return False, f"row count differs: spark={len(sp)} oracle={len(oracle_df)}"
    a, b = canonical_rows(sp), canonical_rows(oracle_df)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        only_a = [r for r in a if r not in set(b)][:3]
        only_b = [r for r in b if r not in set(a)][:3]
        return False, f"values differ; first diffs={diffs} only_spark={only_a} only_oracle={only_b}"
    return True, "ok"


# Plan text that varies between sessions, machines and runs but not with the
# query: expression ids, the process-wide counters in generated lambda and
# common-expression names, file paths, RDD ids, physical plan ids and the
# partition counts Spark derives from the core count or the shuffle conf.
_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(lambda \w+?_)\d+#"), r"\1#"),
    (re.compile(r"\b_common_expr_\d+"), "_common_expr_"),
    (re.compile(r"file:[^\s,\]]*"), "file:"),
    (re.compile(r"\b(LogicalRDD|ExistingRDD)\b[^\[\n]*\["), r"\1["),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\bRepartition \d+"), "Repartition N"),
    (re.compile(r"RoundRobinPartitioning\(\d+\)"), "RoundRobinPartitioning(N)"),
]
_PARTITIONING = re.compile(r"\b(?:hash|range)partitioning\(")


def _drop_partition_counts(text: str) -> str:
    """Replace the trailing count of ``hashpartitioning(keys, 4)`` and
    ``rangepartitioning(keys, 4)`` with ``N``; keys may nest parentheses."""
    out, pos = [], 0
    for m in _PARTITIONING.finditer(text):
        if m.start() < pos:
            continue
        depth, end = 1, m.end()
        while depth and end < len(text):
            depth += {"(": 1, ")": -1}.get(text[end], 0)
            end += 1
        if depth:  # a truncated plan string: leave the tail as printed
            break
        args = re.sub(r", \d+$", ", N", text[m.end():end - 1])
        out += [text[pos:m.end()], args, ")"]
        pos = end
    return "".join(out) + text[pos:]


def _drop_cached_plans(text: str) -> str:
    """Drop the physical plan an ``InMemoryRelation`` prints under itself:
    its join strategies and AQE state are session choices, not the query."""
    out, cached_col = [], None
    for line in text.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if cached_col is not None and col > cached_col:
            continue
        cached_col = col if line[col:].startswith("InMemoryRelation") else None
        out.append(line)
    return "\n".join(out)


def plan_fingerprint(df) -> str:
    """sha1 of the normalized optimized logical plan of ``df``.

    Taken at sf0.001 with ``SHUFFLE_PARTITIONS`` (tests/conftest.py) by the
    parity test and by ``tools/drive_driver.py --record``, and pinned per
    query in plans/verified.json. The partition count is fixed because the
    parallelism guard (operators/dedup._ensure_parallelism) adds its
    ``Repartition`` only to inputs split fewer than half that many ways.

    Limit: 37 of the 275 oracle plans read an eager ``localCheckpoint``
    (a ``LogicalRDD``), 13 of them (e.g. q_pagerank) read nothing else;
    the fingerprint sees only the plan after the checkpoint.
    """
    text = _drop_cached_plans(df._jdf.queryExecution().optimizedPlan().toString())
    for pattern, repl in _PLAN_NOISE:
        text = pattern.sub(repl, text)
    text = _drop_partition_counts(text)
    return hashlib.sha1(text.encode()).hexdigest()
