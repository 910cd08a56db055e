"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's side, around calls into the
package's public functions; nothing inside the package changes. Each span
opens its own Spark job group, so the jobs a span causes (and not those of
its child spans) are read back from Spark's status store when it closes.
Where the package is lazy, the traced wrappers persist and count the result
at the layer boundary, so that the time lands in the layer that built the
plan rather than in whichever later layer runs the action.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
    "shuffle_read", "spill", "input_records", "output_records",
    "output_bytes",
)


class Tracer:
    """In-memory span recorder. A span is a dict with name, id, parent,
    run id, start and end (perf_counter seconds), attributes such as
    ``rows``, and the Spark counters of the jobs it caused."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list[DataFrame] = []
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "id": f"{self.run_id}.{len(self.spans)}",
               "parent": parent["id"] if parent else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spark"] = self._counters(rec["id"])

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Persist and count ``df`` so its work is paid inside the span."""
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _counters(self, group: str) -> dict:
        c = dict.fromkeys(COUNTERS, 0)
        c["skew"] = 0.0
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # evicted or never submitted
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["run_ms"] += sd.executorRunTime()
                c["cpu_ns"] += sd.executorCpuTime()
                c["gc_ms"] += sd.jvmGcTime()
                c["shuffle_write"] += sd.shuffleWriteBytes()
                c["shuffle_read"] += sd.shuffleReadBytes()
                c["spill"] += sd.diskBytesSpilled()
                c["input_records"] += sd.inputRecords()
                c["output_records"] += sd.outputRecords()
                c["output_bytes"] += sd.outputBytes()
                if sd.numCompleteTasks() > 1:
                    ts = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
                    if ts.isDefined():
                        rt = ts.get().executorRunTime()
                        if rt.apply(0) > 0:
                            c["skew"] = max(c["skew"], rt.apply(1) / rt.apply(0))
        return c

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part covered by its children, by span id."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def subtree(spans: list[dict], root_id: str) -> list[dict]:
    ids, out = {root_id}, []
    for s in spans:  # parents are recorded before their children
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# Layer wrappers: patched into the package's modules for one traced job.
# --------------------------------------------------------------------------


def span(tr: Tracer | None, name: str):
    """``tr.span(name)``, or nothing when the run is untraced."""
    return tr.span(name) if tr else contextlib.nullcontext()


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    for obj, name, fn in targets:
        setattr(obj, name, fn)
    try:
        yield
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)


def _file_count(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path)) if os.path.isdir(path) else 0


def pipeline_layers(tr: Tracer | None):
    """Spans around every layer ``jobs.run_pipeline.run`` calls."""
    if tr is None:
        return contextlib.nullcontext()
    from telecom_competitor_analysis_spark.jobs import load, run_pipeline as rp

    read, clean, star = rp.read_wrapped_json, rp.clean_products, load.star_split
    plan_star, plan_packs, write = rp.plan_star_appends, rp.plan_pack_appends, rp.write_gold

    def t_read(spark, path, header, schema):
        with tr.span("sources.read") as s:
            df, s["rows"] = tr.materialize(read(spark, path, header, schema))
        return df

    def t_clean(raw):
        with tr.span("clean") as s:
            df, s["rows"] = tr.materialize(clean(raw))
        return df

    def t_star(df):
        with tr.span("star") as s:
            out = star(df)
            s["rows"] = 0
            for k in out:
                out[k], n = tr.materialize(out[k])
                s["rows"] += n
        return out

    def t_plan_star(clean_products, existing, use_latest=True):
        with tr.span("load"):
            out = plan_star(clean_products, existing, use_latest)
            for table in out:
                with tr.span(f"load.{table}") as s:
                    out[table], s["rows"] = tr.materialize(out[table])
        return out

    def t_plan_packs(new_packs, existing):
        with tr.span("load.packs") as s:
            df, s["rows"] = tr.materialize(plan_packs(new_packs, existing))
        return df

    def t_write(df, path, *args, **kwargs):
        name = "pipeline.log" if path.endswith("/logs") else "sources.write"
        with tr.span(name) as s:
            before = _file_count(path)
            write(df, path, *args, **kwargs)
            s["files"] = _file_count(path) - before
        return None

    return patched([
        (rp, "read_wrapped_json", t_read), (rp, "clean_products", t_clean),
        (load, "star_split", t_star), (rp, "plan_star_appends", t_plan_star),
        (rp, "plan_pack_appends", t_plan_packs), (rp, "write_gold", t_write),
    ])


def curate_layers(tr: Tracer | None, stages: list[str], cls: type):
    """``curate_batch`` runs one count per funnel stage, in funnel order,
    and no other action: a span per count of a ``cls`` DataFrame attributes
    each stage's jobs."""
    if tr is None:
        return contextlib.nullcontext()
    order = iter(stages)
    count = cls.count

    def t_count(df):
        with tr.span(next(order)):
            return count(df)

    return patched([(cls, "count", t_count)])
