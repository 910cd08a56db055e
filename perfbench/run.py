"""Benchmark of the medallion pipeline, the curation funnel and the headline
queries, run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one SparkSession on ``local[nproc / 2]``, one client in a closed
loop: each job starts when the previous one has finished. Inputs are
generated from ``--seed`` (perfbench/gen.py); every job's output is checked.
The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
of BENCHMARK.json (CPU-seconds of the process tree, set-up time and peak
RSS) when ``--trace 0`` and its per-layer metrics when ``--trace 1``.
Earlier lines prefixed ``perfbench-`` carry the run's context (CPU count,
load average, CPU steal, Spark conf, seed, CPU canary, wall-clock times),
the curation lineage and the trace summary. The traced run runs the same
loop with spans on and writes them to ``.perfbench_results/``; its
``trace.cpu_s`` against the untraced run's ``iteration_cpu_s`` is the
tracing overhead. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

WORKLOADS = ("medallion_daily", "corpus_suite")
END_TO_END = {
    "setup_s": "s", "first_job_cpu_s": "s", "iteration_cpu_s": "s",
    "job_cpu_p50_s": "s", "job_cpu_tail_s": "s", "rows_per_cpu_s": "rows/s",
    "peak_rss_mb": "MB",
}
LOAD_TABLES = ("competitors", "products", "features", "product_prices", "packs")
CURATE_STAGES = ("url_dedup", "line_filter", "gopher", "classifier",
                 "exact_dedup", "near_dup", "decontaminate", "shard")
SPARK_METRICS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                 "spill_bytes", "task_skew_max", "executor_busy_share")

# Sizes: a run must set up and measure within ~60 s on 4 vCPUs.
N_COMPETITORS = 6
N_PRODUCTS = 500        # per competitor: 3k bronze product rows per day
WARMUP_DAYS = 1         # medallion_daily: untimed daily iterations at set-up
N_DOCS = 2000           # curate corpus (every 100th is the eval set)
QUERY_SF = 0.001        # headline-query table scale
SETUP_REPEATS = 3       # input generation is repeated; set-up reports the median


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric, with its unit."""
    from bench import HEADLINE

    m = {"sources.read.s": "s", "sources.read.rows": "count",
         "sources.write.s": "s", "sources.write.rows": "count",
         "sources.write.files": "count", "sources.write.bytes": "bytes",
         "clean.s": "s", "clean.rows": "count", "star.s": "s"}
    for t in LOAD_TABLES:
        m[f"load.{t}.s"] = "s"
        m[f"load.{t}.appended_rows"] = "count"
    m.update({"load.history_rows_read": "count", "load.candidate_rows": "count",
              "load.append_ratio": "ratio", "load.shuffle_bytes": "bytes",
              "pipeline.s": "s", "pipeline.rerun.s": "s",
              "pipeline.spark_jobs": "count", "pipeline.log.s": "s"})
    for st in CURATE_STAGES:
        m[f"curate.{st}.s"] = "s"
        m[f"curate.{st}.rows_out"] = "count"
    for q in HEADLINE:
        m[f"query.{q}.s"] = "s"
    m.update({"driver.analysis_s": "s", "driver.optimization_s": "s",
              "driver.planning_s": "s"})
    units = {"executor_busy_share": "ratio", "task_skew_max": "ratio"}
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = units.get(k, "bytes" if k.endswith("bytes") else
                                    "s" if k.endswith("_s") else "count")
    m.update({"trace.wall_s": "s", "trace.cpu_s": "s", "trace.attributed_share": "ratio"})
    return m


# --------------------------------------------------------------------------
# Helpers
# --------------------------------------------------------------------------


def cpu_canary() -> float:
    """Fixed CPU-bound calibration: 200k chained sha256 digests."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_steal_s() -> float:
    """Seconds of CPU taken by the hypervisor from this machine so far."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM and its Python workers), reaped children included."""
    ppid, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        fields = stat[stat.rindex(")") + 2:].split()
        ppid[int(name)] = int(fields[1])
        cpu[int(name)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, parent in ppid.items():
            if parent in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(cpu[p] for p in tree) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and CPU (process tree) seconds of one job."""

    def __enter__(self):
        self.cpu, self.t = tree_cpu_s(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t
        self.cpu = tree_cpu_s() - self.cpu


def job_tail(times: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    rank; the median when there are fewer than twenty samples."""
    xs = sorted(times)
    if len(xs) < 20:
        return statistics.median(xs), 0.5
    return xs[-11], (len(xs) - 10) / len(xs)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def check_gold(gold: str, totals: dict[str, int], catalog) -> list[str]:
    """Row counts per gold table equal the generator's running totals, and
    the latest data and price per product equal the catalog's state."""
    import pyarrow.parquet as pq

    errors = [f"{t}: {parquet_rows(f'{gold}/{t}')} rows, expected {n}"
              for t, n in totals.items() if parquet_rows(f"{gold}/{t}") != n]
    feats = pq.read_table(f"{gold}/features", columns=[
        "feature_uuid", "product_name", "scraped_at", "data"]).to_pandas()
    prices = pq.read_table(f"{gold}/product_prices", columns=[
        "feature_uuid", "price", "scraped_at"]).to_pandas()
    latest_f = feats.sort_values(["scraped_at", "feature_uuid"]).groupby(
        "product_name").last()
    latest_p = prices.sort_values(["scraped_at", "price"]).groupby(
        "feature_uuid").last()["price"]
    bad = 0
    for comp, prods in catalog.products.items():
        for p in prods:
            if p.name not in latest_f.index:
                bad += 1
                continue
            f = latest_f.loc[p.name]
            if f["data"] != p.data or latest_p.get(f["feature_uuid"]) != p.price:
                bad += 1
    if bad:
        errors.append(f"{bad} products whose latest gold data/price differ")
    return errors


class Run:
    """State shared by a benchmark run: session, work dir, tracer, tallies."""

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}

    def check(self, errors: list[str], what: str) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            print(f"perfbench-fail {what}: {errors[:5]}", file=sys.stderr)


# --------------------------------------------------------------------------
# Workloads. Each has generate(k) (input generation, repeated at set-up),
# prepare() (history, oracles; returns the first job's time or None) and
# iteration() which returns {"wall", "cpu", "jobs", "rows"} plus optional
# "rerun"; jobs are Stopwatches. A run has at least min_iterations.
# --------------------------------------------------------------------------


class Daily:
    """Bronze wrapped-JSON -> silver -> gold through jobs.run_pipeline.run.

    Set-up loads the first scrape day into an empty gold (the write-heavy
    cold load: change detection is bypassed), then runs WARMUP_DAYS
    iterations, so that the timed ones do not include JIT warm-up. Every
    iteration loads the next day's drop (read-heavy: the whole gold is read
    to append a few percent of the rows) and re-runs the same drop, which
    must append nothing. One scrape day per run, as the reference scraper
    produces it (see NOTES.md on multi-day drops).
    """

    # a fixed count, so that CPU contention cannot change how warm the
    # median iteration is
    min_iterations = 2

    def __init__(self, run: Run) -> None:
        self.r = run
        self.totals: dict[str, int] = {}
        self.runs = 0

    def generate(self, k: int) -> None:
        from gen import Catalog

        self.catalog = Catalog(self.r.seed, N_COMPETITORS, N_PRODUCTS)
        self.day_dir = str(self.r.work / "bronze")
        shutil.rmtree(self.day_dir, ignore_errors=True)
        self.rows = self.catalog.write(self.day_dir)
        self.expected = self.catalog.first_day_expectation()
        self.silver, self.gold = str(self.r.work / "silver"), str(self.r.work / "gold")

    def _load(self, expected: dict, name: str) -> Stopwatch:
        """One timed pipeline run; checks its appended-row counts."""
        from spans import pipeline_layers, span
        from telecom_competitor_analysis_spark.jobs import run_pipeline

        spark, tr = self.r.spark, self.r.tracer
        spark.catalog.clearCache()
        self.runs += 1
        group = f"untraced-{self.runs}"
        if tr:  # the load plans read every gold table once
            history = sum(parquet_rows(f"{self.gold}/{t}") for t in LOAD_TABLES)
        else:
            spark.sparkContext.setJobGroup(group, name)
        with Stopwatch() as sw, span(tr, name) as s, pipeline_layers(tr):
            counts = run_pipeline.run(spark, self.day_dir, self.silver, self.gold)
        if tr:
            s["history_rows"] = history
            tr.release()
        elif name == "pipeline":
            jobs = self.r.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            self.r.notes.setdefault("pipeline_jobs", []).append(len(jobs))
        got = {k: counts.get(k) for k in expected}
        self.r.check([] if got == expected else [f"appended {got}, expected {expected}"], name)
        for k, v in expected.items():
            self.totals[k] = self.totals.get(k, 0) + v
        self.totals["logs"] = self.totals.get("logs", 0) + 1
        return sw

    def _next_day(self) -> None:
        self.expected = self.catalog.advance()
        shutil.rmtree(self.day_dir)
        self.catalog.write(self.day_dir)

    def prepare(self) -> Stopwatch:
        first = self._load(self.expected, "pipeline")
        self.r.check(check_gold(self.gold, self.totals, self.catalog), "gold")
        for _ in range(WARMUP_DAYS):
            self.iteration()
        return first

    def iteration(self) -> dict:
        self._next_day()
        load = self._load(self.expected, "pipeline")
        rerun = self._load(dict.fromkeys(self.expected, 0), "pipeline.rerun")
        self.r.check(check_gold(self.gold, self.totals, self.catalog), "gold")
        return {"wall": load.wall + rerun.wall, "cpu": load.cpu + rerun.cpu,
                "jobs": [load], "rerun": rerun, "rows": 2 * self.rows}


class Curate:
    """jobs.curate.curate_batch over generated documents with the
    conventions of its main(): synthetic crawl URLs and every 100th
    document as the eval set; the shards are written as parquet."""

    def __init__(self, run: Run) -> None:
        self.r = run
        self.survivors = None

    def generate(self, k: int) -> None:
        import pyarrow.parquet as pq
        from gen import documents

        self.dir = str(self.r.work / "docs")
        os.makedirs(self.dir, exist_ok=True)
        pq.write_table(documents(self.r.seed, N_DOCS), f"{self.dir}/documents.parquet")
        self.rows = N_DOCS

    def prepare(self) -> None:
        return None

    def iteration(self) -> dict:
        from pyspark.sql import functions as F
        from spans import curate_layers, span
        from telecom_competitor_analysis_spark.jobs.curate import curate_batch
        from telecom_competitor_analysis_spark.sources.readers import load_table

        spark, tr = self.r.spark, self.r.tracer
        spark.catalog.clearCache()
        out = str(self.r.work / "shards")
        with Stopwatch() as sw, span(tr, "curate"):
            docs = load_table(spark, self.dir, "documents")
            did = F.col("doc_id")
            docs = docs.withColumn("url", F.concat(
                F.when(did % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
                F.lit("www."), F.col("source"), F.lit(".example.com/item-"),
                (did % 1000).cast("string"), F.lit("?utm_source=feed")))
            eval_docs = docs.filter(did % 100 == 0)
            corpus = docs.filter(did % 100 != 0)
            stages = ["sources.read", *(f"curate.{s}" for s in CURATE_STAGES[:-1])]
            with curate_layers(tr, stages, type(corpus)):
                shards, lineage = curate_batch(
                    corpus, eval_docs=eval_docs, carry_cols=("source", "lang"))
            with span(tr, "curate.shard"):
                shards.write.mode("overwrite").partitionBy("shard").parquet(out)
        self.r.check(self._check(lineage, out), "curate")
        self.r.notes["lineage"] = lineage
        return {"wall": sw.wall, "cpu": sw.cpu, "jobs": [sw], "rows": self.rows}

    def _check(self, lineage: list[dict], out: str) -> list[str]:
        """The lineage partitions the corpus stage by stage, the written
        shards hold exactly its survivors, and they are the same documents
        in every iteration."""
        import pyarrow.parquet as pq

        errors = []
        n_in = N_DOCS - len(range(0, N_DOCS, 100))
        for row in lineage:
            if row["rows_in"] != n_in or row["rows_in"] - row["rows_dropped"] != row["rows_out"]:
                errors.append(f"lineage breaks at {row}")
            n_in = row["rows_out"]
        if [r["stage"] for r in lineage] != list(CURATE_STAGES):
            errors.append(f"stages {[r['stage'] for r in lineage]}")
        ids = sorted(pq.read_table(out, columns=["doc_id"])["doc_id"].to_pylist())
        if len(ids) != n_in:
            errors.append(f"{len(ids)} survivors, lineage says {n_in}")
        digest = hashlib.sha256(json.dumps(ids).encode()).hexdigest()
        if self.survivors is None:
            self.survivors = digest
        elif digest != self.survivors:
            errors.append("survivor ids differ from the first iteration's")
        return errors


class Queries:
    """The bench.HEADLINE queries over generated tables, each collected
    after clearCache() and compared with its DuckDB oracle (the oracle
    results are computed at set-up; the compare is untimed)."""

    def __init__(self, run: Run) -> None:
        from bench import HEADLINE

        self.r, self.names = run, list(HEADLINE)

    def generate(self, k: int) -> None:
        from gen import write_tables

        self.dir = str(self.r.work / "tables")
        self.rows = sum(write_tables(self.dir, self.r.seed, QUERY_SF).values())

    def prepare(self) -> None:
        import duckdb
        from telecom_competitor_analysis_spark.plans.oracles import ORACLES
        from telecom_competitor_analysis_spark.schemas import TESTDATA_TABLES
        from tests.oracle_utils import canonical_rows

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self.oracle = {}
        for q in self.names:
            want = con.execute(ORACLES[q]).df()
            self.oracle[q] = (sorted(want.columns), canonical_rows(want))
        con.close()
        return None

    def iteration(self) -> dict:
        import pandas as pd
        from spans import span
        from telecom_competitor_analysis_spark.plans.queries import QUERIES
        from tests.oracle_utils import canonical_rows

        spark, tr = self.r.spark, self.r.tracer
        jobs = []
        for q in self.names:
            spark.catalog.clearCache()
            with Stopwatch() as sw, span(tr, f"query.{q}") as sp:
                df = QUERIES[q](spark, self.dir)
                got = df.collect()
            jobs.append(sw)
            if tr:  # the collect ran on df's own QueryExecution
                sp["phases"] = _phases(df._jdf.queryExecution())
            got = pd.DataFrame.from_records(got, columns=df.columns)
            cols, rows = self.oracle[q]
            ok = sorted(got.columns) == cols and canonical_rows(got) == rows
            self.r.check([] if ok else [f"{len(got)} rows differ from the oracle's {len(rows)}"], q)
        return {"wall": sum(j.wall for j in jobs), "cpu": sum(j.cpu for j in jobs),
                "jobs": jobs, "rows": self.rows}


class CorpusSuite:
    """The headline queries, then the curation funnel, in one session: the
    first job is the first query in the fresh session."""

    min_iterations = 1

    def __init__(self, run: Run) -> None:
        self.parts = (Queries(run), Curate(run))

    def generate(self, k: int) -> None:
        for p in self.parts:
            p.generate(k)

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def iteration(self) -> dict:
        res = [p.iteration() for p in self.parts]
        return {"wall": sum(r["wall"] for r in res), "cpu": sum(r["cpu"] for r in res),
                "jobs": [j for r in res for j in r["jobs"]],
                "rows": sum(r["rows"] for r in res)}


def _phases(qe) -> dict[str, float]:
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


# --------------------------------------------------------------------------
# Per-layer metrics from the traced iterations
# --------------------------------------------------------------------------


def layer_metrics(it_spans: list[dict], wall: float, cores: int, lineage) -> dict:
    from spans import self_times

    by = {}
    for s in it_spans:
        by.setdefault(s["name"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by.get(name, []))

    def attr(name, key):
        return sum(s.get(key, 0) for s in by.get(name, []))

    def spark_sum(spans, key):
        return sum(s["spark"][key] for s in spans)

    writes = by.get("sources.write", [])
    m = {"sources.read.s": dur("sources.read"), "sources.read.rows": attr("sources.read", "rows"),
         "sources.write.s": dur("sources.write"),
         "sources.write.rows": spark_sum(writes, "output_records"),
         "sources.write.files": attr("sources.write", "files"),
         "sources.write.bytes": spark_sum(writes, "output_bytes"),
         "clean.s": dur("clean"), "clean.rows": attr("clean", "rows"), "star.s": dur("star")}
    load_spans = [s for s in it_spans if s["name"] == "load" or s["name"].startswith("load.")]
    appended = 0
    for t in LOAD_TABLES:
        m[f"load.{t}.s"] = dur(f"load.{t}")
        m[f"load.{t}.appended_rows"] = attr(f"load.{t}", "rows")
        if t in ("products", "features", "product_prices"):
            appended += m[f"load.{t}.appended_rows"]
    cand = attr("star", "rows")
    m.update({"load.history_rows_read": attr("pipeline", "history_rows")
              + attr("pipeline.rerun", "history_rows"),
              "load.candidate_rows": cand,
              "load.append_ratio": appended / cand if cand else 0.0,
              "load.shuffle_bytes": spark_sum(load_spans, "shuffle_write"),
              "pipeline.s": dur("pipeline"), "pipeline.rerun.s": dur("pipeline.rerun"),
              "pipeline.log.s": dur("pipeline.log")})
    rows_out = {r["stage"]: r["rows_out"] for r in lineage or []}
    for st in CURATE_STAGES:
        m[f"curate.{st}.s"] = dur(f"curate.{st}")
        m[f"curate.{st}.rows_out"] = rows_out.get(st, 0) if by.get("curate") else 0
    for name in by:
        if name.startswith("query."):
            m[name + ".s"] = dur(name)
    phases = [s["phases"] for s in it_spans if "phases" in s]
    for ph in ("analysis", "optimization", "planning"):
        m[f"driver.{ph}_s"] = sum(p.get(ph, 0.0) for p in phases)
    run_s = spark_sum(it_spans, "run_ms") / 1000.0
    m.update({"spark.jobs": spark_sum(it_spans, "jobs"),
              "spark.stages": spark_sum(it_spans, "stages"),
              "spark.tasks": spark_sum(it_spans, "tasks"),
              "spark.executor_run_s": run_s,
              "spark.executor_cpu_s": spark_sum(it_spans, "cpu_ns") / 1e9,
              "spark.gc_s": spark_sum(it_spans, "gc_ms") / 1000.0,
              "spark.shuffle_write_bytes": spark_sum(it_spans, "shuffle_write"),
              "spark.shuffle_read_bytes": spark_sum(it_spans, "shuffle_read"),
              "spark.spill_bytes": spark_sum(it_spans, "spill"),
              "spark.task_skew_max": max((s["spark"]["skew"] for s in it_spans), default=0.0),
              "spark.executor_busy_share": run_s / (wall * cores)})
    # self times of the layer spans add up to the timed part of the iteration
    m["trace.attributed_share"] = sum(list(self_times(it_spans).values())[1:]) / wall
    return m


# --------------------------------------------------------------------------
# Main
# --------------------------------------------------------------------------


def rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "telecom_competitor_analysis_spark" / "__init__.py").is_file() \
            or not (ROOT / "bench.py").is_file():
        print(f"perfbench: the package and bench.py must sit beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({"TMPDIR": str(work / "tmp"),
                       "TCAS_MATERIALIZED_DIR": str(work / "materialized"),
                       "SPARK_LOCAL_DIRS": str(work / "spark-local")})
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tempfile.tempdir = str(work / "tmp")
    # Half the CPUs: on a 4-vCPU VM, local[4] left no core for the JVM's JIT
    # and GC threads; the first pipeline run was ~10% slower and the
    # daily iteration's wall time spread 3x wider than on local[2].
    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus // 2)
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": cpus, "spark_cores": cores,
               "loadavg_start": loadavg(),
               "steal_start_s": cpu_steal_s(),
               "cpu_canary_s": statistics.median(cpu_canary() for _ in range(3))}

    from telecom_competitor_analysis_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.sql.warehouse.dir": str(work / "warehouse"),
                          "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"})
    try:
        return measure(args, spark, work, cores, context, t_start)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spark, work, cores, context, t_start) -> int:
    from spans import Tracer, median, subtree

    session_s = time.perf_counter() - t_start
    tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
    r = Run(spark, work, args.seed)
    wl = {"medallion_daily": Daily, "corpus_suite": CorpusSuite}[args.workload](r)

    gen_times = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.generate(k)
        gen_times.append(time.perf_counter() - t)
    t = time.perf_counter()
    first_job = wl.prepare()
    prepare_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_times) + prepare_s
    context["setup_parts_s"] = {"session": session_s, "generate": gen_times,
                                "prepare": prepare_s}

    # The same loop traced or not: the traced run's iteration wall time
    # against the untraced run's wall_s (same seed) is the tracing overhead.
    its, roots = [], []
    t0 = time.perf_counter()
    r.tracer = tracer
    while len(its) < wl.min_iterations or time.perf_counter() - t0 < args.seconds:
        if tracer:
            with tracer.span("iteration") as root:
                res = wl.iteration()
            roots.append(root["id"])
        else:
            res = wl.iteration()
        its.append(res)
    r.tracer = None

    jobs = [j for it in its for j in it["jobs"]]
    wall = statistics.median(it["wall"] for it in its)
    if first_job is None:  # the first iteration ran in the fresh session
        first_job = its[0]["jobs"][0]
    tail, tail_p = job_tail([j.cpu for j in jobs])
    e2e = {"setup_s": setup_s, "first_job_cpu_s": first_job.cpu,
           "iteration_cpu_s": statistics.median(it["cpu"] for it in its),
           "job_cpu_p50_s": statistics.median(j.cpu for j in jobs),
           "job_cpu_tail_s": tail,
           "rows_per_cpu_s": statistics.median(it["rows"] / it["cpu"] for it in its),
           "peak_rss_mb": rss_mb(spark)}
    reruns = [it["rerun"].wall for it in its if "rerun" in it]
    context.update({"iterations": len(its), "job_samples": len(jobs),
                    "job_tail_percentile": tail_p,
                    "first_job_s": first_job.wall, "wall_s": wall,
                    "job_p50_s": statistics.median(j.wall for j in jobs),
                    "job_tail_s": job_tail([j.wall for j in jobs])[0],
                    "rows_per_s": statistics.median(it["rows"] / it["wall"] for it in its),
                    "rerun_s": statistics.median(reruns) if reruns else None,
                    "failed_ratio": r.failed / max(1, r.attempted),
                    "loadavg_end": loadavg(),
                    "steal_s": cpu_steal_s() - context.pop("steal_start_s"),
                    "job_s": [[j.wall for j in it["jobs"]] for it in its],
                    "job_cpu_s": [[j.cpu for j in it["jobs"]] for it in its],
                    "spark_conf": dict(spark.sparkContext.getConf().getAll())})
    print("perfbench-context " + json.dumps(context, default=str))
    if "lineage" in r.notes:
        print("perfbench-lineage " + json.dumps(r.notes["lineage"]))

    if tracer:
        names = per_layer_names()
        per_it = [layer_metrics(subtree(tracer.spans, rid), it["wall"], cores,
                                r.notes.get("lineage")) for rid, it in zip(roots, its)]
        metrics = {k: median(m.get(k, 0) for m in per_it) for k in names}
        metrics["pipeline.spark_jobs"] = median(r.notes.get("pipeline_jobs", []))
        metrics["trace.wall_s"] = wall
        metrics["trace.cpu_s"] = e2e["iteration_cpu_s"]
        out = {k: {"value": metrics[k], "unit": u} for k, u in names.items()}
        spans_path = ROOT / ".perfbench_results" / f"spans-{args.workload}-{args.seed}.json"
        tracer.dump(str(spans_path))
        print("perfbench-trace " + json.dumps({
            "spans": len(tracer.spans), "traced_wall_s": [it["wall"] for it in its],
            "attributed_share": metrics["trace.attributed_share"],
            "spans_file": str(spans_path.relative_to(ROOT))}))
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
