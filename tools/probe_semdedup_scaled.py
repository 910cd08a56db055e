"""SemDedup ×N probe in the SCALED-BLOCKER regime.

The declared q_semdedup pins k=8 for its oracle; with k fixed the pair
volume is Σ cluster² ≈ n²/k — quadratic BY DESIGN (the ×100 probe run
that motivated this script was killed after 25 min on ~10¹⁰ pairs).
Production SemDedup grows the cluster count with the corpus so cluster
SIZE stays bounded; flat k-means assignment is then itself O(n·k), so
at scale the assignment comes from a cheap O(n) blocker (faiss IVF in
the paper; here the deterministic hyperplane bucketer the LSH/ANN stack
already uses). This probe measures semdedup_prune in exactly that
regime: n_planes chosen so bucket count ∝ n (constant expected bucket
size ≈ corpus/2^planes), assignment cost O(n·planes).

Usage: python tools/probe_semdedup_scaled.py /tmp/sfx100 100
(compares sf0.1 with planes=3 vs the ×N dir with planes=3+log2(N))."""
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.similarity import (
    hyperplane_sign_bucket,
    semdedup_prune,
)
from telecom_competitor_analysis_spark.session import get_spark
from telecom_competitor_analysis_spark.sources.readers import load_table

xdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfx100"
factor = int(sys.argv[2]) if len(sys.argv) > 2 else 100
BASE_PLANES = 3  # 8 buckets at sf0.1 ≈ the declared k=8

spark = get_spark(app_name="probe_semdedup_scaled")
spark.range(1).count()

for sf_dir, planes in [
    ("/root/testdata/sf0.1", BASE_PLANES),
    (xdir, BASE_PLANES + int(round(math.log2(factor)))),
]:
    emb = load_table(spark, sf_dir, "embeddings")
    assign = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        hyperplane_sign_bucket(F.col("embedding"), 64, planes)
        .cast("long")
        .alias("cluster_id"),
    )

    def run() -> int:
        return semdedup_prune(
            emb, "vec_id", "embedding", threshold=0.2, assign=assign
        ).count()

    n = run()  # warm-up
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    print(
        f"{sf_dir:22s} planes={planes:2d} buckets={2 ** planes:5d}"
        f" rows={n:8d} {best:.2f}s",
        flush=True,
    )
