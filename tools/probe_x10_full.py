"""FULL-SURFACE ×10 sweep: measure EVERY bench-listed query (headline +
ext) at sf0.1 and /tmp/sfx10 and emit a compact markdown table of
ratios, sorted worst-first. One warm-up + best-of-2 per side (the
tools/probe.py methodology, shortened for breadth); queries that fail on the
probe dataset are recorded as ERR rows, not skipped silently.

Usage: python tools/probe_x10_full.py [out.md]
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from bench import HEADLINE, HEADLINE_EXT
from telecom_competitor_analysis_spark.plans.queries import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/x10_full.md"
XDIR = "/tmp/sfx10"

spark = get_spark(app_name="probe_x10_full")
spark.range(1).count()

names = [n for n in HEADLINE + HEADLINE_EXT if n in QUERIES]
results: dict[str, dict[str, object]] = {}
for sf_dir, key in [("/root/testdata/sf0.1", "base"), (XDIR, "x10")]:
    for n in names:
        fn = QUERIES[n]
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            results.setdefault(n, {})[key] = best
        except Exception as exc:  # noqa: BLE001 — isolate per query
            results.setdefault(n, {})[key] = f"ERR {type(exc).__name__}"
        print(f"{key} {n} {results[n][key]}", flush=True)

rows = []
for n in names:
    b, x = results[n].get("base"), results[n].get("x10")
    if isinstance(b, float) and isinstance(x, float) and b > 0:
        rows.append((x / b, n, f"{b:.2f}", f"{x:.2f}", f"{x / b:.1f}×"))
    else:
        rows.append((float("inf"), n, str(b), str(x), "—"))
rows.sort(key=lambda r: -r[0])
with open(OUT, "w") as f:
    f.write("| query | sf0.1 | ×10 | ratio |\n|---|---|---|---|\n")
    for _, n, b, x, r in rows:
        f.write(f"| {n} | {b} | {x} | {r} |\n")
print(f"wrote {OUT} ({len(rows)} rows)")
