"""Timing probe: per query, one warm-up and then best-of-3 through the noop
sink, with the cache cleared before every run (bench.py's cold-action
method). A failing query prints ERR and the sweep goes on.

    python tools/probe.py q_a q_b                   # $SPARK_GRAFT_SF_DIR, default sf0.1
    python tools/probe.py --sf DIR1 --sf DIR2 q_a   # one line per sf dir (sf0.1 vs a ×N build)
    python tools/probe.py -c KEY=VALUE q_a          # session conf, fixed at session build
    python tools/probe.py --ab KEY A B q_a          # interleaved A/B of one dynamic conf
    python tools/probe.py --plans DIR q_a           # also write explain("formatted") per query

``--ab`` alternates a runtime-settable SQL conf between the timed runs of
the same query inside one session (A, B, A, B, ... after one warm-up per
side), so host drift hits both sides alike; comparing two separate probe
sessions would confound the conf with that drift. Cores are
local[$SPARK_GRAFT_CPUS], as for bench.py.
"""
import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from telecom_competitor_analysis_spark.plans.queries import QUERIES  # noqa: E402
from telecom_competitor_analysis_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("names", nargs="+", metavar="QUERY")
ap.add_argument("--sf", action="append", metavar="DIR", help="repeatable")
ap.add_argument("-c", action="append", default=[], metavar="KEY=VALUE")
ap.add_argument("--ab", nargs=3, metavar=("KEY", "A", "B"))
ap.add_argument("--plans", metavar="DIR")
args = ap.parse_args()

default_sf = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
sf_dirs = args.sf or [os.environ.get("SPARK_GRAFT_SF_DIR", default_sf)]
conf = dict(kv.split("=", 1) for kv in args.c)
sides = {"A": args.ab[1], "B": args.ab[2]} if args.ab else {"best": None}
spark = get_spark(app_name="probe", extra_conf=conf or None)
spark.range(1).count()
print(
    f"cpus={os.environ.get('SPARK_GRAFT_CPUS', '*')} "
    f"loadavg={os.getloadavg()[0]:.2f} conf={conf} ab={args.ab}",
    flush=True,
)


def timed(fn, sf_dir: str, value: str | None) -> float:
    if value is not None:
        spark.conf.set(args.ab[0], value)
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


total = dict.fromkeys(sides, 0.0)
for sf_dir in sf_dirs:
    for name in args.names:
        try:
            fn = QUERIES[name]
            if args.plans:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    fn(spark, sf_dir).explain("formatted")
                os.makedirs(args.plans, exist_ok=True)
                out = f"{name}_{os.path.basename(os.path.normpath(sf_dir))}.txt"
                with open(os.path.join(args.plans, out), "w") as fh:
                    fh.write(buf.getvalue())
            for value in sides.values():
                timed(fn, sf_dir, value)
            runs = {side: [] for side in sides}
            for _ in range(3):
                for side, value in sides.items():
                    runs[side].append(timed(fn, sf_dir, value))
            best = {side: min(r) for side, r in runs.items()}
            for side in sides:
                total[side] += best[side]
            line = " ".join(f"{side}={best[side]:.3f}" for side in sides)
            if args.ab:
                line += f" ratio={best['B'] / best['A']:.2f}"
            else:
                line += f" runs={[round(r, 3) for r in runs['best']]}"
        except Exception as exc:  # noqa: BLE001 — isolate per query
            line = f"ERR {type(exc).__name__}: {str(exc)[:200]}"
        print(f"{sf_dir:24s} {name:32s} {line}", flush=True)
print("TOTAL " + " ".join(f"{s}={t:.3f}" for s, t in total.items()), flush=True)
