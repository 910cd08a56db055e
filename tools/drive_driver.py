"""Driver simulation: bare session, __spark_entry__ contract, DuckDB compare.

    python tools/drive_driver.py              # first-50 verify window
    python tools/drive_driver.py --all        # every oracle-checked query
    python tools/drive_driver.py q_foo q_bar  # just these names
    python tools/drive_driver.py --record q_foo

``DRIVE_SF_DIR`` selects the compare scale factor (default sf0.01).
``--record`` writes plans/verified.json: after a green sf0.01 compare, the
query's sf0.001 plan fingerprint and this run's number (one past the newest
recorded) replace its entry, which moves it to the back of the window.
"""
import importlib.util, json, os, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sf_dir = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").getOrCreate()

from telecom_competitor_analysis_spark.plans import VERIFIED_PATH, load_verified
from tests.conftest import SF_DIR as FINGERPRINT_SF_DIR, SHUFFLE_PARTITIONS
from tests.oracle_utils import compare, duckdb_conn, plan_fingerprint

n_rows = mod.entry(spark).count()
assert n_rows > 0, "entry() returned 0 rows"
print(f"entry OK ({n_rows} rows)")

Q, O = mod.queries(), mod.oracle_sql()
args = [a for a in sys.argv[1:] if not a.startswith("--")]
record = "--record" in sys.argv
if record and os.path.basename(os.path.normpath(sf_dir)) != "sf0.01":
    sys.exit("--record needs the sf0.01 compare")
if "--all" in sys.argv:
    names = [n for n in Q if n in O]
elif args:
    names = args
else:
    names = list(Q)[:50]

# the parity test's shuffle partitions, on which the parallelism guard's plan depends
fp_spark = spark.newSession()
fp_spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
verified = load_verified()
run = max((r["green"] for r in verified.values()), default=0) + 1
con = duckdb_conn(sf_dir)
fails = []
for name in names:
    t0 = time.time()
    note = ""
    try:
        df = Q[name](spark, sf_dir)
        if name in O:
            ok, msg = compare(df, con.execute(O[name]).df())
        else:
            ok, msg = df.count() >= 0, "rows-only"
        if ok and record and name in O:
            spark.catalog.clearCache()
            plan = plan_fingerprint(Q[name](fp_spark, FINGERPRINT_SF_DIR))
            verified[name] = {"plan": plan, "green": run}
            VERIFIED_PATH.write_text("{\n%s\n}\n" % ",\n".join(
                f" {json.dumps(n)}: {json.dumps(r)}"
                for n, r in sorted(verified.items())
            ))
            note = f" recorded {plan[:12]}"
    except Exception as ex:  # noqa: BLE001
        ok, msg = False, f"ERR {ex}"
    dt = time.time() - t0
    status = f"OK{note}" if ok else f"FAIL {msg[:300]}"
    print(f"{name:32s} {status} {dt:.2f}s")
    if not ok:
        fails.append(name)
print(f"{len(names) - len(fails)}/{len(names)} green")
sys.exit(1 if fails else 0)
