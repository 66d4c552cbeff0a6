"""Subset oracle verifier: the full driver-contract compare (hostile TZ,
lenient + strict canonicalizers, sf0.01 by default) restricted to the
query names given on the command line — the fast inner loop for checking
an optimization kept a query's declared output bit-identical before the
full verify_driver_contract.py run.

Usage: python scripts/verify_subset.py [--sf DIR] name [name ...]
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as E
from tests.test_oracle import normalize, strict_canon

args = sys.argv[1:]
sf = "/root/testdata/sf0.01"
if args and args[0] == "--sf":
    sf = args[1]
    args = args[2:]
names = args

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
    )

queries = E.queries()
oracles = E.oracle_sql()
unknown = [n for n in names if n not in queries]
if unknown:
    print("unknown query names:", unknown)
    sys.exit(2)

fails = []
for i, name in enumerate(names):
    sql = oracles.get(name)
    if sql is None:
        n = queries[name](spark, sf).count()
        print(f"[{i+1}/{len(names)}] {name}: rows-only, {n} rows", flush=True)
        continue
    try:
        got_pd = queries[name](spark, sf).toPandas()
        want_pd = con.execute(sql).fetchdf()
        got = normalize(got_pd)
        want = normalize(want_pd)
        assert list(got.columns) == list(want.columns), (
            f"columns {list(got.columns)} vs {list(want.columns)}"
        )
        assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
        pd.testing.assert_frame_equal(
            strict_canon(got_pd), strict_canon(want_pd),
            check_dtype=False, obj=f"{name} (strict-hash)",
        )
        print(f"[{i+1}/{len(names)}] {name}: OK ({len(got)} rows)", flush=True)
    except Exception as exc:  # noqa: BLE001
        msg = str(exc).splitlines()[0][:200]
        fails.append((name, msg))
        print(f"[{i+1}/{len(names)}] {name}: FAIL {msg}", flush=True)

print(f"\n{len(names) - len(fails)}/{len(names)} green")
if fails:
    sys.exit(1)
