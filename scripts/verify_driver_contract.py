"""Verify-skill harness: drive the driver contract in a fresh process.

Runs entry() under a hostile (non-UTC) session timezone, then the full
Spark-vs-DuckDB compare over every oracle_sql() entry at sf0.01 using BOTH
the lenient normalizer (diagnostics) and the driver-faithful strict_canon
(value-hash gate) from tests/test_oracle.py. Exit 0 only if all match both
ways — this is the (scale, canonicalizer) point the driver actually grades.
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

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.session.timeZone", "America/New_York")  # hostile-tz probe
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
print("entry():", E.entry(spark).count(), "rows", flush=True)

# --- bench smoke gate -------------------------------------------------------
# Validate the bench HEADLINE list: every name must resolve in the
# registry (a typo'd or unregistered name would crash the driver bench),
# and gen_records_1m — the one entry NOT in the registry, so not covered
# by the oracle compare below — must analyze. Analysis-time breaks in the
# registry queries themselves (e.g. a fixture type change like ns→µs/NTZ)
# are caught by the full per-query compare below, which constructs and
# runs every registered query.
from bench import HEADLINE, SPECIAL  # noqa: E402
from console_datagen_spark.plans import all_queries  # noqa: E402

_registry = all_queries()
_bench_fails = [
    (n, "not in registry") for n in HEADLINE if n not in SPECIAL and n not in _registry
]
# the ivfpq probe entry is not registry-resolved: smoke it end-to-end at
# tiny scale so a refactor of the index/probe API can't break the bench
try:
    import tempfile

    from console_datagen_spark.operators.ivf_index import (
        build_ivfpq_index,
        probe_ivfpq_index,
    )

    with tempfile.TemporaryDirectory() as _tmp:
        _emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        build_ivfpq_index(_emb, f"{_tmp}/idx")
        probe_ivfpq_index(spark, f"{_tmp}/idx", _emb).count()
except Exception as exc:  # noqa: BLE001
    _bench_fails.append(("ivfpq_index_probe", str(exc).splitlines()[0][:200]))
# layout_pruned_read is the third SPECIAL entry: smoke the full
# write_curve_layout -> pruned_read chain at tiny scale so a signature
# change in _morton_sql/write_curve_layout/pruned_read (or the bench's
# curve-store prep) fails HERE, not in the driver's bench run
try:
    import tempfile

    from pyspark.sql import functions as F

    from console_datagen_spark.operators.layout_store import (
        pruned_read,
        write_curve_layout,
    )
    from console_datagen_spark.plans.layout import _morton_sql

    with tempfile.TemporaryDirectory() as _tmp:
        _li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        _ext = _li.agg(
            (F.max("l_orderkey") + 1).alias("mok"),
            (F.max("l_partkey") + 1).alias("mpk"),
        )
        _base = _li.crossJoin(F.broadcast(_ext)).select(
            "l_orderkey",
            "l_partkey",
            F.expr(
                "CAST(CAST(l_orderkey AS BIGINT) * 65536 DIV mok AS BIGINT)"
            ).alias("ok16"),
            F.expr(
                "CAST(CAST(l_partkey AS BIGINT) * 65536 DIV mpk AS BIGINT)"
            ).alias("pk16"),
        )
        write_curve_layout(
            _base,
            f"{_tmp}/store",
            curve=F.expr(_morton_sql("ok16", "pk16", "spark")),
            dims=["ok16", "pk16"],
        )
        pruned_read(
            spark, f"{_tmp}/store", {"ok16": (4096, 8191), "pk16": (4096, 8191)}
        ).count()
except Exception as exc:  # noqa: BLE001
    _bench_fails.append(("layout_pruned_read", str(exc).splitlines()[0][:200]))
try:
    from console_datagen_spark.sources.generator import generate_batch

    generate_batch(spark, 1000).schema  # noqa: B018
except Exception as exc:  # noqa: BLE001
    _bench_fails.append(("gen_records_1m", str(exc).splitlines()[0][:200]))
if _bench_fails:
    for _f in _bench_fails:
        print("BENCH-GATE FAIL:", _f, flush=True)
    sys.exit(1)
print(f"bench headline names: {len(HEADLINE)}/{len(HEADLINE)} OK", flush=True)

sf = "/root/testdata/sf0.01"
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
fails = []
for i, (name, fn) in enumerate(sorted(queries.items())):
    sql = oracles.get(name)
    if sql is None:
        got = fn(spark, sf)
        n = got.count()
        print(f"[{i+1}/{len(queries)}] {name}: rows-only, {n} rows", flush=True)
        continue
    try:
        got_pd = fn(spark, sf).toPandas()
        want_pd = con.execute(sql).fetchdf()
        got = normalize(got_pd)
        want = normalize(want_pd)
        assert list(got.columns) == list(want.columns), (
            f"columns {list(got.columns)} vs {list(want.columns)}"
        )
        assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
        # Driver-faithful value-hash gate: strict_canon does NOT fold
        # Decimal->float, so a Decimal('101951.00')-vs-"101951.0" drift
        # (the agg_salted_sum r4 escape) fails HERE at sf0.01, before any
        # driver run, instead of only in CORRECTNESS_r{N}.json.
        pd.testing.assert_frame_equal(
            strict_canon(got_pd), strict_canon(want_pd),
            check_dtype=False, obj=f"{name} (strict-hash)",
        )
        print(f"[{i+1}/{len(queries)}] {name}: OK ({len(got)} rows)", flush=True)
    except Exception as exc:
        msg = str(exc).splitlines()[0][:200]
        fails.append((name, msg))
        print(f"[{i+1}/{len(queries)}] {name}: FAIL {msg}", flush=True)

print(f"\n{len(queries) - len(fails)}/{len(queries)} green")
if fails:
    for name, msg in fails:
        print("FAIL:", name, msg)
    sys.exit(1)
