"""Full driver-contract verification (the /verify harness).

Runs the contract the way the driver does, in a fresh process with the
hostile-timezone probe: ``entry()`` smoke, then EVERY ``oracle_sql()``
query compared Spark-vs-DuckDB at sf0.01 with the shared normalizer.
Exit code 0 iff all match. Writes a one-line JSON summary to stdout.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if type(v).__name__ == "Decimal":
            return round(float(v), 5)
        if isinstance(v, float):
            return round(v, 5)
        if hasattr(v, "isoformat"):
            return pd.Timestamp(v).isoformat()
        return v

    for c in df.columns:
        df[c] = df[c].map(cell)
    return df.sort_values(
        by=list(df.columns), key=lambda s: s.astype(str)
    ).reset_index(drop=True)


def main() -> int:
    only = set(sys.argv[1:])  # optional query-name filter
    sf = "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_entry = E.entry(spark).count()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    fails, t0 = [], time.time()
    names = [n for n in qs if n in oracles and (not only or n in only)]
    for i, name in enumerate(names):
        try:
            got = normalize(qs[name](spark, sf).toPandas())
            want = normalize(con.execute(oracles[name]).fetchdf())
            assert list(got.columns) == list(want.columns), (
                f"columns {list(got.columns)} vs {list(want.columns)}"
            )
            assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, obj=name
            )
        except Exception as exc:  # noqa: BLE001
            fails.append({"name": name, "err": str(exc)[:300]})
        if (i + 1) % 25 == 0:
            print(
                f"# {i + 1}/{len(names)} checked, "
                f"{len(fails)} fail, {time.time() - t0:.0f}s",
                file=sys.stderr,
                flush=True,
            )
    print(
        json.dumps(
            {
                "entry_rows": n_entry,
                "checked": len(names),
                "failed": len(fails),
                "fails": fails,
                "sec": round(time.time() - t0, 1),
            }
        )
    )
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
