"""Fixture-table catalog: parquet loading + temp-view registration.

At test scale we re-register temp views per query; on a persistent
deployment these would be external tables in a metastore (or Delta/Iceberg)
so Catalyst gets statistics for join reordering. Scans stay declarative so
predicate pushdown / column pruning reach the parquet reader.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .session import ensure_engine_conf

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# parquet reader confs that change the inferred schema; nanosAsLong is the
# one ensure_engine_conf sets
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schemas: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table, inferring its schema once per file version.

    Parquet schema inference reads a footer in a Spark job — the largest
    share of a short query's catalog time. The inferred schema is cached
    per session under (path, size, mtime_ns, the reader confs above), so
    a rewritten file (a Spark-written directory gets a new mtime with its
    new part files) or a changed conf re-infers. The cache holds schemas
    only: every call still lists and scans the files, and no data or
    result is cached.
    """
    path = table_path(sf_dir, name)
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns,
           *(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    known = _schemas.setdefault(spark, {})
    schema = known.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    known[key] = df.schema
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view named after the table."""
    ensure_engine_conf(spark)
    out: dict[str, DataFrame] = {}
    for t in tables:
        df = load_table(spark, sf_dir, t)
        # Fixture `ts` encodings seen across generations:
        #  - timestamp[us] without UTC adjustment → Spark 4 TIMESTAMP_NTZ:
        #    cast to TIMESTAMP. Session TZ is pinned UTC (session.py), so the
        #    cast is wall-clock identity and unix_micros()/date functions work.
        #  - legacy timestamp[ns] read as raw bigint (nanosAsLong): truncate
        #    to µs exactly like DuckDB does when reading TIMESTAMP_NS.
        for f in df.schema.fields:
            if f.name != "ts":
                continue
            kind = f.dataType.simpleString()
            if kind == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            elif kind == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
