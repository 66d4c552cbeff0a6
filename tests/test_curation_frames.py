"""Each curation frame is computed once: literal vectors, holds, schema cache.

- Literal vectors parsed from one SQL string (``lit_dot``) give the same
  bits as the element-by-element ``dot`` over ``F.lit`` arrays.
- A final global sort reads a held child, so the range-partition sampling
  job and the map stage do not both run the costly plan below it.
- ``sample_kcenter`` holds lazily: no blocking count job.
- ``load_table`` infers a parquet schema once per file version.
"""

from __future__ import annotations

import math
import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from console_datagen_spark import caching, catalog
from console_datagen_spark.functions.vector import dot, lit_dot, sql_double_array
from console_datagen_spark.plans import all_queries

# signed zero, a plain decimal, a subnormal, 17-significant-digit values and
# extremes of the exponent range: all must survive repr() -> SQL -> double
AWKWARD = [
    -0.0, 1e-05, 1e-310, 0.1, 1 / 3, 0.12345678901234568, -2.718281828459045,
    5e-324, 1.7976931348623157e150, -9.999999999999999e-151, 123456789.12345679,
]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_sql_double_array_round_trips_every_bit(spark):
    got = spark.range(1).select(F.expr(sql_double_array(AWKWARD)).alias("a")).first()["a"]
    assert [_bits(x) for x in got] == [_bits(x) for x in AWKWARD]


def test_lit_dot_matches_lambda_dot_bitwise(spark):
    rows = [
        (0, [1.0] * len(AWKWARD)),
        (1, list(reversed(AWKWARD))),
        (2, [x * 3.0 for x in AWKWARD]),
        (3, [-0.0] * len(AWKWARD)),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    lit_plane = F.array(*[F.lit(float(x)) for x in AWKWARD])
    out = (
        df.select(
            "id",
            lit_dot("v", AWKWARD).alias("sql"),
            dot(F.col("v"), lit_plane).alias("lam"),
        )
        .orderBy("id")
        .collect()
    )
    assert len(out) == len(rows)
    for r in out:
        assert _bits(r["sql"]) == _bits(r["lam"]), (r["id"], r["sql"], r["lam"])


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_literal_rejected(bad):
    with pytest.raises(ValueError, match="non-finite"):
        sql_double_array([0.5, bad])


def _plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


@pytest.mark.parametrize("name", ["dedup_embedding", "mm_resize_jpeg"])
def test_final_sort_reads_held_child(spark, sf_dir, name):
    df = all_queries()[name].spark(spark, sf_dir)
    try:
        lines = _plan_lines(df)
        i = next(k for k, ln in enumerate(lines) if "Exchange rangepartitioning" in ln)
        child = lines[i + 1].strip()
        assert child.startswith("+- InMemoryTableScan"), "\n".join(lines[:12])
    finally:
        caching.release_all_cache_slots()


def test_kcenter_makes_no_eager_hold(spark, sf_dir, monkeypatch):
    eager: list[bool] = []
    hold = caching.CacheSlot.hold

    def spy(self, df, materialize=True):
        eager.append(materialize)
        return hold(self, df, materialize=materialize)

    monkeypatch.setattr(caching.CacheSlot, "hold", spy)
    try:
        all_queries()["sample_kcenter"].spark(spark, sf_dir)
    finally:
        caching.release_all_cache_slots()
    assert eager, "sample_kcenter holds its rounds"
    assert not any(eager), f"eager holds: {eager}"


def _jobs_during(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once_per_file_version(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(path)
    first, jobs = _jobs_during(
        spark, "schema-cache-first", lambda: catalog.load_table(spark, str(tmp_path), "t")
    )
    assert jobs, "parquet schema inference launches a job"
    again, jobs = _jobs_during(
        spark, "schema-cache-hit", lambda: catalog.load_table(spark, str(tmp_path), "t")
    )
    assert jobs == []
    assert again.schema == first.schema
    # files are still scanned on every load: the data is never cached
    assert again.count() == 3

    pd.DataFrame({"a": [7], "b": ["x"]}).to_parquet(path)
    rewritten, jobs = _jobs_during(
        spark, "schema-cache-rewrite", lambda: catalog.load_table(spark, str(tmp_path), "t")
    )
    assert jobs, "a rewritten file re-infers its schema"
    assert rewritten.columns == ["a", "b"]
    assert [tuple(r) for r in rewritten.collect()] == [(7, "x")]
