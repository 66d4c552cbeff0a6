"""The two batch workloads: frozen query lists, the check pass, the timed loop.

Each workload is a closed loop with one client: a query is built and written
to the noop sink, and the next one starts when it returns. Before timing,
one check pass builds every query once and collects its output, compared with
the registry's DuckDB oracle; ``interactive_sql`` then runs one untimed pass of
the timed op. Both are the warm-up: their Spark time counts in ``setup_s``,
the oracle comparison's own time is the checker's and is left out.
"""

from __future__ import annotations

import random
import re
import time

# Frozen by name. Membership is checked at set-up: an unregistered name fails
# the run, so a registry change cannot silently shrink a workload.
INTERACTIVE_SQL = (
    "q1_scan_count",
    "q3_keyed_count",
    "q8_inner_join",
    "q10_anti_join",
    "q12_topk_per_key",
    "q14_lag_delta",
    "q17_json_extract",
    "text_quality",
    "win_range_frame",
    "q_pricing_summary",
    "cdc_latest_state",
    "dq_dp_noisy_release",
    "pipeline_end_to_end",
)
CURATION_BATCH = (
    "dedup_embedding",  # lazy cache holds
    "sample_kcenter",  # an eager hold and a driver action every round
    "mm_resize_jpeg",  # Python Arrow kernel (mapInPandas)
)

# physical-plan node names that start Python workers
PYTHON_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsIn\w+"
    r"|AggregateInPandas|WindowInPandas|ArrowWindowPython|ArrowAggregatePython)\b"
)

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def describe(exc: BaseException) -> dict:
    """A failed op's record: exception type and the message's first line."""
    lines = str(exc).strip().splitlines()
    return {"type": type(exc).__name__, "message": lines[0][:300] if lines else ""}


class BatchWorkload:
    def __init__(self, name, names, spark, sf_dir, tracer, interactive):
        from console_datagen_spark.plans import all_queries

        registry = all_queries()
        missing = [n for n in names if n not in registry]
        if missing:
            raise SystemExit(f"{name}: unregistered queries {missing}")
        no_oracle = [n for n in names if registry[n].oracle is None]
        if no_oracle:
            raise SystemExit(f"{name}: queries without a DuckDB oracle {no_oracle}")
        self.name = name
        self.specs = {n: registry[n] for n in names}
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.interactive = interactive
        self.failures: list[dict] = []
        self.mismatched: set[str] = set()
        self.checker_s = 0.0

    # -- one op ---------------------------------------------------------------
    def _build(self, name):
        with self.tracer.op(self.spark, name, "build"):
            return self.specs[name].spark(self.spark, self.sf_dir)

    def _release(self):
        from console_datagen_spark import caching

        caching.release_all_cache_slots()

    def run_op(self, name: str, record: bool = True) -> float:
        """Build + noop write; returns seconds, or inf if the op raised."""
        t0 = time.perf_counter()
        try:
            df = self._build(name)
            with self.tracer.op(self.spark, name, "write"):
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a broken op must not stop the run
            if record:
                self.failures.append({"op": name, "phase": "timed", **describe(exc)})
            dt = float("inf")
        self._release()
        self.tracer.flush(self.spark)
        return dt

    # -- check pass (warm-up + correctness) -----------------------------------
    def check_pass(self, order) -> None:
        import duckdb
        import pandas as pd

        from tests.test_oracle import normalize, strict_canon

        c0 = time.perf_counter()
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.checker_s += time.perf_counter() - c0
        for name in order:
            try:
                df = self._build(name)
                if self.interactive:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    node = PYTHON_NODE.search(plan)
                    if node:
                        raise SystemExit(
                            f"{self.name}: {name} plans a Python-worker node "
                            f"({node.group(1)}); the workload must not hold one"
                        )
                got = df.toPandas()
            except Exception as exc:  # noqa: BLE001
                self.failures.append({"op": name, "phase": "check", **describe(exc)})
                self._release()
                continue
            self._release()
            c0 = time.perf_counter()
            try:
                want = con.execute(self.specs[name].oracle).fetchdf()
                a, b = normalize(got), normalize(want)
                if list(a.columns) != list(b.columns):
                    raise AssertionError(f"columns {list(a.columns)} vs {list(b.columns)}")
                if len(a) != len(b):
                    raise AssertionError(f"rows {len(a)} vs {len(b)}")
                pd.testing.assert_frame_equal(a, b, check_dtype=False, obj=name)
                pd.testing.assert_frame_equal(
                    strict_canon(got), strict_canon(want), check_dtype=False,
                    obj=f"{name} (strict)",
                )
            except AssertionError as exc:
                self.mismatched.add(name)
                self.failures.append({"op": name, "phase": "oracle", **describe(exc)})
            self.checker_s += time.perf_counter() - c0
        con.close()

    # -- the workload ---------------------------------------------------------
    def run(self, seed: int, seconds: float) -> dict:
        rng = random.Random(seed)
        order = list(self.specs)
        rng.shuffle(order)
        self.check_pass(order)
        if self.interactive:
            # short queries keep warming for several passes: the first timed
            # pass after the check pass alone ran ~20% slow and doubled the
            # run-to-run spread. The pipelines' spread did not change enough
            # to pay for an extra pass within the run budget.
            for name in order:
                self.run_op(name, record=False)
        setup_end = time.perf_counter()
        self.tracer.mark_timed(self.spark)
        passes: list[float] = []
        ops: list[dict] = []
        while not passes or sum(passes) < seconds:
            rng.shuffle(order)
            p0 = time.perf_counter()
            for name in order:
                dt = self.run_op(name)
                ops.append({"op": name, "s": float("inf") if name in self.mismatched else dt})
            passes.append(time.perf_counter() - p0)
        # a failed op sorts above every success: it counts as the whole window
        samples = [min(op["s"], sum(passes)) for op in ops]
        return {
            "setup_end": setup_end,
            "checker_s": self.checker_s,
            "samples": samples,
            "passes": passes,
            "ops": ops,
            "attempted": len(ops),
            "failed": sum(1 for op in ops if op["s"] == float("inf")),
            "correct": not self.mismatched,
        }
