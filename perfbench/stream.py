"""The stream workload: the reference's produce-then-count loop.

Produce: ``rate_stream`` (rate-micro-batch, one tick per trigger) ->
``sawtooth_thin`` -> ``gen_select_exprs`` -> ``to_kafka_rows`` ->
``file_sink.parquet_segment_writer``. There is no Kafka broker, so the
parquet segment sink stands in for the topic. Triggers run back to back and
the run covers whole 50-tick sawtooth periods, so every run commits the same
number of records. Consume: a file source over the segments ->
``counters.count_records`` in update mode -> memory sink, run with
``availableNow``.

Check: the counted total equals the rows committed to the sink, and both equal
the rate law summed over the ticks the sink committed.
"""

from __future__ import annotations

import datetime as dt
import os
import time

# 10x the reference's 410-row peak: troughs (10 rows x 10) are bound by the
# per-batch floor, peaks (410 x 10) by the generator. A multiple of 410 keeps
# sawtooth_thin exact: each tick holds PEAK/410 whole cycles of `value % 410`.
ROWS_PER_TICK = 4100
PERIOD_TICKS = 50  # rate law period 50 s; rate-micro-batch advances 1 s a batch
WARMUP_TICKS = 3  # untimed; the first trigger also starts the query
SOURCE_PARTITIONS = 1  # one producer, as in the reference's producer-per-group
STREAM_TIMEOUT_S = 150.0


def expected_rows(ticks: int) -> int:
    from console_datagen_spark.functions.rate import RATE_PEAK, rate_for_millis_py

    per_cycle = ROWS_PER_TICK // RATE_PEAK
    return sum(per_cycle * rate_for_millis_py(i * 1000) for i in range(ticks))


def _progress_end(p) -> float:
    """Wall-clock end of a micro-batch, from its progress record."""
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _sink_batches(sink: str) -> int:
    """Batches the file sink committed, from its metadata log file names."""
    names = os.listdir(os.path.join(sink, "_spark_metadata"))
    ids = [int(n.split(".")[0]) for n in names if n.split(".")[0].isdigit()]
    return max(ids) + 1 if ids else 0


class StreamWorkload:
    def __init__(self, spark, out_dir: str, tracer) -> None:
        from console_datagen_spark.functions.rate import RATE_PEAK

        if ROWS_PER_TICK % RATE_PEAK:
            raise SystemExit("ROWS_PER_TICK must be a multiple of the rate-law peak")
        self.spark = spark
        self.out = out_dir
        self.tracer = tracer
        self.failures: list[dict] = []
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")

    def _records(self, seed: int):
        from console_datagen_spark.config import DataGenConfig
        from console_datagen_spark.naming import all_topic_names
        from console_datagen_spark.sources.generator import gen_select_exprs, to_kafka_rows
        from console_datagen_spark.streaming.generator_stream import rate_stream, sawtooth_thin

        c = DataGenConfig()
        topics = all_topic_names(c.consumer_group_count, c.share_group_count,
                                 c.streams_group_count, c.topics_per_member,
                                 c.topic_pattern)
        tr = self.tracer
        with tr.span("sources", "rate_stream"):
            ticks = rate_stream(self.spark, ROWS_PER_TICK, SOURCE_PARTITIONS, micro_batch=True)
        with tr.span("sources", "sawtooth_thin"):
            thinned = sawtooth_thin(ticks)
        with tr.span("sources", "gen_select_exprs"):
            ex = gen_select_exprs("spark", topics, seed=seed, id_col="value")
        records = thinned.selectExpr(
            "value AS record_id",
            f"{ex['key_json']} AS key_json",
            f"{ex['value_json']} AS value_json",
            f"{ex['topic']} AS topic",
            f"{ex['h_country']} AS h_country",
            f"{ex['h_animal']} AS h_animal",
        )
        with tr.span("sources", "to_kafka_rows"):
            return to_kafka_rows(records)

    def produce(self, seed: int, seconds: float):
        """Run back-to-back triggers: WARMUP_TICKS untimed, then whole periods
        until at least ``seconds`` passed. Any PERIOD_TICKS consecutive ticks
        hold the same number of records, so the window need not start at 0."""
        from console_datagen_spark.streaming.file_sink import parquet_segment_writer

        sink = os.path.join(self.out, "sink")
        ckpt = os.path.join(self.out, "checkpoint")
        rows = self._records(seed)
        with self.tracer.span("streaming", "start"):
            t0, wall0 = time.perf_counter(), time.time()
            q = parquet_segment_writer(rows, sink, ckpt, trigger_seconds=0).start()
        target = WARMUP_TICKS + PERIOD_TICKS
        window_start = None
        try:
            while True:
                last = q.lastProgress
                done = last["batchId"] + 1 if last else 0
                if window_start is None and done >= WARMUP_TICKS:
                    window_start = time.perf_counter()
                if done >= target:
                    if time.perf_counter() - window_start >= seconds:
                        break
                    target += PERIOD_TICKS
                if not q.isActive or time.perf_counter() - t0 > STREAM_TIMEOUT_S:
                    raise RuntimeError(f"produce stream stopped early: {q.exception()}")
                time.sleep(0.005)
        finally:
            with self.tracer.span("streaming", "stop"):
                q.stop()
        progress = {p["batchId"]: p for p in q.recentProgress}
        warm_end = _progress_end(progress[WARMUP_TICKS - 1])
        return {
            "sink": sink,
            "ticks": target,
            "progress": [progress[i] for i in range(WARMUP_TICKS, target)],
            "setup_end": t0 + (warm_end - wall0),
            "wall_s": _progress_end(progress[target - 1]) - warm_end,
            "records": expected_rows(target) - expected_rows(WARMUP_TICKS),
        }

    def count(self, sink: str):
        from pyspark.sql import functions as F

        from console_datagen_spark.config import DataGenConfig
        from console_datagen_spark.streaming.counters import count_records

        spark = self.spark
        schema = spark.read.parquet(sink).schema
        partitions = DataGenConfig().partitions_per_topic
        t0 = time.perf_counter()
        env = spark.readStream.schema(schema).parquet(sink).select(
            "topic", F.pmod(F.hash("key"), F.lit(partitions)).alias("partition")
        )
        with self.tracer.span("streaming", "count_records"):
            counts = count_records(env)
        cq = (
            counts.writeStream.format("memory")
            .queryName("perfbench_counts")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(self.out, "count-checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        if not cq.awaitTermination(STREAM_TIMEOUT_S):
            cq.stop()
            raise RuntimeError("count stream did not finish")
        if cq.exception():
            raise RuntimeError(f"count stream failed: {cq.exception()}")
        wall = time.perf_counter() - t0
        # update mode appends a row per key change; counts only grow
        counted = spark.sql(
            "SELECT coalesce(sum(c), 0) FROM (SELECT max(count) AS c FROM perfbench_counts "
            "GROUP BY cluster, topic, partition)"
        ).collect()[0][0]
        return {"wall_s": wall, "counted": int(counted), "progress": list(cq.recentProgress)}

    def run(self, seed: int, seconds: float) -> dict:
        self.tracer.mark_timed(self.spark)
        prod = self.produce(seed, seconds)
        cnt = self.count(prod["sink"])
        # check, outside the timed window
        sink_rows = self.spark.read.parquet(prod["sink"]).count()
        law = expected_rows(_sink_batches(prod["sink"]))
        correct = cnt["counted"] == sink_rows == law
        if not correct:
            self.failures.append({
                "op": "count", "phase": "check", "type": "Mismatch",
                "message": f"counted {cnt['counted']}, sink {sink_rows}, rate law {law}",
            })
        periods = (prod["ticks"] - WARMUP_TICKS) // PERIOD_TICKS
        samples = [p["durationMs"]["triggerExecution"] / 1e3 for p in prod["progress"]]
        return {
            "setup_end": prod["setup_end"],
            "checker_s": 0.0,  # the stream is checked after the timed window
            "samples": samples,
            "passes": [(prod["wall_s"] + cnt["wall_s"]) / periods] * periods,
            "ops": [],
            "attempted": len(samples) + 1,  # the micro-batches and the count phase
            "failed": 0 if correct else 1,
            "correct": correct,
            "produce": prod,
            "count": cnt,
        }

    def layer_metrics(self, result: dict) -> dict[str, float]:
        prod, cnt = result["produce"], result["count"]
        out: dict[str, float] = {}
        dur = [p["durationMs"] for p in prod["progress"]]
        keys = {
            "streaming.trigger_ms": "triggerExecution",
            "streaming.add_batch_ms": "addBatch",
            "streaming.planning_ms": "queryPlanning",
            "streaming.latest_offset_ms": "latestOffset",
            "streaming.wal_commit_ms": "walCommit",
            "streaming.commit_ms": "commitOffsets",
        }
        for metric, key in keys.items():
            out[metric] = float(sum(d.get(key, 0) for d in dur))
        out["streaming.overhead_ms"] = out["streaming.trigger_ms"] - out["streaming.add_batch_ms"]
        trig = sorted(d["triggerExecution"] for d in dur)
        out["streaming.batch_p90_ms"] = float(trig[-(-9 * len(trig) // 10) - 1])
        out["streaming.produce_records_per_s"] = prod["records"] / prod["wall_s"]
        out["streaming.count_records_per_s"] = cnt["counted"] / cnt["wall_s"]
        ops = [op for p in cnt["progress"] for op in (p["stateOperators"] or [])]
        last = (cnt["progress"][-1]["stateOperators"] or []) if cnt["progress"] else []
        out["streaming.state_rows"] = float(sum(op["numRowsTotal"] for op in last))
        out["streaming.state_bytes"] = float(sum(op["memoryUsedBytes"] for op in last))
        out["streaming.state_commit_ms"] = float(sum(op["commitTimeMs"] for op in ops))
        files = size = 0
        for root, dirs, names in os.walk(prod["sink"]):
            dirs[:] = [d for d in dirs if d != "_spark_metadata"]
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        out["streaming.sink_files"] = float(files)
        out["streaming.sink_bytes"] = float(size)
        out["sources.records"] = float(prod["records"])
        return out
