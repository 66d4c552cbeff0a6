"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  curation_batch   DataFrame-API curation pipelines, one client, noop sink
  stream_datagen   sawtooth record generator -> parquet segments -> counters
  interactive_sql  short Spark SQL queries, one client, noop sink (not in
                   BENCHMARK.json: it does not fit the run budget)

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the engine's
layer boundaries and prints the per-layer metrics instead. Either way the last
line of standard output is ``{"correct", "attempted", "failed", "metrics"}``
and a full report (failures, per-op samples, spans, box state) is written to
``.perfbench_reports/`` in the current directory. Scratch output (sinks,
checkpoints, Spark local dirs) goes to ``.perfbench_out/`` and is removed at
exit. The engine is imported from the directory above this one.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
WORKLOADS = ("interactive_sql", "curation_batch", "stream_datagen")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "makespan_s": "s",
    "success_ratio": "ratio",
    "peak_rss_mb": "MB",
}
# layers each workload is predicted not to touch (checked on traced runs)
ZERO_PREDICTIONS = {
    "interactive_sql": ("operators.py_", "caching.holds", "caching.eager_holds",
                        "caching.hold_s"),
    "curation_batch": (),
    "stream_datagen": ("catalog.", "plans.", "caching.holds", "caching.eager_holds",
                       "caching.hold_s"),
}


def box_state() -> dict:
    """Load, free memory and CPU time stolen by the host (jiffies since boot):
    a shift in the machine's capacity shows here and not in the metrics."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "mem_available_kb": avail, "cpu_jiffies": sum(cpu),
            "steal_jiffies": cpu[7] if len(cpu) > 7 else 0}


def percentile(samples: list[float], q: float) -> float:
    """Linearly interpolated percentile: with few distinct ops a nearest-rank
    pick jumps between ops from run to run."""
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def import_engine():
    """The engine must come from this checkout, not from anywhere else."""
    sys.path.insert(0, ROOT)
    try:
        import console_datagen_spark
    except ImportError as exc:
        raise SystemExit(f"engine not importable from {ROOT}: {exc}")
    if not os.path.abspath(console_datagen_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from outside {ROOT}")


def start_session(tracer, workload: str, out: str):
    from console_datagen_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    with tracer.span("session", "get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def run(args, out: str) -> dict:
    from tracing import NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    box_start = box_state()
    spark, cores = start_session(tracer, args.workload, out)
    try:
        if args.workload == "stream_datagen":
            from stream import StreamWorkload

            wl = StreamWorkload(spark, out, tracer)
        else:
            from batch import CURATION_BATCH, INTERACTIVE_SQL, BatchWorkload

            interactive = args.workload == "interactive_sql"
            wl = BatchWorkload(
                args.workload, INTERACTIVE_SQL if interactive else CURATION_BATCH,
                spark, SF_DIR, tracer, interactive,
            )
        if args.trace:
            tracer.install()
        res = wl.run(args.seed, args.seconds)
        rss = peak_rss_mb(spark)
        layers = {}
        if args.trace:
            layers = tracer.layer_metrics(cores)
            if args.workload == "stream_datagen":
                layers.update(wl.layer_metrics(res))
    finally:
        stop_session(spark)
    end_to_end = {
        "setup_s": res["setup_end"] - PROCESS_START - res["checker_s"],
        "latency_p50_s": percentile(res["samples"], 0.50),
        "latency_p75_s": percentile(res["samples"], 0.75),
        "makespan_s": percentile(res["passes"], 0.50),
        "success_ratio": 1 - res["failed"] / res["attempted"],
        "peak_rss_mb": rss,
    }
    zero_violations = [
        k for k, v in layers.items()
        if v and k.startswith(ZERO_PREDICTIONS[args.workload])
    ]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "sf_dir": os.path.relpath(SF_DIR, ROOT),
        "box_start": box_start,
        "box_end": box_state(),
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "failures": wl.failures,
        "checker_s": res["checker_s"],
        "passes": res["passes"],
        "ops": res["ops"],
        "samples": res["samples"],
        "end_to_end": end_to_end,
        "per_layer": layers,
        "zero_prediction_violations": zero_violations if args.trace else None,
        "spans": getattr(tracer, "spans", []),
    }


def _finite(x):
    if isinstance(x, float) and not math.isfinite(x):
        return None
    if isinstance(x, dict):
        return {k: _finite(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_finite(v) for v in x]
    return x


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_engine()
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"fixture tables missing: {SF_DIR}")
    out = os.path.join(os.getcwd(), ".perfbench_out", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    # Python workers import the engine too, from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every temporary file inside the working directory: Spark's local
    # dirs, Python's and the JVM's temp dirs, and no JVM perf-data file in /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}") if p
    )
    try:
        report = run(args, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    reports = os.path.join(os.getcwd(), ".perfbench_reports")
    os.makedirs(reports, exist_ok=True)
    path = os.path.join(
        reports, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(_finite(report), f, indent=1)
    for fail in report["failures"]:
        print(f"failed op: {fail['op']} ({fail['phase']}) {fail['type']}: {fail['message']}",
              file=sys.stderr)
    if report["zero_prediction_violations"]:
        print(f"zero predictions not held: {report['zero_prediction_violations']}",
              file=sys.stderr)
    if args.trace:
        print("end-to-end while traced: " + json.dumps(_finite(report["end_to_end"])),
              file=sys.stderr)
        from tracing import LAYER_METRICS

        metrics = {k: {"value": report["per_layer"][k], "unit": u}
                   for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": report["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
