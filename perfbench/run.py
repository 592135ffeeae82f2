"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload osm_city --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
--seed into .bench_work/ under the checkout; the program under test is the
checkout's imposm3_spark package on a local[<cores>] Spark session. With
--trace 0 the last line holds the end-to-end metrics, with --trace 1 the
per-layer metrics (see README.md). The exit code is non-zero when a
correctness check fails or the package cannot be imported.

--smoke shrinks every input to a few seconds of work, for the benchmark's
own tests; --tamper additionally corrupts one expected value, so the gate
must fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("osm_city", "query_mix")
SCOPES = ("import", "batch", "chain", "pass")  # spans the Spark counters roll up to

END_TO_END = {"setup_s": "s", "step_s": "s", "items_per_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    import query_mix

    units = {
        "sources.read_pbf_s": "s",
        "sources.elements": "count",
        "sources.read_osc_s": "s",
        "pipeline.coords_s": "s",
        "pipeline.ways_s": "s",
        "pipeline.relations_s": "s",
        "pipeline.members_s": "s",
        "pipeline.nodes_s": "s",
        "pipeline.generalize_s": "s",
        "pipeline.gen_refresh_s": "s",
        "sinks.write_parquet_s": "s",
        "sinks.rows": "count",
        "diff.state_s": "s",
        "diff.frontier_s": "s",
        "diff.rebuild_s": "s",
        "diff.frontier_elements": "count",
        "diff.rows_rebuilt_per_change": "ratio",
        "expire.tiles_s": "s",
        "expire.tiles": "count",
    }
    for stage in ("score", "exact", "neardup", "decont", "pack"):
        units[f"datapipe.{stage}_s"] = "s"
        units[f"datapipe.{stage}.kept_share"] = "ratio"
    units["queries.build_s"] = "s"
    units["queries.action_s"] = "s"
    for name in query_mix.QUERIES:
        units[f"queries.{name}.build_s"] = "s"
        units[f"queries.{name}.action_s"] = "s"
        units[f"queries.{name}.jobs"] = "count"
    for scope in SCOPES:
        units[f"spark.{scope}.jobs"] = "count"
        units[f"spark.{scope}.tasks"] = "count"
        units[f"spark.{scope}.shuffle_bytes"] = "bytes"
        units[f"spark.{scope}.spill_bytes"] = "bytes"
        units[f"spark.{scope}.busy_share"] = "ratio"
    units["spark.pinned_bytes"] = "bytes"
    units["trace.step_s"] = "s"
    units["trace.items_per_s"] = "1/s"
    return units


def _isolate(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside workdir."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = tmp


def _scope_metrics(tracer, cores: int) -> dict:
    """Median per step of each scope's Spark counters."""
    from common import median

    out = {}
    for scope in SCOPES:
        spans = tracer.named(scope)
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
            out[f"spark.{scope}.{key}"] = (median([s.counters[key] for s in spans]) if spans else 0, unit)
        busy = [s.counters["run_ms"] / 1000 / (s.secs * cores) for s in spans]
        out[f"spark.{scope}.busy_share"] = (median(busy) if busy else 0, "ratio")
    return out


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and its Python workers) ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--tamper", action="store_true")
    args = ap.parse_args()

    t_launch = time.perf_counter()
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "imposm3_spark")):
        print(f"no imposm3_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".bench_work")
    workdir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(workdir)

    import importlib

    from common import Context
    from spans import Tracer

    from imposm3_spark.session import get_spark

    module = importlib.import_module(args.workload)
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    cores = spark.sparkContext.defaultParallelism
    ctx = Context(
        spark=spark,
        seed=args.seed,
        seconds=args.seconds,
        tracer=Tracer(spark, enabled=bool(args.trace)),
        workdir=workdir,
        smoke=args.smoke,
        tamper=args.tamper,
        launch_s=time.perf_counter() - t_launch,
    )
    try:
        measured = module.run(ctx)
        if ctx.traced:
            layers = {n: (0, u) for n, u in per_layer_units().items()}
            layers.update({k: v for k, v in measured.items() if k in layers})
            layers.update(_scope_metrics(ctx.tracer, cores))
            layers["trace.step_s"] = (measured["step_s"][0], "s")
            layers["trace.items_per_s"] = (measured["items_per_s"][0], "1/s")
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
            metrics = layers
        else:
            metrics = {k: measured[k] for k in END_TO_END}
    finally:
        _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"step walls: {[round(w, 2) for w in ctx.step_walls]}", file=sys.stderr)
    for msg in ctx.checks:
        print(f"check failed: {msg}", file=sys.stderr)
    correct = not ctx.checks
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
