"""SparkSession factory with scale-oriented defaults.

Tuned for the test harness (local[N], single JVM) but every setting is the
one we'd want on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold sized for dimension
tables, Arrow enabled for the pandas-UDF geometry kernel.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "imposm3-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # executor python workers must be able to import this package (pandas
    # UDFs are cloudpickled with a module reference)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    # getOrCreate() would re-apply every conf below to a running session
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        # At 100 TB the ref-resolution joins (way->coords) are skew-prone
        # (mega-relations reference millions of nodes); AQE splits those.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Mapping match tables / GeoJSON clip features are tiny: broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas UDFs (geometry assembly, WKB encode).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scans at sane split sizes so a 100 TB input becomes ~1M tasks,
        # not 10k giant ones.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Long-running multi-query driver hygiene (hundreds of queries per
        # session): bound the status store — AppStatusListener/
        # SQLAppStatusListener retain 1000 jobs/stages/executions by
        # default and trim SYNCHRONOUSLY when the threshold hits, which
        # lands as a mid-loop stall on whatever query is running. (A
        # 45 s spark.cleaner.periodicGC.interval was also A/B'd here and
        # rejected: it raised mid-query accumulator-cleanup races
        # (14 -> 35 DAGScheduler errors per loop) with no wall-time win —
        # bench.py already drains cleanup per query.)
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.enabled", "false")
        # console progress bars interleave with stdout in captured logs and
        # can corrupt machine-read output (bench.py's JSON line)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # tz-less parquet timestamp[us] -> TIMESTAMP_NTZ (representation-
        # independent; Spark 4 default, pinned so a changed default or a
        # foreign session can't flip timestamp semantics)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert explicitly (see
        # benchqueries._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
