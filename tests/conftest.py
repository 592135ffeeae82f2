import pytest

from imposm3_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("imposm3-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def jobs_fired(spark):
    """jobs_fired(group, fn) runs fn() under its own job group and returns
    (fn's result, the number of Spark jobs that group fired)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def codegen_compiles(spark):
    """codegen_compiles(fn) runs fn() and returns (fn's result, the number
    of generated classes the JVM compiled meanwhile, from Spark's
    CodegenMetrics)."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(fn):
        before = timer.getCount()
        out = fn()
        return out, timer.getCount() - before

    return run
