"""spread_small_input (round 11): scale-adaptive input repartition ahead
of compute-amplifying text kernels.

Pins the helper's contract: fires on a sub-split scan, is idempotent
across composed operators (Repartition upstream), defers to a
checkpointed pin's producer (LogicalRDD), honors the off switch —
and leaves operator VALUES untouched (the winnow pair set is identical
with the spread on and off)."""

import os

import pytest
from pyspark.sql import functions as F

from imposm3_spark.datapipe import sampling
from imposm3_spark.datapipe.sampling import spread_small_input

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_spread_fires_on_small_scan(spark, docs):
    out = spread_small_input(docs)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_idempotent_on_composed_pipelines(spark, docs):
    once = spread_small_input(docs)
    twice = spread_small_input(once.filter(F.length("text") > 0))
    plan = twice._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Repartition") == 1


def test_spread_defers_to_checkpoint_producer(spark, docs):
    pin = spread_small_input(docs).localCheckpoint(eager=True)
    out = spread_small_input(pin)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan  # the pin's layout is kept as-is


def test_spread_kill_switch(spark, docs, monkeypatch):
    monkeypatch.setattr(sampling, "SPREAD_SMALL_INPUTS", False)
    out = spread_small_input(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan


def test_winnow_pairs_values_invariant_under_spread(spark, docs, monkeypatch):
    from imposm3_spark.datapipe import simjoin as sj

    def rows():
        got = sj.winnow_pairs(docs, k=20, w=8, min_shared=2).collect()
        return sorted((r["id_a"], r["id_b"], r["shared"]) for r in got)

    on = rows()
    monkeypatch.setattr(sampling, "SPREAD_SMALL_INPUTS", False)
    off = rows()
    assert on == off and len(on) > 0


def test_spread_ignores_node_names_in_literals(spark, docs):
    """The idempotence guard reads plan node classes: a fresh scan filtered
    on a literal that spells a node name is still spread."""
    out = spread_small_input(docs.filter(F.col("text") != "Repartition LogicalRDD"))
    top = out._jdf.queryExecution().optimizedPlan()
    assert top.getClass().getSimpleName() == "Repartition"


def test_spread_split_size_read_from_session(spark, docs):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # every scan now fills its splits: no spread
    try:
        out = spread_small_input(docs)
    finally:
        spark.conf.set(key, old)
    assert out is docs
