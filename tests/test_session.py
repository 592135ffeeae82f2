"""get_spark on a running session hands it back unchanged."""

from imposm3_spark.session import get_spark


def test_get_spark_returns_running_session_unchanged(spark):
    assert get_spark("x", shuffle_partitions=7) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
