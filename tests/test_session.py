"""get_spark on a running session hands it back unchanged; the session it
builds keeps a generated-code cache sized for a replication batch."""

from imposm3_spark.session import CODEGEN_CACHE_ENTRIES, get_spark


def test_get_spark_returns_running_session_unchanged(spark):
    assert get_spark("x", shuffle_partitions=7) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_codegen_cache_sized_by_constant(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
