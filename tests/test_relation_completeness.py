"""Relation completeness (J2/J3) on a synthetic fixture.

A relation is dropped whole when one of its WAY members is missing or has
a ref that does not resolve (writer/relations.go:80-99). Relations without
way members stay complete. The fixture covers each case once, for a
polygon table (multipolygon assembly) and a ``type: relation`` table
(route rows with empty geometry).

The plan audit pins the one-pass shape of ``relation_tables``: with the
shared frontiers unpinned, every table re-executes the whole member
resolution, so the unpinned plan's exchange count is the cost of one pass.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql.group import GroupedData

from imposm3_spark.mapping.config import load_mapping_str
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA

MAPPING = """
tables:
  landuse:
    type: polygon
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: validated_geometry}
      - {name: type, type: mapping_value}
      - {name: area, type: area}
    mapping:
      landuse: [__any__]
  routes:
    type: relation
    columns:
      - {name: osm_id, type: id}
      - {name: type, type: mapping_value}
    mapping:
      route: [__any__]
"""


def _square(first_id: int, lon: float, lat: float, size: float) -> list[tuple]:
    return [
        (first_id, lon, lat),
        (first_id + 1, lon + size, lat),
        (first_id + 2, lon + size, lat + size),
        (first_id + 3, lon, lat + size),
    ]


NODES = (
    _square(1, 10.000, 50.000, 0.010)  # outer A
    + _square(5, 10.003, 50.003, 0.003)  # inner A
    + _square(11, 10.020, 50.000, 0.010)  # outer B
    + _square(21, 10.040, 50.000, 0.005)  # outer C
    + [(31, 10.060, 50.000), (32, 10.070, 50.000), (40, 10.080, 50.000)]
)

WAYS = [
    (101, [1, 2, 3, 4, 1]),  # outer A
    (102, [5, 6, 7, 8, 5]),  # inner A
    (103, [11, 12, 999, 14, 11]),  # node 999 does not exist
    (104, []),  # empty refs
    (105, [11, 12, 13, 14, 11]),  # outer B
    (106, [21, 22, 23, 24, 21]),  # outer C
    (107, [31, 32]),  # route way
]

MP = {"type": "multipolygon"}
RELATIONS = [
    (1, [(101, 1, "outer"), (102, 1, "inner")], {**MP, "landuse": "forest"}),
    (2, [(101, 1, "outer"), (777, 1, "inner")], {**MP, "landuse": "grass"}),  # missing way
    (3, [(106, 1, "outer"), (103, 1, "inner")], {**MP, "landuse": "grass"}),  # unresolvable ref
    (4, [(106, 1, "outer"), (104, 1, "inner")], {**MP, "landuse": "grass"}),  # empty refs
    (5, [(105, 1, "outer"), (105, 1, "outer")], {**MP, "landuse": "meadow"}),  # way listed twice
    (6, [(40, 0, "label")], {**MP, "landuse": "farm"}),  # node members only
    (7, [(107, 1, ""), (31, 0, "stop")], {"type": "route", "route": "bus"}),
    (8, [(107, 1, ""), (778, 1, "")], {"type": "route", "route": "bus"}),  # missing way
    (9, [(40, 0, "stop")], {"type": "route", "route": "hiking"}),  # no way members
    (10, [(106, 1, "outer")], {**MP, "landuse": "forest"}),
]


def _frames(spark):
    nodes = spark.createDataFrame([(i, lon, lat, {}, None) for i, lon, lat in NODES], NODE_SCHEMA)
    ways = spark.createDataFrame([(i, refs, {}, None) for i, refs in WAYS], WAY_SCHEMA)
    rels = spark.createDataFrame(
        [(i, [{"id": m, "type": t, "role": r} for m, t, r in members], tags, None)
         for i, members, tags in RELATIONS],
        RELATION_SCHEMA,
    )
    return nodes, ways, rels


def _merc_area(ring: list[tuple[float, float]]) -> float:
    k = 20037508.342789244 / 180.0
    pts = [(lon * k, math.log(math.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0) * k)
           for lon, lat in ring]
    return abs(sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]))) / 2.0


def _ring(first_id: int) -> list[tuple[float, float]]:
    return [(lon, lat) for i, lon, lat in NODES if first_id <= i < first_id + 4]


@pytest.fixture(scope="module")
def frames(spark):
    return _frames(spark)


@pytest.fixture(scope="module")
def tables(frames):
    nodes, ways, rels = frames
    pipe = ImportPipeline(load_mapping_str(MAPPING))
    coords = pipe.prepare_coords(nodes)
    out = pipe.relation_tables(rels, ways, coords)
    return {name: {r["osm_id"]: r for r in df.collect()} for name, df in out.items()}


def test_polygon_rows_only_for_complete_relations(tables):
    # 2 (missing way), 3 (unresolvable ref) and 4 (empty refs) are dropped;
    # 6 is complete but has no way to build a ring from
    assert set(tables["landuse"]) == {-1, -5, -10}
    assert tables["landuse"][-1]["type"] == "forest"
    assert tables["landuse"][-5]["type"] == "meadow"


def test_polygon_geometry_from_resolved_members(tables):
    rows = tables["landuse"]
    outer_a, inner_a = _merc_area(_ring(1)), _merc_area(_ring(5))
    assert rows[-1]["area"] == pytest.approx(outer_a - inner_a, rel=1e-4)
    # the way listed twice closes the same ring twice: shell plus an equal
    # hole, so the polygon row is kept with zero area
    assert not rows[-5]["area"]
    assert rows[-10]["area"] == pytest.approx(_merc_area(_ring(21)), rel=1e-4)
    assert all(r["geometry"] for r in rows.values())


def test_relation_rows_only_for_complete_relations(tables):
    # 8 has a missing way; 9 has no way members and stays complete
    assert set(tables["routes"]) == {-7, -9}
    assert tables["routes"][-7]["type"] == "bus"
    assert tables["routes"][-9]["type"] == "hiking"


def test_relation_only_matches_skip_the_ring_kernel(frames, monkeypatch):
    nodes, ways, rels = frames
    kernel_inputs = []
    apply = GroupedData.applyInPandas

    def capture(self, func, schema):
        kernel_inputs.append(self._df)
        return apply(self, func, schema)

    monkeypatch.setattr(GroupedData, "applyInPandas", capture)
    pipe = ImportPipeline(load_mapping_str(MAPPING))
    pipe.relation_tables(rels, ways, pipe.prepare_coords(nodes))
    (grouped,) = kernel_inputs
    # routes 7 and 8 have way members but only the `type: relation` table
    # matches them; 6 and 9 have no way members
    assert {r["rel_id"] for r in grouped.select("rel_id").distinct().collect()} == {1, 2, 3, 4, 5, 10}


def _exchange_count(df) -> int:
    """Exchange nodes in the physical plan, taken before execution."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan))


def test_unpinned_plan_resolves_members_once(frames, monkeypatch):
    nodes, ways, rels = frames
    monkeypatch.setattr(ImportPipeline, "_pin", lambda self, df: df)
    pipe = ImportPipeline(load_mapping_str(MAPPING))
    out = pipe.relation_tables(rels, ways, pipe.prepare_coords(nodes))
    assert _exchange_count(out["landuse"]) <= 12
    assert _exchange_count(out["routes"]) <= 10
