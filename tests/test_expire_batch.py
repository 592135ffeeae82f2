"""Tile expiry wired through a diff batch (T7 in apply_batch context)."""

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.update import (
    OsmState,
    apply_changes_to_state,
    compute_frontier,
    expired_tile_list,
    expired_tiles_for_batch,
    pin_state_and_frontier,
)
from imposm3_spark.expire.tiles import nodes_tiles, point_tiles
from imposm3_spark.mapping.config import load_mapping_str
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import CHANGE_SCHEMA, NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA

MAPPING = """
tables:
  pois:
    type: point
    mapping: {amenity: [cafe]}
    columns: [{name: osm_id, type: id}]
  paths:
    type: linestring
    mapping: {highway: [path]}
    columns: [{name: osm_id, type: id}]
"""


def test_expired_tiles_for_batch(spark):
    mapping = load_mapping_str(MAPPING)
    pipe = ImportPipeline(mapping)
    nodes = spark.createDataFrame(
        [
            (1, 3.0010, 1.0010, {"amenity": "cafe"}, None),
            (10, 3.0, 2.0, {}, None),
            (11, 3.05, 2.0, {}, None),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame([(100, [10, 11], {"highway": "path"}, None)], WAY_SCHEMA)
    rels = spark.createDataFrame(
        [], "id bigint, members array<struct<id:bigint,type:tinyint,role:string>>, tags map<string,string>"
    )
    state = OsmState(nodes, ways, rels)

    # the batch moves node 1 and node 10 (which drags way 100 into the frontier)
    changes = spark.createDataFrame(
        [
            (0, "modify", "node", (1, 3.5, 1.5, {"amenity": "cafe"}, None), None, None),
            (1, "modify", "node", (10, 3.01, 2.0, {}, None), None, None),
        ],
        CHANGE_SCHEMA,
    )
    new_state = apply_changes_to_state(state, changes)
    frontier = compute_frontier(state, new_state, changes)
    tiles = {(r["z"], r["x"], r["y"]) for r in expired_tiles_for_batch(pipe, state, new_state, frontier).collect()}

    # old and new node positions both expired
    assert set(point_tiles(3.0010, 1.0010, 14)) <= tiles
    assert set(point_tiles(3.5, 1.5, 14)) <= tiles
    # the dependent way's line tiles (old and new first-node) expired
    assert set(point_tiles(3.05, 2.0, 14)) & tiles  # shared endpoint region
    # node 10 is UNMAPPED: it expires only through way 100's line walk,
    # not as its own padded point (match-aware expiry,
    # test/expire_tiles_test.go:100-104)
    assert len(tiles) >= 5


# ---- exact tile sets at max_zoom=18 -------------------------------------
#
# One state and one batch hold five cases, each in its own 0.1-degree band
# of longitude near lat 1, so a case's tiles are the batch's tiles inside
# its band. Every geometry spans a few z18 tiles: line walks and bbox fills
# all stay at z18, and the expected sets come from the tile primitives on
# explicit coordinates.

EXACT_MAPPING = """
tables:
  pois:
    type: point
    mapping: {amenity: [cafe]}
    columns: [{name: osm_id, type: id}]
  paths:
    type: linestring
    mapping: {highway: [path]}
    columns: [{name: osm_id, type: id}]
  landuse:
    type: polygon
    mapping: {landuse: [__any__]}
    columns: [{name: osm_id, type: id}]
  routes:
    type: relation
    mapping: {route: [__any__]}
    columns: [{name: osm_id, type: id}]
"""

ZOOM = 18
PT = {
    # band 1: a path whose second ref (12) is not in the node state
    11: (0.1000, 1.0), 13: (0.1050, 1.0), 14: (0.1080, 1.0020),
    # band 2: a route whose second member way (299) is not in the state
    21: (0.2000, 1.0), 22: (0.2030, 1.0), 23: (0.2030, 1.0030),
    # band 3: a route with one untagged member way
    31: (0.3000, 1.0), 32: (0.3030, 1.0), 33: (0.3030, 1.0030),
    # band 4: a path that is also the only member of a route; node 43 moves
    41: (0.4000, 1.0), 42: (0.4030, 1.0), 43: (0.4030, 1.0030),
    # band 5: a cafe retagged to an unmapped amenity and moved
    51: (0.5000, 1.0),
}
MOVED_43 = (0.4030, 1.0020)
MOVED_51 = (0.5020, 1.0)
ROUTE = {"type": "route", "route": "bus"}
RETAGGED_ROUTE = {"type": "route", "route": "tram"}


def _members(*way_ids):
    return [{"id": w, "type": 1, "role": ""} for w in way_ids]


@pytest.fixture(scope="module")
def exact_batch(spark):
    nodes = spark.createDataFrame(
        [(i, lon, lat, {"amenity": "cafe"} if i == 51 else {}, None)
         for i, (lon, lat) in PT.items()],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (101, [11, 12, 13, 14], {"highway": "path"}, None),
            (201, [21, 22, 23], {}, None),
            (301, [31, 32, 33], {}, None),
            (401, [41, 42, 43], {"highway": "path"}, None),
        ],
        WAY_SCHEMA,
    )
    rels = spark.createDataFrame(
        [
            (202, _members(201, 299), ROUTE, None),
            (302, _members(301), ROUTE, None),
            (402, _members(401), ROUTE, None),
        ],
        RELATION_SCHEMA,
    )
    state = OsmState(nodes, ways, rels)
    changes = spark.createDataFrame(
        [
            (0, "modify", "way", None, (101, [11, 12, 13, 14], {"highway": "path", "name": "a"}, None), None),
            (1, "modify", "relation", None, None, (202, _members(201, 299), RETAGGED_ROUTE, None)),
            (2, "modify", "relation", None, None, (302, _members(301), RETAGGED_ROUTE, None)),
            (3, "modify", "node", (43, *MOVED_43, {}, None), None, None),
            (4, "modify", "node", (51, *MOVED_51, {"amenity": "bench"}, None), None, None),
        ],
        CHANGE_SCHEMA,
    )
    # pinned as a replication batch pins them before expiry
    new_state, frontier = pin_state_and_frontier(state, changes)
    pipe = ImportPipeline(load_mapping_str(EXACT_MAPPING))
    tiles = expired_tile_list(pipe, state, new_state, frontier, max_zoom=ZOOM).as_set()
    return pipe, state, new_state, frontier, tiles


def _band(tiles, band: int) -> set:
    lo, hi = (band - 0.5) / 10, (band + 0.5) / 10
    return {t for t in tiles if lo <= t[1] / 2**ZOOM * 360.0 - 180.0 < hi}


def _walk(*coords) -> set:
    return set(nodes_tiles(list(coords), False, ZOOM))


def _fill(*coords) -> set:
    return set(nodes_tiles(list(coords), True, ZOOM))


def test_missing_ref_skips_its_segments(exact_batch):
    tiles = _band(exact_batch[-1], 1)
    # 11-12 and 12-13 are skipped, not bridged as 11-13; 11 is no endpoint
    # of any walked segment
    assert tiles == _walk(PT[13], PT[14])
    assert not tiles & set(point_tiles(*PT[11], ZOOM))


def test_missing_member_way_is_dropped(exact_batch):
    tiles = _band(exact_batch[-1], 2)
    way = (PT[21], PT[22], PT[23])
    assert tiles == _walk(*way) | _fill(*way)


def test_relation_table_match_walks_old_side_and_fills_new_side(exact_batch):
    tiles = _band(exact_batch[-1], 3)
    way = (PT[31], PT[32], PT[33])
    # old side: closed = polygon-matched (false for a route); new side:
    # closed = true
    assert _walk(*way) < _fill(*way)
    assert tiles == _walk(*way) | _fill(*way)


def test_way_in_frontier_and_in_frontier_relation(exact_batch):
    tiles = _band(exact_batch[-1], 4)
    old, new = (PT[41], PT[42], PT[43]), (PT[41], PT[42], MOVED_43)
    # the way walks both sides; as a route member it walks the old side
    # and fills the new one
    assert tiles == _walk(*old) | _walk(*new) | _fill(*new)


def test_node_retagged_to_unmapped_expires_old_tile_only(exact_batch):
    tiles = _band(exact_batch[-1], 5)
    assert tiles == set(point_tiles(*PT[51], ZOOM))
    assert not tiles & set(point_tiles(*MOVED_51, ZOOM))


def test_exact_batch_expires_nothing_outside_the_cases(exact_batch):
    tiles = exact_batch[-1]
    assert {t[0] for t in tiles} == {ZOOM}
    assert tiles == set().union(*(_band(tiles, b) for b in range(1, 6)))


def test_expiry_job_count(exact_batch, jobs_fired):
    pipe, state, new_state, frontier, tiles = exact_batch
    out, jobs = jobs_fired(
        "expired_tile_list",
        lambda: expired_tile_list(pipe, state, new_state, frontier, max_zoom=ZOOM),
    )
    # 32 jobs while expiry resolved way coordinates in Spark (four
    # resolutions per batch, each with its own broadcasts and aggregate)
    assert out.as_set() == tiles
    assert jobs <= 10
