"""Replication batches end to end on a synthetic fixture (T1-T7).

Two OsmChange files go through ``ReplicationRunner`` with tile expiry and
generalized tables on, and the same text through
``StreamingReplicator._apply_files``. The first file moves a node of a
multipolygon member way, deletes a way, creates a relation on a created
way and changes one node twice; the second moves an inner-ring node, edits
a closed way's node and deletes the created relation. After each batch:

- the frontier ids are exactly the changed ids and their dependents;
- every table and generalized table equals a fresh import of the new
  state, and the streaming copy's tables equal the runner's;
- the expired-tile file holds the multipolygon ring's old and new tiles;
- state and table partition counts stay those of the import.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff import runner as runner_mod
from imposm3_spark.diff.runner import ReplicationRunner
from imposm3_spark.diff.update import OsmState
from imposm3_spark.expire.tiles import nodes_tiles
from imposm3_spark.mapping.config import load_mapping_str
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.pipeline.generalize import build_generalized_tables
from imposm3_spark.sources.osm_xml import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from imposm3_spark.streaming import StreamingReplicator

MAPPING = """
tables:
  landusages:
    type: polygon
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: validated_geometry}
      - {name: type, type: mapping_value}
      - {name: area, type: area}
    mapping:
      landuse: [forest, grass, park]
  roads:
    type: linestring
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: geometry}
      - {name: type, type: mapping_value}
    mapping:
      highway: [residential]
  pois:
    type: point
    columns:
      - {name: osm_id, type: id}
      - {name: geometry, type: geometry}
      - {name: type, type: mapping_value}
    mapping:
      amenity: [cafe]
generalized_tables:
  landusages_gen0:
    source: landusages
    tolerance: 10.0
  roads_gen0:
    source: roads
    tolerance: 20.0
"""


def _square(first_id: int, lon: float, lat: float, size: float) -> list[tuple]:
    return [
        (first_id, lon, lat),
        (first_id + 1, lon + size, lat),
        (first_id + 2, lon + size, lat + size),
        (first_id + 3, lon, lat + size),
    ]


NODES = (
    _square(1, 10.000, 50.000, 0.010)  # outer ring of relation 1
    + _square(5, 10.003, 50.003, 0.003)  # inner ring of relation 1
    + _square(11, 10.020, 50.000, 0.010)  # closed landuse way 104
    + [(31, 10.000, 50.020), (32, 10.010, 50.020), (33, 10.020, 50.020)]
)
WAYS = [
    (101, [1, 2, 3, 4, 1], {}),
    (102, [5, 6, 7, 8, 5], {}),
    (103, [31, 32, 33], {"highway": "residential"}),
    (104, [11, 12, 13, 14, 11], {"landuse": "park"}),
]
RELATIONS = [
    (1, [(101, 1, "outer"), (102, 1, "inner")], {"type": "multipolygon", "landuse": "forest"}),
]
CAFE = {"amenity": "cafe"}


def _node_xml(nid: int, lon: float, lat: float, tags: dict | None = None) -> str:
    tag_xml = "".join(f'<tag k="{k}" v="{v}"/>' for k, v in (tags or {}).items())
    return f'<node id="{nid}" lon="{lon}" lat="{lat}">{tag_xml}</node>'


# node 2 of outer ring 101 moves; road 103 is deleted; ring 106 and its
# nodes are created with relation 2 on it; node 40 is created, then moved
OSC_1 = (
    "<osmChange>"
    + "<modify>" + _node_xml(2, 10.012, 50.001) + "</modify>"
    + "<delete><way id=\"103\"/></delete>"
    + "<create>"
    + "".join(_node_xml(i, lon, lat) for i, lon, lat in _square(21, 10.040, 50.000, 0.005))
    + '<way id="106"><nd ref="21"/><nd ref="22"/><nd ref="23"/><nd ref="24"/><nd ref="21"/></way>'
    + '<relation id="2"><member type="way" ref="106" role="outer"/>'
    + '<tag k="type" v="multipolygon"/><tag k="landuse" v="grass"/></relation>'
    + _node_xml(40, 10.030, 50.030, CAFE)
    + "</create>"
    + "<modify>" + _node_xml(40, 10.031, 50.031, CAFE) + "</modify>"
    + "</osmChange>"
)
# node 6 of inner ring 102 and node 12 of closed way 104 move; relation 2
# is deleted
OSC_2 = (
    "<osmChange><modify>"
    + _node_xml(6, 10.0065, 50.0035)
    + _node_xml(12, 10.031, 50.001)
    + '</modify><delete><relation id="2"/></delete></osmChange>'
)
FRONTIERS = [
    {"node_ids": [2, 21, 22, 23, 24, 40], "way_ids": [101, 103, 106], "rel_ids": [1, 2]},
    {"node_ids": [6, 12], "way_ids": [102, 104], "rel_ids": [1, 2]},
]
RING_OLD = [(10.000, 50.000), (10.010, 50.000), (10.010, 50.010), (10.000, 50.010), (10.000, 50.000)]
RING_NEW = [RING_OLD[0], (10.012, 50.001)] + RING_OLD[2:]


def _digests(tables: dict) -> dict:
    """Sorted per-row xxhash64 over all columns, per table."""
    return {
        name: sorted(
            r[0] for r in df.select(F.xxhash64(*sorted(df.columns))).collect()
        )
        for name, df in tables.items()
    }


def _partitions(state: OsmState, tables: dict) -> dict:
    frames = {**{k: getattr(state, k) for k in ("nodes", "ways", "relations")}, **tables}
    return {name: df.rdd.getNumPartitions() for name, df in frames.items()}


def _tiles(expire_dir: str) -> set[tuple[int, int, int]]:
    tiles = set()
    for root, _, files in os.walk(expire_dir):
        for name in files:
            with open(os.path.join(root, name)) as fh:
                tiles |= {tuple(int(v) for v in line.split("/")) for line in fh}
    return tiles


@pytest.fixture(scope="module")
def imported(spark):
    mapping = load_mapping_str(MAPPING)
    state = OsmState(
        spark.createDataFrame([n + ({}, None) for n in NODES], NODE_SCHEMA).localCheckpoint(),
        spark.createDataFrame([w + (None,) for w in WAYS], WAY_SCHEMA).localCheckpoint(),
        spark.createDataFrame([r + (None,) for r in RELATIONS], RELATION_SCHEMA).localCheckpoint(),
    )
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(state.nodes, state.ways, state.relations).items()}
    gens = {n: df.localCheckpoint() for n, df in build_generalized_tables(mapping, tables).items()}
    return mapping, pipe, state, tables, gens


def test_runner_and_stream_batches(spark, imported, tmp_path, monkeypatch):
    mapping, pipe, state, tables, gens = imported
    diff_dir = tmp_path / "diffs"
    diff_dir.mkdir()
    for seq, text in enumerate((OSC_1, OSC_2), start=1):
        (diff_dir / f"{seq}.osc").write_text(text)

    frontiers = []
    pin = runner_mod.pin_state_and_frontier

    def recording_pin(*args, **kwargs):
        new_state, frontier = pin(*args, **kwargs)
        frontiers.append(frontier)
        return new_state, frontier

    monkeypatch.setattr(runner_mod, "pin_state_and_frontier", recording_pin)
    runner = ReplicationRunner(
        spark=spark, pipe=pipe, state=state, tables=dict(tables), diff_dir=str(diff_dir),
        state_file=str(tmp_path / "last.state.txt"), gens=dict(gens),
    )
    stream = StreamingReplicator(spark=spark, pipe=pipe, state=state, tables=dict(tables), gens=dict(gens))
    parts = _partitions(state, tables)

    for seq, text in enumerate((OSC_1, OSC_2), start=1):
        runner.expire_dir = str(tmp_path / f"expire_runner{seq}")
        stream.expire_dir = str(tmp_path / f"expire_stream{seq}")
        assert runner.apply_one(seq)
        stream._apply_files([text])

        got = {k: sorted(r[0] for r in getattr(frontiers[-1], k).collect()) for k in FRONTIERS[seq - 1]}
        assert got == FRONTIERS[seq - 1], f"batch {seq}"

        st = runner.state
        fresh = pipe.run(st.nodes, st.ways, st.relations)
        fresh.update(build_generalized_tables(mapping, fresh))
        maintained = _digests({**runner.tables, **runner.gens})
        assert maintained == _digests(fresh), f"batch {seq}"
        assert _digests({**stream.tables, **stream.gens}) == maintained, f"batch {seq}"
        assert _partitions(st, runner.tables) == parts, f"batch {seq}"

        tiles = _tiles(runner.expire_dir)
        assert tiles == _tiles(stream.expire_dir), f"batch {seq}"
        if seq == 1:
            # relation 1's outer ring expires at its old and new shape
            assert set(nodes_tiles(RING_OLD, True, 14)) <= tiles
            assert set(nodes_tiles(RING_NEW, True, 14)) <= tiles

    # the created-then-moved node holds its last position, the deleted
    # road and relation are gone from state and tables
    st = runner.state
    assert [(r["lon"], r["lat"]) for r in st.nodes.filter("id = 40").collect()] == [(10.031, 50.031)]
    assert st.ways.filter("id = 103").count() == 0
    assert [r["id"] for r in st.relations.collect()] == [1]
    assert runner.tables["roads"].count() == 0
    assert sorted(r["osm_id"] for r in runner.tables["landusages"].collect()) == [-1, 104]
