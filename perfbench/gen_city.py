"""Seeded synthetic city and minutely change batches for the osm_city workload.

The city is a jittered street grid. Every block holds one of: a landuse
multipolygon relation with an inner ring, a closed landuse way, or one to
three closed-way buildings. About a third of the blocks also carry a tagged
point: a place (mapped) or an amenity (unmapped, so the matcher has
something to drop). The generator keeps the whole city as plain Python
state, so it can predict the imported row counts, emit change batches
against ids that exist, and describe the final state for the correctness
gate.

Coordinates are rounded to 7 decimals, the precision of both OSM PBF and
the `%.7f` of an OsmChange file. Nothing here imports the package's bench
modules: the inputs change only when this file changes.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr

ORIGIN_LON, ORIGIN_LAT = 7.40, 43.70
DX, DY = 0.0012, 0.0009  # block size in degrees, about 100 m square
SEGMENT_BLOCKS = 4  # a street way spans this many blocks

ROAD_CLASSES = ["residential"] * 6 + ["tertiary"] * 2 + ["secondary", "primary", "service"]
BUILDING_TYPES = ["yes", "house", "apartments", "commercial"]
LANDUSE_TAGS = [
    ("landuse", "residential"),
    ("landuse", "commercial"),
    ("landuse", "grass"),
    ("landuse", "forest"),
    ("leisure", "park"),
]
PLACE_TYPES = ["suburb", "neighbourhood", "hamlet", "locality"]
AMENITIES = ["cafe", "bench", "post_box"]

# tables of city_mapping.yml and the tag test that puts an element in each
MAPPED_HIGHWAY = {"primary", "secondary", "tertiary", "residential", "service"}
MAPPED_PLACE = set(PLACE_TYPES)

MEMBER_WAY = 1  # relation member type of a way (node 0, way 1, relation 2)


@dataclass
class City:
    nodes: dict[int, list] = field(default_factory=dict)  # id -> [lon, lat, tags, version]
    ways: dict[int, list] = field(default_factory=dict)  # id -> [refs, tags, version]
    rels: dict[int, list] = field(default_factory=dict)  # id -> [members, tags, version]
    base_pos: dict[int, tuple[float, float]] = field(default_factory=dict)
    movable: list[int] = field(default_factory=list)  # nodes of streets and buildings
    roads: list[int] = field(default_factory=list)
    buildings: list[int] = field(default_factory=list)
    pois: list[int] = field(default_factory=list)  # standalone tagged nodes
    next_node: int = 1
    next_way: int = 1
    next_rel: int = 1
    bbox: tuple[float, float, float, float] = (0.0, 0.0, 0.0, 0.0)

    def add_node(self, lon: float, lat: float, tags: dict | None = None) -> int:
        nid = self.next_node
        self.next_node += 1
        lon, lat = round(lon, 7), round(lat, 7)
        self.nodes[nid] = [lon, lat, tags or {}, 1]
        self.base_pos[nid] = (lon, lat)
        return nid

    def add_way(self, refs: list[int], tags: dict | None = None) -> int:
        wid = self.next_way
        self.next_way += 1
        self.ways[wid] = [refs, tags or {}, 1]
        return wid

    def add_rel(self, members: list[tuple], tags: dict) -> int:
        rid = self.next_rel
        self.next_rel += 1
        self.rels[rid] = [members, tags, 1]
        return rid

    @property
    def element_count(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.rels)


def _ring(city: City, x0: float, y0: float, x1: float, y1: float) -> list[int]:
    """Closed counter-clockwise rectangle of new nodes."""
    ids = [
        city.add_node(x0, y0),
        city.add_node(x1, y0),
        city.add_node(x1, y1),
        city.add_node(x0, y1),
    ]
    return ids + ids[:1]


def make_city(seed: int, grid: int) -> City:
    """A grid x grid street network with its blocks filled in."""
    rng = random.Random(seed)
    city = City()
    corner = {}
    for r in range(grid):
        for c in range(grid):
            lon = ORIGIN_LON + c * DX + rng.uniform(-0.08, 0.08) * DX
            lat = ORIGIN_LAT + r * DY + rng.uniform(-0.08, 0.08) * DY
            corner[r, c] = city.add_node(lon, lat)
    city.movable.extend(corner.values())
    city.bbox = (ORIGIN_LON, ORIGIN_LAT, ORIGIN_LON + grid * DX, ORIGIN_LAT + grid * DY)

    def street(refs: list[int], label: str) -> None:
        tags = {"highway": rng.choice(ROAD_CLASSES), "name": label}
        city.roads.append(city.add_way(refs, tags))

    for r in range(grid):
        for c0 in range(0, grid - 1, SEGMENT_BLOCKS):
            cs = range(c0, min(c0 + SEGMENT_BLOCKS, grid - 1) + 1)
            street([corner[r, c] for c in cs], f"Row {r}/{c0}")
    for c in range(grid):
        for r0 in range(0, grid - 1, SEGMENT_BLOCKS):
            rs = range(r0, min(r0 + SEGMENT_BLOCKS, grid - 1) + 1)
            street([corner[r, c] for r in rs], f"Column {c}/{r0}")

    for r in range(grid - 1):
        for c in range(grid - 1):
            x0 = ORIGIN_LON + c * DX
            y0 = ORIGIN_LAT + r * DY
            roll = rng.random()
            if roll < 0.08:
                key, value = rng.choice(LANDUSE_TAGS)
                outer = city.add_way(_ring(city, x0 + 0.1 * DX, y0 + 0.1 * DY, x0 + 0.9 * DX, y0 + 0.9 * DY))
                inner = city.add_way(_ring(city, x0 + 0.4 * DX, y0 + 0.4 * DY, x0 + 0.6 * DX, y0 + 0.6 * DY))
                city.add_rel(
                    [(outer, MEMBER_WAY, "outer"), (inner, MEMBER_WAY, "inner")],
                    {"type": "multipolygon", key: value, "name": f"Area {r}/{c}"},
                )
            elif roll < 0.15:
                key, value = rng.choice(LANDUSE_TAGS)
                city.add_way(
                    _ring(city, x0 + 0.15 * DX, y0 + 0.15 * DY, x0 + 0.85 * DX, y0 + 0.85 * DY),
                    {key: value},
                )
            else:
                for i in range(rng.randint(1, 3)):
                    bx = x0 + (0.12 + 0.27 * i) * DX
                    by = y0 + rng.uniform(0.12, 0.55) * DY
                    refs = _ring(city, bx, by, bx + 0.2 * DX, by + 0.3 * DY)
                    city.movable.extend(refs[:4])
                    tags = {"building": rng.choice(BUILDING_TYPES)}
                    if rng.random() < 0.3:
                        tags["name"] = f"House {r}/{c}/{i}"
                    city.buildings.append(city.add_way(refs, tags))
            if rng.random() < 0.35:
                px = x0 + rng.uniform(0.05, 0.95) * DX
                py = y0 + rng.uniform(0.6, 0.95) * DY
                city.pois.append(city.add_node(px, py, _poi_tags(rng, f"{r}/{c}")))
    return city


def _poi_tags(rng: random.Random, label: str) -> dict:
    if rng.random() < 0.7:
        return {"place": rng.choice(PLACE_TYPES), "name": f"Place {label}"}
    return {"amenity": rng.choice(AMENITIES)}


def _is_polygon_ring(refs: list[int]) -> bool:
    return len(refs) >= 4 and refs[0] == refs[-1]


def expected_rows(city: City) -> dict[str, int]:
    """Rows each base table of city_mapping.yml holds for this state."""
    roads = sum(
        1 for refs, tags, _ in city.ways.values()
        if tags.get("highway") in MAPPED_HIGHWAY and not _is_polygon_ring(refs)
    )
    buildings = sum(1 for _, tags, _ in city.ways.values() if "building" in tags)
    landuse_ways = sum(
        1 for refs, tags, _ in city.ways.values()
        if _is_polygon_ring(refs) and any(k in tags for k in ("landuse", "leisure"))
    )
    places = sum(1 for _, _, tags, _ in city.nodes.values() if tags.get("place") in MAPPED_PLACE)
    return {
        "roads": roads,
        "buildings": buildings,
        "landusages": landuse_ways + len(city.rels),
        "places": places,
    }


def element_rows(city: City):
    """(nodes, ways, relations) tuples in sources.pbf.write_pbf's layout."""
    nodes = [(i, n[0], n[1], n[2]) for i, n in sorted(city.nodes.items())]
    ways = [(i, w[0], w[1]) for i, w in sorted(city.ways.items())]
    rels = [(i, r[0], r[1]) for i, r in sorted(city.rels.items())]
    return nodes, ways, rels


# ---------------------------------------------------------------------------
# OsmChange batches
# ---------------------------------------------------------------------------


def _tags_xml(tags: dict) -> str:
    return "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in sorted(tags.items()))


def _node_xml(city: City, nid: int) -> str:
    lon, lat, tags, version = city.nodes[nid]
    return (
        f'<node id="{nid}" version="{version}" lat="{lat:.7f}" lon="{lon:.7f}">'
        f"{_tags_xml(tags)}</node>"
    )


def _way_xml(city: City, wid: int) -> str:
    refs, tags, version = city.ways[wid]
    nds = "".join(f'<nd ref="{r}"/>' for r in refs)
    return f'<way id="{wid}" version="{version}">{nds}{_tags_xml(tags)}</way>'


def _osc(modify: list[str], delete: list[str], create: list[str]) -> str:
    return "\n".join(
        [
            '<?xml version="1.0" encoding="UTF-8"?>',
            '<osmChange version="0.6" generator="perfbench">',
            "<modify>", *modify, "</modify>",
            "<delete>", *delete, "</delete>",
            "<create>", *create, "</create>",
            "</osmChange>",
        ]
    )


def make_batch(city: City, rng: random.Random, seq: int, n_changes: int) -> str:
    """One minutely batch as OsmChange XML; applies it to `city`.

    Mix: 60% node moves (street and building nodes, so each drags its
    ways into the rebuild), 20% way tag edits (a road's class or name, a
    building's type), 10% deletes of standalone tagged nodes and 10%
    creates of new ones. No element changes twice in one batch."""
    n_moves = n_changes * 6 // 10
    n_edits = n_changes * 2 // 10
    n_dels = n_changes // 10
    n_creates = n_changes - n_moves - n_edits - n_dels
    modify, delete, create = [], [], []

    for nid in rng.sample(city.movable, n_moves):
        node = city.nodes[nid]
        bx, by = city.base_pos[nid]
        node[0] = round(bx + rng.uniform(-0.05, 0.05) * DX, 7)
        node[1] = round(by + rng.uniform(-0.05, 0.05) * DY, 7)
        node[3] += 1
        modify.append(_node_xml(city, nid))

    for wid in rng.sample(city.roads + city.buildings, n_edits):
        way = city.ways[wid]
        tags = dict(way[1])
        if "highway" in tags:
            tags["highway"] = rng.choice(ROAD_CLASSES)
            tags["name"] = f"{tags['name'].split(' v')[0]} v{seq}"
        else:
            tags["building"] = rng.choice(BUILDING_TYPES)
        way[1] = tags
        way[2] += 1
        modify.append(_way_xml(city, wid))

    for nid in rng.sample(city.pois, n_dels):
        city.pois.remove(nid)
        lon, lat, _, version = city.nodes.pop(nid)
        delete.append(f'<node id="{nid}" version="{version + 1}" lat="{lat:.7f}" lon="{lon:.7f}"/>')

    x0, y0, x1, y1 = city.bbox
    for i in range(n_creates):
        nid = city.add_node(
            rng.uniform(x0, x1), rng.uniform(y0, y1), _poi_tags(rng, f"new {seq}/{i}")
        )
        city.pois.append(nid)
        create.append(_node_xml(city, nid))
    return _osc(modify, delete, create)


def batches(city: City, seed: int, count: int, n_changes: int):
    """The seed's first `count` batches as OsmChange XML, applied to `city`
    as they are yielded."""
    rng = random.Random(seed * 7919 + 1)
    for seq in range(1, count + 1):
        yield make_batch(city, rng, seq, n_changes)


def write_sequence(city: City, seed: int, out_dir: str, count: int, n_changes: int) -> None:
    """Write <out_dir>/1.osc .. <count>.osc, the ReplicationRunner layout."""
    for seq, xml in enumerate(batches(city, seed, count, n_changes), start=1):
        with open(os.path.join(out_dir, f"{seq}.osc"), "w") as fh:
            fh.write(xml)
