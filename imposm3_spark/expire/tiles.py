"""Tile expiry (SURVEY §2.8 T7; reference: expire/tilelist.go).

Semantics ported exactly:
- point: expire the tile under the point, padded by 0.2 tiles
  (tilelist.go:97-113)
- line: per segment, Bresenham walk over tile coords when endpoints differ
  (tilelist.go:115-144, 254-291); if a bbox at the zoom needs >=500 tiles,
  drop one zoom level and retry (73-96)
- closed geometry: bbox fill if <64 tiles else cascade down like lines
- output: z/x/y lines per batch, atomic rename (162-211)

Spark shape: none here. A diff batch's touched geometries are
blast-radius-sized (hundreds per minutely batch), so diff/update collects
them in one action and tiles them on the driver into a TileExpireList,
whose tile sets dedupe as they fill (A5)."""

from __future__ import annotations

import os
import time
from pathlib import Path

from imposm3_spark.geom.proj import py_wgs_to_merc

MERC_BBOX = (-20037508.342789244, -20037508.342789244, 20037508.342789244, 20037508.342789244)
MERC_RES = [2 * 20037508.342789244 / 256 / (2**z) for z in range(20)]
TILE_PADDING = 0.2  # tilelist.go:100


def tile_coord(lon: float, lat: float, zoom: int) -> tuple[float, float]:
    x, y = py_wgs_to_merc(lon, lat)
    if x < MERC_BBOX[0] or x > MERC_BBOX[2] or y < MERC_BBOX[1] or y > MERC_BBOX[3]:
        return -1.0, -1.0
    res = MERC_RES[zoom]
    return (x - MERC_BBOX[0]) / (res * 256), (MERC_BBOX[3] - y) / (res * 256)


def _bresenham(x1: float, y1: float, x2: float, y2: float) -> list[tuple[int, int]]:
    # tilelist.go:254-291 — float Bresenham over tile indices
    tiles: list[tuple[int, int]] = []
    steep = False
    dx = abs(x2 - x1)
    sx = 1.0 if (x2 - x1) > 0 else -1.0
    dy = abs(y2 - y1)
    sy = 1.0 if (y2 - y1) > 0 else -1.0
    if dy > dx:
        steep = True
        x1, y1 = y1, x1
        dx, dy = dy, dx
        sx, sy = sy, sx
    e = 2 * dy - dx
    i = 0.0
    while i < dx:
        if steep:
            tiles.append((int(y1), int(x1)))
        else:
            tiles.append((int(x1), int(y1)))
        while e >= 0:
            y1 += sy
            e -= 2 * dx
        x1 += sx
        e += 2 * dy
        i += 1.0
    tiles.append((int(x2), int(y2)))
    return tiles


class TileExpireList:
    """Driver-side tile accumulator — mirrors expire.TileList."""

    def __init__(self, max_zoom: int = 14):
        self.max_zoom = max_zoom
        self.tiles: dict[int, set[tuple[int, int]]] = {z: set() for z in range(max_zoom + 1)}

    def expire(self, lon: float, lat: float) -> None:
        for z, x, y in point_tiles(lon, lat, self.max_zoom):
            self.tiles[z].add((x, y))

    def expire_nodes(self, coords: list[tuple[float, float]], closed: bool) -> None:
        for z, x, y in nodes_tiles(coords, closed, self.max_zoom):
            self.tiles[z].add((x, y))

    def as_set(self) -> set[tuple[int, int, int]]:
        return {(z, x, y) for z, txy in self.tiles.items() for x, y in txy}

    def flush(self, out_dir: str) -> str | None:
        """Write z/x/y lines, atomic rename (tilelist.go:174-211)."""
        if not any(self.tiles.values()):
            return None
        now = time.gmtime()
        day = time.strftime("%Y%m%d", now)
        name = time.strftime("%H%M%S", now) + f".{int(time.time() * 1000) % 1000:03d}"
        dirpath = Path(out_dir) / day
        dirpath.mkdir(parents=True, exist_ok=True)
        tmp = dirpath / (name + ".tiles~")
        with open(tmp, "w") as fh:
            for z in sorted(self.tiles):
                for x, y in self.tiles[z]:
                    fh.write(f"{z}/{x}/{y}\n")
        final = str(tmp)[:-1]
        os.rename(tmp, final)
        self.tiles = {z: set() for z in range(self.max_zoom + 1)}
        return final


def point_tiles(lon: float, lat: float, zoom: int) -> list[tuple[int, int, int]]:
    # tilelist.go:97-113: 0.2-tile padding around the point
    tx, ty = tile_coord(lon, lat, zoom)
    if tx < 0:
        return []
    out = []
    for x in range(int(tx - TILE_PADDING), int(tx + TILE_PADDING) + 1):
        for y in range(int(ty - TILE_PADDING), int(ty + TILE_PADDING) + 1):
            out.append((zoom, x, y))
    return out


def _nodes_bbox(coords: list[tuple[float, float]]):
    xs = [c[0] for c in coords if not (c[0] == 0 and c[1] == 0)]
    ys = [c[1] for c in coords if not (c[0] == 0 and c[1] == 0)]
    if not xs:
        return None
    return min(xs), min(ys), max(xs), max(ys)


def _num_bbox_tiles(box, zoom: int) -> int:
    x1, y1 = tile_coord(box[0], box[3], zoom)
    x2, y2 = tile_coord(box[2], box[1], zoom)
    if x1 < 0 or x2 < 0:
        return 0
    return int(abs((x2 - x1 + 1) * (y2 - y1 + 1)))


def nodes_tiles(
    coords: list[tuple[float, float]], closed: bool, max_zoom: int
) -> list[tuple[int, int, int]]:
    """ExpireNodes (tilelist.go:77-96): bbox fill (<64 tiles) for closed
    geometries, line walk (<500) for open; else drop a zoom level."""
    if not coords:
        return []
    box = _nodes_bbox(coords)
    if box is None:
        return []
    for zoom in range(max_zoom, 0, -1):
        n = _num_bbox_tiles(box, zoom)
        if closed and n < 64:
            return _box_tiles(box, zoom)
        if not closed and n < 500:
            return _line_tiles(coords, zoom)
    return []


def _box_tiles(box, zoom: int) -> list[tuple[int, int, int]]:
    x1, y1 = tile_coord(box[0], box[3], zoom)
    x2, y2 = tile_coord(box[2], box[1], zoom)
    if x1 < 0 or x2 < 0:
        return []
    return [
        (zoom, x, y)
        for x in range(int(x1), int(x2) + 1)
        for y in range(int(y1), int(y2) + 1)
    ]


def _line_tiles(coords, zoom: int) -> list[tuple[int, int, int]]:
    if len(coords) == 1:
        return point_tiles(coords[0][0], coords[0][1], zoom)
    out: set[tuple[int, int]] = set()
    for i in range(len(coords) - 1):
        a, b = coords[i], coords[i + 1]
        if (a[0] == 0 and a[1] == 0) or (b[0] == 0 and b[1] == 0):
            continue
        x1, y1 = tile_coord(a[0], a[1], zoom)
        x2, y2 = tile_coord(b[0], b[1], zoom)
        if x1 < 0 or x2 < 0:
            return [(zoom, x, y) for x, y in out]
        if int(x1) == int(x2) and int(y1) == int(y2):
            out.add((int(x1), int(y1)))
        else:
            out.update(_bresenham(x1, y1, x2, y2))
    return [(zoom, x, y) for x, y in out]
