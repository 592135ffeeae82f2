"""Limit-to clipping (SURVEY §2.2 F8, §2.3 J6; reference geom/limit/
limit.go).

- points: bbox shortcut + point-in-polygon (limit.go:321-340) — exact
- linestrings: exact clip — segments are split at feature-boundary
  crossings (rational-precision intersections) and pieces kept when their
  midpoint lies inside; contiguous kept pieces are re-merged
  (ST_Intersection + ST_LineMerge analog, limit.go:275-317 + G8)
- polygons: contains fast path (fully inside -> unchanged, limit.go:280),
  boundary-crossing polygons are CUT with the pure-python boolean
  intersection kernel (`geom/poly_clip.py` — the GEOS ``Intersection``
  analog, limit.go:303). Overlapping clip features are unioned once at
  construction (poly_clip.union_all), so the cut pieces never
  double-count an overlap.

The reference's grid-splitting of the clip polygon (limit.go:25-109) is an
optimization for its per-row sequential clipping; Spark parallelizes rows,
so it is unnecessary (SURVEY §4)."""

from __future__ import annotations

from imposm3_spark.geom import poly_clip, py_geom
from imposm3_spark.sources.geojson import Feature

Coord = tuple[float, float]


def _point_seg_dist2(p: Coord, a: Coord, b: Coord) -> float:
    """Squared distance from point to segment."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    denom = dx * dx + dy * dy
    if denom == 0.0:
        ex, ey = p[0] - a[0], p[1] - a[1]
        return ex * ex + ey * ey
    t = ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / denom
    t = max(0.0, min(1.0, t))
    ex, ey = p[0] - (a[0] + t * dx), p[1] - (a[1] + t * dy)
    return ex * ex + ey * ey


class Limiter:
    """Broadcastable clip region (union of GeoJSON features).

    `buffer` widens the POINT test only (reference NewFromGeoJSON's
    buffered geometry feeds IntersectsBuffer for cache pruning,
    limit.go:321-340): a point within `buffer` of the region passes.
    Output geometries are still clipped against the exact region — we
    never prune coords, so boundary-crossing ways resolve fully and the
    cut is exact (the reference needs the buffer so near-edge geometries
    keep their outside nodes in the cache)."""

    def __init__(self, features: list[Feature], buffer: float = 0.0):
        self.features = features
        self.buffer = buffer
        boxes = [f.bbox() for f in features]
        self.bbox = (
            min(b[0] for b in boxes),
            min(b[1] for b in boxes),
            max(b[2] for b in boxes),
            max(b[3] for b in boxes),
        )
        # overlapping features are unioned once, driver-side (GEOS Union
        # analog, ops.go:53-77): the clip operators cut against disjoint
        # polygons, so an overlap never yields duplicated pieces
        all_polys = [poly for f in features for poly in f.polygons]
        self.clip_polys = (
            poly_clip.union_all(all_polys) if len(all_polys) > 1 else all_polys
        )

    # ---- point (F8) ----

    def intersects_point(self, x: float, y: float) -> bool:
        minx, miny, maxx, maxy = self.bbox
        b = self.buffer
        if not (minx - b <= x <= maxx + b and miny - b <= y <= maxy + b):
            return False
        if any(f.contains_point(x, y) for f in self.features):
            return True
        if b <= 0.0:
            return False
        b2 = b * b
        for ring in self._boundary_rings():
            for i in range(len(ring) - 1):
                if _point_seg_dist2((x, y), ring[i], ring[i + 1]) <= b2:
                    return True
        return False

    # ---- helpers ----

    def _boundary_rings(self) -> list[list[Coord]]:
        return [ring for poly in self.clip_polys for ring in poly]

    def _inside_exact(self, x: float, y: float) -> bool:
        """Containment against the EXACT region (no buffer) — the clip
        operators use this; the buffer applies only to the F8 point
        prefilter (limit.go:321-340 vs limit.go:275-317)."""
        minx, miny, maxx, maxy = self.bbox
        if not (minx <= x <= maxx and miny <= y <= maxy):
            return False
        return any(f.contains_point(x, y) for f in self.features)

    # ---- linestring clip (J6) ----

    def clip_line(self, coords: list[Coord]) -> list[list[Coord]]:
        """Exact linestring clip: split at boundary crossings, keep inside
        pieces, merge contiguous runs."""
        if len(coords) < 2:
            return []
        # NOTE: no vertex-based fast path — both endpoints inside does not
        # mean the segment stays inside a concave region; the reference's
        # fast path is a prepared CONTAINS of the whole geometry
        rings = self._boundary_rings()
        out: list[list[Coord]] = []
        current: list[Coord] = []

        def flush():
            nonlocal current
            if len(current) >= 2:
                out.append(current)
            current = []

        for i in range(len(coords) - 1):
            a, b = coords[i], coords[i + 1]
            # boundary crossing parameters along a->b
            cuts: list[tuple[float, Coord]] = []
            for ring in rings:
                for j in range(len(ring) - 1):
                    pt = py_geom._seg_intersection(a, b, ring[j], ring[j + 1])
                    if pt is not None and pt != a and pt != b:
                        dx, dy = b[0] - a[0], b[1] - a[1]
                        denom = dx * dx + dy * dy
                        t = ((pt[0] - a[0]) * dx + (pt[1] - a[1]) * dy) / denom if denom else 0.0
                        cuts.append((t, pt))
            pieces = [a] + [pt for _t, pt in sorted(cuts)] + [b]
            for k in range(len(pieces) - 1):
                p, q = pieces[k], pieces[k + 1]
                mid = ((p[0] + q[0]) / 2.0, (p[1] + q[1]) / 2.0)
                if self._inside_exact(*mid):
                    if not current:
                        current = [p, q]
                    elif current[-1] == p:
                        current.append(q)
                    else:
                        flush()
                        current = [p, q]
                else:
                    flush()
        flush()
        return out

    # ---- polygon clip (J6) ----

    def _contained_in_feature_poly(self, rings: list[list[Coord]], fpoly) -> bool:
        """Prepared-contains fast path (limit.go:280): every subject vertex
        inside-or-on the feature shell, no boundary crossings, and the
        feature polygon has no holes (a hole could punch the subject
        without any vertex leaving)."""
        if len(fpoly) > 1:
            return False
        shell = fpoly[0]
        for ring in rings:
            for pt in ring:
                if py_geom.point_in_ring(pt, shell) < 0:
                    return False
        for ring in rings:
            for i in range(len(ring) - 1):
                for j in range(len(shell) - 1):
                    pt = py_geom._seg_intersection(
                        ring[i], ring[i + 1], shell[j], shell[j + 1]
                    )
                    if pt is not None and pt != ring[i] and pt != ring[i + 1]:
                        return False
        return True

    def clip_polygon(self, rings: list[list[Coord]]) -> list[list[list[Coord]]]:
        """Exact polygon clip: [] when disjoint; [rings] unchanged when
        fully contained (fast path); otherwise the boolean intersection
        pieces (possibly several polygons-with-holes)."""
        shell = rings[0]
        sminx, sminy, smaxx, smaxy = py_geom.bbox(shell)
        minx, miny, maxx, maxy = self.bbox
        if smaxx < minx or sminx > maxx or smaxy < miny or sminy > maxy:
            return []
        out: list[list[list[Coord]]] = []
        for fpoly in self.clip_polys:
            if self._contained_in_feature_poly(rings, fpoly):
                return [rings]
            out.extend(poly_clip.polygon_intersection(rings, fpoly))
        return out

    def clip_polygons(
        self, polygons: list[list[list[Coord]]]
    ) -> list[list[list[Coord]]]:
        """Clip each polygon of a multipolygon; concatenates the pieces."""
        out: list[list[list[Coord]]] = []
        for poly in polygons:
            out.extend(self.clip_polygon(poly))
        return out


# ---- geojson_intersects / geojson_intersects_feature (J5, §2.6) ----


def intersects_feature_property(
    features: list[Feature], prop: str, x: float, y: float
) -> str | None:
    """Property of the first feature containing the point
    (mapping/columns_intersection.go:70-105)."""
    for f in features:
        if f.contains_point(x, y):
            v = f.properties.get(prop)
            return str(v) if v is not None else ""
    return None
