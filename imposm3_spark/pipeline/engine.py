"""The import pipeline: OSM element DataFrames -> per-table output DataFrames.

Parity target: /root/reference/writer/{nodes,ways,relations}.go plus
import_/import.go:139-263 (write phase). The reference streams elements
through per-CPU goroutine pools doing LevelDB point lookups; here each
element kind is one declarative DataFrame plan — Catalyst fuses the match
expressions, prunes columns, and AQE picks shuffle strategy.

Output geometry is EWKB binary (default SRID 3857), same as the reference's
PostGIS payload.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from imposm3_spark import elements
from imposm3_spark.geom import build as gb
from imposm3_spark.geom import py_geom, wkb as wkblib
from imposm3_spark.geom.proj import quantize_coord, wgs_to_merc_x, wgs_to_merc_y
from imposm3_spark.mapping.columns import RowContext, build_column
from imposm3_spark.mapping.config import Mapping
from imposm3_spark.mapping.matcher import (
    LINESTRING,
    POINT,
    POLYGON,
    RELATION,
    RELATION_MEMBER,
    MatchUnit,
    compile_match_units,
    table_filter_expr,
    tag_prefilter_expr,
)
from imposm3_spark.pipeline.resolve import resolve_way_coords

_CLIP_STRUCT_DDL = (
    "struct<wkb:binary,area:double,minx:double,miny:double,"
    "maxx:double,maxy:double>"
)


def _polygon_clip_rows(limiter, srid: int):
    """Shared J6 way-polygon cut kernel: iterate (ring | None) ->
    pd.DataFrame(wkb, area, minx, miny, maxx, maxy). One body for the
    struct-input and xs/ys-input UDF variants so they stay byte-identical
    (pinned by tests/test_limit_pipeline.py)."""

    def run(ring_iter) -> pd.DataFrame:
        rows = []
        empty = (None, None, None, None, None, None)
        for ring in ring_iter:
            if ring is None or len(ring) < 4:
                rows.append(empty)
                continue
            polygons, _area = py_geom.repair_polygon(ring)
            polygons = limiter.clip_polygons(polygons)
            if not polygons:
                rows.append(empty)
                continue
            if len(polygons) == 1:
                wkb = wkblib.polygon_wkb(polygons[0], srid)
            else:
                wkb = wkblib.multipolygon_wkb(polygons, srid)
            area = py_geom.multipolygon_area(polygons)
            pts = [pt for poly in polygons for r in poly for pt in r]
            minx, miny, maxx, maxy = py_geom.bbox(pts)
            rows.append((wkb, area, minx, miny, maxx, maxy))
        return pd.DataFrame(
            rows, columns=["wkb", "area", "minx", "miny", "maxx", "maxy"]
        )

    return run


MULTIPOLYGON_SCHEMA = (
    "rel_id bigint, wkb binary, area double, "
    "minx double, miny double, maxx double, maxy double, "
    "outer_way_ids array<bigint>"
)
_MULTIPOLYGON_COLUMNS = [f.split()[0] for f in MULTIPOLYGON_SCHEMA.split(", ")]


def _assemble_multipolygons(max_ring_gap: float, srid: int, limiter=None):
    """applyInPandas kernel: member ways of one relation -> multipolygon.

    Ports geom/multipolygon.go buildRings + buildRelGeometry (ring merge,
    gap closing, shell/hole classification by containment parity). Runs
    per-relation inside Arrow batches — the only Python hot spot of the
    pipeline, bounded by relation count (~10^7 on a planet), not node count.

    With a limiter, the assembled polygons are cut against the limit-to
    region (writer/relations.go:108-116 limiter.Clip).
    """

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rel_id = key[0]
        if pdf["coords"].isna().any():
            # a missing member way or an unresolvable ref drops the whole
            # relation (writer/relations.go:80-99)
            return pd.DataFrame(columns=_MULTIPOLYGON_COLUMNS)
        pdf = pdf.sort_values("member_pos")
        # direct column access, not iterrows: this kernel is the single
        # Python hot spot of the import path (one call per relation)
        member_ways = [
            (int(wid), list(refs), [(c["x"], c["y"]) for c in coords])
            for wid, refs, coords in zip(
                pdf["way_id"].to_numpy(),
                pdf["way_refs"].tolist(),
                pdf["coords"].tolist(),
            )
        ]
        try:
            rings = py_geom.build_rings(member_ways, max_ring_gap)
            # MakeValid on the assembled geometry (multipolygon.go:196-200):
            # split self-intersecting rings before classification
            expanded: list[py_geom.Ring] = []
            for r in rings:
                subs = py_geom.make_valid_rings(r.coords)
                if len(subs) == 1 and subs[0].coords == r.coords:
                    expanded.append(r)  # was already simple
                else:
                    for s in subs:
                        expanded.append(py_geom.Ring(list(r.way_ids), [], s.coords))
            for r in expanded:
                r.area = py_geom.ring_area(r.coords)
            expanded.sort(key=lambda r: -r.area)
            polygons, outer_ids = py_geom.build_multipolygon(expanded)
        except (py_geom.NoRingError, ValueError):
            return pd.DataFrame(columns=_MULTIPOLYGON_COLUMNS)
        if limiter is not None:
            polygons = limiter.clip_polygons(polygons)
            if not polygons:
                return pd.DataFrame(columns=_MULTIPOLYGON_COLUMNS)
        if len(polygons) == 1:
            wkb = wkblib.polygon_wkb(polygons[0], srid)
        else:
            wkb = wkblib.multipolygon_wkb(polygons, srid)
        area = py_geom.multipolygon_area(polygons)
        all_pts = [pt for poly in polygons for ring in poly for pt in ring]
        minx, miny, maxx, maxy = py_geom.bbox(all_pts)
        return pd.DataFrame(
            [
                {
                    "rel_id": rel_id,
                    "wkb": wkb,
                    "area": area,
                    "minx": minx,
                    "miny": miny,
                    "maxx": maxx,
                    "maxy": maxy,
                    "outer_way_ids": sorted(outer_ids),
                }
            ]
        )

    return assemble


@dataclass
class PipelineOutput:
    tables: dict[str, DataFrame]

    def union_all(self) -> dict[str, DataFrame]:
        return self.tables


class ImportPipeline:
    """Compile a Mapping once, then run element DataFrames through it.

    srid: 3857 (default) projects coords to spherical mercator right after
    the scan (writer/writer.go NodesToSrid); 4326 keeps lon/lat.
    """

    def __init__(
        self, mapping: Mapping, srid: int = 3857, limiter=None,
        materialize_shared: bool = True,
    ):
        if srid not in (3857, 4326):
            raise ValueError("only EPSG:3857 and EPSG:4326 are supported")  # config.go:156-160
        self.mapping = mapping
        self.srid = srid
        # Each phase declares ONE shared frontier (resolved ways, assembled
        # multipolygons, resolved members) that T per-table branches filter.
        # Spark does no cross-branch common-subplan reuse, so without
        # pinning, the J1-J3 joins and the G4/G5 assembly UDF re-execute
        # once PER TABLE per action — a T× blowup that only grows with the
        # mapping. materialize_shared pins those frontiers with a lazy
        # localCheckpoint (computed on first use, reused by every branch) —
        # the Spark expression of the reference's stream-once/route-rows
        # writer (writer/ways.go, writer/relations.go).
        self.materialize_shared = materialize_shared
        # optional limit-to region (geom/clip.Limiter): F8 point filter +
        # J6 geometry clip. Pickled into UDF closures (small polygon set),
        # the Spark analog of the reference's per-worker prepared geoms.
        self.limiter = limiter
        # writer/ways.go:37-41: 0.1m gap closing (projected); ~0.1m in degrees
        self.max_ring_gap = 1e-1 if srid == 3857 else 1e-6
        self.point_units = compile_match_units(mapping, POINT)
        self.line_units = compile_match_units(mapping, LINESTRING)
        self.polygon_units = compile_match_units(mapping, POLYGON)
        self.relation_units = compile_match_units(mapping, RELATION)
        self.relation_member_units = compile_match_units(mapping, RELATION_MEMBER)

    # ---- shared helpers ----

    def _pin(self, df: DataFrame) -> DataFrame:
        """Materialize a shared frontier once (lazy local checkpoint) so
        per-table branches reuse it instead of recomputing its plan."""
        if self.materialize_shared:
            return df.localCheckpoint(eager=False)
        return df

    def project_xy(self, df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
        # every coordinate passes through the reference's uint32 cache
        # encoding (cache/binary/serialize.go) — reproduce for geometry
        # parity, then project
        qlon, qlat = quantize_coord(F.col(lon)), quantize_coord(F.col(lat))
        if self.srid == 3857:
            return df.withColumns({"x": wgs_to_merc_x(qlon), "y": wgs_to_merc_y(qlat)})
        return df.withColumns({"x": qlon, "y": qlat})

    def _project_unit(
        self, unit: MatchUnit, df: DataFrame, ctx: RowContext, site: str | None = None, idx: int | None = None
    ) -> DataFrame:
        # ctx is deterministic per (site, idx): every Column in it is built
        # from fixed column names + pipeline config, so the projection tree
        # is cacheable across batches (see _expr)
        if site is not None:
            cols = self._expr(
                ("proj", site, idx),
                lambda: [build_column(c, ctx) for c in unit.table.columns],
            )
        else:
            cols = [build_column(c, ctx) for c in unit.table.columns]
        return df.select(*cols)

    def _prefilter(self, kind: str) -> Column:
        """Cached tag_prefilter_expr over F.col('tags') for an element kind."""
        return self._expr(
            ("prefilter", kind),
            lambda: tag_prefilter_expr(self.mapping, kind, F.col("tags")),
        )

    def _table_filter(self, site: str, idx: int, unit: MatchUnit, tags: Column, closed: Column, relation: bool) -> Column:
        m = F.col(self._match_col(idx))
        return self._expr(
            ("tfilter", site, idx),
            lambda: table_filter_expr(self.mapping, unit.table, tags, m["key"], closed, relation=relation),
        )

    def _match_col(self, i: int) -> str:
        return f"_match_{i}"

    def _limit_points_udf(self):
        """F8 point filter (geom/limit/limit.go:321-340) over projected
        coords."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BooleanType

        limiter = self.limiter

        @pandas_udf(BooleanType())
        def inside(x: pd.Series, y: pd.Series) -> pd.Series:
            return pd.Series(
                [limiter.intersects_point(float(a), float(b)) for a, b in zip(x, y)]
            )

        return inside

    def _clip_line_udf(self):
        """J6 linestring clip: ARRAY<STRUCT<x,y>> -> ARRAY of clipped
        parts (each part becomes its own output row, like the reference's
        per-part InsertLineString loop, writer/ways.go:168-178)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        limiter = self.limiter

        @pandas_udf("array<array<struct<x:double,y:double>>>")
        def clip(coords: pd.Series) -> pd.Series:
            out = []
            for arr in coords:
                if arr is None:
                    out.append([])
                    continue
                pts = [(c["x"], c["y"]) for c in arr]
                out.append(
                    [
                        [{"x": x, "y": y} for x, y in part]
                        for part in limiter.clip_line(pts)
                    ]
                )
            return pd.Series(out, dtype=object)

        return clip

    def _clip_line_xy_udf(self):
        """xs/ys-input variant of _clip_line_udf: plain float64 Arrow
        arrays on BOTH sides of the Python boundary — each clipped part
        comes back as (xs, ys) arrays that feed the linestring xy encoder
        directly, so no per-coordinate dict is ever materialized on the
        clipped-line path."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        limiter = self.limiter

        @pandas_udf("array<struct<xs:array<double>,ys:array<double>>>")
        def clip_line_xy(xs: pd.Series, ys: pd.Series) -> pd.Series:
            out = []
            for x_arr, y_arr in zip(xs, ys):
                if x_arr is None:
                    out.append([])
                    continue
                # null ordinate becomes NaN after the JVM struct->xs/ys
                # split and would flow silently through clip comparisons;
                # the old struct path crashed loudly — keep that (mirrors
                # the polygon variant's guard)
                if np.isnan(x_arr).any() or np.isnan(y_arr).any():
                    raise ValueError("NaN/null coordinate in line")
                pts = list(zip(x_arr.tolist(), y_arr.tolist()))
                out.append(
                    [
                        {"xs": [p[0] for p in part], "ys": [p[1] for p in part]}
                        for part in limiter.clip_line(pts)
                    ]
                )
            return pd.Series(out, dtype=object)

        return clip_line_xy

    def _clip_line_expr(self, coords: Column) -> Column:
        """array of clipped (xs, ys) parts with the struct->(xs, ys)
        split done JVM-side."""
        xs = F.transform(coords, lambda c: c["x"])
        ys = F.transform(coords, lambda c: c["y"])
        return self._clip_line_xy_udf()(xs, ys)

    def _polygon_clip_udf(self):
        """J6 polygon cut: build + MakeValid + boolean intersection with
        the limit-to region, emitting WKB/area/bbox of the clipped result
        (contained polygons pass through unchanged — limit.go:280; crossing
        polygons are cut like GEOS Intersection — limit.go:303).

        Struct-input reference variant; the engine's limiter branch uses
        _polygon_clip_expr (same row kernel, xs/ys Arrow transfer)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        kernel = _polygon_clip_rows(self.limiter, self.srid)

        @pandas_udf(_CLIP_STRUCT_DDL)
        def clip(coords: pd.Series) -> pd.DataFrame:
            rings = (
                None if arr is None else [(c["x"], c["y"]) for c in arr]
                for arr in coords
            )
            return kernel(rings)

        return clip

    def _polygon_clip_xy_udf(self):
        """xs/ys-input variant of _polygon_clip_udf: Arrow ships two plain
        float64 arrays per row instead of a Python dict per coordinate —
        the same sink-boundary win the default (unlimited) way-polygon
        branch gets from polygon_valid_wkb_area_expr (geom/build.py)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        kernel = _polygon_clip_rows(self.limiter, self.srid)

        @pandas_udf(_CLIP_STRUCT_DDL)
        def clip_xy(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
            def ring(x_arr, y_arr):
                if x_arr is None:
                    return None
                # null struct / null ordinate becomes NaN after the JVM
                # split; the struct path crashed loudly on those — keep that
                if np.isnan(x_arr).any() or np.isnan(y_arr).any():
                    raise ValueError("NaN/null coordinate in polygon ring")
                return list(zip(x_arr.tolist(), y_arr.tolist()))

            return kernel(ring(x, y) for x, y in zip(xs, ys))

        return clip_xy

    def _polygon_clip_expr(self, coords: Column) -> Column:
        """Same result struct as _polygon_clip_udf(coords) with the
        struct->(xs, ys) split done JVM-side."""
        xs = F.transform(coords, lambda c: c["x"])
        ys = F.transform(coords, lambda c: c["y"])
        return self._polygon_clip_xy_udf()(xs, ys)

    def _expr(self, key, build):
        """Per-pipeline cache of DataFrame-INDEPENDENT Column trees.

        The mapping's match/filter/projection expressions are large (every
        unit's predicate over every mapped tag), and building them costs
        seconds of py4j round-trips per *_tables() call. That is invisible
        on a one-shot import but dominates the diff loop, which calls the
        four table builders once PER BATCH (round-10 benchdiff stage
        forensics — same finding as expired_tiles_for_batch's match-expr
        memoization). Column objects are unresolved, immutable expressions,
        freely reusable across DataFrames, so each site builds its trees
        once per pipeline and replays them for every subsequent batch."""
        cache = self.__dict__.setdefault("_expr_cache", {})
        if key not in cache:
            cache[key] = build()
        return cache[key]

    def _with_matches(self, df: DataFrame, units: list[MatchUnit], site: str) -> DataFrame:
        """Evaluate every unit's match expression in one pass (no shuffle)."""
        matches = self._expr(
            ("matches", site),
            lambda: {
                self._match_col(i): u.match_expr(F.col("tags"))
                for i, u in enumerate(units)
            },
        )
        return df.withColumns(matches)

    def _any_match(self, units: list[MatchUnit], site: str) -> Column:
        def build():
            cond = F.lit(False)
            for i in range(len(units)):
                cond = cond | F.col(self._match_col(i)).isNotNull()
            return cond

        return self._expr(("any_match", site), build)

    # ---- nodes (writer/nodes.go) ----

    def node_tables(self, nodes: DataFrame) -> dict[str, DataFrame]:
        """Tagged nodes -> point tables. Untagged nodes are coords-only."""
        units = self.point_units
        if not units:
            return {}
        df = nodes.filter(F.size("tags") > 0).withColumn("tags", self._prefilter("node"))
        df = df.filter(F.size("tags") > 0)
        df = self.project_xy(df)
        if self.limiter is not None:
            df = df.filter(self._limit_points_udf()(F.col("x"), F.col("y")))
        df = self._pin(
            self._with_matches(df, units, "node").filter(self._any_match(units, "node"))
        )

        out: dict[str, list[DataFrame]] = {}
        for i, unit in enumerate(units):
            m = F.col(self._match_col(i))
            matched = df.filter(m.isNotNull()).filter(
                self._table_filter("node", i, unit, F.col("tags"), F.lit(False), relation=False)
            )
            ctx = RowContext(
                tags=F.col("tags"),
                osm_id=elements.node_osm_id(F.col("id")),
                match_key=m["key"],
                match_value=m["value"],
                geom_wkb=gb.point_wkb_udf(F.col("x"), F.col("y"), F.lit(self.srid)),
                geom_area=F.lit(0.0),
                geom_bbox=F.struct(
                    F.col("x").alias("minx"),
                    F.col("y").alias("miny"),
                    F.col("x").alias("maxx"),
                    F.col("y").alias("maxy"),
                ),
            )
            out.setdefault(unit.table.name, []).append(
                self._project_unit(unit, matched, ctx, site="node", idx=i)
            )
        return {name: _union_all(dfs) for name, dfs in out.items()}

    # ---- ways (writer/ways.go) ----

    def way_tables(self, ways: DataFrame, coords: DataFrame) -> dict[str, DataFrame]:
        """Ways -> linestring + polygon tables.

        coords: (id, x, y) already projected (use `prepare_coords`).
        Dispatch (mapping/matcher.go:137-155): line tables take open ways
        always and closed ways unless area=yes; polygon tables take closed
        ways unless area=no.
        """
        line_units = self.line_units
        poly_units = self.polygon_units
        if not line_units and not poly_units:
            return {}
        df = ways.filter(F.size("tags") > 0).withColumn("tags", self._prefilter("way"))
        df = df.filter(F.size("tags") > 0)
        df = df.withColumn("_closed", gb.is_closed_refs(F.col("refs")))
        area_tag = F.coalesce(F.col("tags").getItem("area"), F.lit(""))
        df = df.withColumn("_as_line", ~(F.col("_closed") & (area_tag == "yes")))
        df = df.withColumn("_as_poly", F.col("_closed") & (area_tag != "no"))

        all_units = line_units + poly_units
        df = self._with_matches(df, all_units, "way")

        def _eligible():
            cond = F.lit(False)
            for i, u in enumerate(all_units):
                dispatch = F.col("_as_line") if u in line_units else F.col("_as_poly")
                cond = cond | (F.col(self._match_col(i)).isNotNull() & dispatch)
            return cond

        needed = df.filter(self._expr(("eligible", "way"), _eligible))

        # resolve coords once for all matched ways (reference fills only on
        # match too — writer/ways.go:85-97)
        resolved = resolve_way_coords(needed, coords, unique_ids=True)
        resolved = self._pin(
            resolved.withColumn("_coords", gb.dedup_coords(F.col("coords")))
        )

        out: dict[str, list[DataFrame]] = {}
        for i, unit in enumerate(all_units):
            is_line = i < len(line_units)
            m = F.col(self._match_col(i))
            dispatch = F.col("_as_line") if is_line else F.col("_as_poly")
            valid = gb.valid_linestring(F.col("_coords")) if is_line else gb.valid_ring(F.col("_coords"))
            matched = resolved.filter(m.isNotNull() & dispatch & valid).filter(
                self._table_filter("way", i, unit, F.col("tags"), F.col("_closed"), relation=False)
            )
            geom_bbox = gb.bbox(F.col("_coords"))
            if is_line:
                if self.limiter is not None:
                    # each clipped part becomes its own row; parts travel
                    # as (xs, ys) float64 arrays end-to-end (clip UDF out
                    # -> encode UDF in), never as per-coordinate structs
                    matched = matched.withColumn(
                        "_part", F.explode(self._clip_line_expr(F.col("_coords")))
                    )
                    geom_wkb = gb.linestring_wkb_xy_expr(
                        F.col("_part.xs"), F.col("_part.ys"), F.lit(self.srid)
                    )
                    geom_bbox = F.struct(
                        F.array_min("_part.xs").alias("minx"),
                        F.array_min("_part.ys").alias("miny"),
                        F.array_max("_part.xs").alias("maxx"),
                        F.array_max("_part.ys").alias("maxy"),
                    )
                else:
                    geom_wkb = gb.linestring_wkb_expr(F.col("_coords"), F.lit(self.srid))
                geom_area = F.lit(0.0)
            elif self.limiter is not None:
                # build + MakeValid + boolean cut in one pandas UDF
                # (xs/ys Arrow transfer — same fast lane as the default
                # branch's polygon_valid_wkb_area_expr)
                matched = matched.withColumn(
                    "_pg", self._polygon_clip_expr(F.col("_coords"))
                ).filter(F.col("_pg.wkb").isNotNull())
                geom_wkb = F.col("_pg.wkb")
                geom_area = F.col("_pg.area")
                geom_bbox = F.struct(
                    F.col("_pg.minx").alias("minx"),
                    F.col("_pg.miny").alias("miny"),
                    F.col("_pg.maxx").alias("maxx"),
                    F.col("_pg.maxy").alias("maxy"),
                )
            else:
                # build + MakeValid + area in one pandas UDF (identical UDF
                # calls are deduplicated by ExtractPythonUDFs)
                pg = gb.polygon_valid_wkb_area_expr(F.col("_coords"), F.lit(self.srid))
                geom_wkb = pg["wkb"]
                geom_area = pg["area"]
            ctx = RowContext(
                tags=F.col("tags"),
                osm_id=elements.way_osm_id(F.col("id"), self.mapping.single_id_space),
                match_key=m["key"],
                match_value=m["value"],
                geom_wkb=geom_wkb,
                geom_area=geom_area,
                geom_bbox=geom_bbox,
            )
            out.setdefault(unit.table.name, []).append(
                self._project_unit(unit, matched, ctx, site="way", idx=i)
            )
        return {name: _union_all(dfs) for name, dfs in out.items()}

    # ---- relations (writer/relations.go) ----

    def relation_tables(
        self, relations: DataFrame, ways: DataFrame, coords: DataFrame
    ) -> dict[str, DataFrame]:
        """Relations -> polygon (multipolygon assembly) + relation tables.

        Any relation with an unresolvable way member (or a member way with
        an unresolvable ref) is dropped whole (writer/relations.go:80-99).
        Member ways are resolved in one pinned pass that every completeness
        decision and the assembly read.
        """
        poly_units = self.polygon_units
        rel_units = self.relation_units
        if not poly_units and not rel_units:
            return {}
        df = relations.filter(F.size("tags") > 0).withColumn(
            "tags", self._prefilter("relation")
        )
        all_units = poly_units + rel_units
        df = self._with_matches(df, all_units, "rel")
        needed = df.filter(self._any_match(all_units, "rel"))

        # J2 + J3 in one pass (writer/relations.go:80-116 resolves each
        # member way once before building): every way member row carries
        # its refs and coords, and coords is NULL when the way is missing
        # or has an unresolvable ref (cache/ways.go:99-114). Relations with
        # zero way members (e.g. route masters) have no rows here and stay
        # complete.
        members = needed.select(
            F.col("id").alias("rel_id"), F.posexplode("members").alias("member_pos", "member")
        ).filter(F.col("member.type") == 1).select(
            "rel_id", "member_pos", F.col("member.id").alias("way_id")
        )
        member_ways = members.join(
            ways.select(F.col("id").alias("way_id"), F.col("refs").alias("way_refs")),
            on="way_id",
            how="left",
        )
        # a missing way's NULL refs explode to no row, so it gets no coords
        distinct_ways = member_ways.select(
            F.col("way_id").alias("id"), F.col("way_refs").alias("refs")
        ).dropDuplicates(["id"])
        way_coords = resolve_way_coords(distinct_ways, coords, keep_cols=["id"], unique_ids=True)
        member_ways = self._pin(
            member_ways.join(way_coords.withColumnRenamed("id", "way_id"), on="way_id", how="left")
        )

        out: dict[str, list[DataFrame]] = {}
        # polygon tables (handleMultiPolygon)
        if poly_units:
            # the kernel returns no row for a relation with a NULL coords
            # member, so the inner join keeps complete relations only
            assembled = member_ways.groupBy("rel_id").applyInPandas(
                _assemble_multipolygons(self.max_ring_gap, self.srid, self.limiter),
                MULTIPOLYGON_SCHEMA,
            )
            with_geom = self._pin(
                needed.join(assembled, needed["id"] == assembled["rel_id"], "inner")
            )
            for i, unit in enumerate(poly_units):
                m = F.col(self._match_col(i))
                matched = with_geom.filter(m.isNotNull()).filter(
                    self._table_filter("rel", i, unit, F.col("tags"), F.lit(True), relation=True)
                )
                ctx = RowContext(
                    tags=F.col("tags"),
                    osm_id=elements.relation_osm_id(F.col("id"), self.mapping.single_id_space),
                    match_key=m["key"],
                    match_value=m["value"],
                    geom_wkb=F.col("wkb"),
                    geom_area=F.col("area"),
                    geom_bbox=F.struct(
                        F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")
                    ),
                )
                out.setdefault(unit.table.name, []).append(
                    self._project_unit(unit, matched, ctx, site="rel_poly", idx=i)
                )

        # relation tables (handleRelation — empty geometry)
        if rel_units:
            incomplete = member_ways.filter(F.col("coords").isNull()).select(
                F.col("rel_id").alias("id")
            )
            complete_rels = self._pin(needed.join(incomplete, on="id", how="left_anti"))
        for j, unit in enumerate(rel_units):
            m = F.col(self._match_col(len(poly_units) + j))
            matched = complete_rels.filter(m.isNotNull()).filter(
                self._table_filter(
                    "rel", len(poly_units) + j, unit, F.col("tags"), F.lit(True), relation=True
                )
            )
            ctx = RowContext(
                tags=F.col("tags"),
                osm_id=elements.relation_osm_id(F.col("id"), self.mapping.single_id_space),
                match_key=m["key"],
                match_value=m["value"],
                geom_wkb=F.lit(None).cast("binary"),
                geom_area=F.lit(0.0),
                geom_bbox=F.struct(
                    F.lit(0.0).alias("minx"),
                    F.lit(0.0).alias("miny"),
                    F.lit(0.0).alias("maxx"),
                    F.lit(0.0).alias("maxy"),
                ),
            )
            out.setdefault(unit.table.name, []).append(
                self._project_unit(unit, matched, ctx, site="rel_rel", idx=j)
            )
        return {name: _union_all(dfs) for name, dfs in out.items()}

    # ---- relation_member tables (writer/relations.go:216-283) ----

    def relation_member_tables(
        self, relations: DataFrame, ways: DataFrame, nodes: DataFrame,
        coords: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """One row per member of each matched relation.

        All-or-nothing semantics (route_relation_test.go NoRouteWith
        MissingMember): if ANY member fails to resolve — node not in
        nodes/coords, way not cached or with unresolvable/degenerate
        geometry, member relation unknown — the whole relation is skipped.

        Member geometry: node -> Point, way -> LineString (never polygon),
        relation -> POLYGON EMPTY. from_member columns read the member
        element's (prefiltered) tags.
        """
        units = self.relation_member_units
        if not units:
            return {}
        df = relations.withColumn("tags", self._prefilter("relation"))
        df = self._with_matches(df, units, "member")
        needed = df.filter(self._any_match(units, "member"))

        members = needed.select(
            F.col("id").alias("rel_id"),
            F.posexplode("members").alias("member_index", "member"),
        )

        # node members (type 0): nodes table covers both tagged nodes and
        # bare coords (reference falls back Nodes -> Coords)
        node_side = self.project_xy(nodes).select(
            F.col("id").alias("m_id"),
            self._prefilter("node").alias("m_tags"),
            gb.point_wkb_udf(F.col("x"), F.col("y"), F.lit(self.srid)).alias("m_wkb"),
        )
        # way members (type 1): linestring geometry; needs >=2 deduped coords
        if coords is None:
            coords = self.prepare_coords(nodes)
        way_coords = resolve_way_coords(
            ways.select("id", "refs"), coords, unique_ids=True
        ).withColumn("_coords", gb.dedup_coords(F.col("coords")))
        way_side = (
            ways.select(
                F.col("id").alias("m_id"),
                self._prefilter("way").alias("m_tags"),
            )
            .join(
                way_coords.select(
                    F.col("id").alias("m_id"),
                    F.col("_coords").alias("m_coords"),
                ),
                on="m_id",
                how="inner",
            )
            .filter(gb.valid_linestring(F.col("m_coords")))
            .select(
                "m_id",
                "m_tags",
                gb.linestring_wkb_expr(F.col("m_coords"), F.lit(self.srid)).alias("m_wkb"),
            )
        )
        # relation members (type 2): tags only, POLYGON EMPTY geometry
        empty_poly = wkblib.polygon_wkb([], self.srid)
        rel_side = relations.select(
            F.col("id").alias("m_id"),
            self._prefilter("relation").alias("m_tags"),
            F.lit(empty_poly).alias("m_wkb"),
        )

        def resolve_kind(kind: int, side: DataFrame) -> DataFrame:
            part = members.filter(F.col("member.type") == kind)
            return part.join(side, part["member.id"] == side["m_id"], "left").select(
                "rel_id",
                "member_index",
                "member",
                "m_tags",
                "m_wkb",
                F.col("m_id").isNotNull().alias("_resolved"),
            )

        resolved = (
            resolve_kind(0, node_side)
            .unionByName(resolve_kind(1, way_side))
            .unionByName(resolve_kind(2, rel_side))
        )
        complete = resolved.groupBy("rel_id").agg(
            F.min(F.col("_resolved").cast("int")).alias("_all")
        ).filter(F.col("_all") == 1).select("rel_id")
        resolved = resolved.join(complete, on="rel_id", how="leftsemi")

        rel_rows = needed.select(
            F.col("id").alias("rel_id"),
            F.col("tags").alias("rel_tags"),
            *[F.col(self._match_col(i)) for i in range(len(units))],
        )
        joined = self._pin(resolved.join(rel_rows, on="rel_id", how="inner"))

        out: dict[str, list[DataFrame]] = {}
        for i, unit in enumerate(units):
            m = F.col(self._match_col(i))
            matched = joined.filter(m.isNotNull()).filter(
                self._table_filter(
                    "member", i, unit, F.col("rel_tags"), F.lit(True), relation=True
                )
            )
            ctx = RowContext(
                tags=F.col("rel_tags"),
                osm_id=elements.relation_osm_id(F.col("rel_id"), self.mapping.single_id_space),
                match_key=m["key"],
                match_value=m["value"],
                geom_wkb=F.col("m_wkb"),
                geom_area=F.lit(0.0),
                geom_bbox=None,
                member_id=F.col("member.id"),
                member_role=F.col("member.role"),
                member_type=F.col("member.type"),
                member_index=F.col("member_index").cast("int"),
                member_tags=F.coalesce(
                    F.col("m_tags"), F.from_json(F.lit("{}"), "map<string,string>")
                ),
            )
            out.setdefault(unit.table.name, []).append(
                self._project_unit(unit, matched, ctx, site="member", idx=i)
            )
        return {name: _union_all(dfs) for name, dfs in out.items()}

    # ---- full run ----

    def prepare_coords(self, nodes: DataFrame) -> DataFrame:
        """All nodes (tagged + untagged) as projected (id, x, y)."""
        return self.project_xy(nodes).select("id", "x", "y")

    def build_tables(
        self,
        relations: DataFrame,
        ways: DataFrame,
        nodes: DataFrame,
        coords: DataFrame,
        member_ways: DataFrame | None = None,
        member_nodes: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """All four table builders, each table's parts unioned.

        ``member_ways``/``member_nodes`` are what relation members resolve
        against (default ``ways``/``nodes``): a diff batch passes the
        closure of its frontier there and only the frontier itself as
        ``ways``/``nodes``. ``coords`` must cover every ref of
        ``member_ways``.

        The builders are independent, and each holds lazy pins whose
        shuffle stages AQE materializes while the builder is constructed.
        Built serially, those stage chains run one builder at a time, so
        they are built from a small pool instead and the chains overlap.
        Concurrent ``_expr`` misses at worst build an identical Column tree
        twice; the part order stays fixed by the futures list.
        """
        member_ways = ways if member_ways is None else member_ways
        member_nodes = nodes if member_nodes is None else member_nodes
        builders = (
            lambda: self.relation_member_tables(relations, member_ways, member_nodes, coords=coords),
            lambda: self.relation_tables(relations, member_ways, coords),
            lambda: self.way_tables(ways, coords),
            lambda: self.node_tables(nodes),
        )
        with ThreadPoolExecutor(max_workers=len(builders)) as pool:
            parts = [f.result() for f in [pool.submit(b) for b in builders]]
        tables: dict[str, list[DataFrame]] = {}
        for part in parts:
            for name, df in part.items():
                tables.setdefault(name, []).append(df)
        return {name: _union_all(dfs) for name, dfs in tables.items()}

    def run(
        self, nodes: DataFrame, ways: DataFrame, relations: DataFrame
    ) -> dict[str, DataFrame]:
        coords = self._pin(self.prepare_coords(nodes))
        return self.build_tables(relations, ways, nodes, coords)


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def read_osm_tables(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read nodes/ways/relations parquet produced by sources.osm_xml."""
    return (
        spark.read.parquet(f"{path}/nodes.parquet"),
        spark.read.parquet(f"{path}/ways.parquet"),
        spark.read.parquet(f"{path}/relations.parquet"),
    )
