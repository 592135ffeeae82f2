"""Column-type registry: mapping column declarations -> Spark Column exprs.

Parity target: /root/reference/mapping/columns.go:20-47 (AvailableColumnTypes)
plus mapping/columns_categorize.go. Every type is a *native* Spark SQL
expression (JVM-side, whole-stage codegen) — the reference evaluates these as
per-row Go closures; we get vectorization for free and never leave the JVM.

The builder receives a RowContext describing where the inputs live:
  tags         MAP<STRING,STRING> column
  osm_id       already-mangled element id column
  match_key /  the (key, value) that matched the element into this table
  match_value  (mapping/matcher.go:110-123)
  geom_*       geometry accessor columns (area, wkb, bbox mid-y) — provided
               by the pipeline once geometry is built
  member_*     member fields for relation_member tables
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from imposm3_spark.geom.proj import POLE
from imposm3_spark.mapping.config import Column as ColumnCfg

FALSY = ("", "0", "false", "no")  # columns.go:67-72


@dataclass
class RowContext:
    """Column handles for one element-kind pipeline."""

    tags: Column
    osm_id: Column
    match_key: Column
    match_value: Column
    # geometry accessors (None until the pipeline attaches geometry)
    geom_wkb: Column | None = None
    geom_area: Column | None = None
    geom_bbox: Column | None = None  # STRUCT<minx,miny,maxx,maxy>
    # relation_member context
    member_id: Column | None = None
    member_role: Column | None = None
    member_type: Column | None = None
    member_index: Column | None = None
    member_tags: Column | None = None  # resolved member element tags

    def tag(self, key: str, from_member: bool = False) -> Column:
        src = self.member_tags if (from_member and self.member_tags is not None) else self.tags
        return src[key]


Builder = Callable[[ColumnCfg, RowContext], Column]
_REGISTRY: dict[str, Builder] = {}


def register(name: str) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        _REGISTRY[name] = fn
        return fn

    return deco


def build_column(cfg: ColumnCfg, ctx: RowContext) -> Column:
    try:
        builder = _REGISTRY[cfg.type]
    except KeyError:
        raise ValueError(f"unhandled column type {cfg.type!r}") from None
    return builder(cfg, ctx).alias(cfg.name)


def _val(cfg: ColumnCfg, ctx: RowContext) -> Column:
    """The raw tag value for the column's key ('' when missing, like Go's
    zero-value map access in columns.go)."""
    return F.coalesce(ctx.tag(cfg.key, cfg.from_member), F.lit(""))


@register("bool")
def _bool(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:67-72: '', '0', 'false', 'no' -> false, anything else true
    return ~_val(cfg, ctx).isin(*FALSY)


@register("boolint")
def _boolint(cfg: ColumnCfg, ctx: RowContext) -> Column:
    return (~_val(cfg, ctx).isin(*FALSY)).cast("tinyint")


@register("string")
def _string(cfg: ColumnCfg, ctx: RowContext) -> Column:
    return _val(cfg, ctx)


@register("integer")
def _integer(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:85-91: ParseInt(..., 32) — NULL on parse failure OR >int32.
    # try_cast(INT) matches: overflow and garbage both yield NULL.
    return _val(cfg, ctx).try_cast("int")


@register("id")
def _id(cfg: ColumnCfg, ctx: RowContext) -> Column:
    return ctx.osm_id


@register("mapping_key")
def _mapping_key(cfg: ColumnCfg, ctx: RowContext) -> Column:
    return ctx.match_key


@register("mapping_value")
def _mapping_value(cfg: ColumnCfg, ctx: RowContext) -> Column:
    return ctx.match_value


@register("direction")
def _direction(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:121-129
    v = _val(cfg, ctx)
    return (
        F.when(v.isin("1", "yes", "true"), F.lit(1))
        .when(v == "-1", F.lit(-1))
        .otherwise(F.lit(0))
        .cast("tinyint")
    )


@register("geometry")
def _geometry(cfg: ColumnCfg, ctx: RowContext) -> Column:
    if ctx.geom_wkb is None:
        raise ValueError("geometry column requested but pipeline attached no geometry")
    return ctx.geom_wkb


@register("validated_geometry")
def _validated_geometry(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # same as geometry at import; extra validation applies in generalized
    # tables (database/postgis/columns.go:52-64)
    return _geometry(cfg, ctx)


@register("area")
@register("pseudoarea")  # deprecated alias, columns.go:135-138
def _area(cfg: ColumnCfg, ctx: RowContext) -> Column:
    if ctx.geom_area is None:
        raise ValueError("area column requested but pipeline attached no geometry")
    # columns.go:140-149: NULL when area == 0
    return F.nullif(ctx.geom_area, F.lit(0.0)).cast("float")


@register("webmerc_area")
def _webmerc_area(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:151-169: area * cos^2(lat of bbox mid-y)
    if ctx.geom_area is None or ctx.geom_bbox is None:
        raise ValueError("webmerc_area column requested but pipeline attached no geometry")
    mid_y = ctx.geom_bbox["miny"] + (ctx.geom_bbox["maxy"] - ctx.geom_bbox["miny"]) / 2.0
    mid_lat = F.atan(F.exp(mid_y * F.lit(math.pi / POLE))) * 2.0 - F.lit(math.pi / 2.0)
    corrected = ctx.geom_area * F.pow(F.cos(mid_lat), F.lit(2.0))
    return F.when(ctx.geom_area == 0.0, F.lit(None)).otherwise(corrected).cast("float")


@register("hstore_tags")
def _hstore_tags(cfg: ColumnCfg, ctx: RowContext) -> Column:
    """tags -> hstore literal string (columns.go:171-196).

    Escaping: backslash and double-quote are backslash-escaped. `include`
    arg restricts keys. Rendered with map_entries + transform + array_join —
    all JVM expressions.

    NOTE: Go map iteration order is random; the reference joins in map order,
    so the exact string is not deterministic there either. We sort by key for
    a deterministic (and diff-friendly) output.
    """
    src = ctx.member_tags if (cfg.from_member and ctx.member_tags is not None) else ctx.tags
    include = cfg.args.get("include")
    if include:
        inc = [str(k) for k in include]
        src = F.map_filter(src, lambda k, v: k.isin(*inc))

    def esc(c: Column) -> Column:
        return F.regexp_replace(F.regexp_replace(c, r"\\", r"\\\\"), '"', '\\\\"')

    entries = F.array_sort(F.map_entries(src))
    rendered = F.transform(
        entries,
        lambda e: F.concat(F.lit('"'), esc(e["key"]), F.lit('"=>"'), esc(e["value"]), F.lit('"')),
    )
    return F.array_join(rendered, ", ")


# default highway ranks — columns.go:245-262
DEFAULT_WAYZORDER_RANKS: dict[str, int] = {
    "minor": 3,
    "road": 3,
    "unclassified": 3,
    "residential": 3,
    "tertiary_link": 3,
    "tertiary": 4,
    "secondary_link": 3,
    "secondary": 5,
    "primary_link": 3,
    "primary": 6,
    "trunk_link": 3,
    "trunk": 8,
    "motorway_link": 3,
    "motorway": 9,
}


def _rank_lookup(value: Column, ranks: dict[str, int], default: int) -> Column:
    """CASE WHEN lookup of a small literal dict — broadcast-free, codegen'd."""
    expr: Column | None = None
    for k, r in ranks.items():
        clause = F.when(value == k, F.lit(r))
        expr = clause if expr is None else expr.when(value == k, F.lit(r))
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default))


def _truthy_tag(tags: Column, key: str) -> Column:
    return tags[key].isin("true", "yes", "1")


@register("wayzorder")
def _wayzorder(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:198-291. Two variants: default ranks (offset 10, railway=7
    # fallback) and custom ranks (offset = len(ranks), `default` arg).
    layer = F.coalesce(ctx.tags["layer"].try_cast("bigint"), F.lit(0))
    if "ranks" not in cfg.args:
        rank = _rank_lookup(ctx.match_value, DEFAULT_WAYZORDER_RANKS, 0)
        # rank==0 and railway tag present -> 7 (columns.go:269-275)
        rank = F.when(
            (rank == 0) & ctx.tags.getItem("railway").isNotNull(), F.lit(7)
        ).otherwise(rank)
        offset = F.lit(10)
    else:
        ranks = {str(r): i + 1 for i, r in enumerate(cfg.args["ranks"])}
        level_offset = len(ranks)
        default = int(cfg.args.get("default", 0))
        rank = _rank_lookup(ctx.match_value, ranks, default)
        offset = F.lit(level_offset)
    z = layer * offset + rank
    z = F.when(_truthy_tag(ctx.tags, "tunnel"), z - offset).otherwise(z)
    z = F.when(_truthy_tag(ctx.tags, "bridge"), z + offset).otherwise(z)
    # NULL on int32 overflow (columns.go:235-238)
    return z.try_cast("int")


@register("zorder")
def _zorder(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # deprecated; columns.go:293-338 — rank = reverse index in ranks list
    rank_list = [str(r) for r in cfg.args.get("ranks", [])]
    if not rank_list:
        raise ValueError("missing ranks in args for zorder")
    ranks = {name: len(rank_list) - i for i, name in enumerate(rank_list)}
    key = cfg.args.get("key")
    value = ctx.tags[str(key)] if key else ctx.match_value
    return _rank_lookup(F.coalesce(value, F.lit("")), ranks, 0).cast("int")


@register("enumerate")
def _enumerate(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:340-359: 1-based index in `values`, else 0. Uses the tag
    # value when the column has a key, else the matched mapping value.
    values = [str(v) for v in cfg.args.get("values", [])]
    if not values:
        raise ValueError("missing values in args for enumerate")
    target = _val(cfg, ctx) if cfg.key else ctx.match_value
    return F.coalesce(
        F.array_position(F.lit(values), target).cast("int"), F.lit(0)
    ).cast("int")


@register("string_suffixreplace")
def _string_suffixreplace(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns.go:384-422: regex `(s1|s2|...)\b` with per-suffix replacement.
    # Java regexp_replace can't do per-match map lookup, so chain one
    # regexp_replace per suffix — each anchored at a word boundary.
    suffixes = cfg.args.get("suffixes")
    if not suffixes:
        raise ValueError("missing suffixes in args for string_suffixreplace")
    col = _val(cfg, ctx)
    import re as _re

    for suf, repl in suffixes.items():
        col = F.regexp_replace(col, f"({_re.escape(str(suf))})\\b", str(repl))
    return col


@register("categorize_int")
def _categorize_int(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # mapping/columns_categorize.go:12-67: walk `keys` in order, first key
    # whose tag value appears in `values` wins; else `default`.
    values: dict[str, int] = {
        str(k): int(v) for k, v in (cfg.args.get("values") or {}).items()
    }
    default = int(cfg.args.get("default", 0))
    keys = cfg.keys or ([cfg.key] if cfg.key else [])
    result: Column = F.lit(None).cast("int")
    expr = None
    for key in keys:
        v = ctx.tag(key, cfg.from_member)
        looked = _rank_lookup_nullable(v, values)
        expr = looked if expr is None else F.coalesce(expr, looked)
    result = expr if expr is not None else result
    return F.coalesce(result, F.lit(default)).cast("int")


def _rank_lookup_nullable(value: Column, mapping: dict[str, int]) -> Column:
    expr: Column | None = None
    for k, r in mapping.items():
        clause = F.when(value == k, F.lit(r))
        expr = clause if expr is None else expr.when(value == k, F.lit(r))
    return expr if expr is not None else F.lit(None).cast("int")


# ---- relation_member columns (columns.go:105-119) ----


def _member_col(attr: str) -> Builder:
    def builder(cfg: ColumnCfg, ctx: RowContext) -> Column:
        col = getattr(ctx, attr)
        if col is None:
            raise ValueError(f"{cfg.type} only valid in relation_member tables")
        return col

    return builder


_REGISTRY["member_id"] = _member_col("member_id")
_REGISTRY["member_role"] = _member_col("member_role")
_REGISTRY["member_type"] = _member_col("member_type")
_REGISTRY["member_index"] = _member_col("member_index")


# ---- spatial join column types (J5) — mapping/columns_intersection.go ----
# Features load once per column (driver) and broadcast into a pandas UDF
# over the built geometry's WKB — the Spark analog of the reference's
# prepared-geometry STRtree per worker. SRID is fixed at 3857 like the
# reference (columns_intersection.go:57 "TODO make SRID configurable").


def _load_intersection_features(cfg: ColumnCfg):
    from imposm3_spark.sources.geojson import load_geojson

    path = cfg.args.get("geojson")
    if not path:
        raise ValueError("missing geojson in args for geojson_feature_intersections")
    return load_geojson(path, transform=3857)


def _geom_points(parsed: dict) -> list[tuple[float, float]]:
    t = parsed["type"]
    if t == "Point":
        return [parsed["coords"]]
    if t == "LineString":
        return parsed["coords"]
    if t == "Polygon":
        return parsed["coords"][0]
    if t == "MultiPolygon":
        return [pt for poly in parsed["coords"] for pt in poly[0]]
    if t == "MultiLineString":
        return [pt for line in parsed["coords"] for pt in line]
    return []


def _make_intersects_udf(features, prop: str | None):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType, StringType

    from imposm3_spark.geom import wkb as wkblib

    def first_hit(buf):
        if buf is None:
            return None
        parsed = wkblib.parse_wkb(bytes(buf))
        for f in features:
            if any(f.contains_point(x, y) for x, y in _geom_points(parsed)):
                return f
        return None

    if prop is None:

        @pandas_udf(BooleanType())
        def intersects(wkb_col: pd.Series) -> pd.Series:
            return pd.Series([first_hit(b) is not None for b in wkb_col])

        return intersects

    @pandas_udf(StringType())
    def intersects_feature(wkb_col: pd.Series) -> pd.Series:
        out = []
        for b in wkb_col:
            hit = first_hit(b)
            out.append("" if hit is None else str(hit.properties.get(prop, "")))
        return pd.Series(out)

    return intersects_feature


@register("geojson_intersects")
def _geojson_intersects(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns_intersection.go:107-131: true when the geometry intersects
    # any feature of the external GeoJSON
    if ctx.geom_wkb is None:
        raise ValueError("geojson_intersects needs geometry")
    features = _load_intersection_features(cfg)
    return _make_intersects_udf(features, None)(ctx.geom_wkb)


@register("geojson_intersects_feature")
def _geojson_intersects_feature(cfg: ColumnCfg, ctx: RowContext) -> Column:
    # columns_intersection.go:70-105: `property` of the first intersecting
    # feature ('' when none)
    if ctx.geom_wkb is None:
        raise ValueError("geojson_intersects_feature needs geometry")
    prop = str(cfg.args.get("property", ""))
    features = _load_intersection_features(cfg)
    return _make_intersects_udf(features, prop)(ctx.geom_wkb)

