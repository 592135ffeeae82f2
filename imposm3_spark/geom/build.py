"""Geometry construction as Spark expressions over ARRAY<STRUCT<x,y>>.

Parity target: /root/reference/geom/geom.go:38-137 (Point/LineString/Polygon
build rules: consecutive-dup removal at eps 1e-9, <2 nodes -> invalid line,
<4 nodes after dedup -> invalid ring).

Everything here is a native column expression (higher-order array functions
are JVM-evaluated): dedup, length, shoelace area, bbox. Only the final WKB
byte encoding is a pandas UDF, applied once per output row at projection
time — the measure/filter hot path never leaves the JVM.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType

from imposm3_spark.geom import wkb as wkblib

NODE_EQ_EPS = 1e-9

COORD_STRUCT = "struct<x:double,y:double>"


def coord(x: Column, y: Column) -> Column:
    return F.struct(x.alias("x"), y.alias("y"))


def dedup_coords(arr: Column) -> Column:
    """Remove consecutive near-duplicate coords (geom.go:55-79). Each element
    is compared to its ORIGINAL predecessor, exactly like the reference."""

    def keep(_x: Column, i: Column) -> Column:
        prev = F.element_at(arr, i)  # 1-based: element i == index i-1 (the predecessor)
        cur = F.element_at(arr, i + 1)
        near = (F.abs(cur["x"] - prev["x"]) < NODE_EQ_EPS) & (
            F.abs(cur["y"] - prev["y"]) < NODE_EQ_EPS
        )
        return (i == 0) | ~near

    return F.filter(arr, keep)


def line_length(arr: Column) -> Column:
    """Planar length: sum of hypot over consecutive pairs."""
    n = F.size(arr)
    seg = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, 2, n - 1),
        lambda a, b: F.sqrt(F.pow(b["x"] - a["x"], F.lit(2.0)) + F.pow(b["y"] - a["y"], F.lit(2.0))),
    )
    return F.when(n >= 2, F.aggregate(seg, F.lit(0.0), lambda acc, v: acc + v)).otherwise(F.lit(0.0))


def ring_signed_area2(arr: Column) -> Column:
    """Twice the signed shoelace area of a (closed) ring."""
    n = F.size(arr)
    terms = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, 2, n - 1),
        lambda a, b: a["x"] * b["y"] - b["x"] * a["y"],
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def ring_area(arr: Column) -> Column:
    return F.abs(ring_signed_area2(arr)) / F.lit(2.0)


def bbox(arr: Column) -> Column:
    """STRUCT<minx,miny,maxx,maxy> of a coord array."""
    return F.struct(
        F.array_min(F.transform(arr, lambda c: c["x"])).alias("minx"),
        F.array_min(F.transform(arr, lambda c: c["y"])).alias("miny"),
        F.array_max(F.transform(arr, lambda c: c["x"])).alias("maxx"),
        F.array_max(F.transform(arr, lambda c: c["y"])).alias("maxy"),
    )


def is_closed_refs(refs: Column) -> Column:
    """Way closed-ness — element.go:49-51: >=4 refs and first == last.
    Evaluated on the raw ref ids, before coordinate resolution."""
    return (F.size(refs) >= 4) & (F.try_element_at(refs, F.lit(1)) == F.try_element_at(refs, F.lit(-1)))


def way_dispatch(refs: Column, tags: Column) -> tuple[Column, Column, Column]:
    """(closed, as_line, as_poly) of a way (mapping/matcher.go:137-155):
    line tables take open ways always and closed ways unless area=yes;
    polygon tables take closed ways unless area=no."""
    closed = is_closed_refs(refs)
    area_tag = F.coalesce(tags.getItem("area"), F.lit(""))
    return closed, ~(closed & (area_tag == "yes")), closed & (area_tag != "no")


def valid_linestring(arr: Column) -> Column:
    """>=2 distinct-consecutive nodes (geom.go:81-85)."""
    return F.size(arr) >= 2


def valid_ring(arr: Column) -> Column:
    """>=4 nodes after dedup (geom.go:104-108)."""
    return F.size(arr) >= 4


# ---------------------------------------------------------------------------
# WKB encoding pandas UDFs (sink boundary only)
# ---------------------------------------------------------------------------


def _batch_srid(srid: pd.Series) -> int:
    """srid is a plan literal at every call site (engine passes F.lit);
    enforce that rather than silently applying row 0's value batch-wide."""
    s = int(srid.iloc[0])
    if not (srid.to_numpy() == s).all():
        raise ValueError("per-row srid values in one batch are unsupported")
    return s


@pandas_udf(BinaryType())
def point_wkb_udf(x: pd.Series, y: pd.Series, srid: pd.Series) -> pd.Series:
    """Point EWKB. CONTRACT: srid must be a plan literal (F.lit) — all
    rows of a batch must agree; mixed per-row srid values raise (see
    _batch_srid). Per-row srid callers should use the scalar
    wkb.point_wkb writer instead."""
    if len(x) == 0:
        return pd.Series([], dtype=object)
    # NULL ordinates arrive as NaN in the Arrow float64 batch and encode
    # their IEEE bits, matching the per-row scalar writer
    return pd.Series(
        wkblib.points_wkb_batch(
            x.to_numpy(dtype="float64", na_value=float("nan")),
            y.to_numpy(dtype="float64", na_value=float("nan")),
            _batch_srid(srid),
        ),
        dtype=object,
    )


@pandas_udf(BinaryType())
def linestring_wkb_udf(coords: pd.Series, srid: pd.Series) -> pd.Series:
    out = []
    for arr, s in zip(coords, srid):
        if arr is None or len(arr) < 2:
            out.append(None)
        else:
            out.append(wkblib.linestring_wkb([(c["x"], c["y"]) for c in arr], int(s)))
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def _linestring_wkb_xy_udf(xs: pd.Series, ys: pd.Series, srid: pd.Series) -> pd.Series:
    if len(xs) == 0:
        return pd.Series([], dtype=object)
    # NaN (null struct / null ordinate) raises inside coords_bytes — the
    # struct-input path crashed loudly on null coordinates, so must this
    return pd.Series(
        wkblib.linestrings_wkb_batch(xs.tolist(), ys.tolist(), _batch_srid(srid)),
        dtype=object,
    )


def linestring_wkb_xy_expr(xs: Column, ys: Column, srid: Column) -> Column:
    """LineString EWKB from already-split xs/ys float64 arrays (e.g. the
    engine's clipped-line parts, which come out of the clip UDF as plain
    arrays) — skips the struct split entirely."""
    return _linestring_wkb_xy_udf(xs, ys, srid)


def linestring_wkb_expr(coords: Column, srid: Column) -> Column:
    """LineString EWKB from ARRAY<STRUCT<x,y>> — same bytes as
    linestring_wkb_udf, but the struct→(xs, ys) split happens JVM-side
    (two `transform` projections) so the Python worker receives plain
    float64 Arrow arrays instead of per-point dicts (~9× less Python
    encode time per batch, measured at 20k mixed-length rows)."""
    xs = F.transform(coords, lambda c: c["x"])
    ys = F.transform(coords, lambda c: c["y"])
    return _linestring_wkb_xy_udf(xs, ys, srid)


_WKB_AREA_STRUCT = StructType(
    [StructField("wkb", BinaryType()), StructField("area", DoubleType())]
)


def _repair_rows(ring_iter, srid: int):
    """Shared body: iterate (ring | None) tuples -> (wkbs, areas) lists."""
    from imposm3_spark.geom import py_geom

    wkbs, areas = [], []
    for ring in ring_iter:
        if ring is None:
            wkbs.append(None)
            areas.append(None)
            continue
        polygons, area = py_geom.repair_polygon(ring)
        if not polygons:
            wkbs.append(None)
            areas.append(None)
            continue
        if len(polygons) == 1:
            wkbs.append(wkblib.polygon_wkb(polygons[0], srid))
        else:
            wkbs.append(wkblib.multipolygon_wkb(polygons, srid))
        areas.append(area)
    return wkbs, areas


@pandas_udf(_WKB_AREA_STRUCT)
def polygon_valid_wkb_area_udf(coords: pd.Series, srid: pd.Series) -> pd.DataFrame:
    """Way-polygon build + MakeValid + area in one pass (writer/ways.go:
    146-150): self-intersecting rings are split into simple sub-rings,
    classified shell/hole, and the area is computed on the repaired
    geometry (a bowtie's halves ADD instead of cancel).

    CONTRACT: srid must be a plan literal (F.lit) — mixed per-row srid
    values in one batch raise (see _batch_srid)."""
    rings = (
        None if arr is None or len(arr) < 4 else [(c["x"], c["y"]) for c in arr]
        for arr in coords
    )
    s = _batch_srid(srid) if len(srid) else 0
    wkbs, areas = _repair_rows(rings, s)
    return pd.DataFrame({"wkb": wkbs, "area": areas})


@pandas_udf(_WKB_AREA_STRUCT)
def _polygon_valid_wkb_area_xy_udf(
    xs: pd.Series, ys: pd.Series, srid: pd.Series
) -> pd.DataFrame:
    import numpy as np

    def ring(x_arr, y_arr):
        if x_arr is None or len(x_arr) < 4:
            return None
        # a null struct / null ordinate becomes NaN in the split arrays;
        # the struct-input path crashed loudly on those — keep that
        if np.isnan(x_arr).any() or np.isnan(y_arr).any():
            raise ValueError("NaN/null coordinate in polygon ring")
        return list(zip(x_arr.tolist(), y_arr.tolist()))

    rings = (ring(x_arr, y_arr) for x_arr, y_arr in zip(xs, ys))
    s = _batch_srid(srid) if len(srid) else 0
    wkbs, areas = _repair_rows(rings, s)
    return pd.DataFrame({"wkb": wkbs, "area": areas})


def polygon_valid_wkb_area_expr(coords: Column, srid: Column) -> Column:
    """Same result struct as polygon_valid_wkb_area_udf, with the
    struct->(xs, ys) split done JVM-side so Arrow ships two plain float64
    arrays per row instead of materializing a Python dict per coordinate
    (the way-polygon tables are the import sink's densest UDF input)."""
    xs = F.transform(coords, lambda c: c["x"])
    ys = F.transform(coords, lambda c: c["y"])
    return _polygon_valid_wkb_area_xy_udf(xs, ys, srid)
