"""Spherical-mercator projection as native Spark column expressions.

Parity target: /root/reference/proj/proj.go:9-21 (WgsToMerc / MercToWgs,
pole = 6378137 * pi). The reference supports only EPSG:4326 and EPSG:3857
(writer/writer.go:64-75); so do we. No PROJ dependency: the transform is a
closed-form expression, which keeps it inside whole-stage codegen (JVM-side,
no Python round-trip) — at 100 TB this runs on every coordinate, so it must
not be a UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

POLE = 6378137.0 * math.pi  # 20037508.342789244


def wgs_to_merc_x(lon: Column) -> Column:
    return lon * F.lit(POLE / 180.0)


def wgs_to_merc_y(lat: Column) -> Column:
    # log(tan((90+lat) * pi/360)) / pi * pole
    return F.log(F.tan((lat + F.lit(90.0)) * F.lit(math.pi / 360.0))) * F.lit(POLE / math.pi)


def merc_to_wgs_lon(x: Column) -> Column:
    return x * F.lit(180.0 / POLE)


def merc_to_wgs_lat(y: Column) -> Column:
    # 180/pi * (2*atan(exp(y/pole*pi)) - pi/2)
    return (F.atan(F.exp(y * F.lit(math.pi / POLE))) * F.lit(2.0) - F.lit(math.pi / 2.0)) * F.lit(
        180.0 / math.pi
    )


COORD_FACTOR = 11930464.7083  # ((2<<31)-1)/360.0 — cache/binary/serialize.go:5


def quantize_coord(c: Column) -> Column:
    """Reference cache round-trip: every node coordinate is stored as
    uint32((c+180)*factor) and read back as q/factor-180
    (cache/binary/serialize.go:7-13). Go's float->uint32 conversion
    truncates; (c+180) is non-negative, so floor == trunc. Applied to all
    coords for geometry byte-parity with the reference."""
    q = F.floor((c + F.lit(180.0)) * F.lit(COORD_FACTOR))
    return q / F.lit(COORD_FACTOR) - F.lit(180.0)


def py_quantize_coord(c: float) -> float:
    q = int((c + 180.0) * COORD_FACTOR)
    return q / COORD_FACTOR - 180.0


# Python-side scalar versions (for tests / driver-side use)
def py_wgs_to_merc(lon: float, lat: float) -> tuple[float, float]:
    x = lon * POLE / 180.0
    y = math.log(math.tan((lat + 90.0) * math.pi / 360.0)) / math.pi * POLE
    return x, y


def py_merc_to_wgs(x: float, y: float) -> tuple[float, float]:
    lon = x / POLE * 180.0
    lat = 180.0 / math.pi * (2 * math.atan(math.exp(y / POLE * math.pi)) - math.pi / 2.0)
    return lon, lat
