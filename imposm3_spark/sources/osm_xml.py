"""OSM XML source: .osm files -> nodes/ways/relations DataFrames.

The reference consumes PBF (vendor/go-osm/parser/pbf); its test fixtures are
hand-written .osm XML converted to PBF via osmosis (test/Makefile:17-19). We
parse the XML directly — same logical records (element.go:32-87).

Driver-side parse is fine for fixtures (KBs). For planet-scale input the
engine expects pre-converted Parquet or the PBF reader (sources/pbf.py);
this module also works distributed via mapInPandas over whole-file rows if
ever needed — fixtures don't need it.
"""

from __future__ import annotations

import calendar
import gzip
import time
import xml.etree.ElementTree as ET
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Optional per-element metadata (element.go:19,23-29 `Metadata`): carried as
# one nullable struct column so sources that have it (PBF Info/DenseInfo,
# XML attrs) populate it and fixture data can simply leave it NULL.
# `timestamp` is epoch seconds (the PBF wire unit after date_granularity).
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.IntegerType(), True),
        T.StructField("user_name", T.StringType(), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("changeset", T.LongType(), True),
    ]
)

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("metadata", METADATA_SCHEMA, True),
    ]
)

WAY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("refs", T.ArrayType(T.LongType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("metadata", METADATA_SCHEMA, True),
    ]
)

MEMBER_TYPE = {"node": 0, "way": 1, "relation": 2}  # element.go:53-59

RELATION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.LongType(), False),
                        T.StructField("type", T.ByteType(), False),
                        T.StructField("role", T.StringType(), True),
                    ]
                )
            ),
            False,
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("metadata", METADATA_SCHEMA, True),
    ]
)

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.LongType(), False),  # order within the file
        T.StructField("op", T.StringType(), False),  # create|modify|delete
        T.StructField("kind", T.StringType(), False),  # node|way|relation
        T.StructField("node", NODE_SCHEMA, True),
        T.StructField("way", WAY_SCHEMA, True),
        T.StructField("relation", RELATION_SCHEMA, True),
    ]
)


def _tags(elem: ET.Element) -> dict[str, str]:
    return {t.attrib["k"]: t.attrib["v"] for t in elem.findall("tag")}


def _parse_metadata(e: ET.Element) -> tuple | None:
    """Element metadata from XML attrs (element.go:23-29 field set);
    None when the fixture carries no metadata at all."""
    a = e.attrib
    if not a.keys() & {"uid", "user", "version", "timestamp", "changeset"}:
        return None
    ts = None
    if "timestamp" in a:
        try:
            ts = calendar.timegm(time.strptime(a["timestamp"], "%Y-%m-%dT%H:%M:%SZ"))
        except ValueError:
            ts = None  # dirty input (reference fixtures contain :99Z seconds)
    return (
        int(a["uid"]) if "uid" in a else None,
        a.get("user"),
        int(a["version"]) if "version" in a else None,
        ts,
        int(a["changeset"]) if "changeset" in a else None,
    )


def _parse_node(e: ET.Element) -> tuple:
    return (
        int(e.attrib["id"]),
        float(e.attrib.get("lon", "nan")) if "lon" in e.attrib else None,
        float(e.attrib.get("lat", "nan")) if "lat" in e.attrib else None,
        _tags(e),
        _parse_metadata(e),
    )


def _parse_way(e: ET.Element) -> tuple:
    return (
        int(e.attrib["id"]),
        [int(nd.attrib["ref"]) for nd in e.findall("nd")],
        _tags(e),
        _parse_metadata(e),
    )


def _parse_relation(e: ET.Element) -> tuple:
    return (
        int(e.attrib["id"]),
        [
            (int(m.attrib["ref"]), MEMBER_TYPE[m.attrib["type"]], m.attrib.get("role", ""))
            for m in e.findall("member")
        ],
        _tags(e),
        _parse_metadata(e),
    )


def _read_xml(path: str | Path) -> ET.Element:
    path = Path(path)
    if path.suffix == ".gz":
        with gzip.open(path, "rb") as fh:
            return ET.fromstring(fh.read())
    return ET.fromstring(path.read_text())


def read_osm_xml(
    spark: SparkSession, path: str | Path
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .osm XML file into (nodes, ways, relations) DataFrames."""
    root = _read_xml(path)
    nodes = [_parse_node(e) for e in root.findall("node")]
    ways = [_parse_way(e) for e in root.findall("way")]
    rels = [_parse_relation(e) for e in root.findall("relation")]
    return (
        spark.createDataFrame(nodes, NODE_SCHEMA),
        spark.createDataFrame(ways, WAY_SCHEMA),
        spark.createDataFrame(rels, RELATION_SCHEMA),
    )


def parse_osc_rows(root: ET.Element, pos_offset: int = 0) -> list[tuple]:
    """OsmChange XML root -> CHANGE_SCHEMA tuples (order preserved)."""
    rows: list[tuple] = []
    for block in root:
        op = block.tag  # create | modify | delete
        if op not in ("create", "modify", "delete"):
            continue
        for e in block:
            pos = pos_offset + len(rows)
            if e.tag == "node":
                rows.append((pos, op, "node", _parse_node(e), None, None))
            elif e.tag == "way":
                rows.append((pos, op, "way", None, _parse_way(e), None))
            elif e.tag == "relation":
                rows.append((pos, op, "relation", None, None, _parse_relation(e)))
    return rows


def read_osc_rows(path: str | Path) -> list[tuple]:
    """Parse an OsmChange (.osc / .osc.gz) file into CHANGE_SCHEMA tuples."""
    return parse_osc_rows(_read_xml(path))


def read_osc_xml(spark: SparkSession, path: str | Path) -> DataFrame:
    """Parse an OsmChange (.osc / .osc.gz) file into a CDC DataFrame.

    Parity: vendor/go-osm/parser/diff + update/process.go:33-46. Each row is
    one change: op (create|modify|delete), kind, and the element payload.
    """
    return spark.createDataFrame(read_osc_rows(path), CHANGE_SCHEMA)
