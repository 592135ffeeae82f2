"""Element id mangling — parity with /root/reference/element/element.go:36-48
and writer/ways.go:60-65, writer/relations.go:65-70.

OSM node/way/relation id spaces overlap. Output tables disambiguate:
- normal mode: ways inserted into polygon tables keep positive ids from the
  way table; relation rows are negated (-id).
- single_id_space mode (`use_single_id_space: true`): nodes positive, ways
  negated, relations negated and offset by RelIDOffset = -1e17.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

REL_ID_OFFSET = -100_000_000_000_000_000  # -1e17, element/element.go:48

NODE = "node"
WAY = "way"
RELATION = "relation"


def node_osm_id(id_col: Column) -> Column:
    return id_col


def way_osm_id(id_col: Column, single_id_space: bool) -> Column:
    # writer/ways.go:60-65: -w.Id in single id space, else w.Id
    return -id_col if single_id_space else id_col


def relation_osm_id(id_col: Column, single_id_space: bool) -> Column:
    # writer/relations.go:65-70: RelIDOffset - id in single id space, else -id
    if single_id_space:
        return F.lit(REL_ID_OFFSET) - id_col
    return -id_col
